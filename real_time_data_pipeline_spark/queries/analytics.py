"""Analytic surface widening: exact percentiles, pivot/unpivot, binned
histograms — relational shapes the reference's users would reach for next
(SURVEY.md §2.10), each with a DuckDB oracle.

Determinism notes:
- Spark ``percentile`` and DuckDB ``quantile_cont`` both use linear
  interpolation over the sorted values; verified bit-identical on the
  events data (doubles, exact IEEE match) — no cents-rounding needed.
- Pivot uses an EXPLICIT category list (the Spark pivot then does one
  aggregate pass with no category-discovery job, and the output column
  set is stable for the oracle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_pipeline_spark.functions.stable import sum_money_sql
from real_time_data_pipeline_spark.operators.arrowvec import local_frame
from real_time_data_pipeline_spark.queries.reference_parity import EVENT_TYPES
from real_time_data_pipeline_spark.schemas import load_table


def q_percentiles(spark, sf_dir):
    """Exact value percentiles per event type (monitoring-dashboard shape:
    p25/p50/p90/p99), one scalar column per quantile — the oracle compare
    canonicalizes via pandas, which cannot hash list cells, so no
    oracle-checked query may expose a top-level array column.  Spark still
    computes all four quantiles in ONE aggregate buffer (the array-arg
    form) and the final select unpacks it.  Exact percentile needs the
    group's values collected per partition-of-key — fine for bounded
    group counts; at unbounded cardinality switch to approx_percentile
    (t-digest)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile(value, array(0.25, 0.5, 0.9, 0.99))"
            ).alias("_q"),
        )
        .select(
            "event_type",
            F.col("_q")[0].alias("p25"),
            F.col("_q")[1].alias("p50"),
            F.col("_q")[2].alias("p90"),
            F.col("_q")[3].alias("p99"),
        )
    )


def q_approx_percentiles(spark, sf_dir):
    """Scale path for :func:`q_percentiles`: approx_percentile with
    accuracy 10000 — mergeable sketches, bounded memory per group at
    unbounded cardinality.  Rows-only (DuckDB's approx_quantile is a
    different sketch); the unit test pins each approximate value inside
    the exact neighboring-rank envelope.  Flattened to scalar columns
    like the exact twin (one sketch per group, unpacked at the end)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr(
                "approx_percentile(value, array(0.25, 0.5, 0.9, 0.99), 10000)"
            ).alias("_q"),
        )
        .select(
            "event_type",
            F.col("_q")[0].alias("p25_approx"),
            F.col("_q")[1].alias("p50_approx"),
            F.col("_q")[2].alias("p90_approx"),
            F.col("_q")[3].alias("p99_approx"),
        )
    )


def _env_rank_sql(div: str) -> dict[int, tuple[str, str]]:
    """The (lo, hi) 1-based envelope ranks around each target quantile
    rank, as SQL shared verbatim by Spark (div='div') and DuckDB
    (div='//') so the integer math cannot drift between engines:
    target = floor(q*(n-1)) + 1, slack = max(2, 2n/10000) — double
    Spark's documented accuracy-10000 rank-error bound of n/accuracy.
    """
    out = {}
    for q in (25, 50, 90, 99):
        rq = f"((({q} * (n - 1)) {div} 100) + 1)"
        slack = f"greatest(2, (2 * n) {div} 10000)"
        out[q] = (
            f"greatest(1, {rq} - {slack})",
            f"least(n, {rq} + {slack})",
        )
    return out


def q_approx_percentiles_envelope(spark, sf_dir):
    """Rank-envelope certification of approx_percentile — the
    rows-only → oracle promotion of `approx_percentiles` (VERDICT r7
    #5): per event type, the EXACT order statistics at the envelope
    ranks around each target quantile (value at rank ± slack,
    slack = max(2, 2n/10000)) are computed on BOTH engines and
    hash-compared, and the sketch answer's membership in its envelope
    is emitted as ``p{q}_ok`` booleans the oracle pins to TRUE.  A
    sketch regression (bad merge, rank drift beyond the accuracy
    contract) flips a flag and fails the hash; a rank-math regression
    diverges the lo/hi values themselves.  The sketch values stay
    rows-only by nature (DuckDB's approx_quantile is a different
    sketch) — this entry converts their CORRECTNESS CONTRACT into an
    oracle row.

    Ranks via the gap_sla_quantiles two-phase distributed shape
    (range-repartition, per-partition row_number, broadcast offset
    fold) — no single-partition window at any scale; the approx frame
    is group-domain-sized and broadcasts."""
    from pyspark.sql import Window

    from real_time_data_pipeline_spark.operators import cache

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    parted = cache.track(
        ev.repartitionByRange(32, "event_type", "value", "event_id")
        .withColumn("pid", F.spark_partition_id())
    )
    local = parted.withColumn(
        "j",
        F.row_number().over(
            Window.partitionBy("pid", "event_type").orderBy(
                "value", "event_id"
            )
        ),
    )
    cnts = parted.groupBy("pid", "event_type").agg(
        F.count("*").alias("cnt")
    )
    lower = cnts.select(
        F.col("pid").alias("lo_pid"),
        F.col("event_type").alias("lo_type"),
        F.col("cnt").alias("lo_cnt"),
    )
    offsets = (
        cnts.join(
            F.broadcast(lower),
            (F.col("lo_type") == F.col("event_type"))
            & (F.col("lo_pid") < F.col("pid")),
            "left",
        )
        .groupBy("pid", "event_type")
        .agg(F.coalesce(F.sum("lo_cnt"), F.lit(0)).alias("offset"))
    )
    totals = cnts.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    ranked = (
        local.join(F.broadcast(offsets), ["pid", "event_type"])
        .withColumn("r", F.col("offset") + F.col("j"))
        .join(F.broadcast(totals), "event_type")
    )
    exprs = _env_rank_sql("div")
    any_rank = None
    for lo, hi in exprs.values():
        for e in (lo, hi):
            cond = F.expr(f"r = {e}")
            any_rank = cond if any_rank is None else (any_rank | cond)
    picked = ranked.filter(any_rank)
    aggs = []
    for q, (lo, hi) in exprs.items():
        aggs.append(
            F.max(F.when(F.expr(f"r = {lo}"), F.col("value"))).alias(
                f"p{q}_lo"
            )
        )
        aggs.append(
            F.max(F.when(F.expr(f"r = {hi}"), F.col("value"))).alias(
                f"p{q}_hi"
            )
        )
    env = picked.groupBy("event_type", "n").agg(*aggs)
    approx = q_approx_percentiles(spark, sf_dir)
    out_cols = [F.col("event_type"), F.col("n")]
    for q in exprs:
        out_cols += [
            F.col(f"p{q}_lo"),
            F.col(f"p{q}_hi"),
            (
                (F.col(f"p{q}_lo") <= F.col(f"p{q}_approx"))
                & (F.col(f"p{q}_approx") <= F.col(f"p{q}_hi"))
            ).alias(f"p{q}_ok"),
        ]
    return env.join(F.broadcast(approx), "event_type").select(*out_cols)


def q_pivot_daily_activity(spark, sf_dir):
    """Day × event-type activity matrix via pivot with an explicit
    category list (single aggregate pass, no category-discovery job,
    stable output columns).  The events testdata spans 30 days in one
    month, so day granularity gives a real matrix."""
    df = load_table(spark, sf_dir, "events")
    return (
        df.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )


def q_unpivot_lineitem_measures(spark, sf_dir):
    """Wide→long unpivot (melt) of lineitem's numeric measures, then a
    per-measure rollup — the normalization step feeding generic
    metric-store sinks."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.expr(sum_money_sql("val")).alias("total"),
    )


def q_value_histogram(spark, sf_dir):
    """Fixed-width value histogram over events (bin = floor(value/50)) —
    the binning shape behind every dashboard distribution plot.  One
    partial+final aggregate; bins are data-independent so the shuffle is
    bounded by bin count."""
    df = load_table(spark, sf_dir, "events")
    return (
        df.filter(F.col("value").isNotNull())
        .groupBy(
            F.floor(F.col("value") / F.lit(50.0)).cast("bigint").alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.expr(sum_money_sql("value")).alias("bin_total"),
        )
    )


def q_scd2_user_state(spark, sf_dir):
    """SCD Type-2 history build: each user's event stream becomes
    validity intervals [valid_from, valid_to) with an is_current flag —
    the standard slowly-changing-dimension shape warehouses maintain for
    point-in-time joins.  One window shuffle partitioned by the
    dimension key; `lead` closes each interval at the next change
    (event_id tiebreak makes ties deterministic)."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def q_rollup_order_stats(spark, sf_dir):
    """Grouping-sets rollup over orders: (status, priority), (status),
    and grand total in ONE aggregate pass (Spark expands the sets and
    partial-aggregates map-side — no per-level rescan).  NULL group
    labels are coalesced to 'ALL' (both columns are non-null in data, so
    the label is unambiguous)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(sum_money_sql("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


def q_timeseries_gapfill(spark, sf_dir):
    """Zero-filled daily resample per user (operators/aggregates.gapfill_daily):
    map-lookup fill, 2 shuffles, no calendar join."""
    from real_time_data_pipeline_spark.operators.aggregates import gapfill_daily

    return gapfill_daily(load_table(spark, sf_dir, "events"))


def q_user_activity_gaps(spark, sf_dir):
    """Per-user retention/gap profile (operators/aggregates.activity_gaps)."""
    from real_time_data_pipeline_spark.operators.aggregates import activity_gaps

    return activity_gaps(load_table(spark, sf_dir, "events"))


def q_skew_profile(spark, sf_dir):
    """Key-skew diagnostic: count-of-counts histogram over lineitem's
    join key — the profile you run BEFORE choosing salting / AQE skew
    thresholds on a 100 TB join.  Two aggregates; the second input is
    one row per distinct key and the output is bounded by the largest
    per-key multiplicity."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("rows_per_key")
    )
    return per_key.groupBy("rows_per_key").agg(
        F.count("*").cast("bigint").alias("n_keys")
    )


def q_order_window_ranks(spark, sf_dir):
    """Window-function completion: ntile/percent_rank/cume_dist beside
    rank — one window shuffle on (status), deterministic ordering by
    (o_totalprice DESC, o_orderkey) so ties cannot reorder across
    engines.  Doubles are ranks, not money, so percent_rank/cume_dist
    are exact IEEE ratios of integers — cross-engine stable."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).cast("bigint").alias("price_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
    )


def q_rolling_7d_value(spark, sf_dir):
    """7-day rolling event count/sum per user over the ZERO-FILLED daily
    series (gapfill_daily feeds it, so quiet days correctly drag the
    rolling window down instead of being skipped).  The rolling frame
    runs on an integer epoch-day ordering with rangeBetween(-6, 0) —
    integer frames are engine-portable where INTERVAL frames are not.
    Shares the gapfill's key partitioning: no extra shuffle beyond its
    two."""
    from pyspark.sql import Window

    from real_time_data_pipeline_spark.operators.aggregates import (
        gapfill_daily,
    )

    daily = gapfill_daily(load_table(spark, sf_dir, "events"))
    epoch_day = F.datediff(F.to_date("day"), F.lit("1970-01-01"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_day)
        .rangeBetween(-6, 0)
    )
    cents = F.expr("CAST(ROUND(total_value * 100) AS BIGINT)")
    return daily.select(
        "user_id",
        "day",
        "n_events",
        F.sum("n_events").over(w).cast("bigint").alias("n_events_7d"),
        (F.sum(cents).over(w) / F.expr("1e2")).alias("value_7d"),
    )


FUNNEL_STEPS = ["signup", "click", "purchase"]

PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def q_funnel_counts(spark, sf_dir):
    """Ordered signup→click→purchase funnel over events."""
    from real_time_data_pipeline_spark.operators.aggregates import funnel_counts

    return funnel_counts(load_table(spark, sf_dir, "events"), FUNNEL_STEPS)


FUNNEL_WINDOW_HOURS = 24


def q_funnel_windowed(spark, sf_dir):
    """Time-bound signup→click→purchase funnel: each step must land
    within 24h of the previous step (the "converted within a day"
    report) — same co-partitioned step-join plan, one extra
    predicate."""
    from real_time_data_pipeline_spark.operators.aggregates import funnel_counts

    return funnel_counts(
        load_table(spark, sf_dir, "events"),
        FUNNEL_STEPS,
        max_gap_hours=FUNNEL_WINDOW_HOURS,
    )


def q_value_trend(spark, sf_dir):
    """Per-user least-squares value trend in bp of cents/day
    (operators/aggregates.value_trend) — exact integer partials, one
    hash aggregate."""
    from real_time_data_pipeline_spark.operators.aggregates import value_trend

    return value_trend(load_table(spark, sf_dir, "events"))


def q_wow_change(spark, sf_dir):
    """Week-over-week volume change per event type: weekly counts with
    the previous week's count and the change in bp (NULL for the first
    week of a series).  Weeks are keyed by their Monday start date
    (``date_trunc('week', ts)``), NOT the bare ISO week number — a
    bare ``weekofyear`` merges same-numbered weeks from different
    years and mis-orders the lag across year boundaries (week 52/53 of
    one year vs week 1 of the next), so the year-qualified key is the
    only correct one on multi-year data (round-4 advisor finding).
    One (type, week) aggregate + a lag window over the weeks of each
    type — partitions bounded by the calendar, never by event volume."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type",
        F.date_trunc("week", "ts").cast("date").alias("week_start"),
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("n_events").over(w)
    return weekly.select(
        "event_type",
        "week_start",
        "n_events",
        prev.cast("bigint").alias("prev_week_events"),
        F.when(
            prev > 0,
            F.floor(F.lit(10_000) * (F.col("n_events") - prev) / prev),
        )
        .cast("bigint")
        .alias("change_bp"),
    )


def q_order_reconciliation(spark, sf_dir):
    """Cross-table financial reconciliation audit: per order-status
    bucket, how many orders' stored o_totalprice agrees (within 1 cent)
    with the total recomputed from their line items as
    sum(extendedprice·(1−discount)·(1+tax)) — the books-balance check a
    warehouse closes the day with.  All comparison in integer cents;
    orders with no line items count as unmatched.  One lineitem
    aggregate + one key join + one status rollup."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    recomputed = li.groupBy("l_orderkey").agg(
        F.sum(
            F.expr(
                "CAST(ROUND(l_extendedprice * (1 - l_discount)"
                " * (1 + l_tax) * 100) AS BIGINT)"
            )
        ).alias("recomputed_cents")
    )
    j = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias(
            "stored_cents"
        ),
    ).join(recomputed, orders.o_orderkey == recomputed.l_orderkey, "left")
    match = (
        F.col("recomputed_cents").isNotNull()
        & (F.abs(F.col("stored_cents") - F.col("recomputed_cents")) <= 1)
    )
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(match.cast("int")).cast("bigint").alias("n_reconciled"),
            F.sum(F.col("recomputed_cents").isNull().cast("int"))
            .cast("bigint")
            .alias("n_no_lineitems"),
            F.floor(
                F.lit(10_000) * F.sum(match.cast("int")) / F.count("*")
            )
            .cast("bigint")
            .alias("reconciled_bp"),
        )
    )


def q_layout_advice(spark, sf_dir):
    """Physical-layout advisor over events (warehouse.layout_advice):
    ndv/null/rows-per-value profile + partition/bucket/neither verdict
    per candidate column, one aggregate pass.  Thresholds scaled for
    the testdata (verdict rule itself is what's under test)."""
    from real_time_data_pipeline_spark.warehouse import layout_advice

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    return layout_advice(
        ev,
        ["event_type", "day", "user_id", "event_id"],
        partition_max_ndv=100,
        partition_min_rows_per_value=100,
        bucket_min_ndv=5000,
    )


def q_seasonal_naive_error(spark, sf_dir):
    """Per-user WAPE of the same-day-last-week forecast baseline
    (operators/aggregates.seasonal_naive_error)."""
    from real_time_data_pipeline_spark.operators.aggregates import (
        seasonal_naive_error,
    )

    return seasonal_naive_error(load_table(spark, sf_dir, "events"))


def q_cohort_retention(spark, sf_dir):
    """First-active-day cohorts × day-offset return counts."""
    from real_time_data_pipeline_spark.operators.aggregates import cohort_retention

    return cohort_retention(load_table(spark, sf_dir, "events"))


def q_daily_anomalies(spark, sf_dir):
    """Per-event-type daily-volume z-score anomalies (2σ threshold)."""
    from real_time_data_pipeline_spark.operators.aggregates import (
        daily_count_anomalies,
    )

    return daily_count_anomalies(load_table(spark, sf_dir, "events"))


def q_profile_columns(spark, sf_dir):
    """One-pass column profile of orders (int/string columns — see
    operators/quality.profile_columns for the float-rendering caveat)."""
    from real_time_data_pipeline_spark.operators.quality import profile_columns

    return profile_columns(load_table(spark, sf_dir, "orders"), PROFILE_COLS)


def q_running_value_total(spark, sf_dir):
    """Per-type cumulative value over event order (the account-balance /
    meter-reading shape) via the distributed two-phase prefix sum — no
    event type ever funnels through a single task.  Integer micros so
    the reassociated addition is exact cross-engine; NULL values are
    pre-filtered (operator contract, see scalable_running_sum)."""
    from real_time_data_pipeline_spark.operators.aggregates import (
        scalable_running_sum,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t_micro"),
            F.floor(F.col("value") * F.lit(1000000.0))
            .cast("bigint")
            .alias("value_micro"),
        )
    )
    return scalable_running_sum(
        ev,
        group_cols=["event_type"],
        order_cols=["t_micro", "event_id"],
        value_col="value_micro",
        out_col="running_micro",
    ).select("event_type", "event_id", "value_micro", "running_micro")


def q_concurrent_events(spark, sf_dir):
    """Sweep-line peak concurrency per (event_type, day): each event is
    an interval [ts, ts + value seconds); see operators/aggregates.
    concurrency_profile.  Durations clamped at 0, NULLs dropped —
    mirrored in the oracle."""
    from real_time_data_pipeline_spark.operators.aggregates import (
        concurrency_profile,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn("dur_s", F.greatest(F.col("value"), F.lit(0.0)))
    )
    return concurrency_profile(
        ev,
        key_col="event_type",
        ts_col="ts",
        duration_col="dur_s",
        id_col="event_id",
    )


QUERIES = {
    "percentiles": q_percentiles,
    "approx_percentiles": q_approx_percentiles,  # rows-only (sketch values; contract oracle below)
    "approx_percentiles_envelope": q_approx_percentiles_envelope,  # oracle-backed (exact envelope + pinned flags)
    "pivot_daily_activity": q_pivot_daily_activity,
    "unpivot_measures": q_unpivot_lineitem_measures,
    "value_histogram": q_value_histogram,
    "scd2_user_state": q_scd2_user_state,
    "rollup_order_stats": q_rollup_order_stats,
    "timeseries_gapfill": q_timeseries_gapfill,
    "user_activity_gaps": q_user_activity_gaps,
    "skew_profile": q_skew_profile,
    "order_window_ranks": q_order_window_ranks,
    "rolling_7d_value": q_rolling_7d_value,
    "funnel_counts": q_funnel_counts,
    "funnel_windowed": q_funnel_windowed,
    "value_trend": q_value_trend,
    "seasonal_naive_error": q_seasonal_naive_error,
    "layout_advice": q_layout_advice,
    "order_reconciliation": q_order_reconciliation,
    "wow_change": q_wow_change,
    "cohort_retention": q_cohort_retention,
    "profile_columns": q_profile_columns,
    "daily_anomalies": q_daily_anomalies,
    "running_value_total": q_running_value_total,
    "concurrent_events": q_concurrent_events,
}

def _approx_percentiles_envelope_oracle() -> str:
    """Exact order statistics at the shared envelope ranks, with the
    in-envelope flags pinned TRUE — the sketch's accuracy contract as
    a value-hash oracle (the sketch values themselves are not
    SQL-reproducible; their bound is)."""
    e = _env_rank_sql("//")
    cols = []
    for q, (lo, hi) in e.items():
        cols.append(f"max(CASE WHEN r = {lo} THEN value END) AS p{q}_lo")
        cols.append(f"max(CASE WHEN r = {hi} THEN value END) AS p{q}_hi")
    inner = ",\n                 ".join(cols)
    sel = ",\n               ".join(
        f"p{q}_lo, p{q}_hi, true AS p{q}_ok" for q in e
    )
    return f"""
        WITH ranked AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value, event_id) AS r,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM events
        ),
        env AS (
          SELECT event_type, CAST(n AS BIGINT) AS n,
                 {inner}
          FROM ranked GROUP BY 1, 2
        )
        SELECT event_type, n,
               {sel}
        FROM env
    """


_PIVOT_COLS = ",\n               ".join(
    f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
    for t in EVENT_TYPES
)

ORACLES = {
    "approx_percentiles_envelope": _approx_percentiles_envelope_oracle(),
    "percentiles": """
        SELECT event_type,
               quantile_cont(value, 0.25) AS p25,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.9) AS p90,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY event_type
    """,
    "pivot_daily_activity": f"""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               {_PIVOT_COLS}
        FROM events GROUP BY 1
    """,
    "unpivot_measures": f"""
        SELECT measure, count(*) AS n, {sum_money_sql('val')} AS total
        FROM (
          SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
          UNION ALL
          SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
          UNION ALL
          SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
          UNION ALL
          SELECT l_orderkey, 'l_tax', l_tax FROM lineitem
        ) GROUP BY measure
    """,
    "value_histogram": f"""
        SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bin,
               count(*) AS n, {sum_money_sql('value')} AS bin_total
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
    """,
    "scd2_user_state": """
        SELECT user_id, event_id, event_type AS state,
               CAST(ts AS TIMESTAMP) AS valid_from,
               CAST(LEAD(ts) OVER w AS TIMESTAMP) AS valid_to,
               LEAD(ts) OVER w IS NULL AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "rollup_order_stats": f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders,
               {sum_money_sql('o_totalprice')} AS total_price
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    "timeseries_gapfill": """
        WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 count(*) AS n,
                 SUM(CAST(ROUND((value) * 100) AS BIGINT)) AS cents
          FROM events GROUP BY 1, 2
        ), span AS (
          SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
        ), cal AS (
          SELECT user_id,
                 CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
          FROM span
        )
        SELECT c.user_id,
               strftime(c.day, '%Y-%m-%d') AS day,
               CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events,
               COALESCE(d.cents, 0) / 1e2 AS total_value
        FROM cal c LEFT JOIN daily d
          ON c.user_id = d.user_id AND c.day = d.day
    """,
    "user_activity_gaps": """
        WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), gaps AS (
          SELECT user_id, day,
                 date_diff('day', lag(day) OVER (PARTITION BY user_id ORDER BY day), day) AS gap
          FROM days
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_active_days,
               CAST(COALESCE(max(gap), 0) AS BIGINT) AS max_gap_days,
               strftime(min(day), '%Y-%m-%d') AS first_day,
               strftime(max(day), '%Y-%m-%d') AS last_day,
               CAST(FLOOR(10000 * count(*)
                    / (date_diff('day', min(day), max(day)) + 1)) AS BIGINT)
                 AS active_ratio_bp
        FROM gaps GROUP BY user_id
    """,
    "skew_profile": """
        WITH per_key AS (
          SELECT l_orderkey, count(*) AS rows_per_key FROM lineitem GROUP BY 1
        )
        SELECT CAST(rows_per_key AS BIGINT) AS rows_per_key,
               CAST(count(*) AS BIGINT) AS n_keys
        FROM per_key GROUP BY rows_per_key
    """,
    "order_window_ranks": """
        SELECT o_orderkey, o_orderstatus,
               CAST(ntile(4) OVER w AS BIGINT) AS price_quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               lag(o_orderkey) OVER w AS prev_key,
               lead(o_orderkey) OVER w AS next_key
        FROM orders
        WHERE o_totalprice > 400000
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "rolling_7d_value": """
        WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 count(*) AS n,
                 SUM(CAST(ROUND((value) * 100) AS BIGINT)) AS cents
          FROM events GROUP BY 1, 2
        ), span AS (
          SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
        ), cal AS (
          SELECT user_id,
                 CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
          FROM span
        ), gap AS (
          SELECT c.user_id, c.day,
                 CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events,
                 COALESCE(d.cents, 0) AS cents
          FROM cal c LEFT JOIN daily d
            ON c.user_id = d.user_id AND c.day = d.day
        )
        SELECT user_id,
               strftime(day, '%Y-%m-%d') AS day,
               n_events,
               CAST(SUM(n_events) OVER w AS BIGINT) AS n_events_7d,
               SUM(cents) OVER w / 1e2 AS value_7d
        FROM gap
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY date_diff('day', DATE '1970-01-01', day)
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
}

# Funnel / cohort / profile twins (operators/aggregates.funnel_counts,
# cohort_retention; operators/quality.profile_columns).  ts truncates to
# microseconds on the DuckDB side (CAST AS TIMESTAMP) matching Spark's
# nanos→micros read, so the strict '>' funnel comparisons agree.
_FUNNEL_STEP_CTES = """
    WITH ev AS (
      SELECT user_id AS u, event_type AS t, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    s1 AS (SELECT u, min(ts) AS t1 FROM ev WHERE t = 'signup' GROUP BY 1),
    s2 AS (SELECT e.u, min(e.ts) AS t2 FROM ev e JOIN s1 ON e.u = s1.u
           WHERE e.t = 'click' AND e.ts > s1.t1 GROUP BY 1),
    s3 AS (SELECT e.u, min(e.ts) AS t3 FROM ev e JOIN s2 ON e.u = s2.u
           WHERE e.t = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
    c AS (SELECT (SELECT count(*) FROM s1) AS c1,
                 (SELECT count(*) FROM s2) AS c2,
                 (SELECT count(*) FROM s3) AS c3)
"""

_FUNNEL_WINDOWED_CTES = """
    WITH ev AS (
      SELECT user_id AS u, event_type AS t, CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    s1 AS (SELECT u, min(ts) AS t1 FROM ev WHERE t = 'signup' GROUP BY 1),
    s2 AS (SELECT e.u, min(e.ts) AS t2 FROM ev e JOIN s1 ON e.u = s1.u
           WHERE e.t = 'click' AND e.ts > s1.t1
             AND e.ts <= s1.t1 + INTERVAL 24 HOURS GROUP BY 1),
    s3 AS (SELECT e.u, min(e.ts) AS t3 FROM ev e JOIN s2 ON e.u = s2.u
           WHERE e.t = 'purchase' AND e.ts > s2.t2
             AND e.ts <= s2.t2 + INTERVAL 24 HOURS GROUP BY 1),
    c AS (SELECT (SELECT count(*) FROM s1) AS c1,
                 (SELECT count(*) FROM s2) AS c2,
                 (SELECT count(*) FROM s3) AS c3)
"""

ORACLES["wow_change"] = """
    WITH weekly AS (
      SELECT event_type,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
                 AS week_start,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week_start, n_events,
           CAST(lag(n_events) OVER (PARTITION BY event_type
                                    ORDER BY week_start)
                AS BIGINT) AS prev_week_events,
           CAST(CASE WHEN lag(n_events) OVER (PARTITION BY event_type
                                              ORDER BY week_start) > 0
                THEN FLOOR(10000.0 * (n_events - lag(n_events) OVER (
                         PARTITION BY event_type ORDER BY week_start))
                     / lag(n_events) OVER (PARTITION BY event_type
                                           ORDER BY week_start))
           END AS BIGINT) AS change_bp
    FROM weekly
"""

ORACLES["order_reconciliation"] = """
    WITH rec AS (
      SELECT l_orderkey,
             sum(CAST(ROUND(l_extendedprice * (1 - l_discount)
                            * (1 + l_tax) * 100) AS BIGINT))
                 AS recomputed_cents
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT o.o_orderstatus,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS stored_cents,
             rec.recomputed_cents
      FROM orders o LEFT JOIN rec ON o.o_orderkey = rec.l_orderkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN recomputed_cents IS NOT NULL
                          AND abs(stored_cents - recomputed_cents) <= 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled,
           CAST(sum(CASE WHEN recomputed_cents IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_no_lineitems,
           CAST(FLOOR(10000 * sum(CASE WHEN recomputed_cents IS NOT NULL
                          AND abs(stored_cents - recomputed_cents) <= 1
                         THEN 1 ELSE 0 END) / count(*)) AS BIGINT)
               AS reconciled_bp
    FROM j GROUP BY 1
"""

ORACLES["layout_advice"] = """
    WITH b AS (
      SELECT count(*) AS total,
             count(DISTINCT event_type) AS ndv_t,
             sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS null_t,
             count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS ndv_d,
             sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS null_d,
             count(DISTINCT user_id) AS ndv_u,
             sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_u,
             count(DISTINCT event_id) AS ndv_e,
             sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS null_e
      FROM events
    ),
    rows_out AS (
      SELECT 'event_type' AS col_name, ndv_t AS ndv, null_t AS n_null,
             total // greatest(ndv_t, 1) AS rows_per_value, total FROM b
      UNION ALL
      SELECT 'day', ndv_d, null_d, total // greatest(ndv_d, 1), total FROM b
      UNION ALL
      SELECT 'user_id', ndv_u, null_u, total // greatest(ndv_u, 1), total FROM b
      UNION ALL
      SELECT 'event_id', ndv_e, null_e, total // greatest(ndv_e, 1), total FROM b
    )
    SELECT col_name,
           CAST(ndv AS BIGINT) AS ndv,
           CAST(n_null AS BIGINT) AS n_null,
           CAST(rows_per_value AS BIGINT) AS rows_per_value,
           CASE WHEN ndv <= 100 AND rows_per_value >= 100 THEN 'partition'
                WHEN ndv >= 5000 THEN 'bucket'
                ELSE 'neither' END AS advice,
           CAST(total AS BIGINT) AS total_rows
    FROM rows_out
"""

ORACLES["seasonal_naive_error"] = """
    WITH daily AS (
      SELECT user_id AS k, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             sum(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT a.k, a.cents, b.cents AS fcast
      FROM daily a JOIN daily b ON a.k = b.k AND a.day = b.day + 7
    )
    SELECT k AS user_id,
           CAST(count(*) AS BIGINT) AS n_scored_days,
           CAST(sum(abs(cents - fcast)) AS BIGINT) AS abs_err_cents,
           CASE WHEN sum(abs(cents)) > 0
                THEN CAST(FLOOR(10000 * sum(abs(cents - fcast))
                                / sum(abs(cents))) AS BIGINT)
           END AS wape_bp
    FROM scored GROUP BY 1
"""

ORACLES["value_trend"] = """
    WITH a AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_points,
             sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx
      FROM (
        SELECT user_id,
               CAST(datediff('day', DATE '2024-01-01',
                             CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS x,
               CAST(ROUND(value * 100) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL
      ) GROUP BY 1
    )
    SELECT user_id, n_points,
           CASE WHEN n_points * sxx - sx * sx > 0
                THEN CAST(FLOOR(10000 * (n_points * sxy - sx * sy)
                                / (n_points * sxx - sx * sx)) AS BIGINT)
           END AS slope_bp
    FROM a
"""

ORACLES["funnel_counts"] = _FUNNEL_STEP_CTES + """
    SELECT step, step_idx, n_users, conv_from_first_bp, conv_from_prev_bp
    FROM (
      SELECT 'signup' AS step, CAST(1 AS BIGINT) AS step_idx,
             CAST(c1 AS BIGINT) AS n_users,
             CAST(CASE WHEN c1 > 0 THEN 10000 * c1 // c1 ELSE 0 END AS BIGINT) AS conv_from_first_bp,
             CAST(CASE WHEN c1 > 0 THEN 10000 * c1 // c1 ELSE 0 END AS BIGINT) AS conv_from_prev_bp
      FROM c
      UNION ALL
      SELECT 'click', CAST(2 AS BIGINT), CAST(c2 AS BIGINT),
             CAST(CASE WHEN c1 > 0 THEN 10000 * c2 // c1 ELSE 0 END AS BIGINT),
             CAST(CASE WHEN c1 > 0 THEN 10000 * c2 // c1 ELSE 0 END AS BIGINT)
      FROM c
      UNION ALL
      SELECT 'purchase', CAST(3 AS BIGINT), CAST(c3 AS BIGINT),
             CAST(CASE WHEN c1 > 0 THEN 10000 * c3 // c1 ELSE 0 END AS BIGINT),
             CAST(CASE WHEN c2 > 0 THEN 10000 * c3 // c2 ELSE 0 END AS BIGINT)
      FROM c
    )
"""

ORACLES["funnel_windowed"] = _FUNNEL_WINDOWED_CTES + """
    SELECT step, step_idx, n_users, conv_from_first_bp, conv_from_prev_bp
    FROM (
      SELECT 'signup' AS step, CAST(1 AS BIGINT) AS step_idx,
             CAST(c1 AS BIGINT) AS n_users,
             CAST(CASE WHEN c1 > 0 THEN 10000 * c1 // c1 ELSE 0 END AS BIGINT) AS conv_from_first_bp,
             CAST(CASE WHEN c1 > 0 THEN 10000 * c1 // c1 ELSE 0 END AS BIGINT) AS conv_from_prev_bp
      FROM c
      UNION ALL
      SELECT 'click', CAST(2 AS BIGINT), CAST(c2 AS BIGINT),
             CAST(CASE WHEN c1 > 0 THEN 10000 * c2 // c1 ELSE 0 END AS BIGINT),
             CAST(CASE WHEN c1 > 0 THEN 10000 * c2 // c1 ELSE 0 END AS BIGINT)
      FROM c
      UNION ALL
      SELECT 'purchase', CAST(3 AS BIGINT), CAST(c3 AS BIGINT),
             CAST(CASE WHEN c1 > 0 THEN 10000 * c3 // c1 ELSE 0 END AS BIGINT),
             CAST(CASE WHEN c2 > 0 THEN 10000 * c3 // c2 ELSE 0 END AS BIGINT)
      FROM c
    )
"""


ORACLES["cohort_retention"] = """
    WITH d AS (
      SELECT DISTINCT user_id AS u,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events
    ),
    f AS (SELECT u, min(day) AS cohort_day FROM d GROUP BY 1)
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', f.cohort_day, d.day) AS BIGINT) AS offset_days,
           CAST(count(*) AS BIGINT) AS n_users
    FROM d JOIN f ON d.u = f.u
    GROUP BY 1, 2
"""


def _profile_oracle(cols: list[str]) -> str:
    stats = ["count(*) AS n"]
    for i, c in enumerate(cols):
        stats += [
            f"count({c}) AS nn{i}",
            f"count(DISTINCT {c}) AS nd{i}",
            f"CAST(min({c}) AS VARCHAR) AS mn{i}",
            f"CAST(max({c}) AS VARCHAR) AS mx{i}",
        ]
    arms = "\n      UNION ALL\n".join(
        f"""      SELECT '{c}' AS column_name, CAST(n AS BIGINT) AS n_rows,
             CAST(n - nn{i} AS BIGINT) AS n_null,
             CAST(nd{i} AS BIGINT) AS n_distinct,
             mn{i} AS min_str, mx{i} AS max_str FROM s"""
        for i, c in enumerate(cols)
    )
    return f"WITH s AS (SELECT {', '.join(stats)} FROM orders)\n{arms}"


ORACLES["profile_columns"] = _profile_oracle(PROFILE_COLS)

ORACLES["daily_anomalies"] = """
    WITH daily AS (
      SELECT event_type AS series,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT series,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(n_events) AS BIGINT) AS s1,
             CAST(sum(n_events * n_events) AS BIGINT) AS s2
      FROM daily GROUP BY 1
    )
    SELECT d.series, strftime(d.day, '%Y-%m-%d') AS day, d.n_events,
           CAST(CASE WHEN n_days * s2 - s1 * s1 > 0
                THEN FLOOR(10000 * (n_days * d.n_events - s1)
                     / sqrt(CAST(n_days * s2 - s1 * s1 AS DOUBLE)))
                ELSE 0 END AS BIGINT) AS z_bp,
           abs(CAST(CASE WHEN n_days * s2 - s1 * s1 > 0
                THEN FLOOR(10000 * (n_days * d.n_events - s1)
                     / sqrt(CAST(n_days * s2 - s1 * s1 AS DOUBLE)))
                ELSE 0 END AS BIGINT)) > 20000 AS is_anomaly
    FROM daily d JOIN stats USING (series)
"""

ORACLES["running_value_total"] = """
    SELECT event_type, event_id,
           CAST(FLOOR(value * 1000000.0) AS BIGINT) AS value_micro,
           CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) OVER (
               PARTITION BY event_type ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS running_micro
    FROM events WHERE value IS NOT NULL
"""

ORACLES["concurrent_events"] = """
    WITH ep AS (
      SELECT event_type AS key, epoch_us(ts) AS t_micro,
             CAST(1 AS BIGINT) AS delta, event_id AS id
      FROM events WHERE value IS NOT NULL
      UNION ALL
      SELECT event_type,
             epoch_us(ts)
               + CAST(FLOOR(GREATEST(value, 0) * 1000000.0) AS BIGINT),
             CAST(-1 AS BIGINT), event_id
      FROM events WHERE value IS NOT NULL
    ), run AS (
      SELECT key, t_micro, delta,
             SUM(delta) OVER (
                 PARTITION BY key ORDER BY t_micro, delta, id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS open_now
      FROM ep
    )
    SELECT key AS event_type,
           strftime(make_timestamp(t_micro), '%Y-%m-%d') AS day,
           CAST(MAX(open_now) AS BIGINT) AS peak_concurrent,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
    FROM run GROUP BY 1, 2
"""


def q_cdc_snapshot(spark, sf_dir):
    """Changelog compaction over events-as-CDC: signup=insert,
    error=delete, everything else=update, keyed by user_id, sequenced by
    (ts, event_id).  One max_by hash aggregate — no per-key window/sort
    (operators/cdc.latest_snapshot)."""
    from real_time_data_pipeline_spark.operators.cdc import latest_snapshot

    log = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    snap = latest_snapshot(
        log, key_cols=["user_id"], seq_cols=["ts", "event_id"], op_col="op"
    )
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        "n_changes",
    )


QUERIES["cdc_snapshot"] = q_cdc_snapshot

ORACLES["cdc_snapshot"] = """
    WITH log AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             event_type, value,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op
      FROM events
    ), r AS (
      SELECT *,
             ROW_NUMBER() OVER (
                 PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM log
    )
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type, value AS last_value,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM r WHERE rn = 1 AND op <> 'D'
"""


def q_decile_bins(spark, sf_dir):
    """Per-type decile discretization of event values
    (operators/aggregates.quantile_bins): equal-mass buckets with exact
    interpolated boundaries — bit-identical across engines, including
    values landing exactly on a boundary."""
    from real_time_data_pipeline_spark.operators.aggregates import quantile_bins

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return quantile_bins(ev, "event_type", "value", n_bins=10)


QUERIES["decile_bins"] = q_decile_bins

ORACLES["decile_bins"] = """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                   0.6, 0.7, 0.8, 0.9]) AS bounds
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT e.event_type,
           CAST(1 + len(list_filter(b.bounds, x -> x <= e.value)) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           min(e.value) AS lo,
           max(e.value) AS hi
    FROM events e JOIN b USING (event_type)
    WHERE e.value IS NOT NULL
    GROUP BY 1, 2
"""


def q_event_transitions(spark, sf_dir):
    """Per-user next-event transition matrix
    (operators/aggregates.event_transitions)."""
    from real_time_data_pipeline_spark.operators.aggregates import (
        event_transitions,
    )

    return event_transitions(load_table(spark, sf_dir, "events"))


QUERIES["event_transitions"] = q_event_transitions

ORACLES["event_transitions"] = """
    WITH pairs AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ), n AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
    ), t AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM n GROUP BY 1
    )
    SELECT n.from_type, n.to_type, n.n,
           CAST(FLOOR(10000 * n.n / t.n_from) AS BIGINT) AS p_bp
    FROM n JOIN t USING (from_type)
"""


def q_windowed_distinct_users(spark, sf_dir):
    """Unique users per (6h window, event_type) — the unique-visitors
    dashboard tile.  Exact countDistinct here (expand + two-phase
    aggregate); the streaming/unbounded twin is approx_count_distinct
    (HLL sketches merge per window — see aggregates.approx_distinct)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "6 hours").alias("w"), F.col("event_type")
        )
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count("*").cast("bigint").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_users",
            "n_events",
        )
    )


QUERIES["windowed_distinct_users"] = q_windowed_distinct_users

ORACLES["windowed_distinct_users"] = """
    SELECT CAST(to_timestamp(
               FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600
           ) AS TIMESTAMP) AS window_start,
           event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
"""


def q_snapshot_diff(spark, sf_dir):
    """Release-over-release corpus diff (operators/cdc.snapshot_diff):
    the user-state snapshot as of Jan 16 vs the final snapshot, every
    key classified added/removed/changed/unchanged.  Both snapshots are
    one max_by aggregate over the same scan; the diff is one full-outer
    join co-partitioned on user_id."""
    from real_time_data_pipeline_spark.operators.cdc import (
        latest_snapshot,
        snapshot_diff,
    )

    log = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
        .cast("bigint")
        .alias("value_c"),
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    cutoff = "2024-01-16 00:00:00"
    mk = lambda df: latest_snapshot(  # noqa: E731
        df, key_cols=["user_id"], seq_cols=["ts", "event_id"], op_col="op"
    ).select("user_id", "event_type", "value_c")
    old = mk(log.filter(F.col("ts") < F.lit(cutoff).cast("timestamp")))
    new = mk(log)
    return snapshot_diff(
        old, new, key_cols=["user_id"], compare_cols=["event_type", "value_c"]
    )


QUERIES["snapshot_diff"] = q_snapshot_diff

ORACLES["snapshot_diff"] = """
    WITH log AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
             CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT) AS value_c,
             CASE event_type WHEN 'signup' THEN 'I'
                             WHEN 'error' THEN 'D'
                             ELSE 'U' END AS op
      FROM events
    ), old_s AS (
      SELECT user_id, event_type, value_c FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM log WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      ) WHERE rn = 1 AND op <> 'D'
    ), new_s AS (
      SELECT user_id, event_type, value_c FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
      ) WHERE rn = 1 AND op <> 'D'
    )
    SELECT COALESCE(n.user_id, o.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'added'
                WHEN n.user_id IS NULL THEN 'removed'
                WHEN o.event_type IS NOT DISTINCT FROM n.event_type
                 AND o.value_c IS NOT DISTINCT FROM n.value_c
                THEN 'unchanged'
                ELSE 'changed' END AS change_type,
           o.event_type AS event_type_old,
           n.event_type AS event_type_new,
           o.value_c AS value_c_old,
           n.value_c AS value_c_new
    FROM old_s o FULL OUTER JOIN new_s n ON o.user_id = n.user_id
"""


def q_scd2_pit_join(spark, sf_dir):
    """Point-in-time enrichment against an SCD2 dimension
    (operators/joins.interval_join): account state changes
    (signup→active, error→flagged) become validity intervals; every
    purchase picks the state valid at its timestamp.  Key-equality join
    with the interval as a post-join filter — per user the dimension
    carries one row per VERSION, so no cross-product risk."""
    from pyspark.sql import Window

    from real_time_data_pipeline_spark.operators.joins import interval_join

    ev = load_table(spark, sf_dir, "events")
    changes = ev.filter(F.col("event_type").isin("signup", "error")).select(
        "user_id",
        F.when(F.col("event_type") == "signup", F.lit("active"))
        .otherwise(F.lit("flagged"))
        .alias("state"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = changes.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
        .cast("bigint")
        .alias("value_c"),
    )
    out = interval_join(
        purchases, dim, key="user_id", fact_ts="ts", how="inner"
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value_c",
        "state",
        F.col("valid_from").alias("state_since"),
    )


QUERIES["scd2_pit_join"] = q_scd2_pit_join

ORACLES["scd2_pit_join"] = """
    WITH dim AS (
      SELECT user_id,
             CASE event_type WHEN 'signup' THEN 'active'
                             ELSE 'flagged' END AS state,
             CAST(ts AS TIMESTAMP) AS valid_from,
             CAST(LEAD(ts) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
             ) AS TIMESTAMP) AS valid_to
      FROM events WHERE event_type IN ('signup', 'error')
    )
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
           CAST(FLOOR(COALESCE(p.value, 0) * 100) AS BIGINT) AS value_c,
           d.state, d.valid_from AS state_since
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN dim d
      ON p.user_id = d.user_id
     AND CAST(p.ts AS TIMESTAMP) >= d.valid_from
     AND (d.valid_to IS NULL OR CAST(p.ts AS TIMESTAMP) < d.valid_to)
"""


def q_frequent_pairs(spark, sf_dir):
    """Market-basket pair mining: the 100 most frequent part pairs
    co-occurring in one order.  The self-join is co-partitioned on
    l_orderkey with bounded per-order fan-out (TPC-H caps lineitems per
    order at 7; this data at 13 → ≤78 pairs/order), so the pair
    explosion scales linearly with orders, never quadratically with the
    catalog.  Global top-k via TakeOrderedAndProject (per-partition
    heads, no full sort); (n DESC, p1, p2) is a total order so the
    LIMIT is deterministic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2")
    )
    pairs = a.join(b, "ok").filter(F.col("p1") < F.col("p2"))
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "p1", "p2")
        .limit(100)
    )


QUERIES["frequent_pairs"] = q_frequent_pairs

ORACLES["frequent_pairs"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS p1, b.l_partkey AS p2,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, p1, p2
    LIMIT 100
"""


def q_attribution_last_touch(spark, sf_dir):
    """Last-touch revenue attribution: each purchase credits the user's
    most recent preceding click/view (or 'direct' if none), rolled up to
    credited touch type.  One window shuffle partitioned by user_id —
    the running last-non-null carry, same engine shape as asof_join —
    then a 3-row aggregate."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    carried = ev.select(
        "event_type",
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
        .cast("bigint")
        .alias("value_c"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(F.coalesce("last_touch", F.lit("direct")).alias("touch_type"), "value_c")
        .groupBy("touch_type")
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.sum("value_c").cast("bigint").alias("revenue_c"),
        )
    )


QUERIES["attribution_last_touch"] = q_attribution_last_touch

ORACLES["attribution_last_touch"] = """
    WITH carried AS (
      SELECT event_type,
             CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT) AS value_c,
             LAST_VALUE(
                 CASE WHEN event_type IN ('click', 'view')
                      THEN event_type END IGNORE NULLS
             ) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_touch
      FROM events
    )
    SELECT COALESCE(last_touch, 'direct') AS touch_type,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(SUM(value_c) AS BIGINT) AS revenue_c
    FROM carried WHERE event_type = 'purchase'
    GROUP BY 1
"""


def q_ewma_user_value(spark, sf_dir):
    """Per-user EWMA-smoothed event value, reported as each user's
    latest smoothed level.  Promoted to oracle-backed in round 4 via
    the integer-cents fold (operators/aggregates.ewma_smooth_cents,
    alpha = 5000 bp): every step is exact integer arithmetic, and the
    DuckDB twin is list(cents ORDER BY ts, event_id) + list_reduce with
    the identical recursion — hash-identical across engines.  The float
    pandas variant (ewma_smooth) remains the production operator,
    pinned on dyadic cases in tests/test_analytics_ops.py."""
    from real_time_data_pipeline_spark.operators.aggregates import (
        ewma_smooth_cents,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    return ewma_smooth_cents(
        ev, "user_id", ["ts", "event_id"], "value", alpha_bp=5000
    )


QUERIES["ewma_user_value"] = q_ewma_user_value

ORACLES["ewma_user_value"] = """
    WITH vals AS (
      SELECT user_id,
             list(CAST(ROUND(value * 100) AS BIGINT)
                  ORDER BY ts, event_id) AS vs
      FROM events WHERE value IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id,
           list_reduce(vs, (acc, x) ->
             CAST(FLOOR((5000*x + 5000*acc) / 10000) AS BIGINT)
           ) AS ewma_cents,
           CAST(len(vs) AS BIGINT) AS n_points
    FROM vals
"""


def q_session_paths(spark, sf_dir):
    """Top-20 per-session event-type paths
    (operators/aggregates.session_paths): 30-minute gap sessions,
    deterministic in-session ordering via array_sort."""
    from real_time_data_pipeline_spark.operators.aggregates import (
        session_paths,
    )

    return session_paths(load_table(spark, sf_dir, "events"), k=20)


QUERIES["session_paths"] = q_session_paths

ORACLES["session_paths"] = """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                       - epoch(CAST(LAG(ts) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id
                         ) AS TIMESTAMP)) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sess AS (
      SELECT *,
             SUM(new_sess) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM seq
    ), paths AS (
      SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY user_id, sess_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
"""


def q_distribution_drift(spark, sf_dir):
    """Value-distribution drift per event type
    (operators/quality.distribution_drift): reference = pre-Jan-16
    window, current = rest of the month; TV distance in basis points
    over 10 reference-frozen equal-width bins."""
    from real_time_data_pipeline_spark.operators.quality import (
        distribution_drift,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "ts", "value")
    )
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    return distribution_drift(
        ev.filter(F.col("ts") < cutoff),
        ev.filter(F.col("ts") >= cutoff),
        group_col="event_type",
        value_col="value",
        n_bins=10,
    )


QUERIES["distribution_drift"] = q_distribution_drift


def q_stream_distribution_drift(spark, sf_dir):
    """Streaming drift monitoring on the SAME oracle as
    `distribution_drift`: the reference window is a frozen batch frame,
    the current window ARRIVES AS A STREAM, and each micro-batch's
    (group, bin) and novel-group partials — the operators/quality
    mergeable decomposition — go to captured parquet, so the monitor
    never re-reads the current window.  One engine merge (sum of the
    counts) over the captured partials feeds the finalize, which is
    hash-identical to the batch answer.  Novel-group partials are the
    captured rows with a NULL bin (a binned row always has a bin)."""
    from real_time_data_pipeline_spark.operators.quality import (
        drift_bin_counts,
        drift_bounds,
        drift_finalize,
        drift_novel_counts,
    )
    from real_time_data_pipeline_spark.queries.reference_parity import (
        _stream_events,
        stream_capture,
    )

    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "ts", "value")
    )
    ref = ev.filter(F.col("ts") < cutoff)
    # Freeze the tiny per-group bounds as a LocalRelation so every
    # micro-batch reuses them without re-aggregating the reference.
    bounds = local_frame(
        spark,
        drift_bounds(ref, "event_type", "value").collect(),
        "event_type string, _mn double, _mx double",
    )
    ref_binned = drift_bin_counts(ref, bounds, "event_type", "value", 10)

    def partials(batch):
        b = batch.filter(
            (F.col("ts") >= cutoff) & F.col("value").isNotNull()
        ).select("event_type", "ts", "value")
        return drift_bin_counts(b, bounds, "event_type", "value", 10).union(
            drift_novel_counts(b, bounds, "event_type").select(
                "event_type", F.lit(None).cast("bigint").alias("bin"), "n"
            )
        )

    cap = stream_capture(
        _stream_events(spark, sf_dir).select("event_type", "ts", "value"),
        "stream_distribution_drift",
        transform=partials,
        schema="event_type string, bin bigint, n bigint",
    )
    n = F.sum("n").cast("bigint").alias("n")
    cur_binned = cap.filter(F.col("bin").isNotNull()).groupBy(
        "event_type", "bin"
    ).agg(n)
    novel = cap.filter(F.col("bin").isNull()).groupBy("event_type").agg(n)
    return drift_finalize(ref_binned, cur_binned, novel, "event_type")


QUERIES["stream_distribution_drift"] = q_stream_distribution_drift
# its oracle is assigned right after the batch oracle literal below

ORACLES["distribution_drift"] = """
    WITH ev AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE value IS NOT NULL
    ),
    refw AS (SELECT * FROM ev WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
    curw AS (SELECT * FROM ev WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
    bounds AS (
      SELECT event_type, min(value) AS mn, max(value) AS mx
      FROM refw GROUP BY 1
    ),
    ra AS (
      SELECT r.event_type,
             LEAST(GREATEST(CASE WHEN (b.mx - b.mn) / 10 > 0
                 THEN FLOOR((r.value - b.mn) / ((b.mx - b.mn) / 10))
                 ELSE 0 END, 0), 9) AS bin,
             count(*) AS n_ref
      FROM refw r JOIN bounds b USING (event_type) GROUP BY 1, 2
    ),
    ca AS (
      SELECT c.event_type,
             LEAST(GREATEST(CASE WHEN (b.mx - b.mn) / 10 > 0
                 THEN FLOOR((c.value - b.mn) / ((b.mx - b.mn) / 10))
                 ELSE 0 END, 0), 9) AS bin,
             count(*) AS n_cur
      FROM curw c JOIN bounds b USING (event_type) GROUP BY 1, 2
    ),
    grid AS (
      SELECT COALESCE(ra.event_type, ca.event_type) AS event_type,
             COALESCE(ra.bin, ca.bin) AS bin,
             COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
      FROM ra FULL OUTER JOIN ca
        ON ra.event_type = ca.event_type AND ra.bin = ca.bin
    ),
    tot AS (
      SELECT event_type, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur
      FROM grid GROUP BY 1
    )
    SELECT g.event_type,
           -- vanished groups (t_cur = 0): pin to total drift instead of
           -- letting 0/0 NULL the TV sum (mirrors the novel-group leg)
           CAST(CASE WHEN MAX(t.t_cur) = 0 THEN 10000
                ELSE FLOOR(SUM(ABS(
                    CASE WHEN t.t_ref > 0
                         THEN FLOOR(1e4 * g.n_ref / t.t_ref) ELSE 0 END
                  - CASE WHEN t.t_cur > 0
                         THEN FLOOR(1e4 * g.n_cur / t.t_cur) ELSE 0 END)) / 2)
                END AS BIGINT) AS tv_bp,
           CAST(MAX(t.t_ref) AS BIGINT) AS n_ref,
           CAST(MAX(t.t_cur) AS BIGINT) AS n_cur
    FROM grid g JOIN tot t USING (event_type)
    GROUP BY 1
    UNION ALL
    -- groups present only in the current window: total drift, no bins
    SELECT c.event_type, CAST(10000 AS BIGINT) AS tv_bp,
           CAST(0 AS BIGINT) AS n_ref,
           CAST(count(*) AS BIGINT) AS n_cur
    FROM curw c
    WHERE NOT EXISTS (
      SELECT 1 FROM bounds b WHERE b.event_type = c.event_type
    )
    GROUP BY 1
"""

# The streaming twin folds micro-batch partials into the identical
# final table, so it shares the batch oracle verbatim.
ORACLES["stream_distribution_drift"] = ORACLES["distribution_drift"]


def q_category_drift(spark, sf_dir):
    """Event-type mix drift across the Jan-16 cutoff
    (operators/quality.categorical_drift)."""
    from real_time_data_pipeline_spark.operators.quality import (
        categorical_drift,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    return categorical_drift(
        ev.filter(F.col("ts") < cutoff),
        ev.filter(F.col("ts") >= cutoff),
        cat_col="event_type",
    )


QUERIES["category_drift"] = q_category_drift


def q_stream_category_drift(spark, sf_dir):
    """Streaming twin of `category_drift` on the same oracle: the
    current window's per-category counts are additive, so each
    micro-batch's counts go to captured parquet and one engine merge
    (sum per category) feeds the finalize, hash-identical to the batch
    answer (same mergeable-partial pattern as
    stream_distribution_drift)."""
    from real_time_data_pipeline_spark.operators.quality import (
        categorical_counts,
        categorical_drift_finalize,
    )
    from real_time_data_pipeline_spark.queries.reference_parity import (
        _stream_events,
        stream_capture,
    )

    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    ref_counts = categorical_counts(
        ev.filter(F.col("ts") < cutoff), "event_type"
    ).withColumnRenamed("n", "n_ref")

    cap = stream_capture(
        _stream_events(spark, sf_dir).select("event_type", "ts"),
        "stream_category_drift",
        transform=lambda b: categorical_counts(
            b.filter(F.col("ts") >= cutoff), "event_type"
        ),
        schema="cat string, n bigint",
    )
    cur_counts = cap.groupBy("cat").agg(
        F.sum("n").cast("bigint").alias("n_cur")
    )
    return categorical_drift_finalize(ref_counts, cur_counts)


QUERIES["stream_category_drift"] = q_stream_category_drift
# oracle assigned right after the batch oracle literal below

ORACLES["category_drift"] = """
    WITH ev AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    a AS (SELECT event_type AS cat, count(*) AS n_ref FROM ev
          WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1),
    b AS (SELECT event_type AS cat, count(*) AS n_cur FROM ev
          WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1),
    grid AS (
      SELECT COALESCE(a.cat, b.cat) AS cat,
             COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
      FROM a FULL OUTER JOIN b ON a.cat = b.cat
    ),
    tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM grid),
    d AS (
      SELECT cat, n_ref, n_cur,
             ABS(FLOOR(1e4 * n_ref / t.t_ref)
               - FLOOR(1e4 * n_cur / t.t_cur)) AS dv,
             t.t_ref, t.t_cur
      FROM grid, tot t
    )
    SELECT CAST(FLOOR(SUM(dv) / 2) AS BIGINT) AS tv_bp,
           (SELECT cat FROM d ORDER BY dv DESC, cat DESC LIMIT 1)
               AS top_mover,
           CAST(MAX(dv) AS BIGINT) AS top_mover_bp,
           CAST(MAX(t_ref) AS BIGINT) AS n_ref,
           CAST(MAX(t_cur) AS BIGINT) AS n_cur
    FROM d
"""

# streaming twin folds micro-batch counts into the identical final row
ORACLES["stream_category_drift"] = ORACLES["category_drift"]


def q_item_similarity(spark, sf_dir):
    """Item-item co-occurrence similarity (the classic recommender
    precompute): cosine over order-basket co-occurrence counts,
    sim = floor(1e4 * n_ab / sqrt(n_a * n_b)), top-100.  Builds on the
    frequent_pairs pair stage (order-co-partitioned self-join, bounded
    per-order fan-out); the per-item totals join back via broadcast
    (item-cardinality bounded).  sqrt of an exact BIGINT product is the
    only float — identical on both engines."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    totals = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").cast("bigint").alias("n_orders_item")
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    ta = totals.select(F.col("p").alias("p1"), F.col("n_orders_item").alias("n_a"))
    tb = totals.select(F.col("p").alias("p2"), F.col("n_orders_item").alias("n_b"))
    sim = F.floor(
        F.lit(1e4) * F.col("n_ab") / F.sqrt(F.col("n_a") * F.col("n_b"))
    ).cast("bigint")
    return (
        pairs.join(F.broadcast(ta), "p1")
        .join(F.broadcast(tb), "p2")
        .select("p1", "p2", "n_ab", sim.alias("sim_bp"))
        .orderBy(F.desc("sim_bp"), "p1", "p2")
        .limit(100)
    )


QUERIES["item_similarity"] = q_item_similarity

ORACLES["item_similarity"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    totals AS (
      SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p1, p2, n_ab,
           CAST(FLOOR(1e4 * n_ab / sqrt(ta.n * tb.n)) AS BIGINT) AS sim_bp
    FROM pairs
    JOIN totals ta ON p1 = ta.p
    JOIN totals tb ON p2 = tb.p
    ORDER BY sim_bp DESC, p1, p2
    LIMIT 100
"""


def q_impute_median(spark, sf_dir):
    """Per-type median imputation of null event values
    (operators/quality.impute_median)."""
    from real_time_data_pipeline_spark.operators.quality import impute_median

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return impute_median(ev, "event_type", "value")


QUERIES["impute_median"] = q_impute_median

ORACLES["impute_median"] = """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           COALESCE(e.value, med.m) AS value_imputed,
           e.value IS NULL AS was_imputed
    FROM events e LEFT JOIN med USING (event_type)
"""


def q_daily_last_event(spark, sf_dir):
    """Daily latest-state snapshot: each user's last event per day
    (max_by over (ts, event_id) — one hash aggregate, the
    daily-partition compaction shape; no per-key window sort)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.max_by(
                F.struct("event_id", "event_type", "ts"),
                F.struct("ts", "event_id"),
            ).alias("_last"),
            F.count("*").cast("bigint").alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("_last.event_id").alias("last_event_id"),
            F.col("_last.event_type").alias("last_type"),
            "n_events",
        )
    )


QUERIES["daily_last_event"] = q_daily_last_event

ORACLES["daily_last_event"] = """
    WITH r AS (
      SELECT user_id,
             strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS day,
             event_id, event_type,
             ROW_NUMBER() OVER (
                 PARTITION BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
                 ORDER BY ts DESC, event_id DESC
             ) AS rn,
             COUNT(*) OVER (
                 PARTITION BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
             ) AS n_events
      FROM events
    )
    SELECT user_id, day, event_id AS last_event_id,
           event_type AS last_type, CAST(n_events AS BIGINT) AS n_events
    FROM r WHERE rn = 1
"""


RFM_ASOF = "1998-08-02"  # TPC-H canonical current date


def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: recency (days since last order as of
    the TPC-H current date), frequency (order count), monetary (total
    spend in cents), each cut into quartiles with engine-exact
    interpolated boundaries (same percentile contract as decile_bins;
    bin = 1 + #boundaries <= value, descending recency inverted so
    bin 4 is always 'best').  One customer-keyed aggregate + one
    1-row boundary broadcast — no global sort."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit(RFM_ASOF).cast("date"), F.max("o_orderdate")
        ).cast("bigint").alias("recency_days"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "monetary_c"
        ),
    )
    qs = "array(0.25, 0.5, 0.75)"
    bounds = per_cust.agg(
        F.expr(f"percentile(recency_days, {qs})").alias("rb"),
        F.expr(f"percentile(frequency, {qs})").alias("fb"),
        F.expr(f"percentile(monetary_c, {qs})").alias("mb"),
    )

    def bin_of(v, b):
        return (
            F.lit(1)
            + F.aggregate(
                b, F.lit(0), lambda acc, x: acc + F.when(x <= v, 1).otherwise(0)
            )
        ).cast("bigint")

    j = per_cust.crossJoin(F.broadcast(bounds))
    return j.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_c",
        # recency: smaller is better -> invert so 4 = most recent
        (F.lit(5) - bin_of(F.col("recency_days"), F.col("rb"))).alias("r_bin"),
        bin_of(F.col("frequency"), F.col("fb")).alias("f_bin"),
        bin_of(F.col("monetary_c"), F.col("mb")).alias("m_bin"),
    )


QUERIES["rfm_segments"] = q_rfm_segments

ORACLES["rfm_segments"] = f"""
    WITH per_cust AS (
      SELECT o_custkey AS custkey,
             CAST(date_diff('day', max(o_orderdate), DATE '{RFM_ASOF}')
                  AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS monetary_c
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rb,
             quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fb,
             quantile_cont(monetary_c, [0.25, 0.5, 0.75]) AS mb
      FROM per_cust
    )
    SELECT custkey, recency_days, frequency, monetary_c,
           CAST(5 - (1 + len(list_filter(b.rb, x -> x <= recency_days)))
                AS BIGINT) AS r_bin,
           CAST(1 + len(list_filter(b.fb, x -> x <= frequency))
                AS BIGINT) AS f_bin,
           CAST(1 + len(list_filter(b.mb, x -> x <= monetary_c))
                AS BIGINT) AS m_bin
    FROM per_cust, b
"""


def _with_op(df):
    """Project the CDC op column (signup=insert, error=delete, else
    update) — ONE definition consumed by the batch log builder and the
    streaming fold so the mapping cannot drift between them."""
    return df.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )


def _cdc_log(spark, sf_dir):
    """The events-as-CDC changelog shared by cdc_snapshot and its
    incremental/streaming maintainers (keyed by user_id, sequenced by
    (ts, event_id))."""
    return _with_op(load_table(spark, sf_dir, "events"))


_CDC_CUTOFF = "2024-01-16 00:00:00"


def _cdc_present(state):
    """Presentation edge shared by the two maintainers: drop keys whose
    winner is a delete, project to the cdc_snapshot column names."""
    return state.filter(F.col("op") != "D").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        "n_changes",
    )


def q_cdc_apply_incremental(spark, sf_dir):
    """Incremental CDC maintenance under the full-recompute oracle:
    compact the pre-cutoff changelog into mergeable state
    (operators/cdc.latest_state — delete winners retained, depths
    accumulated), fold the post-cutoff increment in via
    merge_snapshot_state, and present.  The oracle is cdc_snapshot's
    one-shot compaction over ALL events, so the driver verifies
    merge(state(old), state(new)) == state(old ∪ new) value-for-value —
    including resurrection (delete then later update) and
    tombstone-wins cases the increment can create."""
    from real_time_data_pipeline_spark.operators.cdc import (
        latest_state,
        merge_snapshot_state,
    )

    log = _cdc_log(spark, sf_dir)
    cutoff = F.lit(_CDC_CUTOFF).cast("timestamp")
    state = latest_state(
        log.filter(F.col("ts") < cutoff), ["user_id"], ["ts", "event_id"]
    )
    inc = latest_state(
        log.filter(F.col("ts") >= cutoff), ["user_id"], ["ts", "event_id"]
    )
    merged = merge_snapshot_state(state, inc, ["user_id"], ["ts", "event_id"])
    return _cdc_present(merged)


def q_stream_cdc_apply(spark, sf_dir):
    """Streaming CDC-apply — the upsert/MERGE-INTO operator class on the
    streaming engine, on the same full-recompute oracle: pre-cutoff
    state is seeded, post-cutoff change rows ARRIVE AS A STREAM, and
    every micro-batch compacts itself (latest_state) then folds into
    the held state (merge_snapshot_state).  Associativity of the
    weighted max_by/sum partials means ANY batch split yields the
    identical final snapshot — the property the oracle hash pins.
    State is one row per key between batches (|users| rows), held as an
    engine-side checkpoint (reference_parity.swap_state); the seed
    stays lazy and is computed inside the first batch's checkpoint."""
    from real_time_data_pipeline_spark.operators.cdc import (
        latest_state,
        merge_snapshot_state,
    )
    from real_time_data_pipeline_spark.queries.reference_parity import (
        _stream_events,
        drain,
        swap_state,
    )

    cutoff = F.lit(_CDC_CUTOFF).cast("timestamp")
    seed = latest_state(
        _cdc_log(spark, sf_dir).filter(F.col("ts") < cutoff),
        ["user_id"],
        ["ts", "event_id"],
    )
    holder = {"state": seed}

    def fold(batch, _i):
        inc_log = _with_op(batch.filter(F.col("ts") >= cutoff))
        inc = latest_state(inc_log, ["user_id"], ["ts", "event_id"])
        swap_state(
            holder,
            merge_snapshot_state(
                holder["state"], inc, ["user_id"], ["ts", "event_id"]
            ),
        )

    drain(
        _stream_events(spark, sf_dir).select(
            "user_id", "event_id", "ts", "event_type", "value"
        ),
        "stream_cdc_apply",
        fold,
    )
    return _cdc_present(holder["state"])


QUERIES["cdc_apply_incremental"] = q_cdc_apply_incremental
QUERIES["stream_cdc_apply"] = q_stream_cdc_apply

# Both maintainers are pinned against the ONE-SHOT compaction oracle —
# the merge path must be indistinguishable from recomputing from scratch.
ORACLES["cdc_apply_incremental"] = ORACLES["cdc_snapshot"]
ORACLES["stream_cdc_apply"] = ORACLES["cdc_snapshot"]
