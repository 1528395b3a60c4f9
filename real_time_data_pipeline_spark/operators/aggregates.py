"""Windowed / grouped aggregations.

Reference parity:
  A1 tumbling-window group-agg  — reference src/spark/transaction_processor.py:282-294
     (1h tumbling window x account_id -> count/sum/avg)
  A2 watermark                  — transaction_processor.py:283 (30 minutes)
  A3 sliding window             — declared src/config/spark_config.yml:36-37
     (60s window / 30s slide; never wired in reference code)
  A5 validation summary         — src/validation/transaction_validator.py:197-218
  A7 transaction_summary rollup — declared spark_config.yml:62,68-69
     (periodic (year, month) rollup of A1)
  N5 session windows            — north-star tier (BASELINE.json)

All functions are pure ``DataFrame -> DataFrame`` and work in both batch
and streaming (the watermark argument is a no-op on batch frames, matching
Spark semantics).

Scale notes: each of these is a single hash-aggregate — Spark plans a
partial (map-side) aggregate before the exchange, so the shuffle carries
one row per (window, key) per input partition, not per event.  Double
aggregates are rounded only at the presentation edge (callers/oracles), not
here, to avoid losing precision in downstream math.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import cache
from real_time_data_pipeline_spark.operators.arrowvec import local_frame


def windowed_agg(
    df: DataFrame,
    ts_col: str = "event_time",
    key_col: str = "account_id",
    value_col: str = "amount",
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = None,
    count_col: str = "transaction_id",
) -> DataFrame:
    """Tumbling (A1) or sliding (A3) window aggregate: count / sum / avg.

    Mirrors reference transaction_processor.py:282-294 verbatim semantics:
    groupBy(window(ts, dur), key).agg(count -> transaction_count,
    sum -> total_amount, avg -> avg_amount); slide!=None gives the declared
    sliding variant (spark_config.yml:36-37).
    """
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window_duration, slide)
        if slide
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        df.groupBy(win.alias("window"), F.col(key_col))
        .agg(
            F.count(F.col(count_col)).alias("transaction_count"),
            F.sum(F.col(value_col)).alias("total_amount"),
            F.avg(F.col(value_col)).alias("avg_amount"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "transaction_count",
            "total_amount",
            "avg_amount",
        )
    )


def session_agg(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Session-window aggregate (N5): per-key sessions split on `gap` idle.

    Uses the built-in ``session_window`` (stateful merge in streaming,
    sort-within-key in batch) — no Python in the loop.
    """
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("session"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col(value_col)).alias("total_value"),
        )
        .select(
            F.col("session.start").alias("session_start"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def validation_summary(df: DataFrame, valid_col: str = "is_valid") -> DataFrame:
    """Batch data-quality rollup (A5): total/valid/invalid/success_rate.

    Vectorized twin of reference transaction_validator.py:197-218 (which
    loops over per-row GE results in Python).  One partial+final aggregate,
    no shuffle of raw rows.
    """
    v = F.col(valid_col).cast("int")
    return df.agg(
        F.count("*").alias("total"),
        F.sum(v).alias("valid_count"),
        F.sum(1 - v).alias("invalid_count"),
        F.round(F.avg(v) * 100.0, 2).alias("success_rate"),
    )


def monthly_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """A7 `transaction_summary` rollup: (year, month, key) -> count/sum/avg.

    The reference declares this as a Hive table partitioned by (year, month)
    (spark_config.yml:62,68-69); writers should ``partitionBy("year",
    "month")`` so downstream reads get partition pruning.

    ``value_count`` (non-null values only) is carried as an explicit
    partial because ``avg`` ignores NULLs while ``transaction_count``
    is count(*): re-deriving avg from total/transaction_count after a
    merge would diverge whenever ``value_col`` has NULLs.
    :func:`merge_monthly_rollup` folds it associatively.
    """
    return (
        df.groupBy(
            F.year(ts_col).alias("year"),
            F.month(ts_col).alias("month"),
            F.col(key_col),
        )
        .agg(
            F.count("*").alias("transaction_count"),
            F.count(value_col).alias("value_count"),
            F.sum(value_col).alias("total_amount"),
            F.avg(value_col).alias("avg_amount"),
        )
    )


def uniqueness_violations(df: DataFrame, key_col: str = "transaction_id") -> DataFrame:
    """A6 uniqueness check: keys appearing more than once, with counts.

    Batch form of GE expect_column_values_to_be_unique
    (reference transaction_validator.py:79-84).
    """
    return (
        df.groupBy(key_col)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def approx_distinct(df: DataFrame, col: str, rsd: float = 0.05) -> DataFrame:
    """N2: HyperLogLog++ approximate distinct count — constant memory per
    partition, single small shuffle of sketches (not rows)."""
    return df.agg(F.approx_count_distinct(col, rsd).alias("approx_distinct"))


KMV_K = 64
KMV_SPACE = 1 << 48  # portable_hash48 range


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = KMV_K,
) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002),
    certified EXACTLY — the mergeable/deterministic sibling of the HLL
    path (:func:`approx_distinct`, whose JVM sketch is opaque and
    rows-only): hash every value with the engine-portable 48-bit
    sha256 fold (operators/curation.portable_hash48), keep the k
    smallest DISTINCT hashes per group, estimate
    ``(k-1)·2^48 // h_k`` (floor — exact integer) when ≥ k distinct
    hashes exist, else the seen count (exact by construction).  The
    deterministic hash makes the whole sketch — kth hash, estimate,
    error — reproducible in any engine, so the DuckDB oracle recomputes
    it outright (the CMS posture from ``cms_heavy_hitters``: stronger
    than an error-envelope check).  Each row also carries the TRUE
    distinct count and the signed error in bp — the accuracy ledger a
    drift monitor reads.

    Scale shape: one distinct-aggregate on (group, hash) with map-side
    combine is the only data-scale shuffle; the k-smallest rank window
    sorts the DEDUPED hash domain per group, not raw rows.  Sketches
    MERGE losslessly (k smallest of a union = k smallest of the merged
    k-smallest sets) — the property ``kmv_merge`` certifies — so at
    100 TB per-partition/per-day sketches fold into corpus totals
    without re-touching history, the same additive-state shape as the
    DSIR count table.

    Output: (group, n_exact, n_kept, kth_hash, est_kmv, err_bp).
    Hash collisions under-count by ~n²/2^49 (≪ 1 at any per-group
    cardinality this sketch is sized for) and are part of the certified
    value, not noise.

    NULL ``value_col`` rows are excluded up front: sha256(NULL) is a
    NULL hash that Spark's ascending window would rank NULLS FIRST
    (displacing the true k-th smallest and inflating n_kept) while
    countDistinct ignores it — and DuckDB orders NULLS LAST, so the two
    engines would disagree.  countDistinct-of-non-NULLs is the
    cardinality a distinct sketch estimates anyway; an all-NULL group
    has no sketch and is dropped (n_exact=0 would also break err_bp)."""
    from real_time_data_pipeline_spark.operators.curation import (
        portable_hash48,
    )

    hashes = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias(group_col),
        portable_hash48(F.col(value_col)).alias("h"),
    )
    exact = df.groupBy(group_col).agg(
        F.countDistinct(value_col).cast("bigint").alias("n_exact")
    )
    return (
        kmv_sketch(hashes, group_col, k)
        .join(exact, group_col)
        .select(
            group_col,
            "n_exact",
            "n_kept",
            "kth_hash",
            "est_kmv",
            F.expr("(est_kmv - n_exact) * 10000 div n_exact")
            .cast("bigint")
            .alias("err_bp"),
        )
    )


def _kmv_est(n_kept: str, kth: str, k: int) -> F.Column:
    """KMV estimate: the seen count below k kept hashes, else
    ``(k-1)·2^48 // h_k`` (exact integer)."""
    return (
        F.when(F.col(n_kept) < k, F.col(n_kept))
        .otherwise(F.expr(f"{(k - 1) * KMV_SPACE} div {kth}"))
        .cast("bigint")
    )


def kmv_sketch(hashes: DataFrame, group_col: str, k: int = KMV_K) -> DataFrame:
    """The KMV step over (group, h) hash rows: keep the k smallest
    DISTINCT hashes per group, then estimate.  Output: (group, hashes
    — the kept hashes ascending, n_kept, kth_hash, est_kmv).  The kept
    hashes are the mergeable summary: the sketch of a union is this
    step over the union of the parts' kept hashes, for any split."""
    w = Window.partitionBy(group_col).orderBy("h")
    kept = (
        hashes.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
    return kept.groupBy(group_col).agg(
        F.sort_array(F.collect_list("h")).alias("hashes"),
        F.max("rn").cast("bigint").alias("n_kept"),
        F.max("h").cast("bigint").alias("kth_hash"),
    ).withColumn("est_kmv", _kmv_est("n_kept", "kth_hash", k))


def kmv_merge(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = KMV_K,
) -> DataFrame:
    """KMV mergeability certificate: the corpus-wide estimate computed
    TWO ways — by folding k-smallest sketches over 32 PHYSICAL hash
    shards (the direct/two-phase leg: every global k-smallest hash is
    among its shard's k smallest, so no global sort ever sees the raw
    hash domain), and by folding the per-``group_col`` LOGICAL sketches
    (union → distinct → k smallest) — with the equality emitted as a
    column the oracle pins TRUE.  Merging across two UNRELATED
    partitionings landing on the identical sketch is the exactly-
    checkable form of the claim that makes KMV the 100 TB shape:
    per-shard/per-day sketches (k·8 bytes each) fold into the global
    sketch losslessly, so distinct-count rollups never rescan history.
    Every window here partitions first or runs on a shard/group-bounded
    survivor set (≤ 32k / |groups|·k rows).  One output row:
    (k, n_exact, kth_direct, est_direct, est_merged, merge_equal)."""
    from real_time_data_pipeline_spark.operators.curation import (
        portable_hash48,
    )

    n_shards = 32
    # NULL value_col rows excluded for the same reason as kmv_distinct:
    # a NULL hash ranks NULLS FIRST in Spark / NULLS LAST in DuckDB and
    # countDistinct never counts it.
    hashes = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        portable_hash48(F.col(value_col)).alias("h"),
    )
    # direct leg, two-phase: k smallest per physical hash shard, then
    # k smallest of the <= 32k survivors
    ws = Window.partitionBy("shard").orderBy("h")
    direct = (
        hashes.select("h")
        .distinct()
        .withColumn("shard", F.pmod("h", F.lit(n_shards)))
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= k)
        .select("h")
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rn") <= k)
        .agg(
            F.max("rn").cast("bigint").alias("n_kept_d"),
            F.max("h").cast("bigint").alias("kth_direct"),
        )
    )
    # merged: per-group k-smallest sketches, then k smallest of their union
    wg = Window.partitionBy("grp").orderBy("h")
    merged = (
        hashes.distinct()
        .withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= k)
        .select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rn") <= k)
        .agg(
            F.max("rn").cast("bigint").alias("n_kept_m"),
            F.max("h").cast("bigint").alias("kth_merged"),
        )
    )
    exact = df.agg(
        F.countDistinct(value_col).cast("bigint").alias("n_exact")
    )

    return (
        direct.crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(k).cast("bigint").alias("k"),
            "n_exact",
            "kth_direct",
            _kmv_est("n_kept_d", "kth_direct", k).alias("est_direct"),
            _kmv_est("n_kept_m", "kth_merged", k).alias("est_merged"),
            (
                (F.col("kth_direct") == F.col("kth_merged"))
                & (F.col("n_kept_d") == F.col("n_kept_m"))
            ).alias("merge_equal"),
        )
    )


def gapfill_daily(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-series densification: per-key daily counts/sums with missing
    days zero-filled across each key's [min_day, max_day] span.

    Plan (2 shuffles, no join): daily hash-aggregate on (key, day), then
    one aggregate per key that folds the active days into a day→metrics
    map; the calendar is explode(sequence(d0, d1)) with an element_at
    lookup — so the fill is a projection, not a third shuffle for a
    calendar join.  Per-key state is one map entry per ACTIVE day
    (bounded by span, e.g. ~3.7k for a 10-year daily span) — safe at
    100 TB where rows per key are unbounded but spans are not.  Money is
    integer cents end-to-end (functions/stable.py contract)."""
    from real_time_data_pipeline_spark.functions import stable

    daily = df.groupBy(
        F.col(key_col), F.to_date(ts_col).alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.expr(stable.cents_sql(value_col))).alias("cents"),
    )
    per_key = daily.groupBy(key_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("day", F.struct("n", "cents")))
        ).alias("m"),
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    cal = per_key.select(
        key_col, "m", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    hit = F.element_at("m", F.col("day"))
    return cal.select(
        key_col,
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce(hit["n"], F.lit(0)).cast("bigint").alias("n_events"),
        (F.coalesce(hit["cents"], F.lit(0)) / F.expr("1e2")).alias("total_value"),
    )


def activity_gaps(
    df: DataFrame, key_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Per-key activity/gap profile via lag: active-day count, longest
    day-over-day gap, span, and an activity ratio in basis points —
    the retention-analysis shape (churn = max_gap beyond a threshold).

    Distinct (key, day) first bounds everything downstream by days, not
    events; the lag window and the final aggregate share the same
    key partitioning.  Integer output end-to-end (oracle-stable)."""
    from pyspark.sql import Window

    days = df.select(F.col(key_col), F.to_date(ts_col).alias("day")).distinct()
    w = Window.partitionBy(key_col).orderBy("day")
    gaps = days.select(
        F.col(key_col),
        "day",
        F.datediff(F.col("day"), F.lag("day").over(w)).alias("gap"),
    )
    span_days = F.datediff(F.max("day"), F.min("day")) + F.lit(1)
    return gaps.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_active_days"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("bigint").alias("max_gap_days"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
        F.floor(F.lit(10000) * F.count("*") / span_days)
        .cast("bigint")
        .alias("active_ratio_bp"),
    )


def funnel_counts(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap_hours: int | None = None,
) -> DataFrame:
    """Ordered-funnel completion: for each step i, how many users
    performed step i STRICTLY AFTER their completion of step i-1 (the
    product-analytics funnel — signup → activation → purchase).  A user's
    step-i time is their EARLIEST qualifying step-i event; ties at the
    exact same timestamp do not advance the funnel (strict >).

    ``max_gap_hours`` adds the time-bound variant: step i must also
    land within that many hours of the user's step-(i-1) time, the
    "converted within 24h" funnel product teams actually report.  Same
    plan shape — the bound is one extra predicate on the already
    co-partitioned step join.

    Output one row per step: ``step``, ``step_idx`` (1-based),
    ``n_users``, ``conv_from_first_bp``, ``conv_from_prev_bp``.

    Plan (fully lazy, one job): step 1 is a filtered per-user min
    aggregate; each later step joins the previous step's (user, ts)
    frame to that step's filtered events — every join and aggregate is
    keyed on ``user_col``, so after the first shuffle the whole chain is
    co-partitioned (AQE broadcasts the shrinking funnel side when it
    fits).  The per-step reach counts reduce to ONE single-row aggregate
    over the left-join-assembled per-user step-time frame, unpivoted to
    k rows with ``stack`` — no driver-side loop executes anything.
    k-step funnel = k bounded passes over the filtered scan; no window
    over unbounded partitions.  Holds at 100 TB."""
    if not steps:
        raise ValueError("steps must be non-empty")
    ev = df.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("t"), F.col(ts_col).alias("ts")
    )
    reached = (
        ev.filter(F.col("t") == steps[0])
        .groupBy("u")
        .agg(F.min("ts").alias("t1"))
    )
    per_user = reached
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            ev.filter(F.col("t") == step)
            .join(per_user.select("u", F.col(f"t{i-1}").alias("_prev")), "u")
            .filter(F.col("ts") > F.col("_prev"))
        )
        if max_gap_hours is not None:
            nxt = nxt.filter(
                F.col("ts")
                <= F.col("_prev") + F.expr(f"INTERVAL {max_gap_hours} HOURS")
            )
        nxt = nxt.groupBy("u").agg(F.min("ts").alias(f"t{i}"))
        per_user = per_user.join(nxt, "u", "left")
    counts = per_user.agg(
        *[F.count(f"t{i}").alias(f"c{i}") for i in range(1, len(steps) + 1)]
    )
    stack_args = []
    for i, step in enumerate(steps, start=1):
        prev = f"c{i-1}" if i > 1 else "c1"
        stack_args.append(
            f"'{step}', CAST({i} AS BIGINT), CAST(c{i} AS BIGINT), "
            f"CAST(CASE WHEN c1 > 0 THEN 10000 * c{i} DIV c1 ELSE 0 END AS BIGINT), "
            f"CAST(CASE WHEN {prev} > 0 THEN 10000 * c{i} DIV {prev} ELSE 0 END AS BIGINT)"
        )
    return counts.select(
        F.expr(
            f"stack({len(steps)}, {', '.join(stack_args)}) AS "
            "(step, step_idx, n_users, conv_from_first_bp, conv_from_prev_bp)"
        )
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST active day
    (the cohort), counted at each day-offset they return.  The classic
    retention triangle — row = acquisition cohort, column = days since.

    Output: ``cohort_day`` (ISO date string), ``offset_days``,
    ``n_users``.  Offset 0 row count == cohort size, so retention rate
    is derivable downstream; counts stay raw here (one fact per cell).

    Plan: distinct (user, day) bounds everything by active days;
    first-day is a per-user min aggregate; the join back is
    co-partitioned on the user key; the final (cohort, offset) aggregate
    is calendar-bounded (days × days cells).  No windows, three
    shuffles, all key-partitioned.  Holds at 100 TB."""
    days = df.select(
        F.col(user_col).alias("u"), F.to_date(ts_col).alias("day")
    ).distinct()
    first = days.groupBy("u").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(first, "u")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").cast("bigint").alias("offset_days"),
        )
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


def daily_count_anomalies(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    z_threshold_bp: int = 20000,
) -> DataFrame:
    """Volume-anomaly detection on the daily event-count series, per
    series key: flag days whose count sits more than ``z_threshold_bp``
    (basis points of one standard deviation, 20000 = 2σ) from the
    series mean — the monitoring pass that catches a dead producer
    (counts collapse) or a retry storm (counts spike).

    Determinism across engines: z = (x − mean)/σ is computed in the
    algebraically equivalent all-integer form
    ``(n·x − Σx) / sqrt(n·Σx² − (Σx)²)`` — numerator exact BIGINT,
    denominator one sqrt of an exact BIGINT, so ``z_bp`` floors the
    same double on Spark and DuckDB.  Degenerate series (σ = 0) emit
    z_bp = 0, never NULL/NaN.

    Plan: one (type, day) count aggregate (calendar-bounded), a per-type
    stats aggregate over it (series-count-bounded — tiny), and a
    broadcast join back.  Nothing beyond the first aggregate touches
    event-scale data.  Holds at 100 TB."""
    daily = (
        df.select(F.col(type_col).alias("series"), F.to_date(ts_col).alias("day"))
        .groupBy("series", "day")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    stats = daily.groupBy("series").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("n_events").cast("bigint").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("bigint").alias("s2"),
    )
    var_num = F.col("n_days") * F.col("s2") - F.col("s1") * F.col("s1")
    z_bp = F.when(
        var_num > 0,
        F.floor(
            F.lit(10000)
            * (F.col("n_days") * F.col("n_events") - F.col("s1"))
            / F.sqrt(var_num.cast("double"))
        ),
    ).otherwise(F.lit(0)).cast("bigint")
    return (
        daily.join(F.broadcast(stats), "series")
        .select(
            "series",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            z_bp.alias("z_bp"),
            (F.abs(z_bp) > F.lit(z_threshold_bp)).alias("is_anomaly"),
        )
    )


def scalable_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed prefix sum: ``SUM(value) OVER (PARTITION BY group
    ORDER BY order ROWS UNBOUNDED PRECEDING)`` without funneling any
    group through a single task.

    A plain window with ``partitionBy(group)`` puts each group's ENTIRE
    history in one partition — the classic scale-killer when a group (or
    the whole table, for a global cumsum) is large.  This is the textbook
    two-phase scan instead:

    1. range-partition by (group, order) — each group's rows land in a
       contiguous run of partitions, ordered across partitions;
    2. per-partition subtotal per group (tiny: ≤ partitions × groups
       rows), exclusive-prefix them per group with a window over the
       subtotal table (driver-scale work, never the data);
    3. broadcast the offsets back and window-cumsum WITHIN each
       (partition, group) slice — parallelism stays at the partition
       count, every frame is bounded by one partition's rows.

    Determinism contract: ``order_cols`` must be a total order (include a
    unique tiebreak) — ties straddling a range boundary would otherwise
    make the split ambiguous.  Use an integer/decimal ``value_col`` when
    cross-engine hash-exactness matters: the two-phase regrouping
    reassociates double addition.

    At 100 TB: one range exchange + one hash exchange of the data, both
    at full parallelism; the only serial state is the subtotal table
    (partitions × groups rows).  Nest another level (e.g. bucket by a
    calendar key first) if even that outgrows the driver.

    NULL values: a NULL ``value_col`` contributes nothing to later rows
    (like SQL window SUM) but an all-NULL prefix inside one range slice
    yields NULL+offset = NULL, which diverges from SQL when earlier
    slices held non-NULL rows — pre-filter or coalesce NULLs when SQL
    null semantics matter.  The persist of the range-partitioned input
    (read by both the subtotal and cumsum passes) is tracked via
    operators/cache.py; callers release it with ``cache.release_all()``
    after evaluating the result (bench.py / tools/parity.py do).
    """
    from pyspark.sql import Window

    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    cols = [F.col(c) for c in group_cols + order_cols]
    part = cache.track(
        df.repartitionByRange(int(n), *cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    subtotals = part.groupBy("_pid", *group_cols).agg(
        F.sum(value_col).alias("_ptot")
    )
    w_off = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = subtotals.select(
        "_pid",
        *group_cols,
        F.coalesce(F.sum("_ptot").over(w_off), F.lit(0)).alias("_offset"),
    )
    w_in = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.join(F.broadcast(offsets), ["_pid", *group_cols])
        .withColumn(
            out_col, (F.col("_offset") + F.sum(value_col).over(w_in)).cast("bigint")
        )
        .drop("_pid", "_offset")
    )


def concurrency_profile(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    duration_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Peak-concurrency per (key, day) via the sweep-line: each row is an
    interval [ts, ts + duration seconds); +1/-1 endpoint deltas, a
    running sum over endpoints in time order, then a per-day max.  The
    capacity-planning query ("how many sessions were open at once?")
    that naive per-row self-joins make quadratic.

    End-before-start at the same instant (half-open intervals): endpoints
    order by (t_micro, delta, id) and -1 < +1, so a session ending
    exactly when another starts never double-counts.  All arithmetic is
    integer micros (exact, engine-portable).

    Plan: endpoint explode is a zero-shuffle union; the running sum is
    :func:`scalable_running_sum` (no single-partition window); the day
    rollup is one hash aggregate.
    """
    # NTZ-safe: the session runs UTC, so the cast is exact.
    t_start = F.unix_micros(F.col(ts_col).cast("timestamp"))
    dur = F.floor(F.col(duration_col) * F.lit(1000000.0)).cast("bigint")
    starts = df.select(
        F.col(key_col).alias("key"),
        t_start.alias("t_micro"),
        F.lit(1).cast("bigint").alias("delta"),
        F.col(id_col).alias("id"),
    )
    ends = df.select(
        F.col(key_col).alias("key"),
        (t_start + dur).alias("t_micro"),
        F.lit(-1).cast("bigint").alias("delta"),
        F.col(id_col).alias("id"),
    )
    running = scalable_running_sum(
        starts.unionAll(ends),
        group_cols=["key"],
        order_cols=["t_micro", "delta", "id"],
        value_col="delta",
        out_col="open_now",
    )
    return (
        running.groupBy(
            "key",
            F.date_format(
                F.timestamp_micros(F.col("t_micro")), "yyyy-MM-dd"
            ).alias("day"),
        )
        .agg(
            F.max("open_now").cast("bigint").alias("peak_concurrent"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_starts"),
        )
        .withColumnRenamed("key", key_col)
    )


def quantile_bins(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Quantile discretization (feature bucketing): per key, compute the
    ``n_bins``-quantile boundaries of ``value_col``, assign each row its
    bucket, and roll up per-bucket counts and exact bounds — the
    equal-mass binning behind feature stores and drift monitors, where
    equal-WIDTH histograms collapse under skew.

    Bucket rule: value v falls in the largest bucket b (1-based) with
    boundary[b-1] <= v; interior boundaries are the exact interpolated
    quantiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``,
    bit-identical IEEE doubles — the repo's percentiles finding), so the
    assignment is engine-portable including values landing exactly ON a
    boundary.  Top values equal to the max boundary stay in bin n.

    Plan: ONE aggregate computes all interior boundaries per key (array
    form), broadcast back (keys-bounded), then a codegen'd comparison
    chain and one (key, bin) count — two data-scale passes, no sort.
    Exact percentile materializes each key's values once; swap
    approx_percentile for the unbounded-cardinality variant.
    """
    qs = [i / n_bins for i in range(1, n_bins)]
    bounds = df.groupBy(key_col).agg(
        F.expr(
            f"percentile({value_col}, array({', '.join(str(q) for q in qs)}))"
        ).alias("_bounds")
    )
    v = F.col(value_col)
    # bin = 1 + count of interior boundaries <= v  (boundaries ascending)
    bin_expr = (
        F.lit(1)
        + F.aggregate(
            F.col("_bounds"),
            F.lit(0),
            lambda acc, b: acc + F.when(b <= v, 1).otherwise(0),
        )
    ).cast("bigint")
    return (
        df.join(F.broadcast(bounds), key_col)
        .withColumn("_bin", bin_expr)
        .groupBy(key_col, "_bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
        .withColumnRenamed("_bin", "bin")
    )


def event_transitions(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-key event sequences:
    for each (from_type, to_type), how many consecutive pairs occur and
    the row-normalized transition rate in basis points — the "what do
    users do next" matrix behind path analysis and next-action models.

    Plan: ONE window shuffle partitioned by the sequence key (each key's
    history sorts within its hash partition — bounded by per-key volume,
    the right partitioning for sequence ops), a (from, to) hash
    aggregate (type²-bounded output), and a broadcast join against the
    per-from totals (type-bounded).  Rates are exact integer basis
    points — engine-portable.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    pairs = (
        df.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("n_from")
    )
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.floor(F.lit(10000) * F.col("n") / F.col("n_from"))
        .cast("bigint")
        .alias("p_bp"),
    )


def _mg_src(items: DataFrame, item_col: str) -> DataFrame:
    # nulls are excluded: a NaN key would collide with the None row the
    # MG pass uses as its partition-total marker
    return items.select(
        F.col(item_col).cast("string").alias("item")
    ).filter(F.col("item").isNotNull())


def mg_summary(items: DataFrame, item_col: str, k: int) -> DataFrame:
    """Pass 1 of :func:`heavy_hitters`, exposed on its own so a
    STREAMING consumer can fold each micro-batch's summaries into
    bounded state: per-partition Misra-Gries summaries — at most ``k``
    (item, residual-count) rows per partition plus one null-keyed row
    carrying the partition's total item count.  Arrow-batched (pandas
    ``value_counts`` per batch + dict merge), no per-row Python."""
    import pandas as pd

    src = _mg_src(items, item_col)

    def mg_partition(batches):
        counts: dict = {}
        total = 0
        for pdf in batches:
            vc = pdf["item"].value_counts(dropna=False)
            total += int(vc.sum())
            for v, c in vc.items():
                counts[v] = counts.get(v, 0) + int(c)
            if len(counts) > k:
                cut = sorted(counts.values(), reverse=True)[k]
                counts = {
                    v: c - cut for v, c in counts.items() if c - cut > 0
                }
        out = pd.DataFrame(
            {"item": list(counts.keys()) + [None],
             "n": list(counts.values()) + [total]}
        )
        yield out

    return src.mapInPandas(mg_partition, "item string, n long")


def mg_merge_counts(state: dict, incoming, k: int) -> dict:
    """Merge Misra-Gries summaries (Agarwal et al., "Mergeable
    Summaries"): add counts, and when more than ``k`` counters survive,
    subtract the (k+1)-th largest count from all and drop the
    non-positive.  The merged summary keeps the MG guarantee — any item
    with true count > N/(k+1) retains a positive counter — for ANY
    merge tree, which is what lets a streaming consumer fold
    per-micro-batch summaries into one bounded driver state without a
    batch boundary ever evicting a true heavy hitter.  Pure dict-level
    function (driver-side; the summaries are k-bounded by
    construction)."""
    merged = dict(state)
    for item, n in incoming:
        merged[item] = merged.get(item, 0) + int(n)
    if len(merged) > k:
        cut = sorted(merged.values(), reverse=True)[k]
        merged = {v: c - cut for v, c in merged.items() if c - cut > 0}
    return merged


def heavy_hitters(
    items: DataFrame,
    item_col: str,
    threshold_bp: int,
    counters: int | None = None,
) -> DataFrame:
    """EXACT heavy hitters over unbounded-cardinality data without the
    full-vocabulary shuffle: Misra-Gries candidate generation per
    partition, then an exact recount of the bounded candidate set.

    A plain ``groupBy(item).count()`` shuffles one row per distinct
    (partition, item) — at web scale the token vocabulary itself is the
    bottleneck.  Here pass 1 streams each partition through a mergeable
    Misra-Gries summary of ``k = ceil(1e4/threshold_bp)`` counters
    (Agarwal et al., "Mergeable Summaries": merge = add counts, subtract
    the (k+1)-th largest, drop non-positive), emitting at most k
    candidates per partition plus the partition's row total.  Pigeonhole
    guarantee: any item with global count > N/(k+1) exceeds the local
    MG threshold in at least one partition, and N*threshold_bp/1e4 >
    N/(k+1), so the candidate union contains EVERY true heavy hitter.
    Pass 2 recounts only candidates (broadcast semi-join — the shuffle
    carries candidate counts only) and filters by the exact integer
    predicate ``1e4 * n >= threshold_bp * N``.  Result is exact and
    independent of partitioning; the MG summary is Arrow-batched
    (pandas ``value_counts`` per batch + dict merge — no per-row
    Python).

    Two scans of ``items`` (persist upstream if it is expensive);
    driver never sees more than the candidate set.

    ``counters`` may RAISE k above the pigeonhole bound
    ``ceil(1e4/threshold_bp)`` (more candidates, fewer false positives
    to recount) but is clamped to never fall below it — a smaller k
    would silently void the exactness guarantee by letting true heavy
    hitters miss the candidate set.
    """
    import math

    k_min = math.ceil(10_000 / threshold_bp)
    k = max(counters, k_min) if counters is not None else k_min
    src = _mg_src(items, item_col)
    summary = mg_summary(items, item_col, k)
    cands = summary.filter(F.col("item").isNotNull()).select("item").distinct()
    totals = summary.filter(F.col("item").isNull()).agg(
        F.sum("n").alias("n_total")
    )
    counted = (
        src.join(F.broadcast(cands), "item")
        .groupBy("item")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
    )
    return (
        counted.crossJoin(F.broadcast(totals))
        .filter(
            F.lit(10_000) * F.col("n_occurrences")
            >= F.lit(threshold_bp) * F.col("n_total")
        )
        .select(
            F.col("item").alias(item_col),
            "n_occurrences",
            F.col("n_total").cast("bigint").alias("n_total"),
        )
    )


def ewma_smooth(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-key exponentially-weighted moving average (adjust=False
    recursion: y_i = alpha*v_i + (1-alpha)*y_{i-1}) — the smoothing pass
    behind monitoring dashboards and trend features.

    Inherently sequential per key, so it runs as ONE grouped
    Arrow-batched pass (applyInPandas → pandas ``ewm``): a single
    shuffle on ``key_col``, vectorized C inside each group, no per-row
    Python.  Per-key rows must fit one task (true of per-user/device
    series; for unbounded keys chunk by (key, epoch) and chain the
    carry — same recursion, checkpointed initial state).

    The rows-only check: EWMA is float-recursive, so no integer-exact
    cross-engine oracle; tests pin the recursion against hand-computed
    dyadic cases (alpha=0.5 keeps every intermediate exactly
    representable).
    """
    import pandas as pd

    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        pdf["ewma"] = (
            pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
        )
        return pdf

    return df.groupBy(key_col).applyInPandas(
        smooth, f"{out_fields}, ewma double"
    )


def ewma_smooth_cents(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    alpha_bp: int = 5000,
) -> DataFrame:
    """Deterministic integer-cents EWMA: per key, the latest smoothed
    level of the time-ordered series under

        y_1 = c_1;  y_i = floor((alpha_bp*c_i + (1e4-alpha_bp)*y_{i-1}) / 1e4)

    with c = ROUND(value*100) cents and alpha in basis points — every
    step is exact integer arithmetic (products < 2^53, floor division),
    so the result is bit-identical on any engine, unlike the float
    recursion of :func:`ewma_smooth` (the production smoothing pass,
    which this operator makes oracle-checkable).

    Plan: one hash aggregate per key collecting the time-ordered
    (order..., cents) structs via ``array_sort`` (never a bare
    collect_list — its order is partitioning-dependent), then a
    JVM-side ``F.aggregate`` fold over the value array.  Single
    shuffle, no Python; per-key series must fit one array — the same
    per-group bound the pandas twin already requires.

    Returns (key, ewma_cents bigint, n_points bigint).
    """
    from real_time_data_pipeline_spark.functions import stable

    beta = 10_000 - alpha_bp
    seq = F.array_sort(
        F.collect_list(
            F.struct(
                *[F.col(c) for c in order_cols],
                F.expr(stable.cents_sql(value_col)).alias("_c"),
            )
        )
    ).alias("_seq")
    per_key = df.groupBy(key_col).agg(seq)
    vals = F.transform(F.col("_seq"), lambda s: s["_c"])
    return per_key.select(
        key_col,
        F.aggregate(
            F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
            F.element_at(vals, 1).cast("bigint"),
            lambda acc, x: F.floor(
                (F.lit(alpha_bp) * x + F.lit(beta) * acc) / F.lit(10_000)
            ).cast("bigint"),
        ).alias("ewma_cents"),
        F.size(vals).cast("bigint").alias("n_points"),
    )


def session_paths(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
    gap_minutes: int = 30,
    k: int = 20,
) -> DataFrame:
    """Top-k behavioral paths: per-key gap-based sessionization, each
    session rendered as its ordered event-type sequence ("view>click>
    purchase"), counted corpus-wide — the journey-analysis rollup
    behind funnel design.

    Sessionization is the lag/cumulative-sum form (one window shuffle
    on the key, same session ids as ``session_window`` for batch data);
    the path string is built ORDER-DETERMINISTICALLY by sorting each
    session's (ts, tiebreak, type) structs with ``array_sort`` before
    joining — never a bare ``collect_list``, whose order is
    partition-dependent.  Per-session state is the session's events
    (bounded by the gap); the final count is a path-keyed hash
    aggregate with map-side combine, and top-k is
    TakeOrderedAndProject with a (n desc, path) total order.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    gap_s = gap_minutes * 60
    sess = df.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(order_tiebreak),
        F.col(type_col),
        # strict > : session_window merges an event landing EXACTLY at
        # last + gap into the running session (measured against the
        # native operator; the equality test pins this boundary)
        F.when(
            F.unix_timestamp(ts_col)
            - F.unix_timestamp(F.lag(ts_col).over(w))
            > gap_s,
            1,
        )
        .otherwise(0)
        .alias("_new_sess"),
    ).select(
        key_col,
        ts_col,
        order_tiebreak,
        type_col,
        F.sum("_new_sess").over(w).alias("_sess_id"),
    )
    paths = (
        sess.groupBy(key_col, "_sess_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(ts_col), F.col(order_tiebreak), F.col(type_col))
                )
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">", F.transform(F.col("evs"), lambda e: e[type_col])
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(k)
    )


def merge_monthly_rollup(
    prev: DataFrame,
    increment: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Incremental maintenance of the A7 monthly rollup: fold a new
    batch into a previously materialized rollup WITHOUT rescanning
    history — the count/sum partials are associative, so
    merge = union(prev partials, increment partials) + one re-aggregate
    on (year, month, key); avg is re-derived from the merged
    (total_amount, value_count) partials — never averaged-of-averages,
    and never total/transaction_count, which silently diverges from a
    full recompute when value_col has NULLs (avg ignores NULLs,
    count(*) doesn't).  The shuffle carries rollup-grain
    rows: |months × keys| from prev plus the increment's partials —
    independent of historical row count, the property that makes daily
    maintenance O(day) at a 100 TB warehouse.

    ``prev`` must be a :func:`monthly_rollup` output (or this
    function's); idempotent re-merge of the same increment is NOT
    provided here — pair with warehouse.merge_upsert's replay guard for
    exactly-once pipelines.
    """
    inc = monthly_rollup(increment, ts_col, key_col, value_col)
    cols = ["year", "month", key_col]
    partials = [*cols, "transaction_count", "value_count", "total_amount"]
    u = prev.select(*partials).unionByName(inc.select(*partials))
    return (
        u.groupBy(*cols)
        .agg(
            F.sum("transaction_count").cast("bigint").alias("transaction_count"),
            F.sum("value_count").cast("bigint").alias("value_count"),
            F.sum("total_amount").alias("total_amount"),
        )
        .withColumn(
            # NULL when value_count == 0, matching avg() over all-NULL.
            "avg_amount",
            F.when(
                F.col("value_count") > 0,
                F.col("total_amount") / F.col("value_count"),
            ),
        )
    )


def value_trend(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    x0: str = "2024-01-01",
) -> DataFrame:
    """Per-key linear trend (least-squares slope) of value over time,
    in basis points of cents/day — the "is this account's activity
    growing or decaying" feature behind churn/health scoring.

    Deterministic across engines: with x = day offset from ``x0`` and
    y = integer cents, slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) is an
    exact-BIGINT-over-exact-BIGINT division; both engines convert the
    same integers to double and floor the same quotient.  (The slope
    is shift-invariant in x; ``x0`` only keeps the integer partials
    small — keep it within a few decades of the data so the ×1e4
    numerator stays under 2^63.)  Keys with fewer than 2 distinct days
    have zero x-variance and emit NULL slope.

    One hash aggregate, map-side combined — the cheapest possible
    plan; no window, no join.
    """
    from real_time_data_pipeline_spark.functions import stable

    x = F.datediff(F.to_date(ts_col), F.lit(x0).cast("date")).cast("bigint")
    y = F.expr(stable.cents_sql(value_col))
    ok = y.isNotNull()
    agg = df.filter(ok).groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    den = F.col("n_points") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    num = F.col("n_points") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    return agg.select(
        key_col,
        "n_points",
        F.when(den > 0, F.floor(F.lit(10_000) * num / den))
        .cast("bigint")
        .alias("slope_bp"),
    )


def seasonal_naive_error(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    season_days: int = 7,
) -> DataFrame:
    """Forecast-baseline audit: score the seasonal-naive predictor
    (tomorrow == same day last week) per key, as integer-cents WAPE —
    the sanity floor every real forecasting model must beat, and a
    cheap drift signal when a stable series' WAPE jumps.

    Daily totals (integer cents) self-join on (key, day − season): only
    days with both an actual and a lagged observation score.  WAPE =
    floor(1e4 · Σ|actual − forecast| / Σ|actual|), NULL when the actual
    mass is zero.  Two hash aggregates + one co-partitioned equi-join —
    both sides keyed on the key column, no window over unbounded
    partitions.
    """
    from real_time_data_pipeline_spark.functions import stable

    daily = df.groupBy(
        F.col(key_col).alias("k"), F.to_date(ts_col).alias("day")
    ).agg(F.sum(F.expr(stable.cents_sql(value_col))).alias("cents"))
    lagged = daily.select(
        F.col("k"),
        F.date_add("day", season_days).alias("day"),
        F.col("cents").alias("fcast"),
    )
    scored = daily.join(lagged, ["k", "day"])
    return (
        scored.groupBy(F.col("k").alias(key_col))
        .agg(
            F.count("*").cast("bigint").alias("n_scored_days"),
            F.sum(F.abs(F.col("cents") - F.col("fcast")))
            .cast("bigint")
            .alias("abs_err_cents"),
            F.when(
                F.sum(F.abs("cents")) > 0,
                F.floor(
                    F.lit(10_000)
                    * F.sum(F.abs(F.col("cents") - F.col("fcast")))
                    / F.sum(F.abs("cents"))
                ),
            )
            .cast("bigint")
            .alias("wape_bp"),
        )
    )


def ohlc(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    seq_col: str,
    value_col: str,
) -> DataFrame:
    """Open/high/low/close bars per group — the resampling aggregate
    behind candlestick charts and coarse-grained telemetry rollups.

    ``value_col`` must already be an exact integer (cents/micro-units);
    open/close pick the value of the first/last row in ``(ts, seq)``
    order, with ``seq_col`` breaking timestamp ties deterministically.

    Plan: ONE hash aggregate — ``min_by``/``max_by`` keyed on a
    ``struct(ts, seq)`` ordering tuple replace the window-sort a naive
    first/last would need, so the shuffle carries four scalars per group
    per input partition (partial aggregation works: min_by merges
    associatively).  No per-key sort anywhere — this is the same
    max_by shape as ``cdc.latest_snapshot`` and scales identically.
    """
    order = F.struct(F.col(ts_col), F.col(seq_col))
    return df.groupBy(*key_cols).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min_by(F.col(value_col), order).cast("bigint").alias("open_c"),
        F.max(value_col).cast("bigint").alias("high_c"),
        F.min(value_col).cast("bigint").alias("low_c"),
        F.max_by(F.col(value_col), order).cast("bigint").alias("close_c"),
    )


def time_weighted_avg(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    seq_col: str,
    value_col: str,
) -> DataFrame:
    """Time-weighted average per key (TWAP): each observation's value is
    held until the next observation, so irregular sampling doesn't bias
    the mean toward burst periods — the standard estimator for sensor /
    price / utilization series.

    ``value_col`` must be exact integer units.  All math is integer:
    weights are microsecond interval lengths from ``lead`` over
    ``(ts, seq)``, the weighted mean is a single bigint integer
    division (``div``) — cross-engine exact, no float accumulation
    (sum(value*dt) can exceed 2^53, where float division would lose
    ulps).

    Plan: one window (``lead``) = one shuffle+sort on the key, then a
    hash aggregate that reuses the same partitioning (Catalyst elides
    the second exchange).  The final row of each key has no successor
    and carries zero weight — dropped by the ``dt IS NOT NULL`` filter.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(ts_col, seq_col)
    # testdata timestamps are TIMESTAMP_NTZ; the session runs UTC, so the
    # cast to instant-typed TIMESTAMP (which unix_micros requires) is a
    # semantic no-op.
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    dt = F.lead(us).over(w) - us
    stepped = df.select(
        *key_cols,
        F.col(value_col).cast("bigint").alias("_v"),
        dt.alias("_dt_us"),
    ).filter(F.col("_dt_us").isNotNull())
    return stepped.groupBy(*key_cols).agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum("_dt_us").cast("bigint").alias("span_us"),
        # A key whose every interval is zero-length (all rows at one
        # instant) has no time to average over: NULL, guarded explicitly
        # because integer division by zero is an ERROR under ANSI mode
        # (and NULL, not an error, in oracle engines — the CASE makes
        # both produce NULL).
        F.expr(
            "CASE WHEN SUM(_dt_us) > 0 "
            "THEN CAST(SUM(_v * _dt_us) DIV SUM(_dt_us) AS BIGINT) END"
        ).alias("twap_c"),
    )


def ohlc_state(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    seq_col: str,
    value_col: str,
) -> DataFrame:
    """Mergeable OHLC summary: :func:`ohlc` plus the winning ordering
    keys (``open_at``/``close_at`` structs), which is exactly what makes
    the bar re-mergeable — two summaries of disjoint slices fold by
    letting the earlier ``open_at`` keep its open and the later
    ``close_at`` keep its close.  ``ohlc_state`` over any partition of
    the rows, merged by :func:`merge_ohlc_state`, equals ``ohlc_state``
    over the whole input (min/max/min_by/max_by/sum are all
    associative+commutative) — the invariant the streaming maintainer
    and its batch oracle share.
    """
    order = F.struct(
        F.col(ts_col).alias("t"), F.col(seq_col).cast("long").alias("s")
    )
    return df.groupBy(*key_cols).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min(order).alias("open_at"),
        F.min_by(F.col(value_col), order).cast("bigint").alias("open_c"),
        F.max(value_col).cast("bigint").alias("high_c"),
        F.min(value_col).cast("bigint").alias("low_c"),
        F.max(order).alias("close_at"),
        F.max_by(F.col(value_col), order).cast("bigint").alias("close_c"),
    )


def merge_ohlc_state(state: DataFrame, increment: DataFrame, key_cols: list[str]) -> DataFrame:
    """Fold one :func:`ohlc_state` summary into another: union + one
    re-reduce where min_by/max_by now key on the summaries' own
    ``open_at``/``close_at``.  Both sides are one row per group, so the
    shuffle volume is |groups| regardless of absorbed history — the
    steady-state bar maintainer for a 100 TB event stream.
    """
    cols = state.columns
    if set(cols) != set(increment.columns):
        raise ValueError(
            f"state column mismatch: {sorted(cols)} vs {sorted(increment.columns)}"
        )
    u = state.select(*cols).unionAll(increment.select(*cols))
    return u.groupBy(*key_cols).agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.min("open_at").alias("open_at"),
        F.min_by(F.col("open_c"), F.col("open_at")).cast("bigint").alias("open_c"),
        F.max("high_c").cast("bigint").alias("high_c"),
        F.min("low_c").cast("bigint").alias("low_c"),
        F.max("close_at").alias("close_at"),
        F.max_by(F.col("close_c"), F.col("close_at")).cast("bigint").alias("close_c"),
    )


# ------------------------------------------------------------- q-digest

QD_L = 16            # universe [0, 2^16) integer cents
QD_K = 256           # compression parameter; thr = n div k


def _qdigest_build(hist: dict, level_bits: int, thr: int) -> dict:
    """Deterministic bottom-up q-digest compression (Shrivastava et al.
    2004) over an integer histogram: leaves at level L carry the
    counts; per level, a sibling pair whose combined count is below
    ``thr`` is pushed into its parent (internal nodes start at 0, and
    a push target is only ever created one level up from the level
    being processed, so the classic c(v)+c(sibling)+c(parent) < thr
    test reduces to the children sum; ``thr`` 0, a histogram of fewer
    than k rows, keeps every leaf).  Pure integer arithmetic, fixed
    processing order — identical in any engine."""
    cur = {(1 << level_bits) + c: int(n) for c, n in hist.items()}
    out: dict = {}
    for _lvl in range(level_bits, 0, -1):
        parents: dict = {}
        for idx, n in cur.items():
            parents[idx >> 1] = parents.get(idx >> 1, 0) + n
        nxt: dict = {}
        for p, sc in parents.items():
            if sc < thr:
                nxt[p] = sc
            else:
                for child in (2 * p, 2 * p + 1):
                    if child in cur:
                        out[child] = cur[child]
        cur = nxt
    out.update(cur)  # root-level leftovers
    return out


def _qdigest_compress(nodes: dict, level_bits: int, thr: int) -> dict:
    """Recompress a MIXED-LEVEL q-digest node multiset bottom-up — the
    merge step (Shrivastava et al. 2004 §4.2): per level, a parent
    whose children-sum plus its own count stays below ``thr`` absorbs
    the children (the classic c(v)+c(sibling)+c(parent) < thr test;
    unlike :func:`_qdigest_build`'s leaf-only input, merged digests
    already hold counts at internal nodes, so the parent term is
    live).  Pure integer arithmetic, fixed level order — identical in
    any engine."""
    cur = dict(nodes)
    for lvl in range(level_bits, 0, -1):
        lo, hi = 1 << lvl, 1 << (lvl + 1)
        parents: dict = {}
        for i in [j for j in cur if lo <= j < hi]:
            parents[i >> 1] = parents.get(i >> 1, 0) + cur[i]
        for p, kid_sum in parents.items():
            tot = kid_sum + cur.get(p, 0)
            if tot < thr:
                cur.pop(2 * p, None)
                cur.pop(2 * p + 1, None)
                cur[p] = tot
    return cur


def _qdigest_walk_ledger(
    digest: dict, hist: dict, level_bits: int, thr: int, quantiles_bp: tuple
) -> list:
    """One ledger row per quantile for a digest against the true
    histogram — (q_bp, est, target, rank_lo, rank_hi, rank_err,
    err_limit, within_bound, n_nodes), the ``qdigest_quantiles`` row —
    shared by the one-shot, merge-certificate and streaming entries:
    the canonical walk (range-hi asc, range-lo desc), est's exact rank
    interval [rank_lo, rank_hi] in the true histogram (may be empty),
    and the classic L·thr bound."""
    n = sum(hist.values())

    def node_range(idx: int) -> tuple:
        lvl = idx.bit_length() - 1
        span = 1 << (level_bits - lvl)
        lo = (idx - (1 << lvl)) * span
        return lo, lo + span - 1

    walk = sorted(
        ((node_range(i)[1], -node_range(i)[0], c) for i, c in digest.items())
    )
    cents_sorted = sorted(hist)
    cum_before = {}
    run = 0
    for c in cents_sorted:
        cum_before[c] = run
        run += hist[c]

    def ranks(v: int) -> tuple:
        lo = 0
        for c in cents_sorted:
            if c < v:
                lo = cum_before[c] + hist[c]
            else:
                break
        return lo + 1, lo + hist.get(v, 0)

    err_limit = level_bits * thr
    out = []
    for q_bp in quantiles_bp:
        target = (q_bp * n + 9999) // 10000
        cum = 0
        est = (1 << level_bits) - 1
        for hi, _neg_lo, c in walk:
            cum += c
            if cum >= target:
                est = hi
                break
        r_lo, r_hi = ranks(est)
        rank_err = max(0, r_lo - 1 - target, target - r_hi)
        out.append(
            (q_bp, est, target, r_lo, r_hi, rank_err, err_limit,
             rank_err <= err_limit, len(digest))
        )
    return out


def _qdigest_cents(value_col: str) -> F.Column:
    return F.floor(F.col(value_col).cast("double") * F.lit(100)).cast("bigint")


def qdigest_merge(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    k: int = QD_K,
    level_bits: int = QD_L,
    quantiles_bp: tuple = (2500, 5000, 7500, 9000, 9900),
) -> DataFrame:
    """Q-digest MERGE certificate (VERDICT r9 #7 — kmv_merge's
    analogue at the quantile tier): per-``group_col`` digests built
    independently (each with its own n_g div k threshold — the
    per-shard/per-day sketches a 100 TB rollup persists), merged by
    nodewise count sum + one recompression at the global n div k
    threshold, and read through the SAME canonical walk as the
    one-shot digest.  The ledger carries BOTH digests' estimates with
    their exact rank errors against the true histogram and pins
    ``within_bound`` on BOTH sides — the mergeability property
    (ε preserved under merge) as a driver-checkable row set instead of
    a property test.  Every step is integer-deterministic; the DuckDB
    oracle replays the per-group builds (compression unrolled per
    level), the merge, the recompression, and both walks.

    Output: (q_bp, target_rank, est_merged, rank_err_merged,
    within_merged, est_oneshot, rank_err_oneshot, within_oneshot,
    err_limit, n_nodes_merged, n_groups).

    Scale shape: the ONE corpus-scale operation is the (group, cents)
    hash aggregate; the collected frame is bounded by
    |groups| · 2^level_bits rows (groups is a tiny enum here), and
    everything after runs on digest dicts of ≤ ~3k nodes each."""
    rows = (
        df.select(
            F.col(group_col).alias("grp"), _qdigest_cents(value_col).alias("cents")
        )
        .groupBy("grp", "cents")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .collect()  # bounded: <= |groups| * 2^level_bits rows
    )
    by_grp: dict = {}
    hist: dict = {}
    for r in rows:
        c, n = int(r["cents"]), int(r["cnt"])
        assert 0 <= c < (1 << level_bits), (
            "value outside the configured q-digest universe"
        )
        by_grp.setdefault(r["grp"], {})
        by_grp[r["grp"]][c] = by_grp[r["grp"]].get(c, 0) + n
        hist[c] = hist.get(c, 0) + n
    n = sum(hist.values())
    thr = n // k
    merged_nodes: dict = {}
    for g, gh in by_grp.items():
        g_n = sum(gh.values())
        gd = _qdigest_build(gh, level_bits, g_n // k)
        for i, c in gd.items():
            merged_nodes[i] = merged_nodes.get(i, 0) + c
    merged = _qdigest_compress(merged_nodes, level_bits, thr)
    oneshot = _qdigest_build(hist, level_bits, thr)
    lm = _qdigest_walk_ledger(merged, hist, level_bits, thr, quantiles_bp)
    lo = _qdigest_walk_ledger(oneshot, hist, level_bits, thr, quantiles_bp)
    out = [
        (m[0], m[2], m[1], m[5], m[7], o[1], o[5], o[7], m[6], m[8], len(by_grp))
        for m, o in zip(lm, lo)
    ]
    return local_frame(
        df.sparkSession,
        out,
        "q_bp bigint, target_rank bigint, est_merged bigint, "
        "rank_err_merged bigint, within_merged boolean, "
        "est_oneshot bigint, rank_err_oneshot bigint, "
        "within_oneshot boolean, err_limit bigint, "
        "n_nodes_merged bigint, n_groups bigint",
    )


def qdigest_quantiles(
    df: DataFrame,
    value_col: str = "value",
    k: int = QD_K,
    level_bits: int = QD_L,
    quantiles_bp: tuple = (2500, 5000, 7500, 9000, 9900),
) -> DataFrame:
    """Q-digest quantile sketch certified EXACTLY — the mergeable
    QUANTILE member of the deterministic sketch tier (next to KMV for
    distincts and CMS for frequencies, and the bounded-summary sibling
    of the exact-rank ``percentiles``/``approx_percentiles_envelope``
    pair): values quantize to integer cents on a 2^L universe, the
    histogram compresses bottom-up with threshold ``n div k``, and the
    quantile walk reads the digest in the canonical (range-hi asc,
    range-lo desc) order.  Every step is integer-deterministic, so the
    DuckDB oracle recomputes the WHOLE sketch — compression stages
    unrolled — plus the exact rank ledger:

      (q_bp, est_cents, target_rank, rank_lo, rank_hi, rank_err,
       err_limit, within_bound, n_nodes)

    where target_rank = ceil(q·n), [rank_lo, rank_hi] is est_cents'
    exact rank interval in the true histogram, rank_err its distance
    from target, and within_bound pins the classic q-digest guarantee
    rank_err < L·thr (≤ L·n/k).

    Scale shape: the ONE corpus-scale operation is the (cents → count)
    hash aggregate; everything after runs on the histogram, which is
    UNIVERSE-bounded (≤ 2^L rows regardless of corpus size), so the
    driver build mirrors how a 100 TB run builds per-shard digests —
    bounded state (≤ ~3k nodes at k=256), merge = nodewise count sum +
    recompress (ε-bound preserved; property-tested, not hash-pinned:
    a merged digest is a VALID digest but not structurally identical
    to the one-shot build)."""
    return qdigest_from_histogram(
        qdigest_histogram(df, value_col), k, level_bits, quantiles_bp
    )


def qdigest_histogram(df: DataFrame, value_col: str = "value") -> DataFrame:
    """(cents, cnt) histogram of ``value_col`` on the q-digest's integer
    cents universe — the one corpus-scale step of
    :func:`qdigest_quantiles`, additive across any split of ``df``."""
    return (
        df.select(_qdigest_cents(value_col).alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def qdigest_from_histogram(
    hist_df: DataFrame,
    k: int = QD_K,
    level_bits: int = QD_L,
    quantiles_bp: tuple = (2500, 5000, 7500, 9000, 9900),
) -> DataFrame:
    """The :func:`qdigest_quantiles` digest and rank ledger from a
    (cents, cnt) histogram frame with one row per cents value."""
    hist = {
        int(r["cents"]): int(r["cnt"])
        for r in hist_df.collect()  # universe-bounded: <= 2^level_bits rows
    }
    if not all(0 <= c < (1 << level_bits) for c in hist):
        raise ValueError("value outside the configured q-digest universe")
    thr = sum(hist.values()) // k
    digest = _qdigest_build(hist, level_bits, thr)
    return local_frame(
        hist_df.sparkSession,
        _qdigest_walk_ledger(digest, hist, level_bits, thr, quantiles_bp),
        "q_bp bigint, est_cents bigint, target_rank bigint, "
        "rank_lo bigint, rank_hi bigint, rank_err bigint, "
        "err_limit bigint, within_bound boolean, n_nodes bigint",
    )
