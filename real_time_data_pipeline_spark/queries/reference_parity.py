"""Reference-parity queries (SURVEY.md §2) mapped onto the driver testdata.

The reference's domain is banking transactions; the driver's stream table
is `events` (event_id, ts, user_id, event_type, value, props).  Mapping
(FIXTURES.md §5): ts≈event_time, user_id≈account_id, value≈amount,
event_type≈transaction_type.  Every query here has a DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.functions.stable import (
    avg_money_sql,
    cents_sql,
    sum_money_sql,
)
from real_time_data_pipeline_spark.operators import aggregates, cache
from real_time_data_pipeline_spark.schemas import load_table

EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]

# P5 category thresholds mapped onto event types (reference
# transaction_processor.py:256-265 uses 1000/500/100 for
# deposit/withdrawal/payment; purchase/click/view are the analogues here).
CATEGORY_CASE_SQL = """
    CASE
      WHEN event_type = 'purchase' THEN
        CASE WHEN value > 100 THEN 'large_purchase' ELSE 'regular_purchase' END
      WHEN event_type = 'click' THEN
        CASE WHEN value > 50 THEN 'large_click' ELSE 'regular_click' END
      WHEN event_type = 'view' THEN
        CASE WHEN value > 10 THEN 'large_view' ELSE 'regular_view' END
      ELSE event_type
    END
"""

VALID_SQL = (
    "event_id IS NOT NULL AND user_id IS NOT NULL AND "
    "event_type IS NOT NULL AND value IS NOT NULL AND value > 0"
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- A1 tumbling variant is the flagship in __spark_entry__ ---


def q_sliding_window_agg(spark, sf_dir):
    """A3 (declared-only in reference, spark_config.yml:36-37): 1h window
    sliding every 30min."""
    df = _events(spark, sf_dir)
    return (
        df.groupBy(F.window("ts", "1 hour", "30 minutes").alias("window"), "user_id")
        .agg(
            F.count("event_id").alias("transaction_count"),
            F.expr(sum_money_sql("value")).alias("total_amount"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "user_id",
            "transaction_count",
            "total_amount",
        )
    )


def q_validate(spark, sf_dir):
    """P3/P4: validity predicate + conditional label (reference
    transaction_processor.py:218-243)."""
    df = _events(spark, sf_dir)
    is_valid = F.expr(VALID_SQL)
    return df.select(
        "event_id",
        is_valid.alias("is_valid"),
        F.when(is_valid, "valid").otherwise("invalid").alias("validation_result"),
    )


def q_categorize(spark, sf_dir):
    """P5: nested CASE categorization (reference
    transaction_processor.py:256-265)."""
    return _events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.expr(CATEGORY_CASE_SQL).alias("transaction_category"),
    )


def q_validation_summary(spark, sf_dir):
    """A5: batch validation rollup (reference validator.py:197-218).
    success_rate as exact integer basis points / 100."""
    df = _events(spark, sf_dir)
    return df.agg(
        F.count("*").alias("total"),
        F.sum(F.expr(f"CASE WHEN {VALID_SQL} THEN 1 ELSE 0 END")).alias("valid_count"),
        F.sum(F.expr(f"CASE WHEN {VALID_SQL} THEN 0 ELSE 1 END")).alias("invalid_count"),
        F.expr(
            f"CAST(FLOOR((2e0 * 10000 * SUM(CASE WHEN {VALID_SQL} THEN 1 ELSE 0 END)"
            f" + COUNT(*)) / (2e0 * COUNT(*))) AS BIGINT) / 1e2"
        ).alias("success_rate"),
    )


def q_dq_suite_metrics(spark, sf_dir):
    """§2.6: expectation suite compiled to predicates, per-expectation
    pass/fail counts over events."""
    from real_time_data_pipeline_spark.operators.quality import (
        Expectation,
        suite_metrics,
    )

    suite = [
        Expectation("event_id", "not_null"),
        Expectation("event_id", "unique"),
        Expectation("user_id", "not_null"),
        Expectation("event_type", "in_set", {"value_set": EVENT_TYPES}),
        Expectation("value", "between", {"min_value": 0.01, "max_value": 1_000_000.0}),
    ]
    return suite_metrics(_events(spark, sf_dir), suite)


def q_validation_results(spark, sf_dir):
    """Validation-results artifact (reference validator.py:228-256
    ``save_validation_results``): per-run, per-expectation results plus
    the run rollup — exactly the DataFrame the persistence path writes,
    so this oracle also covers what lands on disk."""
    from real_time_data_pipeline_spark.operators.quality import (
        Expectation,
        validation_results,
    )

    suite = [
        Expectation("event_id", "not_null"),
        Expectation("event_id", "unique"),
        Expectation("user_id", "not_null"),
        Expectation("event_type", "in_set", {"value_set": EVENT_TYPES}),
        Expectation("value", "between", {"min_value": 0.01, "max_value": 1_000_000.0}),
    ]
    return validation_results(_events(spark, sf_dir), suite, run_id="run-001")


def q_uniqueness_violations(spark, sf_dir):
    """A6: keys appearing more than once (GE unique expectation,
    validator.py:79-84) — l_orderkey over lineitem has natural dups."""
    return aggregates.uniqueness_violations(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey"
    )


def q_enrich_join(spark, sf_dir):
    """J1/J2: fact→dimension enrichment chain (orders→customer→nation→
    region stands in for transactions→accounts→customers, reference
    transaction.py:97-110).

    nation/region are bounded dims → broadcast hints.  customer stands
    in for the accounts table and SCALES with SF, so the enriched dim
    carries no hint — autoBroadcastJoinThreshold/AQE picks broadcast at
    small SF and a shuffled join at 100 TB.  (The banking-schema
    accounts/customers dims in operators/joins.py stay hinted: those
    are bounded by business design.)"""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_name", "c_mktsegment",
                F.col("n_name").alias("nation_name"),
                F.col("r_name").alias("region_name"))
    )
    return orders.join(dim, orders.o_custkey == dim.c_custkey, "left").select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment", "nation_name", "region_name"
    )


def q_self_join(spark, sf_dir):
    """J3: self-link (reference_id→transaction_id analogue): each lineitem
    linked to the next line of the same order."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    nxt = li.select(
        F.col("l_orderkey").alias("r_orderkey"),
        F.col("l_linenumber").alias("r_linenumber"),
        F.col("l_quantity").alias("next_quantity"),
    )
    return li.join(
        nxt,
        (li.l_orderkey == nxt.r_orderkey)
        & (li.l_linenumber + 1 == nxt.r_linenumber),
    ).select("l_orderkey", "l_linenumber", "l_quantity", "next_quantity")


def q_monthly_rollup(spark, sf_dir):
    """A7: transaction_summary (year, month, key) rollup
    (spark_config.yml:62,68-69)."""
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.year("ts").alias("year"),
            F.month("ts").alias("month"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("transaction_count"),
            F.expr(sum_money_sql("value")).alias("total_amount"),
            F.expr(avg_money_sql("value")).alias("avg_amount"),
        )
    )


def q_rollup_incremental(spark, sf_dir):
    """Incremental maintenance of the A7 monthly rollup under the hash
    gate: history (pre-Jan-16) is rolled up first, the rest of the month
    is folded in via operators/aggregates.merge_monthly_rollup — and the
    oracle is a FULL recompute over all events, so the driver verifies
    merge(rollup(old), new) == rollup(old ∪ new) value-for-value.  Runs
    on integer cents (value NULLs pass through) so the round-4 NULL fix
    — avg derived from the (total, value_count) partials, never
    total/count(*) — is exactly what the hash pins."""
    from real_time_data_pipeline_spark.operators.aggregates import (
        merge_monthly_rollup,
        monthly_rollup,
    )
    from real_time_data_pipeline_spark.functions.stable import cents_sql

    ev = _events(spark, sf_dir).select(
        "user_id", "ts", F.expr(cents_sql("value")).alias("cents")
    )
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    prev = monthly_rollup(
        ev.filter(F.col("ts") < cutoff), "ts", "user_id", "cents"
    )
    merged = merge_monthly_rollup(
        prev, ev.filter(F.col("ts") >= cutoff), "ts", "user_id", "cents"
    )
    return merged.select(
        "year",
        "month",
        "user_id",
        "transaction_count",
        "value_count",
        F.col("total_amount").cast("bigint").alias("total_cents"),
        F.col("avg_amount").alias("avg_cents"),
    )


def q_stream_rollup_incremental(spark, sf_dir):
    """Streaming A7 maintenance — the third evidence layer on the same
    full-recompute oracle as `monthly_rollup`/`rollup_incremental`: the
    pre-cutoff rollup is the seeded state, post-cutoff events ARRIVE AS
    A STREAM, and every micro-batch folds into the state via
    merge_monthly_rollup (associative partials, so any batch split
    yields the identical final table).  State is checkpointed in the
    engine at ROLLUP grain between batches (|months × keys| rows —
    bounded; see :func:`swap_state`), so no row reaches the driver and
    each batch's plan is one fold deep."""
    from real_time_data_pipeline_spark.operators.aggregates import (
        merge_monthly_rollup,
        monthly_rollup,
    )

    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", F.expr(cents_sql("value")).alias("cents")
    )
    state = monthly_rollup(
        ev.filter(F.col("ts") < cutoff), "ts", "user_id", "cents"
    )
    holder = {"state": state}

    def fold(batch, _i):
        inc = batch.filter(F.col("ts") >= cutoff).select(
            "user_id", "ts", F.expr(cents_sql("value")).alias("cents")
        )
        swap_state(
            holder,
            merge_monthly_rollup(
                holder["state"], inc, "ts", "user_id", "cents"
            ),
        )

    drain(
        _stream_events(spark, sf_dir).select("user_id", "ts", "value"),
        "stream_rollup_incremental",
        fold,
    )
    return holder["state"].select(
        "year",
        "month",
        "user_id",
        "transaction_count",
        "value_count",
        F.col("total_amount").cast("bigint").alias("total_cents"),
        F.col("avg_amount").alias("avg_cents"),
    )


def q_session_agg(spark, sf_dir):
    """N5: session windows (30 min gap) per user via built-in
    session_window; money-stable sum."""
    df = _events(spark, sf_dir)
    return (
        df.groupBy(
            F.session_window("ts", "30 minutes").alias("session"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.expr(sum_money_sql("value")).alias("total_value"),
        )
        .select(
            F.col("session.start").alias("session_start"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def q_stream_session_agg(spark, sf_dir):
    """N5 executed by the STREAMING engine — the fourth streaming
    operator class under the value-hash gate (merging session-window
    state, vs tumbling-window aggregate / stream-static join /
    stateless transform): 30-minute-gap sessions per user over the
    streamed events, complete-mode foreachBatch capture (latest
    snapshot only), hash-checked against `session_agg`'s batch
    oracle."""
    agg = (
        _stream_events(spark, sf_dir)
        .groupBy(
            F.session_window("ts", "30 minutes").alias("session"),
            F.col("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.expr(sum_money_sql("value")).alias("total_value"),
        )
        .select(
            F.col("session.start").alias("session_start"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
    # r11: parquet capture sink (see stream_capture) — complete mode
    # overwrites per batch, so the surviving files are the final
    # snapshot, exactly what the old rows.clear()+collect kept.
    return stream_capture(agg, "stream_session_agg", output_mode="complete")


def q_stream_sliding_window_agg(spark, sf_dir):
    """A3 executed by the streaming engine: the declared-tier sliding
    window (1h window / 30min slide, spark_config.yml:36-37) over the
    streamed events, complete-mode latest-snapshot capture — same
    oracle as the batch `sliding_window_agg`."""
    agg = (
        _stream_events(spark, sf_dir)
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("window"),
            F.col("user_id"),
        )
        .agg(
            F.count("event_id").alias("transaction_count"),
            F.expr(sum_money_sql("value")).alias("total_amount"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "user_id",
            "transaction_count",
            "total_amount",
        )
    )
    # r11: parquet capture sink (see stream_capture).
    return stream_capture(
        agg, "stream_sliding_window_agg", output_mode="complete"
    )


def q_scalar_functions(spark, sf_dir):
    """F1-F11 smoke: timestamp parts, ISO formatting, concat hash
    (sha256), initcap — all cross-checkable in DuckDB."""
    df = _events(spark, sf_dir)
    return df.select(
        "event_id",
        F.year("ts").alias("year"),
        F.month("ts").alias("month"),
        F.dayofmonth("ts").alias("day"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("iso_ts"),
        F.initcap("event_type").alias("title_type"),
        F.sha2(F.concat_ws("|", F.col("event_id").cast("string"), "event_type"), 256).alias("row_hash"),
    )


def q_json_extract(spark, sf_dir):
    """S4/S5 serde: parse the props JSON column with an explicit schema
    (from_json, reference transaction_processor.py:167)."""
    df = _events(spark, sf_dir)
    return df.select(
        "event_id",
        F.from_json("props", "k int").getField("k").alias("k"),
    )


def q_dead_letter(spark, sf_dir):
    """S10 (declared-only, kafka_config.yml:28-30): route records failing
    validation to a dead-letter output — here the filter side."""
    df = _events(spark, sf_dir)
    return df.filter(~F.expr(VALID_SQL) | (F.col("event_type") == "error")).select(
        "event_id", "user_id", "event_type"
    )


def q_alerts(spark, sf_dir):
    """S11 (declared-only, kafka_config.yml:25): alert stream — large
    purchases (the banking.alerts analogue)."""
    df = _events(spark, sf_dir)
    return df.filter((F.col("event_type") == "purchase") & (F.col("value") > 150)).select(
        "event_id",
        "user_id",
        F.expr("CAST(ROUND(value * 100) AS BIGINT) / 1e2").alias("value"),
        F.lit("large_purchase").alias("alert_type"),
    )


def q_approx_distinct(spark, sf_dir):
    """N2: HyperLogLog approximate distinct users/types per event_type vs
    exact.  Rows-only: DuckDB's approx_count_distinct uses a different HLL
    implementation so values can't hash-match; the unit test pins the
    approximation against the exact count at rsd=0.05 instead."""
    df = _events(spark, sf_dir)
    return df.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.05).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


def q_approx_distinct_envelope(spark, sf_dir):
    """HLL error-envelope certification — approx_distinct's accuracy
    contract as an oracle row (VERDICT r7 #5, the
    approx_percentiles_envelope pattern): per event type, the EXACT
    distinct-user count (cross-engine value) plus ``within_3rsd`` =
    |approx - exact| <= 3·rsd·exact, which the oracle pins TRUE.  The
    HLL++ estimate itself stays rows-only by nature (DuckDB's sketch
    differs) but it is DETERMINISTIC (register max-merge is
    order-independent), so the flag cannot flake; a sketch regression
    beyond the 3-sigma bound flips it and fails the hash."""
    df = _events(spark, sf_dir)
    agg = df.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.05).alias("_approx"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= F.lit(3 * 0.05) * F.col("exact_users")
        ).alias("within_3rsd"),
    )


# FK relations for the cross-table integrity suite: (name, fact, fk, dim, pk).
FK_RELATIONS = [
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
]


def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 extension: referential-integrity expectations across the
    warehouse's FK graph (operators/quality.referential_integrity), one
    row per relation."""
    from functools import reduce

    from real_time_data_pipeline_spark.operators.quality import (
        referential_integrity,
    )

    parts = [
        referential_integrity(
            load_table(spark, sf_dir, fact),
            fk,
            load_table(spark, sf_dir, dim),
            pk,
            name,
        )
        for name, fact, fk, dim, pk in FK_RELATIONS
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


QUERIES = {
    "sliding_window_agg": q_sliding_window_agg,
    "approx_distinct": q_approx_distinct,  # rows-only (sketch values; contract oracle below)
    "approx_distinct_envelope": q_approx_distinct_envelope,  # oracle-backed (exact count + pinned 3-sigma flag)
    "validate": q_validate,
    "categorize": q_categorize,
    "validation_summary": q_validation_summary,
    "dq_suite_metrics": q_dq_suite_metrics,
    "validation_results": q_validation_results,
    "uniqueness_violations": q_uniqueness_violations,
    "enrich_join": q_enrich_join,
    "self_join": q_self_join,
    "monthly_rollup": q_monthly_rollup,
    "rollup_incremental": q_rollup_incremental,
    "stream_rollup_incremental": q_stream_rollup_incremental,
    "stream_session_agg": q_stream_session_agg,
    "stream_sliding_window_agg": q_stream_sliding_window_agg,
    "session_agg": q_session_agg,
    "scalar_functions": q_scalar_functions,
    "json_extract": q_json_extract,
    "dead_letter": q_dead_letter,
    "alerts": q_alerts,
    "dq_referential": q_dq_referential,
}

_DQ_REFERENTIAL_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT '{name}' AS relation,
           CAST(count(*) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN d.__pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS orphan_rows
    FROM {fact} f
    LEFT JOIN (SELECT DISTINCT {pk} AS __pk FROM {dim}) d
      ON f.{fk} = d.__pk
    """
    for name, fact, fk, dim, pk in FK_RELATIONS
)


ORACLES = {
    "approx_distinct_envelope": """
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
               true AS within_3rsd
        FROM events GROUP BY 1
    """,
    # Sliding windows: each event belongs to the two 30-min-aligned
    # windows [floor30(ts), +1h) and [floor30(ts)-30m, +1h).
    "sliding_window_agg": f"""
        WITH shifted AS (
          SELECT
            CAST(to_timestamp(floor(epoch(ts)/1800)*1800 - 1800*s.off) AS TIMESTAMP)
              AS window_start,
            user_id, event_id, value
          FROM events, (SELECT unnest([0,1]) AS off) s
        )
        SELECT window_start, user_id,
               count(event_id) AS transaction_count,
               {sum_money_sql('value')} AS total_amount
        FROM shifted GROUP BY 1,2
    """,
    "validate": f"""
        SELECT event_id,
               ({VALID_SQL}) AS is_valid,
               CASE WHEN {VALID_SQL} THEN 'valid' ELSE 'invalid' END AS validation_result
        FROM events
    """,
    "categorize": f"""
        SELECT event_id, event_type, {CATEGORY_CASE_SQL} AS transaction_category
        FROM events
    """,
    "validation_summary": f"""
        SELECT count(*) AS total,
               CAST(SUM(CASE WHEN {VALID_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS valid_count,
               CAST(SUM(CASE WHEN {VALID_SQL} THEN 0 ELSE 1 END) AS BIGINT) AS invalid_count,
               CAST(FLOOR((2e0 * 10000 * SUM(CASE WHEN {VALID_SQL} THEN 1 ELSE 0 END)
                 + COUNT(*)) / (2e0 * COUNT(*))) AS BIGINT) / 1e2 AS success_rate
        FROM events
    """,
    "dq_suite_metrics": """
        WITH flags AS (
          SELECT
            (event_id IS NOT NULL) AS p0,
            (count(*) OVER (PARTITION BY event_id) = 1) AS p1,
            (user_id IS NOT NULL) AS p2,
            (event_type IS NULL OR event_type IN ('click','purchase','error','signup','view')) AS p3,
            (value IS NULL OR value BETWEEN 0.01 AND 1000000.0) AS p4
          FROM events
        )
        SELECT 'event_id' AS column, 'not_null' AS expectation_type,
               CAST(SUM(CASE WHEN p0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
               CAST(SUM(CASE WHEN p0 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail FROM flags
        UNION ALL
        SELECT 'event_id', 'unique', CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN p1 THEN 0 ELSE 1 END) AS BIGINT) FROM flags
        UNION ALL
        SELECT 'user_id', 'not_null', CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN p2 THEN 0 ELSE 1 END) AS BIGINT) FROM flags
        UNION ALL
        SELECT 'event_type', 'in_set', CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN p3 THEN 0 ELSE 1 END) AS BIGINT) FROM flags
        UNION ALL
        SELECT 'value', 'between', CAST(SUM(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN p4 THEN 0 ELSE 1 END) AS BIGINT) FROM flags
    """,
    "validation_results": """
        WITH flags AS (
          SELECT
            (event_id IS NOT NULL) AS p0,
            (count(*) OVER (PARTITION BY event_id) = 1) AS p1,
            (user_id IS NOT NULL) AS p2,
            (event_type IS NULL OR event_type IN ('click','purchase','error','signup','view')) AS p3,
            (value IS NULL OR value BETWEEN 0.01 AND 1000000.0) AS p4
          FROM events
        ), tot AS (
          SELECT count(*) AS total,
                 CAST(SUM(CASE WHEN p0 AND p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows
          FROM flags
        ), rules AS (
          SELECT 'event_id' AS column, 'not_null' AS expectation_type,
                 CAST(SUM(CASE WHEN p0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                 CAST(SUM(CASE WHEN p0 THEN 0 ELSE 1 END) AS BIGINT) AS n_fail FROM flags
          UNION ALL
          SELECT 'event_id', 'unique', CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN p1 THEN 0 ELSE 1 END) AS BIGINT) FROM flags
          UNION ALL
          SELECT 'user_id', 'not_null', CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN p2 THEN 0 ELSE 1 END) AS BIGINT) FROM flags
          UNION ALL
          SELECT 'event_type', 'in_set', CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN p3 THEN 0 ELSE 1 END) AS BIGINT) FROM flags
          UNION ALL
          SELECT 'value', 'between', CAST(SUM(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN p4 THEN 0 ELSE 1 END) AS BIGINT) FROM flags
        )
        SELECT 'run-001' AS run_id, rules.column, rules.expectation_type,
               rules.n_pass, rules.n_fail, tot.total, tot.valid_rows,
               tot.total - tot.valid_rows AS invalid_rows,
               CASE WHEN tot.total = 0 THEN CAST(0 AS BIGINT) ELSE
                 CAST(FLOOR((2e0 * 10000 * tot.valid_rows + tot.total)
                   / (2e0 * tot.total)) AS BIGINT) END AS success_rate_bp
        FROM rules, tot
    """,
    "uniqueness_violations": """
        SELECT l_orderkey, count(*) AS n FROM lineitem
        GROUP BY l_orderkey HAVING count(*) > 1
    """,
    "enrich_join": """
        SELECT o_orderkey, o_custkey, c_name, c_mktsegment,
               n_name AS nation_name, r_name AS region_name
        FROM orders
        LEFT JOIN customer ON o_custkey = c_custkey
        LEFT JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
    """,
    "self_join": """
        SELECT l1.l_orderkey, l1.l_linenumber, l1.l_quantity,
               l2.l_quantity AS next_quantity
        FROM lineitem l1
        JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey
         AND l1.l_linenumber + 1 = l2.l_linenumber
    """,
    "monthly_rollup": f"""
        SELECT year(ts) AS year, month(ts) AS month, user_id,
               count(*) AS transaction_count,
               {sum_money_sql('value')} AS total_amount,
               {avg_money_sql('value')} AS avg_amount
        FROM events GROUP BY 1,2,3
    """,
    # FULL recompute — the Spark side merges an increment into a prior
    # rollup (batch) or folds streamed micro-batches into seeded state
    # (streaming twin), so hash equality proves incremental == full.
    "rollup_incremental": f"""
        SELECT year(ts) AS year, month(ts) AS month, user_id,
               count(*) AS transaction_count,
               CAST(count(value) AS BIGINT) AS value_count,
               CAST(sum({cents_sql('value')}) AS BIGINT) AS total_cents,
               CASE WHEN count(value) > 0
                    THEN sum({cents_sql('value')}) / count(value)
               END AS avg_cents
        FROM events GROUP BY 1,2,3
    """,
    # Gaps-and-islands sessionization == Spark session_window for batch.
    "session_agg": f"""
        WITH marked AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                 CASE WHEN CAST(ts AS TIMESTAMP)
                        - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
                      > INTERVAL 30 MINUTE OR
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 THEN 1 ELSE 0 END AS new_session
          FROM events
        ), sessions AS (
          SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_no
          FROM marked
        )
        SELECT MIN(ts) AS session_start, user_id,
               count(*) AS n_events,
               {sum_money_sql('value')} AS total_value
        FROM sessions GROUP BY user_id, session_no
    """,
    "scalar_functions": """
        SELECT event_id,
               year(ts) AS year, month(ts) AS month, day(ts) AS day,
               strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') AS iso_ts,
               concat(upper(substr(event_type,1,1)), lower(substr(event_type,2))) AS title_type,
               sha256(concat_ws('|', CAST(event_id AS VARCHAR), event_type)) AS row_hash
        FROM events
    """,
    "json_extract": """
        SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k FROM events
    """,
    "dead_letter": f"""
        SELECT event_id, user_id, event_type FROM events
        WHERE NOT ({VALID_SQL}) OR event_type = 'error'
    """,
    "alerts": """
        SELECT event_id, user_id,
               CAST(ROUND(value * 100) AS BIGINT) / 1e2 AS value,
               'large_purchase' AS alert_type
        FROM events WHERE event_type = 'purchase' AND value > 150
    """,
    "dq_referential": _DQ_REFERENTIAL_SQL,
}


def q_stream_windowed_agg(spark, sf_dir):
    """The flagship windowed aggregate computed BY THE STREAMING ENGINE
    — readStream over the same parquet, complete-mode aggregation,
    availableNow trigger — returned as a batch frame against the SAME
    DuckDB oracle as `windowed_agg`.  This puts Structured Streaming
    execution itself under the driver's value-hash gate: batch/stream
    parity is not just a pytest claim, it is oracle-checked.

    Mechanics: the stream is :func:`_stream_events` (the batch read's
    schema, ts converted nanos→micros as schemas.load_table does), and
    complete mode + availableNow folds ALL input into one final
    emission, which foreachBatch captures (bounded: one row per (hour,
    user))."""
    from real_time_data_pipeline_spark.functions import stable

    stream = _stream_events(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("window"), "user_id")
        .agg(
            F.count("event_id").alias("transaction_count"),
            stable.sum_money("value", "total_amount"),
            stable.avg_money("value", "avg_amount", "COUNT(event_id)"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "user_id",
            "transaction_count",
            "total_amount",
            "avg_amount",
        )
    )
    # Complete mode re-emits the FULL state every micro-batch; the
    # capture sink's per-batch OVERWRITE keeps only the latest snapshot
    # (what the pre-r11 rows.clear()+collect kept), without the driver
    # row round-trip (see stream_capture).
    return stream_capture(
        agg, "stream_windowed_agg", output_mode="complete"
    )


QUERIES["stream_windowed_agg"] = q_stream_windowed_agg

from real_time_data_pipeline_spark.functions.stable import (  # noqa: E402
    avg_money_sql,
    sum_money_sql,
)

# streaming fold of micro-batches == batch merge == full recompute
ORACLES["stream_rollup_incremental"] = ORACLES["rollup_incremental"]

# streaming session-window state == batch gaps-and-islands oracle
ORACLES["stream_session_agg"] = ORACLES["session_agg"]

# streaming sliding-window state == batch overlapping-window oracle
ORACLES["stream_sliding_window_agg"] = ORACLES["sliding_window_agg"]

ORACLES["stream_windowed_agg"] = f"""
    SELECT
      CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
      user_id,
      count(event_id) AS transaction_count,
      {sum_money_sql('value')} AS total_amount,
      {avg_money_sql('value', 'COUNT(event_id)')} AS avg_amount
    FROM events
    GROUP BY 1, 2
"""


def q_stream_enrich_join(spark, sf_dir):
    """The J1/J2 enrichment chain with the FACT side streamed — the
    stream-static join (the reference's TODO at
    transaction_processor.py:267) under the driver's value-hash gate,
    same oracle as `enrich_join`.  Stateless operator class (vs the
    aggregate state of stream_windowed_agg): each micro-batch joins
    against the static dimension and appends.  foreachBatch captures
    the appended rows; availableNow bounds the run."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )
    path = f"{sf_dir}/orders.parquet"
    schema = spark.read.parquet(path).schema
    orders = spark.readStream.schema(schema).parquet(
        f"{sf_dir}/orders*.parquet"
    )
    joined = orders.join(
        dim, orders.o_custkey == dim.c_custkey, "left"
    ).select(
        "o_orderkey",
        "o_custkey",
        "c_name",
        "c_mktsegment",
        "nation_name",
        "region_name",
    )
    # r11: parquet capture sink (see stream_capture) — append-mode
    # batches append disjoint files; the union is the old rows list.
    return stream_capture(joined, "stream_enrich_join")


QUERIES["stream_enrich_join"] = q_stream_enrich_join

ORACLES["stream_enrich_join"] = ORACLES["enrich_join"]


def _stream_events(spark, sf_dir):
    """readStream twin of _events: glob file source + the same
    nanos→micros ts conversion as schemas.load_table."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(
        f"{sf_dir}/events*.parquet"
    )
    if dict(
        (f.name, f.dataType.simpleString()) for f in schema.fields
    ).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return stream


# State-store instances per stateful operator (spark.sql.shuffle.partitions
# at stream start).  The registry streams carry KB-scale bounded state,
# where the batch shuffle width is pure per-micro-batch overhead (each
# instance pays commit/maintenance file I/O every batch): measured on
# stream_range_join at sf0.1, 32 -> 8 took the run from 39.9 s to 9.7 s,
# output row-identical.  A constant, not derived from the core count, so
# runs at different core counts keep identical stream plans.
STREAM_STATE_PARTITIONS = 8


def drain(
    sdf,
    name: str,
    on_batch,
    output_mode: str = "append",
    partitions: int | None = None,
) -> None:
    """Start ``sdf`` as an availableNow query that hands each micro-batch
    to ``on_batch(batch, batch_id)``, and return once every available
    input has been processed — the one place a registry stream is
    started and awaited.

    ``on_batch`` runs on a ``foreachBatch`` callback thread; it is
    wrapped in ``cache.bind_scope``, so frames it registers land in the
    caller's scope.  The stream runs with ``partitions`` state
    partitions (default :data:`STREAM_STATE_PARTITIONS`); partitioning
    never changes what a stateful operator computes, since a key hashes
    to exactly one partition.  The one caller with its own count is the
    ``applyInPandasWithState`` fold (stream_clamped_balance), whose
    per-batch cost is Python-worker CPU over every active key, so it
    runs at the batch shuffle width.  The count is set on the session's
    ``spark.sql.shuffle.partitions`` for the start and restored after,
    so batch queries in the session keep their width; this assumes a
    single-threaded driver (two concurrent drains on one session would
    race on the conf).

    A stream that does not finish within 300 s is stopped and raises:
    finalizing over state a callback is still writing would return a
    partial answer."""
    spark = sdf.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    n = STREAM_STATE_PARTITIONS if partitions is None else partitions
    spark.conf.set(key, str(n))
    try:
        q = (
            sdf.writeStream.foreachBatch(cache.bind_scope(on_batch))
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                f"{name}: availableNow stream did not finish within 300s;"
                " refusing to finalize partial state"
            )
    finally:
        spark.conf.set(key, old)


def swap_state(holder: dict, merged: DataFrame) -> None:
    """One ``foreachBatch`` fold step: ``holder["state"]`` becomes
    ``merged`` checkpointed in the engine (``cache.checkpoint``), and
    the state it replaces is freed.  State stays in the block store —
    nothing is collected to the driver or rebuilt from Python rows —
    and every batch's plan starts from one checkpoint scan, so lineage
    never grows with the batch count.  The final state stays registered
    until the caller's release (``cache.release_all`` / ``scoped``);
    :func:`drain` binds the fold to the caller's scope."""
    old = holder["state"]
    holder["state"] = cache.checkpoint(merged)
    cache.release(old)


_CAPTURE_APPS: set[str] = set()


def capture_stage(spark, name: str) -> str:
    """Fresh parquet dir for one stream run — a capture sink or a staged
    stream input — under the repo's spark-warehouse:
    ``_stream_cap/<applicationId>/<name>_<run token>``.  No two
    runs share a dir — concurrent runs of one stream, in one
    application or several, never clobber each other's rows — and every
    bench/oracle invocation recomputes the capture from the parquet
    inputs inside the timed region.  The captured frame reads the dir
    lazily, so the dir outlives the run; the application's capture dirs
    are removed when the Python driver exits."""
    import atexit
    import shutil
    import uuid

    app = spark.sparkContext.applicationId
    root = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "spark-warehouse",
        "_stream_cap",
        app,
    )
    if app not in _CAPTURE_APPS:
        _CAPTURE_APPS.add(app)
        atexit.register(shutil.rmtree, root, True)
    d = os.path.join(root, f"{name}_{uuid.uuid4().hex[:12]}")
    os.makedirs(d)
    return d


def stream_capture(
    sdf,
    name: str,
    output_mode: str = "append",
    transform=None,
    schema=None,
    partitions: int | None = None,
):
    """:func:`drain` an availableNow stream into a PARQUET capture sink
    and return the captured rows as a batch frame — no output row
    crosses to the driver.  Append-mode streams append each batch;
    complete-mode streams overwrite per batch (each batch re-emits the
    FULL state, so the surviving files are exactly the final snapshot).
    Update-mode batches append, so the capture holds every update row.

    ``transform`` (optional) maps each micro-batch frame before the
    write — a gate that scores every batch with a batch operator, or a
    mergeable fold's per-batch partial that the caller merges in the
    engine over the captured frame; ``schema`` must then be the
    transformed schema (the read-back is pinned to it, so zero-batch
    runs still return an empty, correctly-typed frame).  The transform
    and write run inside ``cache.scoped()``, so persists a transform
    tracks are freed before the next batch.  ``partitions`` forwards to
    :func:`drain`."""
    spark = sdf.sparkSession
    stage = capture_stage(spark, name)
    wmode = "overwrite" if output_mode == "complete" else "append"

    def _sink(batch, _i):
        with cache.scoped():
            out = transform(batch) if transform is not None else batch
            out.write.mode(wmode).parquet(stage)

    drain(sdf, name, _sink, output_mode, partitions)
    return spark.read.schema(schema or sdf.schema).parquet(stage)


def q_stream_validate(spark, sf_dir):
    """The reference's CORE path — per-record validation (P3/P4,
    transaction_processor.py:218-243) — executed by the streaming
    engine and value-hash-checked against `validate`'s batch oracle.
    Third streaming operator class under the gate: stateless row
    transform (vs aggregate / stream-static join)."""
    is_valid = F.expr(VALID_SQL)
    out = _stream_events(spark, sf_dir).select(
        "event_id",
        is_valid.alias("is_valid"),
        F.when(is_valid, "valid").otherwise("invalid").alias(
            "validation_result"
        ),
    )
    return stream_capture(out, "stream_validate")


QUERIES["stream_validate"] = q_stream_validate

ORACLES["stream_validate"] = ORACLES["validate"]
