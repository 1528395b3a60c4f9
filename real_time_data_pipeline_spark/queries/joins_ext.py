"""Extended join-shape queries: as-of, semi, anti — with DuckDB oracles.

The as-of oracle uses DuckDB's native ``ASOF LEFT JOIN``, which pins our
union + running-last implementation (operators/joins.asof_join) against an
independent engine's definition of the operator.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import cache
from real_time_data_pipeline_spark.operators.joins import asof_join
from real_time_data_pipeline_spark.schemas import load_table


def q_asof_join(spark, sf_dir):
    """For every click event, the latest error event by the same user at
    or before the click (classic time-series enrichment)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_event_id"), "value"
    )
    out = asof_join(
        clicks, errors, key="user_id", left_ts="ts", right_ts="ts",
        right_cols=["error_event_id", "value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_ts").alias("last_error_ts"),
        F.col("asof_error_event_id").alias("last_error_event_id"),
        F.floor(F.coalesce(F.col("asof_value"), F.lit(0.0)) * 100).cast("bigint").alias("last_error_value_c"),
    )


def q_range_join(spark, sf_dir):
    """Time-range join: each error event matched to the same user's click
    events in the following 30 minutes (the root-cause-window shape).

    Runs through operators/joins.stream_stream_time_join — on batch
    inputs the watermarks are no-ops and the same operator/condition is
    what the streaming twin executes, so this oracle also pins the
    streaming join's matching semantics.  Aggregated to per-error counts
    so the output is compact at any SF."""
    from real_time_data_pipeline_spark.operators.joins import (
        stream_stream_time_join,
    )

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("error_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    joined = stream_stream_time_join(
        errors, clicks, key="user_id",
        left_ts="error_ts", right_ts="click_ts", within="30 minutes",
    )
    return joined.groupBy("error_id", "user_id", "error_ts").agg(
        F.count("*").alias("n_clicks_30m")
    )


def q_semi_join(spark, sf_dir):
    """Orders having at least one returned lineitem (left-semi), counted
    by priority.  Semi-join shuffles only the keys — no row multiplication
    on orders with many matching lineitems."""
    orders = load_table(spark, sf_dir, "orders")
    returned = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    hit = orders.join(
        returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


def q_anti_join(spark, sf_dir):
    """Customers who never placed a large (>300k) order (left-anti),
    counted by market segment — the gap-audit join shape."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300_000
    )
    orphans = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return orphans.groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))


def q_stream_range_join(spark, sf_dir):
    """`range_join` executed as a TRUE stream-stream join on the
    streaming engine — the one Structured Streaming operator class the
    stream_* family had not yet put under the driver's value-hash gate
    (prior classes: aggregate, stream-static join, stateless transform,
    session/sliding windows, mergeable-state folds).

    Two independent readStream sources over the same events parquet
    (errors / clicks), BOTH watermarked, joined on user_id with event
    time bounded in both directions — the state-expiry contract that
    lets an unbounded two-stream join run forever (each side buffers at
    most watermark + within per key).  Inner-join matches emit exactly
    once in append mode; foreachBatch captures the raw matches (bounded:
    193 rows at sf0.1) and the per-error counts are folded in batch,
    against the SAME DuckDB oracle as the batch `range_join`."""
    from real_time_data_pipeline_spark.operators.joins import (
        stream_stream_time_join,
    )
    from real_time_data_pipeline_spark.queries.reference_parity import (
        _stream_events,
    )

    # Watermarks require TIMESTAMP (with zone); the parquet ts surfaces
    # as TIMESTAMP_NTZ.  Session tz is pinned UTC (session.py:43) so the
    # cast is value-identity; the output casts back to NTZ to match the
    # batch twin's schema bit-for-bit.
    errors = _stream_events(spark, sf_dir).filter(
        F.col("event_type") == "error"
    ).select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").cast("timestamp").alias("error_ts"),
    )
    clicks = _stream_events(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").cast("timestamp").alias("click_ts"),
    )
    joined = stream_stream_time_join(
        errors, clicks, key="user_id",
        left_ts="error_ts", right_ts="click_ts", within="30 minutes",
    )
    from real_time_data_pipeline_spark.queries.reference_parity import (
        stream_capture,
    )

    # r11: parquet capture sink instead of the driver row round-trip
    # (see stream_capture) — identical match rows, JVM-side.
    matches = stream_capture(joined, "stream_range_join")
    return matches.groupBy(
        "error_id",
        "user_id",
        F.col("error_ts").cast("timestamp_ntz").alias("error_ts"),
    ).agg(F.count("*").alias("n_clicks_30m"))


QUERIES = {
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "stream_range_join": q_stream_range_join,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
}

ORACLES = {
    "range_join": """
        SELECT e.event_id AS error_id, e.user_id, e.ts AS error_ts,
               count(*) AS n_clicks_30m
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
        JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
          ON e.user_id = c.user_id
         AND c.ts >= e.ts
         AND c.ts <= e.ts + INTERVAL 30 MINUTE
        GROUP BY 1, 2, 3
    """,
    "asof_join": """
        SELECT c.event_id,
               c.user_id,
               c.ts,
               e.ts AS last_error_ts,
               e.event_id AS last_error_event_id,
               CAST(FLOOR(COALESCE(e.value, 0) * 100) AS BIGINT) AS last_error_value_c
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN
             (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'error') e
          ON c.user_id = e.user_id AND e.ts <= c.ts
    """,
    "semi_join": """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        GROUP BY o_orderpriority
    """,
    "anti_join": """
        SELECT c_mktsegment, count(*) AS n_customers
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        GROUP BY c_mktsegment
    """,
}


def q_salted_join_skew(spark, sf_dir):
    """Skew-mitigated enrichment (operators/joins.salted_join): events
    (the skewed fact side — a hot user's rows all hash to one reducer in
    a plain shuffle join) against the user dimension, salted 8 ways so a
    hot key spreads over 8 reducers.  The salt is an implementation
    detail — the oracle is the PLAIN join, pinning that salting never
    changes results."""
    from real_time_data_pipeline_spark.operators.joins import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
        .cast("bigint")
        .alias("value_c"),
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, dim, key="user_id", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("value_c").cast("bigint").alias("value_c_sum"),
    )


QUERIES["salted_join_skew"] = q_salted_join_skew

ORACLES["salted_join_skew"] = """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(COALESCE(e.value, 0) * 100) AS BIGINT)) AS BIGINT)
               AS value_c_sum
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
"""

# streaming two-stream interval join == the batch range-join oracle
ORACLES["stream_range_join"] = ORACLES["range_join"]


BUCKETS = 8


def q_bucketed_revenue_join(spark, sf_dir):
    """Co-located (bucketed) join — the shuffle-elimination layout for
    repeated big-big joins (real_time_data_pipeline_spark/warehouse.py):
    orders and customer are written as catalog tables hash-bucketed AND
    sorted 8-ways on the join key, then joined back through the bucket
    spec — the SortMergeJoin runs with NO Exchange on either side
    (plan-asserted in tests/test_warehouse.py; at 100 TB this converts
    every repeat join from two corpus shuffles into zero).  The query
    measures the full layout cycle (write bucketed + co-located join +
    money-stable aggregate), the same build+probe accounting as the
    persisted ANN indexes.  Broadcast is disabled for the join so the
    bucketed path is what actually runs at this test SF too."""
    import os

    from real_time_data_pipeline_spark import warehouse

    import shutil

    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    db = f"bjoin_{sf_tag}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    # A FRESH session has an empty in-memory catalog but the managed
    # table directories from a previous run survive on disk — saveAsTable
    # then fails with LOCATION_ALREADY_EXISTS.  Drop both the catalog
    # entry and any orphaned location before writing.
    loc = next(
        r["info_value"]
        for r in spark.sql(f"DESCRIBE DATABASE {db}").collect()
        if r["info_name"] == "Location"
    ).removeprefix("file:")
    for t in ("orders_b", "customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
        shutil.rmtree(os.path.join(loc, t), ignore_errors=True)
    warehouse.write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_totalprice"
        ),
        f"{db}.orders_b",
        "o_custkey",
        BUCKETS,
    )
    warehouse.write_bucketed(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        ),
        f"{db}.customer_b",
        "c_custkey",
        BUCKETS,
    )
    o = warehouse.bucketed(spark, f"{db}.orders_b")
    c = warehouse.bucketed(spark, f"{db}.customer_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").cast("bigint").alias("n_orders"),
                F.expr(
                    "CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))"
                    " AS BIGINT)"
                ).alias("revenue_c"),
            )
        )
        # materialize the plan while broadcast is still disabled (the
        # config is read at planning time; restoring it after return
        # would re-plan with a broadcast join); registered, so the
        # caller's release frees the checkpoint blocks
        out = cache.checkpoint(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


QUERIES["bucketed_revenue_join"] = q_bucketed_revenue_join

ORACLES["bucketed_revenue_join"] = """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_c
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
"""
