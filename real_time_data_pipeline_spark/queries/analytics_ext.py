"""Round-5 extension tier: resampling bars, time-weighted means,
multidimensional cube rollups, weighted sampling, asymmetric containment
dedup, and graph triangle audits — each with a DuckDB oracle.

These extend the reference's analytics surface (the reference's rollups
stop at per-month group-aggs — src/config/spark_config.yml:62,68-69)
with the shapes a telemetry / training-data platform needs next:
OHLC downsampling and TWAP for irregular time series, CUBE for
slice-and-dice reporting, weighted corpus sampling, containment (the
asymmetric near-dup Jaccard misses), and triangle/transitivity audits
of the duplicate graph.

Conventions: integer cents via FLOOR(value*100) (bit-identical IEEE
ops on both engines), integer basis points, dates/timestamps through
the micros cast documented in queries/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators.aggregates import (
    ohlc,
    time_weighted_avg,
)
from real_time_data_pipeline_spark.operators.curation import weighted_sample
from real_time_data_pipeline_spark.operators.dedup import (
    ngram_containment_pairs,
)
from real_time_data_pipeline_spark.operators.graph import triangle_stats
from real_time_data_pipeline_spark.functions.stable import sum_money_sql
from real_time_data_pipeline_spark.schemas import load_table

# Shared cents projection: FLOOR of an IEEE multiply — exact same bits on
# both engines for any double input (unlike ROUND, which is only safe for
# 2-decimal-clean data).
_CENTS = "CAST(FLOOR(value * 100) AS BIGINT)"


def q_ohlc_bars(spark, sf_dir):
    """Daily OHLC bars per event type: the candlestick downsample of the
    irregular event-value series (operators/aggregates.ohlc — one
    min_by/max_by hash aggregate, no window sort)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            F.expr(_CENTS).alias("value_c"),
        )
    )
    return ohlc(
        ev,
        key_cols=["event_type", "day"],
        ts_col="ts",
        seq_col="event_id",
        value_col="value_c",
    )


def q_time_weighted_avg(spark, sf_dir):
    """Per-user TWAP of the event value series: each observation held
    until the user's next event, so burst periods don't dominate the
    mean (operators/aggregates.time_weighted_avg — integer microsecond
    weights, bigint division, no float accumulation)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", F.expr(_CENTS).alias("value_c"))
    )
    return time_weighted_avg(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        seq_col="event_id",
        value_col="value_c",
    )


def q_cube_order_stats(spark, sf_dir):
    """CUBE over (status, priority): all four grouping sets — the full
    slice-and-dice rollup lattice — in ONE pass with a grouping-set id.

    Spark expands CUBE inside a single hash aggregate (the Expand node
    replicates each input row once per grouping set BEFORE the partial
    aggregate, so the shuffle still carries one row per (set, group) per
    partition — no re-scan per set, unlike a UNION ALL of 4 group-bys).
    Rolled-up dimensions are labeled 'ALL' (both columns are non-null in
    the data, so the label is unambiguous)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.expr(sum_money_sql("o_totalprice")).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.col("gid").cast("bigint").alias("gid"),
            "n_orders",
            "revenue",
        )
    )


def q_weighted_sample(spark, sf_dir):
    """100 documents drawn with probability pressure proportional to
    length (n_chars) — the deterministic exponential-clock sampler
    (operators/curation.weighted_sample): reproducible across engines,
    top-k plan, no corpus shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, id_col="doc_id", weight_col="n_chars", k=100)


def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment dedup: documents ≥80% of whose 3-gram
    shingles appear in another document — the quote/excerpt/boilerplate
    duplicates symmetric Jaccard misses
    (operators/dedup.ngram_containment_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, min_shingles=3
    )


def q_triangle_count(spark, sf_dir):
    """Triangle census of the same-nation supplier co-supply graph
    (suppliers of one nation linked when lineitem ships them the same
    part): triangle/wedge counts and transitivity — clique-iness audit
    of a similarity/dup graph (operators/graph.triangle_stats,
    degree-oriented join).

    The nation restriction keeps node degree bounded by nation size —
    the UNRESTRICTED co-supply graph densifies toward a clique as SF
    grows (every supplier eventually shares a part with every other),
    which no triangle algorithm survives because the answer itself is
    Θ(n³); bounded-community graphs are the shape the operator is for."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    ps = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_partkey", "l_suppkey", "s_nationkey")
    )
    a = ps.select(
        F.col("l_partkey").alias("p"),
        F.col("l_suppkey").alias("src"),
        F.col("s_nationkey").alias("n_a"),
    )
    b = ps.select(
        F.col("l_partkey").alias("p"),
        F.col("l_suppkey").alias("dst"),
        F.col("s_nationkey").alias("n_b"),
    )
    edges = (
        a.join(b, "p")
        .filter((F.col("src") < F.col("dst")) & (F.col("n_a") == F.col("n_b")))
        .select("src", "dst")
        .distinct()
    )
    return triangle_stats(edges)


QUERIES = {
    "ohlc_bars": q_ohlc_bars,
    "time_weighted_avg": q_time_weighted_avg,
    "cube_order_stats": q_cube_order_stats,
    "weighted_sample": q_weighted_sample,
    "dedup_containment": q_dedup_containment,
    "triangle_count": q_triangle_count,
}


# One source of truth for the oracle-side sha256 ascii fold (the
# generator lives in queries/curation.py; dedup.py's 60-bit variant
# shares it too).
from real_time_data_pipeline_spark.queries.curation import (  # noqa: E402
    _duck_hexfold48,
)


# DuckDB twins of the Spark-side shingle pipeline (same text as
# queries/dedup.py — one normalization spec, two engines).
_DUCK_TOKENS = (
    "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"
)
_DUCK_SHINGLES = f"""
  list_distinct(list_transform(
    range(1, greatest(len({_DUCK_TOKENS}) - 2, 1) + 1),
    i -> array_to_string(({_DUCK_TOKENS})[i:i+2], ' ')))
"""

ORACLES = {
    "ohlc_bars": f"""
        WITH e AS (
          SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                 CAST(ts AS TIMESTAMP) AS ts, event_id,
                 {_CENTS} AS v
          FROM events WHERE value IS NOT NULL
        ),
        r AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY event_type, day
                                    ORDER BY ts, event_id) AS rn_a,
                 ROW_NUMBER() OVER (PARTITION BY event_type, day
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM e
        )
        SELECT event_type, day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(MAX(CASE WHEN rn_a = 1 THEN v END) AS BIGINT) AS open_c,
               CAST(MAX(v) AS BIGINT) AS high_c,
               CAST(MIN(v) AS BIGINT) AS low_c,
               CAST(MAX(CASE WHEN rn_d = 1 THEN v END) AS BIGINT) AS close_c
        FROM r GROUP BY 1, 2
    """,
    "time_weighted_avg": f"""
        WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                 {_CENTS} AS v
          FROM events WHERE value IS NOT NULL
        ),
        d AS (
          SELECT user_id, v,
                 epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS dt
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_intervals,
               CAST(SUM(dt) AS BIGINT) AS span_us,
               CASE WHEN SUM(dt) > 0
               THEN CAST(SUM(v * dt) // SUM(dt) AS BIGINT) END AS twap_c
        FROM d WHERE dt IS NOT NULL
        GROUP BY 1
    """,
    "cube_order_stats": f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n_orders,
               {sum_money_sql("o_totalprice")} AS revenue
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "weighted_sample": f"""
        SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
               CAST({_duck_hexfold48("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
                   / CAST(n_chars AS DOUBLE) AS sample_key
        FROM documents WHERE n_chars > 0
        ORDER BY sample_key, doc_id
        LIMIT 100
    """,
    "dedup_containment": f"""
        WITH sh AS (
          SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM documents
        ),
        sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        directed AS (
          SELECT id_a AS contained_id, id_b AS container_id,
                 n_common, sa.n AS n_contained
          FROM common JOIN sizes sa ON id_a = sa.doc_id
          UNION ALL
          SELECT id_b AS contained_id, id_a AS container_id,
                 n_common, sb.n AS n_contained
          FROM common JOIN sizes sb ON id_b = sb.doc_id
        )
        SELECT contained_id, container_id,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(n_contained AS BIGINT) AS n_contained,
               CAST(FLOOR(1e4 * n_common / n_contained) AS BIGINT)
                   AS containment_bp
        FROM directed
        WHERE n_contained >= 3
          AND CAST(FLOOR(1e4 * n_common / n_contained) AS BIGINT) >= 8000
    """,
    "triangle_count": """
        WITH ps AS (
          SELECT DISTINCT l_partkey AS p, l_suppkey AS s, s_nationkey AS n
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        ),
        e AS (
          SELECT DISTINCT LEAST(a.s, b.s) AS a, GREATEST(a.s, b.s) AS b
          FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s AND a.n = b.n
        ),
        deg AS (
          SELECT v, count(*) AS d FROM (
            SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
          ) GROUP BY v
        ),
        tri AS (
          SELECT count(*) AS n FROM e e1
          JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
               (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg)
                   AS n_wedges,
               (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles,
               CAST(CASE WHEN (SELECT SUM(d * (d - 1) // 2) FROM deg) > 0
                    THEN FLOOR(1e4 * 3 * (SELECT n FROM tri)
                               / (SELECT SUM(d * (d - 1) // 2) FROM deg))
                    ELSE 0 END AS BIGINT) AS transitivity_bp
    """,
}


def q_value_correlation(spark, sf_dir):
    """Pearson correlation between the daily value series of every
    event-type pair — the co-movement matrix behind metric dashboards
    ("do errors rise with purchases?").

    Exactness: daily totals are integer dollars (cents // 100 keeps
    every sum product inside bigint through sf1000 — cents would
    overflow Sx² beyond sf0.1); the five moment sums are exact bigints,
    and the final r uses one sqrt/divide on exactly-representable
    integers — IEEE-identical across engines.  Missing (type, day)
    cells are genuine zeros (the series is "value observed that day"),
    densified by a calendar × type cross join so every pair correlates
    over the SAME n days.

    Plan: one hash agg to daily grain (tiny: |types|×|days|), densify
    against the broadcast calendar, one self-join on day (output
    |types|²×|days| — still tiny), one final hash agg per pair.  All
    heavy lifting happens at the pre-aggregated grain; the event scan
    aggregates map-side first."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.col("event_type").alias("t"), F.to_date("ts").alias("day")
    ).agg(
        F.expr(f"CAST(SUM({_CENTS}) DIV 100 AS BIGINT)").alias("v")
    )
    days = daily.select("day").distinct()
    types = daily.select("t").distinct()
    dense = (
        days.crossJoin(types)
        .join(daily, ["t", "day"], "left")
        .select("t", "day", F.coalesce("v", F.lit(0)).alias("v"))
    )
    a = dense.select(F.col("t").alias("type_a"), "day", F.col("v").alias("x"))
    b = dense.select(F.col("t").alias("type_b"), "day", F.col("v").alias("y"))
    paired = a.join(b, "day").filter(F.col("type_a") < F.col("type_b"))
    sums = paired.groupBy("type_a", "type_b").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
    )
    # Zero-variance series have no defined correlation: NULL, guarded
    # explicitly because double division by zero ERRORS under Spark's
    # ANSI mode while oracle engines return NULL — the CASE aligns both.
    corr = (
        "CASE WHEN n_days * sxx > sx * sx AND n_days * syy > sy * sy "
        "THEN CAST(FLOOR(1e4 * (n_days * sxy - sx * sy) / "
        "(sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)) * "
        "sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)))) AS BIGINT) END"
    )
    return sums.select(
        "type_a",
        "type_b",
        "n_days",
        F.expr(corr).alias("corr_bp"),
    )


def q_cusum_shift(spark, sf_dir):
    """CUSUM level-shift audit per event type: the peak absolute
    cumulative deviation of the daily value series from its own mean,
    and the day it peaks — the classic change-point locator for "did
    this metric shift regime mid-window?".

    Integer-exact: deviations are scaled by n_days (D_i = n·x_i − S, an
    integer), so the running sum needs no fractional mean.  Plan: daily
    hash agg, then ONE shuffle on event_type feeding both windows (the
    running sum and the peak pick) — Catalyst reuses the partitioning."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.col("event_type").alias("t"), F.to_date("ts").alias("day")
    ).agg(F.expr(f"CAST(SUM({_CENTS}) AS BIGINT)").alias("x"))
    per_t = Window.partitionBy("t")
    run = Window.partitionBy("t").orderBy("day")
    scored = daily.select(
        "t",
        "day",
        (F.count("*").over(per_t) * F.col("x") - F.sum("x").over(per_t)).alias(
            "dev_n"
        ),
        F.count("*").over(per_t).cast("bigint").alias("n_days"),
    ).select(
        "t",
        "day",
        "n_days",
        F.abs(F.sum("dev_n").over(run)).alias("cusum_abs"),
    )
    pick = Window.partitionBy("t").orderBy(
        F.col("cusum_abs").desc(), F.col("day").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            F.col("t").alias("event_type"),
            "n_days",
            F.col("day").alias("peak_day"),
            F.col("cusum_abs").cast("bigint").alias("cusum_peak_n_cents"),
        )
    )


# Benford expected first-digit shares, floor(1e4*log10(1+1/d)): pinned
# as integer constants so neither engine's libm rounding can differ.
_BENFORD_BP = {1: 3010, 2: 1760, 3: 1249, 4: 969, 5: 791, 6: 669,
               7: 579, 8: 511, 9: 457}


def q_benford_audit(spark, sf_dir):
    """Benford first-digit audit of order totals — the forensic DQ check
    for fabricated or truncated monetary data: observed share of each
    leading digit vs the Benford expectation, deviation in basis points.

    One hash aggregate over a per-row digit expression; expectations are
    broadcast literals (a CASE), so the whole audit is a single pass."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digit = F.expr(
        "CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
    )
    exp_case = "CASE first_digit " + " ".join(
        f"WHEN {d} THEN {bp}" for d, bp in _BENFORD_BP.items()
    ) + " END"
    counted = orders.groupBy(digit.alias("first_digit")).agg(
        F.count("*").cast("bigint").alias("n_orders")
    )
    total = counted.agg(F.sum("n_orders").cast("bigint").alias("n_total"))
    return (
        counted.crossJoin(F.broadcast(total))
        .select(
            "first_digit",
            "n_orders",
            F.expr("CAST(FLOOR(1e4 * n_orders / n_total) AS BIGINT)").alias(
                "observed_bp"
            ),
            F.expr(exp_case).cast("bigint").alias("benford_bp"),
        )
        .withColumn(
            "deviation_bp", F.col("observed_bp") - F.col("benford_bp")
        )
    )


QUERIES["value_correlation"] = q_value_correlation
QUERIES["cusum_shift"] = q_cusum_shift
QUERIES["benford_audit"] = q_benford_audit

_BENFORD_CASE = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN {bp}" for d, bp in _BENFORD_BP.items()
) + " END"

ORACLES["value_correlation"] = f"""
    WITH daily AS (
      SELECT event_type AS t, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(SUM({_CENTS}) // 100 AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    dense AS (
      SELECT tt.t, dd.day, COALESCE(daily.v, 0) AS v
      FROM (SELECT DISTINCT day FROM daily) dd
      CROSS JOIN (SELECT DISTINCT t FROM daily) tt
      LEFT JOIN daily ON daily.t = tt.t AND daily.day = dd.day
    ),
    sums AS (
      SELECT a.t AS type_a, b.t AS type_b,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(SUM(a.v) AS BIGINT) AS sx,
             CAST(SUM(b.v) AS BIGINT) AS sy,
             CAST(SUM(a.v * b.v) AS BIGINT) AS sxy,
             CAST(SUM(a.v * a.v) AS BIGINT) AS sxx,
             CAST(SUM(b.v * b.v) AS BIGINT) AS syy
      FROM dense a JOIN dense b ON a.day = b.day AND a.t < b.t
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_days,
           CASE WHEN n_days * sxx > sx * sx AND n_days * syy > sy * sy
           THEN CAST(FLOOR(1e4 * (n_days * sxy - sx * sy) /
                (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)) *
                 sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)))) AS BIGINT)
           END AS corr_bp
    FROM sums
"""

ORACLES["cusum_shift"] = f"""
    WITH daily AS (
      SELECT event_type AS t, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(SUM({_CENTS}) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT t, day, x,
             CAST(COUNT(*) OVER (PARTITION BY t) AS BIGINT) AS n_days,
             CAST(SUM(x) OVER (PARTITION BY t) AS BIGINT) AS s
      FROM daily
    ),
    scored AS (
      SELECT t, day, n_days,
             ABS(SUM(n_days * x - s)
                 OVER (PARTITION BY t ORDER BY day)) AS cusum_abs
      FROM stats
    ),
    picked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY t
                                   ORDER BY cusum_abs DESC, day ASC) AS rn
      FROM scored
    )
    SELECT t AS event_type, n_days, day AS peak_day,
           CAST(cusum_abs AS BIGINT) AS cusum_peak_n_cents
    FROM picked WHERE rn = 1
"""

ORACLES["benford_audit"] = f"""
    WITH counted AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS first_digit,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders WHERE o_totalprice >= 1
      GROUP BY 1
    )
    SELECT first_digit, n_orders,
           CAST(FLOOR(1e4 * n_orders
                      / (SELECT SUM(n_orders) FROM counted)) AS BIGINT)
               AS observed_bp,
           CAST({_BENFORD_CASE} AS BIGINT) AS benford_bp,
           CAST(FLOOR(1e4 * n_orders
                      / (SELECT SUM(n_orders) FROM counted)) AS BIGINT)
               - CAST({_BENFORD_CASE} AS BIGINT) AS deviation_bp
    FROM counted
"""


def q_stream_ohlc(spark, sf_dir):
    """Streaming OHLC maintenance — order-statistics summaries as
    mergeable state: each micro-batch reduces to per-(type, day) bars
    WITH their winning ordering keys (operators/aggregates.ohlc_state),
    then folds into the held state via merge_ohlc_state.  Associativity
    of min/max/min_by/max_by partials means any batch split yields the
    identical final bars, which is exactly what sharing the batch
    ``ohlc_bars`` oracle pins.  State is one row per bar between batches
    (|types × days| — bounded), held as an engine-side checkpoint
    (reference_parity.swap_state)."""
    from real_time_data_pipeline_spark.operators.aggregates import (
        merge_ohlc_state,
        ohlc_state,
    )
    from real_time_data_pipeline_spark.queries.reference_parity import (
        _stream_events,
        drain,
        swap_state,
    )

    # Seed with an EMPTY summary of the right schema so a stream that
    # delivers zero micro-batches still finalizes (to zero bars) instead
    # of dying on a None state.
    empty = ohlc_state(
        load_table(spark, sf_dir, "events")
        .filter(F.lit(False))
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            F.expr(_CENTS).alias("value_c"),
        ),
        ["event_type", "day"],
        "ts",
        "event_id",
        "value_c",
    )
    holder = {"state": empty}

    def fold(batch, _i):
        ev = batch.filter(F.col("value").isNotNull()).select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            F.expr(_CENTS).alias("value_c"),
        )
        inc = ohlc_state(
            ev, ["event_type", "day"], "ts", "event_id", "value_c"
        )
        swap_state(
            holder, merge_ohlc_state(holder["state"], inc, ["event_type", "day"])
        )

    drain(
        _stream_events(spark, sf_dir).select(
            "event_type", "ts", "event_id", "value"
        ),
        "stream_ohlc",
        fold,
    )
    state = holder["state"]
    return state.select(
        "event_type",
        "day",
        "n_events",
        "open_c",
        "high_c",
        "low_c",
        "close_c",
    )


QUERIES["stream_ohlc"] = q_stream_ohlc
# The maintained bars must equal the one-shot batch aggregate exactly.
ORACLES["stream_ohlc"] = ORACLES["ohlc_bars"]


def q_session_overlap(spark, sf_dir):
    """Concurrent-session pairs across users via the BANDED interval
    overlap join (operators/joins.interval_overlap_join): sessionize
    each user (30-min gap), take each session's observed [min_ts,
    max_ts] span, and count overlapping cross-user session pairs with
    their total overlap time — the co-presence matrix behind fraud
    rings and shared-device detection.

    Without banding this is a keyless range join = broadcast nested
    loop; with 1-hour buckets it's an equi-join whose fan-in is the
    per-hour session density.  Sessions are closed integer-µs
    intervals; pairs are kept at exactly one bucket (no dedup pass)."""
    from real_time_data_pipeline_spark.operators.joins import (
        interval_overlap_join,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    from pyspark.sql import Window

    # (us, event_id) totalizes each user's order — a bare ts order makes
    # lag nondeterministic on tied timestamps, and Spark's default
    # RANGE-with-peers frame would disagree with the oracle's ROWS frame
    # on exactly those ties, so both are pinned explicitly.
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = ev.select(
        "user_id",
        "us",
        "event_id",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 1_800_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = (
        marked.select(
            "user_id",
            "us",
            F.sum("new_session").over(wrows).alias("session_no"),
        )
        .groupBy("user_id", "session_no")
        .agg(F.min("us").alias("s_start"), F.max("us").alias("s_end"))
        .select(
            F.struct("user_id", "session_no").alias("sid"),
            "user_id",
            "s_start",
            "s_end",
        )
    )
    pairs = interval_overlap_join(
        sessions,
        sessions,
        ("sid", "s_start", "s_end"),
        ("sid", "s_start", "s_end"),
        bucket_width=3_600_000_000,  # 1 hour in µs
    )
    return (
        pairs.filter(F.col("a_id.user_id") < F.col("b_id.user_id"))
        .groupBy(
            F.col("a_id.user_id").alias("user_a"),
            F.col("b_id.user_id").alias("user_b"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_overlaps"),
            F.sum("overlap_len").cast("bigint").alias("overlap_us"),
        )
    )


def q_wasserstein_drift(spark, sf_dir):
    """Per-type W₁ (earth-mover) drift of the event value distribution
    between the first and second half of January — the order-aware
    companion to the TV-distance monitor
    (operators/quality.wasserstein_drift, 10-dollar bins)."""
    from real_time_data_pipeline_spark.operators.quality import (
        wasserstein_drift,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", "ts", F.expr(_CENTS).alias("cents")
        )
    )
    cutoff = F.lit(_SPLIT_CUTOFF).cast("timestamp")
    return wasserstein_drift(
        ev.filter(F.col("ts") < cutoff),
        ev.filter(F.col("ts") >= cutoff),
        group_col="event_type",
        cents_col="cents",
        bin_width_cents=1000,
    )


_SPLIT_CUTOFF = "2024-01-16 00:00:00"

QUERIES["session_overlap"] = q_session_overlap
QUERIES["wasserstein_drift"] = q_wasserstein_drift

ORACLES["session_overlap"] = """
    WITH marked AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, us,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    ),
    sessions AS (
      SELECT user_id, session_no,
             MIN(us) AS s_start, MAX(us) AS s_end
      FROM numbered GROUP BY 1, 2
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST(count(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(LEAST(a.s_end, b.s_end)
                    - GREATEST(a.s_start, b.s_start)) AS BIGINT) AS overlap_us
    FROM sessions a JOIN sessions b
      ON a.user_id < b.user_id
     AND a.s_start <= b.s_end AND b.s_start <= a.s_end
    GROUP BY 1, 2
"""

ORACLES["wasserstein_drift"] = f"""
    WITH binned AS (
      SELECT event_type AS g, ({_CENTS}) // 1000 AS bin,
             CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                       < TIMESTAMP '2024-01-16 00:00:00'
                      THEN 1 ELSE 0 END) AS BIGINT) AS nr,
             CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                       >= TIMESTAMP '2024-01-16 00:00:00'
                      THEN 1 ELSE 0 END) AS BIGINT) AS nc
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT g,
             SUM(nr) OVER (PARTITION BY g) AS n_ref,
             SUM(nc) OVER (PARTITION BY g) AS n_cur,
             SUM(nr) OVER (PARTITION BY g ORDER BY bin) AS cr,
             SUM(nc) OVER (PARTITION BY g ORDER BY bin) AS cc,
             COALESCE(LEAD(bin) OVER (PARTITION BY g ORDER BY bin) - bin, 0)
                 AS gap
      FROM binned
    )
    SELECT g AS event_type,
           CAST(MAX(n_ref) AS BIGINT) AS n_ref,
           CAST(MAX(n_cur) AS BIGINT) AS n_cur,
           CAST((SUM(ABS(cr * n_cur - cc * n_ref) * gap) * 1000)
                // (MAX(n_ref) * MAX(n_cur)) AS BIGINT) AS w1_cents
    FROM scored
    GROUP BY g
    HAVING MAX(n_ref) > 0 AND MAX(n_cur) > 0
"""


def q_stream_wasserstein_drift(spark, sf_dir):
    """Streaming W₁ drift on the SAME oracle as `wasserstein_drift`:
    the reference window's bin histogram is frozen once, the current
    window ARRIVES AS A STREAM, and each micro-batch's (group, bin)
    counts go to captured parquet — bin counts are plainly additive, so
    one engine merge (sum per (group, bin)) over the capture is the
    current histogram.  The CDF cross-multiplication runs once, over
    the merged histogram, and is hash-identical to the batch answer."""
    from real_time_data_pipeline_spark.queries.reference_parity import (
        _stream_events,
        stream_capture,
    )

    cutoff = F.lit(_SPLIT_CUTOFF).cast("timestamp")

    def partials(batch):
        return (
            batch.filter(
                (F.col("value").isNotNull()) & (F.col("ts") >= cutoff)
            )
            .groupBy(
                F.col("event_type").alias("g"),
                F.expr(f"({_CENTS}) div 1000").alias("bin"),
            )
            .agg(F.count("*").cast("bigint").alias("n"))
        )

    cap = stream_capture(
        _stream_events(spark, sf_dir).select("event_type", "ts", "value"),
        "stream_wasserstein_drift",
        transform=partials,
        schema="g string, bin bigint, n bigint",
    )

    from real_time_data_pipeline_spark.operators.quality import (
        wasserstein_from_binned,
    )

    # Finalize AT BIN GRAIN: the maintained histogram joins (full outer
    # on bin) with the reference histogram and goes straight into the
    # CDF cross-multiplication — no re-expansion of counts into rows.
    ref_binned = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("ts") < cutoff))
        .groupBy(
            F.col("event_type").alias("g"),
            F.expr(f"({_CENTS}) div 1000").alias("bin"),
        )
        .agg(F.count("*").cast("bigint").alias("nr"))
    )
    cur_binned = cap.groupBy("g", "bin").agg(
        F.sum("n").cast("bigint").alias("nc")
    )
    binned = (
        ref_binned.join(cur_binned, ["g", "bin"], "full_outer")
        .select(
            "g",
            "bin",
            F.coalesce("nr", F.lit(0)).cast("bigint").alias("nr"),
            F.coalesce("nc", F.lit(0)).cast("bigint").alias("nc"),
        )
    )
    return wasserstein_from_binned(binned, "event_type", 1000).select(
        F.col("event_type"), "n_ref", "n_cur", "w1_cents"
    )


QUERIES["stream_wasserstein_drift"] = q_stream_wasserstein_drift
ORACLES["stream_wasserstein_drift"] = ORACLES["wasserstein_drift"]


def q_rollup_geo_revenue(spark, sf_dir):
    """ROLLUP along the geographic containment chain (region ⊃ nation):
    revenue subtotals at nation, region, and grand-total levels in ONE
    pass — the hierarchy cousin of the CUBE entry (same single Expand +
    hash-agg plan, but only the prefix grouping sets, which is what a
    containment hierarchy wants: nation×region crossings are
    meaningless)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.expr(sum_money_sql("o_totalprice")).alias("revenue"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.col("gid").cast("bigint").alias("gid"),
            "n_orders",
            "revenue",
        )
    )


def q_order_rank_profile(spark, sf_dir):
    """Per-order intra-priority rank profile: quartile (ntile), percent
    rank, and cumulative distribution of the order's total price within
    its priority class — the remaining ranked-window API surface
    (ntile/percent_rank/cume_dist) under a pinned (price, key) total
    order so ranks are deterministic.  Both rank functions are pure
    integer-ratio doubles (rank/n), so the bp floors agree across
    engines."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.floor(F.percent_rank().over(w) * 10_000)
        .cast("bigint")
        .alias("pct_rank_bp"),
        F.floor(F.cume_dist().over(w) * 10_000)
        .cast("bigint")
        .alias("cume_bp"),
    )


QUERIES["rollup_geo_revenue"] = q_rollup_geo_revenue
QUERIES["order_rank_profile"] = q_order_rank_profile

ORACLES["rollup_geo_revenue"] = f"""
    SELECT COALESCE(r_name, 'ALL') AS region,
           COALESCE(n_name, 'ALL') AS nation,
           CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sum_money_sql("o_totalprice")} AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
"""

ORACLES["order_rank_profile"] = """
    SELECT o_orderkey, o_orderpriority,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           CAST(FLOOR(PERCENT_RANK() OVER w * 10000) AS BIGINT)
               AS pct_rank_bp,
           CAST(FLOOR(CUME_DIST() OVER w * 10000) AS BIGINT) AS cume_bp
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
"""


def q_user_balance_audit(spark, sf_dir):
    """Per-user ledger audit over signed event values (error = debit,
    everything else = credit): closing balance, maximum drawdown
    (peak-to-trough), and the closing balance of a floor-at-zero
    account — "looks recursive, isn't" window identities:

    * drawdown_i     = running_max(C) − C            (C = signed cumsum)
    * floored close  = C_n − min(0, min_j C_j)       — the Skorokhod
      reflection at 0: an account that can't go negative is a closed-
      form prefix-scan expression, NOT a sequential loop, so it runs as
      one sort-window per key instead of an applyInPandas recursion.

    One shuffle on user_id feeds the window and the final aggregate
    (same partitioning — Catalyst elides the second exchange); integer
    cents throughout; closing picked by max_by over the (ts, event_id)
    total order, never by physical row order."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "error", -F.expr(_CENTS))
            .otherwise(F.expr(_CENTS))
            .alias("delta_c"),
        )
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scanned = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("delta_c").over(run).alias("c"),
    ).withColumn("rm", F.max("c").over(run))
    order = F.struct(F.col("ts"), F.col("event_id"))
    return scanned.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max_by(F.col("c"), order).cast("bigint").alias("closing_c"),
        F.max(F.col("rm") - F.col("c")).cast("bigint").alias("max_drawdown_c"),
        (
            F.max_by(F.col("c"), order)
            - F.least(F.min("c"), F.lit(0))
        )
        .cast("bigint")
        .alias("floored_closing_c"),
    )


QUERIES["user_balance_audit"] = q_user_balance_audit

ORACLES["user_balance_audit"] = f"""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CASE WHEN event_type = 'error' THEN -({_CENTS})
                  ELSE ({_CENTS}) END AS delta_c
      FROM events WHERE value IS NOT NULL
    ),
    csum AS (
      SELECT user_id, ts, event_id,
             SUM(delta_c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS c
      FROM ev
    ),
    scanned AS (
      SELECT user_id, ts, event_id, c,
             MAX(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS rm
      FROM csum
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM scanned
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(MAX(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS closing_c,
           CAST(MAX(rm - c) AS BIGINT) AS max_drawdown_c,
           CAST(MAX(CASE WHEN rn = 1 THEN c END)
                - LEAST(MIN(c), 0) AS BIGINT) AS floored_closing_c
    FROM ranked
    GROUP BY user_id
"""


def q_seasonal_autocorr(spark, sf_dir):
    """Lag-7 autocorrelation of each event type's daily value series —
    the "is there a weekly rhythm" detector that decides whether the
    seasonal-naive forecaster (seasonal_naive_error) is even the right
    baseline.  Same exact-bigint moment sums and zero-variance NULL
    guard as value_correlation; pairs are (day, day+7) within one
    type, built by a self-join on the tiny daily-grain frame."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        F.col("event_type").alias("t"), F.to_date("ts").alias("day")
    ).agg(F.expr(f"CAST(SUM({_CENTS}) DIV 100 AS BIGINT)").alias("v"))
    a = daily.select("t", "day", F.col("v").alias("x"))
    b = daily.select(
        "t", F.date_sub(F.col("day"), 7).alias("day"), F.col("v").alias("y")
    )
    paired = a.join(b, ["t", "day"])  # x = day's value, y = day+7's
    sums = paired.groupBy("t").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
    )
    corr = (
        "CASE WHEN n_pairs * sxx > sx * sx AND n_pairs * syy > sy * sy "
        "THEN CAST(FLOOR(1e4 * (n_pairs * sxy - sx * sy) / "
        "(sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) * "
        "sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))) AS BIGINT) END"
    )
    return sums.select(
        F.col("t").alias("event_type"),
        "n_pairs",
        F.expr(corr).alias("autocorr_lag7_bp"),
    )


def q_revenue_concentration(spark, sf_dir):
    """Corpus-concentration audit of customer revenue: how much of the
    total the top decile of customers carries, plus the Gini
    coefficient — the "is this dataset dominated by a few heavy keys"
    check that decides salting/skew strategy before a big join.

    Gini via the rank formula G = (2·Σ(i·xᵢ))/(n·Σx) − (n+1)/n over
    ascending revenue ranks — every term an exact bigint; emitted in
    floor bp.

    Plan: one hash agg to per-customer grain, then DISTRIBUTED global
    ranks — a bare ``Window.orderBy`` would collapse the frame to one
    partition (Spark warns exactly this), so ranks come from the
    two-phase shape: range-repartition on the sort key, per-partition
    row_number, plus broadcast per-partition offsets (tiny: one row per
    partition).  Every stage stays parallel at a billion customers,
    and the ~n² rank-moment sum accumulates in exact 128-bit decimal
    (10³⁸ headroom) so it cannot overflow bigint on the way there."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias(
            "rev_c"
        )
    )
    parted = per_cust.repartitionByRange(32, "rev_c", "o_custkey").withColumn(
        "pid", F.spark_partition_id()
    )
    local = parted.withColumn(
        "j",
        F.row_number().over(
            Window.partitionBy("pid").orderBy("rev_c", "o_custkey")
        ),
    )
    # Per-partition counts fold to rank offsets via a triangular
    # self-join over the |partitions|-row frame (32x32 at most) — no
    # global window at all, so nothing funnels through one task.
    cnts = parted.groupBy("pid").agg(F.count("*").alias("cnt"))
    lower = cnts.select(F.col("pid").alias("lo_pid"), F.col("cnt").alias("lo_cnt"))
    offsets = (
        cnts.join(F.broadcast(lower), F.col("lo_pid") < F.col("pid"), "left")
        .groupBy("pid", "cnt")
        .agg(F.coalesce(F.sum("lo_cnt"), F.lit(0)).alias("offset"))
        .crossJoin(
            F.broadcast(
                cnts.agg(F.sum("cnt").cast("bigint").alias("n"))
            )
        )
        .select("pid", "offset", "n")
    )
    ranked = local.join(F.broadcast(offsets), "pid").select(
        "rev_c",
        (F.col("offset") + F.col("j")).alias("i"),
        "n",
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("rev_c").cast("bigint").alias("total_rev_c"),
        F.expr(
            "CAST(FLOOR(1e4 * SUM(CASE WHEN 10 * i > 9 * n THEN rev_c "
            "ELSE 0 END) / SUM(rev_c)) AS BIGINT)"
        ).alias("top_decile_share_bp"),
        # Σ(i·rev) grows ~n²·avg — past ~10⁶ customers it leaves bigint,
        # so accumulate in DECIMAL(38,0) (exact to 10³⁸; a billion
        # customers × 10⁶-cent revenues is ~5·10²³) and cast to double
        # only at the final division, where both engines round the same
        # integer value identically.  The n·Σrev denominator gets the
        # same double-side treatment.
        F.expr(
            "CAST(FLOOR(1e4 * ("
            "2e0 * CAST(SUM(CAST(i AS DECIMAL(38, 0)) * rev_c) AS DOUBLE)"
            " / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(rev_c) AS DOUBLE)) "
            "- (COUNT(*) + 1e0) / COUNT(*))) AS BIGINT)"
        ).alias("gini_bp"),
    )


QUERIES["seasonal_autocorr"] = q_seasonal_autocorr
QUERIES["revenue_concentration"] = q_revenue_concentration

ORACLES["seasonal_autocorr"] = f"""
    WITH daily AS (
      SELECT event_type AS t, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(SUM({_CENTS}) // 100 AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    paired AS (
      SELECT a.t, a.v AS x, b.v AS y
      FROM daily a JOIN daily b
        ON a.t = b.t AND b.day = a.day + INTERVAL 7 DAY
    ),
    sums AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM paired GROUP BY 1
    )
    SELECT t AS event_type, n_pairs,
           CASE WHEN n_pairs * sxx > sx * sx AND n_pairs * syy > sy * sy
           THEN CAST(FLOOR(1e4 * (n_pairs * sxy - sx * sy) /
                (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
                 sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))) AS BIGINT)
           END AS autocorr_lag7_bp
    FROM sums
"""

ORACLES["revenue_concentration"] = """
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS rev_c
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT rev_c,
             ROW_NUMBER() OVER (ORDER BY rev_c, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM per_cust
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev_c) AS BIGINT) AS total_rev_c,
           CAST(FLOOR(1e4 * SUM(CASE WHEN 10 * i > 9 * n THEN rev_c
                ELSE 0 END) / SUM(rev_c)) AS BIGINT)
               AS top_decile_share_bp,
           CAST(FLOOR(1e4 * (
                2e0 * CAST(SUM(CAST(i AS HUGEINT) * rev_c) AS DOUBLE)
                / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(rev_c) AS DOUBLE))
                - (COUNT(*) + 1e0) / COUNT(*))) AS BIGINT) AS gini_bp
    FROM ranked
"""


def q_timeseries_locf(spark, sf_dir):
    """Daily per-user series with last-observation-carried-forward fill
    — the imputation twin of `timeseries_gapfill` (which zero-fills):
    inactive days repeat the user's last observed daily close, the
    standard treatment for state-like series (balance, level, price)
    where zero means something different from "no reading".

    Plan: daily close per (user, day) via one max_by hash agg, calendar
    densification by exploding each user's [min, max] span, one
    co-partitioned left join, then the carry as last_value(IGNORE
    NULLS) over an explicit ROWS frame — the window rides the join's
    partitioning, and per-user state is bounded by span length, same
    bound as gapfill_daily."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            F.expr(_CENTS).alias("value_c"),
        )
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.max_by(
            F.col("value_c"), F.struct(F.col("ts"), F.col("event_id"))
        ).alias("close_c")
    )
    cal = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
        )
    )
    joined = cal.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("close_c").isNotNull()).alias("observed"),
        F.last("close_c", ignorenulls=True).over(w).cast("bigint").alias(
            "locf_close_c"
        ),
    )


QUERIES["timeseries_locf"] = q_timeseries_locf

ORACLES["timeseries_locf"] = f"""
    WITH ranked AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             {_CENTS} AS v,
             ROW_NUMBER() OVER (
                 PARTITION BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
                 ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events WHERE value IS NOT NULL
    ),
    daily AS (
      SELECT user_id, day, v AS close_c FROM ranked WHERE rn = 1
    ),
    span AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
    ),
    cal AS (
      SELECT user_id,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                 AS day
      FROM span
    )
    SELECT c.user_id,
           strftime(c.day, '%Y-%m-%d') AS day,
           d.close_c IS NOT NULL AS observed,
           CAST(last_value(d.close_c IGNORE NULLS)
                OVER (PARTITION BY c.user_id ORDER BY c.day
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS locf_close_c
    FROM cal c LEFT JOIN daily d
      ON c.user_id = d.user_id AND c.day = d.day
"""


def q_rolling_median_7d(spark, sf_dir):
    """Exact rolling 7-row median of daily revenue per order priority —
    the order-statistics window class (rank/lag/sum frames are covered
    elsewhere; a sliding MEDIAN needs the full frame, not a running
    accumulator, and is the robust-smoothing primitive dashboards reach
    for when means are outlier-dominated).

    Plan: one hash agg to the (priority, day) grain — tiny at any SF, so
    the subsequent per-priority sort window costs |days| rows per
    partition, not |orders| — then Spark's exact ``percentile`` aggregate
    over a ROWS frame.  The median is emitted ×2 (med7_x2_c) so even-count
    frames (a+b)/2 stay exact BIGINT; a+b is exact in double and DuckDB's
    windowed median interpolates identically (probe-verified)."""
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority", F.col("o_orderdate").alias("day")
        )
        .agg(
            F.sum(F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)"))
            .alias("rev_c")
        )
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    return daily.select(
        "o_orderpriority",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "rev_c",
        F.round(F.expr("percentile(rev_c, 0.5)").over(w) * 2)
        .cast("bigint")
        .alias("med7_x2_c"),
    )


QUERIES["rolling_median_7d"] = q_rolling_median_7d

ORACLES["rolling_median_7d"] = """
    WITH daily AS (
      SELECT o_orderpriority,
             o_orderdate AS day,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS rev_c
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority,
           strftime(day, '%Y-%m-%d') AS day,
           rev_c,
           CAST(ROUND(median(rev_c) OVER (
                 PARTITION BY o_orderpriority ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 2) AS BIGINT)
               AS med7_x2_c
    FROM daily
"""


def q_group_quartiles(spark, sf_dir):
    """Exact p25/p50/p75 of order value per market segment — the exact
    twin of the rows-only ``approx_percentiles`` (whose sketch output no
    cross-engine oracle can pin).  Quartile ranks (n-1)·p have fractional
    parts in {0, ¼, ½, ¾}, so ×4 scaling (pXX_x4_c) makes the linearly
    interpolated value an exact BIGINT: k·(b−a)/4 and the final ×4 are
    exact in double for cent-scale inputs, and DuckDB's quantile_cont
    uses the same (n−1)·p interpolation (probe-verified).

    Plan: one segment-keyed join-free pass — broadcast-free hash agg on
    5 groups; percentile is a single-shuffle exact aggregate (sorts only
    within each group's partial state), no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # customer grows with SF (not broadcastable at cluster scale) — a
    # plain equi-join lets AQE pick broadcast at test SFs and shuffle
    # hash at 100 TB, where both sides co-partition on the key.
    oc = orders.join(cust, orders.o_custkey == cust.c_custkey)
    val = oc.select(
        "c_mktsegment",
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("v_c"),
    )
    return val.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(F.expr("percentile(v_c, 0.25)") * 4).cast("bigint").alias("p25_x4_c"),
        F.round(F.expr("percentile(v_c, 0.5)") * 4).cast("bigint").alias("p50_x4_c"),
        F.round(F.expr("percentile(v_c, 0.75)") * 4).cast("bigint").alias("p75_x4_c"),
    )


QUERIES["group_quartiles"] = q_group_quartiles

ORACLES["group_quartiles"] = """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(ROUND(quantile_cont(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT), 0.25) * 4) AS BIGINT) AS p25_x4_c,
           CAST(ROUND(quantile_cont(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT), 0.50) * 4) AS BIGINT) AS p50_x4_c,
           CAST(ROUND(quantile_cont(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT), 0.75) * 4) AS BIGINT) AS p75_x4_c
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
"""


def q_pivot_revenue_matrix(spark, sf_dir):
    """Wide pivot: order-year rows × market-segment columns of
    integer-cents revenue — the reshape class (`groupBy().pivot()`)
    no other query exercises; BI exports and feature matrices are this
    shape.

    The pivot VALUES are passed explicitly: without them Spark runs an
    extra distinct-scan job to discover the column set (and caps it at
    spark.sql.pivotMaxValues) — at 100 TB that discovery pass costs more
    than the pivot itself.  With pinned values this is ONE hash agg with
    5 conditional sums, no second scan; missing cells coalesce to 0 so
    the frame is dense."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    oc = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.year("o_orderdate").alias("order_year"),
        "c_mktsegment",
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("v_c"),
    )
    wide = (
        oc.groupBy("order_year")
        .pivot("c_mktsegment", segs)
        .agg(F.sum("v_c"))
    )
    return wide.select(
        "order_year",
        *[
            F.coalesce(F.col(f"`{s}`"), F.lit(0).cast("bigint")).alias(
                f"{s.lower()}_c"
            )
            for s in segs
        ],
    )


QUERIES["pivot_revenue_matrix"] = q_pivot_revenue_matrix

ORACLES["pivot_revenue_matrix"] = """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE'
               THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) AS automobile_c,
           CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'BUILDING'
               THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) AS building_c,
           CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'FURNITURE'
               THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) AS furniture_c,
           CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD'
               THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) AS household_c,
           CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'MACHINERY'
               THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) AS machinery_c
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
"""


def q_error_recovery_pattern(spark, sf_dir):
    """Sequence-pattern detection with an exclusion clause — the
    MATCH_RECOGNIZE shape (A then B within T, with NO C between): an
    error is "recovered" when the same user's FIRST purchase within 30
    minutes follows it with no further error in between.  Funnels count
    ordered steps; this class additionally requires the absence of an
    intervening event, which needs the matched pair's exact span.

    Plan: time-bounded pair join errors×purchases (same user-key
    co-partitioning as range_join — candidate set bounded by the 30 min
    window, never |errors|×|purchases|), min_by picks the first
    purchase per error in one hash agg, then ONE anti-join kills spans
    containing another error.  Per-user rollup keeps the output at
    |users-with-errors| regardless of SF."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), "user_id", F.col("ts").alias("e_ts")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    first_p = (
        err.join(
            pur,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("e_ts"))
            & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy("e_id", "user_id", "e_ts")
        .agg(
            F.min_by(
                F.col("p_ts"), F.struct(F.col("p_ts"), F.col("p_id"))
            ).alias("fp_ts")
        )
    )
    err2 = err.select(
        F.col("user_id").alias("x_user"), F.col("e_ts").alias("x_ts")
    )
    recovered = first_p.join(
        err2,
        (F.col("user_id") == F.col("x_user"))
        & (F.col("x_ts") > F.col("e_ts"))
        & (F.col("x_ts") < F.col("fp_ts")),
        "left_anti",
    )
    per_user = recovered.groupBy("user_id").agg(
        F.count("*").alias("n_recovered"),
        F.min(
            F.unix_micros(F.col("fp_ts").cast("timestamp"))
            - F.unix_micros(F.col("e_ts").cast("timestamp"))
        ).alias("min_recovery_us"),
    )
    totals = err.groupBy("user_id").agg(F.count("*").alias("n_errors"))
    return totals.join(per_user, "user_id", "left").select(
        "user_id",
        "n_errors",
        F.coalesce("n_recovered", F.lit(0).cast("bigint")).alias("n_recovered"),
        "min_recovery_us",
    )


QUERIES["error_recovery_pattern"] = q_error_recovery_pattern

ORACLES["error_recovery_pattern"] = """
    WITH err AS (
      SELECT event_id AS e_id, user_id, ts AS e_ts
      FROM events WHERE event_type = 'error'
    ),
    pur AS (
      SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    first_p AS (
      SELECT e_id, user_id, e_ts, min(p_ts ORDER BY p_ts, p_id) AS fp_ts
      FROM err JOIN pur
        ON user_id = p_user
       AND p_ts > e_ts
       AND p_ts <= e_ts + INTERVAL 30 MINUTE
      GROUP BY 1, 2, 3
    ),
    recovered AS (
      SELECT f.* FROM first_p f
      WHERE NOT EXISTS (
        SELECT 1 FROM err x
        WHERE x.user_id = f.user_id
          AND x.e_ts > f.e_ts AND x.e_ts < f.fp_ts
      )
    ),
    per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_recovered,
             CAST(min(date_diff('microsecond', e_ts, fp_ts)) AS BIGINT)
                 AS min_recovery_us
      FROM recovered GROUP BY 1
    )
    SELECT t.user_id,
           CAST(t.n_errors AS BIGINT) AS n_errors,
           COALESCE(p.n_recovered, 0) AS n_recovered,
           p.min_recovery_us
    FROM (SELECT user_id, count(*) AS n_errors FROM err GROUP BY 1) t
    LEFT JOIN per_user p USING (user_id)
"""


def q_join_view_incremental(spark, sf_dir):
    """Incremental maintenance of a JOIN-defined aggregate view — the
    delta-rule class (DBToaster-style): the view is
    γ_{segment,year}(orders ⋈ customer), history is materialized once,
    and an order increment folds in as merge(V_old, γ(Δorders ⋈
    customer)) — the join is re-executed ONLY over the delta.  The
    oracle is a FULL recompute over all orders, so the hash verifies
    the algebraic identity merge(γ(old⋈C), γ(Δ⋈C)) == γ((old∪Δ)⋈C)
    value-for-value.

    rollup_incremental pins the agg-only delta rule; this adds the join
    factor — the case where naive view refresh re-joins the entire fact
    history.  Dimension-side deltas (Δcustomer) need the symmetric rule
    and are out of scope: the customer table is static here, as stated.

    Scale: the per-increment cost is |Δ| join work plus a view-grain
    (segments × years) merge shuffle — independent of history size; the
    COUNT/SUM partials are associative so any increment split folds to
    the identical view."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def partials(o):
        return (
            o.join(cust, o.o_custkey == cust.c_custkey)
            .groupBy(
                "c_mktsegment", F.year("o_orderdate").alias("order_year")
            )
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(
                    F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")
                ).alias("rev_c"),
            )
        )

    cutoff = F.lit("1997-01-01").cast("date")
    view_old = partials(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partials(orders.filter(F.col("o_orderdate") >= cutoff))
    # associative merge at view grain: union the partial tables and
    # re-sum — identical to an upsert into the materialized view table
    return (
        view_old.unionByName(delta)
        .groupBy("c_mktsegment", "order_year")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("rev_c").alias("rev_c"),
        )
    )


QUERIES["join_view_incremental"] = q_join_view_incremental

ORACLES["join_view_incremental"] = """
    SELECT c.c_mktsegment,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS order_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
"""


def q_rolling_wau(spark, sf_dir):
    """Exact 7-day rolling active users (WAU) per day — the sliding
    DISTINCT class: COUNT(DISTINCT) does not decompose into mergeable
    partials, so a sliding frame can't reuse running-sum machinery.
    The distributed reformulation: dedupe to the (user, day) grain
    first (the only corpus-sized shuffle), then EXPLODE each user-day
    into the ≤7 window anchors it contributes to and hash-count
    distinct users per anchor.

    Scale: the explode factor is window/slide = 7 — constant — and it
    multiplies the DEDUPED grain (|users|·|days|), not raw events;
    the final agg is one shuffle at (day × users-per-window) grain.
    This beats the naive per-day self-join (which rescans 7× per
    anchor) and is exact where sketch-merge (HLL) is not.  Anchors run
    to max(day)+6: a window is reported as long as any trailing-7-day
    activity exists, mirrored exactly by the oracle's unnest."""
    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    return (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"), F.date_add(F.col("day"), 6)
                )
            ).alias("win_day"),
        )
        .groupBy("win_day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.date_format("win_day", "yyyy-MM-dd").alias("win_day"), "wau")
    )


QUERIES["rolling_wau"] = q_rolling_wau

ORACLES["rolling_wau"] = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    ex AS (
      SELECT user_id,
             CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY))
                  AS DATE) AS win_day
      FROM ud
    )
    SELECT strftime(win_day, '%Y-%m-%d') AS win_day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM ex GROUP BY 1
"""


def q_user_set_algebra(spark, sf_dir):
    """Set algebra over user cohorts — the INTERSECT/EXCEPT operator
    class (no other query exercises Spark's set operators): users
    active in BOTH the first and second third of the month but NOT the
    last third — the classic "engaged then churned" cohort.

    Spark's intersect/except are set-semantic (dedup built in), compile
    to left-semi/left-anti hash joins over the distinct sets, and
    co-partition on the full row — no driver-side set materialization
    at any SF.  DuckDB's INTERSECT/EXCEPT are the same algebra, making
    the oracle a direct transliteration."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.dayofmonth("ts").alias("dom"))
    )
    early = ev.filter(F.col("dom") <= 10).select("user_id")
    mid = ev.filter((F.col("dom") > 10) & (F.col("dom") <= 20)).select("user_id")
    late = ev.filter(F.col("dom") > 20).select("user_id")
    # intersect/subtract are the set-semantic operators (SQL
    # INTERSECT/EXCEPT): dedup is built into the algebra
    return early.intersect(mid).subtract(late).select("user_id")


QUERIES["user_set_algebra"] = q_user_set_algebra

ORACLES["user_set_algebra"] = """
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND EXTRACT(day FROM ts) <= 10
    INTERSECT
    SELECT user_id FROM events
    WHERE event_type = 'purchase'
      AND EXTRACT(day FROM ts) > 10 AND EXTRACT(day FROM ts) <= 20
    EXCEPT
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND EXTRACT(day FROM ts) > 20
"""


def q_gap_sla_quantiles(spark, sf_dir):
    """Exact discrete p50/p95/p99 of the inter-event gap per event type
    — the SLA/latency-report class.  Interpolated percentiles (the
    group_quartiles path) stay exact only while the rank fraction is
    dyadic; p95/p99 fractions are not, so cross-engine float parity
    would be luck.  The discrete quantile (value at rank ⌈q·n⌉) is an
    integer SELECT, exact at any q — and selecting by rank needs global
    per-group ranks, which this computes with the same fully-parallel
    two-phase shape as revenue_concentration: range-repartition on
    (type, gap), per-partition row_number, broadcast (partition, type)
    count offsets folded by a triangular join — no single-partition
    window anywhere, so the sort stays distributed at a billion gaps
    per type.  Rank targets use pure integer ceil ((q·n + 99) div 100)
    so no float touches the pipeline at all."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "ts", "event_id"
    )
    wlag = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("prev_ts", F.lag("ts").over(wlag))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "event_type",
            "event_id",
            (F.unix_micros(F.col("ts").cast("timestamp"))
             - F.unix_micros(F.col("prev_ts").cast("timestamp"))).alias("gap_us"),
        )
    )
    # parted feeds two consumers (the rank window and the offset
    # counts); without a persist the events scan + lag window + range
    # shuffle would re-evaluate per consumer — at corpus scale that is
    # the dominant cost, so cache the one corpus-sized frame (tracked:
    # the harness releases it after evaluation)
    from real_time_data_pipeline_spark.operators import cache

    parted = cache.track(
        gaps.repartitionByRange(
            32, "event_type", "gap_us", "event_id"
        ).withColumn("pid", F.spark_partition_id())
    )
    local = parted.withColumn(
        "j",
        F.row_number().over(
            Window.partitionBy("pid", "event_type").orderBy("gap_us", "event_id")
        ),
    )
    cnts = parted.groupBy("pid", "event_type").agg(F.count("*").alias("cnt"))
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
        F.sum("cnt").cast("bigint").alias("n_gaps")
    )
    ranked = (
        local.join(F.broadcast(offsets), ["pid", "event_type"])
        .withColumn("r", F.col("offset") + F.col("j"))
        .join(F.broadcast(totals), "event_type")
    )
    picked = ranked.filter(
        (F.col("r") == F.expr("(n_gaps * 50 + 99) div 100"))
        | (F.col("r") == F.expr("(n_gaps * 95 + 99) div 100"))
        | (F.col("r") == F.expr("(n_gaps * 99 + 99) div 100"))
    )
    return picked.groupBy("event_type", "n_gaps").agg(
        F.max(
            F.when(F.col("r") == F.expr("(n_gaps * 50 + 99) div 100"), F.col("gap_us"))
        ).alias("p50_us"),
        F.max(
            F.when(F.col("r") == F.expr("(n_gaps * 95 + 99) div 100"), F.col("gap_us"))
        ).alias("p95_us"),
        F.max(
            F.when(F.col("r") == F.expr("(n_gaps * 99 + 99) div 100"), F.col("gap_us"))
        ).alias("p99_us"),
    )


QUERIES["gap_sla_quantiles"] = q_gap_sla_quantiles

ORACLES["gap_sla_quantiles"] = """
    WITH gaps AS (
      SELECT event_type, event_id,
             CAST(date_diff('microsecond',
                  lag(ts) OVER (PARTITION BY event_type, user_id
                                ORDER BY ts, event_id),
                  ts) AS BIGINT) AS gap_us
      FROM events
    ),
    g AS (SELECT * FROM gaps WHERE gap_us IS NOT NULL),
    ranked AS (
      SELECT event_type, gap_us,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY gap_us, event_id) AS r,
             count(*) OVER (PARTITION BY event_type) AS n_gaps
      FROM g
    )
    SELECT event_type,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(max(CASE WHEN r = (n_gaps * 50 + 99) // 100 THEN gap_us END) AS BIGINT) AS p50_us,
           CAST(max(CASE WHEN r = (n_gaps * 95 + 99) // 100 THEN gap_us END) AS BIGINT) AS p95_us,
           CAST(max(CASE WHEN r = (n_gaps * 99 + 99) // 100 THEN gap_us END) AS BIGINT) AS p99_us
    FROM ranked
    WHERE r = (n_gaps * 50 + 99) // 100
       OR r = (n_gaps * 95 + 99) // 100
       OR r = (n_gaps * 99 + 99) // 100
    GROUP BY 1, 2
"""


def q_stream_join_view_incremental(spark, sf_dir):
    """Streaming maintenance of the JOIN-defined aggregate view — the
    streaming evidence layer on the same full-recompute oracle as
    `join_view_incremental`: the pre-cutoff view is the seeded state,
    post-cutoff orders ARRIVE AS A STREAM, and every micro-batch
    re-executes the join ONLY over its delta (Δorders ⋈ customer),
    aggregates to view grain, and folds into the held state by
    associative COUNT/SUM merge — any batch split yields the identical
    final view, which is exactly what sharing the full-recompute hash
    pins.  State between batches is one row per (segment, year) —
    bounded — held as an engine-side checkpoint
    (reference_parity.swap_state); the seed stays lazy and is computed
    inside the first batch's checkpoint."""
    from real_time_data_pipeline_spark.queries.reference_parity import (
        drain,
        swap_state,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def partials(o):
        return (
            o.join(cust, o.o_custkey == cust.c_custkey)
            .groupBy(
                "c_mktsegment", F.year("o_orderdate").alias("order_year")
            )
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(
                    F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")
                ).alias("rev_c"),
            )
        )

    cutoff = F.lit("1997-01-01").cast("date")
    orders = load_table(spark, sf_dir, "orders")
    holder = {"state": partials(orders.filter(F.col("o_orderdate") < cutoff))}

    def fold(batch, _i):
        inc = batch.filter(F.col("o_orderdate") >= cutoff)
        delta = partials(inc)
        swap_state(
            holder,
            holder["state"]
            .unionByName(delta)
            .groupBy("c_mktsegment", "order_year")
            .agg(
                F.sum("n_orders").alias("n_orders"),
                F.sum("rev_c").alias("rev_c"),
            ),
        )

    schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    drain(
        spark.readStream.schema(schema).parquet(f"{sf_dir}/orders*.parquet"),
        "stream_join_view_incremental",
        fold,
    )
    return holder["state"]


QUERIES["stream_join_view_incremental"] = q_stream_join_view_incremental

# streaming per-batch delta-join maintenance == the batch full-recompute
ORACLES["stream_join_view_incremental"] = ORACLES["join_view_incremental"]


def q_unpivot_daily_metrics(spark, sf_dir):
    """Long-form reshape via df.unpivot (melt) — the inverse of
    `pivot_revenue_matrix` and the other half of the reshape pair:
    per-day wide metrics (count / sum / min / max of event cents)
    unpivoted to (day, metric, v) — the shape metric stores and
    plotting layers ingest.

    unpivot is a zero-shuffle Expand over the already-aggregated daily
    frame (|days| rows × 4 metrics), so the reshape itself is free at
    any SF; the one shuffle is the day-grain pre-aggregation."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr(_CENTS)).alias("sum_c"),
            F.min(F.expr(_CENTS)).alias("min_c"),
            F.max(F.expr(_CENTS)).alias("max_c"),
        )
    )
    return daily.unpivot(
        ids=[F.date_format("day", "yyyy-MM-dd").alias("day")],
        values=["n_events", "sum_c", "min_c", "max_c"],
        variableColumnName="metric",
        valueColumnName="v",
    )


QUERIES["unpivot_daily_metrics"] = q_unpivot_daily_metrics

ORACLES["unpivot_daily_metrics"] = f"""
    WITH daily AS (
      SELECT strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(SUM({_CENTS}) AS BIGINT) AS sum_c,
             CAST(MIN({_CENTS}) AS BIGINT) AS min_c,
             CAST(MAX({_CENTS}) AS BIGINT) AS max_c
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT day, 'n_events' AS metric, n_events AS v FROM daily
    UNION ALL SELECT day, 'sum_c', sum_c FROM daily
    UNION ALL SELECT day, 'min_c', min_c FROM daily
    UNION ALL SELECT day, 'max_c', max_c FROM daily
"""


def q_grouping_sets_revenue(spark, sf_dir):
    """Arbitrary GROUPING SETS — the third grouping-lattice class
    (cube_order_stats pins the full lattice, rollup_geo_revenue the
    hierarchical prefix chain; this pins a HAND-PICKED set list:
    per-segment, per-year, and grand total, WITHOUT the segment×year
    cross that CUBE would force).  Expressed through the SQL entry
    path (GROUP BY GROUPING SETS), which compiles to the same single
    Expand + one hash agg — one pass over the join output regardless
    of how many sets are listed; the GROUPING() bitmask disambiguates
    the NULL-keyed subtotal rows exactly as in the CUBE twin."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    oc = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment",
        F.year("o_orderdate").alias("order_year"),
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("v_c"),
    )
    oc.createOrReplaceTempView("gs_rev_input")
    return spark.sql(
        """
        SELECT c_mktsegment,
               order_year,
               CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
               CAST(GROUPING(order_year) AS BIGINT) AS g_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(v_c) AS BIGINT) AS rev_c
        FROM gs_rev_input
        GROUP BY GROUPING SETS ((c_mktsegment), (order_year), ())
        """
    )


QUERIES["grouping_sets_revenue"] = q_grouping_sets_revenue

ORACLES["grouping_sets_revenue"] = """
    SELECT c.c_mktsegment,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS order_year,
           CAST(GROUPING(c.c_mktsegment) AS BIGINT) AS g_seg,
           CAST(GROUPING(EXTRACT(year FROM o.o_orderdate)) AS BIGINT) AS g_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c.c_mktsegment), (EXTRACT(year FROM o.o_orderdate)), ())
"""


def q_change_point(spark, sf_dir):
    """Single change-point per event-type daily-revenue series by
    binary segmentation (operators/statistics.change_point_binary):
    the split maximizing the exact integer between-group sum of
    squares — CUSUM's location argmax with no float variance anywhere,
    the monitoring primitive that answers "WHEN did this series
    shift"."""
    from real_time_data_pipeline_spark.operators.statistics import (
        change_point_binary,
    )

    events = load_table(spark, sf_dir, "events")
    daily_in = events.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.expr(_CENTS).alias("cents"),
    )
    out = change_point_binary(daily_in, "event_type", "day", "cents")
    return out.select(
        "event_type",
        F.date_format("split_x", "yyyy-MM-dd").alias("split_day"),
        "n_left",
        "n_right",
        "mean_left",
        "mean_right",
        "gain_u",
    )


QUERIES["change_point"] = q_change_point

ORACLES["change_point"] = """
    WITH pts AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    cand AS (
      SELECT event_type, day,
             CAST(row_number() OVER w AS BIGINT) AS n_l,
             CAST(SUM(y) OVER w AS BIGINT) AS s_l,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(SUM(y) OVER (PARTITION BY event_type) AS BIGINT) AS s
      FROM pts
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    scored AS (
      SELECT event_type, day, n_l, n - n_l AS n_r, s_l, s - s_l AS s_r, n,
             CAST((CAST(s_l * (n - n_l) - (s - s_l) * n_l AS HUGEINT)
                   * CAST(s_l * (n - n_l) - (s - s_l) * n_l AS HUGEINT)
                   * 100)
                  // (n * n_l * (n - n_l)) AS BIGINT) AS gain_u
      FROM cand WHERE n_l < n
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS split_day,
           n_l AS n_left, n_r AS n_right,
           CAST(s_l // n_l AS BIGINT) AS mean_left,
           CAST(s_r // n_r AS BIGINT) AS mean_right,
           gain_u
    FROM (
      SELECT sc.*, row_number() OVER (
        PARTITION BY event_type ORDER BY gain_u DESC, day
      ) AS rn FROM scored sc
    ) WHERE rn = 1
"""


def q_attribution_u_shape(spark, sf_dir):
    """U-shaped multi-touch attribution
    (operators/statistics.attribution_u_shape): per-conversion paths
    (touches since the previous purchase), 40/20/40 position weights
    in exact bp with the largest-remainder middle spread — credits per
    conversion sum to EXACTLY value_c·10000, the path-grain companion
    of attribution_last_touch."""
    from real_time_data_pipeline_spark.operators.statistics import (
        attribution_u_shape,
    )

    return attribution_u_shape(load_table(spark, sf_dir, "events"))


QUERIES["attribution_u_shape"] = q_attribution_u_shape

ORACLES["attribution_u_shape"] = """
    WITH base AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(FLOOR(COALESCE(value, 0) * 100) AS BIGINT) AS value_c,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS BIGINT) AS p_upto
      FROM events
    ),
    convs AS (
      SELECT user_id, p_upto AS conv_idx, value_c
      FROM base WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, event_type, ts, event_id, p_upto + 1 AS conv_idx
      FROM base WHERE event_type IN ('click', 'view')
    ),
    pos AS (
      SELECT user_id, event_type, conv_idx,
             CAST(row_number() OVER (
               PARTITION BY user_id, conv_idx ORDER BY ts, event_id
             ) AS BIGINT) AS i,
             CAST(COUNT(*) OVER (
               PARTITION BY user_id, conv_idx
             ) AS BIGINT) AS k
      FROM touches
    ),
    weighted AS (
      SELECT p.*,
             CAST(CASE WHEN k = 1 THEN 10000
                  WHEN k = 2 THEN 5000
                  WHEN i = 1 OR i = k THEN 4000
                  ELSE 2000 // (k - 2)
                    + (CASE WHEN i - 1 <= 2000 % (k - 2) THEN 1 ELSE 0 END)
                  END AS BIGINT) AS w_bp
      FROM pos p
    ),
    credited AS (
      SELECT w.event_type AS touch_type, c.value_c * w.w_bp AS credit_cbp
      FROM weighted w JOIN convs c USING (user_id, conv_idx)
    ),
    direct AS (
      SELECT 'direct' AS touch_type, c.value_c * 10000 AS credit_cbp
      FROM convs c
      WHERE NOT EXISTS (
        SELECT 1 FROM weighted w
        WHERE w.user_id = c.user_id AND w.conv_idx = c.conv_idx
      )
    ),
    unioned AS (
      SELECT * FROM credited UNION ALL SELECT * FROM direct
    )
    SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(credit_cbp) AS BIGINT) AS credit_cbp
    FROM unioned GROUP BY 1
"""
