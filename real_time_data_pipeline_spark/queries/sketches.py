"""Oracle-backed registry entries for the EXACTLY-certified sketch
tier: the K-minimum-values distinct sketch and its mergeability
certificate (operators/aggregates.kmv_distinct / kmv_merge).

The certification posture is the ``cms_heavy_hitters`` one: the sketch
hash family is the deterministic engine-portable sha256 fold, so the
sketch CONTENTS — kth hash, estimate, signed error — are reproducible
values, and the DuckDB oracle recomputes the whole sketch rather than
checking an error envelope.  (The JVM-opaque HLL path stays next door
as ``approx_distinct`` + ``approx_distinct_envelope``.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import aggregates as A
from real_time_data_pipeline_spark.queries.dedup import duck_hexfold_n
from real_time_data_pipeline_spark.schemas import load_table

QUERIES: dict = {}
ORACLES: dict = {}

_H48 = duck_hexfold_n("CAST(user_id AS VARCHAR)", 12)
_EST_NUM = (A.KMV_K - 1) * A.KMV_SPACE


def q_kmv_distinct(spark, sf_dir):
    """Per-event-type distinct-user KMV sketch
    (operators/aggregates.kmv_distinct): k=64 smallest portable 48-bit
    hashes per type, exact-integer estimate, true count and signed
    error bp alongside — the distinct-count accuracy ledger, with the
    sketch itself under the oracle."""
    events = load_table(spark, sf_dir, "events")
    return A.kmv_distinct(events, "event_type", "user_id")


QUERIES["kmv_distinct"] = q_kmv_distinct

ORACLES["kmv_distinct"] = f"""
    WITH hx AS (
      SELECT DISTINCT event_type, {_H48} AS h FROM events
      WHERE user_id IS NOT NULL
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hx
    ),
    sk AS (
      SELECT event_type, CAST(MAX(rn) AS BIGINT) AS n_kept,
             CAST(MAX(h) AS BIGINT) AS kth_hash
      FROM ranked WHERE rn <= {A.KMV_K} GROUP BY 1
    ),
    exact AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY 1
    ),
    est AS (
      SELECT s.event_type, e.n_exact, s.n_kept, s.kth_hash,
             CAST(CASE WHEN s.n_kept < {A.KMV_K} THEN s.n_kept
                       ELSE {_EST_NUM} // s.kth_hash END AS BIGINT)
                 AS est_kmv
      FROM sk s JOIN exact e USING (event_type)
    )
    SELECT event_type, n_exact, n_kept, kth_hash, est_kmv,
           CAST((est_kmv - n_exact) * 10000 // n_exact AS BIGINT) AS err_bp
    FROM est
"""


def q_kmv_merge(spark, sf_dir):
    """KMV mergeability certificate (operators/aggregates.kmv_merge):
    the corpus-wide distinct-user sketch folded across 32 physical
    hash shards AND across the per-event-type logical sketches,
    equality pinned TRUE by the oracle — the lossless-rollup property
    that lets per-shard sketches replace history rescans at 100 TB."""
    events = load_table(spark, sf_dir, "events")
    return A.kmv_merge(events, "event_type", "user_id")


QUERIES["kmv_merge"] = q_kmv_merge

ORACLES["kmv_merge"] = f"""
    WITH hx AS (
      SELECT DISTINCT event_type AS grp, {_H48} AS h FROM events
      WHERE user_id IS NOT NULL
    ),
    direct AS (
      SELECT CAST(MAX(rn) AS BIGINT) AS n_kept_d,
             CAST(MAX(h) AS BIGINT) AS kth_direct
      FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (
          SELECT DISTINCT h FROM (
            SELECT h,
                   row_number() OVER (PARTITION BY h % 32 ORDER BY h)
                       AS rs
            FROM (SELECT DISTINCT h FROM hx)
          ) WHERE rs <= {A.KMV_K}
        )
      ) WHERE rn <= {A.KMV_K}
    ),
    merged AS (
      SELECT CAST(MAX(rn) AS BIGINT) AS n_kept_m,
             CAST(MAX(h) AS BIGINT) AS kth_merged
      FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (
          SELECT DISTINCT h FROM (
            SELECT grp, h,
                   row_number() OVER (PARTITION BY grp ORDER BY h) AS rg
            FROM hx
          ) WHERE rg <= {A.KMV_K}
        )
      ) WHERE rn <= {A.KMV_K}
    ),
    exact AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events
    )
    SELECT CAST({A.KMV_K} AS BIGINT) AS k, n_exact, kth_direct,
           CAST(CASE WHEN n_kept_d < {A.KMV_K} THEN n_kept_d
                     ELSE {_EST_NUM} // kth_direct END AS BIGINT)
               AS est_direct,
           CAST(CASE WHEN n_kept_m < {A.KMV_K} THEN n_kept_m
                     ELSE {_EST_NUM} // kth_merged END AS BIGINT)
               AS est_merged,
           (kth_direct = kth_merged AND n_kept_d = n_kept_m)
               AS merge_equal
    FROM direct, merged, exact
"""


def q_stream_kmv_fold(spark, sf_dir):
    """Streaming twin of ``kmv_distinct`` on the SAME sketch contract:
    the event log ARRIVES AS A STREAM (staged as 8 files,
    maxFilesPerTrigger=1 → 8 real micro-batches) and each batch's
    per-type k smallest hashes (≤ |types|·k rows, operators/aggregates
    .kmv_sketch) go to captured parquet; the finalize is the same KMV
    step over the union of the captured hashes (k smallest of the
    union — the KMV merge rule).  Because merge is lossless for ANY
    split of the data (the property ``kmv_merge`` certifies over
    groups, applied here over TIME slices), the merged sketch is
    hash-identical to the one-shot sketch — the monitoring shape at
    100 TB: per-batch sketch frames are tiny and history is never
    re-scanned.

    Output: (event_type, n_kept, kth_hash, est_kmv) — the
    sketch-derivable columns (the exact count is precisely what the
    stream never holds)."""
    from real_time_data_pipeline_spark.operators.curation import (
        portable_hash48,
    )
    from real_time_data_pipeline_spark.queries.reference_parity import (
        capture_stage,
        stream_capture,
    )

    stage = capture_stage(spark, "stream_kmv_events")
    load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    ).repartition(8).write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema

    def partials(batch):
        hashes = batch.filter(F.col("user_id").isNotNull()).select(
            "event_type", portable_hash48(F.col("user_id")).alias("h")
        )
        return A.kmv_sketch(hashes, "event_type").select("event_type", "hashes")

    cap = stream_capture(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage),
        "stream_kmv_fold",
        transform=partials,
        schema="event_type string, hashes array<bigint>",
    )
    return A.kmv_sketch(
        cap.select("event_type", F.explode("hashes").alias("h")), "event_type"
    ).select("event_type", "n_kept", "kth_hash", "est_kmv")


QUERIES["stream_kmv_fold"] = q_stream_kmv_fold

ORACLES["stream_kmv_fold"] = f"""
    WITH hx AS (
      SELECT DISTINCT event_type, {_H48} AS h FROM events
      WHERE user_id IS NOT NULL
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hx
    ),
    sk AS (
      SELECT event_type, CAST(MAX(rn) AS BIGINT) AS n_kept,
             CAST(MAX(h) AS BIGINT) AS kth_hash
      FROM ranked WHERE rn <= {A.KMV_K} GROUP BY 1
    )
    SELECT event_type, n_kept, kth_hash,
           CAST(CASE WHEN n_kept < {A.KMV_K} THEN n_kept
                     ELSE {_EST_NUM} // kth_hash END AS BIGINT) AS est_kmv
    FROM sk
"""


# ------------------------------------------------------------- q-digest

def q_qdigest_quantiles(spark, sf_dir):
    """Q-digest quantile sketch over event values
    (operators/aggregates.qdigest_quantiles): integer-cents universe
    2^16, threshold n div 256, canonical walk — the mergeable-quantile
    member of the deterministic sketch tier, with the exact rank
    ledger (target vs true rank interval, classic L·thr bound pinned
    within_bound=TRUE) recomputed outright by the oracle."""
    events = load_table(spark, sf_dir, "events")
    return A.qdigest_quantiles(events, "value")


QUERIES["qdigest_quantiles"] = q_qdigest_quantiles


def _qdigest_oracle(
    k: int = A.QD_K,
    level_bits: int = A.QD_L,
    quantiles_bp: tuple = (2500, 5000, 7500, 9000, 9900),
) -> str:
    """Full q-digest recompute with the bottom-up compression UNROLLED
    (one keep/push stage pair per level): hist -> leaves at level L;
    per level, sibling sums below thr push one level up, the rest stay
    in the digest; quantile walk in (range-hi asc, range-lo desc)
    order; exact rank interval from the histogram prefix sums."""
    L = level_bits
    stages = [
        """qhist AS (
          SELECT CAST(FLOOR(CAST(value AS DOUBLE) * 100) AS BIGINT)
                     AS cents,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1
        )""",
        f"""qparams AS (
          SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                 CAST(SUM(cnt) // {k} AS BIGINT) AS thr
          FROM qhist
        )""",
        f"""st{L} AS (
          SELECT {1 << L} + cents AS idx, cnt FROM qhist
        )""",
    ]
    keeps = []
    for lvl in range(L, 0, -1):
        stages.append(f"""p{lvl} AS (
          SELECT idx // 2 AS p, CAST(SUM(cnt) AS BIGINT) AS sc
          FROM st{lvl} GROUP BY 1
        )""")
        stages.append(f"""keep{lvl} AS (
          SELECT s.idx, s.cnt
          FROM st{lvl} s JOIN p{lvl} q ON q.p = s.idx // 2
          CROSS JOIN qparams
          WHERE q.sc >= qparams.thr
        )""")
        stages.append(f"""st{lvl - 1} AS (
          SELECT p AS idx, sc AS cnt FROM p{lvl} CROSS JOIN qparams
          WHERE sc < qparams.thr
        )""")
        keeps.append(f"SELECT idx, cnt FROM keep{lvl}")
    keeps.append("SELECT idx, cnt FROM st0")
    stages.append(
        "qdigest AS (" + " UNION ALL ".join(keeps) + ")"
    )
    lvl_rows = ", ".join(
        f"({lvl}, {1 << lvl}, {(1 << (lvl + 1)) - 1}, {1 << (L - lvl)})"
        for lvl in range(L + 1)
    )
    qs = ", ".join(f"({q})" for q in quantiles_bp)
    stages.append(f"""qlvls AS (
          SELECT * FROM (VALUES {lvl_rows}) t(lvl, lo_idx, hi_idx, span)
        )""")
    stages.append("""qnodes AS (
          SELECT d.idx, d.cnt,
                 (d.idx - l.lo_idx) * l.span AS r_lo,
                 (d.idx - l.lo_idx + 1) * l.span - 1 AS r_hi
          FROM qdigest d
          JOIN qlvls l ON d.idx BETWEEN l.lo_idx AND l.hi_idx
        )""")
    stages.append("""qwalk AS (
          SELECT *, SUM(cnt) OVER (ORDER BY r_hi, r_lo DESC
                        ROWS UNBOUNDED PRECEDING) AS cum
          FROM qnodes
        )""")
    stages.append(f"""qtgt AS (
          SELECT q_bp,
                 CAST((q_bp * qparams.n + 9999) // 10000 AS BIGINT)
                     AS target
          FROM (VALUES {qs}) q(q_bp) CROSS JOIN qparams
        )""")
    stages.append(f"""qest AS (
          SELECT t.q_bp, t.target,
                 CAST(COALESCE((SELECT w.r_hi FROM qwalk w
                                WHERE w.cum >= t.target
                                ORDER BY w.r_hi, w.r_lo DESC LIMIT 1),
                               {(1 << L) - 1}) AS BIGINT) AS est_cents
          FROM qtgt t
        )""")
    stages.append("""qpf AS (
          SELECT cents, cnt,
                 SUM(cnt) OVER (ORDER BY cents
                        ROWS UNBOUNDED PRECEDING) AS cum_thru
          FROM qhist
        )""")
    stages.append("""qrk AS (
          SELECT e.q_bp, e.target, e.est_cents,
                 CAST(COALESCE((SELECT MAX(cum_thru) FROM qpf
                                WHERE cents < e.est_cents), 0) + 1
                      AS BIGINT) AS rank_lo,
                 CAST(COALESCE((SELECT MAX(cum_thru) FROM qpf
                                WHERE cents < e.est_cents), 0)
                      + COALESCE((SELECT cnt FROM qpf
                                  WHERE cents = e.est_cents), 0)
                      AS BIGINT) AS rank_hi
          FROM qest e
        )""")
    return (
        "WITH " + ",\n".join(stages) + f"""
        SELECT CAST(q_bp AS BIGINT) AS q_bp, est_cents,
               target AS target_rank, rank_lo, rank_hi,
               CAST(GREATEST(0, rank_lo - 1 - target, target - rank_hi)
                    AS BIGINT) AS rank_err,
               CAST({L} * qparams.thr AS BIGINT) AS err_limit,
               (GREATEST(0, rank_lo - 1 - target, target - rank_hi)
                <= {L} * qparams.thr) AS within_bound,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM qdigest) AS n_nodes
        FROM qrk CROSS JOIN qparams
    """
    )


ORACLES["qdigest_quantiles"] = _qdigest_oracle()


def q_qdigest_merge(spark, sf_dir):
    """Q-digest MERGE certificate (operators/aggregates.qdigest_merge;
    VERDICT r9 #7 — kmv_merge's quantile analogue): per-event-type
    digests built at their own n_g div 256 thresholds, merged by
    nodewise sum + one recompression at the global threshold, ledgered
    against the true histogram NEXT TO the one-shot digest — the
    oracle replays both builds (compression unrolled), the merge, and
    both walks, pinning within_bound on both sides."""
    events = load_table(spark, sf_dir, "events")
    return A.qdigest_merge(events, "value", "event_type")


QUERIES["qdigest_merge"] = q_qdigest_merge


def _qdigest_merge_oracle(
    k: int = A.QD_K,
    level_bits: int = A.QD_L,
    quantiles_bp: tuple = (2500, 5000, 7500, 9000, 9900),
) -> str:
    """Grouped q-digest build (per-group compression unrolled, `grp`
    carried through every stage), nodewise-sum merge, one unrolled
    recompression at the global threshold with the FULL
    kids+parent < thr test (merged digests hold counts at internal
    nodes, unlike the leaf-only one-shot build), both canonical walks,
    and the exact rank ledger for each — the one-shot side reuses
    :func:`_qdigest_oracle` verbatim as a subquery."""
    L = level_bits
    stages = [
        """ghist AS MATERIALIZED (
          SELECT event_type AS grp,
                 CAST(FLOOR(CAST(value AS DOUBLE) * 100) AS BIGINT)
                     AS cents,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2
        )""",
        f"""gparams AS MATERIALIZED (
          SELECT grp, CAST(SUM(cnt) // {k} AS BIGINT) AS thr
          FROM ghist GROUP BY 1
        )""",
        f"""gst{L} AS MATERIALIZED (
          SELECT grp, {1 << L} + cents AS idx, cnt FROM ghist
        )""",
    ]
    gkeeps = []
    for lvl in range(L, 0, -1):
        stages.append(f"""gp{lvl} AS (
          SELECT grp, idx // 2 AS p, CAST(SUM(cnt) AS BIGINT) AS sc
          FROM gst{lvl} GROUP BY 1, 2
        )""")
        stages.append(f"""gkeep{lvl} AS (
          SELECT s.grp, s.idx, s.cnt
          FROM gst{lvl} s
          JOIN gp{lvl} q ON q.grp = s.grp AND q.p = s.idx // 2
          JOIN gparams t ON t.grp = s.grp
          WHERE q.sc >= t.thr
        )""")
        stages.append(f"""gst{lvl - 1} AS MATERIALIZED (
          SELECT q.grp, q.p AS idx, q.sc AS cnt
          FROM gp{lvl} q JOIN gparams t ON t.grp = q.grp
          WHERE q.sc < t.thr
        )""")
        gkeeps.append(f"SELECT grp, idx, cnt FROM gkeep{lvl}")
    gkeeps.append("SELECT grp, idx, cnt FROM gst0")
    stages.append("gdigest AS (" + " UNION ALL ".join(gkeeps) + ")")
    stages.append(f"""mparams AS MATERIALIZED (
          SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                 CAST(SUM(cnt) // {k} AS BIGINT) AS thr
          FROM ghist
        )""")
    stages.append(f"""mst{L + 1} AS MATERIALIZED (
          SELECT idx, CAST(SUM(cnt) AS BIGINT) AS cnt
          FROM gdigest GROUP BY 1
        )""")
    # recompression: mst{L+1} holds the merged (mixed-level) multiset;
    # one stage triple per level, full kids+parent test
    for lvl in range(L, 0, -1):
        lo_i, hi_i = 1 << lvl, 1 << (lvl + 1)
        src = f"mst{lvl + 1}"
        stages.append(f"""mp{lvl} AS MATERIALIZED (
          SELECT idx // 2 AS p, CAST(SUM(cnt) AS BIGINT) AS kid_sum
          FROM {src} WHERE idx >= {lo_i} AND idx < {hi_i} GROUP BY 1
        )""")
        stages.append(f"""mdec{lvl} AS MATERIALIZED (
          SELECT m.p, m.kid_sum + COALESCE(s.cnt, 0) AS tot
          FROM mp{lvl} m LEFT JOIN {src} s ON s.idx = m.p
        )""")
        stages.append(f"""mst{lvl} AS MATERIALIZED (
          SELECT s.idx, s.cnt
          FROM {src} s JOIN mdec{lvl} d ON d.p = s.idx // 2
          CROSS JOIN mparams
          WHERE s.idx >= {lo_i} AND s.idx < {hi_i}
            AND d.tot >= mparams.thr
          UNION ALL
          SELECT d.p AS idx, CAST(d.tot AS BIGINT) AS cnt
          FROM mdec{lvl} d CROSS JOIN mparams
          WHERE d.tot < mparams.thr
          UNION ALL
          SELECT s.idx, s.cnt FROM {src} s
          WHERE (s.idx < {lo_i} OR s.idx >= {hi_i})
            AND NOT EXISTS (
              SELECT 1 FROM mdec{lvl} d CROSS JOIN mparams
              WHERE d.p = s.idx AND d.tot < mparams.thr)
        )""")
    stages.append("mdigest AS MATERIALIZED (SELECT idx, cnt FROM mst1)")
    lvl_rows = ", ".join(
        f"({lvl}, {1 << lvl}, {(1 << (lvl + 1)) - 1}, {1 << (L - lvl)})"
        for lvl in range(L + 1)
    )
    qs = ", ".join(f"({q})" for q in quantiles_bp)
    stages.append(f"""mlvls AS MATERIALIZED (
          SELECT * FROM (VALUES {lvl_rows}) t(lvl, lo_idx, hi_idx, span)
        )""")
    stages.append("""mnodesr AS MATERIALIZED (
          SELECT d.idx, d.cnt,
                 (d.idx - l.lo_idx) * l.span AS r_lo,
                 (d.idx - l.lo_idx + 1) * l.span - 1 AS r_hi
          FROM mdigest d
          JOIN mlvls l ON d.idx BETWEEN l.lo_idx AND l.hi_idx
        )""")
    stages.append("""mwalk AS MATERIALIZED (
          SELECT *, SUM(cnt) OVER (ORDER BY r_hi, r_lo DESC
                        ROWS UNBOUNDED PRECEDING) AS cum
          FROM mnodesr
        )""")
    stages.append(f"""mtgt AS MATERIALIZED (
          SELECT q_bp,
                 CAST((q_bp * mparams.n + 9999) // 10000 AS BIGINT)
                     AS target
          FROM (VALUES {qs}) q(q_bp) CROSS JOIN mparams
        )""")
    stages.append(f"""mest AS MATERIALIZED (
          SELECT t.q_bp, t.target,
                 CAST(COALESCE((SELECT w.r_hi FROM mwalk w
                                WHERE w.cum >= t.target
                                ORDER BY w.r_hi, w.r_lo DESC LIMIT 1),
                               {(1 << L) - 1}) AS BIGINT) AS est_merged
          FROM mtgt t
        )""")
    stages.append("""thist AS MATERIALIZED (
          SELECT cents, CAST(SUM(cnt) AS BIGINT) AS cnt
          FROM ghist GROUP BY 1
        )""")
    stages.append("""tpf AS MATERIALIZED (
          SELECT cents, cnt,
                 SUM(cnt) OVER (ORDER BY cents
                        ROWS UNBOUNDED PRECEDING) AS cum_thru
          FROM thist
        )""")
    stages.append("""mrk AS MATERIALIZED (
          SELECT e.q_bp, e.target, e.est_merged,
                 CAST(COALESCE((SELECT MAX(cum_thru) FROM tpf
                                WHERE cents < e.est_merged), 0) + 1
                      AS BIGINT) AS rank_lo,
                 CAST(COALESCE((SELECT MAX(cum_thru) FROM tpf
                                WHERE cents < e.est_merged), 0)
                      + COALESCE((SELECT cnt FROM tpf
                                  WHERE cents = e.est_merged), 0)
                      AS BIGINT) AS rank_hi
          FROM mest e
        )""")
    oneshot = _qdigest_oracle(k, level_bits, quantiles_bp)
    stages.append(f"""oneshot AS MATERIALIZED (
          SELECT q_bp, est_cents AS est_oneshot,
                 rank_err AS rank_err_oneshot,
                 within_bound AS within_oneshot
          FROM ({oneshot})
        )""")
    return (
        "WITH " + ",\n".join(stages) + f"""
        SELECT m.q_bp, m.target AS target_rank, m.est_merged,
               CAST(GREATEST(0, m.rank_lo - 1 - m.target,
                             m.target - m.rank_hi) AS BIGINT)
                   AS rank_err_merged,
               (GREATEST(0, m.rank_lo - 1 - m.target,
                         m.target - m.rank_hi)
                <= {L} * mparams.thr) AS within_merged,
               o.est_oneshot, o.rank_err_oneshot, o.within_oneshot,
               CAST({L} * mparams.thr AS BIGINT) AS err_limit,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM mdigest)
                   AS n_nodes_merged,
               (SELECT CAST(COUNT(DISTINCT grp) AS BIGINT) FROM ghist)
                   AS n_groups
        FROM mrk m
        JOIN oneshot o ON o.q_bp = m.q_bp
        CROSS JOIN mparams
    """
    )


ORACLES["qdigest_merge"] = _qdigest_merge_oracle()


def q_stream_qdigest_fold(spark, sf_dir):
    """Streaming twin of ``qdigest_quantiles`` on the SAME contract
    (the stream_kmv_fold posture): the event log arrives as 8 real
    micro-batches; each batch's (cents, count) histogram — universe-
    bounded, ≤ 2^16 rows — goes to captured parquet, one engine merge
    sums the counts per cents, and the digest is built once from the
    merged histogram.  Histogram addition is exact for any batch split
    (unlike digest-level merge, which is valid-but-not-identical — see
    the operator docstring), so the output is HASH-IDENTICAL to the
    one-shot sketch and shares its oracle.  Each batch captures ≤ 2^16
    counters no matter how many rows stream through — the
    bounded-quantile-monitoring shape at 100 TB."""
    from real_time_data_pipeline_spark.queries.reference_parity import (
        capture_stage,
        stream_capture,
    )

    stage = capture_stage(spark, "stream_qdigest_events")
    load_table(spark, sf_dir, "events").select("value").repartition(
        8
    ).write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema

    cap = stream_capture(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage),
        "stream_qdigest_fold",
        transform=A.qdigest_histogram,
        schema="cents bigint, cnt bigint",
    )
    return A.qdigest_from_histogram(
        cap.groupBy("cents").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


QUERIES["stream_qdigest_fold"] = q_stream_qdigest_fold
# histogram addition is exact for any batch split -> same oracle
ORACLES["stream_qdigest_fold"] = ORACLES["qdigest_quantiles"]
