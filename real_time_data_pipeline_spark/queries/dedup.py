"""Deduplication queries over the `documents`/`embeddings`/`lineitem`
testdata, with DuckDB oracles.

The DuckDB shingle pipeline mirrors operators/dedup.py token/shingle
construction exactly (lower → trim → collapse whitespace → split on ' ' →
n-gram slices → distinct); any divergence there breaks the value hash, so
both sides are defined next to each other in this module.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import dedup, graph
from real_time_data_pipeline_spark.schemas import load_table

# DuckDB twins of operators/dedup.tokens_col / shingles_col (3-gram).
DUCK_TOKENS = "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"
DUCK_SHINGLES = f"""
  list_distinct(list_transform(
    range(1, greatest(len({DUCK_TOKENS}) - 2, 1) + 1),
    i -> array_to_string(({DUCK_TOKENS})[i:i+2], ' ')))
"""


def q_dedup_exact(spark, sf_dir):
    """N1 exact dedup: one surviving doc_id per distinct normalized text."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = docs.select(
        F.concat_ws(" ", dedup.tokens_col("text")).alias("norm_text"), "doc_id"
    )
    return dedup.exact_dedup(normalized, ["norm_text"], "doc_id").select(
        "doc_id"
    )


def q_dedup_exact_lineitem(spark, sf_dir):
    """N1 on a fact table: first line number per order (hash groupBy)."""
    li = load_table(spark, sf_dir, "lineitem")
    return dedup.exact_dedup(li, ["l_orderkey"], "l_linenumber")


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs at threshold 0.8."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidates verified at Jaccard>=0.8 (candidate-verify).

    num_perm=128/bands=32 puts the miss probability for a true 0.8-Jaccard
    pair at (1-0.8^4)^32 ≈ 5e-8, so the verified output equals the exact
    oracle with overwhelming probability."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", n=3, num_perm=128, bands=32,
        verify_threshold=0.8,
    )
    return out.select("id_a", "id_b", "n_common", "jaccard_bp")


def q_dedup_embedding(spark, sf_dir):
    """Embedding cosine near-dup pairs (threshold 0.4 fits this corpus's
    similarity distribution; production near-dup would use ~0.95)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup(emb, "vec_id", "embedding", threshold=0.4)


def q_dedup_embedding_lsh(spark, sf_dir):
    """Multi-table sign-LSH bucketed near-dup at FULL Hamming probe
    radius (probe_hamming == n_planes — oracle-backed since round 7):
    every bucket of both tables is probed, the candidate set is all
    pairs, and the output is bit-identical to the exact quadratic
    operator — it shares dedup_embedding's oracle while exercising the
    complete machinery (numpy plane pack, per-table bucket join, mask
    perturbation, cross-table distinct).  The pruned production
    configs (probe_hamming=0, recall < 1 — e.g. 4 planes x 8 tables:
    ~0.75 recall at this corpus's loose cos-0.4 threshold, >0.99 at the
    production cos-0.95 threshold for ~2^4x fewer scored pairs per
    table) stay covered by the recall-monotonicity property test and
    dedup_pipeline_lsh_pruned's bench entry."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_lsh(
        emb, "vec_id", "embedding", threshold=0.4, dim=64, n_planes=4,
        n_tables=2, probe_hamming=4,
    )


def q_dedup_embedding_lsh_pruned(spark, sf_dir):
    """The PRODUCTION scale configuration at the EMBEDDING tier
    (ADVICE r7: the full-radius dedup_embedding_lsh entry is strictly
    more expensive than brute force by construction — this keeps the
    actually-pruned plan measured in the bench and scale probes):
    probe_hamming=0, 4 planes x 8 OR-ed tables — each table scores
    only same-bucket pairs (~2^4x fewer per table than all-pairs).
    Rows-only by nature: recall < 1 depends on the random planes, so
    the output is a property-tested SUBSET of dedup_embedding's exact
    pairs (tests/test_northstar.py) rather than hash-equal; the
    full-radius provability config remains the oracle-backed
    dedup_embedding_lsh entry."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_lsh(
        emb, "vec_id", "embedding", threshold=0.4, dim=64, n_planes=4,
        n_tables=8, probe_hamming=0, auto_planes_occupancy=64,
    )


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (Hamming <= 3 over 60 bits), PORTABLE hash
    family: token hashes are a sha256 60-bit fold instead of xxhash64,
    so DuckDB reproduces the exact fingerprints and this entry is
    oracle-checked (promoted from rows-only in round 5 — the oracle
    recomputes every vote, fingerprint, and all-pairs Hamming distance
    independently; the Spark side still runs the banded pigeonhole join,
    so the oracle also certifies the banding loses no pair)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3, portable=True
    )


def q_dedup_pipeline(spark, sf_dir):
    """End-to-end LLM-data-cleaning pass: per-document verdict unioning
    exact, MinHash-LSH (verified), and embedding-cosine near-dup signals
    (documents + embeddings joined on doc_id == vec_id), resolved into
    transitive clusters — ``keep`` is cluster-canonical (doc is its
    cluster's min id), the C4/RefinedWeb survivor rule.  Oracle-checked
    against a recursive-CTE closure: the verified MinHash output equals
    the exact-Jaccard oracle w.h.p. (miss prob ~5e-8/pair at 128 perm /
    32 bands), the other signals are deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.near_dup_verdicts(
        docs, emb, jaccard_threshold=0.8, cos_threshold=0.4
    )


def q_dedup_pipeline_lsh(spark, sf_dir):
    """Same pass with the embedding signal on the sign-LSH scale path,
    probed at FULL Hamming radius (probe_hamming == n_planes — oracle-
    backed since round 7, mirroring the ann_lsh_topk full-radius
    promotion): every bucket of both tables is probed, the candidate
    set is all pairs, and the sign-LSH leg is bit-identical to the
    exact cosine leg — so the whole pipeline shares dedup_pipeline's
    recursive-CTE closure oracle while still exercising the complete
    multi-table machinery (numpy plane pack, per-table bucket join,
    mask perturbation, cross-table candidate distinct).  The pruned
    probe_hamming=0 recall/candidate tradeoff stays covered by the
    subset property test and dedup_embedding_lsh's recall test."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.near_dup_verdicts(
        docs, emb, jaccard_threshold=0.8, cos_threshold=0.4,
        embedding_scale_path=True, dim=64, n_planes=4, n_tables=2,
        probe_hamming=4,
    )


def q_dedup_pipeline_lsh_pruned(spark, sf_dir):
    """The PRODUCTION scale configuration of the sign-LSH pipeline
    (probe_hamming=0, 4 planes x 8 OR-ed tables — candidates drop
    ~2^4x per table instead of being all pairs).  Rows-only by nature:
    recall < 1 depends on the random planes, so the verdict set is a
    property-tested SUBSET of the exact pipeline's
    (tests/test_northstar.py::test_dedup_pipeline_lsh_is_recall_subset)
    rather than hash-equal; the full-radius provability config is the
    oracle-backed dedup_pipeline_lsh entry.  This entry keeps the
    bounded config measured in the bench and the sf1 scale probe (the
    BASELINE.md near-linear row)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.near_dup_verdicts(
        docs, emb, jaccard_threshold=0.8, cos_threshold=0.4,
        embedding_scale_path=True, dim=64, n_planes=4, n_tables=8,
        auto_planes_occupancy=64,
    )


def q_dedup_incremental(spark, sf_dir):
    """Steady-state incremental dedup: docs with doc_id % 10 == 0 play
    the daily increment, the rest the indexed historical corpus.  Builds
    the persisted band-hash index from the corpus, probes it with the
    increment only, verifies with exact Jaccard — the per-day cost
    scales with the increment, never the history.  Oracle: exact
    corpus×increment Jaccard pairs (index probe equals it w.h.p. at
    128 perm / 32 bands, miss ~5e-8/pair)."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
        f"minhash_index_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    dedup.build_minhash_index(corpus, path, num_perm=128, bands=32)
    return dedup.incremental_minhash_pairs(
        spark, new, corpus, path, num_perm=128, bands=32, verify_threshold=0.8
    )


def q_stream_dedup_incremental(spark, sf_dir):
    """Watermarked-ingest twin of `dedup_incremental`: the daily
    increment ARRIVES AS A STREAM and every micro-batch probes the
    persisted corpus MinHash index via foreachBatch — the steady-state
    production shape (new documents dedup against history as they land;
    the history is never re-sketched).  Per-batch probe outputs are
    disjoint (each pair carries its batch's new_id), so the union of
    micro-batch results is hash-identical to the one-shot batch probe —
    checked against the SAME exact corpus×increment Jaccard oracle as
    `dedup_incremental`."""
    from real_time_data_pipeline_spark.operators import cache
    from real_time_data_pipeline_spark.queries.reference_parity import (
        capture_stage,
        stream_capture,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    path = capture_stage(spark, "minhash_index_stream")
    dedup.build_minhash_index(corpus, path, num_perm=128, bands=32)
    # Schema of the probe output, resolved lazily (no action) from a
    # zero-row probe so the streaming capture frame matches exactly.
    with cache.scoped():
        out_schema = dedup.incremental_minhash_pairs(
            spark, docs.limit(0), corpus, path,
            num_perm=128, bands=32, verify_threshold=0.8,
        ).schema

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/documents*.parquet")
        .filter(F.col("doc_id") % 10 == 0)
    )
    # the probe's per-batch persist is freed by stream_capture's
    # per-batch scope before the next micro-batch
    return stream_capture(
        stream,
        "stream_dedup_incremental",
        transform=lambda b: dedup.incremental_minhash_pairs(
            spark, b, corpus, path,
            num_perm=128, bands=32, verify_threshold=0.8,
        ),
        schema=out_schema,
    )


def q_source_dup_matrix(spark, sf_dir):
    """Cross-source exact-duplicate matrix
    (operators/dedup.source_dup_matrix): per ordered source pair, how
    many of b's docs are textual duplicates of something in a."""
    return dedup.source_dup_matrix(load_table(spark, sf_dir, "documents"))


def q_dedup_clusters(spark, sf_dir):
    """Transitive duplicate clusters: exact 3-gram Jaccard pairs at 0.8
    resolved into connected components (large-star/small-star), every doc
    labeled with its cluster's min doc_id.  The missing last step of
    pairwise dedup — A~B~C collapses to ONE cluster even when A!~C."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    cc = graph.connected_components(pairs, "id_a", "id_b")
    return graph.attach_components(docs.select("doc_id"), cc, "doc_id")


def q_dedup_clusters_lsh(spark, sf_dir):
    """Same clusters from the scale path: MinHash-LSH candidates verified
    at Jaccard>=0.8 (equal to the exact pair set w.h.p. — miss prob
    ~5e-8/pair at 128 perm / 32 bands), then connected components."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", n=3, num_perm=128, bands=32,
        verify_threshold=0.8,
    ).select("id_a", "id_b")
    cc = graph.connected_components(pairs, "id_a", "id_b")
    return graph.attach_components(docs.select("doc_id"), cc, "doc_id")


def q_dedup_clusters_incremental(spark, sf_dir):
    """Incremental cluster maintenance (operators/dedup.
    incremental_clusters): 90% of the corpus carries a persisted
    labeling + signature index; the 10% increment joins/merges clusters
    through ONE delta-graph CC pass over {touched labels, new ids} —
    history is never re-clustered.  Verified against the SAME
    full-recompute recursive-CTE closure oracle as dedup_clusters: the
    incremental labeling must equal the batch clustering of the union,
    including new docs that bridge two previously separate clusters.

    The signature index and the corpus labeling are STAGED artifacts
    (in production both are tables maintained by earlier increments —
    rebuilding them per call would measure the one-time bootstrap, not
    the steady state, and bootstrap dominated the timing: 9.4 s median
    in the r6 bench vs ~3 s probe-only).  The first call per sf builds
    and persists both; later calls validate the index's _scheme marker
    and reuse them, so bench medians-of-3 measure the increment-bounded
    probe.  Output is identical either way: both artifacts are
    deterministic functions of the immutable corpus (exact-Jaccard
    pairs -> CC -> min-label)."""
    import os

    from real_time_data_pipeline_spark.operators import graph

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    wh = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
    )
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(wh, f"minhash_index_ccincr_{sf_tag}")
    labels_path = os.path.join(wh, f"cluster_labels_ccincr_{sf_tag}")
    try:
        dedup.check_index_meta(spark, path, 3, 128, 32)
        labels = spark.read.parquet(labels_path)
        labels.limit(1).collect()  # reject empty/partial artifacts now
    except Exception:
        dedup.build_minhash_index(corpus, path, num_perm=128, bands=32)
        # The persisted corpus labeling (in production a table
        # maintained by earlier increments; bootstrapped once from
        # corpus pairs — n=3 / 0.8, the dedup_clusters parameters the
        # oracle uses).
        pairs = dedup.ngram_jaccard_pairs(
            corpus, "doc_id", "text", n=3, threshold=0.8
        )
        cc = graph.connected_components(pairs, "id_a", "id_b")
        graph.attach_components(corpus.select("doc_id"), cc, "doc_id").select(
            "doc_id", "cluster_id"
        ).write.mode("overwrite").parquet(labels_path)
        labels = spark.read.parquet(labels_path)
    return dedup.incremental_clusters(
        spark, new, corpus, labels, path,
        n=3, num_perm=128, bands=32, verify_threshold=0.8,
    )


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_exact_lineitem": q_dedup_exact_lineitem,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_embedding": q_dedup_embedding,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,  # oracle-backed (full probe == exact)
    "dedup_embedding_lsh_pruned": q_dedup_embedding_lsh_pruned,  # rows-only (recall < 1)
    "dedup_simhash": q_dedup_simhash,  # rows-only
    "dedup_pipeline": q_dedup_pipeline,
    "dedup_pipeline_lsh": q_dedup_pipeline_lsh,  # oracle-backed (full probe == exact)
    "dedup_pipeline_lsh_pruned": q_dedup_pipeline_lsh_pruned,  # rows-only (recall < 1)
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_lsh": q_dedup_clusters_lsh,
    "dedup_clusters_incremental": q_dedup_clusters_incremental,
    "dedup_incremental": q_dedup_incremental,
    "stream_dedup_incremental": q_stream_dedup_incremental,
    "source_dup_matrix": q_source_dup_matrix,
}

_JACCARD_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           CAST(FLOOR(1e4 * n_common / (sa.n + sb.n - n_common)) AS BIGINT) AS jaccard_bp
    FROM common
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(FLOOR(1e4 * n_common / (sa.n + sb.n - n_common)) AS BIGINT) >= 8000
"""

# DuckDB twin of the embedding-cosine pair predicate (dedup_embedding).
_COS_BP = """
    CAST(FLOOR(1e4 *
      list_sum(list_transform(list_zip(a.embedding, b.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
      (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
    ) AS BIGINT)
"""

# Transitive (cluster-canonical) pipeline oracle: union edge set from the
# three signals → recursive-CTE reachability → cluster = min reachable id,
# keep = doc is its own cluster's minimum.  Mirrors
# operators/dedup.near_dup_verdicts + graph.connected_components.
_PIPELINE_ORACLE = f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(FLOOR(1e4 * n_common / (sa.n + sb.n - n_common)) AS BIGINT) >= 8000
    ),
    epairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id AND {_COS_BP} >= 4000
    ),
    norm AS (
      SELECT doc_id, array_to_string({DUCK_TOKENS}, ' ') AS norm_text
      FROM documents
    ),
    gmin AS (
      SELECT norm_text, min(doc_id) AS g FROM norm GROUP BY norm_text
    ),
    exact_edges AS (
      SELECT g.g AS id_a, n.doc_id AS id_b
      FROM norm n JOIN gmin g USING (norm_text)
      WHERE n.doc_id != g.g
    ),
    alledges AS (
      SELECT id_a, id_b FROM jpairs
      UNION SELECT id_a, id_b FROM epairs
      UNION SELECT id_a, id_b FROM exact_edges
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM alledges
      UNION SELECT id_b, id_a FROM alledges
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    )
    SELECT d.doc_id,
           d.doc_id NOT IN (SELECT g FROM gmin) AS is_exact_dup,
           d.doc_id IN (SELECT id_b FROM jpairs) AS is_minhash_dup,
           d.doc_id IN (SELECT id_b FROM epairs) AS is_embedding_dup,
           COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(l.cluster_id, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
"""

# Transitive-closure twin of connected_components: reachability via a
# recursive CTE (set-semantics UNION terminates on cycles), component =
# min reachable id.  Quadratic in component size — viable only because
# oracle corpora are small; the Spark side is the scale path.
_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(FLOOR(1e4 * n_common / (sa.n + sb.n - n_common)) AS BIGINT) >= 8000
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    )
    SELECT d.doc_id,
           COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(l.cluster_id, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
"""

# Incremental (corpus × increment) exact-Jaccard twin: orientation is
# (corpus_id, new_id), not id_a < id_b.
_INCREMENTAL_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM documents
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    common AS (
      SELECT a.doc_id AS corpus_id, b.doc_id AS new_id, count(*) AS n_common
      FROM ex a JOIN ex b ON a.s = b.s
      WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0
      GROUP BY 1, 2
    )
    SELECT corpus_id, new_id, n_common,
           CAST(FLOOR(1e4 * n_common / (sa.n + sb.n - n_common)) AS BIGINT) AS jaccard_bp
    FROM common
    JOIN sizes sa ON corpus_id = sa.doc_id
    JOIN sizes sb ON new_id = sb.doc_id
    WHERE CAST(FLOOR(1e4 * n_common / (sa.n + sb.n - n_common)) AS BIGINT) >= 8000
"""

_EMBEDDING_ORACLE = """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(FLOOR(1e4 *
                 list_sum(list_transform(list_zip(a.embedding, b.embedding),
                          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
                 (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                  sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               ) AS BIGINT) AS cos_bp
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
          AND CAST(FLOOR(1e4 *
                 list_sum(list_transform(list_zip(a.embedding, b.embedding),
                          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
                 (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                  sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               ) AS BIGINT) >= 4000
    """

ORACLES = {
    "source_dup_matrix": f"""
        WITH h AS (
          SELECT source AS src, doc_id,
                 array_to_string({DUCK_TOKENS}, ' ') AS norm
          FROM documents
        ),
        totals AS (SELECT src, CAST(count(*) AS BIGINT) AS n_docs FROM h GROUP BY 1),
        hashes AS (SELECT DISTINCT src, norm FROM h),
        hits AS (
          SELECT a.src AS source_a, b.src AS source_b,
                 CAST(count(*) AS BIGINT) AS n_dup_docs
          FROM h b JOIN hashes a ON b.norm = a.norm AND b.src != a.src
          GROUP BY 1, 2
        )
        SELECT g.source_a, g.source_b, t.n_docs AS n_docs_b,
               CAST(COALESCE(hits.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
               CAST(FLOOR(10000 * COALESCE(hits.n_dup_docs, 0) / t.n_docs)
                    AS BIGINT) AS dup_rate_bp
        FROM (SELECT a.src AS source_a, b.src AS source_b
              FROM totals a, totals b WHERE a.src != b.src) g
        JOIN totals t ON g.source_b = t.src
        LEFT JOIN hits ON g.source_a = hits.source_a
                      AND g.source_b = hits.source_b
    """,
    # Round 7: full-radius multi-probe makes the sign-LSH candidate
    # set all pairs, so the bucketed operator shares the exact oracle.
    "dedup_embedding_lsh": _EMBEDDING_ORACLE,
    "dedup_incremental": _INCREMENTAL_ORACLE,
    # the streaming twin unions per-micro-batch probes of the same
    # persisted index — identical output, same oracle
    "stream_dedup_incremental": _INCREMENTAL_ORACLE,
    "dedup_pipeline": _PIPELINE_ORACLE,
    # Round 7: full-Hamming-radius multi-probe makes the sign-LSH
    # embedding leg's candidate set all pairs, so the LSH pipeline's
    # output is bit-identical to dedup_pipeline's and shares its oracle.
    "dedup_pipeline_lsh": _PIPELINE_ORACLE,
    "dedup_clusters": _CLUSTERS_ORACLE,
    # MinHash-verified pair set == exact pair set w.h.p. (see
    # q_dedup_clusters_lsh docstring), so the clusters coincide too.
    "dedup_clusters_lsh": _CLUSTERS_ORACLE,
    # Incremental maintenance must equal the full recompute exactly
    # (label-collapse argument in operators/dedup.incremental_clusters).
    "dedup_clusters_incremental": _CLUSTERS_ORACLE,
    "dedup_exact": f"""
        SELECT min(doc_id) AS doc_id FROM (
          SELECT doc_id, array_to_string({DUCK_TOKENS}, ' ') AS norm_text
          FROM documents
        ) GROUP BY norm_text
    """,
    "dedup_exact_lineitem": """
        SELECT l_orderkey, min(l_linenumber) AS l_linenumber
        FROM lineitem GROUP BY l_orderkey
    """,
    "dedup_ngram_jaccard": _JACCARD_ORACLE,
    "dedup_minhash_lsh": _JACCARD_ORACLE,
    "dedup_embedding": _EMBEDDING_ORACLE,
}


# -- PageRank (graph tier, shares operators/graph with the CC queries) ----

PAGERANK_ITERS = 10
_SUPP_OFFSET = 1_000_000_000  # disjoint id space for supplier nodes


def q_pagerank_suppliers(spark, sf_dir):
    """Fixed-point PageRank over the part→supplier supply graph from
    lineitem (supplier node ids offset into a disjoint range).  Oracle-
    checked DESPITE being iterative: integer micro-unit arithmetic makes
    each iteration engine-exact, and the DuckDB twin unrolls the same 10
    update steps as nested subqueries."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + F.lit(_SUPP_OFFSET)).alias("dst"),
    )
    return graph.pagerank(edges, iters=PAGERANK_ITERS)


QUERIES["pagerank_suppliers"] = q_pagerank_suppliers


def _pagerank_oracle(iters: int) -> str:
    base = "SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes"
    prev = base
    for _ in range(iters):
        prev = f"""
        SELECT n.node,
               CAST(150000 + (850000 * coalesce(c.in_sum, 0)) // 1000000
                    AS BIGINT) AS rank_micro
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node,
                 CAST(sum(p.rank_micro // d.deg) AS BIGINT) AS in_sum
          FROM edges e
          JOIN ({prev}) p ON e.src = p.node
          JOIN deg d ON e.src = d.src
          GROUP BY 1
        ) c ON n.node = c.node"""
    return f"""
    WITH edges AS (
      SELECT DISTINCT l_partkey AS src,
             l_suppkey + {_SUPP_OFFSET} AS dst
      FROM lineitem
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1)
    {prev}
    """


ORACLES["pagerank_suppliers"] = _pagerank_oracle(PAGERANK_ITERS)


def q_dedup_editdistance(spark, sf_dir):
    """Prefix-blocked Levenshtein near-dup pairs
    (operators/dedup.editdistance_near_pairs): 16-char exact-prefix
    blocking, distance <= 8 over the 64-char head."""
    from real_time_data_pipeline_spark.operators.dedup import (
        editdistance_near_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return editdistance_near_pairs(
        docs, prefix_len=16, head_len=64, max_dist=8
    )


QUERIES["dedup_editdistance"] = q_dedup_editdistance

ORACLES["dedup_editdistance"] = """
    WITH d AS (
      SELECT doc_id, substr(text, 1, 16) AS pfx, substr(text, 1, 64) AS head
      FROM documents
    )
    SELECT a.doc_id AS id_1, b.doc_id AS id_2,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_distance
    FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 8
"""


def q_entity_clusters(spark, sf_dir):
    """Entity resolution composite: edit-distance candidate pairs
    (prefix-blocked Levenshtein, the template-edit duplicate class) fed
    through connected components, every doc labeled with its entity's
    canonical (min) id — the blocking → match → transitive-merge shape
    of a record-linkage pipeline, on a SECOND edge type than the
    Jaccard clusters."""
    docs = load_table(spark, sf_dir, "documents")
    from real_time_data_pipeline_spark.operators.dedup import (
        editdistance_near_pairs,
    )

    pairs = editdistance_near_pairs(
        docs, prefix_len=16, head_len=64, max_dist=8
    ).select("id_1", "id_2")
    cc = graph.connected_components(pairs, "id_1", "id_2")
    return graph.attach_components(docs.select("doc_id"), cc, "doc_id")


QUERIES["entity_clusters"] = q_entity_clusters

ORACLES["entity_clusters"] = """
    WITH RECURSIVE d AS (
      SELECT doc_id, substr(text, 1, 16) AS pfx, substr(text, 1, 64) AS head
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_1, b.doc_id AS id_2
      FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
      WHERE levenshtein(a.head, b.head) <= 8
    ),
    edges AS (
      SELECT id_1 AS u, id_2 AS v FROM pairs
      UNION
      SELECT id_2, id_1 FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    )
    SELECT doc.doc_id,
           COALESCE(l.cluster_id, doc.doc_id) AS cluster_id,
           COALESCE(l.cluster_id, doc.doc_id) = doc.doc_id AS is_canonical
    FROM documents doc LEFT JOIN labels l ON doc.doc_id = l.doc_id
"""


BLOCK_EVAL_ANCHORS = 100  # ground-truth anchors: doc_id < 100 at any SF


def q_blocking_eval(spark, sf_dir):
    """Measure, don't guess: candidate recall/precision of the 16-char
    prefix blocking used by dedup_editdistance, against a ground truth
    of ALL anchor×corpus pairs within edit distance 8 (anchors = a
    fixed 100-doc sample, so the exact leg stays |anchors|×N, the same
    bounded-probe pattern as the ANN brute-force baseline).  One row:
    true pairs, blocked candidates, found, recall/precision in bp —
    the audit that justifies (or indicts) the blocking key."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 16).alias("pfx"),
        F.substring("text", 1, 64).alias("head"),
    )
    anchors = docs.filter(F.col("doc_id") < BLOCK_EVAL_ANCHORS).select(
        F.col("doc_id").alias("a_id"),
        F.col("pfx").alias("a_pfx"),
        F.col("head").alias("a_head"),
    )
    pairs = (
        docs.crossJoin(F.broadcast(anchors))
        .filter(F.col("a_id") < F.col("doc_id"))
        .select(
            "a_id",
            "doc_id",
            (F.col("a_pfx") == F.col("pfx")).alias("blocked"),
            (
                F.levenshtein(F.col("a_head"), F.col("head")) <= F.lit(8)
            ).alias("is_true"),
        )
    )
    return pairs.agg(
        F.sum(F.col("is_true").cast("long")).cast("bigint").alias("n_true"),
        F.sum(F.col("blocked").cast("long")).cast("bigint").alias("n_candidates"),
        F.sum((F.col("blocked") & F.col("is_true")).cast("long"))
        .cast("bigint")
        .alias("n_found"),
        F.floor(
            F.lit(10_000)
            * F.sum((F.col("blocked") & F.col("is_true")).cast("long"))
            / F.greatest(F.sum(F.col("is_true").cast("long")), F.lit(1))
        )
        .cast("bigint")
        .alias("recall_bp"),
        F.floor(
            F.lit(10_000)
            * F.sum((F.col("blocked") & F.col("is_true")).cast("long"))
            / F.greatest(F.sum(F.col("blocked").cast("long")), F.lit(1))
        )
        .cast("bigint")
        .alias("precision_bp"),
    )


QUERIES["blocking_eval"] = q_blocking_eval

ORACLES["blocking_eval"] = f"""
    WITH d AS (
      SELECT doc_id, substr(text, 1, 16) AS pfx, substr(text, 1, 64) AS head
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS doc_id,
             (a.pfx = b.pfx) AS blocked,
             (levenshtein(a.head, b.head) <= 8) AS is_true
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE a.doc_id < {BLOCK_EVAL_ANCHORS}
    )
    SELECT CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN blocked AND is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
           CAST(FLOOR(1e4 * SUM(CASE WHEN blocked AND is_true THEN 1 ELSE 0 END)
                / GREATEST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END), 1)) AS BIGINT)
               AS recall_bp,
           CAST(FLOOR(1e4 * SUM(CASE WHEN blocked AND is_true THEN 1 ELSE 0 END)
                / GREATEST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END), 1)) AS BIGINT)
               AS precision_bp
    FROM pairs
"""


def duck_hexfold_n(col_expr: str, nchars: int) -> str:
    """DuckDB twin of the Spark sha256 ascii-fold family: fold the first
    ``nchars`` hex chars of sha256 into a bigint.  ONE generator for
    every width (the 48-bit split/sample keys in queries/curation.py
    and analytics_ext.py, the 60-bit simhash hashes here) so the fold
    recipe can never drift between oracles.  Lives in this module
    because it is the import leaf of the query package."""
    hv = lambda i: (  # noqa: E731
        f"(CASE WHEN ascii(substr(h, {i}, 1)) >= 97 "
        f"THEN CAST(ascii(substr(h, {i}, 1)) AS BIGINT) - 87 "
        f"ELSE CAST(ascii(substr(h, {i}, 1)) AS BIGINT) - 48 END)"
    )
    folded = hv(1)
    for i in range(2, nchars + 1):
        folded = f"({folded} * 16 + {hv(i)})"
    return f"(SELECT {folded} FROM (SELECT sha256({col_expr}) AS h))"


def _duck_fold60(col_expr: str) -> str:
    """60-bit (15 hex chars, sign-safe) twin of
    operators/dedup._portable_hash60."""
    return duck_hexfold_n(col_expr, 15)


# Full independent recomputation: votes → fingerprints → ALL-PAIRS
# Hamming (the oracle affords quadratic; the Spark side must not).
ORACLES["dedup_simhash"] = f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({DUCK_TOKENS})) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, {_duck_fold60("tok")} AS h FROM toks
    ),
    votes AS (
      SELECT doc_id, CAST(r.range AS INTEGER) AS j,
             SUM(CASE WHEN (h >> CAST(r.range AS INTEGER)) & 1 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM hashed, range(60) r
      GROUP BY 1, 2
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0
                      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
                 AS f
      FROM votes GROUP BY 1
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= 3
"""


def q_dedup_prefix_filter(spark, sf_dir):
    """Exact 0.8-Jaccard pairs via lossless prefix filtering
    (operators/dedup.prefix_filter_pairs) — the PPJoin candidate bound:
    provably-complete pruning (vs MinHash-LSH's probabilistic recall),
    shares the brute-force oracle because the prune loses nothing."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.prefix_filter_pairs(
        docs, "doc_id", "text", n=3, threshold_bp=8000
    )


QUERIES["dedup_prefix_filter"] = q_dedup_prefix_filter
ORACLES["dedup_prefix_filter"] = _JACCARD_ORACLE
