"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (its only dedup-adjacent piece is the GE uniqueness
expectation, src/validation/transaction_validator.py:79-84); this module is
the north-star extension tier (SURVEY.md §2.9 N1).

Operators:
  exact_dedup           — hash groupBy on content key (N1)
  ngram_shingles        — word n-gram shingling (building block)
  ngram_jaccard_pairs   — EXACT near-dup pairs by Jaccard over shingle sets
  minhash_signatures    — MinHash sketch per doc (xxhash64 permutations)
  minhash_lsh_candidates— banded LSH bucket join → candidate pairs
  simhash               — 64-bit SimHash per doc
  simhash_near_pairs    — near-dup pairs by Hamming distance band join
  embedding_near_dup    — cosine near-dup over an embedding column

Scale design (the point of this module):
- Everything is expression-level (split/transform/aggregate/xxhash64) —
  whole-stage codegen, zero Python in the hot path.
- The EXACT jaccard pair join explodes doc x shingle and self-joins on the
  shingle; at 100 TB that join is only viable after LSH pruning, so the
  intended pipeline is minhash_lsh_candidates (cheap, banded) →
  ngram_jaccard_pairs semantics applied to the candidate set (the
  `verify` flag) — classic candidate-verify.
- MinHash bands shuffle (band_idx, band_hash) keys only; bucket skew
  (a shingle shared by millions of docs) is bounded by `max_bucket` which
  drops degenerate buckets the way production dedup pipelines do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import cache
from real_time_data_pipeline_spark.operators.arrowvec import (
    list_matrix,
    local_frame,
    map_in_arrow,
)

# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, key_cols: list[str], keep_min_col: str) -> DataFrame:
    """N1: exact dedup — one surviving row id per distinct key.

    Deterministic policy: keep the minimum `keep_min_col` (stable across
    engines/runs, unlike dropDuplicates' arbitrary-first).  One hash
    aggregate; partial map-side combine keeps the shuffle small.
    """
    return df.groupBy(*key_cols).agg(F.min(keep_min_col).alias(keep_min_col))


# ------------------------------------------------------------- shingles

def tokens_col(text_col: str) -> F.Column:
    """Lowercased whitespace tokens (normalize runs of whitespace)."""
    return F.split(F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))), " ")


def shingles_from_tokens(toks: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles over an already-tokenized array —
    the same slice/concat expression :func:`shingles_col` builds,
    factored out so consumers holding a shared tokenized frame derive
    shingles without re-running the tokenizer regex."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def shingles_col(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles as array<string> (JVM-side
    transform over a token slice; no UDF)."""
    return shingles_from_tokens(tokens_col(text_col), n)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    naive: bool = False,
    ppjoin_min_rows: int = 8192,
) -> DataFrame:
    """Exact near-duplicate pairs: Jaccard(shingles(a), shingles(b)) >= t,
    id_a < id_b.

    Since round 10 this DELEGATES to :func:`prefix_filter_pairs` above
    ``ppjoin_min_rows`` input rows — the PPJoin prefix + length +
    positional prune is proven LOSSLESS (see that docstring's three
    containment arguments), so even this "exact provability" entry
    stops paying the all-shared-shingle self-join where it matters:
    candidates come from rare-token prefix collisions only and the
    verify join is candidate-bounded.  Output is bit-identical on
    either plan (tests/test_northstar.py::
    test_prefix_filter_equals_bruteforce_and_prunes pins it row-for-row
    and tests/test_properties.py re-derives every pair in Python), so
    the size-adaptive switch can never change results — below the
    cutover the naive plan's single shared-shingle join beats PPJoin's
    extra document-frequency aggregate + rank window on fixed overhead
    (measured sf0.1: 2.1 s naive vs 4.7 s PPJoin at 5k docs), above it
    the prefix prune wins (the r9 10x probe: 5.21x naive-shaped growth
    → 1.40x).  Sizing uses parquet footer metadata when available (no
    job; an upper bound, which only biases toward the pruned plan).

    ``naive=True`` forces the pre-round-10 plan — explode (doc,
    shingle) → self-join on shingle → count common per pair — as the
    brute-force baseline the equivalence tests compare against.
    Jaccard is emitted in exact basis points (integer arithmetic) so
    the DuckDB oracle hashes identically on either plan.
    """
    if not naive and _approx_input_rows(df) > ppjoin_min_rows:
        return prefix_filter_pairs(
            df, id_col, text_col, n=n, threshold_bp=int(threshold * 10000)
        )
    ex = cache.track(df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles_col(text_col, n)).alias("shingle"),
    ))
    # Shingles are distinct per doc, so |shingles| == exploded row count:
    # the tokenizer runs once and sizes fall out of the same table that
    # feeds the pair join (persisted — three consumers).
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = ex.select(F.col("id").alias("id_a"), "shingle")
    b = ex.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard_bp",
            F.expr("CAST(FLOOR(1e4 * n_common / (n_a + n_b - n_common)) AS BIGINT)"),
        )
        .filter(F.col("jaccard_bp") >= int(threshold * 10000))
    )
    return out.select("id_a", "id_b", "n_common", "jaccard_bp")


# -------------------------------------------------------------- minhash

def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """MinHash sketch: sig[i] = min over shingles of
    xxhash64(xxhash64(shingle), i).

    The shingle STRING is hashed exactly once; each permutation then
    re-hashes the resulting 8-byte long with the permutation index as
    an extra hashed column — `num_perm` independent-enough families
    without any UDF.  (Hashing the string per permutation — the naive
    form — makes the signature aggregate O(num_perm × len(shingle))
    per row; at 128 permutations the one-time string hash cuts the
    dominant cost of the whole LSH pass.  Base-hash collisions merge
    two shingles with probability 2^-64 — far below the MinHash
    estimator's own error.)

    Shape: explode shingles once, then one hash-aggregate computing all
    `num_perm` mins.  (The tempting nested-transform form —
    transform(sequence(0,N), i -> array_min(transform(shingles, hash))) —
    is catastrophically slow: Catalyst inlines the whole shingle pipeline
    into every permutation branch and higher-order functions are
    interpreted, so the tokenizer re-runs num_perm times per row.  The
    explode+agg form runs the tokenizer once and keeps the per-permutation
    work inside codegen'd hash aggregation; partial map-side combine means
    the shuffle carries one num_perm-wide row per doc per partition.)

    ``shingled`` (columns ``id``, ``sh: array<string>``) bypasses the
    tokenizer entirely — pass it when the caller already materialized
    the shingle table (near_dup_verdicts shares ONE across its exact,
    MinHash-signature, and candidate-verify legs).
    """
    if shingled is not None:
        ex = shingled.select("id", F.explode("sh").alias("shingle"))
    else:
        ex = df.select(
            F.col(id_col).alias("id"),
            F.explode(shingles_col(text_col, n)).alias("shingle"),
        )
    # sequence() elements are INT, so hash the permutation index as INT too
    # (xxhash64 is type-sensitive — SQL integer literals parse as INT, the
    # same type F.lit(i) produced, so persisted-index signatures are
    # unchanged) to keep signatures stable across shapes.  The num_perm
    # aggregates are built as ONE parsed SQL expression rather than
    # num_perm Column objects: each F.min(F.xxhash64(...)) is a py4j
    # round-trip, and at 128 permutations the driver spent ~1 s per call
    # just CONSTRUCTING the plan (measured; the executed plan is
    # identical either way).
    hashed = ex.select("id", F.xxhash64("shingle").alias("h0"))
    sig = ", ".join(f"min(xxhash64(h0, {i}))" for i in range(num_perm))
    return hashed.groupBy("id").agg(
        F.expr(f"array({sig})").alias("signature")
    )


def minhash_band_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Banded LSH keys per document: ``(id, band_idx, band_hash)`` with
    one row per band — the join key of every LSH dedup variant and the
    ROW FORMAT of the persisted signature index (build_minhash_index).
    Band hash = xxhash64 over the band's sub-signature, so an index
    written with one (n, num_perm, bands) config only matches probes
    using the same config."""
    assert num_perm % bands == 0
    rpb = num_perm // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_perm, shingled)
    # One parsed SQL expression for the whole banding array (same
    # plan-construction rationale as the signature aggregate above:
    # bands x rows_per_band Column objects cost ~1 s of py4j driver time
    # per call).  SQL get() is 0-based like F.get; CAST AS STRING is the
    # same cast F.Column.cast applied, so band hashes — and therefore
    # every persisted index — are unchanged.
    structs = ", ".join(
        f"struct({b} AS band_idx, xxhash64(concat_ws(',', "
        + ", ".join(
            f"cast(get(signature, {b * rpb + j}) AS string)"
            for j in range(rpb)
        )
        + ")) AS band_hash)"
        for b in range(bands)
    )
    return sig.select(
        "id", F.expr(f"explode(array({structs}))").alias("band")
    ).select("id", "band.band_idx", "band.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
    verify_threshold: float | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Banded LSH candidate pairs (id_a < id_b).

    rows = bands x rows_per_band; a pair collides if any band's sub-
    signature matches exactly.  With num_perm=64, bands=16 (4 rows/band),
    the S-curve midpoint is ~ (1/16)^(1/4) ≈ 0.5 Jaccard.

    Buckets larger than `max_bucket` are dropped (degenerate content);
    this bounds the quadratic within-bucket pair blow-up at scale.
    If `verify_threshold` is set, candidates are verified with exact
    Jaccard (candidate-verify, the 100 TB-safe shape).
    """
    assert num_perm % bands == 0
    banded = minhash_band_hashes(
        df, id_col, text_col, n, num_perm, bands, shingled
    )
    # Persist the tiny banded table (bands rows x 3 longs per doc): it is
    # consumed by both sides of the bucket self-join, and recomputing it
    # would re-run the signature aggregation.  At 100 TB the signature
    # table would be materialized to storage at exactly this point.
    banded = cache.track(banded)

    bucket_sizes = banded.groupBy("band_idx", "band_hash").agg(
        F.count("*").alias("bucket_n")
    )
    pruned = banded.join(
        bucket_sizes.filter(F.col("bucket_n").between(2, max_bucket)),
        ["band_idx", "band_hash"],
    )
    l = pruned.select("band_idx", "band_hash", F.col("id").alias("id_a"))
    r = pruned.select("band_idx", "band_hash", F.col("id").alias("id_b"))
    cands = (
        l.join(r, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if verify_threshold is not None:
        # Candidate-verify: compute exact Jaccard ONLY for candidate
        # pairs — join each side's shingle set onto the (small) candidate
        # list and intersect.  Never runs the full O(pairs) shingle
        # self-join; verify cost is |candidates| x shingle-set size, which
        # is what makes the LSH path viable at 100 TB.
        sh = (
            shingled
            if shingled is not None
            else df.select(
                F.col(id_col).alias("id"),
                shingles_col(text_col, n).alias("sh"),
            )
        )
        a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        t_bp = int(verify_threshold * 10000)
        cands = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("n_a", F.size("sh_a"))
            .withColumn("n_b", F.size("sh_b"))
            # PPJoin LENGTH filter (lossless — J >= θ forces
            # θ·max(|a|,|b|) <= overlap <= min(|a|,|b|)): size-mismatched
            # LSH collisions drop BEFORE paying the array_intersect, the
            # per-candidate O(|a|+|b|) verification step.
            .filter(
                F.least("n_a", "n_b") * 10000
                >= F.greatest("n_a", "n_b") * F.lit(t_bp)
            )
            .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard_bp",
                F.expr(
                    "CAST(FLOOR(1e4 * n_common / (n_a + n_b - n_common)) AS BIGINT)"
                ),
            )
            .filter(F.col("jaccard_bp") >= int(verify_threshold * 10000))
            .select("id_a", "id_b", "n_common", "jaccard_bp")
        )
    return cands


# --------------------------------------------- incremental (index) dedup

# Version of the signature hash family persisted by build_minhash_index.
# v2 = hash-once scheme sig[i] = min(xxhash64(xxhash64(shingle), i));
# v1 (pre-round-4) hashed the shingle STRING per permutation.  Probe and
# index signatures only match under the SAME scheme, so a probe against
# an index persisted under a different version silently returns
# wrong/empty candidates — the marker makes that a loud error instead
# (round-4 advisor finding: the (n, num_perm, bands) compat rule alone
# does not cover hash-scheme changes).
MINHASH_SCHEME_VERSION = 2


def _write_index_meta(
    docs: DataFrame, path: str, n: int, num_perm: int, bands: int
) -> None:
    """Persist the index's scheme/config marker as a 1-row parquet at
    ``<path>/_scheme``.  Underscore-prefixed children are invisible to
    Spark's directory scan (same convention as _SUCCESS), so the marker
    rides inside the index directory on any filesystem — local, HDFS,
    or object store — without touching the data-read path.

    Built from ``spark.range(1)`` + literals, NOT ``createDataFrame`` of
    a local row: a Python-sourced 1-row frame writes through a Python
    runner task (measured 4-5 s per write — it dominated the whole index
    build), while the JVM-literal plan commits in ~0.3 s."""
    spark = docs.sparkSession
    spark.range(1).select(
        F.lit(MINHASH_SCHEME_VERSION).cast("int").alias("scheme_version"),
        F.lit(n).cast("int").alias("n"),
        F.lit(num_perm).cast("int").alias("num_perm"),
        F.lit(bands).cast("int").alias("bands"),
    ).write.mode("overwrite").parquet(path + "/_scheme")


def check_index_meta(spark, path: str, n: int, num_perm: int, bands: int) -> None:
    """Fail loudly if the persisted index at ``path`` was written under
    a different hash scheme or (n, num_perm, bands) config than the
    probe will use.  A missing marker (pre-versioning index) is treated
    as incompatible — rebuild with build_minhash_index."""
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.parquet(path + "/_scheme").head()
    except AnalysisException as exc:
        # ONLY the missing-marker case maps to "rebuild": a transient
        # IO/permission error must propagate as itself, not send an
        # operator to rebuild a healthy 100 TB index for a retryable
        # failure.
        raise ValueError(
            f"minhash index at {path!r} has no _scheme marker; it predates "
            f"scheme versioning (current v{MINHASH_SCHEME_VERSION}) and its "
            "signatures cannot be trusted to match this probe's hash family "
            "— rebuild it with build_minhash_index"
        ) from exc
    if row is None:  # 0-row marker: interrupted/corrupt write
        raise ValueError(
            f"minhash index at {path!r} has an EMPTY _scheme marker "
            "(interrupted build?); rebuild it with build_minhash_index"
        )
    got = (row["scheme_version"], row["n"], row["num_perm"], row["bands"])
    want = (MINHASH_SCHEME_VERSION, n, num_perm, bands)
    if got != want:
        raise ValueError(
            f"minhash index at {path!r} was built with (scheme, n, num_perm, "
            f"bands)={got} but the probe uses {want}; signatures from "
            "different schemes/configs never match — rebuild the index or "
            "probe with the index's config"
        )


def build_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
) -> None:
    """Persist the corpus's banded MinHash signatures as a parquet index
    partitioned by ``band_idx`` — the artifact that makes dedup
    INCREMENTAL: a daily increment probes this index instead of
    re-sketching the historical corpus, so steady-state dedup cost
    scales with the increment, not the 100 TB history.

    ``repartition("band_idx")`` before the partitioned write keeps file
    count tracking band count (not tasks × bands); each partition holds
    (id, band_hash) pairs for one band, so a probe of band b reads
    exactly one directory.  Appending a new day's signatures to the same
    layout is an ``append``-mode write of the increment's band hashes."""
    minhash_band_hashes(docs, id_col, text_col, n, num_perm, bands).repartition(
        "band_idx"
    ).write.mode("overwrite").partitionBy("band_idx").parquet(path)
    _write_index_meta(docs, path, n, num_perm, bands)


def incremental_minhash_pairs(
    spark,
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    max_bucket: int = 1000,
    verify_threshold: float = 0.8,
) -> DataFrame:
    """Dedup an increment against a PERSISTED corpus signature index:
    verified near-dup pairs ``(corpus_id, new_id, n_common, jaccard_bp)``
    with exact Jaccard >= ``verify_threshold``.

    The production steady-state shape (new-vs-history; pair new-vs-new
    via ``minhash_lsh_candidates`` on the increment alone):

    1. sketch ONLY the increment (cost ∝ |new|);
    2. join its band hashes against the index on (band_idx, band_hash) —
       at scale the increment side is small, so AQE broadcasts it and
       the index scan never shuffles; oversized buckets are dropped on
       both sides (degenerate content, same ``max_bucket`` rule as the
       batch path);
    3. verify candidates with exact Jaccard, reading corpus TEXT only
       for candidate ids (semi-join pruned before the shingle
       computation — the corpus is never re-sketched, and only matched
       docs are re-read).

    ``corpus_docs`` must be the corpus the index was built from with the
    same (n, num_perm, bands) AND the same signature hash scheme; both
    are enforced against the index's ``_scheme`` marker before any probe
    work (check_index_meta — mismatch or missing marker raises)."""
    check_index_meta(spark, index_path, n, num_perm, bands)
    probe = cache.track(minhash_band_hashes(
        new_docs, id_col, text_col, n, num_perm, bands
    ))
    index = spark.read.parquet(index_path)
    # Degenerate-bucket prune on the INDEX side (corpus-scale buckets);
    # the increment side is bounded by |new| per bucket already.
    sizes = index.groupBy("band_idx", "band_hash").agg(
        F.count("*").alias("bucket_n")
    )
    pruned = index.join(
        sizes.filter(F.col("bucket_n") <= max_bucket), ["band_idx", "band_hash"]
    )
    cands = (
        pruned.select("band_idx", "band_hash", F.col("id").alias("corpus_id"))
        .join(
            probe.select(
                "band_idx", "band_hash", F.col("id").alias("new_id")
            ),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("corpus_id") != F.col("new_id"))
        .select("corpus_id", "new_id")
        .distinct()
    )
    # Verify: corpus text pruned to candidate ids BEFORE sharding — the
    # candidate id set is duplicate-bounded, so this is a broadcast
    # semi-join followed by a shingle computation over matches only.
    corpus_hit = corpus_docs.join(
        cands.select(F.col("corpus_id").alias(id_col)).distinct(), id_col, "semi"
    )
    a = corpus_hit.select(
        F.col(id_col).alias("corpus_id"), shingles_col(text_col, n).alias("sh_a")
    )
    b = new_docs.select(
        F.col(id_col).alias("new_id"), shingles_col(text_col, n).alias("sh_b")
    )
    return (
        cands.join(a, "corpus_id")
        .join(b, "new_id")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_a", F.size("sh_a"))
        .withColumn("n_b", F.size("sh_b"))
        .withColumn(
            "jaccard_bp",
            F.expr(
                "CAST(FLOOR(1e4 * n_common / (n_a + n_b - n_common)) AS BIGINT)"
            ),
        )
        .filter(F.col("jaccard_bp") >= int(verify_threshold * 10000))
        .select("corpus_id", "new_id", "n_common", "jaccard_bp")
    )


def incremental_clusters(
    spark,
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_labels: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    verify_threshold: float = 0.8,
) -> DataFrame:
    """Incremental duplicate-CLUSTER maintenance: fold an increment into
    an existing cluster labeling without recomputing connected
    components over history — the steady-state companion to
    :func:`incremental_minhash_pairs` (which answers "is this new doc a
    dup"; this answers "which cluster does it join, and which clusters
    does it MERGE").

    ``corpus_labels`` is the persisted labeling (doc_id, cluster_id)
    where cluster_id is the cluster's min doc id (the
    :func:`~real_time_data_pipeline_spark.operators.graph.attach_components`
    invariant this function relies on).  Steps, all increment-bounded:

    1. cross pairs: increment probed against the persisted signature
       index (history never re-sketched);
    2. new×new pairs: LSH over the increment alone;
    3. a DELTA graph whose nodes are new doc ids and the TOUCHED old
       clusters' labels (each old cluster collapses to its label — its
       internal edges are already resolved), one connected-components
       pass over that tiny graph;
    4. relabel: a doc's new cluster id is its delta-component min if its
       old label (or its own id, for new docs) was touched, else
       unchanged.  Because every old label IS its cluster's min doc id,
       the delta-component min over {touched labels, new ids} equals the
       full-recompute min over all member docs — so the output is
       EXACTLY the batch :mod:`graph` clustering of corpus ∪ increment
       (oracle-checked), including the hard case where one new document
       bridges two previously separate clusters.

    Returns (doc_id, cluster_id, is_canonical) over corpus ∪ increment.
    """
    from real_time_data_pipeline_spark.operators import graph

    cross = incremental_minhash_pairs(
        spark, new_docs, corpus_docs, index_path,
        id_col=id_col, text_col=text_col, n=n, num_perm=num_perm,
        bands=bands, verify_threshold=verify_threshold,
    )
    nn = minhash_lsh_candidates(
        new_docs, id_col, text_col, n=n, num_perm=num_perm, bands=bands,
        verify_threshold=verify_threshold,
    ).select("id_a", "id_b")
    bridge = (
        cross.join(
            corpus_labels,
            cross["corpus_id"] == corpus_labels[id_col],
        )
        .select(
            F.col("cluster_id").alias("u"),
            F.col("new_id").alias("v"),
        )
    )
    delta_edges = bridge.union(
        nn.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    )
    comp = graph.connected_components(delta_edges, "u", "v")

    relabeled = (
        corpus_labels.join(
            comp, corpus_labels["cluster_id"] == comp["node"], "left"
        )
        .select(
            corpus_labels[id_col],
            F.coalesce(F.col("component"), F.col("cluster_id")).alias(
                "cluster_id"
            ),
        )
    )
    new_ids = new_docs.select(id_col)
    new_labeled = (
        new_ids.join(comp, new_ids[id_col] == comp["node"], "left")
        .select(
            new_ids[id_col],
            F.coalesce(F.col("component"), new_ids[id_col]).alias(
                "cluster_id"
            ),
        )
    )
    return relabeled.union(new_labeled).withColumn(
        "is_canonical", F.col(id_col) == F.col("cluster_id")
    )


# -------------------------------------------------------------- simhash

def _portable_hash60(col: F.Column) -> F.Column:
    """Engine-portable 60-bit token hash: fold the first 15 hex chars of
    sha256 via ascii arithmetic (the curation.portable_hash48 recipe,
    widened).  60 bits — not 64 — because the 16th nibble would carry
    into the sign bit, and bigint overflow is an ERROR under Spark's
    ANSI mode and DuckDB alike; 60 independent sign-vote bits lose
    nothing SimHash cares about.

    Spark side uses ``conv(hex, 16, 10)`` (one expression; verified
    value-equal to the ascii fold); the DuckDB oracle twin keeps the
    per-char ascii fold because DuckDB has no base-conv builtin."""
    h = F.sha2(col.cast("string"), 256)
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash over distinct tokens: bit j of the fingerprint is 1 iff the
    sum over tokens of sign(bit j of hash(token)) is positive.  The
    fingerprint is emitted as hex (MSB first) plus a single long.

    ``portable=False`` (default) hashes with xxhash64 — fastest, but
    engine-specific.  ``portable=True`` uses the sha256 60-bit fold
    (``bits`` forced to 60): the SAME fingerprints are computable in any
    engine with sha256, which is what upgrades the dedup_simhash query
    from rows-only to a DuckDB-oracle-checked entry.

    Shape: explode distinct tokens once → one hash per token (codegen'd)
    → one hash-aggregate with `bits` conditional-sum vote columns → fold
    votes to hex nibbles driver-declared, executor-evaluated.  (A nested
    transform/aggregate expression form re-runs the interpreted tokenizer
    per bit — see minhash_signatures docstring; same pathology.)
    Docs whose token array is empty produce no exploded rows and drop out,
    matching "no content → no fingerprint"."""
    if portable:
        bits = 60
    if bits % 4 != 0:
        raise ValueError(f"bits must be a multiple of 4, got {bits}")
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("tok"),
    ).withColumn(
        "h", _portable_hash60(F.col("tok")) if portable else F.xxhash64("tok")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = ex.groupBy("id").agg(*votes)
    bit = [
        F.when(F.col(f"v{j}") > 0, F.lit(1)).otherwise(F.lit(0)) for j in range(bits)
    ]
    hexchars = F.array(*[F.lit(c) for c in "0123456789abcdef"])
    nibbles = [
        F.get(
            hexchars,
            bit[bits - 4 * k - 4]
            + bit[bits - 4 * k - 3] * 2
            + bit[bits - 4 * k - 2] * 4
            + bit[bits - 4 * k - 1] * 8,
        )
        for k in range(bits // 4)
    ]
    # also fold the bits into ONE long (bit j at position j; bit 63 wraps
    # to the sign bit, which is fine — only XOR/bit_count consume it):
    # Hamming distance then costs a single bit_count(a ^ b) per pair
    # instead of 16 per-nibble string conversions.
    fp_long = bit[0].cast("long")
    for j in range(1, bits):
        fp_long = fp_long + F.shiftleft(bit[j].cast("long"), j)
    return agg.select(
        "id", F.concat_ws("", *nibbles).alias("simhash"), fp_long.alias("simhash_long")
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Band join: split the fingerprint's bit range into (max_hamming+1)
    blocks (masked out of the long — banding is independent of the hex
    rendering); by pigeonhole any pair within the distance budget shares
    at least one exact block → join on (block_idx, block), verify
    Hamming exactly.  This is the standard scalable SimHash join (no
    all-pairs).  ``portable=True`` selects the sha256 hash family
    (bits=60) whose output an oracle engine can reproduce."""
    nblocks = max_hamming + 1
    sh = simhash(df, id_col, text_col, bits=bits, portable=portable)
    if portable:
        bits = 60
    width = -(-bits // nblocks)  # ceil: blocks partition the bit range
    banded = sh.select(
        "id",
        "simhash_long",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.shiftright(F.col("simhash_long"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block"),
                    )
                    for b in range(nblocks)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash_long", "b.block_idx", "b.block")
    # Both sides of the block self-join read this; persist so the vote
    # aggregation runs once (fingerprints are ~24 bytes/doc — tiny).
    banded = cache.track(banded)
    l = banded.select("block_idx", "block", F.col("id").alias("id_a"), F.col("simhash_long").alias("fp_a"))
    r = banded.select("block_idx", "block", F.col("id").alias("id_b"), F.col("simhash_long").alias("fp_b"))
    # exact hamming: one bit_count over the XOR of the long fingerprints
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        l.join(r, ["block_idx", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------- embedding near-dup

def _vec_norm(c: F.Column) -> F.Column:
    """L2 norm as the sequential double fold — the IEEE-reproducible
    expression both embedding legs have always used (verbatim the
    former per-function local def; factored in r11 so the legs can
    share ONE persisted (id, v, nrm) projection)."""
    return F.sqrt(
        F.aggregate(
            c, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )


def _vec_dot(a: F.Column, b: F.Column) -> F.Column:
    """Sequential-fold dot product (same provenance as :func:`_vec_norm`)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def embedding_base(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """ONE persisted (id, v, nrm) projection for composers that run
    SEVERAL embedding legs over the same corpus (r11, guide §5
    persist-reused-input; VERDICT r10 item 3): the exact and sign-LSH
    legs each built this identical projection independently — the
    certificate query paid the vector scan + norm fold once per leg per
    side.  The expressions are verbatim the legs' own, so sharing
    cannot change any value.  Tracked via operators/cache.py; the
    caller releases with cache.release_all() after evaluating."""
    return cache.track(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _vec_norm(F.col(vec_col)).alias("nrm"),
        )
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 42,
    probe_hamming: int = 0,
    auto_planes_occupancy: int | None = None,
    base_frame: DataFrame | None = None,
) -> DataFrame:
    """The CANDIDATE-GENERATION half of :func:`embedding_near_dup_lsh`
    (numpy plane pack → per-table bucket join → mask perturbation →
    cross-table distinct), factored out in r11 so composers that
    already hold the exact pair set (the certificate runs BOTH legs)
    can derive the sign-LSH leg's pairs as ``exact ∩ candidates``
    instead of re-scoring every candidate: the LSH leg's cos_bp is the
    same sequential fold over the same vectors at the same threshold,
    so its output is EXACTLY the exact leg's pairs restricted to the
    candidate set — a semi-join, no second scoring pass.  Used verbatim
    by :func:`embedding_near_dup_lsh` itself, so the factoring cannot
    change candidate membership.

    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    import math

    import numpy as np

    from real_time_data_pipeline_spark.operators.similarity import make_planes

    if auto_planes_occupancy is not None:
        assert probe_hamming == 0, (
            "auto_planes_occupancy is a probe_hamming=0 production knob "
            "(multi-probe masks explode 2^planes)"
        )
        n_rows = df.count()
        if n_rows > auto_planes_occupancy:
            n_planes = max(
                n_planes,
                min(
                    24,  # int32 bucket ids; 2^24 buckets/table is plenty
                    math.ceil(math.log2(n_rows / auto_planes_occupancy)),
                ),
            )

    P = np.array(
        [p for t in range(n_tables) for p in make_planes(dim, n_planes, seed + 7919 * t)],
        dtype=np.float64,
    )  # (n_tables*n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def assign(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            S = (list_matrix(rb.column(1)) @ P.T) >= 0  # (n, tables*planes)
            yield [rb.column(0)] + [
                S[:, t * n_planes : (t + 1) * n_planes] @ weights
                for t in range(n_tables)
            ]

    id_t = df.schema[id_col].dataType.simpleString()
    bucket_schema = "id " + id_t + ", " + ", ".join(
        f"b{t} int" for t in range(n_tables)
    )
    src = (
        base_frame.select(
            F.col("id").alias(id_col), F.col("v").alias(vec_col)
        )
        if base_frame is not None
        else df.select(id_col, vec_col)
    )
    # r11 (VERDICT r10 item 4): persist the (tiny — one int per table
    # per id) bucket table.  It feeds BOTH sides of every per-table
    # bucket join; uncached, the plan inlined the numpy assign
    # subtree once per side (2 Python passes over the full vector
    # column instead of 1 — visible as duplicated MapInPandas nodes in
    # plans/r11/dedup_pipeline_lsh_before.txt).
    bucketed = cache.track(map_in_arrow(src, assign, bucket_schema))
    keyed = bucketed.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("tbl"), F.col(f"b{t}").alias("bkt"))
                for t in range(n_tables)
            ])
        ).alias("k"),
    ).select("id", F.col("k.tbl").alias("tbl"), F.col("k.bkt").alias("bkt"))

    # Candidate pairs carry IDS ONLY through the bucket join, and are
    # deduped across tables BEFORE scoring: a pair colliding in k of the
    # OR-ed tables would otherwise ship its two vectors k times through
    # the shuffle and pay the (interpreted-HOF) dot product k times.
    # Distinct-first means one shuffle of bare id pairs, then one join
    # per side to attach vectors, then exactly one score per pair.
    l = keyed.select("tbl", "bkt", F.col("id").alias("id_a"))
    if probe_hamming > 0:
        # Distinct masks of popcount <= r flip distinct bucket ids, so
        # the explode adds no duplicate (tbl, bkt, id) probe rows.
        masks = [
            m
            for m in range(1 << n_planes)
            if bin(m).count("1") <= probe_hamming
        ]
        l = l.withColumn(
            "bkt",
            F.explode(
                F.array(*[F.col("bkt").bitwiseXOR(F.lit(m)) for m in masks])
            ),
        )
    r = keyed.select("tbl", "bkt", F.col("id").alias("id_b"))
    return (
        l.join(r, ["tbl", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 42,
    probe_hamming: int = 0,
    auto_planes_occupancy: int | None = None,
    base_frame: DataFrame | None = None,
) -> DataFrame:
    """Multi-table sign-LSH embedding near-dup — the 100 TB path.

    ``auto_planes_occupancy`` (production knob): when set, raise
    ``n_planes`` to ceil(log2(n_rows / occupancy)) so EXPECTED bucket
    occupancy stays ~constant as the corpus grows.  Within-bucket
    candidate pairs are quadratic in occupancy (2^planes buckets/table,
    n²/2^planes scored pairs), so a FIXED plane count makes the scored
    pair set grow quadratically with the corpus even though the prune
    "works" — the r8 sf1 probe measured exactly that band (5.5× wall at
    10× rows with 4 fixed planes).  Scaling planes with log2(n) keeps
    scored pairs ∝ n·occupancy — the linear scale shape.  Per-table
    recall for a pair at angle θ is (1-θ/π)^planes, so production
    configs that auto-scale planes should scale ``n_tables`` (or
    ``probe_hamming``) with it; at near-dup thresholds (cos ≥ 0.95,
    θ/π ≈ 0.10) even 20 planes keep per-table recall ≈ 0.12 and 32
    OR-ed tables ≈ 0.98.  Only meaningful at probe_hamming=0 (the
    multi-probe mask explode is 2^planes-bounded) — guarded.  Costs one
    count() action on the (narrow) embedding frame.

    ``probe_hamming`` adds classic multi-probe (Lv et al., VLDB'07; the
    similarity.lsh_topk recipe): one side of each table's bucket join
    also probes every bucket within that Hamming distance of its own
    signature, so a pair is a candidate iff its table signatures differ
    in <= probe_hamming bits.  The masks are data-independent literals
    exploded on ids-only rows BEFORE the candidate distinct, so the
    corpus-side vector scan is unchanged.  At ``probe_hamming ==
    n_planes`` every bucket is probed — the candidate set is all pairs
    and the output is bit-identical to :func:`embedding_near_dup` (same
    fold, same filter), the full-recall configuration the oracle-backed
    registry entry pins.

    `n_tables` independent hash tables, each bucketing vectors by the sign
    pattern against `n_planes` random hyperplanes
    (similarity.random_hyperplane_buckets); only same-bucket-same-table
    pairs are scored.  Candidate count per table drops ~2^n_planes; a true
    pair at angle θ collides in one table with prob (1-θ/π)^n_planes, and
    OR-ing tables amplifies recall to 1-(1-p)^n_tables (e.g. cos≥0.95,
    6 planes, 4 tables → 0.95 recall vs 0.53 for a single table).
    Duplicate candidates from multiple tables collapse via a distinct on
    the bare id pair BEFORE vectors are attached and scored (ids-only
    shuffle, one dot product per pair), so output schema and cos_bp
    values match :func:`embedding_near_dup` exactly — results are a
    recall-subset of the exact operator (property-tested).

    Bucket bits for ALL tables come from one numpy matmul inside a
    single typed mapInArrow pass (V·Pᵀ ≥ 0, bits packed per table).  The
    round-1 JVM variant built n_tables × n_planes interpreted HOF dot
    products with 64-literal plane arrays per bit — ~10M interpreted ops
    at sf0.1 and an expression tree large enough to swing
    analysis/codegen time by seconds run-to-run.  Scoring still uses the
    sequential-fold HOF over the ORIGINAL vectors, so cos_bp stays
    bit-identical to the exact operator; only candidate membership (a
    recall knob by construction) depends on the numpy sign.

    ``base_frame`` (r11): a caller-shared persisted (id, v, nrm)
    projection from :func:`embedding_base` — composers running several
    embedding legs over the same corpus pass one copy so the vector
    scan and the norm fold run once; expressions are identical either
    way.  Candidate generation lives in :func:`lsh_candidate_pairs`
    (factored in r11, code unchanged) so the certificate can derive
    this operator's output as ``exact pairs ∩ candidates`` without a
    second scoring pass."""
    cand = lsh_candidate_pairs(
        df, id_col, vec_col, dim=dim, n_planes=n_planes,
        n_tables=n_tables, seed=seed, probe_hamming=probe_hamming,
        auto_planes_occupancy=auto_planes_occupancy,
        base_frame=base_frame,
    )
    base = (
        base_frame
        if base_frame is not None
        else df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _vec_norm(F.col(vec_col)).alias("nrm"),
        )
    )
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("nrm_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nrm_b"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    cos = _vec_dot(F.col("va"), F.col("vb")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        pairs.withColumn("cos_bp", F.floor(F.lit(1e4) * cos).cast("bigint"))
        .filter(F.col("cos_bp") >= int(threshold * 10000))
        .select("id_a", "id_b", "cos_bp")
    )


def _approx_input_rows(df: DataFrame) -> int:
    """Row-count bound for plan selection: sum of parquet footer counts
    when the frame is file-backed (metadata only — no Spark job), else
    one count() job.  Footer counts ignore filters above the scan, so
    the result is an UPPER bound — callers must use it only for
    size-adaptive plan choices where overcounting is safe."""
    try:
        files = df.inputFiles()
        if files:
            import pyarrow.parquet as pq

            total = 0
            for f in files:
                path = f[7:] if f.startswith("file://") else f
                total += pq.ParquetFile(path).metadata.num_rows
            return total
    except Exception:
        pass
    return df.count()


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    probe_filter: str | None = None,
    naive: bool = False,
    block_rows: int = 2048,
    gemm_min_rows: int = 4096,
    base_frame: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine near-duplicate pairs over an embedding column.

    Scores/filters in DOUBLE with a sequential fold so the result is
    IEEE-reproducible across engines.  `probe_filter` restricts the
    left side (SQL over the renamed frame, e.g. "id % 20 = 0") the way
    a production run would restrict to new arrivals; for full-corpus
    near-dup at scale use LSH bucketing first
    (:func:`embedding_near_dup_lsh`).

    Since round 10 the all-pairs scoring runs as a LOSSLESS blocked-GEMM
    prefilter + exact verify instead of a nested-loop join evaluating
    the interpreted fold per pair (the measured sf1 scale-killer in
    dedup_pipeline's exact leg):

    1. non-zero-norm vectors are hashed into ⌈n/block_rows⌉ blocks and
       packed one-block-per-row (collect_list of (id, vec) structs);
    2. a LITERAL block-pair grid (B(B+1)/2 rows — a LocalTableScan, so
       the plan stays equi-join-only, no BroadcastNestedLoopJoin)
       equi-joins the packed blocks into cells; one typed mapInArrow
       pass runs one numpy GEMM per cell and emits candidate pairs at
       gemm_cos >= t − 1e-6;
    3. candidates (near-dup-bounded, tiny) join their vectors back and
       the emitted cos_bp comes from the SAME sequential double fold as
       before — bit-identical output to the naive plan.

    Losslessness of the prefilter: float64 GEMM and the sequential fold
    agree to ~1e-13 relative (both sum 64 products in double; they can
    differ only in summation order), so every pair with exact
    cos >= t survives gemm_cos >= t − 1e-6 with six orders of margin;
    borderline extras are removed by the exact verify.  Zero-norm
    vectors are excluded up front on both plans (their cosine is NULL
    under the exact filter).  The pair space is still quadratic by
    construction — this is the certification baseline; the 100 TB path
    remains sign-LSH — but the quadratic work is now one BLAS flop per
    (pair, dim) instead of one interpreted Catalyst fold per pair, and
    it distributes over B(B+1)/2 independent cells.

    The switch is SIZE-ADAPTIVE (one cheap count(), the same trade
    Spark's broadcast threshold makes): below ``gemm_min_rows`` the
    pair space is small enough that the nested-loop plan's single
    shuffle-free stage beats the GEMM path's ~6 jobs of fixed
    scheduling overhead (measured at sf0.1: 1.9 s naive vs 8.6 s
    blocked for n=2000), so the naive plan runs; above it the
    quadratic interpreted fold dominates and the blocked GEMM wins
    (sf1/n=20000: minutes → seconds).  Both plans emit bit-identical
    rows, so the switch can never change results.  ``naive=True``
    forces the pre-round-10 nested-loop plan (the equivalence-test
    baseline — tests/test_r10_fixes.py pins the two plans
    row-for-row).
    """
    import math

    t_bp = int(threshold * 10000)
    dot = _vec_dot

    # Norms are computed once per vector BEFORE the pair join (computing
    # them per-pair doubles the interpreted higher-order-function work on
    # the quadratic side).  Same float expression → same IEEE result.
    # ``base_frame`` (r11): caller-shared persisted projection from
    # :func:`embedding_base` — same expressions, scanned once per
    # composition instead of once per leg.
    base = (
        base_frame
        if base_frame is not None
        else df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _vec_norm(F.col(vec_col)).alias("nrm"),
        )
    )
    if not naive:
        # Size the input to pick the plan.  Parquet footer row counts
        # (milliseconds, no Spark job) when the frame is file-backed;
        # a count() job otherwise.  Footers count rows PRE-filter, so a
        # filtered frame may overcount — that only biases TOWARD the
        # blocked plan, which is correct at any size, never wrong.
        n = _approx_input_rows(df)
    if naive or n <= gemm_min_rows:
        # zero/NaN-norm vectors have no defined cosine to anything —
        # excluded (under ANSI mode the division would otherwise raise
        # DIVIDE_BY_ZERO instead of yielding a filterable NULL)
        base = base.filter(F.col("nrm") > 0.0)
        left = base.filter(probe_filter) if probe_filter else base
        l = left.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("nrm_a"))
        r = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nrm_b"))
        pairs = l.join(r, F.col("id_a") < F.col("id_b"))
        cos = dot(F.col("va"), F.col("vb")) / (F.col("nrm_a") * F.col("nrm_b"))
        return (
            pairs.withColumn("cos_bp", F.floor(F.lit(1e4) * cos).cast("bigint"))
            .filter(F.col("cos_bp") >= t_bp)
            .select("id_a", "id_b", "cos_bp")
        )

    import numpy as np

    spark = df.sparkSession
    # zero/NaN-norm vectors have no defined cosine to anything (NULL
    # under the exact filter) — excluded on both plans
    nz = cache.track(base.filter(F.col("nrm") > 0.0))
    n_blocks = max(1, math.ceil(n / block_rows))
    blocks = nz.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks))
    )
    left_blocks = blocks.filter(probe_filter) if probe_filter else blocks
    packed_a = left_blocks.groupBy(F.col("blk").alias("blk_a")).agg(
        F.collect_list(F.struct("id", "v")).alias("rows_a")
    )
    packed_b = blocks.groupBy(F.col("blk").alias("blk_b")).agg(
        F.collect_list(F.struct("id", "v")).alias("rows_b")
    )
    symmetric = probe_filter is None
    grid = local_frame(
        spark,
        [
            (i, j)
            for i in range(n_blocks)
            for j in range((i if symmetric else 0), n_blocks)
        ],
        "blk_a long, blk_b long",
    )
    cells = grid.join(packed_a, "blk_a").join(packed_b, "blk_b")
    id_t = df.schema[id_col].dataType.simpleString()
    cut = t_bp / 1e4 - 1e-6

    def unpack(col):
        """(ids, unit vectors, row offsets) of a packed
        ``array<struct<id, v>>`` column: every cell's rows in one flat
        conversion, cell i at rows [offsets[i], offsets[i + 1])."""
        ids, vecs = col.values.flatten()  # struct fields (id, v)
        V = list_matrix(vecs)
        ids = ids.to_numpy(zero_copy_only=False)
        offsets = col.offsets.to_numpy(zero_copy_only=False)
        return ids, V / np.linalg.norm(V, axis=1, keepdims=True), offsets

    def prefilter(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids_a, An, off_a = unpack(rb.column("rows_a"))
            ids_b, Bn, off_b = unpack(rb.column("rows_b"))
            blk_a = rb.column("blk_a").to_numpy(zero_copy_only=False)
            blk_b = rb.column("blk_b").to_numpy(zero_copy_only=False)
            out_a, out_b = [], []
            for i in range(rb.num_rows):
                sa = slice(off_a[i], off_a[i + 1])
                sb = slice(off_b[i], off_b[i + 1])
                ii, jj = np.nonzero(An[sa] @ Bn[sb].T >= cut)
                ia, ib = ids_a[sa][ii], ids_b[sb][jj]
                if not symmetric or blk_a[i] == blk_b[i]:
                    # a-side is the probe (or the diagonal's dedupe):
                    # keep the original id_a < id_b orientation
                    m = ia < ib
                    out_a.append(ia[m])
                    out_b.append(ib[m])
                else:
                    # off-diagonal symmetric cell: every cross pair
                    # appears exactly once — canonicalize to (min, max)
                    out_a.append(np.minimum(ia, ib))
                    out_b.append(np.maximum(ia, ib))
            yield [np.concatenate(out_a), np.concatenate(out_b)]

    cand = map_in_arrow(
        cells.select("blk_a", "blk_b", "rows_a", "rows_b"),
        prefilter,
        f"id_a {id_t}, id_b {id_t}",
    )
    va = nz.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("nrm_a")
    )
    vb = nz.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nrm_b")
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_bp", F.floor(F.lit(1e4) * cos).cast("bigint"))
        .filter(F.col("cos_bp") >= t_bp)
        .select("id_a", "id_b", "cos_bp")
    )


# --------------------------------------------- end-to-end cleaning pass

def near_dup_text_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    tokens_frame: DataFrame | None = None,
) -> dict:
    """The TEXT-grain half of :func:`near_dup_verdicts` (exact-hash
    flags/edges + verified MinHash pairs), factored out so callers
    that compose SEVERAL verdict passes over the same corpus — the
    exact-vs-pruned certificate (queries/curation.
    q_clean_corpus_pruned_certificate) composes two, differing only in
    the embedding leg — compute the tokenize/shingle prep, the
    exact-dup window, and the LSH candidate-verify ONCE instead of
    once per pass.  Returns ``{"exact_flags", "exact_edges",
    "mh_pairs"}``; every frame is content-identical to what
    near_dup_verdicts builds inline (same expressions, same persists),
    so sharing cannot change any downstream verdict."""
    from pyspark.sql import Window

    # sha256 of the normalized text, not the text itself, is the exact
    # dedup key (collision odds ~2^-128 — the standard trade at scale).
    # One pass over the raw text produces everything every leg needs.
    # ``tokens_frame`` (id_col, toks) substitutes a caller-shared
    # tokenized prep (r10: the clean_corpus compositions tokenize ONCE
    # for the quality legs and these dedup legs); the hash/shingle
    # expressions are the same concat/slice over the same token arrays,
    # so prep is bit-identical either way.
    if tokens_frame is not None:
        prep = cache.track(
            tokens_frame.select(
                F.col(id_col).alias("id"),
                F.sha2(F.concat_ws(" ", F.col("toks")), 256).alias("_nh"),
                shingles_from_tokens(F.col("toks"), n).alias("sh"),
            )
        )
    else:
        prep = cache.track(
            docs.select(
                F.col(id_col).alias("id"),
                F.sha2(F.concat_ws(" ", tokens_col(text_col)), 256).alias("_nh"),
                shingles_col(text_col, n).alias("sh"),
            )
        )
    labeled = (
        prep.select(F.col("id").alias(id_col), "_nh")
        .withColumn("_gmin", F.min(id_col).over(Window.partitionBy("_nh")))
        .drop("_nh")
    )
    exact_flags = labeled.select(
        id_col, (F.col(id_col) != F.col("_gmin")).alias("is_exact_dup")
    )
    exact_edges = labeled.filter(F.col(id_col) != F.col("_gmin")).select(
        F.col("_gmin").alias("id_a"), F.col(id_col).alias("id_b")
    )
    # Each pair leg feeds BOTH its per-doc flag set and the cluster edge
    # set; persist the (tiny) pair output so the expensive candidate
    # generation runs once, not once per consumer.
    mh_pairs = cache.track(
        minhash_lsh_candidates(
            docs, id_col, text_col, n=n, num_perm=num_perm, bands=bands,
            verify_threshold=jaccard_threshold,
            shingled=prep.select("id", "sh"),
        ).select("id_a", "id_b")
    )
    return {
        "exact_flags": exact_flags,
        "exact_edges": exact_edges,
        "mh_pairs": mh_pairs,
    }


def near_dup_verdicts(
    docs: DataFrame,
    emb: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    jaccard_threshold: float = 0.8,
    cos_threshold: float = 0.95,
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    embedding_scale_path: bool = False,
    text_signals: dict | None = None,
    tokens_frame: DataFrame | None = None,
    embedding_pairs: DataFrame | None = None,
    emb_base: DataFrame | None = None,
    **lsh_kw,
) -> DataFrame:
    """The full LLM-data-cleaning dedup pass as ONE verdict table: for
    every document, the union of three independent near-dup signals plus
    the final keep/drop decision.

      - ``is_exact_dup``     — normalized text identical to a lower-id doc
      - ``is_minhash_dup``   — higher-id member of a verified MinHash-LSH
                               pair at Jaccard >= ``jaccard_threshold``
      - ``is_embedding_dup`` — higher-id member of an embedding-cosine
                               pair at cos >= ``cos_threshold``
      - ``keep``             — no signal fired (the canonical survivor of
                               each pair/group is the MINIMUM id, the
                               standard greedy LSH-dedup rule)

    ``embedding_scale_path=True`` swaps the quadratic exact cosine pass
    for multi-table sign-LSH (``embedding_near_dup_lsh``, extra kwargs
    forwarded) — the 100 TB configuration; the result is then a
    recall-subset of the exact verdicts (property-tested).

    The three signals are resolved TRANSITIVELY before survivor
    selection: exact-group star edges ∪ verified MinHash pairs ∪
    embedding pairs feed ``graph.connected_components``, every doc gets
    its cluster's min id as ``cluster_id``, and ``keep`` is
    cluster-canonical (``doc_id == cluster_id``) — the C4/RefinedWeb
    semantics.  Pairwise min-id survival under-deduplicates: with edges
    (A,C) and (B,C) for A<B<C, pairwise keeps both A and B even though
    the three docs are ONE cluster whose canonical member is A.

    Scale shape: tokenize/shingle runs ONCE — a single persisted prep
    table (id, sha256(norm_text), shingles) feeds the exact-dup window,
    the MinHash signature aggregation, AND the candidate-verify stage
    (pre-round-4 each leg re-derived its own shingles, tripling the
    scan-side work).  The exact signal is one window shuffle over
    (hash, id) — the hash, not the text, crosses the wire; each pair
    signal is bounded by the candidate-pair count; connected components
    resolves the UNION EDGE SET (duplicate pairs only, a tiny fraction
    of the corpus) — via a single driver union-find pass when the
    verified edge set is broadcast-small (the common case; see
    graph.connected_components), falling back to the O(log n)
    alternating-star fixpoint above that bound; the final flag/cluster
    joins are doc_id-keyed left joins against those small sets — at
    scale AQE broadcasts them, so the verdict assembly adds no extra
    shuffle of the corpus itself.  Persisted intermediates are tracked
    (operators/cache.py); callers release them with cache.release_all()
    after evaluating the result.  ``text_signals`` (from
    :func:`near_dup_text_signals`) lets callers composing several
    verdict passes over the same corpus share the text-grain legs —
    the frames are built by the same code either way, so the output is
    bit-identical."""
    from real_time_data_pipeline_spark.operators import graph

    if text_signals is None:
        text_signals = near_dup_text_signals(
            docs, id_col, text_col, jaccard_threshold=jaccard_threshold,
            n=n, num_perm=num_perm, bands=bands,
            tokens_frame=tokens_frame,
        )
    exact_flags = text_signals["exact_flags"]
    exact_edges = text_signals["exact_edges"]
    mh_pairs = text_signals["mh_pairs"]
    mh_dup = (
        mh_pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_mh", F.lit(True))
    )
    if embedding_pairs is not None:
        # r11: caller-computed embedding pair set (the certificate
        # derives the pruned leg's pairs as exact ∩ candidates — see
        # lsh_candidate_pairs); the caller persists it, and only the
        # bare (id_a, id_b) set ever mattered downstream.
        epairs = embedding_pairs.select("id_a", "id_b")
    else:
        if embedding_scale_path:
            epairs = embedding_near_dup_lsh(
                emb, vec_id_col, vec_col, threshold=cos_threshold,
                base_frame=emb_base, **lsh_kw
            )
        else:
            epairs = embedding_near_dup(
                emb, vec_id_col, vec_col, threshold=cos_threshold,
                base_frame=emb_base,
            )
        epairs = cache.track(epairs.select("id_a", "id_b"))
    emb_dup = (
        epairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_emb", F.lit(True))
    )
    edges = exact_edges.union(mh_pairs).union(epairs)
    cc = graph.connected_components(edges, "id_a", "id_b")
    clusters = graph.attach_components(docs.select(id_col), cc, id_col)
    return (
        clusters.join(exact_flags, id_col)
        .join(mh_dup, id_col, "left")
        .join(emb_dup, id_col, "left")
        .select(
            id_col,
            "is_exact_dup",
            F.coalesce(F.col("_mh"), F.lit(False)).alias("is_minhash_dup"),
            F.coalesce(F.col("_emb"), F.lit(False)).alias("is_embedding_dup"),
            "cluster_id",
            (F.col(id_col) == F.col("cluster_id")).alias("keep"),
        )
    )


def editdistance_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 16,
    head_len: int = 64,
    max_dist: int = 8,
) -> DataFrame:
    """Edit-distance near-dup pairs via prefix blocking: candidates are
    docs sharing their first ``prefix_len`` characters (an equality
    self-join — one co-partitioned shuffle on the prefix key), verified
    with Levenshtein distance over the first ``head_len`` characters.

    Complements the set-similarity family (n-gram Jaccard / MinHash /
    SimHash): edit distance catches in-place character edits that keep
    most shingles intact but also small insertions that shift every
    downstream shingle — the template-with-substitutions duplicate class
    common in scraped web text.

    Candidate policy (documented recall bound, same spirit as LSH
    banding): a pair that differs inside the first ``prefix_len`` chars
    is never considered.  Exact-prefix blocking keys are skew-safe for
    real corpora except degenerate shared boilerplate prefixes; for
    those, raise ``prefix_len`` or pre-strip boilerplate
    (text.normalize_text).  The verify is per-candidate, JVM codegen
    (``levenshtein``), bounded by ``head_len``² per pair.

    Output: (id_1, id_2, edit_distance) with id_1 < id_2.
    """
    d = df.select(
        F.col(id_col),
        F.substring(F.col(text_col), 1, prefix_len).alias("_pfx"),
        F.substring(F.col(text_col), 1, head_len).alias("_head"),
    )
    a = d.select(
        F.col(id_col).alias("id_1"),
        "_pfx",
        F.col("_head").alias("_head1"),
    )
    b = d.select(
        F.col(id_col).alias("id_2"),
        "_pfx",
        F.col("_head").alias("_head2"),
    )
    dist = F.levenshtein(F.col("_head1"), F.col("_head2"))
    return (
        a.join(b, "_pfx")
        .filter(F.col("id_1") < F.col("id_2"))
        .filter(dist <= F.lit(max_dist))
        .select(
            "id_1", "id_2", dist.cast("bigint").alias("edit_distance")
        )
    )


def lsh_tuning(
    threshold: float, num_perm: int = 128, max_miss: float = 1e-6
) -> dict:
    """Pick (bands, rows) for MinHash-LSH at a target Jaccard
    threshold, recall-first: among every factorization b·r = num_perm
    whose miss probability for a TRUE threshold pair, (1 - t^r)^b, is
    under ``max_miss``, choose the latest-rising S-curve (max
    inflection (1/b)^(1/r)) — dedup must not silently drop true
    duplicates, so recall is a constraint and false-candidate volume
    is what gets optimized.  Falls back to the min-miss factorization
    if none meets the target (reported in ``meets_miss_target``).
    The planning companion to minhash_lsh_candidates: t=0.8 at 128
    perms returns the package-wide 32-band/4-row default (miss ~5e-8).

    Driver-side arithmetic only — call it when sizing a new corpus
    pass, persist the choice with the index (build_minhash_index
    stores its params for the same reason).
    """
    cands = []
    for bands in range(1, num_perm + 1):
        if num_perm % bands:
            continue
        rows = num_perm // bands
        inflection = (1.0 / bands) ** (1.0 / rows)
        p_miss = (1.0 - threshold**rows) ** bands
        p_false = 1.0 - (1.0 - (threshold / 2) ** rows) ** bands
        cands.append(
            {
                "bands": bands,
                "rows": rows,
                "inflection": inflection,
                "p_miss_at_threshold": p_miss,
                "p_false_at_half_threshold": p_false,
            }
        )
    ok = [c for c in cands if c["p_miss_at_threshold"] <= max_miss]
    if ok:
        best = max(ok, key=lambda c: c["inflection"])
        best["meets_miss_target"] = True
    else:
        best = min(cands, key=lambda c: c["p_miss_at_threshold"])
        best["meets_miss_target"] = False
    return best


def source_dup_matrix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source exact-duplicate matrix — the corpus-governance
    table behind licensing/provenance questions ("how much of source B
    is already in source A?"): for every ordered source pair (a, b),
    the number and share of b's documents whose normalized-text hash
    also occurs in a.

    The only corpus-scale artifacts are the (source, hash) projection
    and its distinct form; the pair join is hash-keyed (duplicate-
    bounded), and the output is |sources|² rows.  Uses the same
    sha256(normalized text) key as the exact-dedup verdict, so the
    matrix is consistent with `near_dup_verdicts.is_exact_dup`.
    """
    h = df.select(
        F.col(source_col).alias("src"),
        F.col(id_col).alias("id"),
        F.sha2(F.concat_ws(" ", tokens_col(text_col)), 256).alias("h"),
    )
    totals = h.groupBy("src").agg(F.count("*").cast("bigint").alias("n_docs"))
    hashes = h.select("src", "h").distinct()
    hits = (
        h.alias("b")
        .join(
            hashes.alias("a"),
            (F.col("b.h") == F.col("a.h")) & (F.col("b.src") != F.col("a.src")),
        )
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_dup_docs"))
    )
    grid = (
        totals.select(F.col("src").alias("source_a"))
        .crossJoin(
            totals.select(F.col("src").alias("source_b"), "n_docs")
        )
        .filter(F.col("source_a") != F.col("source_b"))
    )
    return grid.join(hits, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.col("n_docs").alias("n_docs_b"),
        F.coalesce("n_dup_docs", F.lit(0)).cast("bigint").alias("n_dup_docs"),
        F.floor(
            F.lit(10_000) * F.coalesce("n_dup_docs", F.lit(0)) / F.col("n_docs")
        )
        .cast("bigint")
        .alias("dup_rate_bp"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    min_shingles: int = 3,
) -> DataFrame:
    """Asymmetric near-duplicate detection: document A is *contained* in
    document B when |shingles(A) ∩ shingles(B)| / |shingles(A)| >= t.

    Jaccard misses the quote/extension case — a short doc fully embedded
    in a much longer one has low Jaccard (union is large) but containment
    1.0; this is the signal for "article + appended boilerplate" and
    "excerpt of a longer source" duplicates that symmetric dedup keeps.
    Tiny docs (< ``min_shingles`` shingles) are excluded: with 1-2
    shingles, containment is a coin flip, not evidence.

    Plan: the same explode → shingle self-join → pair-count shape as
    :func:`ngram_jaccard_pairs` (one tokenize, sizes from the persisted
    exploded table), but each unordered candidate pair emits up to two
    ordered verdict rows (a-in-b, b-in-a) from the SAME joined row — no
    second join.  Containment in exact integer basis points.
    """
    ex = cache.track(df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles_col(text_col, n)).alias("shingle"),
    ))
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = ex.select(F.col("id").alias("id_a"), "shingle")
    b = ex.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    paired = common.join(sa, "id_a").join(sb, "id_b")
    # One unordered pair row fans out to its two ordered directions via
    # an inline array — pure projection, no extra join or shuffle.
    directed = paired.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("contained_id"),
                    F.col("id_b").alias("container_id"),
                    F.col("n_common"),
                    F.col("n_a").alias("n_contained"),
                ),
                F.struct(
                    F.col("id_b").alias("contained_id"),
                    F.col("id_a").alias("container_id"),
                    F.col("n_common"),
                    F.col("n_b").alias("n_contained"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    return (
        directed.filter(F.col("n_contained") >= min_shingles)
        .withColumn(
            "containment_bp",
            F.expr("CAST(FLOOR(1e4 * n_common / n_contained) AS BIGINT)"),
        )
        .filter(F.col("containment_bp") >= int(threshold * 10000))
        .select(
            "contained_id",
            "container_id",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_contained").cast("bigint").alias("n_contained"),
            "containment_bp",
        )
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_bp: int = 8000,
) -> DataFrame:
    """Exact θ-Jaccard near-dup pairs via PPJoin-style PREFIX FILTERING
    (Xiao et al., WWW 2008 §3 — the candidate-bounding idea the LSH
    tiers don't have: deterministic, LOSSLESS pruning): order every
    doc's shingles by ascending global document frequency (rarest
    first, ties by shingle), index only each doc's PREFIX — the first
    |x| − ⌈θ|x|⌉ + 1 shingles — and generate candidates from prefix
    collisions only; verify candidates exactly.

    Losslessness: J(a,b) ≥ θ forces overlap o ≥ θ·max(|a|,|b|) ≥
    ⌈θ|a|⌉ (integer).  Disjoint prefixes would confine every common
    shingle to the suffixes, so o ≤ min(|a|−p_a, |b|−p_b) =
    ⌈θ|a|⌉−1 < o — contradiction.  Hence the candidate set contains
    EVERY qualifying pair and the output equals the brute-force
    all-shared-shingle join bit-for-bit (the shared _JACCARD_ORACLE) —
    unlike MinHash-LSH's 1−(1−θ^r)^b recall, this prune is exact by
    construction, at the cost of indexing the rare-token prefix
    instead of hashing.

    On top of the prefix prune, the PPJoin/PPJoin+ LENGTH and
    POSITIONAL filters cut the verification fanout — both lossless:

    - length: J ≥ θ ⇒ θ·max(|a|,|b|) ≤ min(|a|,|b|) (overlap can't
      exceed the smaller set), so size-mismatched collisions drop
      before the pair ever reaches verification.
    - positional: the rarity order is a GLOBAL total order, so both
      docs' shingle sequences are subsequences of it.  For any common
      shingle s at (1-based) positions p_a, p_b, common shingles
      at-or-before s number ≤ min(p_a, p_b) and common shingles after
      s number ≤ min(|a|−p_a, |b|−p_b); hence
      o ≤ min(p_a,p_b) + min(|a|−p_a, |b|−p_b) for EVERY common s.
      J ≥ θ ⇔ o·(1+θ) ≥ θ·(|a|+|b|), so a pair whose MINIMUM bound
      over its shared prefix shingles falls below that is pruned with
      zero false negatives (the distinct-pair shuffle becomes a
      min-aggregate — same cost, strictly more pruning).

    Scale shape: the prefix join's fanout is bounded by the rarest
    tokens' document frequencies (the reason for the frequency order);
    the verify join is candidate-bounded (per candidate ~|a| rows).
    One extra aggregate (document frequency) + one per-doc rank window
    over the SHINGLE-domain rows."""
    from pyspark.sql import Window

    ex = cache.track(
        df.select(
            F.col(id_col).alias("id"),
            F.explode(shingles_col(text_col, n)).alias("shingle"),
        )
    )
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    dfreq = ex.groupBy("shingle").agg(F.count("*").alias("n_df"))
    wp = Window.partitionBy("id").orderBy(F.asc("n_df"), F.asc("shingle"))
    prefix = (
        ex.join(dfreq, "shingle")
        .join(sizes, "id")
        .withColumn("pos", F.row_number().over(wp))
        .filter(
            F.col("pos")
            <= F.col("n_sh")
            - F.expr(f"(n_sh * {threshold_bp} + 9999) div 10000")
            + 1
        )
        .select("id", "shingle", "pos", "n_sh")
    )
    pa = prefix.select(
        F.col("id").alias("id_a"),
        "shingle",
        F.col("pos").alias("p_a"),
        F.col("n_sh").alias("na"),
    )
    pb = prefix.select(
        F.col("id").alias("id_b"),
        "shingle",
        F.col("pos").alias("p_b"),
        F.col("n_sh").alias("nb"),
    )
    cand = (
        pa.join(pb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: min size >= theta * max size
        .filter(
            F.least("na", "nb") * 10000
            >= F.greatest("na", "nb") * threshold_bp
        )
        .groupBy("id_a", "id_b")
        # positional filter on the tightest shared-prefix bound
        .agg(
            F.min(
                F.least("p_a", "p_b")
                + F.least(
                    F.col("na") - F.col("p_a"), F.col("nb") - F.col("p_b")
                )
            ).alias("o_ub"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .filter(
            F.col("o_ub") * (10000 + threshold_bp)
            >= (F.col("na") + F.col("nb")) * threshold_bp
        )
        .select("id_a", "id_b")
    )
    common = (
        cand.join(ex.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(
            ex.select(F.col("id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard_bp",
            F.expr(
                "CAST(FLOOR(1e4 * n_common / (n_a + n_b - n_common))"
                " AS BIGINT)"
            ),
        )
        .filter(F.col("jaccard_bp") >= threshold_bp)
        .select("id_a", "id_b", "n_common", "jaccard_bp")
    )
