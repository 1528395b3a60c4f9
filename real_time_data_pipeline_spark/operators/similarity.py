"""Similarity search over embedding columns (north-star tier, SURVEY.md
§2.9 N3).

Two tiers:
  cosine_topk              — exact brute-force top-k (the baseline; also
                             the verifier for the approximate path)
  random_hyperplane_buckets / lsh_topk — sign-LSH bucketed ANN (the
                             100 TB scale path: candidates come from
                             matching buckets only)

Numeric discipline: dot products fold in DOUBLE, sequentially, so results
are IEEE-identical to the DuckDB oracle's list_transform/list_sum
pipeline — ranks compare exactly, no tolerance needed.

Scale notes: the query side is small (a probe batch) and broadcast; the
corpus side streams through a single scan.  Top-k per query uses a window
row_number bounded by a partial sort — Spark pushes the limit into a
TakeOrderedAndProject per partition, so no full sort materializes.  For
the LSH path, bucket signatures are computed in one projection (16
hyperplanes → 16-bit signature) and candidates join on the signature
prefix, trading recall for a ~2^bits candidate reduction.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators.arrowvec import (
    list_matrix,
    local_frame,
    map_in_arrow,
)


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(c) -> F.Column:
    return F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query set against the
    corpus scan, window-rank per query.  Ties broken by corpus id so the
    result is fully deterministic.

    Zero-norm vectors (on either side) are EXCLUDED: their cosine is
    undefined (0/0 → NaN, which under Spark's ANSI mode aborts the
    basis-point cast rather than ranking), and a zero embedding is
    degenerate input, never a meaningful neighbor.  The GEMM/IVF/LSH
    variants apply the same rule, which is what keeps them
    output-identical to this path."""
    # Norms computed once per row on each side before the join — the
    # quadratic pair stage only pays for the dot product.
    q = F.broadcast(
        queries.select(
            query_id_col, query_vec_col, _norm(F.col(query_vec_col)).alias("qnrm")
        ).filter(F.col("qnrm") > 0)
    )
    joined = corpus.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("cnrm")
    ).filter(F.col("cnrm") > 0).crossJoin(q)
    cos = _dot(F.col(vec_col), F.col(query_vec_col)) / (
        F.col("cnrm") * F.col("qnrm")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        joined.withColumn("cos", cos)
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id_col),
            F.col("rank"),
            F.col(id_col).alias("neighbor_id"),
            F.floor(F.lit(1e4) * F.col("cos")).cast("bigint").alias("cos_bp"),
        )
    )


# numpy GEMM vs the sequential fold differ by a few ulps on unit-vector
# cosines (|err| <= dim·2^-53 ≈ 1e-14 at dim 64); the GEMM selection
# keeps every candidate within this margin of the k-th score.
_GEMM_TIE_EPS = 1e-9


def _tie_closed_top(d, k: int, eps: float = 0.0, valid=None):
    """Indices of the k smallest entries of ``d`` (among ``valid`` rows)
    plus every entry within ``eps`` of the k-th — all of them when fewer
    than k.  A local top-k prune must be closed under the global tie
    order: breaking a tie by position in the batch (an argsort cut)
    can drop the row the global (score, id) order ranks in, while
    keeping every tie lets the global selection decide."""
    idx = np.arange(len(d)) if valid is None else np.nonzero(valid)[0]
    if len(idx) <= k:
        return idx
    dv = d[idx]
    kth = np.partition(dv, k - 1)[k - 1]
    return idx[dv <= kth + eps]


def cosine_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k via blocked matrix multiply — the vectorized scale
    path.  The probe set is collected driver-side (it is a bounded query
    batch — the one place a collect is correct by design) and closed over;
    each corpus partition streams through one typed ``mapInArrow`` pass
    doing one numpy GEMM per Arrow batch and emitting only its local
    candidates per query, so the shuffle to the final ranking carries
    about k·|queries| rows per batch regardless of corpus size.

    The GEMM only SELECTS candidates; the emitted ``cos_bp``/``rank``
    are recomputed on the candidate set with the same sequential double
    fold as :func:`cosine_topk` — bit-identical output to the brute-force
    path at a candidate-bounded cost, which is what lets this share the
    exact path's value-hash oracle.  numpy's blocked summation differs
    from that fold in the last ulps (and by a row's position in its
    batch), so both the per-batch and the global selection are closed
    under near-ties: every candidate within ``_GEMM_TIE_EPS`` of the
    k-th GEMM score survives.  A row of the exact top-k can then never
    be pruned: k rows beating it by more than 2·ulp-error in GEMM space
    beat it in the exact fold too.
    """
    qrows = queries.select(query_id_col, query_vec_col).collect()
    # zero-norm queries have no defined cosine to anything — excluded,
    # matching cosine_topk (see its docstring)
    qrows = [
        r for r in qrows if any(float(x) != 0.0 for x in r[1])
    ]
    qids = [r[0] for r in qrows]
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    # Output id types follow the input schemas — hardcoding `long` would
    # silently break string/int32 ids.
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    cid_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"{query_id_col} {qid_t}, neighbor_id {cid_t}, cos double"

    def score(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = list_matrix(rb.column(1))
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            norms = np.linalg.norm(C, axis=1, keepdims=True)
            # zero-norm corpus vectors excluded, matching cosine_topk
            # (their NaN score would otherwise silently fall out of
            # numpy's selection while crashing the exact path's cast)
            keep = norms[:, 0] > 0
            if not keep.all():
                C, ids, norms = C[keep], ids[keep], norms[keep]
            if not len(ids):
                continue
            S = (C / norms) @ Qn.T  # (batch, n_queries)
            out_q, out_rows, out_c = [], [], []
            for j, qid in enumerate(qids):
                idx = _tie_closed_top(-S[:, j], k, _GEMM_TIE_EPS, ids != qid)
                out_q.append(np.full(len(idx), qid))
                out_rows.append(idx)
                out_c.append(S[idx, j])
            allidx = np.concatenate(out_rows)
            if len(allidx):
                yield [
                    np.concatenate(out_q),
                    ids[allidx],
                    np.concatenate(out_c),
                ]

    local = map_in_arrow(corpus.select(id_col, vec_col), score, out_schema)
    # Global tie-closed selection over the bounded candidate union: the
    # k-th best GEMM score per query, then every candidate within eps.
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    kth = F.min(F.when(F.col("_rk") <= k, F.col("cos"))).over(
        Window.partitionBy(query_id_col)
    )
    cand = (
        local.withColumn("_rk", F.row_number().over(w))
        .withColumn("_kth", kth)
        .filter(F.col("cos") >= F.col("_kth") - F.lit(_GEMM_TIE_EPS))
        .select(query_id_col, "neighbor_id")
    )
    # Candidate-bounded exact re-rank: the survivors join their vectors
    # back (broadcast query side; the candidate side is ~k·|queries|
    # rows) and the emitted score/rank come from the same sequential
    # fold as cosine_topk — bit-identical to brute force.
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    qvec = queries.select(
        query_id_col, F.col(query_vec_col).alias("_qv")
    )
    exact_cos = _dot(F.col("_cv"), F.col("_qv")) / (
        _norm(F.col("_cv")) * _norm(F.col("_qv"))
    )
    return (
        cand.join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), query_id_col)
        .withColumn("cos", exact_cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "rank",
            "neighbor_id",
            F.floor(F.lit(1e4) * F.col("cos")).cast("bigint").alias("cos_bp"),
        )
    )


def random_hyperplane_buckets(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Sign-LSH bucket id: bit i = (v · plane_i) >= 0.  `planes` is a
    small fixed list (generated once, seeded, driver-side) embedded as
    literals — identical across executors, no shuffle to assign buckets."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(_dot(F.col(vec_col), plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return df.withColumn(out_col, bucket.cast("int"))


def make_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no numpy dependency
    required at call sites that can't import it)."""
    state = seed or 1
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: only corpus vectors whose sign-LSH bucket matches
    the query's bucket are scored.  Recall < 1 by construction; callers
    trade n_planes against candidate count (each extra plane halves
    the expected candidates).

    ``probe_hamming`` adds classic multi-probe LSH (Lv et al., VLDB'07):
    each query also probes every bucket within that Hamming distance of
    its own signature, raising recall without re-hashing the corpus.
    The perturbation masks are data-independent literals, so the probe
    fan-out happens on the tiny broadcast query side (|queries| ×
    Σ C(n_planes, i) rows) and the corpus join stays a bucket equi-join
    — at 100 TB the corpus-side scan and shuffle are unchanged.  At
    ``probe_hamming == n_planes`` every bucket is probed, making the
    candidate set the full corpus and the output bit-identical to
    :func:`cosine_topk` (same fold, same tie-break) — the full-recall
    configuration the oracle-backed registry entry pins."""
    planes = make_planes(dim, n_planes, seed)
    c = random_hyperplane_buckets(
        corpus.select(
            F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("cnrm")
        ).filter(F.col("cnrm") > 0),  # undefined cosine — see cosine_topk
        planes,
        vec_col,
        "bucket",
    )
    q = random_hyperplane_buckets(
        queries.select(
            query_id_col, query_vec_col, _norm(F.col(query_vec_col)).alias("qnrm")
        ).filter(F.col("qnrm") > 0),
        planes,
        query_vec_col,
        "qbucket",
    )
    if probe_hamming > 0:
        # Distinct masks of popcount <= r flip distinct bucket ids, so the
        # explode introduces no duplicate (query, bucket) candidates.
        masks = [
            m for m in range(1 << n_planes) if bin(m).count("1") <= probe_hamming
        ]
        q = q.withColumn(
            "qbucket",
            F.explode(
                F.array(*[F.col("qbucket").bitwiseXOR(F.lit(m)) for m in masks])
            ),
        )
    joined = c.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
    cos = _dot(F.col(vec_col), F.col(query_vec_col)) / (
        F.col("cnrm") * F.col("qnrm")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        joined.withColumn("cos", cos)
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id_col),
            F.col("rank"),
            F.col(id_col).alias("neighbor_id"),
            F.floor(F.lit(1e4) * F.col("cos")).cast("bigint").alias("cos_bp"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-Flat approximate top-k — the inverted-file scale path.

    Coarse quantizer: `n_cells` centroids chosen deterministically as the
    corpus vectors with the smallest xxhash64(id, seed) (TakeOrdered —
    one pass, no shuffle of vector payloads; a k-means refinement would
    drop in here without changing the plan shape).  Every corpus vector
    is assigned to its nearest centroid by cosine in one typed
    ``mapInArrow`` pass (numpy argmax against the 16×dim centroid
    matrix); at 100 TB the (id → cell) assignment is the partition key
    you'd persist the corpus under, so a probe reads nprobe/n_cells of
    the data.  Each query probes its `nprobe` nearest cells; candidates
    join on cell (queries broadcast) and are scored with the same
    sequential-fold cosine as :func:`cosine_topk`, so scores of returned
    neighbors are bit-identical to the exact path.  With
    nprobe == n_cells this IS brute force (recall 1.0, unit-tested);
    recall degrades gracefully as nprobe shrinks.
    """
    Cm = _ivf_centroid_matrix(corpus, n_cells, seed, id_col, vec_col)
    assigned = _ivf_assign(corpus, Cm, id_col, vec_col)
    return _ivf_probe_and_score(
        assigned, queries, Cm, k, nprobe, id_col, vec_col,
        query_id_col, query_vec_col,
    )


def _ivf_centroid_matrix(corpus, n_cells, seed, id_col, vec_col):
    """Deterministic coarse centroids: corpus vectors with the smallest
    xxhash64(id, seed), L2-normalized, as an (n_cells × dim) matrix."""
    cent_rows = (
        corpus.select(id_col, vec_col)
        # a zero-norm vector cannot serve as a centroid (its normalized
        # row would be all-NaN and poison every assignment against it)
        .filter(_norm(F.col(vec_col)) > 0)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)).asc(), F.col(id_col).asc())
        .limit(n_cells)
        .collect()
    )
    Cm = np.array([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    return Cm / np.linalg.norm(Cm, axis=1, keepdims=True)


def _ivf_assign(corpus, Cm, id_col, vec_col, residual: bool = False):
    """One typed ``mapInArrow`` pass assigning every vector to its nearest
    centroid.  Pass-through columns keep their input types (an
    array<double> corpus must not be truncated to float32 — scores are
    documented bit-identical to the exact path).

    ``residual=True`` emits (id, cell, residual) instead, the residual
    being the unit vector minus its cell centroid — IVF-PQ's encode
    input computed in the same pass, so no second Python worker runs
    chained in the same task."""

    # The vector column passes through untouched (same buffers),
    # surviving rows via one take() — same float64 math, bit-identical
    # cells.
    def assign(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = list_matrix(rb.column(1))
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            # zero-norm vectors have no defined cell (or cosine) —
            # excluded from the index, matching cosine_topk's rule
            keep = norms[:, 0] > 0
            if not keep.all():
                rb = rb.take(np.nonzero(keep)[0])
                V, norms = V[keep], norms[keep]
            if rb.num_rows == 0:
                continue
            Vn = V / norms
            cell = np.argmax(Vn @ Cm.T, axis=1)
            if residual:
                yield [rb.column(0), cell, Vn - Cm[cell]]
            else:
                yield [rb.column(0), rb.column(1), cell]

    cid_t = corpus.schema[id_col].dataType.simpleString()
    cvec_t = corpus.schema[vec_col].dataType.simpleString()
    out = (
        f"{id_col} {cid_t}, cell int, residual array<double>"
        if residual
        else f"{id_col} {cid_t}, {vec_col} {cvec_t}, cell int"
    )
    return map_in_arrow(corpus.select(id_col, vec_col), assign, out)


def _probe_cells(queries, Cm, nprobe, query_id_col, query_vec_col):
    """Driver-side probe list: (query_id, cell) for each query's nprobe
    nearest centroids.  The query batch is small by contract."""
    n_cells = len(Cm)
    qrows = queries.select(query_id_col, query_vec_col).collect()
    probe_q = []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        nrm = np.linalg.norm(qv)
        if nrm == 0:  # undefined cosine — excluded, see cosine_topk
            continue
        sims = (qv / nrm) @ Cm.T
        for cell in np.argsort(-sims)[: min(nprobe, n_cells)]:
            probe_q.append((r[0], int(cell)))
    return probe_q


def _ivf_probe_and_score(
    assigned, queries, Cm, k, nprobe, id_col, vec_col,
    query_id_col, query_vec_col,
):
    probe_q = _probe_cells(queries, Cm, nprobe, query_id_col, query_vec_col)
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    probes = F.broadcast(
        local_frame(
            queries.sparkSession, probe_q, f"{query_id_col} {qid_t}, cell int"
        ).join(
            queries.select(
                query_id_col,
                query_vec_col,
                _norm(F.col(query_vec_col)).alias("qnrm"),
            ),
            query_id_col,
        )
    )

    joined = assigned.withColumn("cnrm", _norm(F.col(vec_col))).join(probes, "cell")
    cos = _dot(F.col(vec_col), F.col(query_vec_col)) / (
        F.col("cnrm") * F.col("qnrm")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        joined.withColumn("cos", cos)
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id_col),
            F.col("rank"),
            F.col(id_col).alias("neighbor_id"),
            F.floor(F.lit(1e4) * F.col("cos")).cast("bigint").alias("cos_bp"),
        )
    )


def ivf_index_build(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF-Flat index: ``centroids/`` (cell → normalized
    centroid) plus ``assignments/`` PARTITIONED BY cell — the layout the
    in-memory :func:`ivf_topk` docstring promises for 100 TB: a probe
    then reads nprobe/n_cells of the data via storage-partition pruning,
    no index structure beyond the directory tree."""
    Cm = _ivf_centroid_matrix(corpus, n_cells, seed, id_col, vec_col)
    spark = corpus.sparkSession
    local_frame(
        spark,
        [(c, [float(x) for x in row]) for c, row in enumerate(Cm)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    # Repartition BY the partition column before partitionBy-write:
    # without it every write task emits a file per cell it sees (tasks ×
    # cells small files — the classic partitioned-write explosion); with
    # it each cell's rows land in one task (AQE may split genuinely large
    # cells), so file count tracks cell count, not task count.
    # batch=-1 is the base build; appends land under batch>=0 (their
    # own partition), which is what makes retried streaming folds
    # idempotent — see ivf_index_append.
    _ivf_assign(corpus, Cm, id_col, vec_col).withColumn(
        "batch", F.lit(-1).cast("int")
    ).repartition("cell").write.mode("overwrite").partitionBy(
        "batch", "cell"
    ).parquet(f"{path}/assignments")


def ivf_index_append(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> None:
    """Incremental IVF maintenance — the incremental-dedup posture
    applied to ANN: assign ONLY the new vectors to the index's EXISTING
    frozen centroids and fold them into the partitioned assignments
    layout.  The history is never re-scanned and the pruning story is
    unchanged (``cell`` stays a partition column), so steady-state cost
    scales with the increment, not the corpus.  Freezing the coarse
    quantizer on append is standard IVF practice (train once, add
    forever; re-train + rebuild is the rare offline path).

    EXACTLY-ONCE folds (ADVICE r7): each append lands under its own
    ``batch=N`` partition and is written with DYNAMIC partition
    overwrite, which replaces only the partitions present in this
    write.  A streaming ``foreachBatch`` caller passes Spark's
    micro-batch id as ``batch_id``: a RETRIED micro-batch reuses the
    same id and therefore overwrites exactly its own earlier (possibly
    partial) output instead of double-appending — at-least-once
    delivery composes to an exactly-once index.  Without ``batch_id``
    the next free id (max existing + 1, from partition metadata only)
    is used; the base build owns ``batch=-1``.  Don't mix the two
    modes on one index within a fold sequence."""
    spark = new_vectors.sparkSession
    cent = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    Cm = np.array([np.asarray(r.centroid, dtype=np.float64) for r in cent])
    if batch_id is None:
        # partition-column max: resolved from directory metadata, no
        # data scan
        batch_id = (
            spark.read.parquet(f"{path}/assignments")
            .agg(F.max("batch"))
            .collect()[0][0]
            + 1
        )
    _ivf_assign(new_vectors, Cm, id_col, vec_col).withColumn(
        "batch", F.lit(int(batch_id)).cast("int")
    ).repartition("cell").write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch", "cell").parquet(f"{path}/assignments")


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Probe a persisted IVF index.  The ``cell IN (probed)`` filter is a
    partition filter on the assignments read, so only the probed cell
    directories are scanned (verified by plan/inputFiles in tests);
    scoring is identical to :func:`ivf_topk`, so results match the
    in-memory operator exactly for the same corpus and parameters."""
    cent = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    Cm = np.array([np.asarray(r.centroid, dtype=np.float64) for r in cent])

    probe_q = _probe_cells(queries, Cm, nprobe, query_id_col, query_vec_col)
    cells = sorted({c for _, c in probe_q})
    assigned = spark.read.parquet(f"{path}/assignments").filter(
        F.col("cell").isin(cells)
    )
    return _ivf_probe_and_score(
        assigned, queries, Cm, k, nprobe, id_col, vec_col,
        query_id_col, query_vec_col,
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means (Lloyd's on the unit sphere) — the iterative
    refinement that upgrades :func:`ivf_topk`'s hash-picked coarse
    quantizer into a learned one, and the representative of the
    iterative-algorithm class (non-SQL-expressible; rows-only check +
    convergence tests).

    Per iteration: one Arrow-batched assignment pass over the corpus
    (`_ivf_assign`, numpy argmax against the broadcast k×dim centroid
    matrix) + one partial-aggregated shuffle of per-(cell, dim) sums —
    the shuffle carries k·dim doubles per partition, independent of
    corpus size.  Centroid state (k×dim) is driver-resident and bounded,
    like the IVF probe batch; empty cells keep their previous centroid
    (standard Lloyd's degeneracy rule) so k never silently shrinks.
    Returns ``(centroid_matrix, assignments)`` with assignments from the
    FINAL centroids."""
    Cm = _ivf_centroid_matrix(corpus, k, seed, id_col, vec_col)
    vecs = corpus.select(id_col, vec_col)
    for _ in range(iters):
        assigned = _ivf_assign(vecs, Cm, id_col, vec_col)
        stats = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = Cm.copy()
        dims = Cm.shape[1]
        sums = np.zeros((len(Cm), dims))
        counts = np.zeros(len(Cm), dtype=np.int64)
        for r in stats:
            sums[r["cell"], r["pos"]] = r["s"]
            counts[r["cell"]] = r["n"]
        for c in range(len(Cm)):
            if counts[c] > 0:
                m = sums[c] / counts[c]
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    new[c] = m / nrm
        Cm = new
    return Cm, _ivf_assign(vecs, Cm, id_col, vec_col)


def kmeans_inertia(assigned: DataFrame, Cm, vec_col: str = "embedding"):
    """Mean cosine distance (1 - cos) of each vector to its assigned
    centroid — the spherical-k-means objective, computed in one
    typed ``mapInArrow`` pass + a scalar aggregate."""

    def dist(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = list_matrix(rb.column(0))
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            cell = rb.column(1).to_numpy(zero_copy_only=False)
            yield [1.0 - np.einsum("ij,ij->i", Vn, Cm[cell])]

    return (
        map_in_arrow(assigned.select(vec_col, "cell"), dist, "d double")
        .agg(F.avg("d").alias("inertia"))
        .collect()[0]["inertia"]
    )


# -- Centroid outlier scoring --------------------------------------------

OUTLIER_QUANT_SCALE = 10000  # embedding fixed-point quantization (1e4)


def centroid_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    min_cos_bp: int = 0,
) -> DataFrame:
    """Per-group embedding outlier score: cosine of each vector against
    its own group's centroid, flagged ``is_outlier`` when below
    ``min_cos_bp``.  The standard embedding-space data-quality pass —
    mislabeled / off-topic / garbage docs sit far from their cluster
    centroid (e.g. SemDeDup-style pruning keeps the densest shell).

    Determinism across engines (the oracle requirement) forbids a
    floating-point centroid: distributed float summation is order-
    dependent.  So vectors quantize to fixed-point BIGINT
    (floor(x·1e4)), per-dimension sums are exact integer arithmetic
    (associative → any aggregation tree yields the same centroid), and
    cosine is computed against the integer SUM vector — cos(x, Σv) ==
    cos(x, mean v) since cosine is scale-invariant, so the division by
    the group count never happens and no float enters until the final
    sqrt.  Overflow headroom: |q| ≤ 1e4, so a 64-dim int64 norm of the
    sum vector holds to ~3e5 rows/group at full magnitude; beyond that
    (the 100 TB path) pre-scale per-partition partial sums or widen to
    DECIMAL(38,0) — the quantized sums stay exact either way.

    Plan: posexplode → (label, pos) hash aggregate (map-side combined;
    shuffle is labels × dims rows), centroids reassembled with
    sort_array (dims per label — dashboard-sized, broadcast to the
    scoring join), then one scan computing the sequential-fold dot.  No
    shuffle touches the corpus beyond the tiny aggregate. Holds at
    100 TB."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(OUTLIER_QUANT_SCALE)).cast(
            "long"
        ),
    )
    quant = df.select(F.col(id_col), F.col(label_col), q.alias("qv"))
    cent = (
        quant.select(F.col(label_col), F.posexplode("qv").alias("pos", "v"))
        .groupBy(label_col, "pos")
        .agg(F.sum("v").alias("s"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "s"))),
                lambda e: e["s"],
            ).alias("cv")
        )
    )
    scored = quant.join(F.broadcast(cent), label_col).select(
        F.col(id_col),
        F.col(label_col),
        F.aggregate(
            F.zip_with("qv", "cv", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dot"),
        F.aggregate(
            F.transform("qv", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("nx"),
        F.aggregate(
            F.transform("cv", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("nc"),
    )
    cos_bp = F.when(
        (F.col("nx") > 0) & (F.col("nc") > 0),
        F.floor(
            F.lit(10000)
            * F.col("dot")
            / (F.sqrt(F.col("nx").cast("double")) * F.sqrt(F.col("nc").cast("double")))
        ),
    ).otherwise(F.lit(0)).cast("bigint")
    return scored.select(
        id_col,
        label_col,
        cos_bp.alias("cos_bp"),
        (cos_bp < F.lit(min_cos_bp)).alias("is_outlier"),
    )


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 4,
):
    """Distributed PCA fit over an embedding column: returns
    ``(mean, components, explained_ratio)`` as numpy arrays —
    ``components`` is (k, dim), rows orthonormal, ordered by explained
    variance; the whitening/reduction step run before ANN indexing or
    cluster analysis of a 100 TB embedding corpus.

    Scale shape: one typed ``mapInArrow`` pass emits per-partition Gram
    partials (count, Σx, X'X flattened) — executor state is dim² floats,
    never rows; the partials (≤ partitions rows of dim²+dim+1 doubles)
    are summed by ONE tiny aggregate and the dim×dim eigendecomposition
    runs on the driver (dim is bounded — 64 here; the method is for
    tall-skinny matrices, dim ≲ 10³).  No row leaves the executors.

    Eigenvector sign is fixed by convention (largest-|component| entry
    positive) so refits are reproducible; numpy pairwise summation makes
    partials deterministic per batch, and the final reduce is over
    bounded partials (order-independent to the last ulp only — fine for
    the rows-only tier this feeds).
    """
    dim = len(df.select(vec_col).first()[0])

    def partials(batches):
        # ONE partial per partition (accumulate across Arrow batches) —
        # the downstream reduce sees #partitions rows, not #batches.
        n_tot = 0
        s_tot = np.zeros(dim)
        g_tot = np.zeros((dim, dim))
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = list_matrix(rb.column(0))
            n_tot += len(X)
            s_tot += X.sum(axis=0)
            g_tot += X.T @ X
        if n_tot:
            yield [np.concatenate(([n_tot], s_tot, g_tot.ravel()))[None, :]]

    # Elementwise reduce via posexplode + (index)-keyed sum: 1+dim+dim²
    # grouped sums of #partitions values each.  The flat-expression
    # alternative — array(*[F.sum(col[i]) for i in range(dim*dim)]) —
    # compiles 4k+ aggregate expressions and stalls janino for tens of
    # seconds at dim=64; this shape is O(1) plan size at any dim.
    rows = (
        map_in_arrow(df.select(vec_col), partials, "p array<double>")
        .select(F.posexplode("p").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    flat = np.zeros(1 + dim + dim * dim)
    for r in rows:
        flat[r["i"]] = r["v"]
    n = int(flat[0])
    mean = flat[1 : 1 + dim] / n
    gram = flat[1 + dim :].reshape(dim, dim)
    cov = (gram - n * np.outer(mean, mean)) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, dim)
    # Sign convention: the largest-|entry| coordinate is positive.
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(np.clip(evals.sum(), 1e-300, None))
    explained = np.clip(evals[order], 0, None) / total_var
    return mean, comps, explained


def pca_transform(
    df: DataFrame,
    mean,
    components,
    id_cols: list[str] | None = None,
    vec_col: str = "embedding",
    prefix: str = "pc",
) -> DataFrame:
    """Project rows onto fitted components: one typed mapInArrow numpy
    matmul per batch (components broadcast via task closure — (k, dim)
    floats), emitting scalar ``pc1..pck`` columns (no array outputs —
    driver-hash friendly).  Zero shuffles."""
    id_cols = id_cols or ["vec_id"]
    W = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)
    k = W.shape[0]
    out_schema = ", ".join(
        [f"{c} {df.schema[c].dataType.simpleString()}" for c in id_cols]
        + [f"{prefix}{i + 1} double" for i in range(k)]
    )
    n_ids = len(id_cols)

    def project(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            S = (list_matrix(rb.column(n_ids)) - mu) @ W.T
            yield [rb.column(i) for i in range(n_ids)] + list(S.T)

    return map_in_arrow(df.select(*id_cols, vec_col), project, out_schema)


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Per-dimension scalar quantization of an embedding column to uint8
    codes — the 4× memory/IO shrink (float32 → 1 byte/dim) applied to
    ANN corpora before sharding; recall loss is bounded by the per-dim
    step size.  Returns ``(codes_df, params_df)``:

    - ``codes_df``: (id, array<int> codes in [0, 255]);
    - ``params_df``: (dim, mn, mx, scale) — dim-bounded, broadcastable.

    code = floor((x - mn)/scale + 0.5)  (half-up — identical on every
    engine, unlike round()'s half-even/half-away ambiguity), scale =
    (mx - mn)/255; constant dimensions quantize to 0 with scale 0.

    Plan: one posexplode pass feeds the (dim)-keyed min/max aggregate
    (dim-bounded shuffle), then codes are a broadcast-join projection
    folded back with one (id)-keyed collect ordered by dim.  Two
    data-scale shuffles; at 100 TB swap the final array rebuild for the
    columnar writer (codes as binary) — the math is the profile below.
    """
    ex = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).select("id", "dim", F.col("x").cast("double").alias("x"))
    params = ex.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    ).withColumn("scale", (F.col("mx") - F.col("mn")) / F.lit(255.0))
    code = F.when(F.col("scale") == 0.0, F.lit(0)).otherwise(
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(255),
                F.floor((F.col("x") - F.col("mn")) / F.col("scale") + F.lit(0.5)),
            ),
        )
    ).cast("int")
    coded = ex.join(F.broadcast(params), "dim").select(
        "id", "dim", code.alias("code")
    )
    codes_df = (
        coded.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "code"))
            ).alias("dc")
        )
        .select(
            F.col("id").alias(id_col),
            F.transform(F.col("dc"), lambda s: s["code"]).alias("codes"),
        )
    )
    return codes_df, params


def quantization_error_profile(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-dimension reconstruction-error profile of int8 quantization:
    (dim, mn, mx, max_abs_err, sum_abs_err_micro, n_vals) — the accept/
    reject evidence for enabling quantization on a corpus.  All
    aggregates are order-independent (min/max/integer-micros sum), so the
    profile hashes identically cross-engine; max_abs_err ≤ scale/2 + one
    float-widening ulp by construction."""
    ex = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).select("id", "dim", F.col("x").cast("double").alias("x"))
    params = ex.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    ).withColumn("scale", (F.col("mx") - F.col("mn")) / F.lit(255.0))
    code = F.when(F.col("scale") == 0.0, F.lit(0.0)).otherwise(
        F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(255.0),
                F.floor((F.col("x") - F.col("mn")) / F.col("scale") + F.lit(0.5)),
            ).cast("double"),
        )
    )
    dequant = F.col("mn") + code * F.col("scale")
    err = F.abs(dequant - F.col("x"))
    return (
        ex.join(F.broadcast(params), "dim")
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            "mn",
            "mx",
            err.alias("e"),
        )
        .groupBy("dim", "mn", "mx")
        .agg(
            F.max("e").alias("max_abs_err"),
            F.sum(F.floor(F.col("e") * F.lit(1000000.0)).cast("bigint"))
            .cast("bigint")
            .alias("sum_abs_err_micro"),
            F.count("*").cast("bigint").alias("n_vals"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): split each L2-normalized vector into m
# subvectors, learn a k-entry codebook per subspace (Lloyd's), store
# each vector as m small codes (m bytes at k<=256 — a 32× shrink for
# dim=64 float64), and answer queries with asymmetric distance
# computation (ADC): one (m × k) query-to-codebook table, then each
# candidate's distance is m table lookups.  The compression tier that
# makes billion-vector ANN corpora fit executor memory; complements
# quantize_int8 (per-dim scalar) and ivf_* (coarse partition pruning).
# ---------------------------------------------------------------------------


def pq_fit(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
):
    """Learn per-subspace codebooks: returns numpy (m, k, dim/m).

    Iteration shape mirrors :func:`kmeans_fit` but covers ALL m
    subspaces in each pass: one typed ``mapInArrow`` assign emits
    per-partition partial sums keyed (sub, cell) — an (m·k)-bounded shuffle of
    dim/m-length arrays, never rows — and the driver update touches
    m·k·(dim/m) = k·dim floats.  Init is the deterministic smallest-
    xxhash64 sample (same rule as IVF); empty cells keep their previous
    centroid.  Vectors are L2-normalized first so ADC L2 order matches
    cosine order.
    """
    if normalize:
        init = _ivf_centroid_matrix(corpus, k, seed, id_col, vec_col)
    else:
        # raw-space init (residual codebooks: rows may have zero norm —
        # the sampled cell centroids themselves — so normalizing would
        # produce NaNs); same deterministic smallest-hash sample.
        rows_ = (
            corpus.select(id_col, vec_col)
            .orderBy(
                F.xxhash64(F.col(id_col), F.lit(seed)).asc(),
                F.col(id_col).asc(),
            )
            .limit(k)
            .collect()
        )
        init = np.array([np.asarray(r[1], dtype=np.float64) for r in rows_])
    dim = init.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    # (m, k, dsub): subspace j starts from the sampled vectors' slices
    books = np.stack([init[:, j * dsub : (j + 1) * dsub] for j in range(m)])

    # The Lloyd loop reads the SAME projection once per iteration; persist
    # it so iterations 2..n scan cached columnar batches instead of
    # re-running the upstream plan.  Caching never changes values: same
    # rows, same partitions, same per-batch partial sums (guide §5:
    # persist reused iterative inputs).  pq_fit fully CONSUMES the
    # projection before returning (its result is numpy codebooks, not a
    # lazy frame), so the persist is released here — in a ``finally``, so
    # a failed round does not leak it either — instead of tracked for the
    # caller.
    vecs = corpus.select(vec_col).persist()
    try:
        for _ in range(iters):
            B = books  # rebind for closure capture per round

            def partials(batches):
                sums = np.zeros((m, k, dsub))
                counts = np.zeros((m, k), dtype=np.int64)
                for rb in batches:
                    if rb.num_rows == 0:
                        continue
                    V = list_matrix(rb.column(0))
                    if normalize:
                        V = V / np.linalg.norm(V, axis=1, keepdims=True)
                    for j in range(m):
                        S = V[:, j * dsub : (j + 1) * dsub]
                        # (batch, k) squared L2 to codebook j
                        d2 = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(-1)
                        cell = d2.argmin(1)
                        np.add.at(sums[j], cell, S)
                        np.add.at(counts[j], cell, 1)
                nz_j, nz_c = np.nonzero(counts)
                if len(nz_j):
                    yield [nz_j, nz_c, counts[nz_j, nz_c], sums[nz_j, nz_c]]

            rows = (
                map_in_arrow(
                    vecs, partials, "sub int, cell int, n long, s array<double>"
                )
                .groupBy("sub", "cell")
                .agg(
                    F.sum("n").alias("n"),
                    F.array(
                        *[F.sum(F.col("s")[i]) for i in range(dsub)]
                    ).alias("s"),
                )
                .collect()
            )
            new = books.copy()
            for r in rows:
                if r["n"] > 0:
                    new[r["sub"], r["cell"]] = (
                        np.array(r["s"]) / r["n"]
                    )
            books = new
    finally:
        vecs.unpersist()
    return books


def pq_encode(
    corpus: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Encode every vector as its m nearest-codebook-entry codes
    (array<int>, one typed ``mapInArrow`` pass, codebooks in the task
    closure — m·k·dsub floats).

    The codes come back persisted and tracked (``cache.track``; the
    caller releases them).  Every ADC scoring pass reads them through
    that cached scan, which adaptive execution runs as its own stage: the
    encode and scoring passes each hold one Python worker per task
    instead of sharing a task with two (which doubled the worker pool),
    and a codes frame scored more than once is encoded once."""
    from real_time_data_pipeline_spark.operators import cache

    B = np.asarray(books, dtype=np.float64)
    m, k, dsub = B.shape

    extra = extra_cols or []
    n_lead = 1 + len(extra)  # id + extras precede the vector column

    def encode(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = list_matrix(rb.column(n_lead))
            if normalize:
                V = V / np.linalg.norm(V, axis=1, keepdims=True)
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                S = V[:, j * dsub : (j + 1) * dsub]
                d2 = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d2.argmin(1)
            yield [rb.column(i) for i in range(n_lead)] + [codes]

    lead_schema = ", ".join(
        f"{name} {corpus.schema[c].dataType.simpleString()}"
        for name, c in zip(["id", *extra], [id_col, *extra])
    )
    return cache.track(
        map_in_arrow(
            corpus.select(id_col, *extra, vec_col),
            encode,
            f"{lead_schema}, codes array<int>",
        )
    )


def _unit(vec) -> np.ndarray:
    v = np.asarray(vec, dtype=np.float64)
    return v / np.linalg.norm(v)


def _adc_table(B: np.ndarray, r: np.ndarray) -> np.ndarray:
    """(m, k_codebook) squared L2 from each subvector of ``r`` to every
    entry of its subspace's codebook — a candidate's ADC distance is
    then m lookups into this table."""
    m, _, dsub = B.shape
    return np.stack(
        [
            ((B[j] - r[j * dsub : (j + 1) * dsub][None, :]) ** 2).sum(-1)
            for j in range(m)
        ]
    )


def _top_per_probe(scored: DataFrame, k: int) -> DataFrame:
    """Global per-probe selection on (adc_d2 asc, id asc) over the
    bounded candidate union the per-batch prunes emitted."""
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def pq_topk(
    codes_df: DataFrame,
    books,
    probes: list,
    k: int = 10,
) -> DataFrame:
    """ADC top-k for a batch of probes ``[(query_id, query_vec), ...]``
    (a single query is a one-element list).  Each probe's
    (m × k_codebook) query-to-entry squared-distance table is built once
    on the driver and closed over; ONE typed Arrow pass over the codes
    scores every probe with m table lookups per row and emits only each
    probe's per-batch top-k, closed under ties (see
    :func:`_tie_closed_top`) — the global per-probe window sees a
    bounded candidate union, never the corpus.

    Output: (query_id, id, adc_d2), k rows per probe ranked on
    (adc_d2 asc, id asc); ``query_id`` has the codes' id type.
    """
    if not probes:
        # Fail on the driver with a real message; an empty probe list
        # would otherwise surface as an opaque executor-side error.
        raise ValueError("pq_topk: probes must be non-empty")
    B = np.asarray(books, dtype=np.float64)
    tabs = [(qid, _adc_table(B, _unit(vec))) for qid, vec in probes]
    lookup = np.arange(B.shape[0])[None, :]

    def score(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = list_matrix(rb.column(0), dtype=np.int64)
            qids, tops, d2s = [], [], []
            for qid, tab in tabs:
                d2 = tab[lookup, C].sum(1)
                top = _tie_closed_top(d2, k)
                qids.append(np.full(len(top), qid))
                tops.append(top)
                d2s.append(d2[top])
            yield [
                np.concatenate(qids),
                rb.column(1).take(np.concatenate(tops)),
                np.concatenate(d2s),
            ]

    id_t = codes_df.schema["id"].dataType.simpleString()
    scored = map_in_arrow(
        codes_df.select("codes", "id"),
        score,
        f"query_id {id_t}, id {id_t}, adc_d2 double",
    )
    return _top_per_probe(scored, k)


def pq_topk_rerank(
    corpus: DataFrame,
    codes_df: DataFrame,
    books,
    probes: list,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production PQ search: ONE ADC pass (:func:`pq_topk`) produces a
    ``shortlist`` of candidates per probe (the only corpus-wide pass —
    m byte lookups per vector), then ONLY those rows are re-ranked with
    exact cosine against the raw vectors.  Recall is governed by
    shortlist/k (unit-tested: exact top-10 coverage at C=100 on the
    test corpus); the exact pass touches |probes|·C rows regardless of
    corpus size.

    The re-rank cosine is the same sequential double fold as
    :func:`cosine_topk` (the query vector arrives via a broadcast
    (query_id, vec) join) with the same (cos desc, id asc) tie-break,
    so the output — (query_id, rank, neighbor_id, cos_bp), the probe
    row itself excluded — substitutes for cosine_topk's unchanged
    whenever the shortlist covers the true top-k.
    """
    spark = corpus.sparkSession
    cands = pq_topk(codes_df, books, probes, k=shortlist).select(
        "query_id", F.col("id").alias(id_col)
    )
    id_t = corpus.schema[id_col].dataType.simpleString()
    qdf = F.broadcast(
        local_frame(
            spark,
            [(qid, [float(x) for x in vec]) for qid, vec in probes],
            f"query_id {id_t}, _qv array<double>",
        )
    )
    # The candidate set is len(probes)·shortlist rows — broadcast-hint it
    # only while that is small by construction.  In the full-corpus
    # exact-rerank configuration (shortlist >= corpus, e.g. 1<<30) the
    # shortlist IS the corpus per probe; a forced broadcast there is
    # ~|probes|x the corpus in one relation and hits the broadcast/driver
    # ceiling long before the join needs help — let the planner (AQE)
    # decide instead.
    cands_small = len(probes) * shortlist <= 1_000_000
    sub = (
        corpus.join(
            F.broadcast(cands) if cands_small else cands, id_col, "inner"
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .join(qdf, "query_id")
    )
    cos = _dot(F.col(vec_col), F.col("_qv")) / (
        _norm(F.col(vec_col)) * _norm(F.col("_qv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        sub.select("query_id", F.col(id_col), cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id"),
            "rank",
            F.col(id_col).alias("neighbor_id"),
            F.floor(F.lit(1e4) * F.col("cos")).cast("bigint").alias("cos_bp"),
        )
    )


def ivfpq_build(
    corpus: DataFrame,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF-PQ index build — the billion-vector composition of the two
    scale paths: vectors are assigned to a coarse cell (IVF: probe-time
    partition pruning) and their RESIDUAL to the cell centroid is
    product-quantized (PQ: m-byte codes).  Residual encoding is what
    makes the shared codebooks tight — residual magnitudes are small
    and comparable across cells (Jégou et al. 2011 §IV).

    Returns (coarse_centroids (n_cells × dim), codebooks (m, k, dim/m),
    codes_df (id, cell, codes)).  Build cost: one assign-and-residual
    pass, the pq_fit rounds on residuals, one encode pass — all
    Arrow-batched, state bounded by n_cells·dim + m·k·dim/m floats.
    """
    from real_time_data_pipeline_spark.operators import cache

    Cm = _ivf_centroid_matrix(corpus, n_cells, seed, id_col, vec_col)
    # The residual frame feeds every pq_fit Lloyd round AND the encode
    # pass; uncached, each consumer re-ran the assign pass from the
    # parquet scan (guide §5: persist reused iterative inputs — released
    # by the caller's cache.release_all()).
    residuals = cache.track(
        _ivf_assign(
            corpus.select(id_col, vec_col), Cm, id_col, vec_col, residual=True
        )
    )
    # pq_fit/encode L2-normalize their input; residuals are NOT unit
    # vectors, so route through a pre-normalized proxy is wrong — use
    # the raw-residual variants below (norm=False).
    books = pq_fit(
        residuals, m=m, k=k, iters=iters, seed=seed,
        id_col=id_col, vec_col="residual", normalize=False,
    )
    codes = pq_encode(
        residuals, books, id_col=id_col, vec_col="residual",
        normalize=False, extra_cols=["cell"],
    )
    return Cm, books, codes


def ivfpq_topk(
    codes_df: DataFrame,
    coarse,
    books,
    probes: list,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ query for a batch of probes ``[(query_id, query_vec),
    ...]``: rank coarse cells by distance to each probe and keep
    ``nprobe``; build ONE ADC table per probed cell (against the
    probe's residual to THAT cell — nprobe·m·k floats per probe, task
    closure); score only rows in probed cells (the filter prunes
    partitions when ``codes_df`` is persisted partitioned-by-cell, same
    as ivf_index) with m lookups each, in ONE typed Arrow pass for every
    probe, emitting each probe's tie-closed per-batch top-k.

    All probes share the one cell-filtered scan, so their probed cell
    sets must be equal (the full-probe certification config,
    nprobe == n_cells, always satisfies it); probes whose nearest cells
    differ are rejected on the driver — call once per probe.

    Output: (query_id, id, cell, adc_d2), k rows per probe ranked on
    (adc_d2 asc, id asc); ``query_id`` has the codes' id type.
    """
    if not probes:
        raise ValueError("ivfpq_topk: probes must be non-empty")
    Cm = np.asarray(coarse, dtype=np.float64)
    B = np.asarray(books, dtype=np.float64)
    per_probe = []
    for qid, vec in probes:
        qv = _unit(vec)
        near = np.argsort(((Cm - qv[None, :]) ** 2).sum(1), kind="stable")
        per_probe.append(
            (qid, {int(c): _adc_table(B, qv - Cm[c]) for c in near[:nprobe]})
        )
    if len({frozenset(tabs) for _, tabs in per_probe}) != 1:
        raise ValueError(
            "ivfpq_topk scores all probes in one scan of the same probed "
            f"cells, but these probes select different cells at "
            f"nprobe={nprobe}; call ivfpq_topk once per probe"
        )
    probe_cells = sorted(per_probe[0][1])
    lookup = np.arange(B.shape[0])[None, :]

    def score(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = list_matrix(rb.column(0), dtype=np.int64)
            cells = rb.column(1).to_numpy(zero_copy_only=False)
            qids, tops, d2s = [], [], []
            for qid, tabs in per_probe:
                d2 = np.empty(len(C))
                for c, tab in tabs.items():
                    mask = cells == c
                    if mask.any():
                        d2[mask] = tab[lookup, C[mask]].sum(1)
                top = _tie_closed_top(d2, k)
                qids.append(np.full(len(top), qid))
                tops.append(top)
                d2s.append(d2[top])
            idx = np.concatenate(tops)
            yield [
                np.concatenate(qids),
                rb.column(2).take(idx),
                cells[idx],
                np.concatenate(d2s),
            ]

    id_t = codes_df.schema["id"].dataType.simpleString()
    scored = map_in_arrow(
        codes_df.filter(F.col("cell").isin(probe_cells)).select(
            "codes", "cell", "id"
        ),
        score,
        f"query_id {id_t}, id {id_t}, cell int, adc_d2 double",
    )
    return _top_per_probe(scored, k)


def semdedup_cells(
    corpus: DataFrame,
    k_cells: int = 16,
    cos_threshold_bp: int = 9500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embeddings, then within each cluster drop every vector that has a
    near-identical LOWER-ID neighbor (cosine >= threshold) — the
    keep-one-representative rule that removes semantic duplicates
    exact/fuzzy text dedup cannot see.

    This variant uses a DETERMINISTIC PORTABLE quantizer instead of the
    paper's k-means: the k seed vectors with the smallest
    md5(cast(id as string)) (engine-reproducible — both Spark and
    DuckDB produce the identical hex and therefore identical seeds), so
    the ENTIRE pass is exact and oracle-checkable; swap in
    :func:`kmeans_fit` centroids when cross-engine provability is not
    required (the paper's config — same downstream shape).  Assignment
    cosines use the same sequential double fold as :func:`cosine_topk`
    (bit-identical to the DuckDB oracle's list_sum), so the argmax and
    its cell-id tie-break agree across engines.

    Output: (id, cell, keep) — ``keep`` is FALSE iff a lower-id vector
    in the same cell has cosine >= cos_threshold_bp/1e4 with it.
    Zero-norm vectors have no defined cosine: cell = -1, keep = true.

    Scale shape: the seed frame is k rows and BROADCASTS; assignment is
    a k-bounded fanout join plus a per-id top-1 window (per-key,
    k-row partitions); the dedup join is WITHIN-CELL only — the
    SemDeDup trick bounds candidates at sum_c n_c^2 (vs n^2 corpus-wide;
    grow k_cells with the corpus to hold n_c steady), and the assigned
    frame is persisted because both pair sides and the verdict consume
    it."""
    from real_time_data_pipeline_spark.operators import cache

    base = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    base = cache.track(base)
    seeds = (
        base.filter(F.col("nrm") > 0)
        .orderBy(F.md5(F.col("id").cast("string")).asc(), F.col("id").asc())
        .limit(k_cells)
        .collect()  # k rows — bounded by design
    )
    seed_df = F.broadcast(
        local_frame(
            corpus.sparkSession,
            [
                (c, [float(x) for x in r["vec"]], float(r["nrm"]))
                for c, r in enumerate(seeds)
            ],
            "cell int, seed array<double>, snrm double",
        )
    )
    scored = (
        base.filter(F.col("nrm") > 0)
        .join(seed_df)
        .withColumn(
            "cos",
            _dot(F.col("vec"), F.col("seed"))
            / (F.col("nrm") * F.col("snrm")),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("cos"), F.asc("cell"))
    assigned = cache.track(
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("id", "cell", "vec", "nrm")
    )
    a = assigned.select(
        "cell",
        F.col("id").alias("id_a"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        "cell",
        F.col("id").alias("id_b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dups = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_bp",
            F.floor(
                F.lit(10000.0)
                * _dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            ).cast("bigint"),
        )
        .filter(F.col("cos_bp") >= cos_threshold_bp)
        .select(F.col("id_b").alias("dup_id"))
        .distinct()
    )
    kept = assigned.join(
        dups, assigned["id"] == dups["dup_id"], "left"
    ).select(
        F.col("id").alias(id_col),
        "cell",
        F.col("dup_id").isNull().alias("keep"),
    )
    zero = base.filter(F.col("nrm") <= 0).select(
        F.col("id").alias(id_col),
        F.lit(-1).cast("int").alias("cell"),
        F.lit(True).alias("keep"),
    )
    return kept.unionByName(zero)


def kmeans_fixedpoint(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant_scale: int = 10_000,
) -> DataFrame:
    """Euclidean Lloyd's k-means in EXACT fixed-point integers — the
    oracle-backed upgrade of the float-iterative :func:`kmeans_fit`
    (whose spherical/float path stays as the iterative-class
    representative with convergence tests): vectors quantize to BIGINT
    (floor(x·1e4), the centroid_outliers idiom), distances are integer
    sums of squares, centroid updates are TRUNCATING integer division
    (both Spark `div` and DuckDB `//` truncate toward zero — verified),
    seeds are the k vectors with the smallest portable sha248 hash of
    their id (rank order = cell id), ties in assignment break by cell —
    every step reproducible on any engine, so a DuckDB oracle can
    recompute the whole fit with the iterations unrolled.

    Scale shape identical to kmeans_fit: per iteration one
    typed ``mapInArrow`` assignment pass over the corpus (int64
    matmul-free distance against the broadcast k×dim integer centroid
    matrix) + one (cell, dim)-grain partial-aggregated shuffle; k×dim
    centroid state is driver-resident; empty cells keep their previous
    centroid.  Overflow: |q| ≤ 1e4 ⇒ per-dim squared diff ≤ 4e8,
    64-dim distance ≤ 2.6e10; per-(cell,dim) sums ≤ 1e4·n — int64 to
    ~1e14 rows.

    Output: (id, cell, dist) under the FINAL centroids."""
    from real_time_data_pipeline_spark.operators.curation import (
        portable_hash48,
    )

    quant = corpus.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(quant_scale)).cast(
                "long"
            ),
        ).alias("qv"),
    )
    seeds = (
        quant.select(id_col, "qv", portable_hash48(F.col(id_col)).alias("h"))
        .orderBy("h", id_col)
        .limit(k)
        .collect()  # k rows — bounded by design
    )
    C = np.array([r["qv"] for r in seeds], dtype=np.int64)

    def trunc_div(s: int, n: int) -> int:
        return -((-s) // n) if s < 0 else s // n

    id_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_t}, cell bigint, dist bigint"

    def assign_pass(Cm):
        def assign(batches):
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                V = list_matrix(rb.column(1), dtype=np.int64)
                # (n, k) int64 squared distances; argmin takes the
                # FIRST minimal index == ORDER BY dist, cell
                d = ((V[:, None, :] - Cm[None, :, :]) ** 2).sum(axis=2)
                yield [rb.column(0), d.argmin(axis=1), d.min(axis=1)]

        return map_in_arrow(quant, assign, out_schema)

    for _ in range(iters):
        assigned = assign_pass(C)
        stats = (
            assigned.join(quant, id_col)
            .select("cell", F.posexplode("qv").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.sum("x").cast("bigint").alias("s"),
                F.count("*").cast("bigint").alias("n"),
            )
            .collect()  # k x dim rows — bounded by design
        )
        new = C.copy()
        per_cell: dict = {}
        for r in stats:
            per_cell.setdefault(r["cell"], []).append(r)
        for cell, rows in per_cell.items():
            for r in rows:
                new[cell, r["pos"]] = trunc_div(int(r["s"]), int(r["n"]))
        C = new
    return assign_pass(C)


def pca_power_top1(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 6,
    quant_scale: int = 10_000,
    v_scale: int = 1 << 14,
) -> DataFrame:
    """Top principal-component projection by EXACT fixed-point power
    iteration — the oracle-backed contract sibling of the float-LAPACK
    :func:`pca_fit` (which stays the float-eig class representative
    for the full top-k decomposition): every quantity an integer, so
    the DuckDB oracle recomputes the whole fit in HUGEINT with the
    iterations unrolled.

    Recipe: quantize x -> floor(x·1e4) (BIGINT).  The n-scaled centered
    scatter S = n·Σ qqᵀ − (Σq)(Σq)ᵀ has the same eigenvectors as the
    covariance and is INTEGER (no division).  Start v₀ = v_scale·e_d at
    the max-diagonal dim (tie -> smallest d); iterate w = S·v followed
    by the max-abs renormalization v' = (w·v_scale) div max|w|
    (truncating division — identical in Spark/DuckDB/Python ints);
    after the last iteration fix the sign so the first nonzero
    component (ascending dim) is positive.  Output: one row per vector,
    (id, pc1_fp) = the integer dot q·v — the ranking/bucketing
    projection a curriculum or drift monitor consumes.

    Exactness bounds: |S| entries ≤ n²·quant_scale² per the Cauchy
    bound (~2.5e15 at n=6000) — int64-safe to collect, while S·v can
    reach ~2.6e21, so the ITERATION runs in unbounded Python ints on
    the driver (matching the oracle's int128 HUGEINT); the per-doc
    projection |q·v| ≤ dim·quant_scale·v_scale ≈ 1e10 is int64.  At
    corpus scales where n²·quant_scale² nears int64, widen the scatter
    aggregate to DECIMAL(38,0) — the quantized sums stay exact.

    Scale shape: ONE typed mapInArrow pass emits per-partition int64 Gram
    partials (dim² + dim + 1 integers — numpy int64 matmul is exact);
    the dim×dim iteration is driver-resident; the projection is one
    JVM fold per row against the broadcast literal component."""
    quant = corpus.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(quant_scale)).cast(
                "long"
            ),
        ).alias("qv"),
    )
    dim = len(corpus.select(vec_col).first()[0])

    def partials(batches):
        n_tot = 0
        s_tot = np.zeros(dim, dtype=np.int64)
        g_tot = np.zeros((dim, dim), dtype=np.int64)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            Q = list_matrix(rb.column(0), dtype=np.int64)
            n_tot += len(Q)
            s_tot += Q.sum(axis=0)
            g_tot += Q.T @ Q
        if n_tot:
            yield [[n_tot], s_tot[None, :], g_tot.reshape(1, -1)]

    parts = map_in_arrow(
        quant.select("qv"),
        partials,
        "n bigint, s array<bigint>, g array<bigint>",
    ).collect()  # one row per partition — bounded
    n = sum(int(p["n"]) for p in parts)
    s = [sum(int(p["s"][d]) for p in parts) for d in range(dim)]
    g = [
        sum(int(p["g"][i]) for p in parts) for i in range(dim * dim)
    ]
    # n-scaled centered scatter in exact Python ints
    S = [
        [n * g[i * dim + j] - s[i] * s[j] for j in range(dim)]
        for i in range(dim)
    ]

    def trunc_div(a: int, b: int) -> int:
        return -((-a) // b) if a < 0 else a // b

    start = max(range(dim), key=lambda d: (S[d][d], -d))
    v = [v_scale if d == start else 0 for d in range(dim)]
    for _ in range(iters):
        w = [sum(S[d][j] * v[j] for j in range(dim)) for d in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:
            break
        v = [trunc_div(x * v_scale, m) for x in w]
    first = next((d for d in range(dim) if v[d] != 0), None)
    if first is not None and v[first] < 0:
        v = [-x for x in v]

    vc = F.array(*[F.lit(int(x)).cast("long") for x in v])
    return quant.select(
        id_col,
        F.aggregate(
            F.zip_with("qv", vc, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, val: acc + val,
        ).alias("pc1_fp"),
    )
