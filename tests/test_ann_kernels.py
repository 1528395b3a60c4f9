"""ANN scoring kernels against references that do not share their code.

- ``pq_topk`` / ``ivfpq_topk``: numpy ADC over the collected codes,
  sorted on (adc_d2, id) — the global order the kernels promise;
- ``pq_topk_rerank`` with a full-corpus shortlist: ``cosine_topk``;
- the per-batch top-k prune keeps every row that ties the k-th score,
  so a batch holding tied rows in descending id order still yields the
  lowest ids;
- output id types follow input id types across the ANN family;
- ``arrowvec.map_in_arrow`` builds each emitted batch to the declared
  schema.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import similarity
from real_time_data_pipeline_spark.operators.arrowvec import (
    local_frame,
    map_in_arrow,
)
from real_time_data_pipeline_spark.schemas import load_table

N_PROBES = 3
K = 5


def _probes(emb):
    qrows = (
        emb.filter(F.col("vec_id") < N_PROBES)
        .select("vec_id", "embedding")
        .collect()
    )
    return [(r["vec_id"], r["embedding"]) for r in
            sorted(qrows, key=lambda r: r["vec_id"])]


def _unit(vec):
    v = np.asarray(vec, dtype=np.float64)
    return v / np.linalg.norm(v)


def _adc(books, codes, r):
    """ADC distance of every code row to query (or residual) ``r``:
    Σ_j ||r_j − books[j, code_j]||², summed per subspace first."""
    m, _, dsub = books.shape
    parts = (books[np.arange(m)[None, :], codes] - r.reshape(m, dsub)) ** 2
    return parts.sum(-1).sum(1)


def _numpy_topk(rows, k):
    """(query_id, id, ...) rows sorted on (adc_d2, id), top k per query."""
    out = []
    for qid in sorted({r[0] for r in rows}):
        mine = sorted((r for r in rows if r[0] == qid), key=lambda r: (r[-1], r[1]))
        out.extend(mine[:k])
    return sorted(out)


def test_pq_topk_matches_numpy_adc(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = np.asarray(similarity.pq_fit(emb, m=16, k=16, iters=2))
    codes = similarity.pq_encode(emb, books)
    probes = _probes(emb)
    got = sorted(
        tuple(r)
        for r in similarity.pq_topk(codes, books, probes, k=K)
        .select("query_id", "id", "adc_d2")
        .collect()
    )
    crows = codes.select("id", "codes").collect()
    ids = [r["id"] for r in crows]
    C = np.array([r["codes"] for r in crows], dtype=np.int64)
    want = []
    for qid, vec in probes:
        d2 = _adc(books, C, _unit(vec))
        want.extend((qid, i, float(d)) for i, d in zip(ids, d2))
    assert got == _numpy_topk(want, K)


def test_ivfpq_topk_full_probe_matches_numpy_adc(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    n_cells = 8
    Cm, books, codes = similarity.ivfpq_build(
        emb, n_cells=n_cells, m=8, k=16, iters=1
    )
    probes = _probes(emb)
    got = sorted(
        tuple(r)
        for r in similarity.ivfpq_topk(
            codes, Cm, books, probes, k=K, nprobe=n_cells
        )
        .select("query_id", "id", "cell", "adc_d2")
        .collect()
    )
    crows = codes.select("id", "cell", "codes").collect()
    C = np.array([r["codes"] for r in crows], dtype=np.int64)
    cells = np.array([r["cell"] for r in crows])
    want = []
    for qid, vec in probes:
        qv = _unit(vec)
        d2 = np.empty(len(crows))
        for c in range(n_cells):
            mask = cells == c
            d2[mask] = _adc(np.asarray(books), C[mask], qv - Cm[c])
        want.extend(
            (qid, r["id"], r["cell"], float(d)) for r, d in zip(crows, d2)
        )
    assert got == _numpy_topk(want, K)


def test_ivfpq_topk_rejects_divergent_probe_cells(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    Cm, books, codes = similarity.ivfpq_build(
        emb, n_cells=8, m=8, k=16, iters=1
    )
    probes = _probes(emb)
    with pytest.raises(ValueError, match="once per probe"):
        similarity.ivfpq_topk(codes, Cm, books, probes, k=K, nprobe=1)


def test_pq_topk_rerank_full_shortlist_equals_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=16, k=16, iters=2)
    codes = similarity.pq_encode(emb, books)
    probes = _probes(emb)
    got = sorted(
        map(tuple, similarity.pq_topk_rerank(
            emb, codes, books, probes, k=K, shortlist=1 << 30
        ).collect())
    )
    queries = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    want = sorted(map(tuple, similarity.cosine_topk(emb, queries, k=K).collect()))
    assert got == want


def _tied_codes(spark, with_cell: bool):
    """Ten rows with IDENTICAL codes in one partition, ids descending —
    every row ties, so only the (adc_d2, id) order picks the winners —
    behind three rows whose codes score strictly worse."""
    rows = [(i, [0, 0]) for i in range(9, -1, -1)] + [
        (i, [1, 1]) for i in (10, 11, 12)
    ]
    if with_cell:
        return local_frame(
            spark,
            [(i, 0, c) for i, c in rows],
            "id bigint, cell int, codes array<int>",
        ).coalesce(1)
    return local_frame(spark, rows, "id bigint, codes array<int>").coalesce(1)


# (m=2, k=2, dsub=2): entry 0 sits on the query, entry 1 far from it
_TIE_BOOKS = np.array([[[1.0, 0.0], [-1.0, 0.0]], [[0.0, 0.0], [0.0, 5.0]]])
_TIE_QUERY = [1.0, 0.0, 0.0, 0.0]


def test_pq_local_prune_keeps_ties(spark):
    codes = _tied_codes(spark, with_cell=False)
    got = similarity.pq_topk(codes, _TIE_BOOKS, [(99, _TIE_QUERY)], k=3)
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2]


def test_ivfpq_local_prune_keeps_ties(spark):
    codes = _tied_codes(spark, with_cell=True)
    coarse = np.zeros((1, 4))
    got = similarity.ivfpq_topk(
        codes, coarse, _TIE_BOOKS, [(99, _TIE_QUERY)], k=3, nprobe=1
    )
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2]


_ID_TYPES = {
    "int": lambda i: i,
    "bigint": lambda i: i,
    "string": lambda i: f"v{i:03d}",
}


@pytest.mark.parametrize("id_t", sorted(_ID_TYPES))
def test_ann_output_id_types_follow_input(spark, id_t):
    mk = _ID_TYPES[id_t]
    rng = random.Random(5)
    rows = [(mk(i), [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, f"vec_id {id_t}, embedding array<double>")
    queries = emb.filter(F.col("vec_id").isin([r[0] for r in rows[:3]])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    probes = [(r[0], r[1]) for r in rows[:3]]
    exact = sorted(map(tuple, similarity.cosine_topk(emb, queries, k=K).collect()))

    gemm = similarity.cosine_topk_gemm(emb, queries, k=K)
    ivf = similarity.ivf_topk(emb, queries, k=K, n_cells=4, nprobe=4)
    for df in (gemm, ivf):
        assert dict(df.dtypes)["neighbor_id"] == id_t
        assert sorted(map(tuple, df.collect())) == exact

    books = similarity.pq_fit(emb, m=2, k=4, iters=1)
    codes = similarity.pq_encode(emb, books)
    pq = similarity.pq_topk(codes, books, probes, k=K)
    rerank = similarity.pq_topk_rerank(
        emb, codes, books, probes, k=K, shortlist=1 << 30
    )
    Cm, ibooks, icodes = similarity.ivfpq_build(
        emb, n_cells=2, m=2, k=4, iters=1
    )
    ivfpq = similarity.ivfpq_topk(icodes, Cm, ibooks, probes, k=K, nprobe=2)
    for df in (pq, ivfpq):
        assert dict(df.dtypes)["id"] == id_t
        assert dict(df.dtypes)["query_id"] == id_t
        assert len(df.collect()) == K * len(probes)
    assert dict(rerank.dtypes)["neighbor_id"] == id_t
    assert sorted(map(tuple, rerank.collect())) == exact


def test_map_in_arrow_builds_the_declared_types(spark):
    """Sites emit numpy int64 / float64 / (n, d) matrices; each column
    reaches the JVM as exactly its declared type."""

    def emit(batches):
        for rb in batches:
            ids = rb.column(0).to_numpy()
            yield [ids, ids.astype(str), np.stack([ids, ids], axis=1)]

    out = map_in_arrow(
        spark.range(6), emit, "id int, s string, v array<float>"
    )
    assert out.dtypes == [("id", "int"), ("s", "string"), ("v", "array<float>")]
    assert sorted(map(tuple, out.collect())) == [
        (i, str(i), [float(i), float(i)]) for i in range(6)
    ]
