"""Unit tests for the north-star dedup / similarity / text operators
(the oracle covers value parity on real testdata; these pin semantics on
handcrafted edges: near-identical docs, recall of the approximate paths,
tie-breaks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import dedup, similarity, text


@pytest.fixture()
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    return spark.createDataFrame(
        [
            (1, base),
            (2, base),                                  # exact dup of 1
            (3, base.replace("lazy", "sleepy")),        # near-dup of 1
            (4, "completely different content about spark engines and parquet files"),
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_min(spark, near_dup_docs):
    normalized = near_dup_docs.select(
        F.concat_ws(" ", dedup.tokens_col("text")).alias("k"), "doc_id"
    )
    out = dedup.exact_dedup(normalized, ["k"], "doc_id")
    survivors = sorted(r.doc_id for r in out.collect())
    assert survivors == [1, 3, 4]  # doc 2 collapsed into doc 1


def test_jaccard_finds_near_dups_only(near_dup_docs):
    pairs = dedup.ngram_jaccard_pairs(near_dup_docs, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got          # exact dup -> jaccard 1.0
    assert (1, 3) in got and (2, 3) in got  # one-word change
    assert not any(4 in p for p in got)     # unrelated doc never pairs


def test_minhash_lsh_recall_vs_exact(near_dup_docs):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()
    }
    cands = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(
            near_dup_docs, num_perm=64, bands=32
        ).collect()
    }
    # 32 bands of 2 rows: P(miss | J>=0.5) <= (1-0.5^2)^32 ~ 1e-4
    assert exact <= cands


def test_simhash_distance_ordering(near_dup_docs):
    """Identical docs get identical fingerprints; a near-dup is closer
    than an unrelated doc.  (Absolute distances on short docs are noisy —
    a one-token change flips every bit whose vote margin it covers — so
    the test pins the ordering, not a fixed budget.)"""
    fp = {r.id: r.simhash for r in dedup.simhash(near_dup_docs).collect()}

    def ham(a, b):
        return sum(
            bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(fp[a], fp[b])
        )

    assert ham(1, 2) == 0
    assert ham(1, 3) < ham(1, 4)
    # the banded join at a permissive budget must surface the exact dup
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_pairs(near_dup_docs, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_embedding_near_dup_threshold(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),   # ~parallel to 1
            (3, [0.0, 1.0, 0.0]),      # orthogonal
        ],
        "vec_id long, embedding array<double>",
    )
    out = {(r.id_a, r.id_b) for r in dedup.embedding_near_dup(vecs, threshold=0.95).collect()}
    assert out == {(1, 2)}


def test_cosine_topk_rank_and_ties(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)]
        + [(10, [1.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    out = similarity.cosine_topk(corpus, queries, k=2).collect()
    assert [r.neighbor_id for r in out] == [10, 1]  # cos 0.707, then tie by id
    assert [r.rank for r in out] == [1, 2]


def test_lsh_topk_subset_of_exact_scores(spark, sf_dir):
    """Approximate results are a subset of the corpus with exact cosines:
    every (query, neighbor, cos_bp) in LSH output must appear in the
    brute-force ranking with the same score."""
    from real_time_data_pipeline_spark.queries.similarity import (
        q_ann_bruteforce_topk,
        q_ann_lsh_topk,
    )

    exact = {
        (r.query_id, r.neighbor_id): r.cos_bp
        for r in q_ann_bruteforce_topk(spark.sparkSession if hasattr(spark, "sparkSession") else spark, sf_dir)
        .collect()
    }
    # exact holds only top-10; LSH neighbors outside it are fine — check
    # score agreement where they overlap
    for r in q_ann_lsh_topk(spark, sf_dir).collect():
        if (r.query_id, r.neighbor_id) in exact:
            assert exact[(r.query_id, r.neighbor_id)] == r.cos_bp


def test_lsh_multiprobe_recall_monotone_to_exact(spark, sf_dir):
    """probe_hamming (round-6 multi-probe param) must be recall-monotone
    — each extra probe radius can only ADD candidates — and at the full
    radius the output equals brute force exactly (the property the
    oracle promotion rests on)."""
    from real_time_data_pipeline_spark.operators.similarity import lsh_topk
    from real_time_data_pipeline_spark.queries.similarity import (
        _corpus_and_queries,
        q_ann_bruteforce_topk,
    )

    emb, queries = _corpus_and_queries(spark, sf_dir)
    exact = {
        (r.query_id, r.rank, r.neighbor_id, r.cos_bp)
        for r in q_ann_bruteforce_topk(spark, sf_dir).collect()
    }
    prev_hits = -1
    for radius in (0, 2, 6):
        got = {
            (r.query_id, r.rank, r.neighbor_id, r.cos_bp)
            for r in lsh_topk(
                emb, queries, k=10, n_planes=6, dim=64, probe_hamming=radius
            ).collect()
        }
        hits = len(got & exact)
        assert hits >= prev_hits, f"recall dropped at radius {radius}"
        prev_hits = hits
    assert got == exact  # radius == n_planes probes every bucket


def test_embedding_lsh_multiprobe_monotone_to_exact(spark, sf_dir):
    """embedding_near_dup_lsh's probe_hamming (round-7 multi-probe
    param) must be pair-recall-monotone, and at the full radius the
    pair set equals the exact quadratic operator bit-for-bit — the
    property the dedup_pipeline_lsh oracle promotion rests on."""
    from real_time_data_pipeline_spark.operators.dedup import (
        embedding_near_dup,
        embedding_near_dup_lsh,
    )
    from real_time_data_pipeline_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b, r.cos_bp)
        for r in embedding_near_dup(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    prev = -1
    for radius in (0, 2, 4):
        got = {
            (r.id_a, r.id_b, r.cos_bp)
            for r in embedding_near_dup_lsh(
                emb, "vec_id", "embedding", threshold=0.4,
                dim=64, n_planes=4, n_tables=2, probe_hamming=radius,
            ).collect()
        }
        assert got <= exact, f"LSH invented a pair at radius {radius}"
        assert len(got) >= prev, f"recall dropped at radius {radius}"
        prev = len(got)
    assert got == exact  # radius == n_planes probes every bucket


def test_language_id_profiles(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is happy"),
            (2, "el gato es de la casa y es feliz"),
            (3, "zzz qqq www"),  # no stopwords at all
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.predicted_lang for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "und"}


def test_quality_score_components(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    [r] = text.quality_score(df).collect()
    # 9 tokens -> len component 9; 3 'the'-type stopwords... recompute:
    # stopwords present: the, over(the? no) -> 'the' x2 => floor(100*2/9)=22
    # avg token len = floor(100*35/9) = 388 -> in [300,800] -> +30
    assert r.quality_score == 9 + 22 + 30


def test_asof_join_semantics(spark):
    from real_time_data_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "A", "2024-01-01 10:00:00"), (2, "A", "2024-01-01 12:00:00"),
         (3, "B", "2024-01-01 10:00:00")],
        "id long, k string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [("A", "2024-01-01 09:00:00", 1.0),   # before both A rows
         ("A", "2024-01-01 11:30:00", 2.0),   # between them
         ("A", "2024-01-01 12:00:00", 3.0),   # exactly at left ts -> <= matches
         ("B", "2024-01-01 11:00:00", 9.0)],  # after B's only left row
        "k string, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))

    out = {r.id: r for r in asof_join(left, right, key="k", right_cols=["v"]).collect()}
    assert out[1].asof_v == 1.0          # latest at-or-before 10:00
    assert out[2].asof_v == 3.0          # equal timestamp matches (<=)
    assert out[3].asof_v is None         # no right row at or before -> null

    tol = {r.id: r for r in asof_join(
        left, right, key="k", right_cols=["v"], tolerance="30 minutes"
    ).collect()}
    assert tol[1].asof_v is None         # 09:00 match is staler than 30min
    assert tol[2].asof_v == 3.0


def test_asof_join_preserves_adversarial_column_names(spark):
    """User columns named `_x` / `asof_note` / `_ts` must survive the join
    (round-1 bug: the final projection filtered by startswith('_')/
    startswith('asof_') and silently dropped them)."""
    from real_time_data_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "A", "2024-01-01 10:00:00", "u1", "n1", "t1")],
        "id long, k string, ts string, _x string, asof_note string, _ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [("A", "2024-01-01 09:00:00", 1.0)], "k string, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))

    for tol in (None, "2 hours"):
        [r] = asof_join(
            left, right, key="k", right_cols=["v"], tolerance=tol
        ).collect()
        assert r["_x"] == "u1" and r["asof_note"] == "n1" and r["_ts"] == "t1"
        assert r["asof_v"] == 1.0
        assert r["asof_ts"] is not None


def test_approx_distinct_within_rsd(spark, sf_dir):
    from real_time_data_pipeline_spark.queries.reference_parity import (
        q_approx_distinct,
    )

    for r in q_approx_distinct(spark, sf_dir).collect():
        assert abs(r.approx_users - r.exact_users) <= max(3, 0.15 * r.exact_users)


def test_kmv_distinct_matches_bruteforce(spark, sf_dir):
    """KMV replica: sequential 48-bit sha256 fold, k smallest distinct
    hashes per event_type, (k-1)*2^48 // kth estimate; the sub-k branch
    returns the exact count."""
    import hashlib

    from real_time_data_pipeline_spark.operators import aggregates as A
    from real_time_data_pipeline_spark.schemas import load_table

    def h48(v):
        return int(hashlib.sha256(str(v).encode()).hexdigest()[:12], 16)

    events = load_table(spark, sf_dir, "events")
    rows = events.select("event_type", "user_id").collect()
    users = {}
    for r in rows:
        users.setdefault(r["event_type"], set()).add(r["user_id"])
    want = {}
    for et, us in users.items():
        hs = sorted({h48(u) for u in us})[: A.KMV_K]
        est = (
            len(hs)
            if len(hs) < A.KMV_K
            else ((A.KMV_K - 1) * A.KMV_SPACE) // hs[-1]
        )
        want[et] = (len(us), len(hs), hs[-1], est)
    got = {
        r["event_type"]: (r["n_exact"], r["n_kept"], r["kth_hash"], r["est_kmv"])
        for r in A.kmv_distinct(events, "event_type", "user_id").collect()
    }
    assert got == want


def test_kmv_subk_groups_are_exact_and_merge_holds(spark):
    """Groups with < k distinct values report the exact count with zero
    error, and the shard-fold equals the group-fold sketch."""
    from real_time_data_pipeline_spark.operators import aggregates as A

    df = spark.createDataFrame(
        [(f"g{i % 3}", i % 40) for i in range(400)], "grp string, v int"
    )
    for r in A.kmv_distinct(df, "grp", "v", k=64).collect():
        assert r["n_exact"] == r["est_kmv"] == r["n_kept"]
        assert r["err_bp"] == 0
    [m] = A.kmv_merge(df, "grp", "v", k=64).collect()
    assert m["merge_equal"]
    assert m["est_direct"] == m["est_merged"] == m["n_exact"] == 40


def test_gemm_topk_matches_exact_neighbors(spark, sf_dir):
    from real_time_data_pipeline_spark.queries.similarity import (
        _corpus_and_queries,
    )

    emb, queries = _corpus_and_queries(spark, sf_dir)
    exact = sorted(map(tuple, similarity.cosine_topk(emb, queries, k=10).collect()))
    gemm = sorted(map(tuple, similarity.cosine_topk_gemm(emb, queries, k=10).collect()))
    # GEMM selects, the exact fold scores and ranks: rows are identical
    assert gemm == exact


def test_salted_join_equals_plain_join(spark, sf_dir):
    from real_time_data_pipeline_spark.operators.joins import salted_join
    from real_time_data_pipeline_spark.schemas import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    plain = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment").count().collect()
    )
    salted = (
        salted_join(
            orders.withColumnRenamed("o_custkey", "custkey"),
            customer.withColumnRenamed("c_custkey", "custkey"),
            "custkey", salt=4,
        )
        .groupBy("c_mktsegment").count().collect()
    )
    assert {(r.c_mktsegment, r["count"]) for r in plain} == {
        (r.c_mktsegment, r["count"]) for r in salted
    }


def test_embedding_lsh_subset_of_exact(spark, sf_dir):
    from real_time_data_pipeline_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cos_bp
        for r in dedup.embedding_near_dup(emb, threshold=0.4).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cos_bp
        for r in dedup.embedding_near_dup_lsh(
            emb, threshold=0.4, dim=64, n_planes=4, n_tables=8
        ).collect()
    }
    assert set(lsh) <= set(exact)          # recall subset, no false positives
    for k, v in lsh.items():
        assert exact[k] == v               # identical scores
    # 4 planes x 8 OR-ed tables → per-pair collision ≥ 1-(1-p)^8 with
    # p=(1-θ/π)^4; at cos 0.4 that is ~0.75 expected recall.
    assert len(lsh) >= len(exact) // 2


def test_ivf_topk_full_probe_equals_exact(spark, sf_dir):
    """nprobe == n_cells probes every inverted list, so IVF must reproduce
    the brute-force ranking exactly (same fold ⇒ same cos_bp, same rank);
    at nprobe=4/16 recall stays useful and every returned score is still
    bit-exact vs the brute-force pipeline."""
    from real_time_data_pipeline_spark.operators import similarity
    from real_time_data_pipeline_spark.queries.similarity import (
        _corpus_and_queries,
    )

    emb, queries = _corpus_and_queries(spark, sf_dir)
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_bp)
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    full = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_bp)
        for r in similarity.ivf_topk(
            emb, queries, k=10, n_cells=16, nprobe=16
        ).collect()
    }
    assert full == exact

    exact_scores = {(q, n): c for (q, _), (n, c) in exact.items()}
    approx = similarity.ivf_topk(emb, queries, k=10, n_cells=16, nprobe=4).collect()
    hits = sum(1 for r in approx if (r.query_id, r.neighbor_id) in exact_scores)
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert exact_scores[(r.query_id, r.neighbor_id)] == r.cos_bp
    assert hits >= len(exact_scores) // 4  # nprobe=4/16 keeps useful recall


def test_similarity_schemas_follow_input_types(spark):
    """gemm/ivf mapInArrow output schemas must derive from the input
    schema (round-1 bug: hardcoded `long`/`array<float>` truncated
    array<double> corpora and broke non-bigint ids)."""
    from real_time_data_pipeline_spark.operators import similarity

    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    queries = spark.createDataFrame(
        [(r[0], r[1]) for r in rows[:3]], "query_id int, query_vec array<double>"
    )

    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_bp)
        for r in similarity.cosine_topk(corpus, queries, k=5).collect()
    }
    ivf = similarity.ivf_topk(corpus, queries, k=5, n_cells=4, nprobe=4)
    assert dict(ivf.dtypes)["neighbor_id"] == "int"
    ivf_rows = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_bp) for r in ivf.collect()
    }
    # full probe + double-preserving schema ⇒ bit-identical to exact
    assert ivf_rows == exact

    gemm = similarity.cosine_topk_gemm(corpus, queries, k=5)
    assert dict(gemm.dtypes)["neighbor_id"] == "int"
    gemm_rows = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_bp) for r in gemm.collect()
    }
    # the fixture has a many-way exact tie at the k boundary: the
    # tie-closed GEMM selection must still hand the exact fold every
    # tied row, at any partition count
    assert gemm_rows == exact


def test_dedup_pipeline_lsh_is_recall_subset(spark, sf_dir):
    """The scale-path pipeline (sign-LSH embedding signal) at a PRUNED
    probe config (probe_hamming=0 — the production recall/candidate
    tradeoff; the registry query runs full-radius and is oracle-backed)
    must agree with the exact pipeline on the exact/minhash signals and
    flag a recall-bounded SUBSET of its embedding dups — LSH can miss
    pairs, never invent them."""
    from real_time_data_pipeline_spark.operators import dedup as dedup_ops
    from real_time_data_pipeline_spark.queries.dedup import q_dedup_pipeline
    from real_time_data_pipeline_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    pruned = dedup_ops.near_dup_verdicts(
        docs, emb, jaccard_threshold=0.8, cos_threshold=0.4,
        embedding_scale_path=True, dim=64, n_planes=4, n_tables=8,
    )
    exact = {r.doc_id: r for r in q_dedup_pipeline(spark, sf_dir).collect()}
    lsh = {r.doc_id: r for r in pruned.collect()}
    assert set(exact) == set(lsh)

    flagged_exact = {d for d, r in exact.items() if r.is_embedding_dup}
    flagged_lsh = {d for d, r in lsh.items() if r.is_embedding_dup}
    for d in exact:
        assert exact[d].is_exact_dup == lsh[d].is_exact_dup
        assert exact[d].is_minhash_dup == lsh[d].is_minhash_dup
    assert flagged_lsh <= flagged_exact
    # 4 planes x 8 OR-ed tables at this corpus's loose cos-0.4 threshold:
    # measured per-doc recall ~0.75; pin a floor with slack
    if flagged_exact:
        assert len(flagged_lsh) / len(flagged_exact) >= 0.5
    # keep is cluster-canonical: the doc is its own cluster's minimum id
    # (note an UNFLAGGED doc can still lose canonicality — it may be the
    # exact-group min that a transitive chain connects to a smaller id)
    for both in (exact, lsh):
        for r in both.values():
            assert r.keep == (r.doc_id == r.cluster_id)
            assert r.cluster_id <= r.doc_id
    # LSH sees a SUBSET of the exact edge set, so its clusters are
    # refinements: every doc the LSH run drops, the exact run drops too.
    kept_exact = {d for d, r in exact.items() if r.keep}
    kept_lsh = {d for d, r in lsh.items() if r.keep}
    assert kept_exact <= kept_lsh
    # and cluster labels can only coarsen with more edges
    for d in exact:
        assert exact[d].cluster_id <= lsh[d].cluster_id


def test_dedup_embedding_lsh_pruned_is_recall_subset(spark, sf_dir):
    """The embedding-tier pruned registry entry (probe_hamming=0,
    4 planes x 8 tables — the production config ADVICE r7 asked to keep
    measured) must emit a SUBSET of the exact cosine pairs with the
    same pair statistics — LSH can miss pairs, never invent them."""
    from real_time_data_pipeline_spark.queries.dedup import (
        q_dedup_embedding,
        q_dedup_embedding_lsh_pruned,
    )

    exact = {
        (r.id_a, r.id_b): r for r in q_dedup_embedding(spark, sf_dir).collect()
    }
    pruned = {
        (r.id_a, r.id_b): r
        for r in q_dedup_embedding_lsh_pruned(spark, sf_dir).collect()
    }
    assert set(pruned) <= set(exact)
    for k, r in pruned.items():
        assert r.cos_bp == exact[k].cos_bp
    # 4 planes x 8 OR-ed tables at the loose cos-0.4 threshold:
    # measured recall ~0.75; pin a floor with slack
    if exact:
        assert len(pruned) / len(exact) >= 0.5


def test_semdedup_keep_rule_and_zero_norm(spark, sf_dir):
    """SemDeDup with the deterministic quantizer: planted near-identical
    vectors collapse to the lower-id representative, distinct vectors
    survive, zero-norm vectors are kept with cell -1; and on real
    embeddings the keep rule matches a sequential brute-force replica
    (every drop has a lower-id same-cell neighbor at cos >= tau)."""
    import numpy as np

    from real_time_data_pipeline_spark.operators.similarity import (
        semdedup_cells,
    )
    from real_time_data_pipeline_spark.schemas import load_table

    # the trio 0/1/4 is exactly collinear (cos = 1), so even when each
    # becomes its own seed the cell-id tie-break collapses them into
    # ONE cell and the keep rule fires on the lower-id representative
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0]),        # same direction as 0 -> dropped
        (2, [0.0, 1.0, 0.0]),        # distinct -> kept
        (3, [0.0, 0.0, 0.0]),        # zero norm -> cell -1, kept
        (4, [0.5, 0.0, 0.0]),        # same direction as 0 -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r.asDict()
        for r in semdedup_cells(
            df, k_cells=4, cos_threshold_bp=9500
        ).collect()
    }
    assert got[0]["keep"] and got[2]["keep"]
    assert not got[1]["keep"] and not got[4]["keep"]
    assert got[3]["keep"] and got[3]["cell"] == -1
    # 0, 1, 4 landed in one cell (they're near-identical)
    assert got[0]["cell"] == got[1]["cell"] == got[4]["cell"]

    # real-corpus brute-force replica of the keep rule
    emb = load_table(spark, sf_dir, "embeddings")
    out = {
        r["vec_id"]: r.asDict()
        for r in semdedup_cells(
            emb, k_cells=8, cos_threshold_bp=4000
        ).collect()
    }
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    by_cell: dict = {}
    for vid, r in out.items():
        if r["cell"] >= 0:
            by_cell.setdefault(r["cell"], []).append(vid)
    for cell, ids in by_cell.items():
        ids.sort()
        for i, vid in enumerate(ids):
            v = vecs[vid]
            has_lower_dup = any(
                int(
                    np.floor(
                        1e4
                        * float(v @ vecs[o])
                        / (np.linalg.norm(v) * np.linalg.norm(vecs[o]))
                    )
                )
                >= 4000
                for o in ids[:i]
            )
            assert out[vid]["keep"] == (not has_lower_dup), (cell, vid)


def test_approx_percentiles_within_rank_envelope(spark, sf_dir):
    """approx_percentile at accuracy 10000 must land within the exact
    neighboring-rank envelope (value at rank ±n/accuracy·2) per group."""
    from real_time_data_pipeline_spark.queries.analytics import (
        q_approx_percentiles,
    )
    from real_time_data_pipeline_spark.schemas import load_table

    approx = {
        r.event_type: [r.p25_approx, r.p50_approx, r.p90_approx, r.p99_approx]
        for r in q_approx_percentiles(spark, sf_dir).collect()
    }
    rows = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.value)
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        slack = max(2, (2 * n) // 10000)
        for q, got in zip((0.25, 0.5, 0.9, 0.99), approx[et]):
            rank = int(q * (n - 1))
            lo = vals[max(0, rank - slack)]
            hi = vals[min(n - 1, rank + slack)]
            assert lo <= got <= hi, (et, q, got, lo, hi)


def test_ivf_persisted_index_matches_inmemory_and_prunes(spark, sf_dir, tmp_path):
    """The persisted IVF index returns exactly the in-memory ivf_topk
    results (same corpus/params), and the probe read is partition-pruned
    to the probed cell directories only."""
    from real_time_data_pipeline_spark.operators import similarity
    from real_time_data_pipeline_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # one query → 3 probed cells of 8, so pruning is observable
    queries = (
        emb.filter("vec_id = 0")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    idx = str(tmp_path / "ivf")
    similarity.ivf_index_build(emb, idx, n_cells=8, seed=42)

    mem = similarity.ivf_topk(emb, queries, k=5, n_cells=8, nprobe=3, seed=42)
    disk = similarity.ivf_index_topk(spark, idx, queries, k=5, nprobe=3)
    as_set = lambda df: {tuple(r) for r in df.collect()}
    assert as_set(disk) == as_set(mem)

    # pruning: the cell filter must reach the scan as a PARTITION filter
    # (inputFiles() lists pre-pruning files, so inspect the plan instead)
    probed = sorted(
        {
            c
            for _, c in similarity._probe_cells(
                queries,
                similarity._ivf_centroid_matrix(emb, 8, 42, "vec_id", "embedding"),
                3, "query_id", "query_vec",
            )
        }
    )
    assert 0 < len(probed) < 8
    filtered = spark.read.parquet(f"{idx}/assignments").filter(
        F.col("cell").isin([int(c) for c in probed])
    )
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0] and "PartitionFilters: []" not in pf[0]


def test_incremental_minhash_matches_batch_pairs(spark, sf_dir, tmp_path):
    """Probing a persisted corpus index with an increment must find
    exactly the cross-split pairs the one-shot batch operator finds on
    the union, verified at the same threshold."""
    from real_time_data_pipeline_spark.operators import dedup

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while birds sing in the tall green trees above the quiet meadow"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different text about database engines "
                        "and query optimizers running distributed plans")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        # 10 is a near-dup of corpus doc 1 (one word changed); 20 matches
        # nothing.
        [(10, base.replace("quiet", "silent")),
         (20, "unrelated short note on garbage collection pauses only")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "mh_index")
    dedup.build_minhash_index(corpus, idx, num_perm=128, bands=32)
    got = dedup.incremental_minhash_pairs(
        spark, new, corpus, idx, num_perm=128, bands=32, verify_threshold=0.8
    ).collect()
    assert [(r["corpus_id"], r["new_id"]) for r in got] == [(1, 10)]
    # same pair set the batch path finds across the split on the union
    union = corpus.union(new)
    batch = dedup.minhash_lsh_candidates(
        union, num_perm=128, bands=32, verify_threshold=0.8
    ).collect()
    cross = {(r["id_a"], r["id_b"]) for r in batch
             if (r["id_a"] < 10) != (r["id_b"] < 10)}
    assert cross == {(1, 10)}
    assert got[0]["jaccard_bp"] == [r for r in batch
                                    if (r["id_a"], r["id_b"]) == (1, 10)][0]["jaccard_bp"]
    # appending a later increment's signatures is an append-mode write of
    # the same layout; re-probing then also matches the new docs
    dedup.build_minhash_index(new, idx + "_inc", num_perm=128, bands=32)
    # -- scheme/config marker (round-4 advisor): a probe under a
    # different (n, num_perm, bands) than the index was built with must
    # fail LOUDLY, not silently return empty candidates
    with pytest.raises(ValueError, match="num_perm"):
        dedup.incremental_minhash_pairs(
            spark, new, corpus, idx, num_perm=64, bands=32
        )
    # a marker-less index (pre-versioning, or a foreign parquet dir)
    # is treated as incompatible
    bare = str(tmp_path / "bare_index")
    dedup.minhash_band_hashes(corpus, num_perm=128, bands=32).write.mode(
        "overwrite"
    ).partitionBy("band_idx").parquet(bare)
    with pytest.raises(ValueError, match="_scheme marker"):
        dedup.check_index_meta(spark, bare, 3, 128, 32)
    # the happy path still matches after the marker check
    assert dedup.check_index_meta(spark, idx, 3, 128, 32) is None


# -- centroid_outliers ----------------------------------------------------


def test_centroid_outliers_flags_anti_correlated(spark):
    import math

    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.9, 0.1]),
        (3, 0, [-1.0, 0.0]),   # points away from label-0 centroid
        (4, 1, [0.0, 1.0]),    # label 1 is independent
        (5, 1, [0.0, 0.8]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    got = {
        r["vec_id"]: r.asDict()
        for r in similarity.centroid_outliers(df, min_cos_bp=0).collect()
    }
    # label-0 centroid sum (quantized 1e4, exact): [9000, 1000]
    def bp(v, c):
        dot = sum(a * b for a, b in zip(v, c))
        return math.floor(
            1e4 * dot / (math.sqrt(sum(a * a for a in v)) * math.sqrt(sum(b * b for b in c)))
        )

    c0 = [10000 + 9000 - 10000, 0 + 1000 + 0]  # [9000, 1000]
    assert got[1]["cos_bp"] == bp([10000, 0], c0) and got[1]["is_outlier"] is False
    assert got[3]["cos_bp"] == bp([-10000, 0], c0) and got[3]["is_outlier"] is True
    # label-1 vectors are colinear with their centroid: cos_bp == 9999/10000
    assert got[4]["is_outlier"] is False and got[4]["cos_bp"] >= 9999
    assert got[5]["is_outlier"] is False and got[5]["cos_bp"] >= 9999


def test_centroid_outliers_deterministic_under_repartition(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, i % 3, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    a = {r["vec_id"]: r["cos_bp"] for r in similarity.centroid_outliers(df).collect()}
    b = {
        r["vec_id"]: r["cos_bp"]
        for r in similarity.centroid_outliers(df.repartition(13)).collect()
    }
    assert a == b  # integer centroid => aggregation order cannot matter


def test_pca_matches_numpy_and_recovers_structure(spark):
    import numpy as np

    from real_time_data_pipeline_spark.operators.similarity import (
        pca_fit,
        pca_transform,
    )

    # Synthetic 3-dim data: variance 9 along axis0, 1 along axis1,
    # ~0 along axis2 -> components must come out axis-aligned, ordered.
    rng = np.random.default_rng(7)
    X = np.zeros((400, 3))
    X[:, 0] = 3.0 * rng.standard_normal(400) + 10.0
    X[:, 1] = 1.0 * rng.standard_normal(400) - 5.0
    X[:, 2] = 0.01 * rng.standard_normal(400)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(400)],
        "vec_id long, embedding array<double>",
    ).repartition(7)
    mean, comps, ratio = pca_fit(df, "embedding", k=3)
    assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
    # Orthonormal rows, descending explained variance.
    assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-9)
    assert ratio[0] > ratio[1] > ratio[2] >= 0
    assert abs(comps[0, 0]) > 0.999 and abs(comps[1, 1]) > 0.999
    # Numpy parity of the full fit (covariance path, sign-fixed).
    C = np.cov(X, rowvar=False)
    evals, evecs = np.linalg.eigh(C)
    order = np.argsort(evals)[::-1]
    W = evecs[:, order].T
    for i in range(3):
        j = int(np.argmax(np.abs(W[i])))
        if W[i, j] < 0:
            W[i] = -W[i]
    assert np.allclose(comps, W, atol=1e-8)
    # Projection parity: distributed transform == numpy (X - mu) @ W.T
    got = (
        pca_transform(df, mean, comps, id_cols=["vec_id"], vec_col="embedding")
        .orderBy("vec_id")
        .toPandas()
    )
    S = (X - mean) @ comps.T
    assert np.allclose(got[["pc1", "pc2", "pc3"]].to_numpy(), S, atol=1e-9)


def test_int8_quantization_error_bound_and_roundtrip(spark):
    import numpy as np

    from real_time_data_pipeline_spark.operators.similarity import (
        quantization_error_profile,
        quantize_int8,
    )

    rng = np.random.default_rng(11)
    X = np.column_stack(
        [
            rng.uniform(-3, 7, 200),      # generic dim
            rng.uniform(100, 100.5, 200), # narrow dim -> tiny scale
            np.full(200, 2.5),            # constant dim -> scale 0
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    codes_df, params = quantize_int8(df)
    p = {r["dim"]: r for r in params.collect()}
    codes = {r["vec_id"]: r["codes"] for r in codes_df.collect()}
    assert all(len(c) == 3 for c in codes.values())
    # Constant dim: scale 0, every code 0.
    assert p[2]["scale"] == 0.0
    assert all(c[2] == 0 for c in codes.values())
    # Round-trip error bounded by scale/2 per dim (plus nothing: doubles).
    for i in range(200):
        for d in (0, 1):
            deq = p[d]["mn"] + codes[i][d] * p[d]["scale"]
            assert abs(deq - X[i, d]) <= p[d]["scale"] / 2 + 1e-12
        assert 0 <= codes[i][0] <= 255
    prof = {r["dim"]: r for r in quantization_error_profile(df).collect()}
    assert prof[0]["max_abs_err"] <= p[0]["scale"] / 2 + 1e-12
    assert prof[2]["max_abs_err"] == 0.0
    assert prof[0]["n_vals"] == 200


def test_pq_rerank_matches_exact_topk(spark, sf_dir):
    """PQ = candidate generator + exact re-rank: with the unit-tested
    shortlist coverage (C=100 on the 500-vector corpus), the re-ranked
    top-10 must EQUAL the exact brute-force top-10 wherever the
    shortlist covers it — here it covers all 10."""
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.operators import similarity
    from real_time_data_pipeline_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=16, k=64, iters=3)
    codes = similarity.pq_encode(emb, books)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    got = [
        r["neighbor_id"]
        for r in similarity.pq_topk_rerank(
            emb, codes, books, [(0, qvec)], k=10, shortlist=100
        ).collect()
    ]
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = [
        r["neighbor_id"]
        for r in similarity.cosine_topk(emb, q, k=10).collect()
    ]
    overlap = len(set(got) & set(exact))
    assert overlap >= 9, (got, exact)
    # determinism: a refit yields identical codebooks -> identical result
    books2 = similarity.pq_fit(emb, m=16, k=64, iters=3)
    import numpy as np

    assert np.array_equal(np.asarray(books), np.asarray(books2))


def test_pq_adc_self_match_ranks_first(spark, sf_dir):
    """Raw ADC (no re-rank): the query's own code must score lowest —
    the quantization-consistency sanity check."""
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.operators import similarity
    from real_time_data_pipeline_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=16, k=64, iters=2)
    codes = similarity.pq_encode(emb, books)
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding").first()[0]
    top = similarity.pq_topk(codes, books, [(7, qvec)], k=3)
    assert top.orderBy("adc_d2", "id").first()["id"] == 7


def test_ivfpq_self_match_and_probe_pruning(spark, sf_dir):
    """IVF-PQ: the query's own residual code scores minimal when its
    cell is probed; probing fewer cells only removes candidates (never
    reorders survivors); full probe contains the self-match first."""
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.operators import similarity
    from real_time_data_pipeline_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    Cm, books, codes = similarity.ivfpq_build(
        emb, n_cells=8, m=8, k=16, iters=2
    )
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    probe = [(3, qvec)]
    full = similarity.ivfpq_topk(codes, Cm, books, probe, k=10, nprobe=8)
    rows_full = full.orderBy("adc_d2", "id").collect()
    assert rows_full[0]["id"] == 3  # self-match first under full probe
    pruned = similarity.ivfpq_topk(codes, Cm, books, probe, k=10, nprobe=2)
    ids_pruned = [r["id"] for r in pruned.orderBy("adc_d2", "id").collect()]
    ids_full = [r["id"] for r in rows_full]
    # pruning is candidate REMOVAL: pruned results appear in the full
    # list in the same relative order
    pos = [ids_full.index(i) for i in ids_pruned if i in ids_full]
    assert pos == sorted(pos)
    # build determinism
    Cm2, books2, _ = similarity.ivfpq_build(emb, n_cells=8, m=8, k=16, iters=2)
    import numpy as np

    assert np.array_equal(np.asarray(books), np.asarray(books2))
    assert np.array_equal(np.asarray(Cm), np.asarray(Cm2))


def test_topk_paths_exclude_zero_norm_vectors(spark):
    """A zero-norm embedding has no defined cosine (0/0 -> NaN, which
    ANSI mode turns into a crash at the bp cast); every top-k path must
    EXCLUDE such vectors — as corpus members, as queries, and as IVF
    centroids — and the exact/GEMM/IVF outputs must stay identical
    (round-5 review finding: numpy silently dropped the NaN while the
    exact path blew up)."""
    import random

    from real_time_data_pipeline_spark.operators import similarity

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ] + [(40, [0.0] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id < 3 OR vec_id = 40").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = sorted(map(tuple, similarity.cosine_topk(emb, queries, k=5).collect()))
    gemm = sorted(map(tuple, similarity.cosine_topk_gemm(
        emb, queries, k=5
    ).collect()))
    ivf = sorted(map(tuple, similarity.ivf_topk(
        emb, queries, k=5, n_cells=4, nprobe=4
    ).collect()))
    assert exact == gemm == ivf
    # the zero vector appears neither as a neighbor nor as a query
    assert not any(t[2] == 40 for t in exact)
    assert not any(t[0] == 40 for t in exact)
    assert len({t[0] for t in exact}) == 3


def test_ivf_index_append_equals_one_shot_assignment(spark, sf_dir, tmp_path):
    """ivf_index_append must leave the on-disk index EXACTLY as if the
    full corpus had been assigned against the same frozen centroids in
    one shot (set-equality of (vec_id, cell) rows), and the appended
    index must keep partition pruning (files land INSIDE the existing
    cell directories).  Full-probe top-k equality with brute force is
    covered by the ann_ivf_incremental oracle."""
    from real_time_data_pipeline_spark.operators import similarity
    from real_time_data_pipeline_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    idx = str(tmp_path / "ivf_incr")
    similarity.ivf_index_build(base, idx, n_cells=8, seed=42)
    similarity.ivf_index_append(delta, idx)

    Cm = similarity._ivf_centroid_matrix(base, 8, 42, "vec_id", "embedding")
    expected = {
        (r["vec_id"], r["cell"])
        for r in similarity._ivf_assign(emb, Cm, "vec_id", "embedding")
        .select("vec_id", "cell")
        .collect()
    }
    got = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(f"{idx}/assignments")
        .select("vec_id", "cell")
        .collect()
    }
    assert got == expected
    # pruning still applies post-append
    filtered = spark.read.parquet(f"{idx}/assignments").filter(
        F.col("cell").isin([0, 1])
    )
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0] and "PartitionFilters: []" not in pf[0]


def test_ivf_index_append_retried_batch_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch delivery is at-least-once: a RETRIED micro-batch
    (same batch_id) must dynamically overwrite its own earlier output
    instead of double-appending (ADVICE r7) — including when the first
    attempt wrote only a PARTIAL batch before dying."""
    from collections import Counter

    from real_time_data_pipeline_spark.operators import similarity
    from real_time_data_pipeline_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    idx = str(tmp_path / "ivf_retry")
    similarity.ivf_index_build(base, idx, n_cells=8, seed=42)

    def index_rows():
        return Counter(
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(f"{idx}/assignments")
            .select("vec_id", "cell")
            .collect()
        )

    # partial first attempt: half the batch lands, then the task dies
    similarity.ivf_index_append(delta.filter("vec_id % 20 = 0"), idx, batch_id=0)
    # the retry re-delivers the FULL batch under the same id
    similarity.ivf_index_append(delta, idx, batch_id=0)
    once = index_rows()
    Cm = similarity._ivf_centroid_matrix(base, 8, 42, "vec_id", "embedding")
    expected = Counter(
        (r["vec_id"], r["cell"])
        for r in similarity._ivf_assign(emb, Cm, "vec_id", "embedding")
        .select("vec_id", "cell")
        .collect()
    )
    assert once == expected  # every row exactly once, partial replaced

    # a second identical retry changes nothing
    similarity.ivf_index_append(delta, idx, batch_id=0)
    assert index_rows() == once


def test_incremental_clusters_merges_bridged_clusters(spark, tmp_path):
    """The hard case of incremental cluster maintenance: an increment
    chain whose consecutive docs are near-dups (1-token drift, Jaccard
    ~0.81) connects cluster {A1,A2} to cluster {B1,B2} — previously
    SEPARATE corpus clusters must merge under the chain, and the
    incremental labeling must equal the batch clustering of the union."""
    from real_time_data_pipeline_spark.operators import dedup, graph

    A = [f"alpha{i}" for i in range(30)]
    B = [f"beta{i}" for i in range(30)]
    corpus_rows = [
        (0, " ".join(A)),
        (1, " ".join(A[:-1] + ["alphavar"])),     # near-dup of A1
        (100, " ".join(B)),
        (101, " ".join(B[:-1] + ["betavar"])),    # near-dup of B1
    ]
    # chain doc j replaces the first j+1 tokens of A with B's: each
    # consecutive pair differs by ONE token (3 of ~31 shingles -> ~0.81)
    new_rows = [
        (200 + j, " ".join(B[: j + 1] + A[j + 1 :])) for j in range(30)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    # precondition: the corpus alone really is TWO clusters
    cpairs = dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.8)
    ccc = graph.connected_components(cpairs, "id_a", "id_b")
    labels = graph.attach_components(corpus.select("doc_id"), ccc, "doc_id").select(
        "doc_id", "cluster_id"
    )
    assert {r["cluster_id"] for r in labels.collect()} == {0, 100}

    idx = str(tmp_path / "ccincr")
    dedup.build_minhash_index(corpus, idx, num_perm=128, bands=32)
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.incremental_clusters(
            spark, new, corpus, labels, idx, verify_threshold=0.8
        ).collect()
    }

    union = corpus.union(new)
    upairs = dedup.ngram_jaccard_pairs(union, "doc_id", "text", n=3, threshold=0.8)
    ucc = graph.connected_components(upairs, "id_a", "id_b")
    expected = {
        (r["doc_id"], r["cluster_id"])
        for r in graph.attach_components(union.select("doc_id"), ucc, "doc_id")
        .select("doc_id", "cluster_id")
        .collect()
    }
    assert got == expected
    # and the merge actually happened: every doc in ONE cluster, min id 0
    assert {c for _, c in got} == {0}


def test_prefix_filter_equals_bruteforce_and_prunes(spark, sf_dir):
    """Lossless-prune certificate in pytest terms: the prefix-filter
    output equals the NAIVE all-shared-shingle plan row-for-row, and
    its candidate set is strictly smaller than that pair space.
    (``naive=True`` is required since round 10: the default
    ngram_jaccard_pairs now delegates to prefix_filter_pairs, so
    comparing against the default would be vacuous.)"""
    from real_time_data_pipeline_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard_bp"])
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.8, naive=True
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard_bp"])
        for r in dedup.prefix_filter_pairs(
            docs, "doc_id", "text", n=3, threshold_bp=8000
        ).collect()
    }
    assert got == exact and len(got) > 0

    # the prune is real: prefix collisions << shared-shingle collisions
    ex = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(dedup.shingles_col("text", 3)).alias("shingle"),
    )
    all_pairs = (
        ex.select(F.col("id").alias("id_a"), "shingle")
        .join(ex.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    from pyspark.sql import Window

    wp = Window.partitionBy("id").orderBy(F.asc("n_df"), F.asc("shingle"))
    prefix = (
        ex.join(ex.groupBy("shingle").agg(F.count("*").alias("n_df")), "shingle")
        .join(sizes, "id")
        .withColumn("pos", F.row_number().over(wp))
        .filter(
            F.col("pos")
            <= F.col("n_sh") - F.expr("(n_sh * 8000 + 9999) div 10000") + 1
        )
        .select("id", "shingle")
    )
    cand = (
        prefix.select(F.col("id").alias("id_a"), "shingle")
        .join(prefix.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert cand < all_pairs, (cand, all_pairs)
    assert cand >= len(got)


def test_clean_corpus_pruned_is_recall_superset_of_keeps(spark, sf_dir):
    """The production-plan clean_corpus twin (pruned sign-LSH embedding
    leg) agrees with the certified composition on the quality gate and
    on the exact/minhash signals by construction; its dedup edge set is
    a SUBSET of the exact plan's, so its keeps are a SUPERSET — it can
    never drop a doc the certified plan ships."""
    from real_time_data_pipeline_spark.queries.curation import (
        q_clean_corpus,
        q_clean_corpus_pruned,
    )

    exact = {r.doc_id: r for r in q_clean_corpus(spark, sf_dir).collect()}
    pruned = {
        r.doc_id: r for r in q_clean_corpus_pruned(spark, sf_dir).collect()
    }
    assert set(exact) == set(pruned)
    for d in exact:
        assert exact[d].keep_quality == pruned[d].keep_quality
        # fewer edges -> clusters refine: labels can only grow
        assert exact[d].cluster_id <= pruned[d].cluster_id
    kept_exact = {d for d, r in exact.items() if r.keep_final}
    kept_pruned = {d for d, r in pruned.items() if r.keep_final}
    assert kept_exact <= kept_pruned
