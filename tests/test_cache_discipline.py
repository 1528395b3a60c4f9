"""Unpersist discipline (operators/cache.py).

Operators that persist() multi-consumer intermediates route them
through cache.track; after a caller evaluates the result and calls
cache.release_all(), NO cached blocks may remain in the session —
the leak a long-lived production session would otherwise accumulate
(VERDICT r3 item #4).
"""

from __future__ import annotations

import pytest

from real_time_data_pipeline_spark.operators import cache

SF = "/root/testdata/sf0.001"


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize(
    "qname",
    [
        "dedup_ngram_jaccard",   # ngram_jaccard_pairs shingle persist
        "tfidf_topk",            # text.py token-explode persist
        "bm25_topk",
        "unigram_surprisal",
        "vocab_oov",             # oov_rate token persist
        "dedup_minhash_lsh",     # banded signature persist
        "dedup_pipeline",        # near_dup_verdicts prep + pair persists
    ],
)
def test_registry_query_leaves_no_cached_blocks(spark, qname):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[qname]
    fn(spark, SF).write.mode("overwrite").format("noop").save()
    assert cache.n_tracked() > 0, "query was expected to track a persist"
    cache.release_all()
    assert _n_cached(spark) == 0
    assert cache.n_tracked() == 0


def test_release_all_is_idempotent_and_scoped(spark):
    df = spark.range(10)
    user_cached = spark.range(5).cache()
    user_cached.count()
    cache.track(df)
    df.count()
    assert cache.release_all() == 1
    assert cache.release_all() == 0
    # application-owned caches are untouched
    assert _n_cached(spark) == 1
    user_cached.unpersist()


def test_scoped_release_isolates_concurrent_runners(spark):
    """cache.scoped(): frames tracked inside a scope are released on
    scope exit only, and release_all() from another logical runner
    cannot touch them — the per-caller isolation the round-4 advisor
    asked for (release_all alone is global across threads)."""
    outside = spark.range(20)
    cache.track(outside)  # global-tracked, simulating another runner
    outside.count()
    with cache.scoped() as frames:
        inner = spark.range(30)
        cache.track(inner)
        inner.count()
        assert frames == [inner]
        # a concurrent release_all() must NOT free the scope's frame
        assert cache.release_all() == 1  # released `outside` only
        assert inner.storageLevel.useMemory
    # scope exit released `inner`
    assert not inner.storageLevel.useMemory
    assert _n_cached(spark) == 0
    assert cache.n_tracked() == 0


def test_scoped_nests(spark):
    with cache.scoped() as outer:
        a = cache.track(spark.range(5))
        a.count()
        with cache.scoped() as inner:
            b = cache.track(spark.range(6))
            b.count()
            assert inner == [b] and outer == [a]
        assert not b.storageLevel.useMemory
        assert a.storageLevel.useMemory
    assert not a.storageLevel.useMemory


def test_bpe_distributed_loop_releases_local_checkpoints(spark):
    """learn_bpe_merges' distributed round loop localCheckpoints per
    round; every one of those blocks must be freed before return (the
    merge table is driver-local — DataFrame.unpersist cannot free a
    local checkpoint, so the operator releases the LogicalRDD blocks
    explicitly).  Regression: this leaked 5 blocks per call."""
    from real_time_data_pipeline_spark.operators.text import learn_bpe_merges

    base = _n_cached(spark)
    df = spark.createDataFrame(
        [(1, "low low lower newest newest widest")], "doc_id long, text string"
    )
    # driver_vocab_limit=0 forces the distributed per-round path
    learn_bpe_merges(df, n_merges=3, driver_vocab_limit=0).collect()
    assert _n_cached(spark) == base


def test_cc_fixpoint_holds_at_most_one_resident_checkpoint(spark):
    """The distributed CC fixpoint supersedes each round's local
    checkpoint; only the FINAL edge snapshot may stay resident (it
    backs the lazy result and dies with the plan) — previously every
    round's snapshot stayed pinned."""
    from real_time_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    base = _n_cached(spark)
    # path graph 0-1-2-...-9 forces several fixpoint rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long"
    )
    comp = connected_components(edges, "src", "dst", broadcast_limit=0)
    assert comp.agg({"component": "min"}).collect()[0][0] == 0
    assert _n_cached(spark) - base <= 1


def test_release_local_checkpoint_frees_blocks_and_noops_elsewhere(spark):
    base = _n_cached(spark)
    c = spark.range(100).localCheckpoint()
    assert _n_cached(spark) == base + 1
    assert cache.release_local_checkpoint(c)
    assert _n_cached(spark) == base
    # non-checkpoint plan: no-op, returns False
    assert not cache.release_local_checkpoint(spark.range(5))
    assert _n_cached(spark) == base


def _rdd_blocks(spark) -> set[int]:
    """Ids of RDDs that hold blocks in the block store."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_checkpoint_registers_and_release_frees_one_frame(spark):
    base = _rdd_blocks(spark)
    a = cache.checkpoint(spark.range(10))
    b = cache.checkpoint(spark.range(20))
    assert cache.n_tracked() == 2
    assert len(_rdd_blocks(spark) - base) == 2
    assert cache.release(a)
    assert not cache.release(a)  # already gone
    assert not cache.release(spark.range(3))  # never registered
    assert cache.n_tracked() == 1 and b.count() == 20
    cache.release_all()
    assert _rdd_blocks(spark) <= base


_FOLDS = [
    "stream_rollup_incremental",
    "stream_cdc_apply",
    "stream_ohlc",
    "stream_join_view_incremental",
]


@pytest.mark.parametrize("qname", _FOLDS)
def test_stream_fold_state_is_engine_side_and_released(spark, qname):
    """The driver-state folds keep their state as registered engine-side
    checkpoints: the result is readable after the stream, and
    release_all() leaves no tracked frame and no block behind."""
    import __spark_entry__ as entrymod

    base = _rdd_blocks(spark)
    df = entrymod.queries()[qname](spark, SF)
    assert df.count() > 0
    assert cache.n_tracked() >= 1
    cache.release_all()
    assert cache.n_tracked() == 0
    assert _rdd_blocks(spark) <= base


def test_stream_fold_raising_mid_stream_leaks_nothing(spark, monkeypatch):
    """A fold that fails after checkpointing its state surfaces the
    error, and the state it had registered is still freed by
    release_all()."""
    import __spark_entry__ as entrymod
    from real_time_data_pipeline_spark.queries import reference_parity

    real = reference_parity.swap_state

    def swap_then_fail(holder, merged):
        real(holder, merged)
        raise RuntimeError("fold failed mid-stream")

    monkeypatch.setattr(reference_parity, "swap_state", swap_then_fail)
    base = _rdd_blocks(spark)
    with pytest.raises(Exception, match="fold failed mid-stream"):
        entrymod.queries()["stream_cdc_apply"](spark, SF)
    assert cache.n_tracked() == 1
    cache.release_all()
    assert cache.n_tracked() == 0
    assert _rdd_blocks(spark) <= base


def test_swap_state_frees_the_state_it_replaces(spark):
    from real_time_data_pipeline_spark.queries.reference_parity import (
        swap_state,
    )

    base = _rdd_blocks(spark)
    holder = {"state": spark.range(5)}  # lazy seed: nothing to free
    for i in range(3):
        swap_state(holder, holder["state"].union(spark.range(i, i + 1)))
        assert cache.n_tracked() == 1
        assert len(_rdd_blocks(spark) - base) == 1
    assert holder["state"].count() == 8
    cache.release_all()
    assert _rdd_blocks(spark) <= base


def test_fold_state_lands_in_the_callers_scope(spark):
    """foreachBatch runs the fold on another thread; bind_scope still
    files its checkpoints under the scope that started the stream."""
    import __spark_entry__ as entrymod

    base = _rdd_blocks(spark)
    with cache.scoped() as frames:
        df = entrymod.queries()["stream_ohlc"](spark, SF)
        assert df.count() > 0
        assert len(frames) == 1
        assert cache.n_tracked() == 0
    assert _rdd_blocks(spark) <= base
