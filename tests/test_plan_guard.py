"""Plan-assertion guard: no unbounded BroadcastNestedLoopJoin anywhere
in the registry (VERDICT r5 item #6).

A BroadcastNestedLoopJoin is O(|left| x |right|) — correct Spark output,
catastrophic at 100 TB unless the broadcast (build) side is PROVABLY
bounded: a global aggregate with no grouping keys (exactly 1 row), an
explicit limit / TakeOrderedAndProject (<= k rows), or a literal
LocalTableScan.  Today every BNL in the suite is one of those (1-row
totals frames, bounded query/anchor sets); this test walks every
registry query's physical plan and fails loudly if a future change
ships a BNL whose build side streams data-scale rows — the accidental
cartesian product this guard exists to catch.

The walk runs on the JVM SparkPlan tree (not the explain text): for
each BroadcastNestedLoopJoin node, follow the build side (BuildLeft /
BuildRight) down through row-preserving operators (Project / Filter /
exchanges / codegen wrappers / sorts) until a bounding node proves the
row count, or anything else fails the query.  AdaptiveSparkPlan
wrappers are unwrapped via their current physical plan.

Building the DataFrames executes any eager parts of a query (streaming
availableNow folds, index builds) at sf0.001, so the whole sweep stays
in unit-test budget.
"""

from __future__ import annotations

import pytest

# Bounding nodes: emit a provably small row count regardless of input
# size.  Aggregates bound ONLY with empty grouping keys (checked below).
_AGG_PREFIXES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
_LIMIT_PREFIXES = (
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
    "CollectLimit",
)
# Row-preserving (or row-reducing) single-child wrappers it is safe to
# walk through on the way to a bounding node.
_PASS_PREFIXES = (
    "Project",
    "Filter",
    "BroadcastExchange",
    "Exchange",
    "ShuffleExchange",
    "Sort",
    "WholeStageCodegen",
    "InputAdapter",
    "ColumnarToRow",
    "AQEShuffleRead",
    "Coalesce",
    "ReusedExchange",  # child points at the original (checked) exchange
    "Generate",  # explode of a bounded frame stays bounded (array fanout
    #              is schema-bounded, not data-bounded)
    "Expand",  # fixed multiplicity
    "Window",  # row-preserving
    "DeserializeToObject",
    "SerializeFromObject",
    "MapInPandas",  # row-wise transform of a bounded input stays bounded
)


def _children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _unwrap_adaptive(node):
    if node.nodeName().startswith("AdaptiveSparkPlan"):
        return _unwrap_adaptive(node.executedPlan())
    return node


def _is_bounded(node) -> bool:
    node = _unwrap_adaptive(node)
    name = node.nodeName()
    if name.startswith(_AGG_PREFIXES):
        ge = node.groupingExpressions()
        if ge.isEmpty():
            return True  # global aggregate: exactly one row
        # group-by-SPARK_PARTITION_ID(): <= numPartitions rows (the
        # two-phase distributed-rank recipe's boundary frame)
        if all(
            "SPARK_PARTITION_ID" in ge.apply(i).toString().upper()
            for i in range(ge.size())
        ):
            return True
        # keyed aggregate: bounded only if its input is bounded
        kids = _children(node)
        return len(kids) == 1 and _is_bounded(kids[0])
    if name.startswith(_LIMIT_PREFIXES):
        return True
    if name.startswith("LocalTableScan") or name.startswith("EmptyRelation"):
        return True  # literal rows, bounded by construction
    if name.startswith("Range"):
        # spark.range with literal bounds: compile-constant cardinality
        # (lookup grids, bucket-densify frames).  Cap at 2^20 rows so a
        # huge literal range can't ride the proof into a broadcast.
        try:
            n = node.numElements()
            return int(n if isinstance(n, int) else n.longValue()) <= (1 << 20)
        except Exception:
            return False
    if name.startswith("BroadcastQueryStage") or name.startswith(
        "ShuffleQueryStage"
    ):
        return _is_bounded(node.plan())
    if name.startswith("InMemoryTableScan"):
        # cached frame: boundedness comes from the cached plan
        return _is_bounded(node.relation().cachedPlan())
    if name.startswith(
        ("BroadcastNestedLoopJoin", "CartesianProduct", "BroadcastHashJoin")
    ):
        # a join of two bounded frames is bounded (<= n*m small rows)
        kids = _children(node)
        return len(kids) >= 2 and all(_is_bounded(k) for k in kids[:2])
    if name.startswith(_PASS_PREFIXES):
        kids = _children(node)
        return len(kids) == 1 and _is_bounded(kids[0])
    return False


def _walk(node):
    node = _unwrap_adaptive(node)
    yield node
    for c in _children(node):
        yield from _walk(c)


def _bnl_violations(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan()
    bad = []
    for node in _walk(plan):
        if not node.nodeName().startswith("BroadcastNestedLoopJoin"):
            continue
        left, right = _children(node)[:2]
        build = right if "BuildRight" in node.buildSide().toString() else left
        if not _is_bounded(build):
            bad.append(
                f"{node.nodeName()} build side not provably bounded:\n"
                + build.treeString()
            )
    return bad


# BNL build sides that are bounded by DATASET SEMANTICS the physical
# plan cannot prove.  Adding a query here is a deliberate, reviewed act:
# state WHY the build side cannot exceed broadcast size at any corpus
# scale.  Everything else must pass the structural proof above.
SEMANTICALLY_BOUNDED = {
    # anchor/probe sets selected by a literal id predicate (filter
    # `id < k` over a unique id: <= k rows at any scale)
    "ann_bruteforce_topk": "5-probe query set (vec_id < N_QUERIES)",
    "embed_search": "single probe doc (doc_id == 0)",
    "dedup_embedding": "anchor set vec_id-bounded for the exact leg",
    "blocking_eval": "100-doc evaluation anchor set (doc_id < 100)",
    "knn_label_noise": "50-probe anchor set (vec_id < 50)",
    "hard_negatives": "5-probe anchor set (vec_id < 5)",
    "hybrid_rrf": "single-row literal query-vector frame "
    "(createDataFrame of the one query text)",
    "ann_pq_shortlist_superset": "5-probe anchor set (the exact leg's "
    "query frame), same bound as ann_pq_topk's siblings",
    "ann_ivfpq_shortlist_superset": "5-probe anchor set (the exact "
    "leg's query frame), same bound as ann_pq_shortlist_superset",
    # group-by-SPARK_PARTITION_ID boundary frame: <= numPartitions rows
    # (the two-phase distributed-rank recipe); the plan groups by the
    # projected attribute, so the expression-level proof can't see it
    "revenue_concentration": "partition-id boundary frame, <= 32 rows",
    # |sources|^2 / |group|^2 grids: key cardinality is a schema-level
    # constant (a handful of source labels / day buckets), not data-scale
    "source_dup_matrix": "|sources|^2 grid, sources is a tiny enum",
    "source_overlap": "|sources|^2 grid, sources is a tiny enum",
    "value_correlation": "|metric-day|^2 grid over a bounded day window",
}


# Queries ALLOWED to run Python in the plan, and only the Arrow-batched
# kind — each is a site where no JVM builtin exists.  Row-at-a-time
# BatchEvalPython is never allowed: it is the 10-100x slow path the
# repo's UDF policy (SURVEY.md §3) bans outright.
_ARROW_PY_PREFIXES = (
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
)
ARROW_PYTHON_ALLOWED = {
    # multimodal tier: codec/DSP work over binary columns — no JVM
    # builtin decodes/tiles/resamples media (operators/multimodal.py)
    "mm_image_decode", "mm_image_downsample", "mm_image_tiles",
    "mm_frame_sample", "mm_keyframes", "mm_audio_stats",
    "mm_audio_segments", "mm_phash_near_dup",
    # vectorized numpy GEMM / codebook scans over packed float arrays
    # (operators/similarity.py: Arrow-batched, the documented fast path)
    "ann_gemm_topk", "ann_pq_topk", "ann_pq_topk_rerank",
    "ann_ivfpq_topk", "ann_pq_shortlist_superset",
    "ann_ivfpq_shortlist_superset", "embedding_pca",
    "embedding_quantization", "kmeans_clusters",
    # bloom-bitmap probe: distributed bit_or bitmap tested vectorized
    # (operators/curation.py:860)
    "decontaminate_bloom", "decontaminate_bloom_verified",
    # streaming stateful twins: applyInPandasWithState is the API
    "stream_dedup_incremental", "stream_heavy_hitters",
    # per-partition Misra-Gries summaries (k-bounded sketch state per
    # partition — no JVM builtin; operators/aggregates.mg_summary)
    "heavy_hitters",
    # IVF probe: numpy argpartition over packed centroid/codebook
    # matrices (operators/similarity.py — Arrow-batched GEMM family)
    "ann_ivf_topk",
    # sign-LSH projections: numpy matmul against the broadcast
    # hyperplane matrix (operators/dedup.embedding_near_dup_lsh)
    "dedup_embedding_lsh", "dedup_embedding_lsh_pruned",
    # the same sign-LSH bucket pass inside the full dedup pipeline's
    # embedding leg (caught once MapInArrow joined the Python prefixes)
    "dedup_pipeline_lsh", "dedup_pipeline_lsh_pruned",
    # BPE trainer's distributed pair-count fallback path
    "bpe_vocab",
}


def _is_python(name: str) -> bool:
    return (
        name.startswith("BatchEvalPython")
        or name.startswith(_ARROW_PY_PREFIXES)
        or "InPandas" in name
    )


# Nodes below which a Python pass runs in another stage (its own tasks,
# so its own Python worker): shuffle and broadcast exchanges, and cached
# scans, which adaptive execution materializes as their own stage.
_STAGE_BOUNDARY_PREFIXES = (
    "Exchange",
    "ShuffleExchange",
    "BroadcastExchange",
    "ReusedExchange",
    "ShuffleQueryStage",
    "BroadcastQueryStage",
    "TableCacheQueryStage",
    "InMemoryTableScan",
)


def _python_per_task(node, crowded: list[str]) -> int:
    """Python workers one task of ``node``'s stage holds at once: its own
    Python node plus those below it up to the next stage boundary
    (summed over zipped children, max over a Union's alternatives).
    Every node where that exceeds one is appended to ``crowded``; cached
    plans are checked as stages of their own."""
    node = _unwrap_adaptive(node)
    name = node.nodeName()
    below = []
    for child in _children(node):
        child = _unwrap_adaptive(child)
        n = _python_per_task(child, crowded)
        cname = child.nodeName()
        if cname.startswith("InMemoryTableScan"):
            _python_per_task(child.relation().cachedPlan(), crowded)
        below.append(0 if cname.startswith(_STAGE_BOUNDARY_PREFIXES) else n)
    if name.startswith("Union"):
        n = max(below, default=0)
    else:
        n = sum(below)
    n += _is_python(name)
    if n > 1:
        crowded.append(name)
    return n


def _python_chains(df) -> list[str]:
    crowded: list[str] = []
    _python_per_task(df._jdf.queryExecution().executedPlan(), crowded)
    return crowded


def _map_in_pandas_nodes(df) -> list[str]:
    """MapInPandas nodes in the plan, cached plans included (a vector
    pass behind a tracked persist runs inside the cached relation)."""
    found = []

    def visit(node):
        for n in _walk(node):
            name = n.nodeName()
            if name.startswith("MapInPandas"):
                found.append(name)
            if name.startswith("InMemoryTableScan"):
                visit(n.relation().cachedPlan())

    visit(df._jdf.queryExecution().executedPlan())
    return found


def _python_eval_nodes(df) -> tuple[list[str], list[str]]:
    """(row_wise, arrow_batched) Python-exec node names in the plan."""
    plan = df._jdf.queryExecution().executedPlan()
    row_wise, arrow = [], []
    for node in _walk(plan):
        name = node.nodeName()
        if name.startswith("BatchEvalPython"):
            row_wise.append(name)
        elif _is_python(name):
            arrow.append(name)
    return row_wise, arrow


# Fat columns: the ones that dominate scan bytes at 100 TB.  A query
# that reads the table but not the column must show a PRUNED scan —
# "text rode along into the shuffle" is the classic silent 100x.
FAT_COLUMNS = {
    ("documents", "text"),
    ("embeddings", "embedding"),
    ("events", "props"),
}
# Module-level permissions: these tiers' queries legitimately consume
# the fat column; anything else scanning it is a pruning regression.
FAT_ALLOWED_MODULES = {
    # selection tokenizes text for DSIR hashed features and the CCNet
    # unigram LM — same front door as the text tier
    ("documents", "text"): {"text", "dedup", "curation", "multimodal",
                            "selection"},
    ("embeddings", "embedding"): {"similarity", "dedup"},
    ("events", "props"): {"reference_parity"},
}
# Reviewed per-query exceptions living outside their natural module.
FAT_ALLOWED_QUERIES = {
    ("documents", "text"): {
        "dedup_containment",  # dedup op, lives in analytics_ext
        # the Merkle manifest's WHOLE job is hashing content — the text
        # scan is the operator, not a pruning miss (lineage_q module)
        "corpus_merkle", "corpus_merkle_append",
    },
}
_SCAN_RE = None


def _fat_scans(df) -> set[tuple[str, str]]:
    """(table, fat_column) pairs this plan's parquet scans READ."""
    import re

    global _SCAN_RE
    if _SCAN_RE is None:
        _SCAN_RE = re.compile(r"FileScan parquet \[([^\]]*)\].*?/(\w+)\.parquet")
    out = set()
    text = df._jdf.queryExecution().executedPlan().treeString()
    for mo in _SCAN_RE.finditer(text):
        cols = {c.split("#")[0].strip() for c in mo.group(1).split(",")}
        tbl = mo.group(2)
        for t, c in FAT_COLUMNS:
            if tbl == t and c in cols:
                out.add((t, c))
    return out


@pytest.fixture(scope="module")
def registry_plan_scan(spark, sf_dir):
    """One pass over every registry query's physical plan; all guard
    tests consume it (building 240+ DataFrames is the expensive part —
    do it once)."""
    from real_time_data_pipeline_spark.queries import _MODULES, all_queries

    name2mod = {}
    for m in _MODULES:
        for k in m.QUERIES:
            name2mod[k] = m.__name__.split(".")[-1]
    scan = {}
    for name, fn in all_queries().items():
        try:
            df = fn(spark, sf_dir)
        except Exception as e:  # a broken query is another test's failure
            pytest.fail(f"{name} failed to build at {sf_dir}: {e}")
        row_wise, arrow = _python_eval_nodes(df)
        scan[name] = {
            "bnl": _bnl_violations(df),
            "py_row": row_wise,
            "py_arrow": arrow,
            "py_chain": _python_chains(df),
            "map_in_pandas": _map_in_pandas_nodes(df),
            "fat": _fat_scans(df),
            "module": name2mod.get(name, "?"),
        }
        spark.catalog.clearCache()
    return scan


def test_fat_columns_pruned_outside_their_tiers(registry_plan_scan):
    """Column-pruning guard: the scan-byte-dominant columns (document
    text, embedding vectors, event props JSON) may reach a parquet scan
    only in the tiers that consume them.  Everything else must show a
    pruned ReadSchema — at 100 TB an unpruned text column turns a
    metadata-sized scan into the whole corpus."""
    bad = {}
    for name, rec in registry_plan_scan.items():
        for key in rec["fat"]:
            if rec["module"] in FAT_ALLOWED_MODULES.get(key, set()):
                continue
            if name in FAT_ALLOWED_QUERIES.get(key, set()):
                continue
            bad.setdefault(name, []).append(
                f"{key[0]}.{key[1]} scanned from module {rec['module']}"
            )
    assert not bad, (
        f"fat columns reach a scan outside their consuming tiers: {bad} — "
        "select() the needed columns before any join/shuffle, or add a "
        "reviewed exception with a reason"
    )


def test_no_unbounded_bnl_in_any_registry_plan(registry_plan_scan):
    failures = {
        name: rec["bnl"]
        for name, rec in registry_plan_scan.items()
        if rec["bnl"] and name not in SEMANTICALLY_BOUNDED
    }
    assert not failures, (
        f"{len(failures)} queries ship an unbounded BroadcastNestedLoopJoin "
        f"(O(n*m) at scale) and are not in the reviewed allowlist: "
        + "; ".join(f"{k}: {v[0][:400]}" for k, v in failures.items())
    )


def test_no_python_row_udf_and_arrow_only_where_reviewed(
    registry_plan_scan,
):
    """Stay-JVM-side guard: no query may ship a row-at-a-time Python
    UDF (BatchEvalPython — the 10-100x slow path), and Arrow-batched
    Python (pandas UDFs / mapInPandas) may appear only in the reviewed
    allowlist of sites where no JVM builtin exists (media decode, numpy
    GEMM, bloom probes, stateful streaming)."""
    row_wise = {
        n: r["py_row"] for n, r in registry_plan_scan.items() if r["py_row"]
    }
    assert not row_wise, (
        "row-at-a-time Python UDF (BatchEvalPython) in the hot path of: "
        f"{row_wise} — rewrite with pyspark.sql.functions or a pandas UDF"
    )
    unreviewed = {
        n: r["py_arrow"]
        for n, r in registry_plan_scan.items()
        if r["py_arrow"] and n not in ARROW_PYTHON_ALLOWED
    }
    assert not unreviewed, (
        "Arrow-batched Python outside the reviewed allowlist: "
        f"{unreviewed} — if a JVM builtin genuinely can't express it, "
        "add the query to ARROW_PYTHON_ALLOWED with a reason"
    )


# Queries allowed to run two Python passes in one task.  Each such task
# holds two Python workers, so the session's worker pool grows past one
# worker per core; adding a query here is a reviewed act with a reason.
PYTHON_CHAIN_ALLOWED = {
    "mm_image_downsample": "downsample re-encodes the bytes that decode "
    "parses next; a stage boundary between the two codec passes would "
    "persist the re-encoded image column only to read it straight back",
}
# The multimodal tier synthesizes its media with a mapInPandas pass
# (attach_fake_image / attach_fake_audio) that stands in for a media
# file scan, so every codec pass chains onto it (mm_image_downsample
# above as well).  Real media arrive through a scan with no Python
# node; persisting the synthetic blobs to split the chain would pin
# every image/audio byte for an unmeasured gain (no benchmark workload
# runs these queries).
PYTHON_CHAIN_ALLOWED.update(
    dict.fromkeys(
        (
            "mm_frame_sample",
            "mm_image_decode",
            "mm_audio_stats",
            "mm_audio_segments",
            "mm_image_tiles",
            "mm_phash_near_dup",
            "mm_keyframes",
        ),
        "media synthesis pass chained onto its codec pass",
    )
)


def test_one_python_worker_per_task(registry_plan_scan):
    """No stage may chain two Python passes with no exchange or cached
    scan between them: each task would hold two Python workers and the
    worker pool would double (the pq_encode → ADC-scoring chain did)."""
    crowded = {
        n: r["py_chain"]
        for n, r in registry_plan_scan.items()
        if r["py_chain"] and n not in PYTHON_CHAIN_ALLOWED
    }
    assert not crowded, (
        f"two Python passes share a task in: {crowded} — fuse them into "
        "one kernel, put a tracked persist between them, or add a "
        "reviewed PYTHON_CHAIN_ALLOWED entry with a reason"
    )


def _is_vector_query(name: str) -> bool:
    return name.startswith(("ann_", "dedup_embedding")) or name in {
        "kmeans_clusters", "embedding_pca", "pca_power_top1", "semdedup",
    }


def test_vector_queries_run_no_map_in_pandas(registry_plan_scan):
    """Vectors enter Python only through the typed Arrow path
    (operators/arrowvec.map_in_arrow): a ``mapInPandas`` vector pass
    materializes one numpy object per cell and emits untyped columns."""
    family = {n for n in registry_plan_scan if _is_vector_query(n)}
    assert "ann_pq_topk" in family and "semdedup" in family
    pandas = {
        n: registry_plan_scan[n]["map_in_pandas"]
        for n in sorted(family)
        if registry_plan_scan[n]["map_in_pandas"]
    }
    assert not pandas, f"mapInPandas in vector queries: {pandas}"


def test_map_in_pandas_guard_sees_cached_plans(spark):
    from real_time_data_pipeline_spark.operators import cache

    def ident(batches):
        yield from batches

    pdf = spark.range(10).mapInPandas(ident, "id long")
    assert _map_in_pandas_nodes(pdf)
    assert _map_in_pandas_nodes(cache.track(pdf).select("id"))
    assert _map_in_pandas_nodes(spark.range(10)) == []
    cache.release_all()


def test_python_chain_guard_catches_a_real_chain(spark):
    """The per-task walk must flag two chained Arrow passes and clear
    them once a cached scan separates them — otherwise a walker
    regression would disarm the guard."""
    from real_time_data_pipeline_spark.operators import cache

    def ident(batches):
        yield from batches

    one = spark.range(100).mapInArrow(ident, "id long")
    assert _python_chains(one) == []
    assert _python_chains(one.mapInArrow(ident, "id long"))
    assert _python_chains(cache.track(one).mapInArrow(ident, "id long")) == []
    cache.release_all()


def test_flagship_plan_has_no_unbounded_bnl(spark):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    df = entry.entry(spark)
    assert not _bnl_violations(df)
    spark.catalog.clearCache()


def test_guard_catches_a_real_unbounded_bnl(spark, sf_dir):
    """The guard must FAIL on a genuine cartesian-style BNL — otherwise
    a regression in the walker (e.g. a new wrapper nodeName silently
    returning bounded) would disarm the whole test."""
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.schemas import load_table

    big = spark.range(1000)
    # data-scale build side (a parquet scan grows with the corpus)
    other = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("rid")
    )
    # non-equi join forces a nested loop; the build side is unbounded
    df = big.join(
        F.broadcast(other), big["id"] > other["rid"] * 2, "inner"
    )
    assert _bnl_violations(df), "guard failed to flag an unbounded BNL"
    # literal ranges are compile-constant ONLY up to the 2^20 cap; a
    # bigger literal must still flag (the cap is the proof's boundary)
    huge = spark.range((1 << 20) + 1).withColumnRenamed("id", "hid")
    df2 = big.join(F.broadcast(huge), big["id"] > huge["hid"], "inner")
    assert _bnl_violations(df2), "over-cap literal range rode the proof"
