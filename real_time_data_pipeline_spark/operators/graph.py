"""Connected components for duplicate-cluster resolution.

Not in the reference (no graph surface there); this is the missing last
step of the LLM-data dedup pass (SURVEY.md §2.9): pair emitters
(`dedup.ngram_jaccard_pairs`, `dedup.minhash_lsh_candidates`,
`dedup.embedding_near_dup*`) produce EDGES, but a pair list alone
under-deduplicates — if A~B and B~C but A!~C, pairwise min-id survival
keeps A and drops B and C, yet transitively they are ONE duplicate
cluster whose canonical member is min(A,B,C).  Production dedup (e.g.
the C4/RefinedWeb-style pipelines) resolves candidate pairs into
connected components first.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the standard
shared-nothing CC algorithm:

  large-star: for every node u, connect all strictly-larger neighbors to
              m = min(N(u) ∪ {u});
  small-star: orient edges large→small, connect all smaller-or-equal
              neighbors (and u itself) to m.

Both steps are one `Window.partitionBy(node)` min + a projection — a
single hash-partition shuffle each, no joins.  Converges in O(log n)
rounds to a star forest where every node points at its component's
minimum id (vs O(diameter) for naive label propagation, which dies on
chain-shaped clusters).  That round bound is what makes this the 100 TB
shape: a billion-node candidate graph converges in ~30 shuffles of the
EDGE set (bounded by the candidate-pair count, far smaller than the
corpus), not thousands.

Scale notes:
- each iteration ends in a checkpoint — iterative algorithms grow an
  unbounded lineage otherwise and re-execute the whole chain on every
  action.  Default is `localCheckpoint` (fast, but partitions are lost
  on executor failure — a 30-round job dies with them); pass
  ``checkpoint_dir`` for reliable `checkpoint()` to durable storage,
  the production configuration for long iterative jobs.
- convergence test is a count+xxhash64-sum checksum of the edge set:
  2 cheap actions per round on the already-checkpointed frame, no
  driver-side edge materialization.
- a VERIFIED duplicate-pair edge set is usually a tiny fraction of the
  corpus even at 100 TB; when it fits comfortably on the driver
  (``broadcast_limit``), a single-pass union-find beats O(log n)
  shuffle rounds by an order of magnitude, so `connected_components`
  takes that exit and only falls back to the distributed fixpoint for
  genuinely large edge sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import cache
from real_time_data_pipeline_spark.operators.arrowvec import local_frame

# PageRank eager-checkpoint cadence (iterations per checkpoint).
# Results are cadence-independent (integer fixpoint); see pagerank().
PR_CHECKPOINT_EVERY = 2

__all__ = [
    "connected_components",
    "attach_components",
    "pagerank",
    "triangle_stats",
    "khop_reachability",
]


def _checkpointer(spark: SparkSession, checkpoint_dir: str | None):
    """localCheckpoint by default; reliable checkpoint when a dir is
    given (survives executor loss — required for long fixpoints on a
    real cluster)."""
    if checkpoint_dir is None:
        return lambda df: df.localCheckpoint()
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return lambda df: df.checkpoint(eager=True)


def _large_star(e: DataFrame) -> DataFrame:
    """(v, m) for every v in N(u) with v > u, m = min(N(u) ∪ {u})."""
    nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    return (
        nbrs.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient large→small; (v, m) for v in N(u) ∪ {u}, v != m."""
    oriented = e.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    ).distinct()
    w = Window.partitionBy("u")
    star = oriented.withColumn("m", F.min("v").over(w))
    leaves = star.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    centers = star.select("u", F.col("m").alias("v")).distinct()
    return leaves.union(centers).distinct()


def _checksum(e: DataFrame) -> tuple[int, int]:
    # bit_xor, not sum: order-independent, cannot overflow under ANSI
    # mode, and the edge set is distinct so nothing self-cancels.
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _union_find_components(
    pairs: list[tuple[int, int]],
) -> list[tuple[int, int]]:
    """Driver-side union-find with min-id roots: union attaches the
    larger root under the smaller, so find() IS the component's min id.
    Path compression keeps the whole pass O(E α(E))."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    broadcast_limit: int = 1_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Min-id component label for every node that appears in ``edges``.

    Returns ``(node bigint, component bigint)`` with one row per distinct
    node; ``component`` is the minimum node id reachable from it.
    Isolated nodes (absent from ``edges``) are absent here — use
    :func:`attach_components` to label a full corpus.

    When the distinct edge set is at most ``broadcast_limit`` rows it is
    collected and resolved with a single-pass driver union-find instead
    of the shuffle fixpoint: a verified near-dup pair set is edge-sparse
    by construction (candidate-verify bounds it), and 1M edges ≈ 16 MB —
    labeling them on the driver costs one collect vs O(log n) rounds of
    window shuffles + checkpoints.  Set ``broadcast_limit=0`` to force
    the distributed path; the exit is size-gated, not assumed, so the
    100 TB posture is unchanged for genuinely large edge sets.

    ``checkpoint_dir`` switches the fixpoint's lineage control from
    ``localCheckpoint`` (lost on executor failure) to reliable
    ``checkpoint()`` — mandatory on a real cluster for 30-round jobs.

    Raises ``RuntimeError`` if the edge checksum has not stabilized after
    ``max_iter`` alternating rounds (log2-bounded; 30 covers any corpus
    this engine will meet).
    """
    e_plan = (
        edges.select(
            F.col(src).cast("bigint").alias("u"),
            F.col(dst).cast("bigint").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )
    chk = _checkpointer(edges.sparkSession, checkpoint_dir)
    if broadcast_limit > 0:
        # Persist before the size gate so count(), collect, and (on the
        # fall-through path) the first checkpoint all see ONE evaluation
        # of the edge plan: an expensive upstream emitter is not
        # recomputed, and a nondeterministic edge source cannot yield a
        # different edge set between gate and collect (round-4 advisor
        # finding).  Released in the finally whichever branch runs.
        e_plan.persist()
        try:
            if e_plan.count() <= broadcast_limit:
                # collect(), not toLocalIterator(): the size gate already
                # bounds the transfer (<= broadcast_limit rows of two
                # longs ~ 16 MB at the default), and toLocalIterator
                # fetches partitions as SEQUENTIAL mini-jobs — measured
                # ~3x slower on a 32-partition edge set for zero memory
                # benefit once the gate has passed.
                pairs = [(r["u"], r["v"]) for r in e_plan.collect()]
                return local_frame(
                    edges.sparkSession,
                    _union_find_components(pairs),
                    "node bigint, component bigint",
                )
            e = chk(e_plan)
        finally:
            e_plan.unpersist()
    else:
        e = chk(e_plan)
    prev = _checksum(e)
    for _ in range(max_iter):
        e2 = chk(_small_star(_large_star(e)))
        cur = _checksum(e2)
        # e2 is eagerly materialized — the previous round's local
        # checkpoint blocks are dead; without the release a long
        # fixpoint pins O(iterations) superseded edge sets in the block
        # store.  (The FINAL frame stays resident for the lazy result;
        # it is GC'd with the returned plan.)
        cache.release_local_checkpoint(e)
        e = e2
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # Star forest: every non-min node has exactly one out-edge to its
    # component min; the min itself appears only as a destination.
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return members.union(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def attach_components(
    nodes: DataFrame,
    components: DataFrame,
    id_col: str,
) -> DataFrame:
    """Label a corpus with cluster ids: nodes outside any edge are their
    own singleton cluster.  The components side is bounded by the
    candidate-pair node count (a small fraction of the corpus), so at
    scale AQE broadcasts it — no corpus shuffle."""
    return (
        nodes.join(
            components, nodes[id_col] == components["node"], "left"
        )
        .select(
            nodes[id_col],
            F.coalesce(F.col("component"), nodes[id_col]).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping_ppm: int = 850_000,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-point PageRank over an edge list — link-graph importance
    for corpus curation (OPIC/Common-Crawl-style seed weighting: a page's
    rank feeds its crawl/keep priority).  Complements the other iterative
    tiers here (connected components for dedup, k-means for clustering).

    DETERMINISTIC BY CONSTRUCTION: ranks are BIGINT micro-units (1e6 =
    rank 1.0) and every update is integer arithmetic — contribution =
    rank DIV out_degree, damping via DIV 1e6 — so unlike float PageRank
    the result is independent of aggregation order, partitioning, and
    engine.  Truncation loses ≤1 micro-unit per (node, step): rank MASS
    is not exactly conserved (standard for fixed-point PR) but the
    per-node fixpoint is reproducible bit-for-bit, which is what dataset
    lineage needs.  Dangling nodes (no out-edges) leak their mass — the
    usual simplification; redistribute if the graph has heavy sinks.

    Per iteration: one groupBy(dst) sum of contributions (map-side
    combined, shuffle bounded by the edge set) + a co-partitioned join
    back to the rank frame; per-iteration checkpoints cap lineage
    exactly like connected_components (``checkpoint_dir`` selects
    reliable checkpoints for cluster runs, default localCheckpoint).
    O(iters) rounds over the EDGE set — the standard shared-nothing
    shape; holds at 100 TB.

    Returns (node, rank_micro).  `iters` is fixed (no convergence probe)
    so the query cost is predictable; callers wanting a tolerance loop
    can compare successive frames the way graph.connected_components
    checksums rounds."""
    chk = _checkpointer(edges.sparkSession, checkpoint_dir)
    e = edges.select(
        F.col(src_col).cast("bigint").alias("src"),
        F.col(dst_col).cast("bigint").alias("dst"),
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count("*").cast("bigint").alias("deg"))
    ONE = 1_000_000
    base_ppm = ONE - damping_ppm
    # Static per-iteration inputs, prepared ONCE: edges carry their
    # source's out-degree (one join hoisted out of the loop) and are
    # pre-hash-partitioned by src so every iteration's rank join shuffles
    # only the node-sized rank frame, never the edge set; nodes likewise.
    e_deg = (
        e.join(out_deg, "src")
        .repartition(F.col("src"))
        .persist()
    )
    nodes = nodes.repartition(F.col("node")).persist()
    ranks = nodes.withColumn("rank_micro", F.lit(ONE).cast("bigint"))
    prev_chk: DataFrame | None = None
    for i in range(iters):
        contrib = (
            e_deg.join(ranks, e_deg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_micro div deg").cast("bigint").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base_ppm).cast("bigint")
                + F.expr(
                    f"({damping_ppm} * coalesce(in_sum, 0L)) div {ONE}"
                )
            )
            .cast("bigint")
            .alias("rank_micro"),
        )
        # Eager checkpoint every PR_CHECKPOINT_EVERY iterations (and
        # always on the last): truncates lineage and keeps Catalyst from
        # re-analyzing an iters-deep plan tree on the final action
        # (measured 3-4x on a 600k-edge graph vs lazy checkpoints),
        # while dividing the number of rank-frame materializations vs
        # per-iteration checkpoints — a short lineage tail (two joins +
        # one agg per iteration) re-analyzes in ms and re-computes from
        # the previous checkpoint on failure, so the cadence trades
        # nothing structural.  Values are integer arithmetic: checkpoint
        # cadence cannot change them.  2 is measured: the r11 cadence
        # experiment (OPTIMIZATION_r11.md: 1 vs 2 vs 3 same-window at
        # sf0.1) found it the plateau.
        if i % PR_CHECKPOINT_EVERY == PR_CHECKPOINT_EVERY - 1 or i == iters - 1:
            ranks = chk(ranks)
            # The new eager checkpoint supersedes the previous one —
            # release its blocks so the loop holds at most one resident
            # rank snapshot (the final one backs the lazy result and is
            # GC'd with the returned plan).
            if prev_chk is not None:
                cache.release_local_checkpoint(prev_chk)
            prev_chk = ranks
    e_deg.unpersist()
    nodes.unpersist()
    return ranks


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph: triangle count,
    wedge (open-triad) count, and the transitivity ratio in basis
    points — the one-row audit that distinguishes a clique-y duplicate
    graph from a star-shaped one (hub pages duplicated everywhere vs
    mutually-similar clusters).

    ``edges`` needs ``src``/``dst`` columns; direction and duplicates
    are normalized away here.

    Plan (the standard distributed triangle count, cf. Suri & Vassilvitskii
    "Counting Triangles and the Curse of the Last Reducer", WWW'11):
    orient every edge from the lower-degree endpoint to the higher
    (ties by id), so each triangle is counted exactly once and the
    join fan-out of a degree-d hub drops from O(d²) to O(d^{3/2})
    summed over the graph — the skew killer at scale.  Two shuffles:
    one wedge-building self-join on the oriented edge list, one
    semi-join of wedges against the (broadcast-eligible) edge set.
    Wedges come from the degree table alone: sum(d*(d-1)/2).
    """
    canon = cache.track(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("v"))
        .unionAll(canon.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("d_b"))
    oriented = (
        canon.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("d_a") < F.col("d_b"))
                | ((F.col("d_a") == F.col("d_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
    )
    w1 = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("x"))
    w2 = oriented.select(F.col("lo").alias("pivot"), F.col("hi").alias("y"))
    wedges_o = (
        w1.join(w2, "pivot")
        .filter(F.col("x") < F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
    )
    tri_n = wedges_o.join(canon, ["a", "b"], "left_semi").count()
    stats = canon.agg(F.count("*").cast("bigint").alias("n_edges")).crossJoin(
        deg.agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) DIV 2")).cast("bigint").alias("n_wedges"),
        )
    )
    # canon stays tracked (not released here): the returned lazy plan
    # still reads it for n_edges/degrees; callers release via cache
    # (bench/parity release_all after each query, same as the jaccard ops).
    spark = edges.sparkSession
    return stats.crossJoin(
        local_frame(spark, [(int(tri_n),)], "n_triangles bigint")
    ).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "CAST(CASE WHEN n_wedges > 0 THEN FLOOR(1e4 * 3 * n_triangles / n_wedges) ELSE 0 END AS BIGINT)"
        ).alias("transitivity_bp"),
    )


def khop_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Bounded-radius BFS: minimum hop distance (<= k) from a seed set
    over a DIRECTED edge list (pass both directions for an undirected
    graph) — blast-radius / neighborhood-expansion queries: "everything
    within k links of these contaminated documents / flagged suppliers
    / seed URLs".  min-hops is order-independent, so the result is
    deterministic under any partitioning or join order.

    Classic frontier BFS, k rounds: expand the frontier through the
    edge set (inner join on src), drop already-visited nodes
    (left_anti), fold the survivors into the visited frame at hop h.
    Each round's shuffle is bounded by the FRONTIER fanout, never the
    corpus; the edge set is pre-hash-partitioned by src ONCE and
    persisted, so every round shuffles only the (node-sized) frontier
    side.  The visited frame checkpoints per round (same lineage
    discipline as connected_components/pagerank — k-deep join trees
    re-analyze and re-execute otherwise).  O(k) rounds of edge-bounded
    work: the same shape at 1e9 edges, where k stays single-digit and
    the frontier saturates (worst case |V| rows) rather than exploding.

    Returns (node bigint, min_hops bigint); seeds are hop 0.  Nodes
    further than k hops are absent (the caller knows the cut is k —
    "absent" is a verdict, not a truncation).
    """
    chk = _checkpointer(edges.sparkSession, checkpoint_dir)
    e = (
        edges.select(
            F.col(src_col).cast("bigint").alias("src"),
            F.col(dst_col).cast("bigint").alias("dst"),
        )
        .distinct()
        .repartition(F.col("src"))
        .persist()
    )
    levels = [
        chk(
            seeds.select(
                F.col(seeds.columns[0]).cast("bigint").alias("node")
            )
            .distinct()
            .withColumn("min_hops", F.lit(0).cast("bigint"))
        )
    ]
    visited = levels[0]
    frontier = visited.select("node")
    for h in range(1, k + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        # Only the LEVEL checkpoints (it feeds the next round's join,
        # anti-join, and emptiness probe); `visited` stays a lazy union
        # of checkpointed levels — k is single-digit, so that lineage is
        # flat and re-materializing the growing union every round would
        # be the dominant cost, not a saving.
        nxt = chk(nxt.withColumn("min_hops", F.lit(h).cast("bigint")))
        # An empty frontier means the component is exhausted before the
        # radius is: stop spending rounds (limit-1 probe on the already-
        # checkpointed level).
        if nxt.isEmpty():
            break
        levels.append(nxt)
        visited = visited.union(nxt)
        frontier = nxt.select("node")
    e.unpersist()
    return visited
