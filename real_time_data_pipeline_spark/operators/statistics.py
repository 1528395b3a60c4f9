"""Round-6 statistics tier: market-basket affinity, robust (winsorized)
moments, diversity indices, Pareto frontiers, and interval union —
operator classes the earlier tiers don't cover, each designed so a
DuckDB oracle can recompute it value-for-value (integer arithmetic in
every emitted column; floats never cross an engine boundary).

Scale discipline (the repo-wide rules):
* pair generation only inside a basket equi-join (fanout bounded by
  basket size, never all-pairs);
* corpus-wide totals as 1-row aggregates broadcast back (the
  BNL-against-bounded-build shape tests/test_plan_guard.py certifies);
* rank-selection via the two-phase range-partition recipe
  (queries/analytics_ext.q_gap_sla_quantiles) — no single-partition
  window ever sees a corpus-scale frame;
* sweeps (skyline) run on a value-domain-reduced frame, not raw rows.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def co_occurrence_lift(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pairs: int = 2,
) -> DataFrame:
    """Market-basket co-occurrence with support / confidence / lift in
    integer basis points — the association-rule primitive behind
    "frequently bought together" and feature-affinity audits.

    Shape: distinct (basket, item) pairs are APRIORI-PRUNED before the
    self-join — a pair can reach ``n_ab >= min_pairs`` only if BOTH
    items individually occur in >= min_pairs baskets (support
    monotonicity), so infrequent items are dropped BEFORE pair
    generation, cutting the self-join fanout and the pair-aggregate
    domain without changing the output set (VERDICT r7 #3).  The
    per-item count rides along as a window over the item key (one
    shuffle that replaces the separate item-count aggregate AND the
    downstream count joins), then the frequent rows self-join ON THE
    BASKET KEY (co-partitioned; per-basket fanout is
    C(|frequent items in basket|, 2), bounded by basket size — never
    an item-item cross product), the pair counts are a hash aggregate
    with map-side combine, and the basket total is a 1-row aggregate
    broadcast back.  ``min_pairs`` makes the output a deterministic SET
    (a top-k cut would tie-break arbitrarily at the boundary).

    All ratios are exact integer division (``div``), so the emitted
    numbers are engine-reproducible.  Bigint headroom: the lift
    numerator is 1e4 * n_ab * n_baskets — fine through ~1e14 baskets x
    pairs; past that, reassociate to (1e4 * n_ab div n_a) * n_baskets
    div n_b or move to DECIMAL(38).
    """
    from real_time_data_pipeline_spark.operators import cache

    # items feeds the frequent-item window and the basket total —
    # persist the one distinct-shuffled frame instead of re-aggregating
    # the corpus per consumer.
    items = cache.track(df.select(basket_col, item_col).distinct())
    n_baskets = items.select(basket_col).distinct().agg(
        F.count("*").cast("bigint").alias("n_baskets")
    )
    # Apriori cut ahead of pair generation: per-item basket counts via
    # a window over the item key (per-key, item-frequency-bounded
    # partitions), keep only items that could participate in a
    # qualifying pair.  Counts are taken BEFORE the cut, so surviving
    # pairs report the same n_a/n_b as the unpruned plan.
    fitems = cache.track(
        items.withColumn(
            "n_item",
            F.count("*")
            .over(Window.partitionBy(item_col))
            .cast("bigint"),
        ).filter(F.col("n_item") >= min_pairs)
    )
    a = fitems.select(
        F.col(basket_col).alias("_b"),
        F.col(item_col).alias("item_a"),
        F.col("n_item").alias("n_a"),
    )
    b = fitems.select(
        F.col(basket_col).alias("_b"),
        F.col(item_col).alias("item_b"),
        F.col("n_item").alias("n_b"),
    )
    pairs = (
        a.join(b, "_b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b", "n_a", "n_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    return pairs.crossJoin(F.broadcast(n_baskets)).select(
        "item_a",
        "item_b",
        "n_ab",
        "n_a",
        "n_b",
        F.expr("(10000 * n_ab) div n_baskets").alias("support_bp"),
        F.expr("(10000 * n_ab) div n_a").alias("conf_a_bp"),
        F.expr("(10000 * n_ab * n_baskets) div (n_a * n_b)").alias(
            "lift_bp"
        ),
    )


# Range partitions of distributed_ranks; ranks are partitioning-
# independent by construction.
RANK_PARTITIONS = 32


def _ranks_pair(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """:func:`distributed_ranks` plus the persisted repartitioned source
    it is built from — callers that need a second pass over the SAME
    rows (median_mad's deviation pass, winsorized_stats' clamp pass)
    read ``parted`` directly instead of re-deriving it through the rank
    joins (r11, guide §5: the select-through-ranked shape recomputed the
    rank assembly once per extra consumer because Catalyst cannot prune
    inner joins it cannot prove key-unique)."""
    from real_time_data_pipeline_spark.operators import cache

    # ONE full-data exchange (the range partition), then a LOCAL sort;
    # in-partition row numbers come from monotonically_increasing_id
    # over the sorted, persisted frame (consecutive per partition by
    # construction: pid * 2^33 + local row index) instead of a
    # row_number window — the window's ClusteredDistribution(pid, g)
    # requirement hash-repartitioned the ENTIRE frame a second time
    # (r11, guide §2.4; plan evidence: Exchange hashpartitioning(pid, g)
    # in plans/r11/price_median_mad_before.txt, gone in the after plan).
    # Determinism: (v, s) is unique per group (s is the tie-break seq —
    # the operator contract), so the local sort order, hence every id,
    # is reproducible on recompute; group rows are contiguous within a
    # sorted partition, so j = _mid - min(_mid over pid, g) + 1 is
    # exactly the old per-(pid, g) row_number.  (2^33 rows per partition
    # bound the id scheme — far beyond any real partition.)
    parted = cache.track(
        df.repartitionByRange(RANK_PARTITIONS, "g", "v", "s")
        .sortWithinPartitions("g", "v", "s")
        .select(
            "*",
            F.spark_partition_id().alias("pid"),
            F.monotonically_increasing_id().alias("_mid"),
        )
    )
    # One tiny aggregate serves the in-partition id base, the
    # cross-partition offsets, and the group totals.
    cnts = parted.groupBy("pid", "g").agg(
        F.count("*").alias("cnt"), F.min("_mid").alias("_mn")
    )
    lower = cnts.select(
        F.col("pid").alias("lo_pid"),
        F.col("g").alias("lo_g"),
        F.col("cnt").alias("lo_cnt"),
    )
    offsets = (
        cnts.join(
            F.broadcast(lower),
            (F.col("lo_g") == F.col("g")) & (F.col("lo_pid") < F.col("pid")),
            "left",
        )
        .groupBy("pid", "g", "_mn")
        .agg(F.coalesce(F.sum("lo_cnt"), F.lit(0)).alias("offset"))
    )
    totals = cnts.groupBy("g").agg(F.sum("cnt").cast("bigint").alias("n"))
    ranked = (
        parted.join(F.broadcast(offsets), ["pid", "g"])
        .withColumn("j", F.col("_mid") - F.col("_mn") + F.lit(1))
        .withColumn("r", F.col("offset") + F.col("j"))
        .drop("_mid", "_mn")
        .join(F.broadcast(totals), "g")
    )
    return ranked, parted


def distributed_ranks(df: DataFrame) -> DataFrame:
    """Two-phase fully-distributed per-group ranks (the
    gap_sla_quantiles recipe factored out): input must carry columns
    ``g`` (group), ``v`` (bigint value), ``s`` (tie-break seq); output
    adds ``r`` (1-based rank of v within g by (v, s)) and ``n`` (group
    size), plus ``pid``.  ONE range-repartition on (g, v, s) + local
    sort, in-partition row numbers from the persisted frame's
    monotonic ids, partition-count offsets folded by a broadcast
    triangular join — no single-partition window and (since r11) no
    second full-data exchange at any scale.  ``RANK_PARTITIONS`` (32)
    sizes the range partitioning; ranks are partitioning-independent by
    construction, so sizing it to data volume changes no result."""
    return _ranks_pair(df)[0]


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    seq_col: str,
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> DataFrame:
    """Per-group winsorized mean — robust central tendency with the
    tails clamped to EXACT discrete percentiles (value at rank
    ceil(q*n/100); pure-integer rank targets, so any q is cross-engine
    exact — the gap_sla_quantiles argument applied to moments).

    Ranks come from :func:`distributed_ranks`; the two boundary values
    per group then broadcast back onto the raw rows for the clamp + one
    hash aggregate.

    Output: (group, n, p_lo_c, p_hi_c, win_mean_c, win_sum_c) — all
    bigint.
    """
    src = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("bigint").alias("v"),
        F.col(seq_col).alias("s"),
    )
    ranked, src_parted = _ranks_pair(src)
    # The clamp pass needs only the raw (g, v) rows — read them from the
    # PERSISTED repartitioned source instead of through the rank
    # assembly (r11: select-through-ranked re-ran the rank joins for
    # the exact same rows because Catalyst cannot prune them).
    parted = src_parted.select("g", "v")
    lo_expr = f"(n * {lo_pct} + 99) div 100"
    hi_expr = f"(n * {hi_pct} + 99) div 100"
    bounds = (
        ranked.filter(
            (F.col("r") == F.expr(lo_expr)) | (F.col("r") == F.expr(hi_expr))
        )
        .groupBy("g", "n")
        .agg(
            F.max(
                F.when(F.col("r") == F.expr(lo_expr), F.col("v"))
            ).alias("p_lo_c"),
            F.max(
                F.when(F.col("r") == F.expr(hi_expr), F.col("v"))
            ).alias("p_hi_c"),
        )
    )
    clamped = parted.join(F.broadcast(bounds), "g").select(
        "g",
        "n",
        "p_lo_c",
        "p_hi_c",
        F.greatest(F.col("p_lo_c"), F.least(F.col("p_hi_c"), F.col("v"))).alias(
            "w"
        ),
    )
    return (
        clamped.groupBy("g", "n", "p_lo_c", "p_hi_c")
        .agg(F.sum("w").cast("bigint").alias("win_sum_c"))
        .select(
            F.col("g").alias(group_col),
            "n",
            "p_lo_c",
            "p_hi_c",
            F.expr("win_sum_c div n").alias("win_mean_c"),
            "win_sum_c",
        )
    )


def gini_simpson(
    df: DataFrame,
    group_col: str,
    item_col: str,
) -> DataFrame:
    """Gini-Simpson diversity index per group in integer basis points:
    1 - sum_i (n_i/n)^2, emitted as ((n^2 - sum n_i^2) * 1e4) div n^2 —
    a RATIONAL quantity, so unlike Shannon entropy (whose log makes the
    last ulp libm-dependent) it is integer-exact on every engine.  The
    mix-concentration monitor for "is this user/source dominated by one
    event type".

    Two hash aggregates with map-side combine; no window, no shuffle
    beyond the group keys.  Bigint headroom: n^2 * 1e4 overflows past
    n ~ 9.6e5 per group — at that point emit ((n^2 - ss) div (n^2 div
    1e4)) instead; at this repo's grain (events per user) n is orders
    of magnitude below.
    """
    counts = df.groupBy(group_col, item_col).agg(
        F.count("*").cast("bigint").alias("n_i")
    )
    return (
        counts.groupBy(group_col)
        .agg(
            F.sum("n_i").cast("bigint").alias("n"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.sum(F.col("n_i") * F.col("n_i")).cast("bigint").alias("ss"),
        )
        .select(
            group_col,
            "n",
            "n_distinct",
            F.expr("((n * n - ss) * 10000) div (n * n)").alias(
                "diversity_bp"
            ),
        )
    )


def skyline_2d(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """2-D Pareto frontier: rows not dominated by any other row, where
    LOWER x is better and HIGHER y is better (a row dominates another if
    it is <= in x AND >= in y with at least one strict).  Ties on both
    axes all survive (no strict dominance between them).

    The sort-sweep identity makes this distributed-cheap: reduce to the
    per-x maximum of y (one hash aggregate — the sweep frame is then
    |distinct x|, bounded by the VALUE DOMAIN, not the row count; bucket
    a continuous x first), run a strict-prefix running max over x
    ascending on that reduced frame (single-partition window is safe
    exactly because the frame is domain-bounded), keep x-values whose
    max beats every earlier one, and join back to recover all tied
    frontier rows.
    """
    per_x = df.groupBy(x_col).agg(F.max(y_col).alias("_ymax"))
    w = Window.orderBy(x_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier_x = (
        per_x.withColumn("_prev", F.max("_ymax").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_ymax") > F.col("_prev")))
        .select(x_col, "_ymax")
    )
    return (
        df.join(F.broadcast(frontier_x), x_col)
        .filter(F.col(y_col) == F.col("_ymax"))
        .select(id_col, x_col, y_col)
    )


def median_mad(
    df: DataFrame,
    group_col: str,
    value_col: str,
    seq_col: str,
) -> DataFrame:
    """Per-group robust center + spread: discrete lower median (value at
    rank ceil(n/2) — integer rank, any engine) and the MAD (median
    absolute deviation: the same discrete median of |v - median|) — the
    outlier-resistant (center, scale) pair that mean/stddev mis-state on
    heavy-tailed data, completing the robust-stats family next to
    :func:`winsorized_stats`.

    Two :func:`distributed_ranks` passes (medians, then deviation
    medians); the per-group medians broadcast back between them — no
    single-partition window, no float anywhere.

    Output: (group, n, median_c, mad_c) — all bigint.
    """
    src = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("bigint").alias("v"),
        F.col(seq_col).alias("s"),
    )
    ranked, parted = _ranks_pair(src)
    med = (
        ranked.filter(F.col("r") == F.expr("(n + 1) div 2"))
        .select("g", F.col("n").alias("n_rows"), F.col("v").alias("median_c"))
    )
    # The deviation pass needs only the raw (g, v, s) rows — read them
    # from the PERSISTED repartitioned source instead of through the
    # rank assembly (r11: select-through-ranked re-ran the rank joins a
    # second time for the exact same rows).
    dev = parted.select("g", "v", "s").join(F.broadcast(med), "g").select(
        "g",
        F.abs(F.col("v") - F.col("median_c")).alias("v"),
        "s",
    )
    dev_ranked = distributed_ranks(dev)
    mad = dev_ranked.filter(F.col("r") == F.expr("(n + 1) div 2")).select(
        "g", F.col("v").alias("mad_c")
    )
    return (
        med.join(F.broadcast(mad), "g")
        .select(
            F.col("g").alias(group_col),
            F.col("n_rows").alias("n"),
            "median_c",
            "mad_c",
        )
    )


def prorate_largest_remainder(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    total_col: str,
    seq_col: str,
) -> DataFrame:
    """Exact proration: split each group's integer ``total_col`` across
    its rows proportional to ``weight_col`` with the largest-remainder
    method — the finance/billing allocation rule where every cent must
    land somewhere and the per-group sum must equal the total EXACTLY
    (floor shares, then the leftover R cents go to the R rows with the
    largest fractional remainder, ties by ``seq_col``).

    Pure integer arithmetic: base = total*w div W, remainder key =
    total*w mod W — no float ever, so the allocation is reproducible on
    any engine.  The windows partition by the group key, so frames are
    bounded by group size (an order's lineitems, an invoice's lines) —
    never data-scale.  One shuffle on the group key; the group totals
    ride the same partitioning.

    Output: (group, seq, weight, alloc_c) with
    SUM(alloc_c) GROUP BY group == total by construction (unit-pinned).
    """
    w_tot = Window.partitionBy(group_col)
    # NB: Spark resolves column names case-insensitively by default, so
    # the weight column and its group total need distinct SPELLINGS,
    # not just distinct cases ("w" vs "W" silently collide).
    base = df.select(
        group_col,
        F.col(seq_col).alias("seq"),
        F.col(weight_col).cast("bigint").alias("wgt"),
        F.col(total_col).cast("bigint").alias("t"),
    ).withColumn("wsum", F.sum("wgt").over(w_tot))
    shared = base.select(
        group_col,
        "seq",
        "wgt",
        "t",
        F.expr("(t * wgt) div wsum").alias("base_c"),
        F.expr("(t * wgt) % wsum").alias("rem_key"),
        (
            F.col("t")
            - F.sum(F.expr("(t * wgt) div wsum")).over(w_tot)
        ).alias("R"),
    )
    rank = F.row_number().over(
        Window.partitionBy(group_col).orderBy(F.desc("rem_key"), F.asc("seq"))
    )
    return shared.withColumn("rk", rank).select(
        group_col,
        "seq",
        F.col("wgt").alias("weight_c"),
        (
            F.col("base_c")
            + F.when(F.col("rk") <= F.col("R"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_c"),
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    seq_col: str,
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value whose
    cumulative weight reaches half the group's total (2*cum >= W) — the
    quantity-weighted "typical price" a plain median mis-states when row
    weights differ by orders of magnitude.

    The cumulative weight comes from
    operators/aggregates.scalable_running_sum (two-phase distributed
    prefix sum — no group funnels through one task), and the boundary
    row is selected by the exact integer crossing condition
    2*cum >= W AND 2*(cum - w) < W, which holds for EXACTLY one row per
    group — no min_by / second aggregate needed.

    Output: (group, total_weight, wmedian_c) — all bigint.
    """
    from real_time_data_pipeline_spark.operators.aggregates import (
        scalable_running_sum,
    )

    src = df.select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("bigint").alias("v"),
        F.col(weight_col).cast("bigint").alias("wt"),
        F.col(seq_col).alias("s"),
    )
    cum = scalable_running_sum(
        src,
        group_cols=["g"],
        order_cols=["v", "s"],
        value_col="wt",
        out_col="cum",
    )
    tot = cum.groupBy("g").agg(F.max("cum").cast("bigint").alias("W"))
    return (
        cum.join(F.broadcast(tot), "g")
        .filter(
            (F.lit(2) * F.col("cum") >= F.col("W"))
            & (F.lit(2) * (F.col("cum") - F.col("wt")) < F.col("W"))
        )
        .select(
            F.col("g").alias(group_col),
            F.col("W").alias("total_weight"),
            F.col("v").alias("wmedian_c"),
        )
    )


def clamped_running_balance(
    df: DataFrame,
    key_col: str,
    order_col: str,
    seq_col: str,
    delta_col: str,
) -> DataFrame:
    """Per-key running balance that clamps at zero — the
    ledger/inventory recurrence b_i = max(0, b_{i-1} + delta_i), which
    looks window-inexpressible (each row depends on the clamped
    previous row) but has the exact closed form

        b_i = cum_i - min(0, min_{k<=i} cum_k)

    over the UNclamped prefix sums: the clamp only ever binds at a new
    negative running minimum (if cum_i >= the old floor, the floor is
    unchanged; if cum_i dips below it, the balance pins to 0 and the
    floor moves to cum_i), so subtracting the running floor replays
    every clamp at once.  Two windows over the same (key, order, seq)
    frame — no recursion, no per-row Python.

    A clamp EVENT happens exactly when cum_i falls strictly below the
    previous floor (for the first row: when cum_1 < 0).

    Per-key summary output keeps the result grain bounded by the key
    domain: (key, n_events, final_balance_c, peak_balance_c, n_clamps,
    min_cum_c) — all bigint.  The windows partition by key, so frames
    are key-activity-bounded; at 100 TB this shuffles once on the key
    and a pathologically hot key salts upstream (or moves to
    operators/aggregates.scalable_running_sum for the prefix).
    """
    w = Window.partitionBy(key_col).orderBy(order_col, seq_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    cum = df.select(
        key_col,
        order_col,
        seq_col,
        F.col(delta_col).cast("bigint").alias("_d"),
    ).withColumn("_cum", F.sum("_d").over(run))
    stepped = cum.select(
        key_col,
        "_d",
        "_cum",
        F.least(F.lit(0), F.min("_cum").over(run)).alias("_floor"),
        F.when(
            F.col("_cum")
            < F.least(F.lit(0), F.coalesce(F.min("_cum").over(prev), F.lit(0))),
            1,
        )
        .otherwise(0)
        .alias("_clamp"),
    ).withColumn("_bal", F.col("_cum") - F.col("_floor"))
    # final balance = last cum - global floor = sum(delta) - min(0,
    # min cum): closed form again, so the aggregate never depends on
    # within-group row order (F.last in an agg is non-deterministic).
    return stepped.groupBy(key_col).agg(
        F.count("*").cast("bigint").alias("n_events"),
        (
            F.sum("_d") - F.least(F.lit(0), F.min("_cum"))
        )
        .cast("bigint")
        .alias("final_balance_c"),
        F.max("_bal").cast("bigint").alias("peak_balance_c"),
        F.sum("_clamp").cast("bigint").alias("n_clamps"),
        F.min("_cum").cast("bigint").alias("min_cum_c"),
    )


def contingency_chi2(
    df: DataFrame,
    row_col: str,
    col_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Chi-square independence audit of a two-way contingency table,
    emitted per cell in exact integer micro-units so a second engine
    reproduces it bit-for-bit (the statistic everybody computes in
    float, made engine-portable).

    Per cell: observed O, row total R, column total C, grand total N,
    deviation dev = O*N - R*C (the (O - E) numerator scaled by N, still
    integral), and the scaled contribution

        chi2_u6 = dev^2 * scale div (R * C * N)

    which is ``scale`` times the usual (O-E)^2/E cell term (algebra:
    (O - RC/N)^2 / (RC/N) = (ON - RC)^2 / (RCN)).  dev^2 can exceed
    int64 (it is ~N^4 in the worst case), so the square runs in
    DECIMAL(38,0) — Spark's ``div`` on decimals is exact integral
    division as long as the QUOTIENT fits bigint (it is ~scale * N, far
    inside range; the DuckDB twin uses HUGEINT).  Headroom: dev^2 *
    scale < 1e38 holds through N ~ 5e7 rows per table; past that,
    pre-divide dev by 1e3 on both engines.

    Three hash aggregates (cells, row totals, column totals) + a 1-row
    grand total broadcast back — the totals joins broadcast because the
    grain is the CATEGORY DOMAIN, never the row count.
    """
    cells = df.groupBy(row_col, col_col).agg(
        F.count("*").cast("bigint").alias("observed")
    )
    row_tot = df.groupBy(row_col).agg(
        F.count("*").cast("bigint").alias("row_total")
    )
    col_tot = df.groupBy(col_col).agg(
        F.count("*").cast("bigint").alias("col_total")
    )
    grand = df.agg(F.count("*").cast("bigint").alias("n_total"))
    return (
        cells.join(F.broadcast(row_tot), row_col)
        .join(F.broadcast(col_tot), col_col)
        .crossJoin(F.broadcast(grand))
        .select(
            row_col,
            col_col,
            "observed",
            "row_total",
            "col_total",
            "n_total",
            F.expr("observed * n_total - row_total * col_total").alias("dev"),
            F.expr(
                f"(CAST(observed * n_total - row_total * col_total"
                f" AS DECIMAL(38,0))"
                f" * CAST(observed * n_total - row_total * col_total"
                f" AS DECIMAL(38,0))"
                f" * {scale}) div (row_total * col_total * n_total)"
            )
            .cast("bigint")
            .alias("chi2_u6"),
        )
    )


def group_mode(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Exact per-group mode with a DETERMINISTIC tie-break (highest
    count, then smallest value) — the categorical "typical value"
    summary.  Spark's own ``mode()`` aggregate is explicitly
    non-deterministic under ties, which is exactly what a cross-engine
    value hash cannot tolerate, so this selects the winner by total
    order instead.

    One hash aggregate to (group, value, cnt) grain — bounded by the
    VALUE DOMAIN per group, not the row count — then a per-group
    row_number over (cnt desc, value asc).  The window frame is
    domain-bounded, so no data-scale rows ever enter a window.

    Output: (group, mode_value, mode_count, n, share_bp).
    """
    counts = df.groupBy(group_col, value_col).agg(
        F.count("*").cast("bigint").alias("mode_count")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("mode_count"), F.asc(value_col)
    )
    totals = df.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n")
    )
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .join(F.broadcast(totals), group_col)
        .select(
            group_col,
            F.col(value_col).alias("mode_value"),
            "mode_count",
            "n",
            F.expr("(10000 * mode_count) div n").alias("share_bp"),
        )
    )


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
    seq_col: str,
) -> DataFrame:
    """Interval union per key: merge overlapping-or-touching half-open
    [start, end) intervals into maximal spans — coverage timelines,
    validity-window flattening, downtime stitching.

    This is the RUNNING-MAX-of-end algorithm, not the lag-gap rule
    sessionization uses: with variable-length intervals an early long
    interval can envelop several later ones, and comparing each start
    only to its immediate predecessor's end would split spans the union
    actually connects.  A new span starts exactly when start > max(end)
    over ALL earlier intervals of the key (ROWS frame, (start, seq)
    total order — ties pinned for cross-engine determinism).

    One partition-by-key window + one hash aggregate; per-key data
    only, so the shuffle is the key partitioning and skew follows key
    activity (salt a pathological key upstream if one key holds a
    data-scale share).

    Output: (key, span_no, span_start, span_end, n_intervals).
    """
    w = Window.partitionBy(key_col).orderBy(start_col, seq_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.select(
        key_col,
        start_col,
        end_col,
        seq_col,
        F.when(
            prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
        )
        .otherwise(0)
        .alias("_new"),
    )
    spans = flagged.withColumn(
        "span_no",
        F.sum("_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    return spans.groupBy(key_col, "span_no").agg(
        F.min(start_col).alias("span_start"),
        F.max(end_col).alias("span_end"),
        F.count("*").cast("bigint").alias("n_intervals"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
    side_a: str,
    side_b: str,
) -> DataFrame:
    """Per-group Mann-Whitney U (Wilcoxon rank-sum) statistic between
    two sides, in EXACT integers — the nonparametric "did the
    distribution shift" test everybody computes in float, made
    engine-reproducible by emitting 2*U (doubling clears the half
    credit tied pairs contribute: U_a = #{(a,b): a > b} + #{a==b}/2 —
    WINS of side a, the P(a > b) direction).

    Identity used instead of ranking raw rows:

        2*U_a = sum over distinct v of  c_a(v) * (2*lt_b(v) + c_b(v))

    where lt_b(v) is the count of side-b values strictly below v — so
    the work runs at (group, DISTINCT value) grain: one hash aggregate
    of the corpus, then a distributed prefix sum over the count frame
    (operators/aggregates.scalable_running_sum — no group ever funnels
    through one task), then one more hash aggregate.  The rank-sum
    form with midranks would need float tie handling; this pair-count
    form never divides.

    Output: (group, n_a, n_b, u2_a, effect_a_bp) with
    effect_a_bp = (1e4 * 2U_a) div (2 n_a n_b) — the common-language
    effect size P(a > b) + P(a == b)/2 in basis points.  Invariant
    (unit-pinned): u2_a + u2_b == 2 * n_a * n_b.
    """
    from real_time_data_pipeline_spark.operators.aggregates import (
        scalable_running_sum,
    )

    counts = (
        df.filter(F.col(side_col).isin([side_a, side_b]))
        .groupBy(group_col, value_col)
        .agg(
            F.sum(
                F.when(F.col(side_col) == side_a, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("c_a"),
            F.sum(
                F.when(F.col(side_col) == side_b, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("c_b"),
        )
    )
    cum = scalable_running_sum(
        counts,
        group_cols=[group_col],
        order_cols=[value_col],
        value_col="c_b",
        out_col="cum_b",
    )
    return (
        cum.withColumn("lt_b", F.col("cum_b") - F.col("c_b"))
        .groupBy(group_col)
        .agg(
            F.sum("c_a").cast("bigint").alias("n_a"),
            F.sum("c_b").cast("bigint").alias("n_b"),
            F.sum(
                F.col("c_a") * (F.lit(2) * F.col("lt_b") + F.col("c_b"))
            )
            .cast("bigint")
            .alias("u2_a"),
        )
        .select(
            group_col,
            "n_a",
            "n_b",
            "u2_a",
            F.expr("(10000 * u2_a) div (2 * n_a * n_b)").alias(
                "effect_a_bp"
            ),
        )
    )


def ks_statistic(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
    side_a: str,
    side_b: str,
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov statistic in EXACT
    integer basis points: D = max over values of |F_a(v) - F_b(v)|,
    computed as max |cum_a(v) * n_b - cum_b(v) * n_a| over the common
    denominator n_a * n_b — never a float, so any engine reproduces the
    same number.  The distribution-drift statistic that complements the
    Wasserstein monitor (quality.py): KS is the max VERTICAL gap
    between the empirical CDFs, Wasserstein the area between them.

    Shape: one hash aggregate to (group, distinct value) grain, two
    distributed prefix sums over that count frame
    (scalable_running_sum; each is one range exchange — the frame is
    already distinct-value grain, far below corpus scale), one max
    aggregate.  Bigint headroom: cum * n < n^2, safe through n ~ 3e9
    rows per group.

    Output: (group, n_a, n_b, d_num, d_bp) with
    d_bp = (1e4 * d_num) div (n_a * n_b) in [0, 10000].
    """
    from real_time_data_pipeline_spark.operators.aggregates import (
        scalable_running_sum,
    )

    counts = (
        df.filter(F.col(side_col).isin([side_a, side_b]))
        .groupBy(group_col, value_col)
        .agg(
            F.sum(
                F.when(F.col(side_col) == side_a, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("c_a"),
            F.sum(
                F.when(F.col(side_col) == side_b, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("c_b"),
        )
    )
    cum_a = scalable_running_sum(
        counts,
        group_cols=[group_col],
        order_cols=[value_col],
        value_col="c_a",
        out_col="cum_a",
    )
    cum = scalable_running_sum(
        cum_a,
        group_cols=[group_col],
        order_cols=[value_col],
        value_col="c_b",
        out_col="cum_b",
    )
    totals = counts.groupBy(group_col).agg(
        F.sum("c_a").cast("bigint").alias("n_a"),
        F.sum("c_b").cast("bigint").alias("n_b"),
    )
    return (
        cum.join(F.broadcast(totals), group_col)
        .select(
            group_col,
            "n_a",
            "n_b",
            F.abs(
                F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
            ).alias("gap"),
        )
        .groupBy(group_col, "n_a", "n_b")
        .agg(F.max("gap").cast("bigint").alias("d_num"))
        .select(
            group_col,
            "n_a",
            "n_b",
            "d_num",
            F.expr("(10000 * d_num) div (n_a * n_b)").alias("d_bp"),
        )
    )


def fifo_match(
    buys: DataFrame,
    sells: DataFrame,
    key_col: str,
    qty_col: str,
    seq_cols: list[str],
    cost_col: str | None = None,
) -> DataFrame:
    """FIFO lot matching — the inventory/cost-basis recurrence ("each
    sale consumes the oldest remaining lots") that looks like it needs
    a sequential scan but has an exact closed form on CUMULATIVE
    quantities: number buy units and sell units on the same per-key
    axis, then lot b matches sale s for

        overlap(b, s) = max(0, min(cumb_b, cums_s)
                            - max(cumb_b - q_b, cums_s - q_s))

    units — the interval-intersection identity (buy b owns units
    (cumb_b - q_b, cumb_b]; sale s consumes units (cums_s - q_s,
    cums_s]; FIFO is exactly "unit i of consumption takes unit i of
    supply").  Pure integer, order-free once the prefix sums exist, so
    any engine reproduces it.

    Shape: two distributed prefix sums
    (operators/aggregates.scalable_running_sum, ordered by seq within
    key), then a key-equi join + overlap filter + one hash aggregate.
    The join fans out per key as (lots x sales that overlap) — each
    sale touches only the lots it actually consumes + 1, so total pairs
    are O(rows + matches), not |buys| x |sells|; per-key work is
    key-activity-bounded (salt a pathological key upstream, same as
    every per-key operator here).

    Output per key: bought_qty, sold_qty, matched_qty (= min of the
    two), and — when ``cost_col`` is given on the buy side —
    matched_cost_c = sum(overlap * unit cost), the exact FIFO cost of
    goods sold.  unmatched_sell_qty = sold - matched (demand beyond
    inventory).
    """
    from real_time_data_pipeline_spark.operators.aggregates import (
        scalable_running_sum,
    )

    bseq = [F.col(c).alias(f"bs{i}") for i, c in enumerate(seq_cols)]
    sseq = [F.col(c).alias(f"ss{i}") for i, c in enumerate(seq_cols)]
    bcols = [
        F.col(key_col).alias("k"),
        F.col(qty_col).cast("bigint").alias("bq"),
        *bseq,
    ]
    if cost_col is not None:
        bcols.append(F.col(cost_col).cast("bigint").alias("bc"))
    b = buys.select(*bcols)
    s = sells.select(
        F.col(key_col).alias("k"),
        F.col(qty_col).cast("bigint").alias("sq"),
        *sseq,
    )
    bcum = scalable_running_sum(
        b, group_cols=["k"],
        order_cols=[f"bs{i}" for i in range(len(seq_cols))],
        value_col="bq", out_col="cumb",
    )
    scum = scalable_running_sum(
        s, group_cols=["k"],
        order_cols=[f"ss{i}" for i in range(len(seq_cols))],
        value_col="sq", out_col="cums",
    )
    pairs = bcum.join(scum, "k").withColumn(
        "overlap",
        F.greatest(
            F.lit(0),
            F.least(F.col("cumb"), F.col("cums"))
            - F.greatest(
                F.col("cumb") - F.col("bq"), F.col("cums") - F.col("sq")
            ),
        ),
    ).filter(F.col("overlap") > 0)
    matched = pairs.groupBy("k").agg(
        F.sum("overlap").cast("bigint").alias("matched_qty"),
        *(
            [
                F.sum(F.col("overlap") * F.col("bc"))
                .cast("bigint")
                .alias("matched_cost_c")
            ]
            if cost_col is not None
            else []
        ),
    )
    totals = (
        b.groupBy("k")
        .agg(F.sum("bq").cast("bigint").alias("bought_qty"))
        .join(
            s.groupBy("k").agg(
                F.sum("sq").cast("bigint").alias("sold_qty")
            ),
            "k",
            "full_outer",
        )
        .select(
            "k",
            F.coalesce("bought_qty", F.lit(0)).alias("bought_qty"),
            F.coalesce("sold_qty", F.lit(0)).alias("sold_qty"),
        )
    )
    out = totals.join(matched, "k", "left")
    sel = [
        F.col("k").alias(key_col),
        "bought_qty",
        "sold_qty",
        F.coalesce("matched_qty", F.lit(0)).cast("bigint").alias(
            "matched_qty"
        ),
        (
            F.col("sold_qty")
            - F.coalesce("matched_qty", F.lit(0))
        )
        .cast("bigint")
        .alias("unmatched_sell_qty"),
    ]
    if cost_col is not None:
        sel.append(
            F.coalesce("matched_cost_c", F.lit(0))
            .cast("bigint")
            .alias("matched_cost_c")
        )
    return out.select(*sel)


def spearman_rank_stats(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Spearman rank-correlation sufficient statistics in
    EXACT integers: midranks are carried as 2*midrank (min_rank +
    max_rank, always integral — doubling clears the .5 that tied
    midranks introduce), so sum_d2 = sum over rows of
    (2mr_x - 2mr_y)^2 is 4x the classical Sum d_i^2 and never sees a
    float.  rho_bp applies the classical (tie-uncorrected) formula
    rho = 1 - 6*Sum d^2 / (n^3 - n) as
    10000 - (15000 * sum_d2) div (n^3 - n) — Spark's div and DuckDB's
    // BOTH truncate toward zero (verified -7 // 2 = -3 on both), so
    the quotients agree for negative operands too (here they are
    positive anyway); the square
    and the product run in DECIMAL(38,0)/HUGEINT (chi2's recipe).

    Shape: value-count aggregates per axis, one distributed prefix sum
    each (scalable_running_sum) to turn counts into 2*midrank = lt +
    cum + 1 per DISTINCT value, broadcast-join both rank maps onto the
    (g, x, y) cell frame, one final aggregate.  No row ever enters a
    window; rank maps are distinct-value grain.

    Bigint headroom: sum_d2 <= 4n^3 — exact through n ~ 1.3e6 rows per
    group (the repo's gini_simpson-style documented bound); past that
    carry sum_d2 in DECIMAL(38,0) end-to-end.

    Output: (group, n, sum_d2, rho_bp); rho_bp in [-10000, 10000],
    ties uncorrected (the Pearson-on-midranks variant differs under
    heavy ties — this emits the classical d^2 form, stated so the
    consumer knows which convention the number is).
    """
    from real_time_data_pipeline_spark.operators.aggregates import (
        scalable_running_sum,
    )

    def rank2_map(col: str, out: str) -> DataFrame:
        counts = df.groupBy(group_col, col).agg(
            F.count("*").cast("bigint").alias("_n")
        )
        cum = scalable_running_sum(
            counts,
            group_cols=[group_col],
            order_cols=[col],
            value_col="_n",
            out_col="_cum",
        )
        # standard competition midrank over all group rows:
        # min_rank = (cum - n) + 1, max_rank = cum -> 2*midrank = lt+cum+1
        return cum.select(
            group_col,
            col,
            (F.col("_cum") - F.col("_n") + F.col("_cum") + 1).alias(out),
        )

    cells = df.groupBy(group_col, x_col, y_col).agg(
        F.count("*").cast("bigint").alias("n_xy")
    )
    mx = rank2_map(x_col, "mr2_x")
    my = rank2_map(y_col, "mr2_y")
    joined = cells.join(mx, [group_col, x_col]).join(my, [group_col, y_col])
    return (
        joined.groupBy(group_col)
        .agg(
            F.sum("n_xy").cast("bigint").alias("n"),
            F.sum(
                F.col("n_xy")
                * (F.col("mr2_x") - F.col("mr2_y"))
                * (F.col("mr2_x") - F.col("mr2_y"))
            )
            .cast("bigint")
            .alias("sum_d2"),
        )
        .select(
            group_col,
            "n",
            "sum_d2",
            F.expr(
                "CASE WHEN n > 1 THEN"
                " CAST(10000 - (CAST(sum_d2 AS DECIMAL(38,0)) * 15000)"
                " div (CAST(n AS DECIMAL(38,0)) * n * n - n) AS BIGINT)"
                " ELSE NULL END"
            ).alias("rho_bp"),
        )
    )


def classification_report(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision / recall / F1 in EXACT integer basis points —
    the model-evaluation report every pipeline ends with, emitted so a
    second engine reproduces it bit-for-bit (precision_bp = 1e4*tp div
    n_pred, recall_bp = 1e4*tp div n_true, f1_bp = harmonic mean OF THE
    BP VALUES: (2*p*r) div (p+r) — a stated convention, deterministic,
    within 1 bp of the real-valued F1).

    Three domain-grain hash aggregates (true counts, predicted counts,
    diagonal counts) full-outer-joined on the class label — classes
    predicted-but-never-true and true-but-never-predicted both appear,
    with NULL for the ratio whose denominator is zero (never a
    divide-by-zero on either engine).

    Output: (class, n_true, n_pred, tp, precision_bp, recall_bp, f1_bp).
    """
    truth = df.groupBy(F.col(label_col).alias("cls")).agg(
        F.count("*").cast("bigint").alias("n_true")
    )
    pred = df.groupBy(F.col(pred_col).alias("cls")).agg(
        F.count("*").cast("bigint").alias("n_pred")
    )
    diag = (
        df.filter(F.col(label_col) == F.col(pred_col))
        .groupBy(F.col(label_col).alias("cls"))
        .agg(F.count("*").cast("bigint").alias("tp"))
    )
    out = (
        truth.join(pred, "cls", "full_outer")
        .join(diag, "cls", "left")
        .select(
            "cls",
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    return out.select(
        "cls",
        "n_true",
        "n_pred",
        "tp",
        F.expr(
            "CASE WHEN n_pred > 0 THEN (10000 * tp) div n_pred END"
        ).alias("precision_bp"),
        F.expr(
            "CASE WHEN n_true > 0 THEN (10000 * tp) div n_true END"
        ).alias("recall_bp"),
        F.expr(
            "CASE WHEN n_pred > 0 AND n_true > 0"
            " AND (10000 * tp) div n_pred + (10000 * tp) div n_true > 0"
            " THEN (2 * ((10000 * tp) div n_pred)"
            "        * ((10000 * tp) div n_true))"
            "      div ((10000 * tp) div n_pred + (10000 * tp) div n_true)"
            " WHEN n_pred > 0 AND n_true > 0 THEN 0 END"
        ).alias("f1_bp"),
    )


def cohens_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cohen's kappa between two label columns in EXACT integers — the
    inter-annotator / model-vs-model agreement statistic, rational by
    construction:

        kappa = (N * n_agree - sum_i R_i*C_i)
              / (N^2        - sum_i R_i*C_i)

    (multiply the usual (p_o - p_e)/(1 - p_e) through by N^2).  Both
    the numerator and denominator are emitted as exact bigints along
    with kappa_bp = 1e4 * num div den (DECIMAL(38,0) on the Spark side,
    HUGEINT in the oracle — positive-operand div, engine-agreeing).
    Degenerate case (p_e == 1: both raters constant) yields NULL.

    Two domain-grain marginal aggregates joined on the label, one
    agreement count, one 1-row combine — nothing data-scale past the
    first aggregates.

    Output: 1 row (n, n_agree, sum_rc, kappa_num, kappa_den, kappa_bp).
    """
    n_agree = df.filter(F.col(a_col) == F.col(b_col)).agg(
        F.count("*").cast("bigint").alias("n_agree")
    )
    n_tot = df.agg(F.count("*").cast("bigint").alias("n"))
    ra = df.groupBy(F.col(a_col).alias("cls")).agg(
        F.count("*").cast("bigint").alias("r_cnt")
    )
    cb = df.groupBy(F.col(b_col).alias("cls")).agg(
        F.count("*").cast("bigint").alias("c_cnt")
    )
    rc = (
        ra.join(cb, "cls")
        .agg(
            F.sum(F.col("r_cnt") * F.col("c_cnt"))
            .cast("bigint")
            .alias("sum_rc")
        )
        .select(F.coalesce("sum_rc", F.lit(0)).alias("sum_rc"))
    )
    return (
        n_tot.crossJoin(F.broadcast(n_agree))
        .crossJoin(F.broadcast(rc))
        .select(
            "n",
            "n_agree",
            "sum_rc",
            F.expr("n * n_agree - sum_rc").cast("bigint").alias("kappa_num"),
            F.expr("n * n - sum_rc").cast("bigint").alias("kappa_den"),
            F.expr(
                "CASE WHEN n * n - sum_rc > 0 THEN"
                " CAST((CAST(n * n_agree - sum_rc AS DECIMAL(38,0))"
                "       * 10000) div (n * n - sum_rc) AS BIGINT)"
                " END"
            ).alias("kappa_bp"),
        )
    )


def seasonal_median_index(
    df: DataFrame,
    group_col: str,
    season_col: str,
    value_col: str,
    seq_col: str,
) -> DataFrame:
    """Robust seasonal indices: per-(group, season) discrete median
    over the overall per-group median, in integer basis points — the
    outlier-resistant "is March structurally 20% hotter" profile that
    a mean-based index mis-states on heavy-tailed values (the
    median/MAD philosophy applied to seasonality).

    Both medians are exact rank-selects on :func:`distributed_ranks`
    (rank ceil(n/2) — lower median, integer, engine-exact).  The
    seasonal grain runs on a composite key (group, season packed with
    a \\x1f separator — values must not contain it, documented), the
    overall grain on the group alone; the group medians broadcast back
    onto the season rows.  index_bp = 1e4 * season_median div
    overall_median, NULL when the overall median is 0.

    Output: (group, season, n_season, season_median_c,
    overall_median_c, index_bp); group and season come back as strings
    (the composite key round-trips through one concat/split).
    """
    sep = "\x1f"
    src_season = df.select(
        F.concat_ws(
            sep,
            F.col(group_col).cast("string"),
            F.col(season_col).cast("string"),
        ).alias("g"),
        F.col(value_col).cast("bigint").alias("v"),
        F.col(seq_col).alias("s"),
    )
    med_season = (
        distributed_ranks(src_season)
        .filter(F.col("r") == F.expr("(n + 1) div 2"))
        .select(
            F.split_part(F.col("g"), F.lit(sep), F.lit(1)).alias(group_col),
            F.split_part(F.col("g"), F.lit(sep), F.lit(2)).alias("season"),
            F.col("n").alias("n_season"),
            F.col("v").alias("season_median_c"),
        )
    )
    src_all = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(value_col).cast("bigint").alias("v"),
        F.col(seq_col).alias("s"),
    )
    med_all = (
        distributed_ranks(src_all)
        .filter(F.col("r") == F.expr("(n + 1) div 2"))
        .select(
            F.col("g").alias(group_col),
            F.col("v").alias("overall_median_c"),
        )
    )
    return med_season.join(F.broadcast(med_all), group_col).select(
        group_col,
        "season",
        "n_season",
        "season_median_c",
        "overall_median_c",
        F.expr(
            "CASE WHEN overall_median_c <> 0 THEN"
            " (10000 * season_median_c) div overall_median_c END"
        ).alias("index_bp"),
    )


def ols_trend(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    slope_scale: int = 1_000_000,
) -> DataFrame:
    """Per-group least-squares trend line from exact integer sufficient
    statistics — the "is this metric drifting and how fast" estimator,
    engine-reproducible because the classical closed form is rational:

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)

    One hash aggregate collects (n, Sx, Sy, Sxy, Sxx) as bigints; the
    combine runs in DECIMAL(38,0) (HUGEINT in the oracle) and emits
    slope_u = slope * slope_scale by exact integral division, then
    intercept_c = (Sy - (slope_u * Sx) div scale) div n — a STATED
    integer convention (floor at each step), identical on both engines.
    Degenerate groups (all x equal, or n < 2) yield NULLs.

    Center/shrink x upstream (e.g. days since the dataset epoch, not
    epoch micros): the DECIMAL(38,0) headroom needs
    n * Sxy * slope_scale < 1e38 — days-grain x and cents-grain y hold
    through ~1e9 rows per group.

    Output: (group, n, sum_x, sum_y, slope_u, intercept_c).
    """
    s = df.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col(x_col).cast("bigint")).cast("bigint").alias("sum_x"),
        F.sum(F.col(y_col).cast("bigint")).cast("bigint").alias("sum_y"),
        F.sum(
            F.col(x_col).cast("bigint") * F.col(y_col).cast("bigint")
        )
        .cast("bigint")
        .alias("sxy"),
        F.sum(
            F.col(x_col).cast("bigint") * F.col(x_col).cast("bigint")
        )
        .cast("bigint")
        .alias("sxx"),
    )
    num = (
        "CAST(n AS DECIMAL(38,0)) * sxy"
        " - CAST(sum_x AS DECIMAL(38,0)) * sum_y"
    )
    den = (
        "CAST(n AS DECIMAL(38,0)) * sxx"
        " - CAST(sum_x AS DECIMAL(38,0)) * sum_x"
    )
    return s.select(
        group_col,
        "n",
        "sum_x",
        "sum_y",
        F.expr(
            f"CASE WHEN n > 1 AND ({den}) <> 0 THEN"
            f" CAST((({num}) * {slope_scale}) div ({den}) AS BIGINT)"
            " END"
        ).alias("slope_u"),
        F.expr(
            f"CASE WHEN n > 1 AND ({den}) <> 0 THEN"
            f" CAST((sum_y - (((({num}) * {slope_scale}) div ({den}))"
            f"       * CAST(sum_x AS DECIMAL(38,0))) div {slope_scale})"
            " div n AS BIGINT) END"
        ).alias("intercept_c"),
    )


def theil_sen_trend(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    seq_col: str,
    slope_scale: int = 1_000_000,
) -> DataFrame:
    """Theil-Sen robust trend: the median of pairwise slopes — the
    estimator that shrugs off the outliers OLS chases (breakdown point
    ~29%), made engine-exact by a stated convention: each pairwise
    slope is the integer ((y2-y1) * slope_scale) div (x2-x1), and the
    result is the discrete lower median of those integers (rank
    ceil(m/2) over (slope, pair-id)).

    SCALE SHAPE — the pair set is quadratic in the SERIES length, so
    the input must be DOMAIN-REDUCED first: callers pass a per-x
    representative (e.g. the per-day median via rank-select), never
    raw rows.  This operator enforces one y per (group, x) by taking
    the lower median of y within each (group, x) cell itself
    (:func:`distributed_ranks` on the composite key), then self-joins
    the |distinct x| frame per group (x1 < x2) and rank-selects the
    slope median with a second distributed_ranks pass.  At 2,400
    distinct days that is ~2.9M pairs per group — pair-join-bounded by
    the VALUE DOMAIN, the same argument as skyline/chi2.

    Output: (group, n_points, n_pairs, slope_u) — all bigint/NULL when
    fewer than 2 distinct x.
    """
    # Cell medians via a PLAIN (group, x) window: the frame is bounded
    # by one cell's rows at any corpus size (that is what "cell" means),
    # so the two-phase distributed-rank machinery would be pure fixed
    # cost here — it stays reserved for the slope median below, whose
    # per-GROUP frame genuinely grows with the x-domain squared.
    day = (
        df.select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(x_col).cast("bigint").alias("x"),
            F.col(y_col).cast("bigint").alias("y"),
            F.col(seq_col).alias("s"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("grp", "x").orderBy("y", "s")
            ),
        )
        .withColumn(
            "n", F.count("*").over(Window.partitionBy("grp", "x"))
        )
        .filter(F.col("r") == F.expr("(n + 1) div 2"))
        .select("grp", "x", "y")
    )
    from real_time_data_pipeline_spark.operators import cache

    day = cache.track(day)
    a = day.select(
        F.col("grp"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = day.select(
        F.col("grp"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    pairs = (
        a.join(b, "grp")
        .filter(F.col("x1") < F.col("x2"))
        .select(
            "grp",
            F.expr(
                f"((y2 - y1) * {slope_scale}) div (x2 - x1)"
            ).alias("slope"),
            F.expr("x1 * 1000000 + x2").alias("pid"),
        )
    )
    ranked = distributed_ranks(
        pairs.select(
            F.col("grp").alias("g"),
            F.col("slope").alias("v"),
            F.col("pid").alias("s"),
        )
    )
    med = ranked.filter(F.col("r") == F.expr("(n + 1) div 2")).select(
        F.col("g").alias(group_col),
        F.col("n").alias("n_pairs"),
        F.col("v").alias("slope_u"),
    )
    n_points = day.groupBy(F.col("grp").alias(group_col)).agg(
        F.count("*").cast("bigint").alias("n_points")
    )
    return n_points.join(med, group_col, "left").select(
        group_col,
        "n_points",
        F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
        "slope_u",
    )


def change_point_binary(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    scale: int = 100,
) -> DataFrame:
    """Single change-point detection by binary segmentation (the first
    split of Scott & Knott / the CUSUM-location argmax), engine-exact:
    for each candidate split s of the per-group (x, y) series, the
    between-group sum of squares

        SS_b(s) = n_L·n_R/N · (mean_L − mean_R)²
                = (S_L·n_R − S_R·n_L)² / (N·n_L·n_R)

    is evaluated as ``D² · scale div (N·n_L·n_R)`` with the square in
    DECIMAL(38,0) (DuckDB: HUGEINT — the contingency_chi2 recipe), so
    the argmax and the gain itself are exact integers, never a float
    variance.  The winning split maximizes SS_b, which for a single
    change-point equals minimizing total within-segment SSE (the Σy²
    term cancels).  Headroom: |D| ≤ Σ|y|·n ~ 1e12 at sf0.1 → D²·scale
    ~ 1e26 ≪ 1e38; the quotient ~ 1e17 fits bigint through ~1e3× this
    scale — past that, pre-divide y (cents → dollars) on both engines.

    Output per group: (group, split_x — the last x of the left
    segment, n_left, n_right, mean_left, mean_right — exact integral
    divisions, gain_u — SS_b in scale-ths of y-units²).

    Scale shape: one (group, x) hash aggregate is the only data-scale
    shuffle; the candidate sweep is two windows over the x-DOMAIN
    grain (days, not rows) per group; the argmax is a row_number over
    the same partition."""
    pts = df.groupBy(group_col, x_col).agg(
        F.sum(y_col).cast("bigint").alias("y")
    )
    w = Window.partitionBy(group_col).orderBy(x_col)
    wall = Window.partitionBy(group_col)
    cand = (
        pts.select(
            group_col,
            x_col,
            F.row_number().over(w).cast("bigint").alias("n_l"),
            F.sum("y").over(w).cast("bigint").alias("s_l"),
            F.count("*").over(wall).cast("bigint").alias("n"),
            F.sum("y").over(wall).cast("bigint").alias("s"),
        )
        .filter(F.col("n_l") < F.col("n"))
        .select(
            group_col,
            x_col,
            "n_l",
            (F.col("n") - F.col("n_l")).alias("n_r"),
            "s_l",
            (F.col("s") - F.col("s_l")).alias("s_r"),
            "n",
        )
        .withColumn(
            "gain_u",
            F.expr(
                f"(CAST(s_l * n_r - s_r * n_l AS DECIMAL(38,0))"
                f" * CAST(s_l * n_r - s_r * n_l AS DECIMAL(38,0))"
                f" * {scale}) div (n * n_l * n_r)"
            ).cast("bigint"),
        )
    )
    pick = Window.partitionBy(group_col).orderBy(
        F.desc("gain_u"), F.asc(x_col)
    )
    return (
        cand.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            group_col,
            F.col(x_col).alias("split_x"),
            F.col("n_l").alias("n_left"),
            F.col("n_r").alias("n_right"),
            F.expr("s_l div n_l").cast("bigint").alias("mean_left"),
            F.expr("s_r div n_r").cast("bigint").alias("mean_right"),
            "gain_u",
        )
    )


def attribution_u_shape(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
    touch_types: tuple = ("click", "view"),
    convert_type: str = "purchase",
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution with EXACT
    integer allocation — the path-grain upgrade of last-touch: each
    conversion's credit splits over the touches since the user's
    previous conversion as 40% first / 40% last / 20% spread over the
    middles (1 touch → 100%, 2 → 50/50), weights in basis points with
    the 20% remainder distributed to the EARLIEST middles
    (largest-remainder rule on equal fractions), so per conversion the
    weights sum to exactly 10000 and the emitted credit — in
    cents·bp — sums to exactly ``value_c · 10000``.  Pathless
    conversions credit 'direct'.

    Scale shape: one window pass per user assigns every event its
    conversion index (running count of conversions — touches attach to
    the NEXT conversion); position/path-length are a second window on
    the (user, conversion) grain; the value join is conversion-grain;
    the rollup is |touch types|-bounded.  Per-user state is never
    materialized beyond the window frames."""
    w = Window.partitionBy(user_col).orderBy("ts", "event_id")
    is_conv = (F.col(type_col) == convert_type).cast("bigint")
    base = df.select(
        user_col,
        "ts",
        "event_id",
        type_col,
        F.floor(F.coalesce(F.col(value_col), F.lit(0.0)) * 100)
        .cast("bigint")
        .alias("value_c"),
        F.sum(is_conv).over(w).alias("p_upto"),
    )
    convs = base.filter(F.col(type_col) == convert_type).select(
        user_col,
        F.col("p_upto").alias("conv_idx"),
        "value_c",
    )
    touches = base.filter(F.col(type_col).isin(*touch_types)).select(
        user_col,
        type_col,
        "ts",
        "event_id",
        (F.col("p_upto") + 1).alias("conv_idx"),
    )
    wp = Window.partitionBy(user_col, "conv_idx").orderBy("ts", "event_id")
    wk = Window.partitionBy(user_col, "conv_idx")
    pos = touches.select(
        user_col,
        type_col,
        "conv_idx",
        F.row_number().over(wp).cast("bigint").alias("i"),
        F.count("*").over(wk).cast("bigint").alias("k"),
    )
    weighted = pos.withColumn(
        "w_bp",
        F.expr(
            "CASE WHEN k = 1 THEN 10000 "
            "WHEN k = 2 THEN 5000 "
            "WHEN i = 1 OR i = k THEN 4000 "
            "ELSE 2000 div (k - 2) "
            "  + (CASE WHEN i - 1 <= 2000 % (k - 2) THEN 1 ELSE 0 END) "
            "END"
        ).cast("bigint"),
    )
    credited = weighted.join(convs, [user_col, "conv_idx"]).select(
        F.col(type_col).alias("touch_type"),
        (F.col("value_c") * F.col("w_bp")).alias("credit_cbp"),
    )
    direct = (
        convs.join(
            weighted.select(user_col, "conv_idx").distinct(),
            [user_col, "conv_idx"],
            "left_anti",
        )
        .select(
            F.lit("direct").alias("touch_type"),
            (F.col("value_c") * F.lit(10000)).alias("credit_cbp"),
        )
    )
    return (
        credited.unionByName(direct)
        .groupBy("touch_type")
        .agg(
            F.count("*").cast("bigint").alias("n_credits"),
            F.sum("credit_cbp").cast("bigint").alias("credit_cbp"),
        )
    )
