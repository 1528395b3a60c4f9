"""Round-6 extension tier: market-basket affinity, winsorized robust
moments, Gini-Simpson diversity, Pareto skyline, and interval union —
five operator classes (operators/statistics.py) the registry did not
cover, each with a full DuckDB oracle.

These extend the reference's analytics surface (its rollups stop at
per-month group-aggs — src/config/spark_config.yml:62,68-69) with the
shapes a telemetry / curation platform reaches for next: association
rules over order baskets, tail-robust price statistics, mix-
concentration monitoring, cost/latency Pareto frontiers, and coverage-
span flattening.

Conventions as everywhere: integer cents via FLOOR(value*100), integer
basis points, microsecond epochs via unix_micros/epoch_us, every
computed column aliased identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators.statistics import (
    co_occurrence_lift,
    gini_simpson,
    merge_intervals,
    skyline_2d,
    winsorized_stats,
)
from real_time_data_pipeline_spark.schemas import load_table

MIN_PAIRS = 2
HOLD_BASE_S = 60
HOLD_MOD_S = 3600


def q_itemset_lift(spark, sf_dir):
    """Part-pair association rules over order baskets
    (operators/statistics.co_occurrence_lift): distinct (order, part)
    baskets, pair counts from the basket equi-join, support/confidence/
    lift in integer bp, min_pairs=2 so the output is a deterministic
    set."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    return co_occurrence_lift(
        li, "l_orderkey", "l_partkey", min_pairs=MIN_PAIRS
    )


def q_winsorized_price_stats(spark, sf_dir):
    """Per-priority winsorized order-price mean
    (operators/statistics.winsorized_stats): tails clamped at the exact
    discrete p05/p95 (rank ceil(q*n/100) via the two-phase distributed
    rank recipe), then one integer-cents aggregate — the robust moment
    a price monitor alerts on."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("price_c"),
        "o_orderkey",
    )
    return winsorized_stats(
        orders, "o_orderpriority", "price_c", "o_orderkey"
    )


def q_user_type_diversity(spark, sf_dir):
    """Gini-Simpson diversity of each user's event-type mix in integer
    bp (operators/statistics.gini_simpson) — rational, so integer-exact
    cross-engine where Shannon entropy's log would be libm-dependent."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    return gini_simpson(ev, "user_id", "event_type")


def q_order_skyline(spark, sf_dir):
    """Pareto frontier of orders on (earlier date, higher price)
    (operators/statistics.skyline_2d): the orders no other order beats
    on both axes — sweep on the per-date max frame (|dates| rows), all
    ties kept."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("price_c"),
    )
    return skyline_2d(orders, "o_orderkey", "o_orderdate", "price_c")


def q_interval_merge(spark, sf_dir):
    """Per-user coverage spans from variable-length activity intervals
    (operators/statistics.merge_intervals): each event holds the user
    active for (value_c % 3600 + 60) seconds, overlapping-or-touching
    holds merge via the running-max-of-end union (NOT the lag-gap rule
    — an early long hold can envelop several later ones).  Output spans
    in epoch micros."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("start_us"),
        "event_id",
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("value_c"),
    )
    iv = ev.select(
        "user_id",
        "start_us",
        (
            F.col("start_us")
            + (F.col("value_c") % HOLD_MOD_S + HOLD_BASE_S)
            * F.lit(1_000_000)
        ).alias("end_us"),
        "event_id",
    )
    return merge_intervals(iv, "user_id", "start_us", "end_us", "event_id")


FUNNEL_STEPS = ["signup", "click", "purchase"]  # queries/analytics.py order


def q_funnel_latency(spark, sf_dir):
    """Exact conversion-latency quantiles for the signup→click→purchase
    funnel: per user the EARLIEST signup, the earliest click strictly
    after it, the earliest purchase strictly after that (the
    funnel_counts step rule), latency = purchase - signup in µs, then
    discrete p50/p90/p99 by integer rank-select over the converted-user
    latencies (operators/statistics.distributed_ranks — the
    gap_sla_quantiles recipe, so no float and no single-partition
    window touches the user-scale frame).  The "how long does
    conversion take" report next to funnel_counts' "how many
    convert"."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    t1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(t1, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("us").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(t2, "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id", "t1")
        .agg(F.min("us").alias("t3"))
    )
    lat = t3.select(
        F.lit("all").alias("g"),
        (F.col("t3") - F.col("t1")).alias("v"),
        F.col("user_id").alias("s"),
    )
    from real_time_data_pipeline_spark.operators.statistics import (
        distributed_ranks,
    )

    ranked = distributed_ranks(lat)
    targets = {
        "p50_us": "(n * 50 + 99) div 100",
        "p90_us": "(n * 90 + 99) div 100",
        "p99_us": "(n * 99 + 99) div 100",
    }
    cond = None
    for t in targets.values():
        c = F.col("r") == F.expr(t)
        cond = c if cond is None else (cond | c)
    return (
        ranked.filter(cond)
        .groupBy("n")
        .agg(
            *[
                F.max(
                    F.when(F.col("r") == F.expr(expr), F.col("v"))
                ).alias(name)
                for name, expr in targets.items()
            ]
        )
        .select(
            F.col("n").alias("n_converted"), "p50_us", "p90_us", "p99_us"
        )
    )


def q_order_proration(spark, sf_dir):
    """Largest-remainder allocation of each order's total across its
    lineitems (operators/statistics.prorate_largest_remainder):
    proportional to extended price, floor shares + remainder cents to
    the largest fractional remainders — pure integer, and the per-order
    allocation sums to the order total EXACTLY (the billing invariant,
    unit-pinned).  Window frames bounded by basket size, one shuffle on
    the order key."""
    from real_time_data_pipeline_spark.operators.statistics import (
        prorate_largest_remainder,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)").alias("w_c"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("total_c"),
    )
    joined = li.join(orders, "l_orderkey")
    return prorate_largest_remainder(
        joined, "l_orderkey", "w_c", "total_c", "l_linenumber"
    ).select(
        "l_orderkey",
        F.col("seq").alias("l_linenumber"),
        "weight_c",
        "alloc_c",
    )


def q_weighted_median_price(spark, sf_dir):
    """Quantity-weighted exact median extended price per return flag
    (operators/statistics.weighted_median): cumulative weights via the
    two-phase distributed prefix sum, boundary row by the integer
    crossing rule 2*cum >= W > 2*(cum - w) — one row per group, no
    float."""
    from real_time_data_pipeline_spark.operators.statistics import (
        weighted_median,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)").alias(
            "price_c"
        ),
        F.expr("CAST(l_quantity AS BIGINT)").alias("qty"),
        F.expr("l_orderkey * 10 + l_linenumber").alias("seq"),
    )
    return weighted_median(li, "l_returnflag", "price_c", "qty", "seq")


def q_price_median_mad(spark, sf_dir):
    """Robust (median, MAD) of order price per priority
    (operators/statistics.median_mad): discrete lower medians by
    integer rank-select, two distributed_ranks passes — the
    outlier-resistant twin of the winsorized mean."""
    from real_time_data_pipeline_spark.operators.statistics import (
        median_mad,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("price_c"),
        "o_orderkey",
    )
    return median_mad(orders, "o_orderpriority", "price_c", "o_orderkey")


BALANCE_CREDIT_TYPES = ("signup", "purchase")  # +delta; the rest debit
REACH_OFFSET = 1_000_000_000  # supplier node ids, disjoint from parts
REACH_K = 4
REACH_SEED_MOD = 5  # seed = suppliers with s_suppkey % 5 == 0 (non-empty at every SF)


def q_clamped_balance(spark, sf_dir):
    """Per-user zero-clamped running wallet balance
    (operators/statistics.clamped_running_balance): signup/purchase
    events credit FLOOR(value*100) cents, everything else debits, and
    the balance can never go below zero — the ledger recurrence
    b = max(0, b + delta) replayed in closed form (cum minus its
    negative running floor), two windows, no recursion, no per-row
    Python.  Output per user: final/peak balance, clamp count, raw
    cumulative minimum."""
    from real_time_data_pipeline_spark.operators.statistics import (
        clamped_running_balance,
    )

    ev = _balance_events(spark, sf_dir)
    return clamped_running_balance(ev, "user_id", "us", "event_id", "delta_c")


def q_supplier_reach(spark, sf_dir):
    """Blast-radius BFS (operators/graph.khop_reachability): minimum
    hop distance within 4 hops from the seed suppliers (every 5th supplier key) over the
    UNDIRECTED bipartite part<->supplier supply graph (supplier node
    ids offset into a disjoint range, both edge directions emitted) —
    "which parts and co-suppliers does a recall at these suppliers
    touch, and how directly".  min-hops is order-independent, hence
    oracle-exact; the DuckDB twin is a bounded WITH RECURSIVE."""
    from real_time_data_pipeline_spark.operators.graph import (
        khop_reachability,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    fwd = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + F.lit(REACH_OFFSET)).alias("dst"),
    )
    rev = li.select(
        (F.col("l_suppkey") + F.lit(REACH_OFFSET)).alias("src"),
        F.col("l_partkey").alias("dst"),
    )
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % REACH_SEED_MOD == 0)
        .select((F.col("s_suppkey") + F.lit(REACH_OFFSET)).alias("node"))
    )
    return khop_reachability(fwd.union(rev), seeds, k=REACH_K)


def q_priority_status_chi2(spark, sf_dir):
    """Chi-square independence audit of order priority x status
    (operators/statistics.contingency_chi2): per-cell observed counts,
    marginals, and the (O*N - R*C)^2 * 1e6 div (R*C*N) contribution —
    exact integer micro-units, DECIMAL(38,0) square so nothing
    overflows, three domain-grain hash aggregates + broadcast
    marginals.  The drift-monitor primitive for "did the status mix
    shift within a priority class"."""
    from real_time_data_pipeline_spark.operators.statistics import (
        contingency_chi2,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    )
    return contingency_chi2(orders, "o_orderpriority", "o_orderstatus")


def q_segment_mode(spark, sf_dir):
    """Exact per-nation modal market segment
    (operators/statistics.group_mode): highest count, ties to the
    smallest value — deterministic where Spark's own mode() aggregate
    is documented not to be.  Domain-grain aggregate + domain-bounded
    window; share of the nation's customers in integer bp."""
    from real_time_data_pipeline_spark.operators.statistics import group_mode

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    )
    return group_mode(cust, "c_nationkey", "c_mktsegment")


def _balance_events(spark, sf_dir):
    """Shared (user_id, us, event_id, delta_c) projection for the batch
    and streaming clamped-balance twins — one sign convention, pinned
    once."""
    credits = ", ".join(f"'{t}'" for t in BALANCE_CREDIT_TYPES)
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.expr(
            f"CASE WHEN event_type IN ({credits})"
            " THEN CAST(FLOOR(value * 100) AS BIGINT)"
            " ELSE -CAST(FLOOR(value * 100) AS BIGINT) END"
        ).alias("delta_c"),
    )


RANK_SIDE_A = "F"
RANK_SIDE_B = "O"


def q_rank_sum_test(spark, sf_dir):
    """Per-priority Mann-Whitney U between finished (F) and open (O)
    order prices (operators/statistics.mann_whitney_u): 2*U in exact
    integers via the distinct-value pair-count identity (no float
    midranks), distributed prefix sum over the count frame — the
    nonparametric "did prices shift" test as a reproducible number."""
    from real_time_data_pipeline_spark.operators.statistics import (
        mann_whitney_u,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("price_c"),
    )
    return mann_whitney_u(
        orders,
        "o_orderpriority",
        "o_orderstatus",
        "price_c",
        RANK_SIDE_A,
        RANK_SIDE_B,
    )


def q_ks_price_drift(spark, sf_dir):
    """Per-priority two-sample Kolmogorov-Smirnov D between finished
    and open order prices in exact basis points
    (operators/statistics.ks_statistic): max CDF gap over the common
    denominator n_a*n_b — the drift statistic next to the Wasserstein
    monitor, never a float."""
    from real_time_data_pipeline_spark.operators.statistics import (
        ks_statistic,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("price_c"),
    )
    return ks_statistic(
        orders,
        "o_orderpriority",
        "o_orderstatus",
        "price_c",
        RANK_SIDE_A,
        RANK_SIDE_B,
    )


FIFO_BUY_TYPE = "purchase"
FIFO_SELL_TYPE = "click"
FIFO_QTY_MOD_B = 50
FIFO_QTY_MOD_S = 30
FIFO_COST_MOD = 997


def q_fifo_attribution(spark, sf_dir):
    """Exact FIFO lot matching per user (operators/statistics.
    fifo_match): purchases acquire lots (qty = value_c % 50 + 1 at unit
    cost value_c % 997 + 1), clicks consume them oldest-first (qty =
    value_c % 30 + 1), and the matched cost of goods sold comes from
    the cumulative-interval-intersection identity — no sequential scan,
    two distributed prefix sums + one key join.  The inventory /
    cost-basis operator class (FIFO COGS, queue attribution) as an
    engine-exact number."""
    from real_time_data_pipeline_spark.operators.statistics import fifo_match

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("value_c"),
    )
    buys = ev.filter(F.col("event_type") == FIFO_BUY_TYPE).select(
        "user_id",
        (F.col("value_c") % FIFO_QTY_MOD_B + 1).alias("qty"),
        "us",
        "event_id",
        (F.col("value_c") % FIFO_COST_MOD + 1).alias("unit_cost_c"),
    )
    sells = ev.filter(F.col("event_type") == FIFO_SELL_TYPE).select(
        "user_id",
        (F.col("value_c") % FIFO_QTY_MOD_S + 1).alias("qty"),
        "us",
        "event_id",
    )
    return fifo_match(
        buys,
        sells,
        "user_id",
        "qty",
        ["us", "event_id"],
        cost_col="unit_cost_c",
    )


def q_spearman_qty_price(spark, sf_dir):
    """Exact Spearman rank-correlation statistics between lineitem
    quantity and extended price per return flag
    (operators/statistics.spearman_rank_stats): 2x-midranks keep ties
    integral, sum_d2 and the classical rho in bp are engine-exact —
    the monotone-association monitor next to value_correlation's
    Pearson."""
    from real_time_data_pipeline_spark.operators.statistics import (
        spearman_rank_stats,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(l_quantity AS BIGINT)").alias("qty"),
        F.expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)").alias(
            "price_c"
        ),
    )
    return spearman_rank_stats(li, "l_returnflag", "qty", "price_c")


PRED_RULE = (
    "CASE WHEN price_c % 10 < 3 THEN 'F'"
    " WHEN price_c % 10 < 7 THEN 'O' ELSE 'P' END"
)


def q_status_prediction_report(spark, sf_dir):
    """Per-class precision/recall/F1 in exact bp
    (operators/statistics.classification_report) for a deterministic
    price-derived status predictor vs the true order status — the
    model-evaluation report as an engine-exact artifact (the predictor
    is a fixed rule, so the metrics are data-only and reproducible)."""
    from real_time_data_pipeline_spark.operators.statistics import (
        classification_report,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("price_c"),
    ).select(
        F.col("o_orderstatus").alias("label"),
        F.expr(PRED_RULE).alias("pred"),
    )
    return classification_report(orders, "label", "pred")


def q_annotator_agreement(spark, sf_dir):
    """Cohen's kappa between the true status and the price-derived
    predictor (operators/statistics.cohens_kappa): chance-corrected
    agreement as exact integers — numerator, denominator, and kappa in
    bp (N*n_agree - sum RC over N^2 - sum RC)."""
    from real_time_data_pipeline_spark.operators.statistics import (
        cohens_kappa,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("price_c"),
    ).select(
        F.col("o_orderstatus").alias("label"),
        F.expr(PRED_RULE).alias("pred"),
    )
    return cohens_kappa(orders, "label", "pred")


def q_quality_score_auc(spark, sf_dir):
    """Exact ROC-AUC of document length as an is-English classifier
    score, via the Mann-Whitney identity AUC = U/(n_pos*n_neg)
    (operators/statistics.mann_whitney_u — effect_a_bp IS the AUC in
    bp, ties credited half).  The ranking-metric eval as a reproducible
    integer; at 100 TB it is one count aggregate + one distinct-value
    prefix sum, never a sort of the corpus."""
    from real_time_data_pipeline_spark.operators.statistics import (
        mann_whitney_u,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        F.lit("all").alias("g"),
        F.expr(
            "CASE WHEN lang = 'en' THEN 'pos' ELSE 'neg' END"
        ).alias("side"),
        F.col("n_chars").cast("bigint").alias("score"),
    )
    return mann_whitney_u(docs, "g", "side", "score", "pos", "neg").select(
        F.col("n_a").alias("n_pos"),
        F.col("n_b").alias("n_neg"),
        F.col("u2_a").alias("u2"),
        F.col("effect_a_bp").alias("auc_bp"),
    )


def q_monthly_price_index(spark, sf_dir):
    """Robust seasonal price profile per priority
    (operators/statistics.seasonal_median_index): month-of-year median
    order price over the priority's overall median, in integer bp —
    exact rank-select medians on the shared distributed-ranks
    machinery, outlier-proof where a mean index is not."""
    from real_time_data_pipeline_spark.operators.statistics import (
        seasonal_median_index,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.month("o_orderdate").alias("mon"),
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("price_c"),
        "o_orderkey",
    )
    return seasonal_median_index(
        orders, "o_orderpriority", "mon", "price_c", "o_orderkey"
    )


TREND_EPOCH = "1992-01-01"


def q_price_trend_ols(spark, sf_dir):
    """Per-priority least-squares price trend
    (operators/statistics.ols_trend): x = days since the dataset epoch,
    y = price cents; slope in micro-cents/day and the floor-convention
    intercept, from exact integer sufficient statistics combined in
    DECIMAL(38,0) — drift-rate estimation as an engine-exact number
    (both engines' integral division truncates toward zero, verified
    on negatives)."""
    from real_time_data_pipeline_spark.operators.statistics import ols_trend

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr(f"datediff(o_orderdate, DATE '{TREND_EPOCH}')").alias("xd"),
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("price_c"),
    )
    return ols_trend(orders, "o_orderpriority", "xd", "price_c")


def q_theil_sen_price_trend(spark, sf_dir):
    """Robust per-priority price trend
    (operators/statistics.theil_sen_trend): day-grain median prices,
    then the discrete median of integer-scaled pairwise slopes — the
    outlier-proof counterpart of price_trend_ols (breakdown ~29% vs
    0%).  Pair generation runs on the WEEK-domain-reduced frame (~350
    points/group -> ~60k pairs; the day-grain config measured 10 s at
    sf0.1 for no extra estimator quality — grain is the pair-count
    knob, chosen at the query layer), never raw orders."""
    from real_time_data_pipeline_spark.operators.statistics import (
        theil_sen_trend,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr(
            f"datediff(o_orderdate, DATE '{TREND_EPOCH}') div 7"
        ).alias("xw"),
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("price_c"),
        "o_orderkey",
    )
    return theil_sen_trend(
        orders, "o_orderpriority", "xw", "price_c", "o_orderkey"
    )


def q_stream_clamped_balance(spark, sf_dir):
    """Streaming twin of `clamped_balance` on the SAME oracle: the
    event log ARRIVES AS A STREAM in time order (staged as 8
    range-partitioned-by-(us, event_id) files with strictly increasing
    mtimes, maxFilesPerTrigger=2 → 4 chronological micro-batches), and
    the zero-clamp recurrence folds per user inside
    streaming/stateful.clamped_balance_stateful
    (applyInPandasWithState) — the genuinely NON-ASSOCIATIVE stateful
    operator class: unlike the CDC/rollup twins, no merge of partials
    can replace sequential order, so this exercises in-order stateful
    fold + the loud out-of-order guard.  State is one 8-long tuple per
    user (watermark-free but key-bounded).  Every update row goes to
    captured parquet, and one engine merge keeps each user's row with
    the largest n_events — n_events grows strictly with every update
    for a user, so that row is the last update (at production scale,
    the upsert sink)."""
    import os

    from real_time_data_pipeline_spark.queries.reference_parity import (
        capture_stage,
        stream_capture,
    )
    from real_time_data_pipeline_spark.streaming.stateful import (
        CLAMPED_BALANCE_OUTPUT,
        clamped_balance_stateful,
    )

    stage = capture_stage(spark, "stream_clamped")
    (
        _balance_events(spark, sf_dir)
        .repartitionByRange(8, "us", "event_id")
        .write.mode("overwrite")
        .parquet(stage)
    )
    # FileStreamSource orders by (modification time, path): pin BOTH so
    # batch order == range order — part-0000N names sort with the range
    # and the utime pass makes mtimes strictly increase with N.
    parts = sorted(f for f in os.listdir(stage) if f.startswith("part-"))
    base = int(os.path.getmtime(os.path.join(stage, parts[0])))
    for i, f in enumerate(parts):
        os.utime(os.path.join(stage, f), (base + i, base + i))

    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage)
    )
    # applyInPandasWithState hands EVERY active user's state to a Python
    # worker each micro-batch, so this stream's per-batch cost is Python
    # CPU, not state-store commits: it runs at the session's batch
    # shuffle width instead of the state-sized default (see drain).
    cap = stream_capture(
        clamped_balance_stateful(stream),
        "stream_clamped_balance",
        output_mode="update",
        partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    last = F.max_by(
        F.struct(*[f.name for f in CLAMPED_BALANCE_OUTPUT.fields[1:]]),
        "n_events",
    )
    return cap.groupBy("user_id").agg(last.alias("r")).select("user_id", "r.*")


QUERIES = {
    "itemset_lift": q_itemset_lift,
    "clamped_balance": q_clamped_balance,
    "stream_clamped_balance": q_stream_clamped_balance,
    "rank_sum_test": q_rank_sum_test,
    "ks_price_drift": q_ks_price_drift,
    "fifo_attribution": q_fifo_attribution,
    "spearman_qty_price": q_spearman_qty_price,
    "status_prediction_report": q_status_prediction_report,
    "annotator_agreement": q_annotator_agreement,
    "quality_score_auc": q_quality_score_auc,
    "monthly_price_index": q_monthly_price_index,
    "price_trend_ols": q_price_trend_ols,
    "theil_sen_price_trend": q_theil_sen_price_trend,
    "supplier_reach": q_supplier_reach,
    "priority_status_chi2": q_priority_status_chi2,
    "segment_mode": q_segment_mode,
    "winsorized_price_stats": q_winsorized_price_stats,
    "user_type_diversity": q_user_type_diversity,
    "order_skyline": q_order_skyline,
    "interval_merge": q_interval_merge,
    "funnel_latency": q_funnel_latency,
    "order_proration": q_order_proration,
    "weighted_median_price": q_weighted_median_price,
    "price_median_mad": q_price_median_mad,
}

_CREDITS_SQL = ", ".join(f"'{t}'" for t in BALANCE_CREDIT_TYPES)

ORACLES = {
    "clamped_balance": f"""
        WITH ev AS (
          SELECT user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 event_id,
                 CASE WHEN event_type IN ({_CREDITS_SQL})
                      THEN CAST(FLOOR(value * 100) AS BIGINT)
                      ELSE -CAST(FLOOR(value * 100) AS BIGINT) END AS delta_c
          FROM events
        ),
        cum AS (
          SELECT user_id, us, event_id, delta_c,
                 CAST(SUM(delta_c) OVER (
                     PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING
                 ) AS BIGINT) AS cum
          FROM ev
        ),
        stepped AS (
          SELECT user_id, delta_c, cum,
                 LEAST(0, MIN(cum) OVER (
                     PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING
                 )) AS flr,
                 CASE WHEN cum < LEAST(0, COALESCE(MIN(cum) OVER (
                          PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ), 0)) THEN 1 ELSE 0 END AS clamp
          FROM cum
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(SUM(delta_c) - LEAST(0, MIN(cum)) AS BIGINT)
                   AS final_balance_c,
               CAST(MAX(cum - flr) AS BIGINT) AS peak_balance_c,
               CAST(SUM(clamp) AS BIGINT) AS n_clamps,
               CAST(MIN(cum) AS BIGINT) AS min_cum_c
        FROM stepped GROUP BY 1
    """,
    "supplier_reach": f"""
        WITH RECURSIVE pe AS (
          SELECT DISTINCT l_partkey AS p,
                 l_suppkey + {REACH_OFFSET} AS s
          FROM lineitem
        ),
        edges AS (
          SELECT p AS src, s AS dst FROM pe
          UNION ALL
          SELECT s AS src, p AS dst FROM pe
        ),
        seeds AS (
          SELECT s_suppkey + {REACH_OFFSET} AS node
          FROM supplier WHERE s_suppkey % {REACH_SEED_MOD} = 0
        ),
        reach(node, hop) AS (
          SELECT node, CAST(0 AS BIGINT) AS hop FROM seeds
          UNION
          SELECT e.dst AS node, r.hop + 1 AS hop
          FROM reach r JOIN edges e ON e.src = r.node
          WHERE r.hop < {REACH_K}
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(MIN(hop) AS BIGINT) AS min_hops
        FROM reach GROUP BY 1
    """,
    "priority_status_chi2": """
        WITH cells AS (
          SELECT o_orderpriority, o_orderstatus,
                 CAST(count(*) AS BIGINT) AS observed
          FROM orders GROUP BY 1, 2
        ),
        rt AS (
          SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS row_total
          FROM orders GROUP BY 1
        ),
        ct AS (
          SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS col_total
          FROM orders GROUP BY 1
        ),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders)
        SELECT c.o_orderpriority, c.o_orderstatus, c.observed,
               rt.row_total, ct.col_total, g.n_total,
               CAST(c.observed * g.n_total - rt.row_total * ct.col_total
                    AS BIGINT) AS dev,
               CAST((CAST(c.observed * g.n_total
                          - rt.row_total * ct.col_total AS HUGEINT)
                     * (c.observed * g.n_total - rt.row_total * ct.col_total)
                     * 1000000)
                    // (rt.row_total * ct.col_total * g.n_total)
                    AS BIGINT) AS chi2_u6
        FROM cells c
        JOIN rt USING (o_orderpriority)
        JOIN ct USING (o_orderstatus)
        CROSS JOIN g
    """,
    "segment_mode": """
        WITH counts AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(count(*) AS BIGINT) AS mode_count
          FROM customer GROUP BY 1, 2
        ),
        best AS (
          SELECT c_nationkey, c_mktsegment AS mode_value, mode_count,
                 row_number() OVER (
                     PARTITION BY c_nationkey
                     ORDER BY mode_count DESC, c_mktsegment ASC
                 ) AS rk
          FROM counts
        ),
        tot AS (
          SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n
          FROM customer GROUP BY 1
        )
        SELECT b.c_nationkey, b.mode_value, b.mode_count, t.n,
               (10000 * b.mode_count) // t.n AS share_bp
        FROM best b JOIN tot t USING (c_nationkey)
        WHERE b.rk = 1
    """,
    "itemset_lift": f"""
        WITH items AS (
          SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        ),
        pairs AS (
          SELECT a.i AS item_a, b.i AS item_b,
                 CAST(count(*) AS BIGINT) AS n_ab
          FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
          GROUP BY 1, 2
          HAVING count(*) >= {MIN_PAIRS}
        ),
        ic AS (
          SELECT i, CAST(count(*) AS BIGINT) AS n_item FROM items GROUP BY 1
        ),
        tot AS (
          SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM items
        )
        SELECT p.item_a, p.item_b, p.n_ab,
               ca.n_item AS n_a, cb.n_item AS n_b,
               (10000 * p.n_ab) // t.n_baskets AS support_bp,
               (10000 * p.n_ab) // ca.n_item AS conf_a_bp,
               (10000 * p.n_ab * t.n_baskets) // (ca.n_item * cb.n_item)
                   AS lift_bp
        FROM pairs p
        JOIN ic ca ON ca.i = p.item_a
        JOIN ic cb ON cb.i = p.item_b
        CROSS JOIN tot t
    """,
    "winsorized_price_stats": """
        WITH o AS (
          SELECT o_orderpriority AS g,
                 CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v,
                 o_orderkey AS s
          FROM orders
        ),
        ranked AS (
          SELECT g, v,
                 row_number() OVER (PARTITION BY g ORDER BY v, s) AS r,
                 count(*) OVER (PARTITION BY g) AS n
          FROM o
        ),
        bounds AS (
          SELECT g, CAST(n AS BIGINT) AS n,
                 CAST(max(CASE WHEN r = (n * 5 + 99) // 100 THEN v END)
                      AS BIGINT) AS p_lo_c,
                 CAST(max(CASE WHEN r = (n * 95 + 99) // 100 THEN v END)
                      AS BIGINT) AS p_hi_c
          FROM ranked
          WHERE r = (n * 5 + 99) // 100 OR r = (n * 95 + 99) // 100
          GROUP BY 1, 2
        )
        SELECT o.g AS o_orderpriority, b.n, b.p_lo_c, b.p_hi_c,
               CAST(SUM(GREATEST(b.p_lo_c, LEAST(b.p_hi_c, o.v)))
                    // b.n AS BIGINT) AS win_mean_c,
               CAST(SUM(GREATEST(b.p_lo_c, LEAST(b.p_hi_c, o.v)))
                    AS BIGINT) AS win_sum_c
        FROM o JOIN bounds b ON o.g = b.g
        GROUP BY 1, 2, 3, 4
    """,
    "user_type_diversity": """
        WITH c AS (
          SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_i
          FROM events GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(SUM(n_i) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(((SUM(n_i) * SUM(n_i) - SUM(n_i * n_i)) * 10000)
                   // (SUM(n_i) * SUM(n_i)) AS BIGINT) AS diversity_bp
        FROM c GROUP BY 1
    """,
    "order_skyline": """
        WITH o AS (
          SELECT o_orderkey, o_orderdate,
                 CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c
          FROM orders
        ),
        per_x AS (
          SELECT o_orderdate, max(price_c) AS ymax FROM o GROUP BY 1
        ),
        fr AS (
          SELECT o_orderdate, ymax,
                 max(ymax) OVER (ORDER BY o_orderdate
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS prev
          FROM per_x
        )
        SELECT o.o_orderkey, o.o_orderdate, o.price_c
        FROM o JOIN fr ON o.o_orderdate = fr.o_orderdate
                      AND o.price_c = fr.ymax
        WHERE fr.prev IS NULL OR fr.ymax > fr.prev
    """,
    # NB: SQL identifiers are case-insensitive — the weight column and
    # its group total need distinct spellings (w vs W silently collide)
    "order_proration": """
        WITH li AS (
          SELECT l.l_orderkey, l.l_linenumber,
                 CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT) AS wgt,
                 CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) AS t
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        shares AS (
          SELECT l_orderkey, l_linenumber, wgt, t,
                 SUM(wgt) OVER (PARTITION BY l_orderkey) AS wsum
          FROM li
        ),
        based AS (
          SELECT l_orderkey, l_linenumber, wgt,
                 (t * wgt) // wsum AS base_c,
                 (t * wgt) % wsum AS rem_key,
                 t - SUM((t * wgt) // wsum)
                     OVER (PARTITION BY l_orderkey) AS R
          FROM shares
        )
        SELECT l_orderkey, l_linenumber,
               CAST(wgt AS BIGINT) AS weight_c,
               CAST(base_c + CASE WHEN row_number() OVER (
                        PARTITION BY l_orderkey
                        ORDER BY rem_key DESC, l_linenumber ASC
                    ) <= R THEN 1 ELSE 0 END AS BIGINT) AS alloc_c
        FROM based
    """,
    "weighted_median_price": """
        WITH li AS (
          SELECT l_returnflag AS g,
                 CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v,
                 CAST(l_quantity AS BIGINT) AS wt,
                 l_orderkey * 10 + l_linenumber AS s
          FROM lineitem
        ),
        cum AS (
          SELECT g, v, wt,
                 CAST(SUM(wt) OVER (PARTITION BY g ORDER BY v, s
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 CAST(SUM(wt) OVER (PARTITION BY g) AS BIGINT) AS W
          FROM li
        )
        SELECT g AS l_returnflag,
               W AS total_weight,
               v AS wmedian_c
        FROM cum
        WHERE 2 * cum >= W AND 2 * (cum - wt) < W
    """,
    "price_median_mad": """
        WITH o AS (
          SELECT o_orderpriority AS g,
                 CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v,
                 o_orderkey AS s
          FROM orders
        ),
        r1 AS (
          SELECT g, v,
                 row_number() OVER (PARTITION BY g ORDER BY v, s) AS r,
                 count(*) OVER (PARTITION BY g) AS n
          FROM o
        ),
        med AS (
          SELECT g, CAST(n AS BIGINT) AS n, v AS median_c
          FROM r1 WHERE r = (n + 1) // 2
        ),
        dev AS (
          SELECT o.g, abs(o.v - m.median_c) AS dv, o.s
          FROM o JOIN med m ON o.g = m.g
        ),
        r2 AS (
          SELECT g, dv,
                 row_number() OVER (PARTITION BY g ORDER BY dv, s) AS r,
                 count(*) OVER (PARTITION BY g) AS n2
          FROM dev
        ),
        mad AS (
          SELECT g, CAST(dv AS BIGINT) AS mad_c
          FROM r2 WHERE r = (n2 + 1) // 2
        )
        SELECT med.g AS o_orderpriority, med.n, med.median_c, mad.mad_c
        FROM med JOIN mad ON med.g = mad.g
    """,
    "funnel_latency": """
        WITH ev AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events
        ),
        t1 AS (
          SELECT user_id, MIN(us) AS t1 FROM ev
          WHERE event_type = 'signup' GROUP BY 1
        ),
        t2 AS (
          SELECT e.user_id, t1.t1, MIN(e.us) AS t2
          FROM ev e JOIN t1 ON e.user_id = t1.user_id
          WHERE e.event_type = 'click' AND e.us > t1.t1
          GROUP BY 1, 2
        ),
        t3 AS (
          SELECT e.user_id, t2.t1, MIN(e.us) AS t3
          FROM ev e JOIN t2 ON e.user_id = t2.user_id
          WHERE e.event_type = 'purchase' AND e.us > t2.t2
          GROUP BY 1, 2
        ),
        lat AS (
          SELECT user_id AS s, t3 - t1 AS v FROM t3
        ),
        ranked AS (
          SELECT v,
                 row_number() OVER (ORDER BY v, s) AS r,
                 count(*) OVER () AS n
          FROM lat
        )
        SELECT CAST(n AS BIGINT) AS n_converted,
               CAST(max(CASE WHEN r = (n * 50 + 99) // 100 THEN v END)
                    AS BIGINT) AS p50_us,
               CAST(max(CASE WHEN r = (n * 90 + 99) // 100 THEN v END)
                    AS BIGINT) AS p90_us,
               CAST(max(CASE WHEN r = (n * 99 + 99) // 100 THEN v END)
                    AS BIGINT) AS p99_us
        FROM ranked
        WHERE r = (n * 50 + 99) // 100
           OR r = (n * 90 + 99) // 100
           OR r = (n * 99 + 99) // 100
        GROUP BY n
    """,
    "interval_merge": f"""
        WITH iv AS (
          SELECT user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS start_us,
                 epoch_us(CAST(ts AS TIMESTAMP))
                   + (CAST(FLOOR(value * 100) AS BIGINT) % {HOLD_MOD_S}
                      + {HOLD_BASE_S}) * 1000000 AS end_us,
                 event_id
          FROM events
        ),
        flagged AS (
          SELECT user_id, start_us, end_us, event_id,
                 CASE WHEN max(end_us) OVER (
                          PARTITION BY user_id ORDER BY start_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ) IS NULL
                      OR start_us > max(end_us) OVER (
                          PARTITION BY user_id ORDER BY start_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      )
                 THEN 1 ELSE 0 END AS new_span
          FROM iv
        ),
        spans AS (
          SELECT user_id, start_us, end_us,
                 CAST(SUM(new_span) OVER (
                     PARTITION BY user_id ORDER BY start_us, event_id
                     ROWS UNBOUNDED PRECEDING
                 ) AS BIGINT) AS span_no
          FROM flagged
        )
        SELECT user_id, span_no,
               CAST(MIN(start_us) AS BIGINT) AS span_start,
               CAST(MAX(end_us) AS BIGINT) AS span_end,
               CAST(count(*) AS BIGINT) AS n_intervals
        FROM spans GROUP BY 1, 2
    """,
}

# The streaming fold must be indistinguishable from the one-shot batch
# recurrence — same oracle pins it.
ORACLES["stream_clamped_balance"] = ORACLES["clamped_balance"]

ORACLES["fifo_attribution"] = f"""
    WITH ev AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS value_c
      FROM events
    ),
    buys AS (
      SELECT user_id,
             value_c % {FIFO_QTY_MOD_B} + 1 AS bq,
             value_c % {FIFO_COST_MOD} + 1 AS bc,
             CAST(SUM(value_c % {FIFO_QTY_MOD_B} + 1) OVER (
                 PARTITION BY user_id ORDER BY us, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
      FROM ev WHERE event_type = '{FIFO_BUY_TYPE}'
    ),
    sells AS (
      SELECT user_id,
             value_c % {FIFO_QTY_MOD_S} + 1 AS sq,
             CAST(SUM(value_c % {FIFO_QTY_MOD_S} + 1) OVER (
                 PARTITION BY user_id ORDER BY us, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cums
      FROM ev WHERE event_type = '{FIFO_SELL_TYPE}'
    ),
    pairs AS (
      SELECT b.user_id,
             GREATEST(0, LEAST(b.cumb, s.cums)
                 - GREATEST(b.cumb - b.bq, s.cums - s.sq)) AS overlap,
             b.bc
      FROM buys b JOIN sells s ON b.user_id = s.user_id
      WHERE LEAST(b.cumb, s.cums)
            - GREATEST(b.cumb - b.bq, s.cums - s.sq) > 0
    ),
    matched AS (
      SELECT user_id,
             CAST(SUM(overlap) AS BIGINT) AS matched_qty,
             CAST(SUM(overlap * bc) AS BIGINT) AS matched_cost_c
      FROM pairs GROUP BY 1
    ),
    totals AS (
      SELECT COALESCE(b.user_id, s.user_id) AS user_id,
             COALESCE(b.bought_qty, 0) AS bought_qty,
             COALESCE(s.sold_qty, 0) AS sold_qty
      FROM (SELECT user_id, CAST(SUM(bq) AS BIGINT) AS bought_qty
            FROM buys GROUP BY 1) b
      FULL OUTER JOIN
           (SELECT user_id, CAST(SUM(sq) AS BIGINT) AS sold_qty
            FROM sells GROUP BY 1) s
      ON b.user_id = s.user_id
    )
    SELECT t.user_id,
           CAST(t.bought_qty AS BIGINT) AS bought_qty,
           CAST(t.sold_qty AS BIGINT) AS sold_qty,
           CAST(COALESCE(m.matched_qty, 0) AS BIGINT) AS matched_qty,
           CAST(t.sold_qty - COALESCE(m.matched_qty, 0) AS BIGINT)
               AS unmatched_sell_qty,
           CAST(COALESCE(m.matched_cost_c, 0) AS BIGINT) AS matched_cost_c
    FROM totals t LEFT JOIN matched m ON t.user_id = m.user_id
"""

ORACLES["spearman_qty_price"] = """
    WITH li AS (
      SELECT l_returnflag AS g,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    xr AS (
      SELECT g, x,
             CAST(2 * SUM(cnt) OVER (PARTITION BY g ORDER BY x
                  ROWS UNBOUNDED PRECEDING) - cnt + 1 AS BIGINT) AS mr2_x
      FROM (SELECT g, x, CAST(count(*) AS BIGINT) AS cnt
            FROM li GROUP BY 1, 2)
    ),
    yr AS (
      SELECT g, y,
             CAST(2 * SUM(cnt) OVER (PARTITION BY g ORDER BY y
                  ROWS UNBOUNDED PRECEDING) - cnt + 1 AS BIGINT) AS mr2_y
      FROM (SELECT g, y, CAST(count(*) AS BIGINT) AS cnt
            FROM li GROUP BY 1, 2)
    ),
    cells AS (
      SELECT g, x, y, CAST(count(*) AS BIGINT) AS n_xy
      FROM li GROUP BY 1, 2, 3
    ),
    agg AS (
      SELECT c.g,
             CAST(SUM(c.n_xy) AS BIGINT) AS n,
             CAST(SUM(c.n_xy * (xr.mr2_x - yr.mr2_y)
                              * (xr.mr2_x - yr.mr2_y)) AS BIGINT) AS sum_d2
      FROM cells c
      JOIN xr ON c.g = xr.g AND c.x = xr.x
      JOIN yr ON c.g = yr.g AND c.y = yr.y
      GROUP BY 1
    )
    SELECT g AS l_returnflag, n, sum_d2,
           CASE WHEN n > 1 THEN
             CAST(10000 - (CAST(sum_d2 AS HUGEINT) * 15000)
                  // (CAST(n AS HUGEINT) * n * n - n) AS BIGINT)
           ELSE NULL END AS rho_bp
    FROM agg
"""

_PRED_SQL = PRED_RULE

ORACLES["status_prediction_report"] = f"""
    WITH o AS (
      SELECT o_orderstatus AS label,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders
    ),
    lp AS (SELECT label, {_PRED_SQL} AS pred FROM o),
    truth AS (SELECT label AS cls, CAST(count(*) AS BIGINT) AS n_true
              FROM lp GROUP BY 1),
    pred AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS n_pred
             FROM lp GROUP BY 1),
    diag AS (SELECT label AS cls, CAST(count(*) AS BIGINT) AS tp
             FROM lp WHERE label = pred GROUP BY 1),
    m AS (
      SELECT COALESCE(t.cls, p.cls) AS cls,
             COALESCE(t.n_true, 0) AS n_true,
             COALESCE(p.n_pred, 0) AS n_pred,
             COALESCE(d.tp, 0) AS tp
      FROM truth t
      FULL OUTER JOIN pred p ON t.cls = p.cls
      LEFT JOIN diag d ON COALESCE(t.cls, p.cls) = d.cls
    )
    SELECT cls,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(tp AS BIGINT) AS tp,
           CASE WHEN n_pred > 0
                THEN (10000 * tp) // n_pred END AS precision_bp,
           CASE WHEN n_true > 0
                THEN (10000 * tp) // n_true END AS recall_bp,
           CASE WHEN n_pred > 0 AND n_true > 0
                AND (10000 * tp) // n_pred + (10000 * tp) // n_true > 0
                THEN (2 * ((10000 * tp) // n_pred)
                        * ((10000 * tp) // n_true))
                     // ((10000 * tp) // n_pred + (10000 * tp) // n_true)
                WHEN n_pred > 0 AND n_true > 0 THEN 0 END AS f1_bp
    FROM m
"""

ORACLES["annotator_agreement"] = f"""
    WITH o AS (
      SELECT o_orderstatus AS label,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders
    ),
    lp AS (SELECT label, {_PRED_SQL} AS pred FROM o),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lp),
    agr AS (SELECT CAST(count(*) AS BIGINT) AS n_agree
            FROM lp WHERE label = pred),
    ra AS (SELECT label AS cls, CAST(count(*) AS BIGINT) AS r_cnt
           FROM lp GROUP BY 1),
    cb AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS c_cnt
           FROM lp GROUP BY 1),
    rc AS (SELECT CAST(COALESCE(SUM(r_cnt * c_cnt), 0) AS BIGINT) AS sum_rc
           FROM ra JOIN cb USING (cls))
    SELECT tot.n, agr.n_agree, rc.sum_rc,
           CAST(tot.n * agr.n_agree - rc.sum_rc AS BIGINT) AS kappa_num,
           CAST(tot.n * tot.n - rc.sum_rc AS BIGINT) AS kappa_den,
           CASE WHEN tot.n * tot.n - rc.sum_rc > 0 THEN
             CAST((CAST(tot.n * agr.n_agree - rc.sum_rc AS HUGEINT)
                   * 10000) // (tot.n * tot.n - rc.sum_rc) AS BIGINT)
           END AS kappa_bp
    FROM tot CROSS JOIN agr CROSS JOIN rc
"""

ORACLES["quality_score_auc"] = """
    WITH d AS (
      SELECT CASE WHEN lang = 'en' THEN 'pos' ELSE 'neg' END AS side,
             CAST(n_chars AS BIGINT) AS v
      FROM documents
    ),
    counts AS (
      SELECT v,
             CAST(SUM(CASE WHEN side = 'pos' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN side = 'neg' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_b
      FROM d GROUP BY 1
    ),
    cum AS (
      SELECT v, c_a, c_b,
             CAST(SUM(c_b) OVER (ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
      FROM counts
    )
    SELECT CAST(SUM(c_a) AS BIGINT) AS n_pos,
           CAST(SUM(c_b) AS BIGINT) AS n_neg,
           CAST(SUM(c_a * (2 * (cum_b - c_b) + c_b)) AS BIGINT) AS u2,
           CAST((10000 * SUM(c_a * (2 * (cum_b - c_b) + c_b)))
                // (2 * SUM(c_a) * SUM(c_b)) AS BIGINT) AS auc_bp
    FROM cum
"""

ORACLES["monthly_price_index"] = """
    WITH o AS (
      SELECT CAST(o_orderpriority AS VARCHAR) AS g,
             CAST(month(o_orderdate) AS VARCHAR) AS season,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v,
             o_orderkey AS s
      FROM orders
    ),
    rs AS (
      SELECT g, season, v,
             row_number() OVER (PARTITION BY g, season ORDER BY v, s) AS r,
             count(*) OVER (PARTITION BY g, season) AS n
      FROM o
    ),
    ms AS (
      SELECT g, season, CAST(n AS BIGINT) AS n_season,
             v AS season_median_c
      FROM rs WHERE r = (n + 1) // 2
    ),
    ra AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v, s) AS r,
             count(*) OVER (PARTITION BY g) AS n
      FROM o
    ),
    ma AS (
      SELECT g, v AS overall_median_c FROM ra WHERE r = (n + 1) // 2
    )
    SELECT ms.g AS o_orderpriority, ms.season, ms.n_season,
           ms.season_median_c, ma.overall_median_c,
           CASE WHEN ma.overall_median_c <> 0 THEN
             (10000 * ms.season_median_c) // ma.overall_median_c
           END AS index_bp
    FROM ms JOIN ma ON ms.g = ma.g
"""

ORACLES["price_trend_ols"] = f"""
    WITH o AS (
      SELECT o_orderpriority AS g,
             CAST(date_diff('day', DATE '{TREND_EPOCH}', o_orderdate)
                  AS BIGINT) AS x,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
    ),
    s AS (
      SELECT g,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sum_x,
             CAST(SUM(y) AS BIGINT) AS sum_y,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM o GROUP BY 1
    )
    SELECT g AS o_orderpriority, n, sum_x, sum_y,
           CASE WHEN n > 1
                 AND CAST(n AS HUGEINT) * sxx
                     - CAST(sum_x AS HUGEINT) * sum_x <> 0 THEN
             CAST(((CAST(n AS HUGEINT) * sxy
                    - CAST(sum_x AS HUGEINT) * sum_y) * 1000000)
                  // (CAST(n AS HUGEINT) * sxx
                      - CAST(sum_x AS HUGEINT) * sum_x) AS BIGINT)
           END AS slope_u,
           CASE WHEN n > 1
                 AND CAST(n AS HUGEINT) * sxx
                     - CAST(sum_x AS HUGEINT) * sum_x <> 0 THEN
             CAST((sum_y - (CAST(((CAST(n AS HUGEINT) * sxy
                        - CAST(sum_x AS HUGEINT) * sum_y) * 1000000)
                      // (CAST(n AS HUGEINT) * sxx
                          - CAST(sum_x AS HUGEINT) * sum_x) AS HUGEINT)
                    * sum_x) // 1000000) // n AS BIGINT)
           END AS intercept_c
    FROM s
"""

ORACLES["theil_sen_price_trend"] = f"""
    WITH o AS (
      SELECT CAST(o_orderpriority AS VARCHAR) AS g,
             CAST(date_diff('day', DATE '{TREND_EPOCH}', o_orderdate)
                  AS BIGINT) // 7 AS x,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS y,
             o_orderkey AS s
      FROM orders
    ),
    cell AS (
      SELECT g, x, y FROM (
        SELECT g, x, y,
               row_number() OVER (PARTITION BY g, x ORDER BY y, s) AS r,
               count(*) OVER (PARTITION BY g, x) AS n
        FROM o
      ) WHERE r = (n + 1) // 2
    ),
    pairs AS (
      SELECT a.g,
             ((b.y - a.y) * 1000000) // (b.x - a.x) AS slope,
             a.x * 1000000 + b.x AS pid
      FROM cell a JOIN cell b ON a.g = b.g AND a.x < b.x
    ),
    med AS (
      SELECT g, CAST(n AS BIGINT) AS n_pairs, slope AS slope_u FROM (
        SELECT g, slope,
               row_number() OVER (PARTITION BY g ORDER BY slope, pid) AS r,
               count(*) OVER (PARTITION BY g) AS n
        FROM pairs
      ) WHERE r = (n + 1) // 2
    ),
    np AS (SELECT g, CAST(count(*) AS BIGINT) AS n_points
           FROM cell GROUP BY 1)
    SELECT np.g AS o_orderpriority, np.n_points,
           CAST(COALESCE(med.n_pairs, 0) AS BIGINT) AS n_pairs,
           med.slope_u
    FROM np LEFT JOIN med ON np.g = med.g
"""

ORACLES["rank_sum_test"] = f"""
    WITH src AS (
      SELECT o_orderpriority AS g, o_orderstatus AS side,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
      WHERE o_orderstatus IN ('{RANK_SIDE_A}', '{RANK_SIDE_B}')
    ),
    counts AS (
      SELECT g, v,
             CAST(SUM(CASE WHEN side = '{RANK_SIDE_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN side = '{RANK_SIDE_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_b
      FROM src GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, v, c_a, c_b,
             CAST(SUM(c_b) OVER (PARTITION BY g ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
      FROM counts
    )
    SELECT g AS o_orderpriority,
           CAST(SUM(c_a) AS BIGINT) AS n_a,
           CAST(SUM(c_b) AS BIGINT) AS n_b,
           CAST(SUM(c_a * (2 * (cum_b - c_b) + c_b)) AS BIGINT) AS u2_a,
           CAST((10000 * SUM(c_a * (2 * (cum_b - c_b) + c_b)))
                // (2 * SUM(c_a) * SUM(c_b)) AS BIGINT) AS effect_a_bp
    FROM cum GROUP BY 1
"""

ORACLES["ks_price_drift"] = f"""
    WITH src AS (
      SELECT o_orderpriority AS g, o_orderstatus AS side,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
      WHERE o_orderstatus IN ('{RANK_SIDE_A}', '{RANK_SIDE_B}')
    ),
    counts AS (
      SELECT g, v,
             CAST(SUM(CASE WHEN side = '{RANK_SIDE_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN side = '{RANK_SIDE_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_b
      FROM src GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, v,
             CAST(SUM(c_a) OVER (PARTITION BY g ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
             CAST(SUM(c_b) OVER (PARTITION BY g ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
      FROM counts
    ),
    tot AS (
      SELECT g, CAST(SUM(c_a) AS BIGINT) AS n_a,
             CAST(SUM(c_b) AS BIGINT) AS n_b
      FROM counts GROUP BY 1
    )
    SELECT cum.g AS o_orderpriority, tot.n_a, tot.n_b,
           CAST(MAX(ABS(cum.cum_a * tot.n_b - cum.cum_b * tot.n_a))
                AS BIGINT) AS d_num,
           CAST((10000 * MAX(ABS(cum.cum_a * tot.n_b - cum.cum_b * tot.n_a)))
                // (tot.n_a * tot.n_b) AS BIGINT) AS d_bp
    FROM cum JOIN tot ON cum.g = tot.g
    GROUP BY 1, 2, 3
"""
