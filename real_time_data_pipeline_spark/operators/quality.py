"""Declarative data-quality expectations compiled to Spark predicates.

The reference expresses data quality as a Great Expectations suite — a
list of (column, expectation_type, kwargs) rules built at
src/validation/transaction_validator.py:61-141 and declared in
src/config/validation_config.yml:26-59 — then evaluates it one
single-row pandas DataFrame per record (validator.py:153-161).  That is
the slowest possible shape; semantics are identical when the rules are
compiled once into Spark Column predicates and evaluated columnar over the
whole batch, so that's what this module does.

Failure messages mirror validator.py:171-174: "Failed {type}: {kwargs}".

Scale: compile once per suite (driver side), evaluate as whole-stage
codegen.  The validation-results artifact is compiled once into its
Columns (:func:`compile_results`); the streaming sink compiles when it
starts, and each micro-batch runs only the returned ``apply`` — the
Columns re-resolve against every batch, so nothing is rebuilt per
trigger.  The uniqueness expectation is the only one needing a shuffle;
it uses a window count over the key rather than a self-join.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class Expectation:
    """One rule: (column, expectation_type, kwargs) — the reference's tiny
    declarative predicate language (SURVEY.md §2.6)."""

    column: str
    expectation_type: str
    kwargs: dict[str, Any] = field(default_factory=dict)

    @property
    def failure_message(self) -> str:
        return f"Failed {self.expectation_type}: {self.kwargs or self.column}"


# The reference's 8-expectation transaction suite
# (validator.py:61-141 + validation_config.yml:26-45).
TRANSACTION_SUITE = [
    Expectation("transaction_id", "not_null"),
    Expectation("transaction_id", "unique"),
    Expectation("account_id", "not_null"),
    Expectation("transaction_type", "not_null"),
    Expectation(
        "transaction_type",
        "in_set",
        {"value_set": ["deposit", "withdrawal", "transfer", "payment", "refund"]},
    ),
    Expectation("amount", "between", {"min_value": 0.01, "max_value": 1_000_000.00}),
    Expectation("currency", "in_set", {"value_set": ["USD", "EUR", "GBP", "JPY", "CAD", "AUD"]}),
    Expectation("status", "in_set", {"value_set": ["pending", "completed", "failed", "rejected"]}),
    Expectation("timestamp", "parseable_timestamp"),  # validation_config.yml:42-43
]

# Declared-only accounts suite (validation_config.yml:47-59).
ACCOUNT_SUITE = [
    Expectation("account_id", "not_null"),
    Expectation("account_id", "unique"),
    Expectation(
        "account_type",
        "in_set",
        {"value_set": ["checking", "savings", "credit", "loan", "investment"]},
    ),
    Expectation("customer_id", "not_null"),
]


def suite_from_config(rules: list[dict]) -> list[Expectation]:
    """Build a suite from declarative config rows (config/engine.yml
    `validation.suites.*`; shape mirrors reference
    validation_config.yml:26-59: column / expectation_type / kwargs).
    Accepts the reference's GE-flavored type names as aliases."""
    aliases = {
        "dateutil_parseable": "parseable_timestamp",
        "expect_column_values_to_not_be_null": "not_null",
        "expect_column_values_to_be_unique": "unique",
        "expect_column_values_to_be_in_set": "in_set",
        "expect_column_values_to_be_between": "between",
        "expect_column_values_to_be_dateutil_parseable": "parseable_timestamp",
    }
    out = []
    for r in rules:
        t = r["expectation_type"]
        out.append(
            Expectation(r["column"], aliases.get(t, t), r.get("kwargs") or {})
        )
    return out


def compile_expectation(exp: Expectation) -> Column:
    """Expectation → boolean Column (true = row passes).

    Row-level semantics match GE's defaults: null passes in_set/between/
    parseable checks (GE skips nulls there; not_null is the null gate).
    `unique` is row-level false for every row of a duplicated key.
    """
    c = F.col(exp.column)
    t = exp.expectation_type
    if t == "not_null":
        return c.isNotNull()
    if t == "unique":
        return F.count("*").over(Window.partitionBy(exp.column)) == 1
    if t == "in_set":
        return c.isNull() | c.isin(exp.kwargs["value_set"])
    if t == "between":
        return c.isNull() | c.between(exp.kwargs["min_value"], exp.kwargs["max_value"])
    if t == "parseable_timestamp":
        return c.isNull() | F.try_to_timestamp(c).isNotNull()
    raise ValueError(f"unknown expectation_type: {t}")


def compile_suite(suite: list[Expectation]) -> tuple[Column, Column]:
    """Suite → (valid: Column<bool>, errors: Column<array<string>>).

    `valid` is the AND of all expectations; `errors` collects the failure
    message of each failed expectation (format mirrors
    validator.py:171-174).
    """
    preds = [(compile_expectation(e), e.failure_message) for e in suite]
    valid = preds[0][0]
    for p, _ in preds[1:]:
        valid = valid & p
    errors = F.filter(
        F.array(*[F.when(~p, F.lit(msg)) for p, msg in preds]),
        lambda x: x.isNotNull(),
    )
    return valid, errors


def apply_suite(
    df: DataFrame,
    suite: list[Expectation],
    valid_col: str = "dq_valid",
    errors_col: str = "dq_errors",
) -> DataFrame:
    """Attach suite verdict columns to every row (vectorized twin of
    reference validate_transaction, validator.py:143-185)."""
    valid, errors = compile_suite(suite)
    return df.withColumn(valid_col, valid).withColumn(errors_col, errors)


def compile_results(suite: list[Expectation]) -> Callable[[DataFrame], DataFrame]:
    """Suite → ``apply(df)``: the validation-results plan, its Columns
    built once.  They are unresolved, so they re-resolve against each
    frame ``apply`` gets; ``apply`` only wires them on (~50 py4j round
    trips, where building them takes thousands).

    Columns: column, expectation_type, n_pass, n_fail, total, valid_rows,
    invalid_rows, success_rate_bp (integer basis points, half-up — float
    rates don't hash stably cross-engine), all from ONE aggregate pass."""
    # Materialize each predicate as a boolean column first: window-based
    # expectations (unique) are not allowed inside aggregate functions.
    flags = [compile_expectation(e).alias(f"p_{i}") for i, e in enumerate(suite)]
    passed = [F.col(f"p_{i}") for i in range(len(suite))]
    valid = reduce(operator.and_, passed)
    aggs = [
        F.count("*").alias("total"),
        F.sum(F.when(valid, 1).otherwise(0)).cast("long").alias("valid_rows"),
    ]
    for i, p in enumerate(passed):
        aggs.append(F.sum(F.when(p, 1).otherwise(0)).alias(f"pass_{i}"))
        aggs.append(F.sum(F.when(~p, 1).otherwise(0)).alias(f"fail_{i}"))
    rules = [
        F.struct(
            F.lit(e.column).alias("column"),
            F.lit(e.expectation_type).alias("expectation_type"),
            F.col(f"pass_{i}").alias("n_pass"),
            F.col(f"fail_{i}").alias("n_fail"),
        )
        for i, e in enumerate(suite)
    ]
    per_rule = F.inline(F.array(*rules))
    rollup = [
        F.col("total"),
        F.col("valid_rows"),
        (F.col("total") - F.col("valid_rows")).alias("invalid_rows"),
        F.expr(
            "CASE WHEN total = 0 THEN CAST(0 AS BIGINT) ELSE "
            "CAST(FLOOR((2e0 * 10000 * valid_rows + total) / (2e0 * total)) AS BIGINT) END"
        ).alias("success_rate_bp"),
    ]

    def apply(df: DataFrame) -> DataFrame:
        return df.select(*flags).agg(*aggs).select(per_rule, *rollup)

    return apply


def validation_results(
    df: DataFrame, suite: list[Expectation], run_id: str
) -> DataFrame:
    """Per-run validation-results artifact (reference
    transaction_validator.py:228-256 ``save_validation_results`` persists
    one JSON summary per run; at engine scale the artifact is a *table*:
    one row per expectation, denormalized with the run rollup, keyed by
    ``run_id`` so runs partition cleanly).  Columns: run_id, then those
    of :func:`compile_results`."""
    return compile_results(suite)(df).select(F.lit(run_id).alias("run_id"), "*")


def save_validation_results(
    df: DataFrame, suite: list[Expectation], base_path: str, run_id: str
) -> str:
    """Persist one run's artifact under ``base_path/run_id=<run_id>``
    (the engine twin of reference validator.py:228-256, which writes
    ``validation_results_<ts>.json`` per run).

    ``overwrite`` of the run's own partition directory makes re-running a
    run_id idempotent — the property the streaming sink relies on.  The
    artifact is ≤ |suite| rows, so one file per run (like the reference's
    one JSON per run)."""
    return _write_run(compile_results(suite)(df), base_path, run_id)


def _write_run(artifact: DataFrame, base_path: str, run_id: str) -> str:
    path = f"{base_path}/run_id={run_id}"
    artifact.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def validation_results_sink(
    df: DataFrame,
    suite: list[Expectation],
    base_path: str,
    checkpoint_dir: str,
):
    """Streaming twin: one artifact partition per micro-batch via
    foreachBatch.  The suite is compiled once, when the sink starts
    (:func:`compile_results`); each micro-batch runs only ``apply`` and
    the write.  foreachBatch is at-least-once; the per-batch partition
    overwrite (as in :func:`save_validation_results`) makes replays land
    on the same ``run_id=batch_<id>`` directory, so the artifact table
    stays exactly-once.  Returns a started StreamingQuery."""
    apply = compile_results(suite)

    def _write(batch: DataFrame, batch_id: int) -> None:
        _write_run(apply(batch), base_path, f"batch_{batch_id:012d}")

    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def suite_metrics(df: DataFrame, suite: list[Expectation]) -> DataFrame:
    """Per-expectation pass/fail counts for a batch — the engine-side
    version of GE's validation result summary (validator.py:197-218):
    the per-rule columns of :func:`compile_results`."""
    return compile_results(suite)(df).select(
        "column", "expectation_type", "n_pass", "n_fail"
    )


def referential_integrity(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    relation: str,
) -> DataFrame:
    """Cross-table expectation: count fact rows whose foreign key has no
    match in the dimension (GE's expect_column_values_to_be_in_set
    generalized to a table-sized set; the reference's suites are all
    single-table — validation_config.yml:26-59 — so this is the natural
    next rule a warehouse adds).

    One left join against the DISTINCT dim keys + one aggregate.  The
    join keys carry only the key columns (column-pruned scans); the dim
    side deduplicates before the join so multiplicity can't inflate the
    fact count; NULL fact keys count as orphans (a NULL FK fails the
    reference check, same as SQL NOT EXISTS semantics here).  At 100 TB
    the join is shuffle-on-key with AQE free to broadcast the dim's
    distinct-key projection when it fits."""
    dim_keys = dim.select(F.col(dim_key).alias("__ri_pk")).distinct()
    joined = fact.select(F.col(fact_key).alias("__ri_fk")).join(
        dim_keys, F.col("__ri_fk") == F.col("__ri_pk"), "left"
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("total_rows"),
        F.sum(F.when(F.col("__ri_pk").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("orphan_rows"),
    ).select(F.lit(relation).alias("relation"), "total_rows", "orphan_rows")


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Generic column-profiling pass — the table a DQ dashboard shows
    before anyone writes expectations: per column, row count, null
    count, distinct count, and min/max rendered as strings.

    ONE aggregate job computes every column's stats in a single scan
    (map-side combined; the distinct-counts expand the shuffle by one
    row-stream per column, still aggregate-bounded), then ``stack``
    unpivots the single stat row into one row per column — no per-column
    jobs, no driver loop over columns executing anything.  Min/max cast
    to string so heterogeneous column types share one output schema;
    profile numeric distributions with ``value_histogram`` /
    ``percentiles`` instead when exact formatting matters (float→string
    rendering is engine-specific, so oracle-checked profiles stick to
    int/string/date columns).  Holds at 100 TB: cost is one scan + one
    bounded aggregate."""
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = [F.count("*").alias("_n")]
    for i, c in enumerate(cols):
        aggs += [
            F.count(c).alias(f"_nn{i}"),
            F.countDistinct(c).alias(f"_nd{i}"),
            F.min(c).cast("string").alias(f"_mn{i}"),
            F.max(c).cast("string").alias(f"_mx{i}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', CAST(_n AS BIGINT), CAST(_n - _nn{i} AS BIGINT), "
        f"CAST(_nd{i} AS BIGINT), _mn{i}, _mx{i}"
        for i, c in enumerate(cols)
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_rows, n_null, n_distinct, min_str, max_str)"
        )
    )


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Distribution-drift monitor: per group, the total-variation
    distance (in basis points) between a reference window's and the
    current window's value distributions — the data-drift alarm run
    between a pipeline's trusted snapshot and fresh arrivals.

    Values are histogrammed into ``n_bins`` equal-width bins over the
    REFERENCE window's [min, max] (the deployment convention: bin edges
    freeze with the reference; out-of-range current values clamp to the
    edge bins, so novel mass still registers as drift).  A group present
    ONLY in the current window — a brand-new group, the classic drift
    signal — has no reference bounds to bin against; it is emitted with
    ``tv_bp = 10000`` (total drift) and ``n_ref = 0`` rather than
    silently dropped.  Groups present only in the reference (vanished
    groups — the symmetric alarm) are emitted with ``tv_bp = 10000``
    and ``n_cur = 0``: their per-bin current share is defined as 0
    (not NULL), and the group-level verdict is pinned to total drift
    so a ``tv_bp > threshold`` monitor catches disappearances exactly
    like appearances.  All
    arithmetic is integer basis points (per-bin shares floored,
    TV = Σ|p−q|/2), so the output hashes identically on any engine.

    Plan: one bounds aggregate on the reference (group-keyed, tiny
    broadcast), then each side is a (group, bin)-keyed count — two
    data-scale hash aggregates with map-side combine — joined
    full-outer on (group, bin) with zero-fill before the per-group TV
    fold.  Nothing shuffles at row grain except the two counts.
    """
    bounds = drift_bounds(ref, group_col, value_col)
    a = drift_bin_counts(ref, bounds, group_col, value_col, n_bins)
    b = drift_bin_counts(cur, bounds, group_col, value_col, n_bins)
    novel = drift_novel_counts(cur, bounds, group_col)
    return drift_finalize(a, b, novel, group_col)


# -- mergeable-partial decomposition of distribution_drift --------------
# The three partials below are ASSOCIATIVE in the current window: bin
# counts and novel counts are plain sums, so a streaming maintainer can
# fold micro-batches into (group, bin)-grain state and finalize at any
# point — the same decomposition monthly_rollup/merge_monthly_rollup use
# for A7.  The batch operator composes exactly these pieces, so the
# streaming twin shares ALL the drift logic rather than re-implementing
# it (queries/reference_parity.q_stream_distribution_drift).

def drift_bounds(ref: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Frozen per-group [min, max] of the reference window — the bin
    edges every current-window partial is computed against."""
    v = F.col(value_col)
    return ref.groupBy(group_col).agg(
        F.min(v).alias("_mn"), F.max(v).alias("_mx")
    )


def drift_bin_counts(
    df: DataFrame,
    bounds: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int,
) -> DataFrame:
    """(group, bin, n) counts against the FROZEN reference bounds;
    out-of-range values clamp to the edge bins.  Additive across any
    split of ``df`` — the streaming-mergeable partial."""
    v = F.col(value_col)
    j = df.join(F.broadcast(bounds), group_col)
    width = (F.col("_mx") - F.col("_mn")) / F.lit(n_bins)
    raw = F.when(
        width > 0, F.floor((v - F.col("_mn")) / width)
    ).otherwise(F.lit(0))
    bin_ = F.least(
        F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)
    ).cast("bigint")
    return j.groupBy(F.col(group_col), bin_.alias("bin")).agg(
        F.count("*").alias("n")
    )


def drift_novel_counts(
    cur: DataFrame, bounds: DataFrame, group_col: str
) -> DataFrame:
    """(group, n) counts of current rows whose group has NO reference
    bounds — the brand-new-group signal.  Additive across batches."""
    return (
        cur.join(F.broadcast(bounds), group_col, "left_anti")
        .groupBy(group_col)
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def drift_finalize(
    ref_binned: DataFrame,
    cur_binned: DataFrame,
    novel_counts: DataFrame,
    group_col: str,
) -> DataFrame:
    """TV distance in basis points from the accumulated partials —
    identical output to :func:`distribution_drift` however the current
    partials were produced (one batch or many merged micro-batches)."""
    a = ref_binned.withColumnRenamed("n", "n_ref")
    b = cur_binned.withColumnRenamed("n", "n_cur")
    grid = a.join(b, [group_col, "bin"], "full_outer").select(
        group_col,
        "bin",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    tot = grid.groupBy(group_col).agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    # Guard the vanished-group division: t_cur = 0 would make q NULL
    # (0/0), NULL out the whole TV sum, and let a disappeared group
    # slip past a tv_bp > threshold filter (round-4 advisor finding).
    p = F.when(
        F.col("t_ref") > 0,
        F.floor(F.lit(10_000) * F.col("n_ref") / F.col("t_ref")),
    ).otherwise(F.lit(0))
    q = F.when(
        F.col("t_cur") > 0,
        F.floor(F.lit(10_000) * F.col("n_cur") / F.col("t_cur")),
    ).otherwise(F.lit(0))
    seen = (
        grid.join(tot, group_col)
        .groupBy(group_col)
        .agg(
            F.when(F.max("t_cur") == 0, F.lit(10_000))
            .otherwise(F.floor(F.sum(F.abs(p - q)) / 2))
            .cast("bigint")
            .alias("tv_bp"),
            F.max("t_ref").cast("bigint").alias("n_ref"),
            F.max("t_cur").cast("bigint").alias("n_cur"),
        )
    )
    # Reference-absent groups: drift_bin_counts inner-joins to the
    # reference bounds, so without this leg a novel group would vanish
    # from the output entirely.
    novel = novel_counts.select(
        group_col,
        F.lit(10_000).cast("bigint").alias("tv_bp"),
        F.lit(0).cast("bigint").alias("n_ref"),
        F.col("n").cast("bigint").alias("n_cur"),
    )
    return seen.unionByName(novel)


def categorical_drift(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
) -> DataFrame:
    """Categorical twin of :func:`distribution_drift`: total-variation
    distance between two windows' CATEGORY shares (event-type mix,
    source mix, language mix) — the "did the upstream mix shift?"
    alarm.  One row out: tv_bp plus the single largest-moving category.

    Integer basis points throughout; the category grid is the union of
    both windows (a vanished or novel category contributes its full
    share).  Two category-keyed counts (map-side combined, vocab-
    bounded shuffle) + one full-outer join on the category key.
    """
    a = categorical_counts(ref, cat_col).withColumnRenamed("n", "n_ref")
    b = categorical_counts(cur, cat_col).withColumnRenamed("n", "n_cur")
    return categorical_drift_finalize(a, b)


def categorical_counts(df: DataFrame, cat_col: str) -> DataFrame:
    """(cat, n) counts — the streaming-mergeable partial of
    :func:`categorical_drift` (plain sums, additive across any batch
    split of the window)."""
    return df.groupBy(F.col(cat_col).alias("cat")).agg(
        F.count("*").alias("n")
    )


def categorical_drift_finalize(a: DataFrame, b: DataFrame) -> DataFrame:
    """TV + top-mover from accumulated (cat, n_ref)/(cat, n_cur) counts —
    identical output to :func:`categorical_drift` however the current
    counts were produced (one batch or many merged micro-batches)."""
    grid = a.join(b, "cat", "full_outer").select(
        "cat",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    tot = grid.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = F.floor(F.lit(10_000) * F.col("n_ref") / F.col("t_ref"))
    q = F.floor(F.lit(10_000) * F.col("n_cur") / F.col("t_cur"))
    d = F.abs(p - q)
    return (
        grid.crossJoin(F.broadcast(tot))
        .agg(
            F.floor(F.sum(d) / 2).cast("bigint").alias("tv_bp"),
            F.max_by(F.col("cat"), F.struct(d, F.col("cat"))).alias(
                "top_mover"
            ),
            F.max(d).cast("bigint").alias("top_mover_bp"),
            F.max("t_ref").cast("bigint").alias("n_ref"),
            F.max("t_cur").cast("bigint").alias("n_cur"),
        )
    )


def impute_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Null imputation with the per-group exact median — the standard
    numeric-feature repair before model consumption, grouped so a
    skewed segment doesn't inherit the global center.

    The median is Spark ``percentile(0.5)`` ≡ DuckDB ``quantile_cont``
    (bit-identical IEEE interpolation — same contract as
    aggregates.quantile_bins), computed over NON-NULL values in one
    group-keyed aggregate and broadcast back; the fill itself is a
    codegen coalesce.  Output adds ``value_imputed`` and
    ``was_imputed`` next to the original column.
    """
    med = df.filter(F.col(value_col).isNotNull()).groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_median")
    )
    return (
        df.join(F.broadcast(med), group_col, "left")
        .select(
            *df.columns,
            F.coalesce(F.col(value_col), F.col("_median")).alias(
                "value_imputed"
            ),
            F.col(value_col).isNull().alias("was_imputed"),
        )
    )


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift monitor: L2 distance between the reference
    window's and the current window's MEAN embedding, in exact integer
    micro-units — the "did the upstream embedding model (or the content
    mix) shift?" alarm run between corpus snapshots.

    Determinism: components are scaled to exact integers
    (ROUND(x·1e6) AS BIGINT) BEFORE summing, so the per-dimension sums
    are order-independent; means floor-divide, the squared distance is
    an exact BIGINT, and the final sqrt runs on the same exact integer
    in both engines.  One posexplode + one (side, dim) hash aggregate —
    shuffle is dims-bounded, never corpus-bounded.

    Returns one row: (n_ref, n_cur, n_dims, l2_micro).
    """
    def sums(df: DataFrame, tag: str) -> DataFrame:
        ex = df.select(F.posexplode(vec_col).alias("dim", "v"))
        return ex.groupBy("dim").agg(
            F.sum(F.expr("CAST(ROUND(v * 1e6) AS BIGINT)")).alias(f"s_{tag}"),
            F.count("*").cast("bigint").alias(f"n_{tag}"),
        )
    a = sums(ref, "ref")
    b = sums(cur, "cur")
    per_dim = a.join(b, "dim").select(
        "dim",
        "n_ref",
        "n_cur",
        (
            F.expr("s_ref div n_ref") - F.expr("s_cur div n_cur")
        ).alias("d"),
    )
    return per_dim.agg(
        F.floor(F.max("n_ref")).cast("bigint").alias("n_ref"),
        F.floor(F.max("n_cur")).cast("bigint").alias("n_cur"),
        F.count("*").cast("bigint").alias("n_dims"),
        F.floor(F.sqrt(F.sum(F.col("d") * F.col("d")))).cast("bigint").alias(
            "l2_micro"
        ),
    )


def wasserstein_drift(
    ref: DataFrame,
    cur: DataFrame,
    group_col: str,
    cents_col: str,
    bin_width_cents: int = 1000,
) -> DataFrame:
    """Per-group 1-Wasserstein (earth-mover) distance between two
    windows' value distributions, binned — the ORDER-AWARE drift metric:
    total-variation (``distribution_drift``) scores "10 % of mass moved"
    identically whether it moved one bin or across the whole range,
    while W₁ charges mass × distance, which is what "values drifted
    upward" actually means.

    Integer-exact: with per-window totals Nr/Nc and cumulative bin
    counts Cr/Cc, W₁ = Σ_bins |Cr·Nc − Cc·Nr| · gap · width / (Nr·Nc) —
    every term a bigint (the cross-multiplication clears both
    normalizations), one integer division at the presentation edge.
    Empty-bin runs between occupied bins contribute via the ``gap``
    multiplier (lead(bin) − bin), so sparse histograms need no
    densification; after the last occupied bin both CDFs are complete
    and the difference is identically zero.

    Overflow headroom: terms are ≤ Nr·Nc ≤ (rows/group)² — fine to
    ~3·10⁹ rows per group per window; beyond that pre-scale the counts.

    Plan: one hash agg to (group, bin) grain with conditional partials
    for both windows (the two inputs union — a single scan when both
    windows filter the same table), one window over the tiny binned
    frame, one final agg.
    """
    r = ref.select(
        F.col(group_col).alias("g"),
        F.expr(f"({cents_col}) div {int(bin_width_cents)}").alias("bin"),
        F.lit(1).alias("in_ref"),
    )
    c = cur.select(
        F.col(group_col).alias("g"),
        F.expr(f"({cents_col}) div {int(bin_width_cents)}").alias("bin"),
        F.lit(0).alias("in_ref"),
    )
    binned = (
        r.unionAll(c)
        .groupBy("g", "bin")
        .agg(
            F.sum("in_ref").cast("bigint").alias("nr"),
            F.sum(1 - F.col("in_ref")).cast("bigint").alias("nc"),
        )
    )
    return wasserstein_from_binned(binned, group_col, int(bin_width_cents))


def wasserstein_from_binned(
    binned: DataFrame,
    group_col: str,
    bin_width_cents: int,
) -> DataFrame:
    """The CDF cross-multiplication core of :func:`wasserstein_drift`,
    taking a pre-binned histogram frame ``(g, bin, nr, nc)`` directly —
    the entry point for maintainers that already hold bin counts (the
    streaming monitor folds additive per-batch counts and finalizes
    here; re-expanding counts into unit rows to re-bin them would be an
    O(rows) driver step, the opposite of what a histogram state is
    for)."""
    from pyspark.sql import Window

    per_g = Window.partitionBy("g")
    run = Window.partitionBy("g").orderBy("bin")
    # The last occupied bin's gap is NULL→0 rather than filtered: its
    # CDF-difference term is identically zero (both CDFs are complete
    # there), but DROPPING the row would make a group whose entire mass
    # sits in one bin vanish from the report instead of scoring w1=0 —
    # and "zero drift" and "no data" must stay distinguishable.
    scored = binned.select(
        "g",
        F.sum("nr").over(per_g).alias("n_ref"),
        F.sum("nc").over(per_g).alias("n_cur"),
        F.sum("nr").over(run).alias("cr"),
        F.sum("nc").over(run).alias("cc"),
        F.coalesce(F.lead("bin").over(run) - F.col("bin"), F.lit(0)).alias(
            "gap"
        ),
    )
    return (
        scored.groupBy("g")
        .agg(
            F.max("n_ref").cast("bigint").alias("n_ref"),
            F.max("n_cur").cast("bigint").alias("n_cur"),
            F.sum(
                F.abs(F.col("cr") * F.col("n_cur") - F.col("cc") * F.col("n_ref"))
                * F.col("gap")
            ).alias("s"),
        )
        .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .select(
            F.col("g").alias(group_col),
            "n_ref",
            "n_cur",
            F.expr(
                f"CAST((s * {int(bin_width_cents)}) DIV (n_ref * n_cur) AS BIGINT)"
            ).alias("w1_cents"),
        )
    )
