"""Dataset-curation queries over `documents`, with DuckDB oracles.

Token normalization is shared with queries/dedup.py (DUCK_TOKENS); the
n-gram constructors mirror operators/curation.ngrams_col
expression-for-expression (1-based inclusive slices in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import curation
from real_time_data_pipeline_spark.queries.dedup import DUCK_TOKENS
from real_time_data_pipeline_spark.queries.text import _stop_list
from real_time_data_pipeline_spark.schemas import load_table

# Training-mix rates (basis points) by source: the kind of table a data
# team maintains — upweight curated sources, downweight scraped ones.
MIX_RATES_BP = {"src0": 10000, "src1": 7500, "src2": 5000, "src3": 2500}
MIX_DEFAULT_BP = 1000

PACK_BUDGET_TOKENS = 512

# Stand-in benchmark corpus for the decontamination check: one source's
# documents play the role of the eval suite.  (In production this is the
# actual benchmark set; the mechanism — distinct-8-gram collision — is
# identical.)
BENCH_SOURCE = "src0"


def _duck_ngrams(n: int) -> str:
    """DuckDB twin of curation.ngrams_col: 1-based inclusive slice."""
    return f"""list_transform(
        range(1, greatest(len({DUCK_TOKENS}) - {n - 1}, 1) + 1),
        i -> array_to_string(({DUCK_TOKENS})[i:i+{n - 1}], ' '))"""


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _doc_tokens(docs):
    """Persisted (doc_id, n_chars, toks) tokenize prep — ONE tokenizer
    pass shared by every quality/dedup text leg of a composite query
    (r10, guide §2.3/§5).  Downstream gram/shingle/hash expressions
    slice the same arrays the standalone operators would build, so
    sharing cannot change any output."""
    from real_time_data_pipeline_spark.operators import cache
    from real_time_data_pipeline_spark.operators.dedup import tokens_col

    return cache.track(
        docs.select(
            F.col("doc_id"),
            F.length(F.col("text")).alias("n_chars"),
            tokens_col("text").alias("toks"),
        )
    )


def q_text_repetition(spark, sf_dir):
    return curation.repetition_stats(_docs(spark, sf_dir))


def q_decontaminate(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    return curation.decontaminate(docs, bench)


def q_dataset_mix(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return curation.mix_sources(
        docs, MIX_RATES_BP, default_bp=MIX_DEFAULT_BP
    ).select("doc_id", "source", "sample_key_bp")


def q_sequence_packing(spark, sf_dir):
    return curation.pack_sequences(_docs(spark, sf_dir), PACK_BUDGET_TOKENS)


CHUNK_TOKENS = 64
CHUNK_STRIDE = 32


def q_chunk_windows(spark, sf_dir):
    return curation.chunk_tokens(
        _docs(spark, sf_dir), chunk=CHUNK_TOKENS, stride=CHUNK_STRIDE
    )


# Epoch rates (bp of one epoch): upweight the curated source 2.5x, keep
# the rest at 1 epoch, drop src3 to a half epoch.
UPSAMPLE_RATES_BP = {"src0": 25000, "src3": 5000}

N_SHARDS = 8


def q_dataset_upsample(spark, sf_dir):
    return curation.epoch_upsample(
        _docs(spark, sf_dir).select("doc_id", "source"), UPSAMPLE_RATES_BP
    )


def q_doc_quality(spark, sf_dir):
    """Composite per-document quality gate (quality score ∧ surprisal ∧
    repetition ∧ decontamination) — the quality twin of dedup_pipeline."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    return curation.quality_verdicts(docs, bench)


DUP_SPAN_N = 4  # 4-grams collide often enough on this corpus to exercise both branches


def q_corpus_dup_spans(spark, sf_dir):
    """Intra-corpus duplicated-span profile (bucketed ExactSubstr proxy)."""
    return curation.dup_span_stats(_docs(spark, sf_dir), n=DUP_SPAN_N)


def q_source_profile(spark, sf_dir):
    """Per-source corpus rollup for mixture-rate triage."""
    return curation.source_profile(_docs(spark, sf_dir))


def q_dataset_split(spark, sf_dir):
    """Deterministic hash-threshold train/val/test assignment."""
    return curation.train_val_test_split(
        _docs(spark, sf_dir).select("doc_id", "source")
    )


def q_group_split(spark, sf_dir):
    """Leakage-aware split: every doc of a source shares a split."""
    return curation.grouped_split(
        _docs(spark, sf_dir).select("doc_id", "source"), "source"
    )


def q_dataset_shuffle(spark, sf_dir):
    # The operator passes input columns through (payload rides the one
    # window shuffle); project to the id so the oracle schema stays
    # layout-metadata-only.
    return curation.shuffle_shards(_docs(spark, sf_dir).select("doc_id"), N_SHARDS)


BATCH_SIZE = 32
CURRICULUM_BUDGET_TOKENS = 2048


def q_step_provenance(spark, sf_dir):
    """Training-step -> document provenance over the deterministic
    shuffle (operators/curation.step_provenance): batch_size=32 over
    the 8-shard layout; oracle replays the same Lehmer permutation and
    offsets in SQL."""
    return curation.step_provenance(
        _docs(spark, sf_dir).select("doc_id"), N_SHARDS, BATCH_SIZE
    )


def q_dedup_span_scrub(spark, sf_dir):
    """Duplicated-span removal (operators/curation.scrub_dup_spans,
    4-gram spans matching corpus_dup_spans' grain): the cleaned text a
    ExactSubstr-style pass ships — later occurrences of any duplicated
    span deleted, first occurrence kept."""
    return curation.scrub_dup_spans(_docs(spark, sf_dir), n=DUP_SPAN_N)


def q_decontaminate_scrub(spark, sf_dir):
    """Span-level decontamination transform
    (operators/curation.scrub_contaminated_spans): the non-benchmark
    corpus with every benchmark-overlapping 4-gram span removed
    (4-gram grain matches corpus_dup_spans — collisions exist at this
    SF, so both the removal and pass-through branches execute)."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    corpus = docs.filter(docs.source != BENCH_SOURCE)
    return curation.scrub_contaminated_spans(corpus, bench, n=DUP_SPAN_N)


def _quality_scores_and_labels(docs, bench):
    """Shared front of the calibration queries: the linear-model scores
    and the heuristic-gate labels, both fed from ONE persisted tokenize
    prep (r10, guide §2.3/§5 — previously the scorer and the four
    verdict signals ran five independent scan+tokenize passes over the
    corpus text; every downstream expression slices the same token
    arrays, so each leg's output is bit-identical to its standalone
    form)."""
    from real_time_data_pipeline_spark.operators.text import (
        quality_logit_score,
    )

    toksf = _doc_tokens(docs)
    scores = quality_logit_score(docs, tokens_frame=toksf)
    labels = curation.quality_verdicts(
        docs, bench, tokens_frame=toksf
    ).select("doc_id", F.col("keep").alias("keep_heuristic"))
    return scores, labels


def q_quality_calibration(spark, sf_dir):
    """Classifier-calibration audit: corpus-wide deciles of the linear
    quality model's score vs the heuristic quality gate — per decile,
    keep rates of both and their agreement in bp.  The "is the model
    monotone against the rules it should approximate" table reviewed
    before swapping a gate for a model.  Decile boundaries come from
    ONE global percentile aggregate (broadcast back — no global sort);
    both legs are themselves oracle-checked queries.

    The scored+labeled table is persisted via cache.track (round-6 plan
    diet): it feeds BOTH the percentile aggregate and the decile
    groupBy, and without the persist each leg recomputed the whole
    quality_model and doc_quality subplans — the suite's
    shuffle-heaviest plan (33 shuffles) for no extra information.  The
    cached frame is (doc_id, score, 2 bools) — bytes per row, never
    corpus text."""
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.operators import cache

    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    scores, labels = _quality_scores_and_labels(docs, bench)
    joined = cache.track(scores.join(labels, "doc_id"))
    qs = [i / 10 for i in range(1, 10)]
    bounds = joined.agg(
        F.expr(
            f"percentile(score_micro, array({', '.join(str(q) for q in qs)}))"
        ).alias("_b")
    )
    bin_ = (
        F.lit(1)
        + F.aggregate(
            F.col("_b"),
            F.lit(0),
            lambda acc, b: acc
            + F.when(b <= F.col("score_micro"), 1).otherwise(0),
        )
    ).cast("bigint")
    agree = F.col("keep_model") == F.col("keep_heuristic")
    return (
        joined.crossJoin(F.broadcast(bounds))
        .withColumn("decile", bin_)
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("keep_model").cast("int")).cast("bigint").alias(
                "n_model_keep"
            ),
            F.sum(F.col("keep_heuristic").cast("int")).cast("bigint").alias(
                "n_heuristic_keep"
            ),
            F.floor(
                F.lit(10_000) * F.sum(agree.cast("int")) / F.count("*")
            )
            .cast("bigint")
            .alias("agreement_bp"),
        )
    )


def q_curation_flags(spark, sf_dir):
    """One-shot combined curation verdict
    (operators/curation.curation_flags): repetition profile +
    benchmark decontamination per doc, keep = both pass — the
    snapshot-producing pass whose incremental maintainer is
    curation_flags_incremental."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    return curation.curation_flags(docs, bench)


def _prev_snapshot(docs):
    """The deterministic previous-snapshot pair shared by
    curation_flags_incremental and snapshot_delta_profile: returns
    (old_docs, removed) where old_docs lacks the ADDED docs
    (non-benchmark doc_id % 7 == 0 — %7 takes precedence over %13, so
    a doc divisible by 91 is added, not modified), carries a
    stale-prefixed text for the MODIFIED docs (non-benchmark
    doc_id % 13 == 0 among those present), and removed holds the
    synthetic doc_id + 10_000_000 copies (REMOVED in the new
    snapshot).  One definition — the profile and the maintainer can
    never disagree about what the delta is."""
    is_bench = F.col("source") == BENCH_SOURCE
    old_core = docs.filter(is_bench | (F.col("doc_id") % 7 != 0))
    stale = (~is_bench) & (F.col("doc_id") % 13 == 0)
    old_docs = old_core.select(
        "doc_id",
        "source",
        F.when(stale, F.concat(F.lit("stale draft "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    removed = docs.filter((~is_bench) & (F.col("doc_id") % 11 == 0)).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        "source",
        "text",
    )
    return old_docs, removed


def q_curation_flags_incremental(spark, sf_dir):
    """Cross-snapshot INCREMENTAL curation under the full-recompute
    oracle: the previous snapshot's flags table and content manifest
    (doc_id, sha2(text)) are persisted artifacts; the new snapshot is
    diffed against the manifest — fingerprints only, text never leaves
    the scan — into added / modified / removed sets, curation_flags is
    recomputed for added ∪ modified ONLY (against the frozen benchmark;
    a benchmark change invalidates the whole artifact by contract), and
    unchanged docs carry their previous rows through an id anti-join.
    Because curation_flags is per-document given the benchmark, the
    carried rows equal a fresh recompute, so the output is EXACTLY the
    one-shot pass over the new snapshot — the oracle is q_curation_flags'.

    The snapshot pair is derived deterministically from the immutable
    corpus: the previous snapshot lacks non-benchmark docs with
    doc_id % 7 == 0 (they are ADDED now), carried a stale-prefixed text
    for doc_id % 13 == 0 (MODIFIED now), and held synthetic
    doc_id + 10_000_000 copies of the % 11 == 0 docs (REMOVED now) —
    so all three delta classes are exercised, including modifications
    that flip a keep flag.  First call per sf bootstraps and persists
    the artifacts (in production they are the previous run's outputs);
    later calls measure the steady state: one fingerprint diff + a
    delta-bounded recompute, never a corpus re-tokenize."""
    import os

    docs = _docs(spark, sf_dir)
    is_bench = F.col("source") == BENCH_SOURCE
    bench = docs.filter(is_bench)
    wh = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "spark-warehouse",
    )
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    flags_path = os.path.join(wh, f"curation_flags_prev_{sf_tag}")
    manifest_path = os.path.join(wh, f"curation_manifest_prev_{sf_tag}")
    try:
        old_flags = spark.read.parquet(flags_path)
        old_manifest = spark.read.parquet(manifest_path)
        old_manifest.limit(1).collect()  # reject partial artifacts now
        old_flags.limit(1).collect()
    except Exception:
        prev, removed = _prev_snapshot(docs)
        old_docs = prev.unionByName(removed)
        curation.curation_flags(old_docs, bench).write.mode(
            "overwrite"
        ).parquet(flags_path)
        old_docs.select(
            "doc_id", F.sha2(F.col("text"), 256).alias("fp")
        ).write.mode("overwrite").parquet(manifest_path)
        old_flags = spark.read.parquet(flags_path)
        old_manifest = spark.read.parquet(manifest_path)

    from real_time_data_pipeline_spark.operators import cache

    new_manifest = docs.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("fp")
    )
    # Persisted: recompute_ids and stale_ids both consume the diff —
    # without it the fingerprint scan + full-outer join run twice.
    # (doc_id, 2 hashes) — bytes per row.
    diff = cache.track(
        new_manifest.withColumnRenamed("fp", "fp_new").join(
            old_manifest.withColumnRenamed("fp", "fp_old"), "doc_id", "full"
        )
    )
    # ids to recompute (added: no old fp; modified: fp changed) and ids
    # whose old rows must not carry (removed ∪ modified ∪ added — added
    # has no old row, harmless in the anti-join)
    recompute_ids = diff.filter(
        F.col("fp_old").isNull() | (F.col("fp_new") != F.col("fp_old"))
    ).select("doc_id")
    stale_ids = diff.filter(
        F.col("fp_new").isNull()
        | F.col("fp_old").isNull()
        | (F.col("fp_new") != F.col("fp_old"))
    ).select("doc_id")
    recomputed = curation.curation_flags(
        docs.join(recompute_ids, "doc_id", "semi"), bench
    )
    carried = old_flags.join(stale_ids, "doc_id", "anti")
    return carried.unionByName(recomputed)


def q_snapshot_delta_profile(spark, sf_dir):
    """Cross-snapshot delta REPORT — the review table next to
    curation_flags_incremental's maintenance: per source, how many docs
    the new snapshot added / removed / modified / left unchanged
    (classes from the shared _prev_snapshot definition, so the report
    and the maintainer can never disagree), plus n_keep_flips — the
    modified docs whose overall curation ``keep`` verdict CHANGED
    between snapshots, the number a data owner actually reviews before
    accepting a refresh.  Old-snapshot verdicts are recomputed from the
    derived old text (not read from the staged artifact) so the report
    is self-contained; the oracle recomputes both verdict sets in
    DuckDB over the same derived relation."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    prev, removed = _prev_snapshot(docs)
    is_bench = F.col("source") == BENCH_SOURCE
    cls = docs.select(
        "doc_id",
        "source",
        F.when((~is_bench) & (F.col("doc_id") % 7 == 0), F.lit("added"))
        .when((~is_bench) & (F.col("doc_id") % 13 == 0), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
        .alias("cls"),
    )
    counts = cls.groupBy("source").agg(
        F.sum((F.col("cls") == "added").cast("int")).cast("bigint").alias(
            "n_added"
        ),
        F.sum((F.col("cls") == "modified").cast("int"))
        .cast("bigint")
        .alias("n_modified"),
        F.sum((F.col("cls") == "unchanged").cast("int"))
        .cast("bigint")
        .alias("n_unchanged"),
    )
    removed_counts = removed.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_removed")
    )
    # Verdicts are per-document given the (unchanged) benchmark, so
    # both passes run ONLY over the modified class — the report's
    # verdict cost is delta-bounded, the same envelope as the
    # incremental maintainer, not two corpus re-tokenizations.
    mod_ids = cls.filter(F.col("cls") == "modified").select("doc_id")
    old_keep = curation.curation_flags(
        prev.join(mod_ids, "doc_id", "semi"), bench
    ).select("doc_id", F.col("keep").alias("keep_old"))
    new_keep = curation.curation_flags(
        docs.join(mod_ids, "doc_id", "semi"), bench
    ).select("doc_id", F.col("keep").alias("keep_new"))
    flips = (
        old_keep.join(new_keep, "doc_id")
        .filter(F.col("keep_old") != F.col("keep_new"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_keep_flips"))
    )
    return (
        counts.join(removed_counts, "source", "left")
        .join(flips, "source", "left")
        .select(
            "source",
            "n_added",
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias(
                "n_removed"
            ),
            "n_modified",
            "n_unchanged",
            F.coalesce("n_keep_flips", F.lit(0)).cast("bigint").alias(
                "n_keep_flips"
            ),
        )
    )


def q_stream_curation_flags(spark, sf_dir):
    """Streaming twin of `curation_flags` on the SAME oracle: documents
    ARRIVE AS A STREAM and every micro-batch runs the combined curation
    verdict (operators/curation.curation_flags) against the static
    benchmark frame — the steady-state ingest-curation shape.
    Neither signal holds cross-document state (repetition is
    doc-bounded, decontamination joins the static benchmark gram set),
    so per-batch outputs are disjoint by doc id and their union is
    hash-identical to the one-shot pass — the property the shared
    oracle pins end-to-end (the pytest parity check covers the operator
    pair; this entry puts the full readStream→foreachBatch cycle under
    the driver gate)."""
    from real_time_data_pipeline_spark.queries.reference_parity import (
        stream_capture,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    out_schema = curation.curation_flags(docs.limit(0), bench).schema

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).parquet(
        f"{sf_dir}/documents*.parquet"
    )
    return stream_capture(
        stream,
        "stream_curation_flags",
        transform=lambda b: curation.curation_flags(b, bench),
        schema=out_schema,
    )


CALIBRATION_WINDOWS = 4


def _calibration_binned(spark, sf_dir):
    """Shared front half of the windowed-calibration pair: the scored,
    heuristic-labeled, decile-binned doc table plus the frozen
    reference keep rates.  Returns (binned, ref) where binned =
    (doc_id, window_id, decile, keep_model, keep_heuristic) and ref =
    (decile, ref_model_keep_bp).  Decile bounds come from ONE corpus
    percentile aggregate broadcast back (the quality_calibration
    recipe); the binned frame is persisted because the reference
    aggregate and the windowed aggregate both consume it."""
    from real_time_data_pipeline_spark.operators import cache

    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    scores, labels = _quality_scores_and_labels(docs, bench)
    # Persisted (the quality_calibration plan-diet lesson): the bounds
    # percentile aggregate AND the decile binning both consume this
    # frame — without the persist the whole quality_model + doc_quality
    # subplan runs twice.  (doc_id, score, window, 2 bools) — bytes per
    # row, never corpus text.
    joined = cache.track(
        scores.join(labels, "doc_id").withColumn(
            "window_id",
            F.pmod(F.col("doc_id"), F.lit(CALIBRATION_WINDOWS)).cast(
                "bigint"
            ),
        )
    )
    qs = [i / 10 for i in range(1, 10)]
    bounds = joined.agg(
        F.expr(
            f"percentile(score_micro, array({', '.join(str(q) for q in qs)}))"
        ).alias("_b")
    )
    bin_ = (
        F.lit(1)
        + F.aggregate(
            F.col("_b"),
            F.lit(0),
            lambda acc, b: acc
            + F.when(b <= F.col("score_micro"), 1).otherwise(0),
        )
    ).cast("bigint")
    binned = cache.track(
        joined.crossJoin(F.broadcast(bounds))
        .withColumn("decile", bin_)
        .select("doc_id", "window_id", "decile", "keep_model", "keep_heuristic")
    )
    ref = binned.groupBy("decile").agg(
        F.floor(
            F.lit(10_000)
            * F.sum(F.col("keep_model").cast("int"))
            / F.count("*")
        )
        .cast("bigint")
        .alias("ref_model_keep_bp")
    )
    return binned, ref


def _calibration_window_agg(binned):
    """Per-(window, decile) calibration counts — the mergeable partial
    the streaming monitor folds."""
    agree = F.col("keep_model") == F.col("keep_heuristic")
    return binned.groupBy("window_id", "decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("keep_model").cast("int")).cast("bigint").alias(
            "n_model_keep"
        ),
        F.sum(F.col("keep_heuristic").cast("int")).cast("bigint").alias(
            "n_heuristic_keep"
        ),
        F.sum(agree.cast("int")).cast("bigint").alias("n_agree"),
    )


def _calibration_present(per, ref):
    """Presentation edge shared by batch and stream: rates in bp plus
    the drift column vs the frozen reference."""
    model_bp = F.floor(
        F.lit(10_000) * F.col("n_model_keep") / F.col("n_docs")
    ).cast("bigint")
    return (
        per.join(F.broadcast(ref), "decile")
        .select(
            "window_id",
            "decile",
            "n_docs",
            "n_model_keep",
            "n_heuristic_keep",
            F.floor(F.lit(10_000) * F.col("n_agree") / F.col("n_docs"))
            .cast("bigint")
            .alias("agreement_bp"),
            model_bp.alias("model_keep_bp"),
            "ref_model_keep_bp",
            F.abs(model_bp - F.col("ref_model_keep_bp"))
            .cast("bigint")
            .alias("drift_bp"),
        )
    )


def q_calibration_drift_windows(spark, sf_dir):
    """Classifier-calibration DRIFT over ingest windows: the
    quality_calibration decile table computed per window (window_id =
    doc_id mod 4 — the ingest-chunk stand-in), each window's per-decile
    model keep rate compared against the corpus-wide frozen reference —
    drift_bp is the monitored quantity (a window whose decile keep rate
    wanders from the calibration reference signals distribution shift
    or a broken upstream feature).  Decile bounds and reference rates
    are ONE corpus aggregate broadcast back; everything downstream is
    mergeable counts, which is what makes the streaming twin
    (stream_calibration_drift) fold the same numbers batch-by-batch."""
    binned, ref = _calibration_binned(spark, sf_dir)
    return _calibration_present(_calibration_window_agg(binned), ref)


def q_stream_calibration_drift(spark, sf_dir):
    """Streaming twin of `calibration_drift_windows` on the SAME
    oracle — the production calibration monitor: the scored+binned doc
    stream arrives in micro-batches (staged as 4 window-range files;
    scoring/binning happens upstream at the edge against the FROZEN
    reference artifacts, the monitor never retrains them), and each
    micro-batch's per-(window, decile) counts go to captured parquet
    — counts are associative, so one engine merge (sum per (window,
    decile)) over the capture yields the identical final table for ANY
    batch split, which is the property the shared oracle hash pins.
    Each capture holds windows × deciles counter rows per batch
    (bounded)."""
    from real_time_data_pipeline_spark.queries.reference_parity import (
        capture_stage,
        stream_capture,
    )

    binned, ref = _calibration_binned(spark, sf_dir)
    stage = capture_stage(spark, "stream_calib")
    (
        binned.repartitionByRange(CALIBRATION_WINDOWS, "window_id", "doc_id")
        .write.mode("overwrite")
        .parquet(stage)
    )

    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    cap = stream_capture(
        stream,
        "stream_calibration_drift",
        transform=_calibration_window_agg,
        schema="window_id bigint, decile bigint, n_docs bigint, "
        "n_model_keep bigint, n_heuristic_keep bigint, n_agree bigint",
    )
    per = cap.groupBy("window_id", "decile").agg(
        *[
            F.sum(c).cast("bigint").alias(c)
            for c in ("n_docs", "n_model_keep", "n_heuristic_keep", "n_agree")
        ]
    )
    return _calibration_present(per, ref)


BUDGET_TOKENS = 1_000_000


def q_budget_allocation(spark, sf_dir):
    """Quality-weighted token-budget split across sources with
    largest-remainder exactness (operators/curation.budget_allocation):
    per-source allocations are integers summing EXACTLY to the budget;
    rate_bp is the resulting sampling/epoch multiplier.  The planning
    table a data team reviews before mix_sources ships a run."""
    return curation.budget_allocation(
        _docs(spark, sf_dir), BUDGET_TOKENS
    )


def _budget_allocation_oracle() -> str:
    from real_time_data_pipeline_spark.queries.dedup import DUCK_TOKENS
    from real_time_data_pipeline_spark.queries.text import _stop_list

    score = f"""CAST(
        least(40, len({DUCK_TOKENS}))
        + least(30, CAST(FLOOR(100 * len(list_filter({DUCK_TOKENS},
                 t -> list_contains({_stop_list('en')}, t)))
                 / len({DUCK_TOKENS})) AS INT))
        + CASE WHEN FLOOR(100 * list_sum(list_transform({DUCK_TOKENS},
                    t -> length(t))) / len({DUCK_TOKENS}))
               BETWEEN 300 AND 800 THEN 30 ELSE 10 END
      AS BIGINT)"""
    # Empty/whitespace-only docs are EXCLUDED from n_docs on both
    # engines (ADVICE r7): split('') yields [''] — ONE empty token —
    # on Spark and DuckDB alike, so without an explicit filter an
    # empty doc would be counted as one token of mass on both sides.
    # The normalized-text filter here mirrors the operator's.
    return f"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_toks,
                 {score} AS q
          FROM documents
          WHERE trim(regexp_replace(text, '\\s+', ' ', 'g')) != ''
        ),
        s AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                 CAST(sum(n_toks * q) AS BIGINT) AS mass
          FROM t GROUP BY 1
        ),
        m AS (SELECT CAST(sum(mass) AS HUGEINT) AS tm FROM s),
        b AS (
          SELECT s.*,
                 CAST((CAST({BUDGET_TOKENS} AS HUGEINT) * mass) // tm
                      AS BIGINT) AS base,
                 CAST((CAST({BUDGET_TOKENS} AS HUGEINT) * mass) % tm
                      AS BIGINT) AS rem
          FROM s, m
        ),
        lv AS (SELECT {BUDGET_TOKENS} - sum(base) AS leftover FROM b),
        r AS (
          SELECT b.*, lv.leftover,
                 row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
          FROM b, lv
        )
        SELECT source, n_docs, n_tokens, mass,
               CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_tokens,
               CAST((10000 * (base + CASE WHEN rk <= leftover THEN 1
                              ELSE 0 END)) // n_tokens AS BIGINT)
                 AS rate_bp
        FROM r
    """


def q_curriculum_phases(spark, sf_dir):
    """Quality-ordered curriculum schedule with a 2048-token phase
    budget (operators/curation.curriculum_phases) — global prefix sum
    via the two-phase range-partitioned scan, no global sort."""
    return curation.curriculum_phases(
        _docs(spark, sf_dir), CURRICULUM_BUDGET_TOKENS
    )


QUERIES = {
    "text_repetition": q_text_repetition,
    "decontaminate": q_decontaminate,
    "dataset_mix": q_dataset_mix,
    "sequence_packing": q_sequence_packing,
    "chunk_windows": q_chunk_windows,
    "dataset_upsample": q_dataset_upsample,
    "dataset_shuffle": q_dataset_shuffle,
    "doc_quality": q_doc_quality,
    "corpus_dup_spans": q_corpus_dup_spans,
    "source_profile": q_source_profile,
    "dataset_split": q_dataset_split,
    "group_split": q_group_split,
    "step_provenance": q_step_provenance,
    "curriculum_phases": q_curriculum_phases,
    "dedup_span_scrub": q_dedup_span_scrub,
    "decontaminate_scrub": q_decontaminate_scrub,
    "quality_calibration": q_quality_calibration,
}


_REPETITION_ORACLE = f"""
    WITH g2 AS (
      SELECT doc_id, unnest({_duck_ngrams(2)}) AS gram FROM documents
    ),
    h2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
    s2 AS (SELECT doc_id, sum(c) AS n2, max(c) AS top2 FROM h2 GROUP BY 1),
    g5 AS (
      SELECT doc_id, unnest({_duck_ngrams(5)}) AS gram FROM documents
    ),
    h5 AS (SELECT doc_id, gram, count(*) AS c FROM g5 GROUP BY 1, 2),
    s5 AS (
      SELECT doc_id, sum(c) AS n5,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup5
      FROM h5 GROUP BY 1
    )
    SELECT s2.doc_id,
           CAST(FLOOR(10000 * top2 / n2) AS BIGINT) AS top_2gram_bp,
           CAST(FLOOR(10000 * dup5 / n5) AS BIGINT) AS dup_5gram_bp,
           CAST(FLOOR(10000 * top2 / n2) AS BIGINT) <= {curation.TOP_NGRAM_MAX_BP}
             AND CAST(FLOOR(10000 * dup5 / n5) AS BIGINT) <= {curation.DUP_NGRAM_MAX_BP}
             AS keep_repetition
    FROM s2 JOIN s5 ON s2.doc_id = s5.doc_id
"""

_DECONTAMINATE_ORACLE = f"""
    WITH docg AS (
      SELECT doc_id,
             unnest(list_distinct({_duck_ngrams(8)})) AS gram
      FROM documents
    ),
    bg AS (
      SELECT DISTINCT unnest({_duck_ngrams(8)}) AS gram
      FROM documents WHERE source = '{BENCH_SOURCE}'
    ),
    agg AS (
      SELECT d.doc_id,
             count(*) AS n_grams,
             sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS shared_grams
      FROM docg d LEFT JOIN bg b ON d.gram = b.gram
      GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(shared_grams AS BIGINT) AS shared_grams,
           CAST(FLOOR(10000 * shared_grams / n_grams) AS BIGINT) AS shared_bp,
           CAST(FLOOR(10000 * shared_grams / n_grams) AS BIGINT) <= 1000
             AS keep_decontaminated
    FROM agg
"""


def _duck_rate_case() -> str:
    arms = " ".join(
        f"WHEN '{src}' THEN {bp}" for src, bp in sorted(MIX_RATES_BP.items())
    )
    return f"CASE source {arms} ELSE {MIX_DEFAULT_BP} END"


_MIX_ORACLE = f"""
    SELECT doc_id, source,
           CAST(((doc_id * {curation._LEHMER_MULT}) % {curation._LEHMER_MOD})
                % 10000 AS BIGINT) AS sample_key_bp
    FROM documents
    WHERE ((doc_id * {curation._LEHMER_MULT}) % {curation._LEHMER_MOD}) % 10000
          < {_duck_rate_case()}
"""

_PACKING_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, source, len({DUCK_TOKENS}) AS n_tokens FROM documents
    )
    SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
           CAST(FLOOR(
             (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens)
             / {PACK_BUDGET_TOKENS}) AS BIGINT) AS pack_id
    FROM t
"""

_CHUNK_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
    ), c AS (
      SELECT doc_id, toks,
             unnest(range(0, 1 + CAST(CEIL(greatest(len(toks) - {CHUNK_TOKENS}, 0)
                  / ({CHUNK_STRIDE} * 1.0)) AS INT))) AS chunk_idx
      FROM t
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(toks[chunk_idx * {CHUNK_STRIDE} + 1
                : chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(toks[chunk_idx * {CHUNK_STRIDE} + 1
                : chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')
             AS chunk_text
    FROM c
"""

def _duck_epoch_case() -> str:
    arms = " ".join(
        f"WHEN '{src}' THEN {bp}"
        for src, bp in sorted(UPSAMPLE_RATES_BP.items())
    )
    return f"CASE source {arms} ELSE 10000 END"


_LEHMER_KEY = f"((doc_id * {curation._LEHMER_MULT}) % {curation._LEHMER_MOD})"

_UPSAMPLE_ORACLE = f"""
    WITH r AS (
      SELECT doc_id, source,
             {_duck_epoch_case()} AS rate,
             CAST({_duck_epoch_case()} // 10000
                  + CASE WHEN {_LEHMER_KEY} % 10000
                              < {_duck_epoch_case()} % 10000
                         THEN 1 ELSE 0 END AS INT) AS n_epochs
      FROM documents
    )
    SELECT doc_id, source, n_epochs,
           CAST(unnest(range(0, n_epochs)) AS INT) AS epoch
    FROM r WHERE n_epochs > 0
"""

_SHUFFLE_ORACLE = f"""
    SELECT doc_id,
           CAST({_LEHMER_KEY} AS BIGINT) AS shuffle_key,
           CAST({_LEHMER_KEY} % {N_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY {_LEHMER_KEY} % {N_SHARDS}
             ORDER BY {_LEHMER_KEY}, doc_id
           ) - 1 AS BIGINT) AS pos_in_shard
    FROM documents
"""

_SCRUB_ORACLE = f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    occ AS (
      SELECT doc_id, u.s AS slot,
             array_to_string(toks[u.s+1:u.s+{DUP_SPAN_N}], ' ') AS gram
      FROM t, LATERAL (
        SELECT unnest(range(0, greatest(len(toks)-{DUP_SPAN_N},0)+1)) AS s
      ) u
    ),
    fst AS (SELECT gram, min(row(doc_id, slot)) AS f FROM occ GROUP BY gram),
    dup AS (
      SELECT o.doc_id, o.slot FROM occ o JOIN fst fi ON o.gram = fi.gram
      WHERE row(o.doc_id, o.slot) != fi.f
    ),
    cov AS (
      SELECT DISTINCT doc_id, u.p AS pos
      FROM dup, LATERAL (
        SELECT unnest(range(slot, slot+{DUP_SPAN_N})) AS p
      ) u
    ),
    tp AS (
      SELECT doc_id, u.pos - 1 AS pos, toks[u.pos] AS tok
      FROM t, LATERAL (SELECT unnest(range(1, len(toks)+1)) AS pos) u
    ),
    kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok FROM tp
      LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
      WHERE cov.pos IS NULL
    ),
    reb AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrub_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(t.toks) - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(reb.scrub_text, '') AS scrub_text
    FROM t LEFT JOIN reb USING (doc_id)
"""

_DECONTAM_SCRUB_ORACLE = f"""
    WITH corpus AS (
      SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
      WHERE source != '{BENCH_SOURCE}'
    ),
    bg AS (
      SELECT DISTINCT
             array_to_string(toks[u.s+1:u.s+{DUP_SPAN_N}], ' ') AS gram
      FROM (SELECT {DUCK_TOKENS} AS toks FROM documents
            WHERE source = '{BENCH_SOURCE}') b,
      LATERAL (
        SELECT unnest(range(0, greatest(len(toks)-{DUP_SPAN_N},0)+1)) AS s
      ) u
    ),
    occ AS (
      SELECT doc_id, u.s AS slot,
             array_to_string(toks[u.s+1:u.s+{DUP_SPAN_N}], ' ') AS gram
      FROM corpus, LATERAL (
        SELECT unnest(range(0, greatest(len(toks)-{DUP_SPAN_N},0)+1)) AS s
      ) u
    ),
    hit AS (SELECT o.doc_id, o.slot FROM occ o JOIN bg ON o.gram = bg.gram),
    cov AS (
      SELECT DISTINCT doc_id, u.p AS pos
      FROM hit, LATERAL (
        SELECT unnest(range(slot, slot+{DUP_SPAN_N})) AS p
      ) u
    ),
    tp AS (
      SELECT doc_id, u.pos - 1 AS pos, toks[u.pos] AS tok
      FROM corpus, LATERAL (SELECT unnest(range(1, len(toks)+1)) AS pos) u
    ),
    kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok FROM tp
      LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
      WHERE cov.pos IS NULL
    ),
    reb AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrub_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT c.doc_id, CAST(len(c.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(c.toks) - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(reb.scrub_text, '') AS scrub_text
    FROM corpus c LEFT JOIN reb USING (doc_id)
"""

_PROVENANCE_ORACLE = f"""
    WITH sh AS ({_SHUFFLE_ORACLE.replace('doc_id,', 'doc_id,', 1)}),
    sizes AS (SELECT shard, count(*) AS n FROM sh GROUP BY 1),
    off AS (
      SELECT shard,
             COALESCE(sum(n) OVER (ORDER BY shard
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
      FROM sizes
    )
    SELECT sh.doc_id, sh.shard, sh.pos_in_shard,
           CAST(o + pos_in_shard AS BIGINT) AS global_index,
           CAST(FLOOR((o + pos_in_shard) / {BATCH_SIZE}) AS BIGINT) AS step,
           CAST((o + pos_in_shard) % {BATCH_SIZE} AS BIGINT) AS slot
    FROM sh JOIN off USING (shard)
"""


def _curriculum_oracle() -> str:
    from real_time_data_pipeline_spark.queries import text as text_q

    return f"""
        WITH q AS ({text_q.ORACLES["text_quality_score"]}),
        t AS (
          SELECT doc_id, CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens
          FROM documents
        ),
        r AS (
          SELECT t.doc_id, q.quality_score, t.n_tokens,
                 CAST(sum(t.n_tokens) OVER (
                   ORDER BY -q.quality_score, t.doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          FROM t JOIN q USING (doc_id)
        )
        SELECT doc_id, quality_score, n_tokens, cum_tokens,
               CAST(FLOOR((cum_tokens - n_tokens)
                    / {CURRICULUM_BUDGET_TOKENS}) AS BIGINT) AS phase
        FROM r
    """


def _doc_quality_oracle() -> str:
    """Composite oracle: each signal's existing oracle SQL becomes a
    parenthesized subquery (DuckDB allows WITH inside subqueries), joined
    on doc_id with the conjunction gate — mirrors
    curation.quality_verdicts."""
    from real_time_data_pipeline_spark.queries import text as text_q

    return f"""
        SELECT q.doc_id, q.quality_score, s.mean_info_bp,
               r.keep_repetition, d.keep_decontaminated,
               (q.quality_score >= {curation.QUALITY_MIN_SCORE}
                AND s.mean_info_bp >= {curation.QUALITY_MIN_INFO_BP}
                AND r.keep_repetition AND d.keep_decontaminated) AS keep
        FROM ({text_q.ORACLES["text_quality_score"]}) q
        JOIN (SELECT doc_id, mean_info_bp
              FROM ({text_q.ORACLES["unigram_surprisal"]})) s
          ON q.doc_id = s.doc_id
        JOIN (SELECT doc_id, keep_repetition FROM ({_REPETITION_ORACLE})) r
          ON q.doc_id = r.doc_id
        JOIN (SELECT doc_id, keep_decontaminated
              FROM ({_DECONTAMINATE_ORACLE})) d
          ON q.doc_id = d.doc_id
    """


_DUP_SPAN_ORACLE = f"""
    WITH occ AS (
      SELECT doc_id, unnest({_duck_ngrams(DUP_SPAN_N)}) AS gram FROM documents
    ),
    cd AS (
      SELECT gram FROM occ GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    agg AS (
      SELECT o.doc_id,
             count(*) AS n_slots,
             sum(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END) AS dup_slots
      FROM occ o LEFT JOIN cd c ON o.gram = c.gram
      GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_slots AS BIGINT) AS n_slots,
           CAST(dup_slots AS BIGINT) AS dup_slots,
           CAST(FLOOR(10000 * dup_slots / n_slots) AS BIGINT) AS dup_bp,
           CAST(FLOOR(10000 * dup_slots / n_slots) AS BIGINT)
             <= {curation.DUP_SPAN_MAX_BP} AS keep_dup_spans
    FROM agg
"""

_SOURCE_PROFILE_ORACLE = f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
           CAST(FLOOR(10000 * (count(*) - count(DISTINCT text)) / count(*))
                AS BIGINT) AS dup_doc_bp,
           CAST(sum(len({DUCK_TOKENS})) AS BIGINT) AS total_tokens,
           CAST(FLOOR(10000 * sum(len({DUCK_TOKENS})) / count(*))
                AS BIGINT) AS mean_tokens_bp,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents GROUP BY 1
"""

_SPLIT_KEY = f"((doc_id * {curation._LEHMER_MULT}) % {curation._LEHMER_MOD}) % 10000"

_SPLIT_ORACLE = f"""
    SELECT doc_id, source,
           CAST({_SPLIT_KEY} AS BIGINT) AS split_key_bp,
           CASE WHEN {_SPLIT_KEY} < {curation.SPLIT_TRAIN_BP} THEN 'train'
                WHEN {_SPLIT_KEY} < {curation.SPLIT_VAL_BP} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
"""

def _duck_hexfold(col_expr: str) -> str:
    """DuckDB twin of curation.portable_hash_bp: fold the first 8 hex
    chars of sha256 via ascii arithmetic, mod 10000."""
    hv = lambda i: (  # noqa: E731
        f"(CASE WHEN ascii(substr(h, {i}, 1)) >= 97 "
        f"THEN CAST(ascii(substr(h, {i}, 1)) AS BIGINT) - 87 "
        f"ELSE CAST(ascii(substr(h, {i}, 1)) AS BIGINT) - 48 END)"
    )
    folded = hv(1)
    for i in range(2, 9):
        folded = f"({folded} * 16 + {hv(i)})"
    return f"(SELECT {folded} % 10000 FROM (SELECT sha256({col_expr}) AS h))"


_GROUP_SPLIT_ORACLE = f"""
    WITH keyed AS (
      SELECT doc_id, source,
             CAST({_duck_hexfold('source')} AS BIGINT) AS group_key_bp
      FROM documents
    )
    SELECT doc_id, source, group_key_bp,
           CASE WHEN group_key_bp < {curation.SPLIT_TRAIN_BP} THEN 'train'
                WHEN group_key_bp < {curation.SPLIT_VAL_BP} THEN 'val'
                ELSE 'test' END AS split
    FROM keyed
"""


def q_leakage_safe_split(spark, sf_dir):
    """Cluster-stable train/val/test split — the leakage guard a
    source-keyed grouped_split cannot give when near-duplicates span
    sources: documents are first resolved into transitive near-dup
    clusters (exact 3-gram Jaccard >= 0.8 → connected components, the
    dedup_clusters pipeline), then the split key is hashed from the
    CLUSTER id, so a near-duplicate of an eval document can never land
    in train — the contamination channel per-document (and even
    per-source) splits leave open.  Growth-stable like every split
    here: cluster membership and the hash key depend only on content,
    not corpus size.  At 100 TB the cluster labels come from the
    already-materialized dedup tier; the split itself stays a per-row
    expression."""
    from real_time_data_pipeline_spark.operators import dedup, graph

    docs = _docs(spark, sf_dir)
    # n=3 / 0.8: the dedup_clusters parameters — the oracle reuses that
    # query's recursive-CTE closure verbatim, so these must stay in sync
    # with q_dedup_clusters.
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8
    )
    cc = graph.connected_components(pairs, "id_a", "id_b")
    labeled = graph.attach_components(docs.select("doc_id"), cc, "doc_id")
    return curation.grouped_split(
        labeled.select("doc_id", "cluster_id"), "cluster_id"
    )


def _leakage_split_oracle() -> str:
    # Compose the dedup_clusters recursive-CTE closure (subquery form —
    # DuckDB allows WITH RECURSIVE in a derived table) with the same
    # sha256-hexfold split key as _GROUP_SPLIT_ORACLE, keyed on the
    # cluster id rendered exactly as Spark's bigint->string cast.
    from real_time_data_pipeline_spark.queries.dedup import _CLUSTERS_ORACLE

    key = _duck_hexfold("CAST(cluster_id AS VARCHAR)")
    return f"""
        WITH keyed AS (
          SELECT doc_id, cluster_id,
                 CAST({key} AS BIGINT) AS group_key_bp
          FROM ({_CLUSTERS_ORACLE}) clustered
        )
        SELECT doc_id, cluster_id, group_key_bp,
               CASE WHEN group_key_bp < {curation.SPLIT_TRAIN_BP} THEN 'train'
                    WHEN group_key_bp < {curation.SPLIT_VAL_BP} THEN 'val'
                    ELSE 'test' END AS split
        FROM keyed
    """


QUERIES["leakage_safe_split"] = q_leakage_safe_split

ORACLES = {
    "text_repetition": _REPETITION_ORACLE,
    "decontaminate": _DECONTAMINATE_ORACLE,
    "dataset_mix": _MIX_ORACLE,
    "sequence_packing": _PACKING_ORACLE,
    "chunk_windows": _CHUNK_ORACLE,
    "dataset_upsample": _UPSAMPLE_ORACLE,
    "dataset_shuffle": _SHUFFLE_ORACLE,
    "doc_quality": _doc_quality_oracle(),
    "step_provenance": _PROVENANCE_ORACLE,
    "dedup_span_scrub": _SCRUB_ORACLE,
    "decontaminate_scrub": _DECONTAM_SCRUB_ORACLE,
    "curriculum_phases": _curriculum_oracle(),
    "corpus_dup_spans": _DUP_SPAN_ORACLE,
    "source_profile": _SOURCE_PROFILE_ORACLE,
    "dataset_split": _SPLIT_ORACLE,
    "group_split": _GROUP_SPLIT_ORACLE,
}

ORACLES["leakage_safe_split"] = _leakage_split_oracle()


def q_source_overlap(spark, sf_dir):
    """Pairwise cross-source 8-gram contamination matrix
    (operators/curation.source_overlap)."""
    return curation.source_overlap(_docs(spark, sf_dir))


QUERIES["source_overlap"] = q_source_overlap

ORACLES["source_overlap"] = f"""
    WITH g AS (
      SELECT DISTINCT source AS src, unnest({_duck_ngrams(8)}) AS gram
      FROM documents
    ),
    ps AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
    common AS (
      SELECT a.src AS sa, b.src AS sb, CAST(count(*) AS BIGINT) AS c
      FROM g a JOIN g b ON a.gram = b.gram AND a.src < b.src
      GROUP BY 1, 2
    )
    SELECT pa.src AS src_a, pb.src AS src_b,
           pa.n AS n_grams_a, pb.n AS n_grams_b,
           CAST(COALESCE(c.c, 0) AS BIGINT) AS n_common,
           CAST(FLOOR(10000 * COALESCE(c.c, 0) / (pa.n + pb.n - COALESCE(c.c, 0))) AS BIGINT) AS jaccard_bp,
           CAST(FLOOR(10000 * COALESCE(c.c, 0) / pa.n) AS BIGINT) AS contain_a_bp,
           CAST(FLOOR(10000 * COALESCE(c.c, 0) / pb.n) AS BIGINT) AS contain_b_bp
    FROM ps pa
    JOIN ps pb ON pa.src < pb.src
    LEFT JOIN common c ON c.sa = pa.src AND c.sb = pb.src
"""


def _duck_hexfold48(col_expr: str) -> str:
    """DuckDB twin of curation.portable_hash48 (12 hex chars, no mod);
    the fold generator lives once in queries/dedup.py."""
    from real_time_data_pipeline_spark.queries.dedup import duck_hexfold_n

    return duck_hexfold_n(col_expr, 12)


def q_balanced_sample(spark, sf_dir):
    """Deterministic 100-per-type event sample (salted two-phase top-k,
    operators/curation.balanced_sample)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id"
    )
    return curation.balanced_sample(
        ev, group_col="event_type", k=100, id_col="event_id"
    )


QUERIES["balanced_sample"] = q_balanced_sample

ORACLES["balanced_sample"] = f"""
    WITH keyed AS (
      SELECT event_type, event_id,
             CAST({_duck_hexfold48('CAST(event_id AS VARCHAR)')} AS BIGINT) AS hk
      FROM events
    ), ranked AS (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (
                 PARTITION BY event_type ORDER BY hk, event_id
             ) AS sample_rank
      FROM keyed
    )
    SELECT event_type, event_id, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM ranked WHERE sample_rank <= 100
"""


def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-filter decontamination scale path
    (operators/curation.decontaminate_bloom), oracle-backed since
    round 7 at a collision-negligible bitmap: Bloom filters have zero
    false negatives at ANY config, so the estimate can only exceed the
    exact count via false positives, and at m_bits = 2^26 / k = 4 the
    per-probe fp rate is (k*n/m)^k ≈ 2e-13 for this corpus's ~12k
    benchmark grams — expected false positives over all ~2.4e5 doc-gram
    probes ≈ 6e-8 (sf0.1; ~6e-3 even at sf1), the same w.h.p. class as
    the MinHash oracle's 5e-8/pair.  The estimate therefore equals the
    exact pass and shares its semantics (aliased _est — the contract
    that the columns are upper bounds at production bitmap sizes); the
    default 1%-fp estimate config stays pinned by the one-sidedness
    tests in tests/test_curation.py."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    return curation.decontaminate_bloom(docs, bench, m_bits=1 << 26)


QUERIES["decontaminate_bloom"] = q_decontaminate_bloom

# Round 7: the exact decontaminate oracle re-aliased to the bloom
# twin's _est column names (values identical at the fp-negligible
# bitmap — see q_decontaminate_bloom docstring).
ORACLES["decontaminate_bloom"] = f"""
    WITH docg AS (
      SELECT doc_id,
             unnest(list_distinct({_duck_ngrams(8)})) AS gram
      FROM documents
    ),
    bg AS (
      SELECT DISTINCT unnest({_duck_ngrams(8)}) AS gram
      FROM documents WHERE source = '{BENCH_SOURCE}'
    ),
    agg AS (
      SELECT d.doc_id,
             count(*) AS n_grams,
             sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS shared_grams
      FROM docg d LEFT JOIN bg b ON d.gram = b.gram
      GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(shared_grams AS BIGINT) AS shared_grams_est,
           CAST(FLOOR(10000 * shared_grams / n_grams) AS BIGINT)
             AS shared_bp_est,
           CAST(FLOOR(10000 * shared_grams / n_grams) AS BIGINT) <= 1000
             AS keep_decontaminated
    FROM agg
"""


SUBSTR_MIN_LEN = 40
SUBSTR_MAX_COVERED_BP = 2000


def q_decontaminate_substr(spark, sf_dir):
    """ExactSubstr-grain decontamination
    (operators/curation.decontaminate_substr): character-level
    benchmark contamination via the sliding-window == suffix-prefix
    identity, with exact run/coverage statistics.  Catches verbatim
    quotes the word 8-gram check can only see after clean token
    boundaries; the two flags together are the production decontam
    gate.  Oracle: DuckDB recomputes every window, hit, and
    gaps-and-islands run from the same normalized text."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    return curation.decontaminate_substr(
        docs, bench, min_len=SUBSTR_MIN_LEN,
        max_covered_bp=SUBSTR_MAX_COVERED_BP,
    )


QUERIES["decontaminate_substr"] = q_decontaminate_substr

ORACLES["decontaminate_substr"] = f"""
    WITH d AS (
      SELECT doc_id, source,
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
      FROM documents
    ),
    stats AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
             CAST(greatest(len(t) - {SUBSTR_MIN_LEN} + 1, 0) AS BIGINT)
               AS n_windows
      FROM d
    ),
    w AS (
      SELECT doc_id,
             CAST(unnest(range(1, greatest(len(t) - {SUBSTR_MIN_LEN} + 1, 0)
                                  + 1)) AS BIGINT) AS pos,
             t
      FROM d
    ),
    wins AS (
      SELECT doc_id, pos,
             substr(t, CAST(pos AS INT), {SUBSTR_MIN_LEN}) AS win
      FROM w
    ),
    bwins AS (
      SELECT DISTINCT
             substr(t, CAST(unnest(range(1, greatest(len(t)
                    - {SUBSTR_MIN_LEN} + 1, 0) + 1)) AS INT),
                    {SUBSTR_MIN_LEN}) AS win
      FROM d WHERE source = '{BENCH_SOURCE}'
    ),
    hits AS (
      SELECT wins.doc_id, wins.pos FROM wins JOIN bwins USING (win)
    ),
    runs AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                    OR pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos)
                       > {SUBSTR_MIN_LEN}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM runs
    ),
    spans AS (
      SELECT doc_id, count(*) AS k,
             max(pos) - min(pos) + {SUBSTR_MIN_LEN} AS span
      FROM isl GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(k) AS BIGINT) AS n_hit_windows,
             CAST(sum(span) AS BIGINT) AS n_covered_chars,
             CAST(max(span) AS BIGINT) AS max_span_chars
      FROM spans GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_chars, s.n_windows,
           CAST(COALESCE(p.n_hit_windows, 0) AS BIGINT) AS n_hit_windows,
           CAST(COALESCE(p.n_covered_chars, 0) AS BIGINT)
             AS n_covered_chars,
           CAST(CASE WHEN s.n_chars > 0
                THEN FLOOR(10000 * COALESCE(p.n_covered_chars, 0)
                           / s.n_chars)
                ELSE 0 END AS BIGINT) AS covered_bp,
           CAST(COALESCE(p.max_span_chars, 0) AS BIGINT) AS max_span_chars,
           CAST(CASE WHEN s.n_chars > 0
                THEN FLOOR(10000 * COALESCE(p.n_covered_chars, 0)
                           / s.n_chars)
                ELSE 0 END AS BIGINT) <= {SUBSTR_MAX_COVERED_BP}
             AS keep_substr_clean
    FROM stats s LEFT JOIN per_doc p USING (doc_id)
"""

# Per-batch outputs are disjoint by doc id — the streaming union
# shares the one-shot oracle.
ORACLES["stream_decontaminate_substr"] = ORACLES["decontaminate_substr"]


DUP_SUBSTR_MAX_COVERED_BP = 5000


def q_dup_substr_stats(spark, sf_dir):
    """Intra-corpus ExactSubstr duplication profile
    (operators/curation.dup_substr_stats): per doc, run/coverage stats
    of character windows shared with at least one OTHER doc — the
    char-grain companion of corpus_dup_spans' token 8-grams."""
    return curation.dup_substr_stats(
        _docs(spark, sf_dir),
        min_len=SUBSTR_MIN_LEN,
        max_covered_bp=DUP_SUBSTR_MAX_COVERED_BP,
    )


QUERIES["dup_substr_stats"] = q_dup_substr_stats

ORACLES["dup_substr_stats"] = f"""
    WITH d AS (
      SELECT doc_id,
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
      FROM documents
    ),
    stats AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
             CAST(greatest(len(t) - {SUBSTR_MIN_LEN} + 1, 0) AS BIGINT)
               AS n_windows
      FROM d
    ),
    w AS (
      SELECT doc_id,
             CAST(unnest(range(1, greatest(len(t) - {SUBSTR_MIN_LEN} + 1, 0)
                                  + 1)) AS BIGINT) AS pos,
             t
      FROM d
    ),
    wins AS (
      SELECT doc_id, pos,
             substr(t, CAST(pos AS INT), {SUBSTR_MIN_LEN}) AS win
      FROM w
    ),
    shared AS (
      SELECT win FROM (SELECT DISTINCT doc_id, win FROM wins)
      GROUP BY win HAVING count(*) >= 2
    ),
    hits AS (
      SELECT wins.doc_id, wins.pos FROM wins JOIN shared USING (win)
    ),
    runs AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                    OR pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos)
                       > {SUBSTR_MIN_LEN}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM runs
    ),
    spans AS (
      SELECT doc_id, count(*) AS k,
             max(pos) - min(pos) + {SUBSTR_MIN_LEN} AS span
      FROM isl GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(k) AS BIGINT) AS n_hit_windows,
             CAST(sum(span) AS BIGINT) AS n_covered_chars,
             CAST(max(span) AS BIGINT) AS max_span_chars
      FROM spans GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_chars, s.n_windows,
           CAST(COALESCE(p.n_hit_windows, 0) AS BIGINT) AS n_hit_windows,
           CAST(COALESCE(p.n_covered_chars, 0) AS BIGINT)
             AS n_covered_chars,
           CAST(CASE WHEN s.n_chars > 0
                THEN FLOOR(10000 * COALESCE(p.n_covered_chars, 0)
                           / s.n_chars)
                ELSE 0 END AS BIGINT) AS covered_bp,
           CAST(COALESCE(p.max_span_chars, 0) AS BIGINT) AS max_span_chars,
           CAST(CASE WHEN s.n_chars > 0
                THEN FLOOR(10000 * COALESCE(p.n_covered_chars, 0)
                           / s.n_chars)
                ELSE 0 END AS BIGINT) <= {DUP_SUBSTR_MAX_COVERED_BP}
             AS keep_substr_unique
    FROM stats s LEFT JOIN per_doc p USING (doc_id)
"""


def q_dup_substr_incremental(spark, sf_dir):
    """Steady-state suffix-grain ingest gate
    (operators/curation.incremental_substr_stats): docs with
    doc_id % 10 == 0 play the daily increment, the rest the indexed
    history; the increment's char windows probe the persisted
    bucket-partitioned window index — history never re-windowed.  The
    index is a staged artifact (first call per sf builds it; in
    production it is maintained by appends), so the measured steady
    state is the probe.  Oracle: full recompute of the increment's
    windows against the corpus window set in DuckDB."""
    import os

    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    wh = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "spark-warehouse",
    )
    path = os.path.join(
        wh, f"substr_index_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    try:
        curation.check_substr_index(spark, path, SUBSTR_MIN_LEN, 64)
    except Exception:
        curation.build_substr_index(
            corpus, path, min_len=SUBSTR_MIN_LEN, buckets=64
        )
    return curation.incremental_substr_stats(
        spark, new, path, min_len=SUBSTR_MIN_LEN, buckets=64,
        max_covered_bp=SUBSTR_MAX_COVERED_BP,
    )


QUERIES["dup_substr_incremental"] = q_dup_substr_incremental

ORACLES["dup_substr_incremental"] = f"""
    WITH d AS (
      SELECT doc_id,
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
      FROM documents
    ),
    inc AS (SELECT * FROM d WHERE doc_id % 10 = 0),
    stats AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
             CAST(greatest(len(t) - {SUBSTR_MIN_LEN} + 1, 0) AS BIGINT)
               AS n_windows
      FROM inc
    ),
    w AS (
      SELECT doc_id,
             CAST(unnest(range(1, greatest(len(t) - {SUBSTR_MIN_LEN} + 1, 0)
                                  + 1)) AS BIGINT) AS pos,
             t
      FROM inc
    ),
    wins AS (
      SELECT doc_id, pos,
             substr(t, CAST(pos AS INT), {SUBSTR_MIN_LEN}) AS win
      FROM w
    ),
    cwins AS (
      SELECT DISTINCT
             substr(t, CAST(unnest(range(1, greatest(len(t)
                    - {SUBSTR_MIN_LEN} + 1, 0) + 1)) AS INT),
                    {SUBSTR_MIN_LEN}) AS win
      FROM d WHERE doc_id % 10 != 0
    ),
    hits AS (
      SELECT wins.doc_id, wins.pos FROM wins JOIN cwins USING (win)
    ),
    runs AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                    OR pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos)
                       > {SUBSTR_MIN_LEN}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM runs
    ),
    spans AS (
      SELECT doc_id, count(*) AS k,
             max(pos) - min(pos) + {SUBSTR_MIN_LEN} AS span
      FROM isl GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(k) AS BIGINT) AS n_hit_windows,
             CAST(sum(span) AS BIGINT) AS n_covered_chars,
             CAST(max(span) AS BIGINT) AS max_span_chars
      FROM spans GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_chars, s.n_windows,
           CAST(COALESCE(p.n_hit_windows, 0) AS BIGINT) AS n_hit_windows,
           CAST(COALESCE(p.n_covered_chars, 0) AS BIGINT)
             AS n_covered_chars,
           CAST(CASE WHEN s.n_chars > 0
                THEN FLOOR(10000 * COALESCE(p.n_covered_chars, 0)
                           / s.n_chars)
                ELSE 0 END AS BIGINT) AS covered_bp,
           CAST(COALESCE(p.max_span_chars, 0) AS BIGINT) AS max_span_chars,
           CAST(CASE WHEN s.n_chars > 0
                THEN FLOOR(10000 * COALESCE(p.n_covered_chars, 0)
                           / s.n_chars)
                ELSE 0 END AS BIGINT) <= {SUBSTR_MAX_COVERED_BP}
             AS keep_substr_novel
    FROM stats s LEFT JOIN per_doc p USING (doc_id)
"""


def q_dup_substr_append(spark, sf_dir):
    """Append-maintenance twin of `dup_substr_incremental` under the
    SAME oracle: the index is built on 80% of the history
    (doc_id % 10 in 1..8), the remaining tenth (doc_id % 10 == 9) is
    APPENDED via operators/curation.append_substr_index — novelty-
    filtered, history never re-windowed — and the increment
    (doc_id % 10 == 0) probes the result.  Because the appended index's
    window set provably equals the full-history build's, the probe is
    hash-identical to dup_substr_incremental: appends lose nothing,
    the same certificate ann_ivf_incremental gives the IVF tier.
    Staged separately from dup_substr_incremental's index so the two
    entries can never mask each other's bugs."""
    import os

    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    base = docs.filter(
        (F.col("doc_id") % 10 != 0) & (F.col("doc_id") % 10 != 9)
    )
    delta = docs.filter(F.col("doc_id") % 10 == 9)
    wh = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "spark-warehouse",
    )
    path = os.path.join(
        wh, f"substr_index_app_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    try:
        curation.check_substr_index(spark, path, SUBSTR_MIN_LEN, 64)
        # the build's _scheme marker lands BEFORE the append — require
        # the post-append marker too, so a crash between the two never
        # leaves a silently delta-less index behind
        spark.read.parquet(path + "/_appended").collect()
    except Exception:
        curation.build_substr_index(
            base, path, min_len=SUBSTR_MIN_LEN, buckets=64
        )
        curation.append_substr_index(delta, path)
        spark.range(1).select(F.lit(1).alias("done")).write.mode(
            "overwrite"
        ).parquet(path + "/_appended")
    return curation.incremental_substr_stats(
        spark, new, path, min_len=SUBSTR_MIN_LEN, buckets=64,
        max_covered_bp=SUBSTR_MAX_COVERED_BP,
    )


QUERIES["dup_substr_append"] = q_dup_substr_append
# Appended index == full-history build, so the probe shares
# dup_substr_incremental's full-recompute oracle.
ORACLES["dup_substr_append"] = ORACLES["dup_substr_incremental"]


def q_contamination_report(spark, sf_dir):
    """Benchmark-side contamination report
    (operators/curation.contamination_report): per benchmark doc, how
    many training docs quote it and at what volume — the eval-owner
    view of decontaminate_substr."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    return curation.contamination_report(
        docs, bench, min_len=SUBSTR_MIN_LEN
    )


QUERIES["contamination_report"] = q_contamination_report

ORACLES["contamination_report"] = f"""
    WITH d AS (
      SELECT doc_id, source,
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             CAST(unnest(range(1, greatest(len(t) - {SUBSTR_MIN_LEN} + 1, 0)
                                  + 1)) AS BIGINT) AS pos,
             t
      FROM d
    ),
    wins AS (
      SELECT doc_id, pos,
             substr(t, CAST(pos AS INT), {SUBSTR_MIN_LEN}) AS win
      FROM w
    ),
    bstats AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
             CAST(greatest(len(t) - {SUBSTR_MIN_LEN} + 1, 0) AS BIGINT)
               AS n_windows
      FROM d WHERE source = '{BENCH_SOURCE}'
    ),
    bkeys AS (
      SELECT DISTINCT b.doc_id AS bench_id, wins.win
      FROM wins JOIN (SELECT doc_id FROM d WHERE source = '{BENCH_SOURCE}') b
        ON wins.doc_id = b.doc_id
    ),
    hits AS (
      SELECT bkeys.bench_id, wins.doc_id AS train_id, wins.pos
      FROM wins JOIN bkeys USING (win)
      WHERE wins.doc_id != bkeys.bench_id
    ),
    per_bench AS (
      SELECT bench_id,
             CAST(count(DISTINCT train_id) AS BIGINT)
               AS n_contaminated_docs,
             CAST(count(*) AS BIGINT) AS n_hit_windows
      FROM hits GROUP BY bench_id
    )
    SELECT b.doc_id, b.n_chars, b.n_windows,
           CAST(COALESCE(p.n_contaminated_docs, 0) AS BIGINT)
             AS n_contaminated_docs,
           CAST(COALESCE(p.n_hit_windows, 0) AS BIGINT) AS n_hit_windows,
           COALESCE(p.n_contaminated_docs, 0) > 0 AS is_compromised
    FROM bstats b LEFT JOIN per_bench p ON b.doc_id = p.bench_id
"""


def q_contamination_pairs(spark, sf_dir):
    """Pair-grain quote evidence
    (operators/curation.contamination_pairs): which training doc quotes
    which benchmark item, with hit counts and the longest contiguous
    quoted span — the drill-down a human reads under
    contamination_report."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    return curation.contamination_pairs(
        docs, bench, min_len=SUBSTR_MIN_LEN
    )


def q_stream_decontaminate_substr(spark, sf_dir):
    """Streaming twin of `decontaminate_substr` on the SAME oracle:
    documents ARRIVE AS A STREAM and every micro-batch runs the
    ExactSubstr check against the static benchmark frame (the frozen
    eval suite) — per-doc statistics with a stream-static broadcast
    join, so per-batch outputs are disjoint by doc id and their union
    is hash-identical to the one-shot pass.  The ingest-time
    contamination gate: a quoted doc is flagged the moment it lands,
    not at the next corpus sweep."""
    from real_time_data_pipeline_spark.queries.reference_parity import (
        stream_capture,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    out_schema = curation.decontaminate_substr(
        docs.limit(0), bench, min_len=SUBSTR_MIN_LEN,
        max_covered_bp=SUBSTR_MAX_COVERED_BP,
    ).schema

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).parquet(
        f"{sf_dir}/documents*.parquet"
    )

    # r11: per-batch check writes to the parquet capture sink instead of
    # collecting rows through the driver (see stream_capture).
    def check(batch):
        return curation.decontaminate_substr(
            batch, bench, min_len=SUBSTR_MIN_LEN,
            max_covered_bp=SUBSTR_MAX_COVERED_BP,
        )

    return stream_capture(
        stream, "stream_decontaminate_substr",
        transform=check, schema=out_schema,
    )


_CONTAMINATION_PAIRS_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, source,
             lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             CAST(unnest(range(1, greatest(len(t) - {SUBSTR_MIN_LEN} + 1, 0)
                                  + 1)) AS BIGINT) AS pos,
             t
      FROM d
    ),
    wins AS (
      SELECT doc_id, pos,
             substr(t, CAST(pos AS INT), {SUBSTR_MIN_LEN}) AS win
      FROM w
    ),
    bkeys AS (
      SELECT DISTINCT wins.doc_id AS bench_id, wins.win
      FROM wins
      JOIN (SELECT doc_id FROM d WHERE source = '{BENCH_SOURCE}') b
        ON wins.doc_id = b.doc_id
    ),
    hits AS (
      SELECT bkeys.bench_id, wins.doc_id AS train_id, wins.pos
      FROM wins JOIN bkeys USING (win)
      WHERE wins.doc_id != bkeys.bench_id
    ),
    runs AS (
      SELECT bench_id, train_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY bench_id, train_id
                                      ORDER BY pos) IS NULL
                    OR pos - lag(pos) OVER (PARTITION BY bench_id,
                                            train_id ORDER BY pos)
                       > {SUBSTR_MIN_LEN}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    isl AS (
      SELECT bench_id, train_id, pos,
             sum(brk) OVER (PARTITION BY bench_id, train_id
                            ORDER BY pos) AS grp
      FROM runs
    ),
    spans AS (
      SELECT bench_id, train_id, count(*) AS k,
             max(pos) - min(pos) + {SUBSTR_MIN_LEN} AS span
      FROM isl GROUP BY bench_id, train_id, grp
    )
    SELECT bench_id, train_id,
           CAST(sum(k) AS BIGINT) AS n_hit_windows,
           CAST(max(span) AS BIGINT) AS max_span_chars
    FROM spans GROUP BY bench_id, train_id
"""

QUERIES["contamination_pairs"] = q_contamination_pairs
QUERIES["stream_decontaminate_substr"] = q_stream_decontaminate_substr
ORACLES["contamination_pairs"] = _CONTAMINATION_PAIRS_ORACLE



def q_clean_corpus(spark, sf_dir):
    """The end of the pipeline: per-document final verdict joining the
    quality gate (quality_verdicts: score ∧ surprisal ∧ repetition ∧
    decontamination) with cluster-canonical dedup survival
    (near_dup_verdicts) — ``keep_final`` is what actually ships to
    tokenization.  One co-partitioned doc-id join between the two
    composite legs; oracle-backed (round 4): the oracle is the join of
    the doc_quality and dedup_pipeline oracles with the same
    conjunction gate."""
    from real_time_data_pipeline_spark.operators.dedup import (
        near_dup_verdicts,
    )
    from real_time_data_pipeline_spark.schemas import load_table

    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    # r10: ONE persisted tokenize prep shared by the quality legs AND
    # the dedup text legs (guide §2.3/§5 — previously six independent
    # scan+tokenize passes; every downstream gram/shingle/hash slices
    # the same token arrays, so both verdict tables are bit-identical).
    toksf = _doc_tokens(docs)
    q = curation.quality_verdicts(
        docs, bench, tokens_frame=toksf
    ).select("doc_id", F.col("keep").alias("keep_quality"))
    emb = load_table(spark, sf_dir, "embeddings")
    d = near_dup_verdicts(
        docs, emb, jaccard_threshold=0.8, cos_threshold=0.4,
        tokens_frame=toksf,
    ).select("doc_id", F.col("keep").alias("keep_dedup"), "cluster_id")
    return q.join(d, "doc_id").select(
        "doc_id",
        "keep_quality",
        "keep_dedup",
        "cluster_id",
        (F.col("keep_quality") & F.col("keep_dedup")).alias("keep_final"),
    )


QUERIES["clean_corpus"] = q_clean_corpus


def q_clean_corpus_pruned(spark, sf_dir):
    """The PRODUCTION-plan twin of ``clean_corpus`` (VERDICT r8 #3):
    identical composition, but the dedup leg runs the pruned scale
    path — MinHash-LSH candidate-verify plus occupancy-scaled
    probe_hamming=0 sign-LSH for the embedding signal — instead of the
    certification config's provably-exact quadratic cosine leg.  This
    is the plan a 100 TB run would ship, kept benched so the headline
    number reflects production cost, not provability cost.

    Rows-only by nature (sign-LSH recall < 1 depends on the random
    planes): the pruned pipeline's dup signals are a property-tested
    SUBSET of the exact pipeline's
    (tests/test_northstar.py::test_clean_corpus_pruned_is_recall_superset_of_keeps),
    so ``keep_final`` here can only be MORE permissive than the
    certified ``clean_corpus`` — never drops a doc the exact plan
    keeps.  The quality leg is identical (and oracle-certified via
    clean_corpus)."""
    from real_time_data_pipeline_spark.operators.dedup import (
        near_dup_verdicts,
    )
    from real_time_data_pipeline_spark.schemas import load_table

    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    # r10: one shared tokenize prep for quality + dedup text legs (see
    # q_clean_corpus).
    toksf = _doc_tokens(docs)
    q = curation.quality_verdicts(
        docs, bench, tokens_frame=toksf
    ).select("doc_id", F.col("keep").alias("keep_quality"))
    emb = load_table(spark, sf_dir, "embeddings")
    d = near_dup_verdicts(
        docs, emb, jaccard_threshold=0.8, cos_threshold=0.4,
        embedding_scale_path=True, dim=64, n_planes=4, n_tables=8,
        auto_planes_occupancy=64, tokens_frame=toksf,
    ).select("doc_id", F.col("keep").alias("keep_dedup"), "cluster_id")
    return q.join(d, "doc_id").select(
        "doc_id",
        "keep_quality",
        "keep_dedup",
        "cluster_id",
        (F.col("keep_quality") & F.col("keep_dedup")).alias("keep_final"),
    )


QUERIES["clean_corpus_pruned"] = q_clean_corpus_pruned


def q_clean_corpus_pruned_certificate(spark, sf_dir):
    """ORACLE-BACKED certificate for the production-plan twin (VERDICT
    r9 #4, the decontaminate_bloom treatment): the pruned composition
    cannot hash-match the exact pass (sign-LSH recall < 1), but its
    governing contract — pruned keeps ⊇ exact keeps, i.e. the
    production plan never DROPS a doc the certified plan keeps — is
    deterministic on both engines.  Output: one row with the corpus
    size and the violation count the oracle pins to ZERO.

    A violation needs keep_quality AND keep_dedup_exact AND NOT
    keep_dedup_pruned (the quality leg is shared verbatim, so only the
    dedup legs can disagree); the pruned leg's dup signals are a
    recall-subset of the exact leg's, making its keeps a superset —
    the same containment tests/test_northstar.py property-tests, now
    driver-visible."""
    from real_time_data_pipeline_spark.operators import cache
    from real_time_data_pipeline_spark.operators.dedup import (
        embedding_base,
        embedding_near_dup,
        lsh_candidate_pairs,
        near_dup_text_signals,
        near_dup_verdicts,
    )
    from real_time_data_pipeline_spark.schemas import load_table

    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    # r10: one shared tokenize prep for the quality legs AND the shared
    # dedup text signals (see q_clean_corpus).
    toksf = _doc_tokens(docs)
    q = curation.quality_verdicts(
        docs, bench, tokens_frame=toksf
    ).select("doc_id", F.col("keep").alias("keep_quality"))
    emb = load_table(spark, sf_dir, "embeddings")
    # The two compositions differ ONLY in the embedding leg; share the
    # text-grain signals (tokenize/shingle prep, exact-dup window,
    # MinHash candidate-verify) so the certificate pays for them once —
    # the frames are built by the same operator code, so both verdict
    # tables are bit-identical to independent passes.
    sig = near_dup_text_signals(
        docs, jaccard_threshold=0.8, tokens_frame=toksf
    )
    # r11 (VERDICT r10 item 3, guide §5/§2.4): the embedding tier of the
    # two legs now shares work instead of running twice —
    #   1. ONE persisted (id, v, nrm) projection feeds both legs
    #      (embedding_base: the legs built it independently before);
    #   2. the pruned leg's pairs are derived as exact ∩ LSH-candidates
    #      (a semi-join) instead of re-scoring every candidate: the
    #      sign-LSH leg scores candidates with the SAME sequential fold
    #      over the SAME vectors at the SAME threshold as the exact
    #      leg, so its pair set is exactly the exact pair set
    #      restricted to candidate membership (pinned by
    #      tests/test_r11_opt.py against an independent
    #      embedding_near_dup_lsh run).
    eb = embedding_base(emb)
    epairs_exact = cache.track(
        embedding_near_dup(
            emb, "vec_id", "embedding", threshold=0.4, base_frame=eb
        ).select("id_a", "id_b")
    )
    cand = lsh_candidate_pairs(
        emb, "vec_id", "embedding", dim=64, n_planes=4, n_tables=8,
        probe_hamming=0, auto_planes_occupancy=64, base_frame=eb,
    )
    epairs_pruned = cache.track(
        epairs_exact.join(cand, ["id_a", "id_b"], "left_semi")
    )
    d_exact = near_dup_verdicts(
        docs, emb, jaccard_threshold=0.8, cos_threshold=0.4,
        text_signals=sig, embedding_pairs=epairs_exact,
    ).select("doc_id", F.col("keep").alias("keep_dedup_exact"))
    d_pruned = near_dup_verdicts(
        docs, emb, jaccard_threshold=0.8, cos_threshold=0.4,
        text_signals=sig, embedding_pairs=epairs_pruned,
    ).select("doc_id", F.col("keep").alias("keep_dedup_pruned"))
    return (
        q.join(d_exact, "doc_id")
        .join(d_pruned, "doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("keep_quality")
                    & F.col("keep_dedup_exact")
                    & ~F.col("keep_dedup_pruned"),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_violations"),
        )
    )


QUERIES["clean_corpus_pruned_certificate"] = q_clean_corpus_pruned_certificate


def _clean_corpus_oracle() -> str:
    """Composite oracle: the quality leg's oracle joined to the dedup
    leg's oracle on doc_id with the conjunction gate — the same
    composition q_clean_corpus performs in Spark.  (Promoted from
    rows-only in round 4: both legs were already oracle SQL, so the
    join of the two IS a valid DuckDB oracle.)"""
    from real_time_data_pipeline_spark.queries import dedup as dedup_q

    return f"""
        SELECT q.doc_id,
               q.keep AS keep_quality,
               d.keep AS keep_dedup,
               d.cluster_id,
               (q.keep AND d.keep) AS keep_final
        FROM ({_doc_quality_oracle()}) q
        JOIN ({dedup_q.ORACLES["dedup_pipeline"]}) d ON q.doc_id = d.doc_id
    """


ORACLES["clean_corpus"] = _clean_corpus_oracle()

# The certificate's oracle: |documents| rows examined, ZERO docs the
# exact composition keeps that the pruned composition drops.  DuckDB
# needs no LSH replica — the contract itself is the pinned value.
ORACLES["clean_corpus_pruned_certificate"] = """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(0 AS BIGINT) AS n_violations
    FROM documents
"""


def _quality_calibration_oracle() -> str:
    from real_time_data_pipeline_spark.queries import text as text_q

    qs = ", ".join(str(i / 10) for i in range(1, 10))
    return f"""
        WITH s AS ({text_q.ORACLES["quality_model"]}),
        lab AS (SELECT doc_id, keep FROM ({_doc_quality_oracle()})),
        j AS (SELECT s.doc_id, s.score_micro, s.keep_model, lab.keep
              FROM s JOIN lab USING (doc_id)),
        b AS (SELECT quantile_cont(score_micro, [{qs}]) AS bounds FROM j),
        binned AS (
          SELECT j.*,
                 1 + len(list_filter(b.bounds, x -> x <= j.score_micro))
                     AS decile
          FROM j CROSS JOIN b
        )
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN keep_model THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_model_keep,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_heuristic_keep,
               CAST(FLOOR(1e4 * sum(CASE WHEN keep_model = keep
                                         THEN 1 ELSE 0 END) / count(*))
                    AS BIGINT) AS agreement_bp
        FROM binned GROUP BY 1
    """


ORACLES["quality_calibration"] = _quality_calibration_oracle()


def _calibration_drift_oracle() -> str:
    from real_time_data_pipeline_spark.queries import text as text_q

    qs = ", ".join(str(i / 10) for i in range(1, 10))
    return f"""
        WITH s AS ({text_q.ORACLES["quality_model"]}),
        lab AS (SELECT doc_id, keep FROM ({_doc_quality_oracle()})),
        j AS (SELECT s.doc_id, s.doc_id % {CALIBRATION_WINDOWS} AS window_id,
                     s.score_micro, s.keep_model, lab.keep AS keep_heuristic
              FROM s JOIN lab USING (doc_id)),
        b AS (SELECT quantile_cont(score_micro, [{qs}]) AS bounds FROM j),
        binned AS (
          SELECT j.*,
                 1 + len(list_filter(b.bounds, x -> x <= j.score_micro))
                     AS decile
          FROM j CROSS JOIN b
        ),
        ref AS (
          SELECT decile,
                 CAST(FLOOR(1e4 * sum(CASE WHEN keep_model THEN 1 ELSE 0 END)
                            / count(*)) AS BIGINT) AS ref_model_keep_bp
          FROM binned GROUP BY 1
        ),
        per AS (
          SELECT window_id, decile,
                 count(*) AS n_docs,
                 sum(CASE WHEN keep_model THEN 1 ELSE 0 END) AS n_model_keep,
                 sum(CASE WHEN keep_heuristic THEN 1 ELSE 0 END)
                   AS n_heuristic_keep,
                 sum(CASE WHEN keep_model = keep_heuristic THEN 1 ELSE 0 END)
                   AS n_agree
          FROM binned GROUP BY 1, 2
        )
        SELECT CAST(window_id AS BIGINT) AS window_id,
               CAST(decile AS BIGINT) AS decile,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_model_keep AS BIGINT) AS n_model_keep,
               CAST(n_heuristic_keep AS BIGINT) AS n_heuristic_keep,
               CAST(FLOOR(1e4 * n_agree / n_docs) AS BIGINT) AS agreement_bp,
               CAST(FLOOR(1e4 * n_model_keep / n_docs) AS BIGINT)
                 AS model_keep_bp,
               ref_model_keep_bp,
               CAST(abs(CAST(FLOOR(1e4 * n_model_keep / n_docs) AS BIGINT)
                        - ref_model_keep_bp) AS BIGINT) AS drift_bp
        FROM per JOIN ref USING (decile)
    """


_CURATION_FLAGS_ORACLE = f"""
    WITH rep AS ({_REPETITION_ORACLE}),
    dec AS ({_DECONTAMINATE_ORACLE})
    SELECT rep.doc_id, rep.top_2gram_bp, rep.dup_5gram_bp,
           rep.keep_repetition, dec.n_grams, dec.shared_grams,
           dec.shared_bp, dec.keep_decontaminated,
           (rep.keep_repetition AND dec.keep_decontaminated) AS keep
    FROM rep JOIN dec USING (doc_id)
"""

QUERIES["curation_flags"] = q_curation_flags
QUERIES["curation_flags_incremental"] = q_curation_flags_incremental
ORACLES["curation_flags"] = _CURATION_FLAGS_ORACLE
# The incremental maintainer must be indistinguishable from the
# one-shot pass over the new snapshot — same oracle.
ORACLES["curation_flags_incremental"] = _CURATION_FLAGS_ORACLE
# Per-micro-batch outputs are disjoint by doc id, so the streaming
# union shares the one-shot oracle too.
QUERIES["stream_curation_flags"] = q_stream_curation_flags
ORACLES["stream_curation_flags"] = _CURATION_FLAGS_ORACLE

QUERIES["snapshot_delta_profile"] = q_snapshot_delta_profile

# The old-snapshot verdicts rerun the repetition/decontaminate oracles
# over the DERIVED previous relation (same SQL, FROM swapped) — the
# benchmark (src0) rows are identical in both snapshots, so the
# decontaminate gram set is unchanged.
_OLD_REP = _REPETITION_ORACLE.replace("FROM documents", "FROM old_docs")
_OLD_DEC = _DECONTAMINATE_ORACLE.replace("FROM documents", "FROM old_docs")

ORACLES["snapshot_delta_profile"] = f"""
    WITH old_docs AS (
      SELECT doc_id, source,
             CASE WHEN source != '{BENCH_SOURCE}' AND doc_id % 13 = 0
                  THEN 'stale draft ' || text ELSE text END AS text
      FROM documents
      WHERE source = '{BENCH_SOURCE}' OR doc_id % 7 != 0
    ),
    old_keep AS (
      SELECT r.doc_id,
             (r.keep_repetition AND d.keep_decontaminated) AS keep_old
      FROM ({_OLD_REP}) r JOIN ({_OLD_DEC}) d USING (doc_id)
    ),
    new_keep AS (
      SELECT doc_id, keep AS keep_new FROM ({_CURATION_FLAGS_ORACLE})
    ),
    cls AS (
      SELECT doc_id, source,
             CASE WHEN source != '{BENCH_SOURCE}' AND doc_id % 7 = 0
                  THEN 'added'
                  WHEN source != '{BENCH_SOURCE}' AND doc_id % 13 = 0
                  THEN 'modified'
                  ELSE 'unchanged' END AS cls
      FROM documents
    ),
    rem AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_removed
      FROM documents
      WHERE source != '{BENCH_SOURCE}' AND doc_id % 11 = 0
      GROUP BY 1
    ),
    flips AS (
      SELECT c.source, CAST(count(*) AS BIGINT) AS n_keep_flips
      FROM cls c
      JOIN old_keep ok USING (doc_id)
      JOIN new_keep nk USING (doc_id)
      WHERE c.cls = 'modified' AND ok.keep_old != nk.keep_new
      GROUP BY 1
    ),
    counts AS (
      SELECT source,
             CAST(sum(CASE WHEN cls = 'added' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_added,
             CAST(sum(CASE WHEN cls = 'modified' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_modified,
             CAST(sum(CASE WHEN cls = 'unchanged' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_unchanged
      FROM cls GROUP BY 1
    )
    SELECT c.source, c.n_added,
           CAST(COALESCE(rem.n_removed, 0) AS BIGINT) AS n_removed,
           c.n_modified, c.n_unchanged,
           CAST(COALESCE(flips.n_keep_flips, 0) AS BIGINT)
             AS n_keep_flips
    FROM counts c
    LEFT JOIN rem USING (source)
    LEFT JOIN flips USING (source)
"""

QUERIES["budget_allocation"] = q_budget_allocation
ORACLES["budget_allocation"] = _budget_allocation_oracle()

QUERIES["calibration_drift_windows"] = q_calibration_drift_windows
QUERIES["stream_calibration_drift"] = q_stream_calibration_drift
# Batch closed form and streaming fold are pinned against the SAME
# oracle — the mergeable-partials monitor must be indistinguishable
# from the one-shot windowed table.
ORACLES["calibration_drift_windows"] = _calibration_drift_oracle()
ORACLES["stream_calibration_drift"] = _calibration_drift_oracle()


def q_corpus_report(spark, sf_dir):
    """Dataset-card summary — the one-row corpus report a dataset
    release ships: volume (docs/tokens/chars), language breadth,
    exact-duplicate rate, and mean heuristic quality.  Composes the
    oracle-checked primitives (tokens_col tokenization, sha-normalized
    exact-dup keys, quality_score) into single-pass aggregates: one
    token explode + count, one normalized-text distinct, one
    quality-score aggregate — each map-side combined."""
    from real_time_data_pipeline_spark.operators.dedup import tokens_col
    from real_time_data_pipeline_spark.operators.text import quality_score

    docs = _docs(spark, sf_dir)
    base = docs.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct(
            F.concat_ws(" ", tokens_col("text"))
        ).cast("bigint").alias("n_unique_texts"),
    )
    toks = docs.select(F.explode(tokens_col("text")).alias("t")).agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.countDistinct("t").cast("bigint").alias("n_vocab"),
    )
    qual = quality_score(docs).agg(
        F.floor(F.avg("quality_score") * 100).cast("bigint").alias(
            "mean_quality_c"
        )
    )
    return (
        base.crossJoin(F.broadcast(toks))
        .crossJoin(F.broadcast(qual))
        .select(
            "n_docs",
            "n_chars",
            "n_tokens",
            "n_vocab",
            "n_langs",
            "n_sources",
            F.floor(
                F.lit(10_000)
                * (F.col("n_docs") - F.col("n_unique_texts"))
                / F.col("n_docs")
            )
            .cast("bigint")
            .alias("exact_dup_bp"),
            "mean_quality_c",
        )
    )


QUERIES["corpus_report"] = q_corpus_report

ORACLES["corpus_report"] = f"""
    WITH base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT array_to_string({DUCK_TOKENS}, ' '))
                  AS BIGINT) AS n_unique_texts
      FROM documents
    ),
    toks AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT t) AS BIGINT) AS n_vocab
      FROM (SELECT unnest({DUCK_TOKENS}) AS t FROM documents)
    ),
    qual AS (
      SELECT CAST(FLOOR(100 * AVG(
                 least(40, len({DUCK_TOKENS}))
                 + least(30, CAST(FLOOR(100 * len(list_filter({DUCK_TOKENS},
                       t -> list_contains({_stop_list('en')}, t)))
                       / len({DUCK_TOKENS})) AS INT))
                 + CASE WHEN FLOOR(100 * list_sum(list_transform({DUCK_TOKENS},
                            t -> length(t))) / len({DUCK_TOKENS}))
                        BETWEEN 300 AND 800 THEN 30 ELSE 10 END
             )) AS BIGINT) AS mean_quality_c
      FROM documents
    )
    SELECT b.n_docs, b.n_chars, t.n_tokens, t.n_vocab, b.n_langs,
           b.n_sources,
           CAST(FLOOR(1e4 * (b.n_docs - b.n_unique_texts) / b.n_docs)
                AS BIGINT) AS exact_dup_bp,
           q.mean_quality_c
    FROM base b, toks t, qual q
"""


# ------------------------------------------------------------------ PII

# ONE SQL fragment, valid verbatim in both Spark SQL and DuckDB (||,
# lpad, lower, replace, % all agree), builds deterministic PII-bearing
# text from customer keys — the synthetic corpus carries no real PII,
# so the scrub is exercised against planted emails/phones/ssns/ips
# whose expected redaction both engines can derive independently.
_PII_TEXT_SQL = (
    "'Reach ' || c_name || ' <' || lower(replace(c_name, '#', '')) || "
    "'@example.com> call 555-' || "
    "lpad(cast((c_custkey * 7) % 1000 as string), 3, '0') || '-' || "
    "lpad(cast((c_custkey * 13) % 10000 as string), 4, '0') || ' ssn ' || "
    "lpad(cast(c_custkey % 1000 as string), 3, '0') || '-' || "
    "lpad(cast(c_nationkey % 100 as string), 2, '0') || '-' || "
    "lpad(cast((c_custkey * 3) % 10000 as string), 4, '0') || "
    "' ip 10.' || cast(c_custkey % 256 as string) || '.' || "
    "cast(c_nationkey % 256 as string) || '.7 done'"
)


def q_pii_scrub(spark, sf_dir):
    """PII detect + redact (operators/curation.pii_scrub): per customer
    record, the planted email/phone/ssn/ip occurrences counted and
    replaced by [CATEGORY] tokens — the release-gate scrub pass of a
    training-data pipeline, as a single map-only codegen projection
    (regexp_count + ordered regexp_replace; no UDF, no shuffle)."""
    from real_time_data_pipeline_spark.operators.curation import pii_scrub
    from real_time_data_pipeline_spark.schemas import load_table

    cust = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey", f"{_PII_TEXT_SQL} AS text"
    )
    return pii_scrub(cust, id_col="c_custkey", text_col="text")


QUERIES["pii_scrub"] = q_pii_scrub

# DuckDB twin: same text construction fragment, same patterns in the
# same replacement order (regexp_replace ... 'g'), counts via
# len(regexp_extract_all) — non-overlapping like Spark's regexp_count.
_PII_RE = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ssn": "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "phone": "\\b\\d{3}-\\d{3}-\\d{4}\\b",
    "ipv4": "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
}
# Progressive counting, mirroring operators/curation._pii_progressive:
# each category is counted on the text AFTER earlier categories were
# replaced, so counts == [CATEGORY] tokens emitted (a span consumed by
# an earlier replacement is not double-counted).
ORACLES["pii_scrub"] = f"""
    WITH src AS (
      SELECT c_custkey, {_PII_TEXT_SQL.replace("as string", "as varchar")} AS text
      FROM customer
    ),
    s1 AS (
      SELECT c_custkey,
             CAST(len(regexp_extract_all(text, '{_PII_RE["email"]}')) AS BIGINT) AS n_email,
             regexp_replace(text, '{_PII_RE["email"]}', '[EMAIL]', 'g') AS t
      FROM src
    ),
    s2 AS (
      SELECT c_custkey, n_email,
             CAST(len(regexp_extract_all(t, '{_PII_RE["ssn"]}')) AS BIGINT) AS n_ssn,
             regexp_replace(t, '{_PII_RE["ssn"]}', '[SSN]', 'g') AS t
      FROM s1
    ),
    s3 AS (
      SELECT c_custkey, n_email, n_ssn,
             CAST(len(regexp_extract_all(t, '{_PII_RE["phone"]}')) AS BIGINT) AS n_phone,
             regexp_replace(t, '{_PII_RE["phone"]}', '[PHONE]', 'g') AS t
      FROM s2
    )
    SELECT c_custkey,
           regexp_replace(t, '{_PII_RE["ipv4"]}', '[IPV4]', 'g') AS scrubbed_text,
           n_email, n_ssn, n_phone,
           CAST(len(regexp_extract_all(t, '{_PII_RE["ipv4"]}')) AS BIGINT) AS n_ipv4,
           CAST(n_email + n_ssn + n_phone
              + len(regexp_extract_all(t, '{_PII_RE["ipv4"]}')) AS BIGINT)
               AS n_pii_total
    FROM s3
"""


def q_decontaminate_bloom_verified(spark, sf_dir):
    """Bloom prefilter + exact verify — output identical to the exact
    decontamination pass, so it shares `decontaminate`'s oracle: the
    hash certifies zero bloom false negatives AND full false-positive
    removal on real data, while the verify join's probe side is only
    the bloom hits (operators/curation.decontaminate_bloom_verified).

    At local test scale this is SLOWER than the exact path (3.6 s vs
    1.6 s at sf0.1): the benchmark gram set broadcasts for pennies here,
    so the bitmap only adds an Arrow probe.  The entry exists for the
    regime the bitmap is built for (benchmark gram sets too large to
    broadcast-join cheaply) and to oracle-certify the bitmap's
    one-sidedness end-to-end."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(docs.source == BENCH_SOURCE)
    return curation.decontaminate_bloom_verified(docs, bench)


QUERIES["decontaminate_bloom_verified"] = q_decontaminate_bloom_verified
ORACLES["decontaminate_bloom_verified"] = _DECONTAMINATE_ORACLE


# ------------------------------------------------ round 9: Gopher rules

# Thresholds tuned so the rule battery DISCRIMINATES on the synthetic
# corpus (docs are 8-110 words of a lowercase 31-token vocabulary, one
# line, no symbols): word-count floor 20 and the 10% top-token cap both
# fire on real docs; the symbol/alpha rules pass by construction here
# but stay in the battery (they are the rules that do the work on web
# text, and the oracle certifies their arithmetic all the same).
GOPHER_KW = dict(
    min_words=20, max_words=100_000,
    min_mean_word_len_c=300, max_mean_word_len_c=1000,
    max_symbol_ratio_bp=1000, min_alpha_frac_bp=8000,
    min_stop_hits=2, max_top_token_bp=1000,
)


def q_gopher_quality(spark, sf_dir):
    """Gopher rule-set quality filter (operators/curation.
    gopher_quality_flags; Rae et al. 2021 §A1.1): six published
    heuristic rules as exact integer statistics + booleans, one row per
    doc — the rule-battery sibling of the learned quality scorers."""
    return curation.gopher_quality_flags(_docs(spark, sf_dir), **GOPHER_KW)


QUERIES["gopher_quality"] = q_gopher_quality

ORACLES["gopher_quality"] = f"""
    WITH tok AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS k
      FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY 1, 2
    ),
    per0 AS (
      SELECT doc_id,
             CAST(SUM(k) AS BIGINT) AS n_words,
             CAST(MAX(k) AS BIGINT) AS top_k,
             CAST(SUM(length(tok) * k) AS BIGINT) AS chars,
             CAST(SUM(CASE WHEN contains(tok, '#')
                             OR contains(tok, '...')
                           THEN k ELSE 0 END) AS BIGINT) AS sym_words,
             CAST(SUM(CASE WHEN regexp_matches(tok, '[a-z]')
                           THEN k ELSE 0 END) AS BIGINT) AS alpha_words,
             CAST(SUM(CASE WHEN list_contains({_stop_list('en')}, tok)
                           THEN k ELSE 0 END) AS BIGINT) AS stop_hits
      FROM tok GROUP BY 1
    ),
    -- zero-token docs (unnest yields no rows) keep an n_words=0 row:
    -- mirrors the Spark side's explode_outer (ADVICE r9)
    per AS (
      SELECT d.doc_id,
             COALESCE(p.n_words, 0) AS n_words,
             COALESCE(p.top_k, 0) AS top_k,
             COALESCE(p.chars, 0) AS chars,
             COALESCE(p.sym_words, 0) AS sym_words,
             COALESCE(p.alpha_words, 0) AS alpha_words,
             COALESCE(p.stop_hits, 0) AS stop_hits
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN per0 p USING (doc_id)
    ),
    stats AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words = 0 THEN 0
                  ELSE CAST(100 * chars // n_words AS BIGINT)
                  END AS mean_word_len_c,
             CASE WHEN n_words = 0 THEN 0
                  ELSE CAST(10000 * sym_words // n_words AS BIGINT)
                  END AS symbol_ratio_bp,
             CASE WHEN n_words = 0 THEN 0
                  ELSE CAST(10000 * alpha_words // n_words AS BIGINT)
                  END AS alpha_frac_bp,
             stop_hits,
             CASE WHEN n_words = 0 THEN 0
                  ELSE CAST(10000 * top_k // n_words AS BIGINT)
                  END AS top_token_bp
      FROM per
    )
    SELECT doc_id, n_words, mean_word_len_c, symbol_ratio_bp,
           alpha_frac_bp, stop_hits, top_token_bp,
           (n_words >= {GOPHER_KW['min_words']}
            AND n_words <= {GOPHER_KW['max_words']}) AS r_word_count,
           (mean_word_len_c >= {GOPHER_KW['min_mean_word_len_c']}
            AND mean_word_len_c <= {GOPHER_KW['max_mean_word_len_c']})
               AS r_mean_word_len,
           symbol_ratio_bp <= {GOPHER_KW['max_symbol_ratio_bp']}
               AS r_symbol_ratio,
           alpha_frac_bp >= {GOPHER_KW['min_alpha_frac_bp']}
               AS r_alpha_words,
           stop_hits >= {GOPHER_KW['min_stop_hits']} AS r_stopwords,
           top_token_bp <= {GOPHER_KW['max_top_token_bp']} AS r_top_token,
           (n_words >= {GOPHER_KW['min_words']}
            AND n_words <= {GOPHER_KW['max_words']}
            AND mean_word_len_c >= {GOPHER_KW['min_mean_word_len_c']}
            AND mean_word_len_c <= {GOPHER_KW['max_mean_word_len_c']}
            AND symbol_ratio_bp <= {GOPHER_KW['max_symbol_ratio_bp']}
            AND alpha_frac_bp >= {GOPHER_KW['min_alpha_frac_bp']}
            AND stop_hits >= {GOPHER_KW['min_stop_hits']}
            AND top_token_bp <= {GOPHER_KW['max_top_token_bp']})
               AS keep_gopher
    FROM stats
"""


# ------------------------------------- round 10: line-grain Gopher rules


def q_gopher_lines(spark, sf_dir):
    """Line-grain Gopher rules (operators/curation.gopher_line_flags;
    Rae et al. 2021 §A1.1 — bullet-line fraction <= 90%, ellipsis-line
    fraction <= 30%) over a DETERMINISTIC multi-line fixture: the
    synthetic corpus is single-line, so each doc's tokens become its
    lines, bullet-prefixed when (i + doc_id) % 10 < doc_id % 11 and
    ellipsis-suffixed when (3i + doc_id) % 10 < doc_id % 7 — per-doc
    bullet fractions sweep ~0..100% (doc_id % 11 == 10 fails the 90%
    rule) and ellipsis fractions ~0..60% (doc_id % 7 >= 4 fails the
    30% rule), so both rules discriminate.  The oracle rebuilds the
    fixture and the whole integer-bp ledger."""
    docs = _docs(spark, sf_dir)
    from real_time_data_pipeline_spark.operators.dedup import tokens_col

    lines = F.transform(
        tokens_col("text"),
        lambda t, i: F.concat(
            F.when(
                ((i + F.col("doc_id")) % 10) < (F.col("doc_id") % 11),
                F.lit("- "),
            ).otherwise(F.lit("")),
            t,
            F.when(
                ((i * 3 + F.col("doc_id")) % 10) < (F.col("doc_id") % 7),
                F.lit("..."),
            ).otherwise(F.lit("")),
        ),
    )
    staged = docs.select("doc_id", lines.alias("lines"))
    return curation.gopher_line_flags(staged)


QUERIES["gopher_lines"] = q_gopher_lines

ORACLES["gopher_lines"] = f"""
    WITH base AS (
      SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
    ),
    tl AS (
      SELECT doc_id, i - 1 AS i0, toks[CAST(i AS INTEGER)] AS tok
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) u
    ),
    lines AS (
      SELECT doc_id,
             (CASE WHEN (i0 + doc_id) % 10 < doc_id % 11
                   THEN '- ' ELSE '' END)
             || tok ||
             (CASE WHEN (i0 * 3 + doc_id) % 10 < doc_id % 7
                   THEN '...' ELSE '' END) AS line
      FROM tl
    ),
    per0 AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN starts_with(line, '- ')
                             OR starts_with(line, '* ')
                             OR starts_with(line, '•')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bullet_lines,
             CAST(SUM(CASE WHEN ends_with(line, '...')
                             OR ends_with(line, '…')
                           THEN 1 ELSE 0 END) AS BIGINT) AS ellipsis_lines
      FROM lines GROUP BY 1
    ),
    per AS (
      SELECT d.doc_id,
             COALESCE(p.n_lines, 0) AS n_lines,
             COALESCE(p.bullet_lines, 0) AS bullet_lines,
             COALESCE(p.ellipsis_lines, 0) AS ellipsis_lines
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN per0 p USING (doc_id)
    ),
    stats AS (
      SELECT doc_id, n_lines, bullet_lines, ellipsis_lines,
             CASE WHEN n_lines = 0 THEN 0
                  ELSE CAST(10000 * bullet_lines // n_lines AS BIGINT)
                  END AS bullet_bp,
             CASE WHEN n_lines = 0 THEN 0
                  ELSE CAST(10000 * ellipsis_lines // n_lines AS BIGINT)
                  END AS ellipsis_bp
      FROM per
    )
    SELECT doc_id, n_lines, bullet_lines, ellipsis_lines,
           bullet_bp, ellipsis_bp,
           (n_lines > 0 AND bullet_bp <= 9000) AS r_bullet_lines,
           (n_lines > 0 AND ellipsis_bp <= 3000) AS r_ellipsis_lines,
           (n_lines > 0 AND bullet_bp <= 9000 AND ellipsis_bp <= 3000)
               AS keep_lines
    FROM stats
"""


# --------------------------------------------- round 9: UniMax mixing

UNIMAX_BUDGET = 771
UNIMAX_EPOCHS = 2


def q_unimax_allocation(spark, sf_dir):
    """UniMax language-balanced sampling budget (operators/curation.
    unimax_allocation; Chung et al. 2023): exact integer water-filling
    of a document budget across languages under a per-language epoch
    cap — uniform where possible, capped where a language is too small.
    Budget 771 docs / 2-epoch cap exercises every branch on this
    corpus: small languages CAP at 2 epochs, the rest sit at the water
    level, and at sf0.001 the integer remainder distributes (r=1)."""
    docs = _docs(spark, sf_dir)
    return curation.unimax_allocation(
        docs, budget_docs=UNIMAX_BUDGET, max_epochs=UNIMAX_EPOCHS
    )


QUERIES["unimax_allocation"] = q_unimax_allocation

ORACLES["unimax_allocation"] = f"""
    WITH per AS (
      SELECT lang AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(*) * {UNIMAX_EPOCHS} AS BIGINT) AS capacity
      FROM documents GROUP BY 1
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY capacity, grp) AS i,
             CAST(SUM(capacity) OVER (ORDER BY capacity, grp
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_grps
      FROM per
    ),
    flag AS (
      SELECT *, ({UNIMAX_BUDGET} - pfx) >= capacity * (n_grps - i)
                    AS capped
      FROM ranked
    ),
    star AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN capped THEN capacity END), 0)
                  AS BIGINT) AS p_star,
             CAST(COALESCE(SUM(CASE WHEN NOT capped THEN 1 ELSE 0 END),
                  0) AS BIGINT) AS m
      FROM flag
    ),
    lvl AS (
      SELECT CAST(CASE WHEN m > 0
                       THEN ({UNIMAX_BUDGET} - p_star) // m
                       ELSE 0 END AS BIGINT) AS t,
             CAST(CASE WHEN m > 0
                       THEN ({UNIMAX_BUDGET} - p_star) % m
                       ELSE 0 END AS BIGINT) AS r
      FROM star
    ),
    u AS (
      SELECT f.*,
             row_number() OVER (PARTITION BY capped ORDER BY grp)
                 AS u_rank
      FROM flag f
    ),
    alloc AS (
      SELECT grp AS lang, n_docs, capacity,
             CAST(CASE WHEN capped THEN capacity
                       ELSE t + CASE WHEN u_rank <= r THEN 1 ELSE 0 END
                  END AS BIGINT) AS alloc_docs
      FROM u CROSS JOIN lvl
    )
    SELECT lang, n_docs, capacity, alloc_docs,
           CAST(10000 * alloc_docs // n_docs AS BIGINT) AS epochs_bp
    FROM alloc
"""


def q_stream_gopher_gate(spark, sf_dir):
    """Streaming twin of the Gopher rule gate: documents ARRIVE AS A
    STREAM (8 real micro-batches) and every batch is scored by
    gopher_quality_flags against the same thresholds.  The rule
    battery is per-doc STATELESS, so per-batch outputs are disjoint by
    doc id and their union equals the one-shot pass — shares the
    gopher_quality oracle end-to-end through readStream→foreachBatch
    (the stream_dsir_gate posture at the rule tier)."""
    from real_time_data_pipeline_spark.queries.reference_parity import (
        stream_capture,
    )

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(f"{sf_dir}/documents*.parquet")
    out_schema = curation.gopher_quality_flags(
        _docs(spark, sf_dir).limit(0), **GOPHER_KW
    ).schema
    # r11: per-batch flags go to the parquet capture sink instead of
    # collecting rows through the driver (see stream_capture).
    return stream_capture(
        stream, "stream_gopher_gate",
        transform=lambda b: curation.gopher_quality_flags(b, **GOPHER_KW),
        schema=out_schema,
    )


QUERIES["stream_gopher_gate"] = q_stream_gopher_gate
ORACLES["stream_gopher_gate"] = ORACLES["gopher_quality"]


def q_unimax_incremental(spark, sf_dir):
    """Incremental UniMax refresh: per-language doc counts are ADDITIVE
    sufficient statistics (the dsir_weights_incremental posture), so
    the daily re-allocation reads the persisted |languages|-row count
    table, adds the increment's counts, and re-runs the water-fill —
    history is never re-scanned.  Docs with doc_id % 10 == 0 play the
    increment; the oracle is the full-corpus unimax_allocation SQL —
    the fold-equality certificate that the refresh loses nothing."""
    import os

    docs = _docs(spark, sf_dir)
    hist = docs.filter(F.col("doc_id") % 10 != 0)
    inc = docs.filter(F.col("doc_id") % 10 == 0)
    path = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "spark-warehouse",
        f"unimax_counts_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    stored = hist.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_hist")
    )
    stored.write.mode("overwrite").parquet(path)
    folded = (
        spark.read.parquet(path)
        .join(
            inc.groupBy("lang").agg(
                F.count("*").cast("bigint").alias("n_inc")
            ),
            "lang",
            "outer",
        )
        .select(
            "lang",
            (
                F.coalesce("n_hist", F.lit(0))
                + F.coalesce("n_inc", F.lit(0))
            ).cast("bigint").alias("n"),
        )
    )
    # re-run the water-fill on the folded counts directly: the
    # counts-in signature keeps the refresh corpus-independent —
    # |languages| rows in, no synthetic row per document (the r9
    # explode(sequence(1, n)) rebuild materialized corpus-size rows
    # and sequence() caps its length at large n — ADVICE r9).
    return curation.unimax_allocation(
        folded, budget_docs=UNIMAX_BUDGET, max_epochs=UNIMAX_EPOCHS,
        count_col="n",
    )


QUERIES["unimax_incremental"] = q_unimax_incremental
# additive counts + same water-fill == full recompute
ORACLES["unimax_incremental"] = ORACLES["unimax_allocation"]


# ------------------------------------------------ round 10: C4 rules


def _c4_lines_col():
    """The deterministic C4 fixture lines (shared by the batch entry,
    the streaming gate, and — in SQL form — the oracle): line i0 = tok
    i0 repeated (i0 + doc_id) % 7 + 1 times, '.'-terminal on the mod-3
    residue, 'javascript' on the mod-13 residue, and the doc-grain
    trip-phrases planted on lines 0/1/2 of every 17th/19th/23rd doc."""
    from real_time_data_pipeline_spark.operators.dedup import tokens_col

    d = F.col("doc_id")
    return F.transform(
        tokens_col("text"),
        lambda t, i: F.concat(
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), (i + d) % 7 + 1), lambda _: t
                ),
            ),
            F.when(((i * 5 + d) % 13) == 0, F.lit(" javascript"))
            .otherwise(F.lit("")),
            F.when((d % 17 == 0) & (i == 0), F.lit(" lorem ipsum"))
            .otherwise(F.lit("")),
            F.when((d % 19 == 0) & (i == 1), F.lit(" {"))
            .otherwise(F.lit("")),
            F.when((d % 23 == 0) & (i == 2), F.lit(" privacy policy"))
            .otherwise(F.lit("")),
            F.when(((i + d) % 3) == 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )


def q_c4_quality(spark, sf_dir):
    """C4 heuristic cleaning battery (operators/curation.
    c4_quality_flags; Raffel et al. 2020 §2.2) over a DETERMINISTIC
    multi-line fixture: the synthetic corpus is single-line, so line
    i0 of a doc is its token i0 repeated m = (i0 + doc_id) % 7 + 1
    times (word-count sweep), terminal-'.'-suffixed when
    (i0 + doc_id) % 3 == 0, with 'javascript' appended when
    (5·i0 + doc_id) % 13 == 0 (line-grain drop), and the doc-grain
    trip-phrases planted on fixed lines of every 17th / 19th / 23rd
    doc ('lorem ipsum' on line 0, '{' on line 1, 'privacy policy' on
    line 2).  The joint (mod 3, mod 7) residue keeps ~1/7 of lines,
    so r_min_lines (>= 3 kept) splits the 10-99-token corpus both
    ways; every other rule fires on its planted subset.  The oracle
    rebuilds the fixture and the whole integer ledger."""
    docs = _docs(spark, sf_dir)
    staged = docs.select("doc_id", _c4_lines_col().alias("lines"))
    return curation.c4_quality_flags(staged)


QUERIES["c4_quality"] = q_c4_quality

ORACLES["c4_quality"] = f"""
    WITH base AS (
      SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
    ),
    tl AS (
      SELECT doc_id, i - 1 AS i0, toks[CAST(i AS INTEGER)] AS tok
      FROM base, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) u
    ),
    lines AS (
      SELECT doc_id,
             array_to_string(
               list_transform(range(1, CAST((i0 + doc_id) % 7 + 2 AS INTEGER)),
                              x -> tok), ' ')
             || CASE WHEN (i0 * 5 + doc_id) % 13 = 0
                     THEN ' javascript' ELSE '' END
             || CASE WHEN doc_id % 17 = 0 AND i0 = 0
                     THEN ' lorem ipsum' ELSE '' END
             || CASE WHEN doc_id % 19 = 0 AND i0 = 1
                     THEN ' {{' ELSE '' END
             || CASE WHEN doc_id % 23 = 0 AND i0 = 2
                     THEN ' privacy policy' ELSE '' END
             || CASE WHEN (i0 + doc_id) % 3 = 0
                     THEN '.' ELSE '' END AS line
      FROM tl
    ),
    per0 AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN
                   (ends_with(line, '.') OR ends_with(line, '!')
                    OR ends_with(line, '?') OR ends_with(line, '"'))
                   AND len(list_filter(string_split(line, ' '),
                                       w -> w <> '')) >= 5
                   AND NOT contains(lower(line), 'javascript')
                   THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines,
             MAX(CASE WHEN contains(lower(line), 'lorem ipsum')
                      THEN 1 ELSE 0 END) AS has_lorem,
             MAX(CASE WHEN contains(line, '{{')
                      THEN 1 ELSE 0 END) AS has_brace,
             MAX(CASE WHEN contains(lower(line), 'privacy policy')
                       OR contains(lower(line), 'terms of use')
                       OR contains(lower(line), 'cookie policy')
                       OR contains(lower(line), 'uses cookies')
                      THEN 1 ELSE 0 END) AS has_policy
      FROM lines GROUP BY 1
    ),
    per AS (
      SELECT d.doc_id,
             COALESCE(p.n_lines, 0) AS n_lines,
             COALESCE(p.kept_lines, 0) AS kept_lines,
             COALESCE(p.has_lorem, 0) AS has_lorem,
             COALESCE(p.has_brace, 0) AS has_brace,
             COALESCE(p.has_policy, 0) AS has_policy
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN per0 p USING (doc_id)
    )
    SELECT doc_id, n_lines, kept_lines,
           CASE WHEN n_lines = 0 THEN 0
                ELSE CAST(10000 * kept_lines // n_lines AS BIGINT)
                END AS kept_bp,
           (kept_lines >= 3) AS r_min_lines,
           (has_lorem = 0) AS r_lorem,
           (has_brace = 0) AS r_brace,
           (has_policy = 0) AS r_policy,
           (kept_lines >= 3 AND has_lorem = 0 AND has_brace = 0
            AND has_policy = 0) AS keep_c4
    FROM per
"""


def q_stream_c4_gate(spark, sf_dir):
    """Streaming twin of the C4 cleaning battery: documents ARRIVE AS
    A STREAM (8 real micro-batches), every batch is staged through the
    same deterministic line fixture and scored by c4_quality_flags.
    The battery is per-doc STATELESS, so per-batch outputs are
    disjoint by doc id and their union equals the one-shot pass —
    shares the c4_quality oracle end-to-end through
    readStream→foreachBatch (the stream_gopher_gate posture)."""
    from real_time_data_pipeline_spark.queries.reference_parity import (
        stream_capture,
    )

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(f"{sf_dir}/documents*.parquet")

    lines = _c4_lines_col()
    out_schema = curation.c4_quality_flags(
        _docs(spark, sf_dir).limit(0).select("doc_id", lines.alias("lines"))
    ).schema

    # r11: per-batch flags go to the parquet capture sink instead of
    # collecting rows through the driver (see stream_capture).
    def score(batch):
        return curation.c4_quality_flags(
            batch.select("doc_id", lines.alias("lines"))
        )

    return stream_capture(
        stream, "stream_c4_gate", transform=score, schema=out_schema
    )


QUERIES["stream_c4_gate"] = q_stream_c4_gate
# per-doc stateless battery: union of batches == one-shot pass
ORACLES["stream_c4_gate"] = ORACLES["c4_quality"]
