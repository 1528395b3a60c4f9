"""Dataset-curation operators for LLM training-data pipelines
(north-star tier, SURVEY.md §2.9/§2.10): repetition filtering,
benchmark decontamination, deterministic source mixing, and sequence
packing.

Not in the reference (its surface stops at per-record validation); these
are the corpus-level passes that sit between the reference-style
cleaning/validation stage and tokenizer output in a production data
pipeline (the Gopher/C4/RefinedWeb-style curation steps).

All operators are expression-only (explode/aggregate/window) — no
Python UDFs — so they run inside whole-stage codegen.  Exact integer
arithmetic (basis points, not floats) keeps every output bit-stable
across engines for the DuckDB oracles (queries/curation.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators.dedup import tokens_col

__all__ = [
    "ngrams_col",
    "repetition_stats",
    "decontaminate",
    "mix_sources",
    "pack_sequences",
]

# Gopher-flavored repetition thresholds (Rae et al. 2021 table A1 uses
# character fractions; we use n-gram-slot fractions — same mechanism,
# integer-exact).  A doc is dropped when the single most frequent 2-gram
# covers > 20% of 2-gram slots or duplicated 5-grams cover > 30%.
TOP_NGRAM_MAX_BP = 2000
DUP_NGRAM_MAX_BP = 3000


def ngrams_from_tokens(toks: F.Column, n: int) -> F.Column:
    """Word n-grams over an already-tokenized array column — the same
    slice/concat expression :func:`ngrams_col` builds, factored out so
    consumers holding a shared tokenized frame (quality_verdicts' fused
    prep) derive grams without re-running the tokenizer regex."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def ngrams_col(text_col: str, n: int) -> F.Column:
    """Word n-grams as space-joined strings; docs shorter than n tokens
    yield their whole token list as one gram (mirrors dedup.shingles_col's
    short-doc padding so no document silently drops out)."""
    return ngrams_from_tokens(tokens_col(text_col), n)


def _gram_hist(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    tokens_frame: DataFrame | None = None,
) -> DataFrame:
    """(id, gram, count) histogram: one explode so the tokenizer runs
    once, then a codegen'd count with map-side combine — the shuffle
    carries one row per distinct (doc, gram), bounded by doc length.
    ``tokens_frame`` (id_col, toks) substitutes a shared pre-tokenized
    frame for the per-call tokenizer pass — the gram expression is the
    same slice/concat over the same token arrays, so output is
    bit-identical."""
    if tokens_frame is not None:
        grams = tokens_frame.select(
            F.col(id_col),
            F.explode(ngrams_from_tokens(F.col("toks"), n)).alias("gram"),
        )
    else:
        grams = df.select(
            F.col(id_col), F.explode(ngrams_col(text_col, n)).alias("gram")
        )
    return grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_frame: DataFrame | None = None,
) -> DataFrame:
    """Per-document repetition profile (Gopher-style):

    - ``top_2gram_bp``: basis points of 2-gram slots covered by the single
      most frequent 2-gram;
    - ``dup_5gram_bp``: basis points of 5-gram slots whose 5-gram occurs
      more than once;
    - ``keep_repetition``: both under the module thresholds.

    Two doc-bounded histogram aggregates joined on the doc id; at scale
    both sides are already hash-partitioned by ``id_col`` from their
    groupBy, so the join is co-partitioned — no extra shuffle.
    """
    g2 = (
        _gram_hist(df, id_col, text_col, 2, tokens_frame=tokens_frame)
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n2"),
            F.max("cnt").alias("top2"),
        )
    )
    g5 = (
        _gram_hist(df, id_col, text_col, 5, tokens_frame=tokens_frame)
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n5"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup5"),
        )
    )
    top_bp = F.floor(F.lit(10000) * F.col("top2") / F.col("n2")).cast("bigint")
    dup_bp = F.floor(F.lit(10000) * F.col("dup5") / F.col("n5")).cast("bigint")
    return (
        g2.join(g5, id_col)
        .select(
            F.col(id_col),
            top_bp.alias("top_2gram_bp"),
            dup_bp.alias("dup_5gram_bp"),
        )
        .withColumn(
            "keep_repetition",
            (F.col("top_2gram_bp") <= TOP_NGRAM_MAX_BP)
            & (F.col("dup_5gram_bp") <= DUP_NGRAM_MAX_BP),
        )
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_shared_bp: int = 1000,
    tokens_frame: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share word
    ``n``-grams with an eval/benchmark corpus (the GPT-3/PaLM-style
    n-gram-collision check; 8-gram default ≈ their 8-13 range).

    Per doc: distinct n-grams, how many collide with the benchmark's
    distinct n-gram set, collision basis points, and a keep flag
    (``shared_bp <= max_shared_bp``).

    The benchmark gram set is DISTINCT and eval-suite-sized (tiny vs the
    corpus), so Spark broadcasts it via the threshold — the corpus-side
    explode never shuffles; the per-doc aggregate is the only exchange.
    """
    if tokens_frame is not None:
        # Same slice/concat gram expression over the shared token arrays
        # — bit-identical grams without a second tokenizer pass.
        doc_grams = tokens_frame.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(ngrams_from_tokens(F.col("toks"), n))
            ).alias("gram"),
        )
    else:
        doc_grams = df.select(
            F.col(id_col),
            F.explode(F.array_distinct(ngrams_col(text_col, n))).alias("gram"),
        )
    bench_grams = (
        benchmark.select(F.explode(ngrams_col(text_col, n)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = doc_grams.join(bench_grams, "gram", "left")
    agg = joined.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("shared_grams"),
    )
    shared_bp = F.floor(F.lit(10000) * F.col("shared_grams") / F.col("n_grams")).cast(
        "bigint"
    )
    return agg.select(
        F.col(id_col),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("shared_grams").cast("bigint").alias("shared_grams"),
        shared_bp.alias("shared_bp"),
        (shared_bp <= F.lit(max_shared_bp)).alias("keep_decontaminated"),
    )


def decontaminate_substr(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 40,
    max_covered_bp: int = 2000,
) -> DataFrame:
    """ExactSubstr-grain decontamination — the SUFFIX/character-level
    twin of :func:`decontaminate` (which checks word 8-grams; this is
    the Lee et al. "Deduplicating Training Data Makes Language Models
    Better" ExactSubstr criterion applied to benchmark contamination):
    a doc is contaminated at character position p iff the ``min_len``
    characters starting at p also appear verbatim anywhere in the
    benchmark.  The sliding-window identity makes this exact without a
    suffix array: a doc shares a substring of length >= min_len with
    the benchmark IFF some min_len-char window of the doc equals some
    min_len-char window of a benchmark doc — every suffix's length-L
    prefix is a window, so the window equi-join IS the suffix-array
    match at grain L.  Word-gram checks miss contamination that spans
    re-tokenization (punctuation shifts, case-only edits survive the
    normalize), substring matching does not.

    Text is normalized exactly like the tokenizer front door (lower,
    trim, collapse whitespace) so the check tolerates whitespace
    reflows.  Per doc, over ISLANDS of hit positions (hit windows
    overlap for position gaps < min_len and TOUCH at a gap of exactly
    min_len — both keep the covered region contiguous — so islands
    break only at gaps > min_len; an island spanning positions [first,
    last] covers exactly last - first + min_len chars — the true
    union of its hit windows):

      - ``n_windows`` / ``n_hit_windows`` — positions checked / hit
      - ``n_covered_chars`` — chars under the union of hit windows
      - ``covered_bp``      — coverage of the normalized doc, bp
      - ``max_span_chars``  — longest contiguous covered region
      - ``keep_substr_clean`` — covered_bp <= max_covered_bp

    Scale shape: the benchmark window set is DISTINCT and
    eval-suite-sized (MB-scale by definition) so it broadcasts — as
    its 128-bit hash pair (:func:`_win_hash128`), ~2.5x smaller than
    the raw strings; the corpus side pays one position explode
    (|chars| rows, linear) that never shuffles, and the only exchanges
    are the hit-run aggregates, which are HIT-bounded (contaminated
    positions only), not corpus-bounded.  The run/island window
    partitions by doc id — per-key, doc-length-bounded, never a single
    global partition.  Docs shorter than min_len have zero windows and
    keep=true.
    """
    stats, wins = _char_windows(df, id_col, text_col, min_len)
    bkeys = (
        _char_windows(benchmark, id_col, text_col, min_len)[1]
        .select(*_win_hash128())
        .distinct()
    )
    hits = (
        wins.select("id", "pos", *_win_hash128())
        .join(F.broadcast(bkeys), ["h1", "h2"])
        .select("id", "pos")
    )
    return _substr_run_stats(
        stats, hits, id_col, min_len, "keep_substr_clean", max_covered_bp
    )


def _substr_norm(text_col: str) -> F.Column:
    """The character-grain normalization shared by every substr
    operator AND its DuckDB oracle: lower, trim, collapse whitespace —
    the tokenizer front door, so checks tolerate whitespace reflows."""
    return F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))


def _char_windows(
    df: DataFrame, id_col: str, text_col: str, min_len: int
) -> tuple[DataFrame, DataFrame]:
    """Per-doc char-window decomposition: returns (stats, wins) where
    stats = (id, n_chars, n_windows) and wins = (id, pos, win) with one
    row per character position and its length-``min_len`` slice.  The
    explode is |chars| rows — linear, never shuffled by itself."""
    base = df.select(
        F.col(id_col).alias("id"), _substr_norm(text_col).alias("t")
    ).select("id", "t", F.length("t").cast("bigint").alias("n_chars"))
    # F.sequence(1, 0) yields [1, 0] (negative-step inference), so the
    # empty-window case needs an explicit guard.
    pos_seq = F.when(
        F.col("n_chars") >= min_len,
        F.sequence(F.lit(1), (F.col("n_chars") - min_len + 1).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    stats = base.select(
        "id", "n_chars", F.size(pos_seq).cast("bigint").alias("n_windows")
    )
    wins = base.select(
        "id", F.explode(pos_seq).alias("pos"), F.col("t")
    ).select(
        "id",
        "pos",
        F.col("t").substr(F.col("pos"), F.lit(min_len)).alias("win"),
    )
    return stats, wins


def _win_hash128(prefix: str = "") -> list:
    """128-bit window key: two independent xxhash64 legs over the raw
    ``win`` string (the second leg is salted with a literal so the legs
    are independent functions).  The shuffle/broadcast/index DIET for
    the substr tier: every exchange and persisted artifact carries 16
    bytes instead of the raw min_len-char window (~40 B + string
    overhead), a ~5x payload cut.  Collision posture (the same
    fp-negligible stance as the decontaminate_bloom tier): even at
    1e13 distinct windows (a 100 TB corpus), the birthday bound over
    the 2^128 pair space is ~1e26 / 6.8e38 ~ 1.5e-13 — far below any
    hardware error rate, so equality on the pair IS window equality in
    practice and the raw-string DuckDB oracles stay the certification.
    """
    return [
        F.xxhash64(F.lit(prefix + "h1"), F.col("win")).alias("h1"),
        F.xxhash64(F.lit(prefix + "h2"), F.col("win")).alias("h2"),
    ]


def _substr_run_stats(
    stats: DataFrame,
    hits: DataFrame,
    id_col: str,
    min_len: int,
    flag_name: str,
    max_covered_bp: int,
) -> DataFrame:
    """Fold hit positions into per-doc coverage statistics via
    gaps-and-islands at the TRUE UNION grain: hit windows of length
    min_len overlap when the position gap is < min_len and TOUCH
    end-to-start when the gap is exactly min_len (still one contiguous
    covered region), so islands break only where pos - prev_pos >
    min_len, and an island spanning positions [first, last] covers
    exactly last - first + min_len chars (summing per-island spans IS
    the union of hit windows — islands are > min_len apart, so their
    covered regions neither overlap nor touch).
    The island window partitions by doc id — per-key,
    doc-length-bounded, never a single global partition; the
    aggregates are HIT-bounded, not corpus-bounded."""
    w = Window.partitionBy("id").orderBy("pos")
    prev = F.lag("pos").over(w)
    brk = F.when(
        prev.isNull() | (F.col("pos") - prev > min_len), F.lit(1)
    ).otherwise(F.lit(0))
    runs = (
        hits.select("id", "pos", brk.alias("brk"))
        .select("id", "pos", F.sum("brk").over(w).alias("grp"))
        .groupBy("id", "grp")
        .agg(
            F.count("*").cast("bigint").alias("k"),
            (F.max("pos") - F.min("pos") + F.lit(min_len)).alias("span"),
        )
        .select("id", "k", "span")
    )
    per_doc = runs.groupBy("id").agg(
        F.sum("k").cast("bigint").alias("n_hit_windows"),
        F.sum("span").cast("bigint").alias("n_covered_chars"),
        F.max("span").cast("bigint").alias("max_span_chars"),
    )
    covered_bp = F.when(
        F.col("n_chars") > 0,
        F.floor(
            F.lit(10000)
            * F.coalesce("n_covered_chars", F.lit(0))
            / F.col("n_chars")
        ),
    ).otherwise(F.lit(0)).cast("bigint")
    return stats.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        "n_chars",
        "n_windows",
        F.coalesce("n_hit_windows", F.lit(0)).cast("bigint").alias(
            "n_hit_windows"
        ),
        F.coalesce("n_covered_chars", F.lit(0)).cast("bigint").alias(
            "n_covered_chars"
        ),
        covered_bp.alias("covered_bp"),
        F.coalesce("max_span_chars", F.lit(0)).cast("bigint").alias(
            "max_span_chars"
        ),
        (covered_bp <= F.lit(max_covered_bp)).alias(flag_name),
    )


def dup_substr_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 40,
    max_covered_bp: int = 5000,
) -> DataFrame:
    """Intra-corpus ExactSubstr duplication profile — the Lee et al.
    criterion proper (cross-DOC duplicated substrings at character
    grain), the suffix-level companion of :func:`dup_span_stats`'s
    token 8-grams: a position is duplicated iff its ``min_len``-char
    window occurs in at least one OTHER document.  Same run/coverage
    output shape as :func:`decontaminate_substr` with
    ``keep_substr_unique`` (covered_bp <= max_covered_bp — the
    ExactSubstr drop rule at doc grain).

    Scale shape: unlike decontamination there is no broadcast-scale
    side — the shared-window set is corpus-derived, so the plan pays
    ONE corpus shuffle keyed by the window's 128-bit hash pair
    (:func:`_win_hash128` — 16 B/row instead of the raw 40-char
    string, the ~5x shuffle diet; (id, h) distinct → per-window
    distinct-doc count), then a hit-bounded join back.  At 100 TB run
    this from a persisted (h1, h2) index the way the MinHash tier
    persists band hashes; the linear |chars| explode itself never
    shuffles."""
    stats, wins = _char_windows(df, id_col, text_col, min_len)
    keys = wins.select("id", "pos", *_win_hash128())
    shared = (
        keys.select("id", "h1", "h2")
        .distinct()
        .groupBy("h1", "h2")
        .agg(F.count("*").cast("bigint").alias("n_docs_win"))
        .filter(F.col("n_docs_win") >= 2)
        .select("h1", "h2")
    )
    hits = keys.join(shared, ["h1", "h2"]).select("id", "pos")
    return _substr_run_stats(
        stats, hits, id_col, min_len, "keep_substr_unique", max_covered_bp
    )


def contamination_pairs(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 40,
) -> DataFrame:
    """Pair-grain quote evidence — the drill-down under
    :func:`contamination_report`: for every (benchmark doc, training
    doc) pair that shares a >= min_len-char substring, the hit-window
    count and the longest contiguous quoted span, computed with the
    same gaps-and-islands machinery but islanded PER PAIR (a training
    doc quoting two different benchmark items gets one row per item).
    Islands break at position gaps > min_len (hit windows overlap for
    smaller gaps and touch at exactly min_len — both contiguous) so
    max_span_chars is the longest CONTIGUOUS quoted region, not a
    fragment of it.  The table a human reads to
    see WHICH quote compromised WHICH eval item; self-pairs are
    excluded.

    Scale shape: benchmark window hash pairs broadcast with their doc
    ids; the run window partitions by (bench_id, train_id) —
    pair-bounded, and rows exist only for actual hits."""
    _, wins = _char_windows(df, id_col, text_col, min_len)
    bkeys = (
        _char_windows(benchmark, id_col, text_col, min_len)[1]
        .select(F.col("id").alias("bench_id"), *_win_hash128())
        .distinct()
    )
    hits = (
        wins.select("id", "pos", *_win_hash128())
        .join(F.broadcast(bkeys), ["h1", "h2"])
        .filter(F.col("id") != F.col("bench_id"))
        .select("bench_id", F.col("id").alias("train_id"), "pos")
    )
    w = Window.partitionBy("bench_id", "train_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    brk = F.when(
        prev.isNull() | (F.col("pos") - prev > min_len), F.lit(1)
    ).otherwise(F.lit(0))
    runs = (
        hits.select("bench_id", "train_id", "pos", brk.alias("brk"))
        .select(
            "bench_id", "train_id", "pos",
            F.sum("brk").over(w).alias("grp"),
        )
        .groupBy("bench_id", "train_id", "grp")
        .agg(
            F.count("*").cast("bigint").alias("k"),
            (F.max("pos") - F.min("pos") + F.lit(min_len)).alias("span"),
        )
        .select("bench_id", "train_id", "k", "span")
    )
    return runs.groupBy("bench_id", "train_id").agg(
        F.sum("k").cast("bigint").alias("n_hit_windows"),
        F.max("span").cast("bigint").alias("max_span_chars"),
    )


SUBSTR_INDEX_SCHEME_VERSION = 2


def build_substr_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 40,
    buckets: int = 64,
) -> None:
    """Persist the corpus's distinct char-window set as a parquet index
    PARTITIONED BY a window-hash bucket — the artifact that makes
    suffix-grain dedup INCREMENTAL: a daily increment probes this index
    instead of re-windowing the historical corpus, so steady-state cost
    scales with the increment, not the 100 TB history (the
    :func:`~real_time_data_pipeline_spark.operators.dedup.build_minhash_index`
    recipe at the character grain).  Only distinct window HASH PAIRS
    are stored (scheme v2 — :func:`_win_hash128`, 16 B/row instead of
    the raw 40-char string, the ~5x index diet; no doc ids — the probe
    answers "seen in history?", not "where"), so the index is bounded
    by unique content volume x 16 B; appending a new day is an
    append-mode write of its novel window hashes.  A ``_scheme``
    marker pins (version, min_len, buckets) so a probe under different
    parameters fails loudly instead of silently missing."""
    _, wins = _char_windows(corpus, id_col, text_col, min_len)
    spark = corpus.sparkSession
    (
        wins.select(*_win_hash128())
        .distinct()
        .withColumn(
            "bucket", F.pmod(F.col("h1"), F.lit(buckets)).cast("int")
        )
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    # JVM-literal 1-row marker (createDataFrame of a local row pays a
    # multi-second Python-runner write — see dedup._write_index_meta).
    spark.range(1).select(
        F.lit(SUBSTR_INDEX_SCHEME_VERSION).cast("int").alias(
            "scheme_version"
        ),
        F.lit(min_len).cast("int").alias("min_len"),
        F.lit(buckets).cast("int").alias("buckets"),
    ).write.mode("overwrite").parquet(path + "/_scheme")


def append_substr_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold a day's increment into the persisted window index without
    rebuilding: the increment's distinct windows are anti-joined
    against the existing index (duplicate index rows would duplicate
    probe hits and corrupt the run statistics, so novelty filtering is
    correctness, not just size) and appended under the same bucket
    partitioning.  Parameters come from the index's own ``_scheme``
    marker — an append can't silently diverge from the build config.
    Cost scales with the increment plus the matched buckets; the
    history is never re-windowed."""
    spark = new_docs.sparkSession
    row = spark.read.parquet(path + "/_scheme").collect()[0]
    if row["scheme_version"] != SUBSTR_INDEX_SCHEME_VERSION:
        raise ValueError(
            f"substr index at {path} is scheme v{row['scheme_version']}, "
            f"appender is v{SUBSTR_INDEX_SCHEME_VERSION}"
        )
    min_len, buckets = row["min_len"], row["buckets"]
    _, wins = _char_windows(new_docs, id_col, text_col, min_len)
    novel = (
        wins.select(*_win_hash128())
        .distinct()
        .withColumn(
            "bucket", F.pmod(F.col("h1"), F.lit(buckets)).cast("int")
        )
        .join(spark.read.parquet(path), ["bucket", "h1", "h2"], "anti")
    )
    novel.repartition("bucket").write.mode("append").partitionBy(
        "bucket"
    ).parquet(path)


def check_substr_index(
    spark, path: str, min_len: int, buckets: int
) -> None:
    """Fail loudly if the persisted window index at ``path`` was built
    under a different scheme or (min_len, buckets) than the probe."""
    row = spark.read.parquet(path + "/_scheme").collect()[0]
    want = (SUBSTR_INDEX_SCHEME_VERSION, min_len, buckets)
    got = (row["scheme_version"], row["min_len"], row["buckets"])
    if got != want:
        raise ValueError(
            f"substr index at {path} built as {got}, probe wants {want}"
        )


def incremental_substr_stats(
    spark,
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 40,
    buckets: int = 64,
    max_covered_bp: int = 2000,
) -> DataFrame:
    """Suffix-grain dedup of an increment against a PERSISTED window
    index: per new doc, run/coverage statistics of its char windows
    that already exist in the indexed history —
    ``keep_substr_novel`` = the doc is substantially new material, the
    admission gate a steady-state ingest pipeline applies before a new
    document enters the training corpus.

    The join is keyed (bucket, h1, h2) — the 128-bit window hash pair,
    co-partitioned with the index's on-disk layout; the history is
    never re-windowed and never broadcast — cost scales with the
    increment's character count plus the matched index buckets."""
    check_substr_index(spark, index_path, min_len, buckets)
    stats, wins = _char_windows(new_docs, id_col, text_col, min_len)
    probe = wins.select("id", "pos", *_win_hash128()).withColumn(
        "bucket", F.pmod(F.col("h1"), F.lit(buckets)).cast("int")
    )
    idx = spark.read.parquet(index_path)
    hits = probe.join(idx, ["bucket", "h1", "h2"]).select("id", "pos")
    return _substr_run_stats(
        stats, hits, id_col, min_len, "keep_substr_novel", max_covered_bp
    )


def contamination_report(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 40,
) -> DataFrame:
    """Eval-integrity report, benchmark-side: for every benchmark doc,
    how much of the training corpus quotes it — the reverse direction
    of :func:`decontaminate_substr` (which flags training docs; this
    tells the EVAL owner which benchmark items are compromised and must
    be excluded or re-drawn).  A training window hits a benchmark doc
    iff it equals one of that doc's ``min_len``-char windows; the
    benchmark doc's own row in the corpus is excluded (self-quote is
    not contamination).

    Output per benchmark doc: ``n_contaminated_docs`` (distinct
    training docs quoting it) and ``n_hit_windows`` (training window
    positions hitting it — a doc quoting a longer passage counts once
    per position, so the number tracks quoted VOLUME).  Benchmark docs
    nobody quotes emit zero rows kept via the left join — the report
    must list the clean items too.

    Scale shape: benchmark window hash pairs (with their doc ids)
    broadcast; the corpus-side explode never shuffles; the aggregates
    are hit-bounded.
    """
    _, wins = _char_windows(df, id_col, text_col, min_len)
    bstats, bwins = _char_windows(benchmark, id_col, text_col, min_len)
    bkeys = bwins.select(
        F.col("id").alias("bench_id"), *_win_hash128()
    ).distinct()
    # (bench_id, h1, h2) is distinct and (id, pos) is unique in wins,
    # so the join is already distinct on (bench_id, train_id, pos) —
    # no dedup shuffle needed.
    hits = (
        wins.select("id", "pos", *_win_hash128())
        .join(F.broadcast(bkeys), ["h1", "h2"])
        .filter(F.col("id") != F.col("bench_id"))
        .select("bench_id", F.col("id").alias("train_id"), "pos")
    )
    per_bench = hits.groupBy("bench_id").agg(
        F.countDistinct("train_id").cast("bigint").alias(
            "n_contaminated_docs"
        ),
        F.count("*").cast("bigint").alias("n_hit_windows"),
    )
    return (
        bstats.select(F.col("id").alias("bench_id"), "n_chars", "n_windows")
        .join(per_bench, "bench_id", "left")
        .select(
            F.col("bench_id").alias(id_col),
            "n_chars",
            "n_windows",
            F.coalesce("n_contaminated_docs", F.lit(0))
            .cast("bigint")
            .alias("n_contaminated_docs"),
            F.coalesce("n_hit_windows", F.lit(0))
            .cast("bigint")
            .alias("n_hit_windows"),
            (F.coalesce("n_contaminated_docs", F.lit(0)) > 0).alias(
                "is_compromised"
            ),
        )
    )


def budget_allocation(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-weighted token-budget allocation across sources — the
    planning step before :func:`mix_sources`/:func:`epoch_upsample`:
    given a total training-token budget, split it across sources
    proportional to quality-weighted token mass (sum over docs of
    n_tokens * quality_score) with LARGEST-REMAINDER rounding, so the
    per-source allocations are integers that sum EXACTLY to the budget
    (the order_proration guarantee at source grain).  ``rate_bp`` is
    the resulting per-source sampling/epoch multiplier in basis points
    (can exceed 10000 — an upsampled source).

    Exactness: base_i = (B * mass_i) div M and the remainder ranking
    run in DECIMAL(38,0) (HUGEINT on the oracle side) — no floats
    anywhere, ties broken by source name ascending, so the allocation
    is engine-reproducible.  The remainder window orders the SOURCE
    frame — source-domain-bounded (tens of rows at any corpus size),
    never a corpus-scale single partition.  Empty/whitespace-only
    documents carry no token mass and are EXCLUDED from ``n_docs`` by
    an explicit normalized-text filter (split('') yields [''] — one
    empty token — on BOTH engines, so without the filter an empty doc
    would be counted as one token of mass; the oracle applies the same
    filter)."""
    from real_time_data_pipeline_spark.operators.text import (
        EN_STOPWORDS,
        quality_score_expr,
    )

    # ONE tokenize pass carrying the group column through the per-doc
    # aggregate (the shared quality_score_expr keeps the formula pinned
    # to the oracle-checked operator) — no second scan, no doc-id join.
    ex = df.filter(
        F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")) != ""
    ).select(
        F.col(group_col).alias("src"),
        F.col(id_col).alias("id"),
        F.explode(tokens_col(text_col)).alias("tok"),
    )
    per_doc = ex.groupBy("src", "id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.length("tok")).alias("total_tok_chars"),
        F.sum(
            F.when(F.col("tok").isin(EN_STOPWORDS), 1).otherwise(0)
        ).alias("n_stopwords"),
    ).select(
        "src",
        F.col("n_tokens").cast("bigint").alias("n_toks"),
        quality_score_expr().alias("quality_score"),
    )
    per_src = per_doc.groupBy("src").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum(
            F.col("n_toks") * F.col("quality_score")
        ).cast("bigint").alias("mass"),
    )
    total = per_src.agg(
        F.sum("mass").cast("decimal(38,0)").alias("_m")
    )
    from real_time_data_pipeline_spark.operators import cache

    # Persisted: the leftover aggregate and the final ranked select
    # both consume it — source-domain rows, bytes each.
    based = cache.track(per_src.crossJoin(F.broadcast(total)).select(
        "src",
        "n_docs",
        "n_tokens",
        "mass",
        F.expr(
            f"CAST((CAST({budget_tokens} AS DECIMAL(38,0)) * mass)"
            " div _m AS BIGINT)"
        ).alias("base"),
        F.expr(
            f"CAST((CAST({budget_tokens} AS DECIMAL(38,0)) * mass)"
            " % _m AS BIGINT)"
        ).alias("rem"),
    ))
    leftover = based.agg(
        (F.lit(budget_tokens) - F.sum("base")).cast("bigint").alias("_left")
    )
    w = Window.orderBy(F.desc("rem"), F.asc("src"))
    return (
        based.crossJoin(F.broadcast(leftover))
        .withColumn("rk", F.row_number().over(w))
        .select(
            F.col("src").alias(group_col),
            "n_docs",
            "n_tokens",
            "mass",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("_left"), 1).otherwise(0)
            ).cast("bigint").alias("alloc_tokens"),
            F.expr(
                "CAST((10000 * (base + CASE WHEN rk <= _left THEN 1"
                " ELSE 0 END)) div n_tokens AS BIGINT)"
            ).alias("rate_bp"),
        )
    )


# Deterministic pseudo-random sample key: Lehmer/Park-Miller multiplier
# mod the Mersenne prime 2^31-1, folded to basis points.  Chosen over
# xxhash64 because the SAME closed-form expression runs on DuckDB (the
# oracle) and any other engine — sampling decisions are part of dataset
# lineage and must be reproducible outside Spark.  id * 48271 stays in
# int64 for id < 2^46 (~7e13 docs); beyond that fold the id first.
_LEHMER_MULT = 48271
_LEHMER_MOD = 2147483647


def sample_key(id_col: str) -> F.Column:
    """Deterministic per-id Lehmer key in [0, 2^31-1) — the shared base
    for sampling (folded to bp) and shard assignment; any change to the
    key scheme (e.g. the id-folding needed beyond 2^46 ids) lands here
    once."""
    return F.pmod(F.col(id_col) * F.lit(_LEHMER_MULT), F.lit(_LEHMER_MOD))


def sample_key_bp(id_col: str) -> F.Column:
    """Deterministic per-id sample key in [0, 10000)."""
    return F.pmod(sample_key(id_col), F.lit(10000)).cast("bigint")


def _rate_col(rates_bp: dict[str, int], source_col: str, default_bp: int) -> F.Column:
    """Source→rate CASE chain shared by the down- (mix_sources) and
    up-sampling (epoch_upsample) halves so their rate resolution cannot
    drift."""
    rate = F.lit(default_bp)
    for src, bp in sorted(rates_bp.items()):
        rate = F.when(F.col(source_col) == src, F.lit(bp)).otherwise(rate)
    return rate


def mix_sources(
    df: DataFrame,
    rates_bp: dict[str, int],
    id_col: str = "doc_id",
    source_col: str = "source",
    default_bp: int = 0,
) -> DataFrame:
    """Deterministic stratified source mixing: keep a row iff its sample
    key falls under its source's rate (basis points).  The standard
    up/down-weighting pass when composing a training mix from scraped
    sources of different quality.

    Pure per-row predicate — no shuffle, no state, trivially
    repartitionable, and the same doc survives on every engine and every
    rerun (sampling is lineage, not chance).
    """
    rate = _rate_col(rates_bp, source_col, default_bp)
    return df.withColumn("sample_key_bp", sample_key_bp(id_col)).filter(
        F.col("sample_key_bp") < rate
    )


def epoch_upsample(
    df: DataFrame,
    epochs_bp: dict[str, int],
    id_col: str = "doc_id",
    source_col: str = "source",
    default_bp: int = 10000,
) -> DataFrame:
    """Fractional repeat factors for mixture composition: a source with
    25000 bp (2.5 epochs) emits every doc twice, plus a third copy for
    the deterministic half of ids whose sample key falls under the
    fractional part — so the REALIZED epoch count converges to the
    configured rate without any doc seeing a partial copy.  This is the
    upsampling half of mixture weighting (``mix_sources`` is the
    downsampling half; production mixes need both — e.g. Llama/GPT-style
    recipes repeat small high-quality sources >1 epoch).

    Output: input columns + ``n_epochs`` (realized copies for this doc)
    + ``epoch`` (0-based copy index).  Deterministic and engine-portable
    (same Lehmer key as ``mix_sources``); zero-shuffle — the explode is
    embarrassingly parallel over the scan, so the pass holds at 100 TB.
    """
    rate = _rate_col(epochs_bp, source_col, default_bp)
    whole = F.floor(rate / F.lit(10000)).cast("int")
    frac_bp = (rate - whole * F.lit(10000)).cast("bigint")
    n_epochs = (
        whole + (sample_key_bp(id_col) < frac_bp).cast("int")
    ).cast("int")
    return (
        df.withColumn("n_epochs", n_epochs)
        .filter(F.col("n_epochs") > 0)
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(0), F.col("n_epochs") - 1)),
        )
    )


def shuffle_shards(
    df: DataFrame, n_shards: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic distributed training-data shuffle: shard = Lehmer
    key mod ``n_shards``, position within shard = dense order by (key,
    id).  Readers stream shards in shard order, rows in position order —
    a reproducible global permutation without any global sort: ONE
    window shuffle partitioned by shard (each shard ~corpus/n_shards
    rows; pick n_shards so a shard fits an executor — the standard
    shuffled-shard layout training loaders consume).

    The full 31-bit key (not the 10k-bp fold) orders within shards so
    position assignment has negligible tie mass; ties break by id.
    Input columns ride along — the payload moves inside the one window
    shuffle, so consumers need no corpus re-join to read shards.
    """
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        df.withColumn("shuffle_key", sample_key(id_col).cast("bigint"))
        .withColumn(
            "shard", F.pmod(F.col("shuffle_key"), F.lit(n_shards)).cast("int")
        )
        .withColumn(
            "pos_in_shard", (F.row_number().over(w) - F.lit(1)).cast("bigint")
        )
    )


def pack_sequences(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str = "source",
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences
    ("sequence packing"): within each shard, docs are taken in id order
    and a new pack starts whenever the running token total would exceed
    ``budget_tokens``-sized bins.

    Semantics (deterministic, engine-portable): pack boundary =
    ``floor(exclusive_cumsum_tokens / budget)`` — a doc that straddles a
    bin boundary belongs to the bin its first token falls in, so packs
    can overflow by at most one document (the standard greedy-concat
    approximation; exact bin packing is NP-hard and inherently
    sequential).

    Scale shape: ONE window shuffle partitioned by ``shard_col`` — packing
    is per-shard by construction (a global ordering would serialize on a
    single task at 100 TB).  Pack ids are globally unique as
    (shard, pack_in_shard).
    """
    n_tok = F.size(tokens_col(text_col))
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(F.col(id_col), F.col(shard_col), n_tok.alias("n_tokens"))
        .withColumn(
            "pack_id",
            F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget_tokens)
            ).cast("bigint"),
        )
        .select(id_col, shard_col, "n_tokens", "pack_id")
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Overlapping token-window chunking — the context-window splitter
    that turns documents into fixed-budget training sequences (stride <
    chunk gives the standard overlap so no boundary context is lost).

    The token array is materialized ONCE per row in a projection, then a
    lateral explode over the chunk-index range slices it — the tokenizer
    does not rerun per chunk, and there is no shuffle at all: chunking is
    embarrassingly parallel over the scan.  Chunk count is
    1 + ceil(max(0, n-chunk)/stride), so every token lands in >=1 chunk
    and a short doc yields exactly one."""
    toks = df.select(
        F.col(id_col), tokens_col(text_col).alias("toks")
    )
    n = F.size("toks")
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - F.lit(chunk), F.lit(0)) / F.lit(float(stride))
    ).cast("int")
    ex = toks.select(
        id_col,
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    sliced = F.slice("toks", F.col("chunk_idx") * stride + 1, chunk)
    return ex.select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(sliced).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(sliced, " ").alias("chunk_text"),
    )


def curation_flags(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Combined per-document curation verdict: repetition profile +
    benchmark decontamination, joined on the doc id, with an overall
    ``keep`` = both signals pass.

    Both signals are per-document — repetition needs only the doc's own
    n-gram histogram, decontamination joins a STATIC broadcast benchmark
    gram set — so the pass has no cross-document state and runs
    identically in batch and per-micro-batch streaming
    (queries/curation.stream_curation_flags runs it per micro-batch;
    batch/stream parity is pinned by test and by the shared oracle).  The join is co-partitioned:
    both sides arrive hash-partitioned by ``id_col`` from their final
    aggregates."""
    rep = repetition_stats(df, id_col, text_col)
    dec = decontaminate(df, benchmark, id_col, text_col)
    return rep.join(dec, id_col).select(
        id_col,
        "top_2gram_bp",
        "dup_5gram_bp",
        "keep_repetition",
        "n_grams",
        "shared_grams",
        "shared_bp",
        "keep_decontaminated",
        (F.col("keep_repetition") & F.col("keep_decontaminated")).alias("keep"),
    )


# Composite quality-gate thresholds: a doc must clear ALL of them to
# enter the training mix.  Tuned to the synthetic corpus the way a data
# team tunes to theirs; the mechanism (conjunction of independent cheap
# signals) is the production shape.
QUALITY_MIN_SCORE = 50       # heuristic quality_score floor (of 100)
QUALITY_MIN_INFO_BP = 30000  # >= 3.0 mean bits/token (word-salad floor)


def quality_verdicts(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_frame: DataFrame | None = None,
) -> DataFrame:
    """The document-quality twin of ``dedup.near_dup_verdicts``: one row
    per doc unioning the four independent quality signals with the final
    gate decision —

      - ``quality_score``        — length/stopword/shape heuristic (0-100)
      - ``mean_info_bp``         — unigram-LM surprisal (perplexity proxy)
      - ``keep_repetition``      — Gopher repetition thresholds
      - ``keep_decontaminated``  — benchmark n-gram collision check
      - ``keep``                 — all four pass

    Each signal reduces to a per-doc frame hash-partitioned by the doc id
    from its own aggregate, so the assembly joins are co-partitioned (and
    at scale AQE broadcasts the smaller verdict sides); nothing here
    re-shuffles the corpus.  Since round 10 the four signals share ONE
    persisted tokenized prep frame (id, n_chars, toks) instead of four
    independent scan+tokenize passes (guide §2.3 "project before" / §5
    persist-reused-input: the corpus text is scanned and regex-tokenized
    once; every gram/token expression downstream slices the same arrays,
    so each signal's output is bit-identical to its standalone form)."""
    from real_time_data_pipeline_spark.operators import cache
    from real_time_data_pipeline_spark.operators import text as T

    toksf = (
        tokens_frame
        if tokens_frame is not None
        else cache.track(
            df.select(
                F.col(id_col),
                F.length(F.col(text_col)).alias("n_chars"),
                tokens_col(text_col).alias("toks"),
            )
        )
    )
    q = T.quality_score(df, id_col, text_col, tokens_frame=toksf)
    s = T.unigram_surprisal(
        df, id_col, text_col, tokens_frame=toksf
    ).select(id_col, "mean_info_bp")
    r = repetition_stats(
        df, id_col, text_col, tokens_frame=toksf
    ).select(id_col, "keep_repetition")
    d = decontaminate(
        df, benchmark, id_col, text_col, tokens_frame=toksf
    ).select(id_col, "keep_decontaminated")
    return (
        q.join(s, id_col).join(r, id_col).join(d, id_col)
        .select(
            id_col,
            "quality_score",
            "mean_info_bp",
            "keep_repetition",
            "keep_decontaminated",
            (
                (F.col("quality_score") >= QUALITY_MIN_SCORE)
                & (F.col("mean_info_bp") >= QUALITY_MIN_INFO_BP)
                & F.col("keep_repetition")
                & F.col("keep_decontaminated")
            ).alias("keep"),
        )
    )


# -- Intra-corpus duplicated-span profile --------------------------------

DUP_SPAN_MAX_BP = 5000  # drop docs more than half made of cross-doc spans


def dup_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_dup_bp: int = DUP_SPAN_MAX_BP,
) -> DataFrame:
    """Per-document intra-corpus duplicated-span profile — the bucketed
    approximation of ExactSubstr dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): a token position is
    "duplicated" when the word ``n``-gram starting there also occurs in
    at least one OTHER document.

    Output per doc: ``n_slots`` (n-gram slots), ``dup_slots`` (slots
    whose gram is cross-document), ``dup_bp`` (basis points), and
    ``keep_dup_spans`` (``dup_bp <= max_dup_bp``).  Differs from
    ``repetition_stats`` (WITHIN-doc repetition) and ``decontaminate``
    (collision vs an EXTERNAL benchmark): this is corpus-internal
    boilerplate — headers, license blocks, templated pages.

    Plan: one explode (tokenizer runs once), a gram→distinct-doc-count
    hash aggregate (map-side combined; the shuffle carries one row per
    distinct (doc, gram)), and a gram-keyed sort-merge join back to the
    occurrence list.  No all-pairs anything: cost is linear in corpus
    token count, the same shape as the document-frequency pass — holds
    at 100 TB.  Degenerate grams (stop-phrase boilerplate appearing in
    millions of docs) inflate neither side beyond (gram, n_docs) rows.
    """
    occ = df.select(
        F.col(id_col), F.explode(ngrams_col(text_col, n)).alias("gram")
    )
    cross_doc = (
        occ.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("gram_docs"))
        .filter(F.col("gram_docs") >= 2)
        .select("gram", F.lit(1).alias("_dup"))
    )
    agg = (
        occ.join(cross_doc, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_slots"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("dup_slots"),
        )
    )
    dup_bp = F.floor(F.lit(10000) * F.col("dup_slots") / F.col("n_slots")).cast(
        "bigint"
    )
    return agg.select(
        F.col(id_col),
        F.col("n_slots").cast("bigint").alias("n_slots"),
        F.col("dup_slots").cast("bigint").alias("dup_slots"),
        dup_bp.alias("dup_bp"),
        (dup_bp <= F.lit(max_dup_bp)).alias("keep_dup_spans"),
    )


# -- Per-source corpus profile -------------------------------------------


def source_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source corpus rollup — the table a data team reads before
    setting mixture rates (CCNet/RefinedWeb-style domain triage): doc
    count, exact-duplicate rate, token volume, mean doc length, language
    spread.

    One hash aggregate keyed by source (source cardinality is domains,
    not docs — the output is dashboard-sized).  The token count rides an
    expression (``size`` of the split — no explode needed since no
    per-token grouping happens), so the pass is a single scan with
    map-side combine; the two distinct-counts expand the shuffle by 2×
    rows, still source-bounded.  Holds at 100 TB.
    """
    toks = tokens_col(text_col)
    per_doc = df.select(
        F.col(source_col),
        F.col(lang_col),
        F.sha2(F.col(text_col).cast("string"), 256).alias("text_hash"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    agg = per_doc.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text_hash").alias("n_distinct_texts"),
        F.countDistinct(lang_col).alias("n_langs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return agg.select(
        F.col(source_col),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_distinct_texts").cast("bigint").alias("n_distinct_texts"),
        F.floor(
            F.lit(10000)
            * (F.col("n_docs") - F.col("n_distinct_texts"))
            / F.col("n_docs")
        )
        .cast("bigint")
        .alias("dup_doc_bp"),
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        F.floor(F.lit(10000) * F.col("total_tokens") / F.col("n_docs"))
        .cast("bigint")
        .alias("mean_tokens_bp"),
        F.col("n_langs").cast("bigint").alias("n_langs"),
    )


# -- Deterministic train/val/test split ----------------------------------

SPLIT_TRAIN_BP = 9000  # 90% train
SPLIT_VAL_BP = 9500    # 5% val, 5% test


def train_val_test_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_bp: int = SPLIT_TRAIN_BP,
    val_bp: int = SPLIT_VAL_BP,
) -> DataFrame:
    """Deterministic train/val/test assignment by Lehmer key threshold:
    split = train if key_bp < train_bp, val if < val_bp, else test.

    Hash-threshold assignment (not exact-count stratification) is the
    production rule: membership depends only on the id, so it is stable
    under corpus growth — a doc never migrates between splits when new
    data arrives, which exact-proportion sampling cannot guarantee.
    Within any id-independent stratum (e.g. source) the key is uniform,
    so realized proportions converge per-stratum without explicit
    stratification.  Pure per-row expression: zero shuffle, engine-
    portable (same Lehmer key as ``mix_sources`` — split assignment is
    dataset lineage), trivially 100 TB.
    """
    if not (0 <= train_bp <= val_bp <= 10000):
        raise ValueError(f"need 0 <= train_bp <= val_bp <= 10000, got {train_bp}, {val_bp}")
    key = sample_key_bp(id_col)
    return df.withColumn("split_key_bp", key).withColumn(
        "split",
        F.when(F.col("split_key_bp") < train_bp, F.lit("train"))
        .when(F.col("split_key_bp") < val_bp, F.lit("val"))
        .otherwise(F.lit("test")),
    )


# -- Group-stable (leakage-aware) split ----------------------------------


def portable_hash_bp(col: F.Column) -> F.Column:
    """Engine-portable pseudo-random key in [0, 10000) for STRING group
    keys: fold the first 8 hex chars of sha256 into a 32-bit integer,
    then mod 10000.  The Lehmer key (``sample_key_bp``) needs an integer
    id; group keys (source, domain, URL prefix) are strings, and neither
    Spark's ``hash``/``xxhash64`` nor DuckDB's ``hash`` match across
    engines — sha256 does, and both print lowercase hex.  Char→value via
    ``ascii`` arithmetic ('0'-'9' → 0-9, 'a'-'f' → 10-15), so the whole
    key is expression-only on both engines."""
    h = F.sha2(col.cast("string"), 256)
    v = F.lit(0).cast("bigint")
    for i in range(1, 9):
        c = F.ascii(F.substring(h, i, 1))
        hexval = F.when(c >= 97, c - 87).otherwise(c - 48).cast("bigint")
        v = v * 16 + hexval
    return F.pmod(v, F.lit(10000))


def grouped_split(
    df: DataFrame,
    group_col: str = "source",
    train_bp: int = SPLIT_TRAIN_BP,
    val_bp: int = SPLIT_VAL_BP,
) -> DataFrame:
    """Leakage-aware train/val/test split: EVERY row of a group lands in
    the same split (the GroupShuffleSplit rule).  Per-document splits
    leak when near-duplicate or same-origin documents straddle the
    boundary — eval contamination by construction; splitting on the
    group key (domain, source, repository, author) closes that channel.

    Same hash-threshold semantics as :func:`train_val_test_split`
    (growth-stable: new groups never move old ones) but keyed on
    ``portable_hash_bp(group_col)``.  Pure per-row expression — the
    group key is IN the row, so there is no join and no shuffle; holds
    at 100 TB trivially."""
    if not (0 <= train_bp <= val_bp <= 10000):
        raise ValueError(f"need 0 <= train_bp <= val_bp <= 10000, got {train_bp}, {val_bp}")
    key = portable_hash_bp(F.col(group_col))
    return df.withColumn("group_key_bp", key).withColumn(
        "split",
        F.when(F.col("group_key_bp") < train_bp, F.lit("train"))
        .when(F.col("group_key_bp") < val_bp, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Pairwise cross-source contamination audit: for every pair of
    sources, the distinct word-``n``-gram overlap — Jaccard and both
    containments in basis points.  The corpus-composition question
    ("how much of source B is already in source A?") you answer BEFORE
    choosing mixing weights or dedup order; high containment means one
    source is a re-crawl/subset of another.

    Plan: one explode+distinct gives the (source, gram) set (shuffle
    keyed on both — full parallelism); per-gram source sets are bounded
    by the SOURCE COUNT (never corpus size), so the pair expansion is a
    per-row array op and the pair aggregate's key space is sources².
    No gram-keyed self-join anywhere — the classic quadratic trap this
    shape falls into.  Per-source totals and the pair matrix are
    sources-bounded, so the final assembly is all broadcast.  Holds at
    100 TB: the only data-scale shuffles are the distinct and the
    by-gram aggregate, both linear in distinct grams.
    """
    grams = df.select(
        F.col(source_col).alias("src"),
        F.explode(ngrams_col(text_col, n)).alias("gram"),
    ).distinct()
    per_source = grams.groupBy("src").agg(
        F.count("*").cast("bigint").alias("n_grams")
    )
    pair_counts = (
        grams.groupBy("gram")
        .agg(F.array_sort(F.collect_set("src")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (x, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("src_a"), F.col("p.b").alias("src_b"))
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    a = per_source.select(
        F.col("src").alias("src_a"), F.col("n_grams").alias("n_grams_a")
    )
    b = per_source.select(
        F.col("src").alias("src_b"), F.col("n_grams").alias("n_grams_b")
    )
    common = F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint")
    denom = F.col("n_grams_a") + F.col("n_grams_b") - common
    return (
        a.crossJoin(b)
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(pair_counts), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "n_grams_a",
            "n_grams_b",
            common.alias("n_common"),
            F.floor(F.lit(10000) * common / denom).cast("bigint").alias("jaccard_bp"),
            F.floor(F.lit(10000) * common / F.col("n_grams_a"))
            .cast("bigint")
            .alias("contain_a_bp"),
            F.floor(F.lit(10000) * common / F.col("n_grams_b"))
            .cast("bigint")
            .alias("contain_b_bp"),
        )
    )


def portable_hash48(col: F.Column) -> F.Column:
    """Full-precision engine-portable pseudo-random key in [0, 2^48):
    fold the first 12 hex chars of sha256 via ascii arithmetic (the
    :func:`portable_hash_bp` recipe without the mod-10000 collapse) —
    used where rank ORDER matters, so 10k buckets would tie constantly."""
    h = F.sha2(col.cast("string"), 256)
    v = F.lit(0).cast("bigint")
    for i in range(1, 13):
        c = F.ascii(F.substring(h, i, 1))
        hexval = F.when(c >= 97, c - 87).otherwise(c - 48).cast("bigint")
        v = v * 16 + hexval
    return v


def balanced_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str,
    salt: int = 16,
) -> DataFrame:
    """Deterministic uniform k-sample per group WITHOUT replacement: the
    k rows with the smallest portable hash of their id — the balanced
    eval-set / per-stratum debugging sample.  Hash-order = uniform over
    any id distribution, rerun-identical on any engine/partitioning (the
    mix_sources sampling-as-lineage argument, extended to exact-k).

    Scale shape — salted two-phase top-k: a window over
    ``(group, hash % salt)`` keeps k candidates per salt lane (each lane
    a separate task — a hot group fans across ``salt`` tasks instead of
    one), then the final per-group window ranks only ``salt × k``
    survivors.  No group's full row set ever passes through a single
    task; raise ``salt`` with group size.  Output adds ``sample_rank``
    (1..k, hash order).
    """
    from pyspark.sql import Window

    hk = portable_hash48(F.col(id_col))
    cand = (
        df.withColumn("_hk", hk)
        .withColumn("_lane", F.pmod(F.col("_hk"), F.lit(salt)))
    )
    w1 = Window.partitionBy(group_col, "_lane").orderBy("_hk", id_col)
    w2 = Window.partitionBy(group_col).orderBy("_hk", id_col)
    return (
        cand.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= k)
        .withColumn("sample_rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("sample_rank") <= k)
        .drop("_hk", "_lane", "_rn1")
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the scale path for benchmark gram sets
# too large to broadcast exactly.
#
# The exact `decontaminate` broadcasts the benchmark's DISTINCT n-gram
# strings; fine for eval-suite-sized benchmarks (MBs), but a
# decontamination pass against, say, the union of all held-out corpora
# (1e9+ grams) cannot ship the strings.  A Bloom filter compresses the
# set to m bits with zero false NEGATIVES (no contaminated doc escapes)
# and a tunable false-positive rate p ≈ (1 - e^{-k|B|/m})^k — extra
# flagged docs only, the safe direction for decontamination.  Sizing:
# m = -|B| ln p / (ln 2)^2, k = (m/|B|) ln 2; at p=1%, 1e9 grams → 1.2 GB
# bitmap, still one broadcast instead of tens of GB of strings.
#
# Split JVM/Python so each side does what it is fast at: the k hash
# positions are computed JVM-side (xxhash64 under whole-stage codegen —
# Python never sees a gram string), and the Python side is a single
# Arrow-batched pandas UDF doing vectorized numpy bit tests against the
# broadcast bitmap.
# ---------------------------------------------------------------------------

BLOOM_M_BITS_DEFAULT = 1 << 20
BLOOM_K_DEFAULT = 4


def _bloom_positions(gram: F.Column, m_bits: int, k: int) -> F.Column:
    """k salted-xxhash64 bit positions for a gram, as an array<long>.
    Seed-salting via a literal first argument (xxhash64 is a multi-arg
    hash, so `xxhash64(i, gram)` gives k independent hash families)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(i), gram), F.lit(m_bits))
            for i in range(k)
        ]
    )


def build_bloom_bitmap(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 8,
    m_bits: int = BLOOM_M_BITS_DEFAULT,
    k: int = BLOOM_K_DEFAULT,
):
    """Distributed build of the benchmark gram Bloom bitmap: explode
    distinct grams, compute k positions, OR bits per 64-bit word in ONE
    partial-aggregated shuffle (bit_or combines map-side), then collect
    the ≤ m_bits/64 (word, bits) rows — bounded by the CHOSEN m, never
    by benchmark size — into a numpy uint64 array.

    Returns (numpy array of length m_bits/64, m_bits, k).
    """
    import numpy as np

    grams = benchmark.select(
        F.explode(ngrams_col(text_col, n)).alias("gram")
    ).distinct()
    words = (
        grams.select(
            F.explode(_bloom_positions(F.col("gram"), m_bits, k)).alias("pos")
        )
        .select(
            (F.col("pos") / F.lit(64)).cast("long").alias("word"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    bitmap = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in words:
        bitmap[r["word"]] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return bitmap, m_bits, k


def _make_bloom_probe(bc):
    """Arrow-batched bitmap membership probe over a broadcast bloom
    bitmap: input is the per-gram array of k bit positions, output is
    "all k bits set".  Shared by the estimate-only and the verified
    decontamination paths so the word/bit indexing lives once."""
    import numpy as np

    @F.pandas_udf("boolean")
    def _probe(pos: pd.Series) -> pd.Series:
        bm = bc.value
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        arr = np.array(pos.tolist(), dtype=np.int64)
        words = arr >> 6
        bits = (arr & 63).astype(np.uint64)
        present = (bm[words] >> bits) & np.uint64(1)
        return pd.Series(present.all(axis=1))

    return _probe


def decontaminate_bloom(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_shared_bp: int = 1000,
    m_bits: int = BLOOM_M_BITS_DEFAULT,
    k: int = BLOOM_K_DEFAULT,
) -> DataFrame:
    """Bloom-filter twin of :func:`decontaminate`: same per-doc output
    shape (gram counts, collision bp, keep flag) with ``shared_grams``
    ESTIMATED (one-sided: >= the exact count, never below — Bloom
    filters have no false negatives, so ``keep_decontaminated = False``
    on the exact path implies ``False`` here too).

    The corpus side never shuffles: distinct-gram explode, JVM-side
    position arrays, one Arrow-batched bitmap probe, then the per-doc
    aggregate — the only exchange, identical to the exact path.
    """
    bitmap, m_bits, k = build_bloom_bitmap(
        benchmark, text_col=text_col, n=n, m_bits=m_bits, k=k
    )
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(bitmap)
    _probe = _make_bloom_probe(bc)

    doc_grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(ngrams_col(text_col, n))).alias("gram"),
    ).select(
        id_col,
        _probe(_bloom_positions(F.col("gram"), m_bits, k)).alias("_hit"),
    )
    agg = doc_grams.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum(F.col("_hit").cast("long")).alias("shared_grams_est"),
    )
    shared_bp = F.floor(
        F.lit(10000) * F.col("shared_grams_est") / F.col("n_grams")
    ).cast("bigint")
    return agg.select(
        F.col(id_col),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("shared_grams_est").cast("bigint").alias("shared_grams_est"),
        shared_bp.alias("shared_bp_est"),
        (shared_bp <= F.lit(max_shared_bp)).alias("keep_decontaminated"),
    )


def publish_clean_corpus(
    docs: DataFrame,
    verdicts: DataFrame,
    out_path: str,
    lineage_path: str | None = None,
    id_col: str = "doc_id",
) -> dict:
    """Corpus release step: join the final keep verdicts back to the
    documents, enforce the write contract, stamp lineage, and publish
    the SURVIVORS as a source-partitioned parquet table.  The point
    where the LLM-data tier meets the warehouse/lineage machinery:

    1. inner-join ``verdicts`` (any frame with ``id_col`` +
       ``keep_final`` — queries/curation.q_clean_corpus's shape) to the
       docs, keep ``keep_final``;
    2. ``warehouse.assert_append_compatible`` — appending a release
       with a broken schema fails BEFORE any file lands;
    3. optional lineage: one 'publish' row per surviving doc
       (operators/lineage.track_processing_step);
    4. write partitioned by ``source`` (the natural prune key for
       downstream per-source mixing).

    Returns {rows_in, rows_published, path}.  Everything is one
    co-partitioned join + one write; re-publishing the same release
    appends — pair with warehouse.merge_upsert for idempotent re-runs.
    """
    from real_time_data_pipeline_spark.warehouse import (
        assert_append_compatible,
    )

    keep = verdicts.filter(F.col("keep_final")).select(id_col)
    out = docs.join(keep, id_col, "left_semi")
    assert_append_compatible(out, out_path)
    if lineage_path:
        from real_time_data_pipeline_spark.operators.lineage import (
            track_processing_step,
        )

        out = track_processing_step(
            out, lineage_path, stage="publish",
            process_name="publish_clean_corpus", id_col=id_col,
        )
    out.write.partitionBy("source").mode("append").parquet(out_path)
    return {
        "rows_in": docs.count(),
        "rows_published": out.count(),
        "path": out_path,
    }


def step_provenance(
    df: DataFrame,
    n_shards: int,
    batch_size: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-batch provenance: map every document of the shuffled
    corpus to the (global_index, step, slot) a sequential loader gives
    it when it consumes :func:`shuffle_shards` output in (shard asc,
    pos_in_shard asc) order with ``batch_size`` rows per optimizer
    step.  This answers "which documents were in training step N" —
    the audit a loss-spike investigation or a contamination incident
    response starts from — without the training job having to log
    per-step document ids.

    global_index = shard_offset + pos_in_shard, where shard_offset is
    the exclusive cumulative sum of shard sizes — an ``n_shards``-row
    aggregate windowed driver-side and broadcast back, so the corpus
    itself pays only shuffle_shards' one window exchange and a
    broadcast-joined projection.  step = global_index div batch_size;
    slot = global_index mod batch_size.  All integer, deterministic,
    engine-portable.
    """
    sh = shuffle_shards(df, n_shards, id_col)
    sizes = sh.groupBy("shard").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "shard", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    gi = (F.col("_off") + F.col("pos_in_shard")).cast("bigint")
    return (
        sh.join(F.broadcast(offsets), "shard")
        .select(
            F.col(id_col),
            "shard",
            "pos_in_shard",
            gi.alias("global_index"),
            F.floor(gi / F.lit(batch_size)).cast("bigint").alias("step"),
            F.pmod(gi, F.lit(batch_size)).cast("bigint").alias("slot"),
        )
    )


def curriculum_phases(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Curriculum construction: order the corpus cleanest-first
    (quality_score desc, id tiebreak) and cut it into fixed-token-budget
    phases — phase k spans tokens [k*budget, (k+1)*budget), and a doc
    belongs to the phase its FIRST token falls in (the same straddle
    rule as :func:`pack_sequences`).  The schedule a curriculum-ordered
    training run reads shard-by-shard.

    The global quality order needs a corpus-wide prefix sum of token
    counts; that is aggregates.scalable_running_sum's two-phase
    range-partitioned scan — NO global single-partition sort anywhere,
    so the plan holds at 100 TB.  All integer arithmetic.
    """
    from real_time_data_pipeline_spark.operators.aggregates import (
        scalable_running_sum,
    )
    from real_time_data_pipeline_spark.operators.text import quality_score

    q = quality_score(df, id_col, text_col)
    toks = df.select(
        F.col(id_col), F.size(tokens_col(text_col)).cast("bigint").alias("n_tokens")
    )
    base = toks.join(q, id_col).withColumn(
        "_negq", -F.col("quality_score")
    )
    run = scalable_running_sum(
        base, [], ["_negq", id_col], "n_tokens", out_col="cum_tokens"
    )
    return run.select(
        F.col(id_col),
        "quality_score",
        "n_tokens",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(budget_tokens))
        .cast("bigint")
        .alias("phase"),
    )


def scrub_dup_spans(
    df: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (the transform, not
    just the diagnostic): every corpus-wide duplicated n-token span
    keeps only its FIRST occurrence (global (doc_id, slot) order) and
    every token covered by a later occurrence is deleted from the
    emitted text.  This is the Lee-et-al-2022-shaped "deduplicate the
    training text itself" pass — dup_span_stats measures the overlap,
    this produces the cleaned corpus.  (Reference pipelines use a
    suffix array over the whole corpus; the n-gram-keyed form is the
    shared-nothing Spark equivalent — exact for spans >= n tokens at
    the cost of n-grams instead of maximal substrings.)

    Plan: one explode to (id, slot, gram) occurrences; global first
    occurrence per gram via a hash-aggregate ``min(struct(id, slot))``
    (map-side combined — NO window over gram partitions, so a
    degenerate gram that occurs millions of times costs a combine, not
    a single-task sort); later occurrences join back (gram-keyed),
    explode to covered token positions, anti-join against the token
    list, and per-doc reassembly sorts each doc's kept (pos, tok)
    structs — bounded by document length.  All shuffles carry
    occurrence/token grain, never quadratic pairs.

    Returns (id, n_tokens, n_kept, n_removed, scrub_text).
    """
    base = df.select(
        F.col(id_col).alias("id"), tokens_col(text_col).alias("toks")
    )
    occ = (
        base.select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))
                    ),
                    lambda s: F.struct(
                        s.alias("slot"),
                        F.concat_ws(" ", F.slice("toks", s + 1, n)).alias(
                            "gram"
                        ),
                    ),
                )
            ).alias("o"),
        )
        .select("id", F.col("o.slot").alias("slot"), F.col("o.gram").alias("gram"))
    )
    first = occ.groupBy("gram").agg(
        F.min(F.struct(F.col("id"), F.col("slot"))).alias("f")
    )
    dup = (
        occ.join(first, "gram")
        .filter(F.struct(F.col("id"), F.col("slot")) != F.col("f"))
        .select("id", "slot")
    )
    covered = dup.select(
        "id",
        F.explode(
            F.sequence(F.col("slot"), F.col("slot") + F.lit(n - 1))
        ).alias("pos"),
    ).distinct()
    tokpos = base.select("id", F.posexplode("toks").alias("pos", "tok"))
    kept = tokpos.join(covered, ["id", "pos"], "left_anti")
    rebuilt = (
        kept.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("ks"))
        .select(
            "id",
            F.concat_ws(
                " ", F.transform("ks", lambda s: s["tok"])
            ).alias("scrub_text"),
            F.size("ks").cast("bigint").alias("n_kept"),
        )
    )
    stats = base.select("id", F.size("toks").cast("bigint").alias("n_tokens"))
    return stats.join(rebuilt, "id", "left").select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce("scrub_text", F.lit("")).alias("scrub_text"),
    )


def scrub_contaminated_spans(
    df: DataFrame,
    bench: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level decontamination TRANSFORM — the removal counterpart of
    :func:`decontaminate` (which only flags): every n-token span of the
    corpus that also appears in the benchmark set is deleted from the
    emitted text, so a partially-contaminated document keeps its clean
    remainder instead of being dropped whole (the higher-yield policy
    when contamination is a few quoted lines inside a long doc).

    Unlike :func:`scrub_dup_spans` there is no first-occurrence
    exemption — EVERY occurrence of a benchmark gram is removed.  The
    benchmark's distinct gram set is the only broadcast-scale artifact;
    the corpus pays one occurrence explode, one gram-keyed join, one
    anti-join, one per-doc reassembly.

    Returns (id, n_tokens, n_kept, n_removed, scrub_text).
    """
    base = df.select(
        F.col(id_col).alias("id"), tokens_col(text_col).alias("toks")
    )
    occ = base.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))
                ),
                lambda s: F.struct(
                    s.alias("slot"),
                    F.concat_ws(" ", F.slice("toks", s + 1, n)).alias("gram"),
                ),
            )
        ).alias("o"),
    ).select("id", F.col("o.slot").alias("slot"), F.col("o.gram").alias("gram"))
    bgrams = (
        bench.select(
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(0),
                            F.greatest(
                                F.size(tokens_col(text_col)) - n, F.lit(0)
                            ),
                        ),
                        lambda s: F.concat_ws(
                            " ", F.slice(tokens_col(text_col), s + 1, n)
                        ),
                    )
                )
            ).alias("gram")
        )
        .distinct()
    )
    hit = occ.join(bgrams, "gram").select("id", "slot")
    covered = hit.select(
        "id",
        F.explode(
            F.sequence(F.col("slot"), F.col("slot") + F.lit(n - 1))
        ).alias("pos"),
    ).distinct()
    tokpos = base.select("id", F.posexplode("toks").alias("pos", "tok"))
    kept = tokpos.join(covered, ["id", "pos"], "left_anti")
    rebuilt = (
        kept.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("ks"))
        .select(
            "id",
            F.concat_ws(" ", F.transform("ks", lambda s: s["tok"])).alias(
                "scrub_text"
            ),
            F.size("ks").cast("bigint").alias("n_kept"),
        )
    )
    stats = base.select("id", F.size("toks").cast("bigint").alias("n_tokens"))
    return stats.join(rebuilt, "id", "left").select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce("scrub_text", F.lit("")).alias("scrub_text"),
    )


# ------------------------------------------------------------------ PII

# Detection patterns shared by pii_stats/pii_scrub and the DuckDB
# oracles.  Kept to the regex subset where Java regex (Spark) and RE2
# (DuckDB) agree exactly — character classes, bounded repetition, \b,
# \d — so the same pattern string is the ground truth on both engines.
# Replacement ORDER is load-bearing (ssn before phone before ipv4 keeps
# digit-dash/digit-dot shapes from partially consuming each other), so
# both sides iterate this tuple in order.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
)


def _pii_progressive(text_col: str):
    """Shared construction for pii_stats/pii_scrub: walk PII_PATTERNS in
    order, COUNTING each category on the text as it stands AFTER earlier
    categories were replaced, then replacing it.  Progressive counting
    makes every ``n_<category>`` equal the number of ``[CATEGORY]``
    tokens actually emitted — counting every category on the ORIGINAL
    text would double-count spans an earlier replacement consumed (e.g.
    ``555-123-4567@example.com`` is one [EMAIL], not an email AND a
    phone).  Replacement tokens contain no digits/@ so they can never
    feed a later pattern.  Returns (scrubbed, counts, total)."""
    cur = F.col(text_col)
    counts = []
    total = None
    for name, pat in PII_PATTERNS:
        c = F.regexp_count(cur, F.lit(pat)).cast("bigint")
        counts.append(c.alias(f"n_{name}"))
        total = c if total is None else total + c
        cur = F.regexp_replace(cur, pat, f"[{name.upper()}]")
    return cur, counts, total.cast("bigint").alias("n_pii_total")


def pii_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document PII detection counts — the audit half of the scrub
    pass a training-data pipeline runs before release: one row per doc
    with the per-category count of spans the scrub WOULD redact (see
    :func:`_pii_progressive` for the overlap semantics) plus the total.

    Pure codegen'd ``regexp_count``/``regexp_replace`` in ONE projection
    over the corpus scan — no shuffle, no UDF; at 100 TB this is a
    map-only pass whose cost is the scan itself."""
    _, counts, total = _pii_progressive(text_col)
    return df.select(F.col(id_col), *counts, total)


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redaction half: every PII match replaced by its ``[CATEGORY]``
    token, applied in the fixed ``PII_PATTERNS`` order, plus the counts
    of what was removed (each count == the [CATEGORY] tokens emitted).
    Counts and redaction ride ONE map-only projection — a join of the
    two halves would shuffle the corpus for nothing."""
    scrubbed, counts, total = _pii_progressive(text_col)
    return df.select(
        F.col(id_col), scrubbed.alias("scrubbed_text"), *counts, total
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sample of ``k`` rows, inclusion pressure
    proportional to ``weight_col`` — the "sample long documents more"
    primitive for corpus audits and eval-set drawing, reproducible
    across runs and engines.

    Exponential-clock scheme (the integer-exact cousin of
    Efraimidis–Spirakis A-Res): each row draws a uniform 48-bit integer
    ``H`` from sha256(id) and competes with key ``H / weight``; the k
    smallest keys win.  P(key < t) = t·w / 2^48, so a row's hazard rate
    is proportional to its weight, and doubling a weight doubles its
    selection pressure.  The division is one IEEE double op on two
    exactly-representable integers (H < 2^48 < 2^53), hence correctly
    rounded and bit-identical on every engine — the whole sample is a
    pure function of the id set, no RNG state.

    Plan: per-row expression + global top-k = TakeOrderedAndProject
    (each task keeps k rows, driver merges k·partitions) — no full sort,
    no shuffle of the corpus.  Ties (astronomically rare: equal H/w
    doubles) break on id for full determinism.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    key = (
        portable_hash48(F.col(id_col))
        .cast("double")
        / F.col(weight_col).cast("double")
    ).alias("sample_key")
    return (
        df.filter(F.col(weight_col) > 0)
        .select(F.col(id_col), F.col(weight_col).cast("bigint").alias("weight"), key)
        .orderBy("sample_key", id_col)
        .limit(k)
    )


def decontaminate_bloom_verified(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_shared_bp: int = 1000,
    m_bits: int = BLOOM_M_BITS_DEFAULT,
    k: int = BLOOM_K_DEFAULT,
) -> DataFrame:
    """Bloom prefilter + exact verification — the production decontam
    shape at 100 TB: the broadcast bitmap answers "definitely clean" for
    the overwhelming majority of grams with zero shuffle, and only the
    bloom-HIT grams (true collisions + the ~bp-level false-positive
    residue) enter the exact join against the benchmark gram set.
    Output is IDENTICAL to :func:`decontaminate` (no false negatives →
    every true collision reaches the verify join; the verify join then
    removes every false positive), which is why this entry shares the
    exact oracle — the hash pins both the bitmap's completeness and the
    verifier's precision on real data.

    Cost: the exact path joins |all distinct doc-grams| against the
    benchmark set; here the join side shrinks to |hits| ≈ collisions +
    fp_rate·|grams| — at the default 1 % fp rate, a ~100× smaller
    shuffle for a clean corpus, the asymmetry that matters when the
    corpus is 100 TB and the benchmark is megabytes.
    """
    bitmap, m_bits, k = build_bloom_bitmap(
        benchmark, text_col=text_col, n=n, m_bits=m_bits, k=k
    )
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(bitmap)
    _probe = _make_bloom_probe(bc)

    from real_time_data_pipeline_spark.operators import cache

    # Persisted: the totals aggregate and the hit branch both consume it
    # (one tokenize+probe pass).
    doc_grams = cache.track(
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(ngrams_col(text_col, n))).alias("gram"),
        ).withColumn(
            "_bloom_hit", _probe(_bloom_positions(F.col("gram"), m_bits, k))
        )
    )
    totals = doc_grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    # Only bloom HITS enter the verify join — the filter runs before the
    # join, so the shuffled/probed side is collisions + the fp residue,
    # not the whole corpus gram list (a plain left join with the hit
    # test in its condition could not be pushed below the join).
    bench_grams = benchmark.select(
        F.explode(ngrams_col(text_col, n)).alias("gram")
    ).distinct()
    shared = (
        doc_grams.filter(F.col("_bloom_hit"))
        .join(bench_grams, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("shared_grams"))
    )
    agg = totals.join(shared, id_col, "left").select(
        F.col(id_col),
        F.col("n_grams"),
        F.coalesce(F.col("shared_grams"), F.lit(0)).alias("shared_grams"),
    )
    shared_bp = F.floor(
        F.lit(10000) * F.col("shared_grams") / F.col("n_grams")
    ).cast("bigint")
    return agg.select(
        F.col(id_col),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("shared_grams").cast("bigint").alias("shared_grams"),
        shared_bp.alias("shared_bp"),
        (shared_bp <= F.lit(max_shared_bp)).alias("keep_decontaminated"),
    )


def gopher_quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_c: int = 300,
    max_mean_word_len_c: int = 1000,
    max_symbol_ratio_bp: int = 1000,
    min_alpha_frac_bp: int = 8000,
    min_stop_hits: int = 2,
    max_top_token_bp: int = 2000,
) -> DataFrame:
    """Gopher-style rule-set quality filter (Rae et al. 2021 §A1.1 —
    the published heuristic battery MassiveText shipped with, and the
    rule form C4/RefinedWeb/Dolma variants reuse), next to the learned
    scorers (:func:`text.quality_score` / quality_logit_score): one
    boolean per rule plus the conjunctive ``keep_gopher``, every
    statistic in exact integer cents/bp so the DuckDB oracle recomputes
    the whole table.

      r_word_count      min_words <= n_words <= max_words
      r_mean_word_len   mean word length in [3.00, 10.00] chars (cents)
      r_symbol_ratio    tokens containing '#'/'...' <= 10% (bp)
      r_alpha_words     words containing a letter >= 80% (bp)
      r_stopwords       >= 2 hits from the canonical stopword set
      r_top_token       most-frequent token <= ``max_top_token_bp`` of
                        the doc (the paper's repetition family, unigram
                        grain; the n-gram grains live in
                        :func:`repetition_stats`)

    Scale shape: ONE tokenize pass -> per-(doc, token) counts with
    map-side combine -> per-doc aggregate; the top-token statistic
    folds into the same aggregate as max(count) — no window, no second
    scan.  Zero-token docs (NULL text / NULL token array) keep an
    explode_outer row and come out as n_words=0, every ratio 0, and
    keep_gopher=false (r_word_count fails) — before round 10 they
    produced NO output row at all, so an inner join downstream
    silently dropped them while a left join passed them UNFILTERED
    (ADVICE r9).  Line-grain Gopher rules (bullet/ellipsis line
    fractions) live in :func:`gopher_line_flags`."""
    from real_time_data_pipeline_spark.operators.text import EN_STOPWORDS

    tok = (
        df.select(
            F.col(id_col), F.explode_outer(tokens_col(text_col)).alias("tok")
        )
        .groupBy(id_col, "tok")
        .agg(F.count("*").cast("bigint").alias("k"))
    )
    # NULL-token (zero-token doc) rows contribute 0 everywhere; the
    # when(...) conditions on a NULL tok all fall through to 0 already,
    # but n_words/top_k/chars need the explicit guard.
    kk = F.when(F.col("tok").isNotNull(), F.col("k")).otherwise(F.lit(0))
    per_doc = tok.groupBy(id_col).agg(
        F.sum(kk).cast("bigint").alias("n_words"),
        F.max(kk).cast("bigint").alias("top_k"),
        F.sum(
            F.when(
                F.col("tok").isNotNull(), F.length("tok") * F.col("k")
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("chars"),
        F.sum(
            F.when(
                F.col("tok").contains("#")
                | F.col("tok").contains("..."),
                F.col("k"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("sym_words"),
        F.sum(
            F.when(F.col("tok").rlike("[a-z]"), F.col("k")).otherwise(
                F.lit(0)
            )
        ).cast("bigint").alias("alpha_words"),
        F.sum(
            F.when(F.col("tok").isin(EN_STOPWORDS), F.col("k")).otherwise(
                F.lit(0)
            )
        ).cast("bigint").alias("stop_hits"),
    )
    # n_words=0 guard: under ANSI `div` the ungated expression raises
    # DIVIDE_BY_ZERO; the 0 ratios make every floor-bounded rule fail.
    stats = per_doc.select(
        id_col,
        "n_words",
        F.expr(
            "CASE WHEN n_words = 0 THEN 0"
            " ELSE 100 * chars div n_words END"
        ).alias("mean_word_len_c"),
        F.expr(
            "CASE WHEN n_words = 0 THEN 0"
            " ELSE 10000 * sym_words div n_words END"
        ).alias("symbol_ratio_bp"),
        F.expr(
            "CASE WHEN n_words = 0 THEN 0"
            " ELSE 10000 * alpha_words div n_words END"
        ).alias("alpha_frac_bp"),
        F.col("stop_hits"),
        F.expr(
            "CASE WHEN n_words = 0 THEN 0"
            " ELSE 10000 * top_k div n_words END"
        ).alias("top_token_bp"),
    )
    r1 = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    r2 = (F.col("mean_word_len_c") >= min_mean_word_len_c) & (
        F.col("mean_word_len_c") <= max_mean_word_len_c
    )
    r3 = F.col("symbol_ratio_bp") <= max_symbol_ratio_bp
    r4 = F.col("alpha_frac_bp") >= min_alpha_frac_bp
    r5 = F.col("stop_hits") >= min_stop_hits
    r6 = F.col("top_token_bp") <= max_top_token_bp
    return stats.select(
        id_col,
        "n_words",
        "mean_word_len_c",
        "symbol_ratio_bp",
        "alpha_frac_bp",
        "stop_hits",
        "top_token_bp",
        r1.alias("r_word_count"),
        r2.alias("r_mean_word_len"),
        r3.alias("r_symbol_ratio"),
        r4.alias("r_alpha_words"),
        r5.alias("r_stopwords"),
        r6.alias("r_top_token"),
        (r1 & r2 & r3 & r4 & r5 & r6).alias("keep_gopher"),
    )


def gopher_line_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    lines_col: str = "lines",
    max_bullet_bp: int = 9000,
    max_ellipsis_bp: int = 3000,
) -> DataFrame:
    """Line-grain Gopher rules (Rae et al. 2021 §A1.1 — the two rules
    the token-grain battery in :func:`gopher_quality_flags` can't
    express): drop docs where >90% of lines start with a bullet or
    >30% end with an ellipsis.  ``lines_col`` is an ``array<string>``
    column of the document's lines; fractions are exact integer basis
    points so the DuckDB oracle recomputes the whole table.

      r_bullet_lines    bullet-start lines <= ``max_bullet_bp`` of doc
      r_ellipsis_lines  ellipsis-end lines <= ``max_ellipsis_bp``
      keep_lines        both

    Bullet starts: '- ', '* ', or the Unicode bullet '•'; ellipsis
    ends: '...' or '…' (the paper's markers).  Zero-line docs keep an
    explode_outer row — n_lines=0, both ratios 0, keep_lines=false
    (nothing judged ⇒ nothing kept; consistent with
    gopher_quality_flags' zero-token rule).

    Scale shape: one explode over the line arrays -> per-doc aggregate
    with map-side combine; no window, no second scan."""
    ln = F.col("_line")
    is_bullet = (
        ln.startswith("- ") | ln.startswith("* ") | ln.startswith("•")
    )
    is_ellipsis = ln.endswith("...") | ln.endswith("…")
    per_doc = (
        df.select(
            F.col(id_col), F.explode_outer(F.col(lines_col)).alias("_line")
        )
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(ln.isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_lines"),
            F.sum(
                F.when(is_bullet, 1).otherwise(0)
            ).cast("bigint").alias("bullet_lines"),
            F.sum(
                F.when(is_ellipsis, 1).otherwise(0)
            ).cast("bigint").alias("ellipsis_lines"),
        )
    )
    stats = per_doc.select(
        id_col,
        "n_lines",
        "bullet_lines",
        "ellipsis_lines",
        F.expr(
            "CASE WHEN n_lines = 0 THEN 0"
            " ELSE 10000 * bullet_lines div n_lines END"
        ).alias("bullet_bp"),
        F.expr(
            "CASE WHEN n_lines = 0 THEN 0"
            " ELSE 10000 * ellipsis_lines div n_lines END"
        ).alias("ellipsis_bp"),
    )
    r1 = F.col("bullet_bp") <= max_bullet_bp
    r2 = F.col("ellipsis_bp") <= max_ellipsis_bp
    has = F.col("n_lines") > 0
    return stats.select(
        id_col,
        "n_lines",
        "bullet_lines",
        "ellipsis_lines",
        "bullet_bp",
        "ellipsis_bp",
        (has & r1).alias("r_bullet_lines"),
        (has & r2).alias("r_ellipsis_lines"),
        (has & r1 & r2).alias("keep_lines"),
    )


def c4_quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    lines_col: str = "lines",
    min_line_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 heuristic cleaning battery (Raffel et al. 2020 §2.2 — the
    published rule set the C4 corpus shipped with), the second
    canonical filter battery next to the Gopher rules
    (:func:`gopher_quality_flags` / :func:`gopher_line_flags`):

      line grain (a line is KEPT iff all three hold):
        terminal punctuation  line ends with '.', '!', '?' or '"'
        >= ``min_line_words`` whitespace words
        no 'javascript'       (the paper drops the line, not the doc)
      doc grain:
        r_min_lines   kept lines >= ``min_kept_lines`` (the paper's
                      "fewer than 3 sentences" page drop, kept-line
                      approximation)
        r_lorem       no line contains 'lorem ipsum'
        r_brace       no line contains '{' (code pages)
        r_policy      no line contains 'privacy policy' / 'terms of
                      use' / 'cookie policy' / 'uses cookies'
        keep_c4       all four

    Everything is an exact integer count or a substring test, so the
    DuckDB oracle recomputes the whole table.  Zero-line docs keep an
    explode_outer row and come out n_lines=0 / keep_c4=false
    (r_min_lines fails) — the gopher_quality_flags zero-token rule.

    Scale shape: one explode over the line arrays -> per-line
    expressions -> per-doc hash aggregate with map-side combine; no
    window, no second scan, no UDF.  The paper's remaining step
    (three-sentence-span dedup) is span-grain dedup, which lives in
    :func:`operators.curation.dup_substr_stats` / dedup_span_scrub."""
    ln = F.col("_line")
    lnl = F.lower(ln)
    words = F.size(F.filter(F.split(ln, " "), lambda w: w != F.lit("")))
    terminal = (
        ln.endswith(".") | ln.endswith("!") | ln.endswith("?")
        | ln.endswith('"')
    )
    keep_line = (
        terminal
        & (words >= min_line_words)
        & ~lnl.contains("javascript")
    )
    policy = (
        lnl.contains("privacy policy")
        | lnl.contains("terms of use")
        | lnl.contains("cookie policy")
        | lnl.contains("uses cookies")
    )
    per_doc = (
        df.select(
            F.col(id_col), F.explode_outer(F.col(lines_col)).alias("_line")
        )
        .groupBy(id_col)
        .agg(
            F.sum(F.when(ln.isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_lines"),
            F.sum(F.when(keep_line, 1).otherwise(0))
            .cast("bigint")
            .alias("kept_lines"),
            F.max(
                F.when(lnl.contains("lorem ipsum"), True).otherwise(False)
            ).alias("_lorem"),
            F.max(F.when(ln.contains("{"), True).otherwise(False)).alias(
                "_brace"
            ),
            F.max(F.when(policy, True).otherwise(False)).alias("_policy"),
        )
    )
    stats = per_doc.select(
        id_col,
        "n_lines",
        "kept_lines",
        F.expr(
            "CASE WHEN n_lines = 0 THEN 0"
            " ELSE 10000 * kept_lines div n_lines END"
        ).alias("kept_bp"),
        (F.col("kept_lines") >= min_kept_lines).alias("r_min_lines"),
        (~F.col("_lorem")).alias("r_lorem"),
        (~F.col("_brace")).alias("r_brace"),
        (~F.col("_policy")).alias("r_policy"),
    )
    return stats.select(
        id_col,
        "n_lines",
        "kept_lines",
        "kept_bp",
        "r_min_lines",
        "r_lorem",
        "r_brace",
        "r_policy",
        (
            F.col("r_min_lines")
            & F.col("r_lorem")
            & F.col("r_brace")
            & F.col("r_policy")
        ).alias("keep_c4"),
    )


def unimax_allocation(
    df: DataFrame,
    budget_docs: int,
    max_epochs: int = 4,
    group_col: str = "lang",
    count_col: str | None = None,
) -> DataFrame:
    """UniMax language-balanced sampling budget (Chung et al. 2023):
    split a total document budget across languages as UNIFORMLY as
    possible subject to a per-language epoch cap — the corpus-mixing
    answer to low-resource languages that proportional sampling
    starves and temperature sampling over-epochs.  Exact integer
    water-filling:

      capacity_l = max_epochs * n_l; sort languages by capacity asc;
      l is CAPPED iff budget - prefix_cap(l) >= capacity_l * n_after(l)
      (monotone in the sort, so the capped set is a prefix); every
      uncapped language gets level t = (B - P*) div m plus one of the
      r = (B - P*) % m remainder docs (smallest language name first).

    Output rows sum EXACTLY to min(budget, total capacity); an
    uncapped allocation never exceeds its capacity (t+1 <= the
    smallest uncapped capacity — proof: infeasibility at the first
    uncapped position gives B - P* < c·m, so t < c).  All arithmetic
    BIGINT; ties in the capacity sort break by language ascending —
    engine-reproducible, so the DuckDB oracle recomputes the whole
    fill.  Output: (lang, n_docs, capacity, alloc_docs, epochs_bp).

    Scale shape: one corpus count aggregate; the water-fill runs on
    the |languages| frame (tens of rows at any corpus size) — the
    windows below order THAT frame, never corpus rows.

    ``count_col``: pass the name of a count column to feed the fill a
    PRE-AGGREGATED (group, count) frame — the incremental-refresh
    entry point (ADVICE r9: re-exploding counts into one synthetic row
    per document is corpus-size work, and Spark's sequence() caps its
    length, so large languages would throw).  Duplicate group rows are
    summed, so an (old counts ∪ increment counts) union feeds in
    directly."""
    if count_col is not None:
        per = df.groupBy(F.col(group_col).alias("grp")).agg(
            F.sum(count_col).cast("bigint").alias("n_docs")
        )
    else:
        per = df.groupBy(F.col(group_col).alias("grp")).agg(
            F.count("*").cast("bigint").alias("n_docs")
        )
    per = per.withColumn(
        "capacity", (F.col("n_docs") * max_epochs).cast("bigint")
    )
    w = Window.orderBy(F.asc("capacity"), F.asc("grp"))
    wall = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = per.select(
        "*",
        F.row_number().over(w).alias("i"),
        F.sum("capacity").over(wall).cast("bigint").alias("pfx"),
        F.count("*").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n_grps"),
    )
    B = int(budget_docs)
    # capped iff budget minus all capacities up to AND INCLUDING this
    # one still covers capacity_l for every language after it
    ranked = ranked.withColumn(
        "capped",
        F.lit(B) - F.col("pfx")
        >= F.col("capacity") * (F.col("n_grps") - F.col("i")),
    )
    star = ranked.agg(
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("capacity"))), F.lit(0)
        ).cast("bigint").alias("p_star"),
        F.coalesce(
            F.sum(F.when(~F.col("capped"), 1).otherwise(0)), F.lit(0)
        ).cast("bigint").alias("m"),
    ).select(
        "p_star",
        "m",
        F.expr(
            f"CAST(CASE WHEN m > 0 THEN ({B} - p_star) div m"
            " ELSE 0 END AS BIGINT)"
        ).alias("t"),
        F.expr(
            f"CAST(CASE WHEN m > 0 THEN ({B} - p_star) % m"
            " ELSE 0 END AS BIGINT)"
        ).alias("r"),
    )
    wu = Window.partitionBy("capped").orderBy(F.asc("grp"))
    return (
        ranked.crossJoin(F.broadcast(star))
        .withColumn("u_rank", F.row_number().over(wu))
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "capacity",
            F.when(F.col("capped"), F.col("capacity"))
            .otherwise(
                F.col("t")
                + F.when(
                    (~F.col("capped")) & (F.col("u_rank") <= F.col("r")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc_docs"),
        )
        .withColumn(
            "epochs_bp",
            F.expr("10000 * alloc_docs div n_docs").cast("bigint"),
        )
    )
