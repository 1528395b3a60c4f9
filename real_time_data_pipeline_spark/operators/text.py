"""Text analysis for training-data pipelines (north-star tier, SURVEY.md
§2.9 N4): language ID, quality scoring, token counting, fingerprinting,
term frequency.

All operators are expression-only (split/aggregate/regexp/sha2) — no
Python UDFs — so they run inside whole-stage codegen and scale linearly
with the scan.  Each has a DuckDB-expressible twin for the oracle
(queries/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import cache
from real_time_data_pipeline_spark.operators.arrowvec import local_frame
from real_time_data_pipeline_spark.operators.dedup import tokens_col

# Tiny per-language stopword profiles for the n-gram/stopword heuristic
# language identifier.  Real corpora would use larger profiles (or a model
# via pandas_udf); the mechanism — per-language token-overlap scoring,
# argmax with deterministic tie-break — is the same.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "por"],
    "de": ["der", "die", "das", "und", "zu", "in", "den", "von", "ist", "mit"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "une", "est"],
}

EN_STOPWORDS = STOPWORDS["en"]


def _token_agg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokens_frame: DataFrame | None = None,
) -> DataFrame:
    """Shared explode + hash-aggregate over tokens.

    Expression-level forms (size/filter/aggregate over the token array)
    would inline the tokenizer into every consumer — 4 interpreted
    re-tokenizations per row (see operators/dedup.minhash_signatures for
    the pathology).  One explode runs it once; the aggregate is codegen'd
    with map-side combine.  tokens_col never yields an empty array (empty
    text → [""]), so no rows drop.  ``tokens_frame`` (id_col, n_chars,
    toks) substitutes a shared pre-tokenized frame — same token arrays,
    same n_chars expression, bit-identical output."""
    if tokens_frame is not None:
        ex = tokens_frame.select(
            F.col(id_col),
            F.col("n_chars"),
            F.explode(F.col("toks")).alias("tok"),
        )
    else:
        ex = df.select(
            F.col(id_col),
            F.length(F.col(text_col)).alias("n_chars"),
            F.explode(tokens_col(text_col)).alias("tok"),
        )
    return ex.groupBy(id_col, "n_chars").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.length("tok")).alias("total_tok_chars"),
        F.sum(
            F.when(F.col("tok").isin(EN_STOPWORDS), 1).otherwise(0)
        ).alias("n_stopwords"),
    )


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document stats: char/token counts, avg token length (exact
    integer basis points), stopword count."""
    agg = _token_agg(df, id_col, text_col)
    return agg.select(
        F.col(id_col),
        F.col("n_chars"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.floor(F.lit(100) * F.col("total_tok_chars") / F.col("n_tokens"))
        .cast("bigint")
        .alias("avg_token_len_c"),
        F.col("n_stopwords").cast("int").alias("n_stopwords"),
    )


def quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_frame: DataFrame | None = None,
) -> DataFrame:
    """Heuristic quality score in [0,100]: rewards reasonable length and
    stopword presence — the standard cheap pre-filter before expensive
    model-based scoring.  Integer arithmetic end-to-end (oracle-stable).

      score = min(40, n_tokens) + min(30, 100*stopwords/tokens)
              + (30 if 3.00 <= avg_token_len <= 8.00 else 10)
    """
    agg = _token_agg(df, id_col, text_col, tokens_frame=tokens_frame)
    return agg.select(
        F.col(id_col),
        quality_score_expr().alias("quality_score"),
    )


def quality_score_expr() -> F.Column:
    """The quality_score formula as a Column over a frame carrying
    ``n_tokens`` / ``n_stopwords`` / ``total_tok_chars`` (the
    _token_agg output) — ONE definition, so consumers that need the
    score inside their own token aggregate (budget_allocation carries
    the source column through the groupBy) can't drift from the
    oracle-checked operator."""
    n_tokens = F.col("n_tokens").cast("int")
    len_component = F.least(F.lit(40), n_tokens)
    stop_component = F.least(
        F.lit(30), F.floor(F.lit(100) * F.col("n_stopwords") / n_tokens).cast("int")
    )
    avg_len_c = F.floor(F.lit(100) * F.col("total_tok_chars") / n_tokens)
    len_ok = (avg_len_c >= 300) & (avg_len_c <= 800)
    shape_component = F.when(len_ok, F.lit(30)).otherwise(F.lit(10))
    return (len_component + stop_component + shape_component).cast("bigint")


def language_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID: score = |tokens ∩ profile| per
    language, argmax with alphabetical tie-break, 'und' when all zero.
    One explode over DISTINCT tokens + one aggregate with a count per
    language profile (tokenizer runs once, not once per language)."""
    langs = sorted(STOPWORDS)
    ex = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_col(text_col))).alias("tok")
    )
    out = ex.groupBy(id_col).agg(
        *[
            F.sum(F.when(F.col("tok").isin(STOPWORDS[lang]), 1).otherwise(0))
            .cast("int")
            .alias(f"score_{lang}")
            for lang in langs
        ]
    )
    # argmax over materialized scores; iterating reverse-alphabetically
    # with >= makes the alphabetically-first language win ties, and the
    # s > 0 guard keeps all-zero rows at 'und'.
    pred = F.lit("und")
    score = F.lit(0)
    for lang in reversed(langs):
        s = F.col(f"score_{lang}")
        cond = (s >= score) & (s > 0)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
        score = F.when(cond, s).otherwise(score)
    return out.select(id_col, *[f"score_{l}" for l in langs], pred.alias("predicted_lang"))


def token_counts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Token counting three ways: whitespace tokens, alnum regex tokens
    (BPE-ish pre-tokenization), and a chars/4 BPE-count estimate."""
    toks = tokens_col(text_col)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower(text_col), F.lit(r"[a-z0-9]+"), 0)).alias("n_alnum_tokens"),
        F.ceil(F.length(text_col) / 4).cast("bigint").alias("n_bpe_est"),
    )


def doc_fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content fingerprints: sha256 of normalized text (exact-dup key) and
    min-of-shingle-hashes (MinHash-1, order-invariant near-dup key).

    Explode + hash-aggregate instead of array_min(transform(...)): sha2
    runs codegen'd per exploded shingle and min() folds in the aggregate
    (lexicographic string min == array_min on the hash strings).  Every doc
    has >= 1 shingle (shingles_col pads short docs), so no rows drop."""
    from real_time_data_pipeline_spark.operators.dedup import shingles_col

    norm = F.concat_ws(" ", tokens_col(text_col))
    ex = df.select(
        F.col(id_col),
        F.sha2(norm, 256).alias("content_hash"),
        F.explode(shingles_col(text_col, 3)).alias("shingle"),
    )
    return ex.groupBy(id_col, "content_hash").agg(
        F.min(F.sha2("shingle", 256)).alias("min_shingle_hash")
    ).select(id_col, "content_hash", "min_shingle_hash")


# PII-ish patterns shared verbatim with the DuckDB oracle (queries/text.py).
# Restricted to the Java-regex ∩ RE2 common subset (no lookaround, no
# backreferences) so the same pattern text compiles identically in Spark's
# codegen'd regexp_replace and DuckDB's RE2 engine.
PII_PATTERNS = {
    "url": r"https?://[^ ]+",
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "longnum": r"[0-9]{7,}",
}
# Redaction order matters: URLs first (they may embed '@' and digit runs),
# then emails, then bare long digit runs.
PII_ORDER = ("url", "email", "longnum")
PII_TOKENS = {"url": "<URL>", "email": "<EMAIL>", "longnum": "<NUM>"}


def normalize_redact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Normalize text (lower / trim / collapse whitespace) and redact
    PII-ish spans (URLs, emails, long digit runs) — the scrub pass every
    training-data pipeline runs before tokenization.

    Counts are matched independently against the NORMALIZED text (a URL
    containing digits counts in both n_url and n_longnum — documented,
    deterministic); redaction is applied sequentially in PII_ORDER so
    nested matches collapse into the outermost token.  Pure codegen'd
    regexp expressions — one projection, no shuffle, no Python."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    cols = [F.col(id_col), norm.alias("norm_text")]
    red = norm
    for kind in PII_ORDER:
        cols.append(
            F.size(F.regexp_extract_all(norm, F.lit(PII_PATTERNS[kind]), F.lit(0)))
            .cast("bigint")
            .alias(f"n_{kind}")
        )
        red = F.regexp_replace(red, PII_PATTERNS[kind], PII_TOKENS[kind])
    cols.append(red.alias("red_text"))
    return df.select(*cols)


def top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Per-document top-k terms by count (keyword extraction), fully
    deterministic: rank by (count DESC, term ASC).

    Plan: one explode + hash-aggregate on (doc, term) — the shuffle
    carries one row per distinct (doc, term) per partition thanks to
    partial aggregation — then a row_number window partitioned by doc.
    The window re-shuffles by doc only; state per window group is the
    doc's distinct-term set, bounded by document length, so no group
    outgrows an executor at 100 TB."""
    from pyspark.sql import Window

    ex = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
    counts = ex.groupBy(id_col, "term").agg(
        F.count("*").cast("bigint").alias("term_count")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("term_count").desc(), F.col("term").asc()
    )
    return counts.select(
        id_col,
        "term",
        "term_count",
        F.row_number().over(w).cast("bigint").alias("rnk"),
    ).filter(F.col("rnk") <= k)


def oov_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 5,
) -> DataFrame:
    """Vocabulary build + per-document out-of-vocabulary rate: vocab =
    terms appearing in >= min_doc_freq documents; OOV ratio in basis
    points per doc — the coverage metric run before committing to a
    tokenizer/vocab.

    One persisted explode feeds both the vocab aggregate and the
    membership join (tokenizer runs once).  The vocab side is
    df-thresholded and therefore vocab-bounded — AQE broadcasts it when
    it fits; the join never shuffles more than (token row, term) pairs.
    The persist is tracked via operators/cache.py; the caller releases
    it with ``cache.release_all()`` after evaluating the result
    (bench.py and tools/parity.py do, after every query)."""
    ex = cache.track(df.select(
        F.col(id_col).alias("id"), F.explode(tokens_col(text_col)).alias("term")
    ))
    vocab = (
        ex.groupBy("term")
        .agg(F.countDistinct("id").alias("df"))
        .filter(F.col("df") >= min_doc_freq)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    joined = ex.join(vocab, "term", "left")
    n_tok = F.count("*")
    n_oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return joined.groupBy(F.col("id").alias(id_col)).agg(
        n_tok.cast("bigint").alias("n_tokens"),
        n_oov.cast("bigint").alias("n_oov"),
        F.floor(F.lit(10000) * n_oov / n_tok).cast("bigint").alias("oov_bp"),
    )


def term_frequency(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus term frequency: explode tokens → count per term.  Partial
    aggregation makes the shuffle carry one row per distinct term per
    partition (vocab-bounded, not corpus-bounded)."""
    return (
        df.select(F.explode(tokens_col(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("term_count"))
        .filter(F.col("term_count") >= min_count)
    )


def _dyadic_log2(expr_sql: str):
    """floor(log2(x)) for a positive integer SQL expression, computed
    EXACTLY as length(bin(x)) - 1 — integer arithmetic only, so Spark and
    DuckDB (which share the `bin` function) agree bit-for-bit.  Avoids
    transcendental `ln`, whose last-ulp rounding is not guaranteed
    identical across libm implementations and would make oracle hashes
    flaky at FLOOR boundaries."""
    return F.length(F.expr(f"bin(CAST({expr_sql} AS BIGINT))")) - F.lit(1)


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document top-k terms by TF-IDF with a dyadic (power-of-two)
    IDF: idf2 = floor(log2(N_docs div doc_freq)), score in basis points
    tfidf_bp = floor(10000 * tf * idf2 / doc_len).

    All inputs are integers and every floating step (one multiply chain +
    one divide, then FLOOR) is IEEE-exact-rounded identically in both
    engines, so the oracle hash is stable — see _dyadic_log2.  Rank ties
    break by term ASC (deterministic).

    Plan: one persisted explode feeds (a) the per-(doc,term) tf aggregate
    and (b) the per-term document-frequency aggregate; the df side is
    vocab-bounded so AQE broadcasts it; N_docs arrives via a 1-row
    broadcast cross join.  Final window re-shuffles by doc only, with
    per-group state bounded by the doc's distinct-term count — holds at
    100 TB.

    N_docs = countDistinct(id) over the explode (same definition as
    bm25_topk, so the two IDFs agree on multi-row-per-doc inputs;
    tokens_col never yields an empty array, so no doc vanishes).  The
    persist is cleared by the caller/harness via
    tracked via operators/cache.py — callers release with
    ``cache.release_all()`` (bench.py and tools/parity.py do)."""
    from pyspark.sql import Window

    ex = cache.track(df.select(
        F.col(id_col).alias("id"), F.explode(tokens_col(text_col)).alias("term")
    ))
    tf = ex.groupBy("id", "term").agg(F.count("*").cast("bigint").alias("tf"))
    dl = ex.groupBy("id").agg(F.count("*").cast("bigint").alias("dl"))
    dfreq = ex.groupBy("term").agg(F.countDistinct("id").alias("df"))
    n_docs = ex.agg(F.countDistinct("id").cast("bigint").alias("n_docs"))
    # idf2 is defined ONCE and the score references the column, so the
    # exposed idf2 and the one inside tfidf_bp cannot drift apart.
    scored = (
        tf.join(dl, "id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf2", _dyadic_log2("n_docs DIV df").cast("bigint"))
        .select(
            F.col("id").alias(id_col),
            "term",
            "tf",
            "idf2",
            F.floor(
                F.lit(10000.0) * F.col("tf") * F.col("idf2") / F.col("dl")
            ).cast("bigint").alias("tfidf_bp"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf_bp").desc(), F.col("term").asc()
    )
    return scored.select(
        id_col, "term", "tf", "idf2", "tfidf_bp",
        F.row_number().over(w).cast("bigint").alias("rnk"),
    ).filter(F.col("rnk") <= k)


# Standard BM25 constants.  Cross-engine determinism rests on both
# engines parsing the SAME double literal (1.2 is not exactly
# representable in binary; 0.75 is) — not on dyadic exactness.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """BM25 retrieval: score every document against a fixed bag of query
    terms, return the top-k docs.  Per-(doc,term) partial scores are
    scaled to exact micro-units (FLOOR(1e6 * ...)) BEFORE summation so
    the per-doc sum is integer arithmetic — double summation order never
    affects the result (cross-engine hash-stable).

      partial = idf2 * (tf * (k1+1)) / (tf + k1 * ((1-b) + b * dl/avgdl))

    with idf2 the dyadic idf (see tfidf_topk), dl the doc token length,
    avgdl = total_tokens / n_docs (one exactly-rounded double divide).

    Plan: the explode is filtered to the query-term set BEFORE any
    shuffle (predicate on the exploded value — only matching tokens
    survive the scan stage), so tf/df aggregates shuffle only rows for
    the handful of query terms.  Doc lengths come from a corpus-wide
    pre-aggregate (needed for every candidate doc); corpus scalars (N,
    total tokens) ride a 1-row broadcast.  The global top-k is
    sort+limit — Spark compiles that to TakeOrderedAndProject
    (per-partition heap top-k, merge of k-row heads), NOT a
    single-partition global window, so a common query term whose
    candidate set is the whole corpus still never funnels through one
    task; the rank window then runs over only the k surviving rows.
    The persist is tracked via operators/cache.py — callers release
    with ``cache.release_all()``."""
    from pyspark.sql import Window

    ex = cache.track(df.select(
        F.col(id_col).alias("id"), F.explode(tokens_col(text_col)).alias("term")
    ))
    hits = ex.filter(F.col("term").isin(list(query_terms)))
    tf = hits.groupBy("id", "term").agg(F.count("*").cast("bigint").alias("tf"))
    dfreq = hits.groupBy("term").agg(F.countDistinct("id").alias("df"))
    dl = ex.groupBy("id").agg(F.count("*").cast("bigint").alias("dl"))
    scalars = ex.agg(
        F.countDistinct("id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("total_toks"),
    )
    k1, b = BM25_K1, BM25_B
    partial = (
        tf.join(dl, "id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(scalars))
        .select(
            F.col("id"),
            F.floor(
                F.lit(1000000.0)
                * _dyadic_log2("n_docs DIV df")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / (F.col("total_toks") / F.col("n_docs"))
                    )
                )
            ).cast("bigint").alias("partial_micro"),
        )
    )
    scores = partial.groupBy("id").agg(
        F.sum("partial_micro").cast("bigint").alias("bm25_micro"),
        F.count("*").cast("bigint").alias("n_matched_terms"),
    )
    # Distributed top-k: TakeOrderedAndProject, then rank over ≤k rows.
    top = scores.orderBy(
        F.col("bm25_micro").desc(), F.col("id").asc()
    ).limit(k)
    w = Window.orderBy(F.col("bm25_micro").desc(), F.col("id").asc())
    return top.select(
        F.col("id").alias(id_col),
        "bm25_micro",
        "n_matched_terms",
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


def unigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_frame: DataFrame | None = None,
) -> DataFrame:
    """Perplexity-proxy quality score from a corpus-trained unigram LM:
    each token occurrence carries information floor(log2(T div cf)) bits
    (T = corpus token count, cf = the term's collection frequency); a
    document's mean bits-per-token is the cheap stand-in for LM
    perplexity filtering (common-token word salad scores low, rare-token
    text scores high).  Integer arithmetic end-to-end (dyadic log), so
    the oracle hashes identically.

    Plan: one persisted explode feeds the term-frequency aggregate
    (vocab-bounded → AQE broadcast) and the per-token membership join;
    corpus total rides a 1-row broadcast.  Two shuffles total (term agg,
    doc agg) regardless of corpus size.  The persist is tracked via
    operators/cache.py — callers release with ``cache.release_all()``."""
    if tokens_frame is not None:
        ex = cache.track(tokens_frame.select(
            F.col(id_col).alias("id"), F.explode(F.col("toks")).alias("term")
        ))
    else:
        ex = cache.track(df.select(
            F.col(id_col).alias("id"), F.explode(tokens_col(text_col)).alias("term")
        ))
    cf = ex.groupBy("term").agg(F.count("*").cast("bigint").alias("cf"))
    total = ex.agg(F.count("*").cast("bigint").alias("total_toks"))
    info = (
        ex.join(cf, "term")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("id"),
            _dyadic_log2("total_toks DIV cf").cast("bigint").alias("tok_info"),
        )
    )
    n_tok = F.count("*")
    return info.groupBy(F.col("id").alias(id_col)).agg(
        n_tok.cast("bigint").alias("n_tokens"),
        F.sum("tok_info").cast("bigint").alias("total_info_bits"),
        F.floor(F.lit(10000) * F.sum("tok_info") / n_tok).cast("bigint").alias("mean_info_bp"),
    )


def doc_frequency(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-term document frequency (docs containing the term) and
    collection frequency (total occurrences) — the exact-integer inputs
    to any TF-IDF / filtering scheme.  One explode feeds both aggregates:
    cf counts all rows, df counts distinct docs (partial aggregation
    keeps the distinct bounded by vocab x docs-per-partition)."""
    ex = df.select(F.col(id_col).alias("id"), F.explode(tokens_col(text_col)).alias("term"))
    return ex.groupBy("term").agg(
        F.countDistinct("id").alias("doc_freq"),
        F.count("*").alias("collection_freq"),
    )


def token_zipf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 100,
) -> DataFrame:
    """Corpus token-frequency head: the ``k`` most frequent terms with
    rank, per-term coverage, and cumulative coverage (basis points of all
    token occurrences).  The Zipf-head diagnostic a data team reads to
    spot boilerplate takeover (a term covering an outsized share of the
    corpus) and to sanity-check tokenizer health before training.

    Plan: one explode + vocab-bounded hash aggregate (map-side combine),
    then a global sort+limit that Spark compiles to
    TakeOrderedAndProject — per-partition top-k then a k-row merge, so no
    full sort and no single-partition window over the vocabulary.  Rank
    and the running coverage sum ARE single-partition windows, but over
    exactly ``k`` rows.  The corpus total rides the same aggregate pass
    (grand-total groupBy) and joins as a broadcast scalar.  Holds at
    100 TB: everything unbounded is aggregated or take-ordered.

    Integer arithmetic throughout (counts, floor-bp) — oracle-hash
    stable.  Ties break by term ascending, so rank and the running sum
    are deterministic.
    """
    from pyspark.sql import Window

    ex = df.select(F.explode(tokens_col(text_col)).alias("term"))
    hist = ex.groupBy("term").agg(F.count("*").alias("cnt"))
    total = hist.agg(F.sum("cnt").cast("bigint").alias("_total"))
    head = hist.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        head.crossJoin(F.broadcast(total))
        .select(
            "term",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.row_number().over(w).cast("bigint").alias("rank"),
            F.floor(F.lit(10000) * F.col("cnt") / F.col("_total"))
            .cast("bigint")
            .alias("coverage_bp"),
            F.floor(
                F.lit(10000) * F.sum("cnt").over(running) / F.col("_total")
            )
            .cast("bigint")
            .alias("cum_coverage_bp"),
        )
    )


def inverted_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Postings list: one row per (term, doc, term-frequency) — the
    classic inverted-index relation, built with one explode + one
    hash aggregate (map-side combined; the shuffle carries distinct
    (term, doc) pairs, bounded by corpus token count).

    At serving scale, persist this partitioned/bucketed by term (the
    same pruned-read pattern as similarity.build_ivf_index) so a query
    touches only its terms' partitions.
    """
    return (
        df.select(
            F.col(id_col), F.explode(tokens_col(text_col)).alias("term")
        )
        .groupBy("term", id_col)
        .agg(F.count("*").cast("bigint").alias("tf"))
    )


def conjunctive_search(
    index: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """Boolean AND search over an inverted index: docs containing EVERY
    query term, ranked by summed term frequency (deterministic
    tie-break on doc id).

    The term filter prunes the postings scan to |terms| keys (partition
    pruning when the index is persisted term-partitioned); the per-doc
    aggregate then touches only matching postings — cost scales with
    the selectivity of the rarest term's postings, never the corpus.
    Top-k is TakeOrderedAndProject (per-partition heads, no global
    sort).
    """
    hits = (
        index.filter(F.col("term").isin([t.lower() for t in terms]))
        .groupBy(id_col)
        .agg(
            F.countDistinct("term").alias("n_terms_matched"),
            F.sum("tf").cast("bigint").alias("tf_sum"),
        )
        .filter(F.col("n_terms_matched") == len(terms))
    )
    return (
        hits.select(F.col(id_col), F.col("tf_sum"))
        .orderBy(F.desc("tf_sum"), F.col(id_col))
        .limit(k)
    )


def _bpe_merges_local(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Driver-side BPE merge loop over collapsed (word, count) pairs —
    the exact algorithm the distributed rounds run, on the same
    deterministic tie-break, used when the vocabulary fits locally."""
    vocab = [([c for c in w], n) for w, n in word_counts]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((rank, left, right, cnt))
        fused = left + right
        for idx, (syms, n) in enumerate(vocab):
            i = 0
            new = []
            m = len(syms)
            changed = False
            while i < m:
                if i + 1 < m and syms[i] == left and syms[i + 1] == right:
                    new.append(fused)
                    i += 2
                    changed = True
                else:
                    new.append(syms[i])
                    i += 1
            if changed:
                vocab[idx] = (new, n)
    return merges


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    vocab_partitions: int = 8,
    driver_vocab_limit: int = 100_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016,
    word-level variant): iteratively find the most frequent adjacent
    symbol pair across the corpus and fuse it, ``n_merges`` times.
    Returns the learned merge table (merge_rank, left, right,
    pair_count) — the tokenizer-training step of an LLM data pipeline,
    run where the data lives instead of sampling down to one machine.

    Hybrid execution, the shape every production BPE learner uses: the
    corpus collapses ONCE to (distinct word, count) — a distributed
    explode + hash-aggregate, the only corpus-scale work.  If the
    vocabulary fits the driver (``driver_vocab_limit``; word counts at
    1e5 entries are a few MB — raise freely to 1e7), the merge loop
    runs locally on those counts: zero per-round jobs, identical
    deterministic result (count-desc, lexicographic tie-break).  Only a
    vocabulary beyond the limit runs the distributed loop, each round
    (a) one vocab-bounded explode+aggregate for pair counts, (b) a
    1-row argmax collect, (c) an Arrow-batched rewrite of only the
    words CONTAINING the pair (JVM `exists` prefilter; the greedy
    left-to-right fuse is sequential within a word, so it runs in
    pandas), with per-round checkpoint lineage control mirroring
    graph.py's iteration discipline (``checkpoint_dir`` selects
    reliable ``checkpoint()`` — localCheckpoint blocks die with a lost
    executor, which kills a long merge loop on a real cluster).
    """
    import pandas as pd

    from real_time_data_pipeline_spark.operators.graph import _checkpointer

    chk = _checkpointer(df.sparkSession, checkpoint_dir)
    word_counts = chk(
        df.select(F.explode(tokens_col(text_col)).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    spark = df.sparkSession
    vocab_size = word_counts.count()
    if vocab_size <= driver_vocab_limit:
        local = [(r["word"], int(r["n"])) for r in word_counts.collect()]
        # The merge table is driver-local from here — the checkpoint's
        # blocks are dead weight (DataFrame.unpersist cannot free a
        # local checkpoint; without this they linger until RDD GC).
        cache.release_local_checkpoint(word_counts)
        merges = _bpe_merges_local(local, n_merges)
        return local_frame(
            spark,
            merges,
            "merge_rank int, left string, right string, pair_count long",
        )

    words = (
        word_counts.select(
            F.split(F.col("word"), "").alias("syms"),
            F.col("n"),
        )
        # The working set is the VOCABULARY (distinct words), orders of
        # magnitude smaller than the corpus — shrink to a few partitions
        # so the per-round jobs aren't task-overhead-bound.  Raise for
        # billion-type vocabularies; the rounds stay vocab-bounded.
        .repartition(vocab_partitions)
    )
    words = chk(words)
    # The symbol table is materialized; word_counts' blocks are now dead.
    cache.release_local_checkpoint(word_counts)

    def _pairs(syms_col):
        # adjacent pairs as "l r" strings (symbols never contain spaces:
        # tokens_col splits on whitespace)
        return F.transform(
            F.slice(syms_col, 1, F.greatest(F.size(syms_col) - 1, F.lit(0))),
            lambda s, i: F.concat_ws(
                " ", s, F.element_at(syms_col, i + 2)
            ),
        )

    merges = []
    for rank in range(n_merges):
        best = (
            words.select(F.explode(_pairs(F.col("syms"))).alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt = best[0]["pair"], int(best[0]["cnt"])
        left, right = pair.split(" ", 1)
        merges.append((rank, left, right, cnt))
        fused = left + right

        def rewrite(batches, _l=left, _r=right, _f=fused):
            for pdf in batches:
                out = []
                for syms in pdf["syms"]:
                    new = []
                    i = 0
                    m = len(syms)
                    while i < m:
                        if i + 1 < m and syms[i] == _l and syms[i + 1] == _r:
                            new.append(_f)
                            i += 2
                        else:
                            new.append(syms[i])
                            i += 1
                    out.append(new)
                yield pd.DataFrame({"syms": out, "n": pdf["n"]})

        has_pair = F.exists(
            _pairs(F.col("syms")), lambda p: p == F.lit(pair)
        )
        touched = words.filter(has_pair).mapInPandas(
            rewrite, "syms array<string>, n long"
        )
        prev = words
        words = chk(touched.unionAll(words.filter(~has_pair)))
        # The new eager checkpoint no longer needs the previous round's
        # blocks — without this release the loop pins O(n_merges) dead
        # symbol tables in the block store.
        cache.release_local_checkpoint(prev)

    # The merge table is already on the driver; the last round's blocks
    # are dead too.
    cache.release_local_checkpoint(words)
    return local_frame(
        spark,
        merges,
        "merge_rank int, left string, right string, pair_count long",
    )


def apply_bpe_tokens(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge table (see :func:`learn_bpe_merges`) to
    the corpus and return the resulting subword frequency table
    (token, n_occurrences) — the vocabulary-coverage audit run after
    tokenizer training.

    Scale shape mirrors the learner: segmentation runs once per
    DISTINCT word (vocab-bounded Arrow-batched pass applying merges in
    rank order — the greedy fuse is sequential within a word), weighted
    by the word's corpus count; the corpus itself is touched only by
    the initial (word, count) collapse.  The merge list is a task
    closure (rank-ordered pairs — KBs even for 50k merges).
    """
    import pandas as pd

    word_counts = (
        df.select(F.explode(tokens_col(text_col)).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )

    merge_list = list(merges)

    def segment(batches):
        for pdf in batches:
            toks: list[str] = []
            ns: list[int] = []
            for word, n in zip(pdf["word"], pdf["n"]):
                syms = list(word)
                for left, right in merge_list:
                    i = 0
                    out = []
                    m = len(syms)
                    while i < m:
                        if (
                            i + 1 < m
                            and syms[i] == left
                            and syms[i + 1] == right
                        ):
                            out.append(left + right)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                toks.extend(syms)
                ns.extend([int(n)] * len(syms))
            yield pd.DataFrame({"token": toks, "n": ns})

    return (
        word_counts.mapInPandas(segment, "token string, n long")
        .groupBy("token")
        .agg(F.sum("n").cast("bigint").alias("n_occurrences"))
    )


# fasttext-style linear quality classifier: weights trained OFFLINE
# (a linear probe on labeled quality data), applied at corpus scale as
# pure codegen expressions.  Integer micro-units ((weight, feature) both
# integer) keep the score engine-exact — no float dot product, no UDF.
# These demo weights prefer mid-length, stopword-bearing, word-shaped
# text; swap in trained values without touching the plan shape.
QUALITY_LOGIT_WEIGHTS = {
    "bias": -120_000,
    "n_tokens_capped": 150,        # per token, capped at 1000
    "stopword_bp": 25,             # per basis point of stopword share
    "avg_token_len_penalty": -90,  # per centichar of |avg len - 4.50|
}
QUALITY_LOGIT_THRESHOLD = 0


def quality_logit_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict | None = None,
    threshold: int | None = None,
    tokens_frame: DataFrame | None = None,
) -> DataFrame:
    """Model-based quality scoring (the step after `quality_score`'s
    heuristics in a production curation stack): a linear classifier over
    integer text features, evaluated entirely in whole-stage codegen —
    one shared token aggregate, then a projection.  Score and keep flag
    are exact integers, so the oracle hashes bit-identically.

    score_micro = bias + w_len*min(n_tokens,1000) + w_stop*stopword_bp
                  - w_shape*|avg_token_len_c - 450|
    keep_model = score_micro >= threshold
    """
    w = weights or QUALITY_LOGIT_WEIGHTS
    th = QUALITY_LOGIT_THRESHOLD if threshold is None else threshold
    agg = _token_agg(df, id_col, text_col, tokens_frame=tokens_frame)
    n_tokens = F.col("n_tokens").cast("bigint")
    x_len = F.least(F.lit(1000), n_tokens)
    x_stop = F.floor(
        F.lit(10_000) * F.col("n_stopwords") / n_tokens
    ).cast("bigint")
    avg_len_c = F.floor(
        F.lit(100) * F.col("total_tok_chars") / n_tokens
    ).cast("bigint")
    x_shape = F.abs(avg_len_c - F.lit(450))
    score = (
        F.lit(w["bias"])
        + F.lit(w["n_tokens_capped"]) * x_len
        + F.lit(w["stopword_bp"]) * x_stop
        + F.lit(w["avg_token_len_penalty"]) * x_shape
    ).cast("bigint")
    return agg.select(
        F.col(id_col),
        score.alias("score_micro"),
        (score >= F.lit(th)).alias("keep_model"),
    )


def hash_embed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Feature-hashing text encoder (Weinberger et al. 2009): each token
    hashes to a dimension (xxhash64 % dim) with a ±1 sign from a second
    hash bit, accumulated and L2-normalized — the deterministic,
    vocabulary-free embedding that stands in where a model encoder would
    run (same plumbing: text in, fixed-dim vector out; swap the
    per-batch function for an ONNX/torch call without touching the
    plan).

    Fully expression-side: explode tokens, two xxhash64s, pivot to dim
    sums via a (id, dim)-keyed aggregate, assemble the array with ONE
    id-keyed collect ordered by dim.  Two data-scale shuffles, no
    Python.  Output: (id, embedding array<double> unit-norm, n_tokens).

    ``portable=True`` swaps the xxhash64 pair for ONE sha256 digest per
    token (dimension from the first 15 hex chars via base-conv, sign
    from the 16th nibble's parity) — the engine-portable hash family
    from operators/dedup._portable_hash60, reproducible in any engine
    with sha256.  Sums of ±1.0 are integer-valued doubles (exact in any
    aggregation order) and the norm divides identical doubles, so the
    emitted arrays are BIT-identical across engines — what upgrades the
    embed_search query from rows-only to a full DuckDB value-hash
    oracle.  xxhash64 (default) stays the scale path: one fused JVM
    expression, no 64-hex-char string materialized per token.
    """
    if portable:
        h = F.sha2(F.col("tok").cast("string"), 256)
        d_expr = F.pmod(
            F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint"), F.lit(dim)
        )
        sgn_expr = (
            F.when(
                F.pmod(
                    F.conv(F.substring(h, 16, 1), 16, 10).cast("bigint"),
                    F.lit(2),
                )
                == 0,
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
        )
    else:
        d_expr = F.pmod(F.xxhash64(F.col("tok")), F.lit(dim))
        sgn_expr = (
            F.when(
                F.pmod(F.xxhash64(F.lit(1), F.col("tok")), F.lit(2)) == 0,
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
        )
    ex = df.select(
        F.col(id_col),
        F.explode(tokens_col(text_col)).alias("tok"),
    ).select(
        id_col,
        d_expr.alias("d"),
        sgn_expr.alias("sgn"),
    )
    sums = ex.groupBy(id_col, "d").agg(
        F.sum("sgn").alias("s"), F.count("*").alias("n")
    )
    # The norm comes out of the SAME aggregate (norm² = Σ s² over the
    # nonzero dims) — as a post-hoc F.aggregate over the dense array it
    # would be re-evaluated per element inside the normalizing
    # transform, turning assembly into O(dim²) interpreted work per row
    # (measured 3× the whole query's cost at dim=64).
    vec = sums.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("d"), F.col("s")))
        ).alias("m"),
        F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nrm"),
        F.sum("n").cast("bigint").alias("n_tokens"),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit(0.0)),
    )
    unit = F.transform(
        dense,
        lambda x: F.when(F.col("nrm") > 0, x / F.col("nrm")).otherwise(
            F.lit(0.0)
        ),
    )
    return vec.select(
        F.col(id_col), unit.alias("embedding"), "n_tokens"
    )


def build_search_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Persist the inverted index as parquet partitioned by a term-hash
    bucket — the text twin of similarity.ivf_index_build: a query
    hashes its terms to bucket ids and reads ONLY those partitions
    (partition pruning), so serving cost scales with the query's
    postings, never the corpus.  ``repartition("bucket")`` keeps file
    count tracking bucket count rather than tasks × buckets.

    Bucket id = pmod(xxhash64(term), n_buckets) — computed by the SAME
    engine at build and query time, so there is no cross-language hash
    skew to manage.
    """
    idx = inverted_index(df, id_col, text_col).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    idx.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)


def search_index_query(
    spark,
    path: str,
    terms: list[str],
    id_col: str = "doc_id",
    k: int = 20,
    n_buckets: int = 64,
) -> DataFrame:
    """Conjunctive search against a :func:`build_search_index` artifact.

    The query terms' bucket ids are resolved with one |terms|-row Spark
    job (same xxhash64 as the build — never re-implemented driver-side),
    then the index read carries BOTH the bucket filter (partition
    pruning: only the terms' directories are listed/read) and the term
    filter (row pruning inside those buckets).  Ranking semantics are
    identical to :func:`conjunctive_search` — hash-equal results, index
    path vs direct path.
    """
    lowered = [t.lower() for t in terms]
    buckets = [
        r["b"]
        for r in local_frame(spark, [(t,) for t in lowered], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b"))
        .distinct()
        .collect()
    ]
    idx = (
        spark.read.parquet(path)
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(lowered))
    )
    return conjunctive_search(idx, lowered, id_col, k)


def source_divergence(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source token-distribution divergence vs the whole corpus —
    the "which source's language deviates most" triage that feeds
    mixture-rate decisions.  For each source s,

        excess_bits(s) = Σ_t cf_st · (info_corpus(t) − info_source(s,t))
        mean_excess_bp(s) = floor(1e4 · excess_bits / T_s)

    with info = floor(log2(total DIV cf)) in dyadic integer bits (the
    same engine-exact ``bin``-length trick as unigram_surprisal, so the
    oracle hashes identically).  Positive mean = the source concentrates
    on globally-rare tokens (its own code length beats the corpus
    model's); negative = it leans on globally-common tokens.  A dyadic
    integer KL proxy, not exact KL — documented, deterministic,
    cross-engine.

    Plan: one token explode feeds all four aggregates (corpus term
    counts, corpus total, per-source term counts, per-source totals);
    the join back is term-keyed (vocab-bounded) and the final rollup is
    source-keyed (tiny).  No window, no pairwise anything.
    """
    ex = cache.track(
        df.select(
            F.col(source_col).alias("src"),
            F.explode(tokens_col(text_col)).alias("term"),
        )
    )
    cf = ex.groupBy("term").agg(F.count("*").cast("bigint").alias("cf"))
    tot = ex.agg(F.count("*").cast("bigint").alias("total_toks"))
    scf = ex.groupBy("src", "term").agg(
        F.count("*").cast("bigint").alias("scf")
    )
    stot = ex.groupBy("src").agg(F.count("*").cast("bigint").alias("stotal"))
    joined = (
        scf.join(cf, "term")
        .join(F.broadcast(stot), "src")
        .crossJoin(F.broadcast(tot))
    )
    icorp = _dyadic_log2("total_toks DIV cf")
    isrc = _dyadic_log2("stotal DIV scf")
    contrib = (F.col("scf") * (icorp - isrc)).cast("bigint")
    return (
        joined.select("src", F.col("stotal"), contrib.alias("_c"))
        .groupBy(F.col("src").alias(source_col))
        .agg(
            F.max("stotal").cast("bigint").alias("n_tokens"),
            F.sum("_c").cast("bigint").alias("excess_bits"),
            F.floor(F.lit(10_000) * F.sum("_c") / F.max("stotal"))
            .cast("bigint")
            .alias("mean_excess_bp"),
        )
    )


def readability(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Integer Flesch-style readability proxy — the classic cheap
    "is this prose or gibberish/boilerplate" curation feature:

        words           = whitespace tokens
        sentences       = runs of [.!?] (clamped to >= 1)
        syllable proxy  = vowel runs [aeiouy]+ in the lowercased text
        flesch_milli    = 206835 − floor(1015·wps_milli/1000)
                                 − floor(84600·spw_milli/1000)

    with wps_milli = floor(1000·words/sentences) and spw_milli =
    floor(1000·vowel_runs/words) — every step exact integer arithmetic
    (the published Flesch constants ×1000), so the score is engine-
    identical; both engines count the same non-overlapping regex
    matches.  Pure codegen projection — no shuffle at all.
    """
    toks = tokens_col(text_col)
    n_words = F.greatest(F.size(toks), F.lit(1)).cast("bigint")
    n_sent = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    n_vruns = F.regexp_count(
        F.lower(F.col(text_col)), F.lit(r"[aeiouy]+")
    ).cast("bigint")
    wps_milli = F.floor(F.lit(1000) * n_words / n_sent).cast("bigint")
    spw_milli = F.floor(F.lit(1000) * n_vruns / n_words).cast("bigint")
    flesch = (
        F.lit(206835)
        - F.floor(F.lit(1015) * wps_milli / F.lit(1000))
        - F.floor(F.lit(84600) * spw_milli / F.lit(1000))
    ).cast("bigint")
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_vruns.alias("n_vowel_runs"),
        wps_milli.alias("words_per_sentence_milli"),
        spw_milli.alias("syllables_per_word_milli"),
        flesch.alias("flesch_milli"),
    )


def language_mixing(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Code-switching detector on top of :func:`language_id`'s stopword
    profiles: how many language profiles a document hits, and the
    second-best/best score ratio in bp — near 0 means one clear
    language, near 10000 means the doc mixes two languages about
    equally (the docs a monolingual pipeline should route or drop).
    Same single explode+aggregate as language_id; the mixing math is a
    projection over the materialized scores.
    """
    base = language_id(df, id_col, text_col)
    langs = sorted(STOPWORDS)
    scores = [F.col(f"score_{lang}").cast("bigint") for lang in langs]
    arr = F.array_sort(F.array(*scores))
    n = len(langs)
    top = F.element_at(arr, n)
    second = F.element_at(arr, n - 1)
    n_hit = sum(
        (s > 0).cast("int") for s in scores
    ).cast("bigint")
    return base.select(
        F.col(id_col),
        "predicted_lang",
        n_hit.alias("n_langs_hit"),
        top.alias("top_score"),
        second.alias("second_score"),
        F.when(top > 0, F.floor(F.lit(10_000) * second / top))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("mixing_bp"),
    )


def bigram_collocations(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 3,
) -> DataFrame:
    """Collocation mining: adjacent-token bigrams scored by lift in
    integer basis points — the PMI-style "these two words travel
    together" signal (named entities, idioms, boilerplate phrases)
    without PMI's engine-dependent log.

    Lift here is the (first-slot, second-slot) contingency ratio:

        lift_bp = 1e4 * n_ab * N  div  (n_a * n_b)

    with N = total bigrams, n_a = occurrences of a as a FIRST element,
    n_b = occurrences of b as a SECOND element — exactly the
    independence baseline of the bigram pairing, all integers (the
    product runs in DECIMAL(38,0); the oracle uses HUGEINT).

    Bigrams are built in LIST SPACE (transform over token-array slices
    — whole-stage-codegen'd, no explode-then-self-join, no window), so
    per-document work is token-bounded and the only shuffles are the
    count aggregates.  ``min_count`` makes the output a deterministic
    set (a top-k cut would tie-break arbitrarily).

    Output: (tok_a, tok_b, n_ab, n_a, n_b, n_bigrams, lift_bp).
    """
    toks = tokens_col(text_col)
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = (
        docs.select(F.explode(bigrams).alias("bg"))
        .select(
            F.split(F.col("bg"), " ").getItem(0).alias("tok_a"),
            F.split(F.col("bg"), " ").getItem(1).alias("tok_b"),
        )
        .filter((F.col("tok_a") != "") & (F.col("tok_b") != ""))
    )
    bg = cache.track(bg)
    pair = (
        bg.groupBy("tok_a", "tok_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    first = bg.groupBy("tok_a").agg(
        F.count("*").cast("bigint").alias("n_a")
    )
    second = bg.groupBy("tok_b").agg(
        F.count("*").cast("bigint").alias("n_b")
    )
    total = bg.agg(F.count("*").cast("bigint").alias("n_bigrams"))
    # pair is small after min_count — broadcast it (and the pair-sized
    # frame it produces) into plain joins against the slot counts, so
    # the vocabulary-scale count frames are never broadcast and never
    # reshuffle.
    return (
        second.join(
            F.broadcast(first.join(F.broadcast(pair), "tok_a")), "tok_b"
        )
        .crossJoin(F.broadcast(total))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_bigrams",
            F.expr(
                "CAST((CAST(10000 AS DECIMAL(38,0)) * n_ab * n_bigrams)"
                " div (n_a * n_b) AS BIGINT)"
            ).alias("lift_bp"),
        )
    )


# ------------------------------------------------------ count-min sketch

CMS_DEPTH = 4
CMS_WIDTH = 2048


def cms_heavy_hitters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    k: int = 100,
    portable: bool = True,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over corpus
    tokens, certified against exact counts: estimate(t) = min over the
    ``depth`` rows of the counter its salted hash lands in — always
    >= the true count, over by whatever collision mass shares the
    counters.  Output: the top-``k`` tokens by EXACT count (ties by
    token) with (term, exact_count, cms_count, over_bp).

    The deterministic-hash design makes the ESTIMATE itself
    reproducible in any engine — so the registry oracle recomputes the
    whole sketch in DuckDB and value-hashes it, a stronger check than
    the probabilistic eps*T envelope (which the over_bp column lets a
    reader audit anyway).  Next to `heavy_hitters` (Misra-Gries, which
    UNDERestimates): the two sketches bracket the truth.

    Scale: ONE corpus pass to vocabulary counts; the sketch is built
    FROM the vocab table (CMS[j][b] = sum of counts of tokens hashing
    to b), so the xdepth fanout and the depth*width counter table
    (8192 rows) are vocab-scale, never corpus-scale.  Top-k is
    TakeOrdered; the counter join is a broadcast.
    """
    vocab = (
        df.select(F.explode(tokens_col(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    vocab = cache.track(vocab)

    def bucket(j: int) -> F.Column:
        salted = F.concat(F.lit(f"{j}:"), F.col("tok"))
        if portable:
            h = F.conv(F.substring(F.sha2(salted, 256), 1, 15), 16, 10)
            return F.pmod(h.cast("bigint"), F.lit(width))
        return F.pmod(F.xxhash64(salted), F.lit(width))

    fan = vocab.select(
        "tok",
        "cnt",
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("j"), bucket(j).alias("b"))
                for j in range(depth)
            ])
        ).alias("jb"),
    ).select("tok", "cnt", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    cms = fan.groupBy("j", "b").agg(F.sum("cnt").cast("bigint").alias("c"))
    top = (
        vocab.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(k)
        .withColumnRenamed("tok", "term")
        .withColumnRenamed("cnt", "exact_count")
    )
    probe = top.select(
        "term",
        "exact_count",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.pmod(
                        F.conv(
                            F.substring(
                                F.sha2(
                                    F.concat(F.lit(f"{j}:"), F.col("term")),
                                    256,
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        ).cast("bigint"),
                        F.lit(width),
                    ).alias("b")
                    if portable
                    else F.pmod(
                        F.xxhash64(F.concat(F.lit(f"{j}:"), F.col("term"))),
                        F.lit(width),
                    ).alias("b"),
                )
                for j in range(depth)
            ])
        ).alias("jb"),
    ).select("term", "exact_count", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    est = (
        probe.join(F.broadcast(cms), ["j", "b"])
        .groupBy("term", "exact_count")
        .agg(F.min("c").cast("bigint").alias("cms_count"))
    )
    # integer division, not FLOOR(double /): a double quotient landing
    # one ulp above an integer would flip FLOOR between engines
    return est.select(
        "term",
        "exact_count",
        "cms_count",
        F.expr("(10000 * (cms_count - exact_count)) DIV exact_count")
        .cast("bigint")
        .alias("over_bp"),
    )


def positional_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional postings: one row per (term, doc, pos) — the
    phrase/proximity-capable extension of :func:`inverted_index` (which
    keeps only frequencies).  One posexplode, no aggregate; persist
    term-partitioned at serving scale, same as the frequency index."""
    return df.select(
        F.col(id_col),
        F.posexplode(tokens_col(text_col)).alias("pos", "term"),
    ).select(id_col, "term", F.col("pos").cast("bigint").alias("pos"))


def phrase_search(
    index_pos: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """Exact phrase matching over positional postings (the classic
    adjacency join): the i-th phrase term's postings, shifted by −i,
    must all meet at one anchor position — an |phrase|-way equi-join on
    (doc, anchor), each leg pruned to ONE term's postings first, so
    cost is bounded by the rarest term's postings list, never the
    corpus (the same pruned-read argument as conjunctive_search, plus
    position intersection instead of document intersection).

    Output: top-k docs by phrase-occurrence count (tie-break doc id):
    (doc, n_hits, rank)."""
    legs = []
    for i, t in enumerate(phrase):
        legs.append(
            index_pos.filter(F.col("term") == t.lower()).select(
                F.col(id_col),
                (F.col("pos") - i).alias("anchor"),
            )
        )
    anchors = legs[0]
    for leg in legs[1:]:
        anchors = anchors.join(leg, [id_col, "anchor"])
    from pyspark.sql import Window

    hits = anchors.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_hits")
    )
    out = hits.orderBy(F.desc("n_hits"), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc("n_hits"), F.col(id_col))
    return out.select(
        id_col, "n_hits", F.row_number().over(w).cast("bigint").alias("rank")
    )


def proximity_search(
    index_pos: DataFrame,
    terms: list[str],
    max_span: int = 10,
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """Proximity (slop) search: docs where ALL query terms co-occur
    inside a ``max_span``-token window, ranked by the TIGHTEST such
    window — the classic minimal-covering-window scan expressed as
    window functions: over each doc's merged query-term postings in
    position order, track the running LAST position of every term
    (one MAX-CASE running column per term — |terms| is a query
    constant); wherever all are non-null, the candidate span is
    pos − min(last_i) + 1, and the per-doc minimum is the answer.
    One pass over the PRUNED postings (only the query terms' rows),
    no self-join — cost is the rarest-terms postings merge, the same
    bound as phrase_search with adjacency relaxed to a window.

    Output: (doc, min_span, rank), span ≤ max_span, rank by
    (min_span asc, doc) — top-k."""
    from pyspark.sql import Window

    lterms = [t.lower() for t in terms]
    pruned = index_pos.filter(F.col("term").isin(lterms))
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lasts = [
        F.max(
            F.when(F.col("term") == t, F.col("pos"))
        ).over(w).alias(f"_l{i}")
        for i, t in enumerate(lterms)
    ]
    # least()/greatest() skip NULLs in both engines, so gate the span on
    # EVERY term having appeared — otherwise a prefix missing a term
    # would produce a bogus small window over the terms seen so far.
    all_seen = F.lit(True)
    for i in range(len(lterms)):
        all_seen = all_seen & F.col(f"_l{i}").isNotNull()
    spans = pruned.select(id_col, "pos", *lasts).select(
        id_col,
        F.when(
            all_seen,
            F.col("pos")
            - F.least(*[F.col(f"_l{i}") for i in range(len(lterms))])
            + 1,
        ).alias("span"),
    )
    best = (
        spans.filter(F.col("span").isNotNull())
        .groupBy(id_col)
        .agg(F.min("span").cast("bigint").alias("min_span"))
        .filter(F.col("min_span") <= max_span)
    )
    out = best.orderBy(F.asc("min_span"), F.col(id_col)).limit(k)
    wr = Window.orderBy(F.asc("min_span"), F.col(id_col))
    return out.select(
        id_col,
        "min_span",
        F.row_number().over(wr).cast("bigint").alias("rank"),
    )
