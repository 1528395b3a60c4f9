"""Text-analysis queries over `documents`, with DuckDB oracles.

The stopword profiles and token normalization are shared with
operators/text.py; the DuckDB SQL mirrors them expression-for-expression.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators.arrowvec import local_frame
from real_time_data_pipeline_spark.operators import text as T
from real_time_data_pipeline_spark.queries.dedup import (
    DUCK_TOKENS,
    duck_hexfold_n,
)
from real_time_data_pipeline_spark.schemas import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def q_text_stats(spark, sf_dir):
    return T.text_stats(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    return T.quality_score(_docs(spark, sf_dir))


def q_language_id(spark, sf_dir):
    return T.language_id(_docs(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    return T.token_counts(_docs(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    return T.doc_fingerprint(_docs(spark, sf_dir))


def q_term_frequency(spark, sf_dir):
    return T.term_frequency(_docs(spark, sf_dir))


def _augment_pii(docs):
    """Append deterministic synthetic PII (email/URL/phone derived from
    doc_id) so the redaction oracle provably fires on every row — the
    corpus itself is clean word-salad.  Mirrored textually in
    _PII_AUG_SQL."""
    sid = F.col("doc_id").cast("string")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            sid,
            F.lit("@example.com via https://ex.io/d/"),
            sid,
            F.lit(" tel "),
            F.lpad(sid, 9, "0"),
        ).alias("text"),
    )


def q_text_normalize(spark, sf_dir):
    return T.normalize_redact(_augment_pii(_docs(spark, sf_dir)))


def q_keyword_topk(spark, sf_dir):
    return T.top_terms(_docs(spark, sf_dir), k=5)


VOCAB_MIN_DF = 100


def q_vocab_oov(spark, sf_dir):
    return T.oov_rate(_docs(spark, sf_dir), min_doc_freq=VOCAB_MIN_DF)


def q_doc_frequency(spark, sf_dir):
    return T.doc_frequency(_docs(spark, sf_dir))


def q_tfidf_topk(spark, sf_dir):
    return T.tfidf_topk(_docs(spark, sf_dir), k=5)


# Mixed-rarity bag over the synthetic corpus: 'dup' is rare (df≈5% →
# idf2=4 at sf0.01) and drives the ranking; 'hash'/'merge' are
# near-ubiquitous (idf2=0), exercising the zero-information branch.
BM25_QUERY_TERMS = ["dup", "hash", "merge"]


def q_bm25_topk(spark, sf_dir):
    return T.bm25_topk(_docs(spark, sf_dir), BM25_QUERY_TERMS, k=10)


def q_unigram_surprisal(spark, sf_dir):
    return T.unigram_surprisal(_docs(spark, sf_dir))


ZIPF_K = 100


def q_token_zipf(spark, sf_dir):
    """Corpus Zipf head: top-100 terms, rank, coverage, cumulative."""
    return T.token_zipf(_docs(spark, sf_dir), k=ZIPF_K)


QUERIES = {
    "text_stats": q_text_stats,
    "text_quality_score": q_quality_score,
    "text_language_id": q_language_id,
    "text_token_counts": q_token_counts,
    "text_doc_fingerprint": q_doc_fingerprint,
    "text_term_frequency": q_term_frequency,
    "text_doc_frequency": q_doc_frequency,
    "text_normalize": q_text_normalize,
    "keyword_topk": q_keyword_topk,
    "vocab_oov": q_vocab_oov,
    "tfidf_topk": q_tfidf_topk,
    "bm25_topk": q_bm25_topk,
    "unigram_surprisal": q_unigram_surprisal,
    "token_zipf": q_token_zipf,
}


def _dyadic_log2_sql(expr: str) -> str:
    """DuckDB twin of operators/text._dyadic_log2: floor(log2(x)) as
    length(bin(x)) - 1 — integer-exact, shared `bin` semantics (no
    leading zeros in both engines)."""
    return f"(length(bin(CAST({expr} AS BIGINT))) - 1)"


def _stop_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in T.STOPWORDS[lang]) + "]"


_SCORES = {
    lang: f"len(list_intersect(list_distinct({DUCK_TOKENS}), {_stop_list(lang)}))"
    for lang in sorted(T.STOPWORDS)
}

# argmax with alphabetical tie-break, 'und' when all scores are zero —
# mirrors operators/text.language_id's reversed-when chain.
_ARGMAX = f"""
    CASE
      WHEN {_SCORES['de']} > 0 OR {_SCORES['en']} > 0 OR {_SCORES['es']} > 0 OR {_SCORES['fr']} > 0 THEN
        CASE
          WHEN {_SCORES['de']} >= {_SCORES['en']} AND {_SCORES['de']} >= {_SCORES['es']} AND {_SCORES['de']} >= {_SCORES['fr']} THEN 'de'
          WHEN {_SCORES['en']} >= {_SCORES['es']} AND {_SCORES['en']} >= {_SCORES['fr']} THEN 'en'
          WHEN {_SCORES['es']} >= {_SCORES['fr']} THEN 'es'
          ELSE 'fr'
        END
      ELSE 'und'
    END
"""

ORACLES = {
    "text_stats": f"""
        SELECT doc_id,
               length(text) AS n_chars,
               len({DUCK_TOKENS}) AS n_tokens,
               CAST(FLOOR(100 * list_sum(list_transform({DUCK_TOKENS}, t -> length(t)))
                    / len({DUCK_TOKENS})) AS BIGINT) AS avg_token_len_c,
               len(list_filter({DUCK_TOKENS}, t -> list_contains({_stop_list('en')}, t))) AS n_stopwords
        FROM documents
    """,
    "text_quality_score": f"""
        SELECT doc_id,
               CAST(
                 least(40, len({DUCK_TOKENS}))
                 + least(30, CAST(FLOOR(100 * len(list_filter({DUCK_TOKENS}, t -> list_contains({_stop_list('en')}, t)))
                        / len({DUCK_TOKENS})) AS INT))
                 + CASE WHEN FLOOR(100 * list_sum(list_transform({DUCK_TOKENS}, t -> length(t))) / len({DUCK_TOKENS}))
                        BETWEEN 300 AND 800 THEN 30 ELSE 10 END
               AS BIGINT) AS quality_score
        FROM documents
    """,
    "text_language_id": f"""
        SELECT doc_id,
               {_SCORES['de']} AS score_de,
               {_SCORES['en']} AS score_en,
               {_SCORES['es']} AS score_es,
               {_SCORES['fr']} AS score_fr,
               {_ARGMAX} AS predicted_lang
        FROM documents
    """,
    "text_token_counts": f"""
        SELECT doc_id,
               len({DUCK_TOKENS}) AS n_ws_tokens,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_alnum_tokens,
               CAST(CEIL(length(text) / 4.0) AS BIGINT) AS n_bpe_est
        FROM documents
    """,
    "text_doc_fingerprint": f"""
        SELECT doc_id,
               sha256(array_to_string({DUCK_TOKENS}, ' ')) AS content_hash,
               list_min(list_transform(
                 list_distinct(list_transform(
                   range(1, greatest(len({DUCK_TOKENS}) - 2, 1) + 1),
                   i -> array_to_string(({DUCK_TOKENS})[i:i+2], ' '))),
                 s -> sha256(s))) AS min_shingle_hash
        FROM documents
    """,
    "text_term_frequency": f"""
        SELECT term, count(*) AS term_count FROM (
          SELECT unnest({DUCK_TOKENS}) AS term FROM documents
        ) GROUP BY term
    """,
    "text_doc_frequency": f"""
        SELECT term,
               count(DISTINCT doc_id) AS doc_freq,
               count(*) AS collection_freq
        FROM (
          SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents
        ) GROUP BY term
    """,
    "text_normalize": f"""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com via https://ex.io/d/' || CAST(doc_id AS VARCHAR)
                      || ' tel ' || lpad(CAST(doc_id AS VARCHAR), 9, '0') AS text
          FROM documents
        ), norm AS (
          SELECT doc_id,
                 lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text
          FROM aug
        )
        SELECT doc_id, norm_text,
               CAST(len(regexp_extract_all(norm_text, '{T.PII_PATTERNS["url"]}')) AS BIGINT) AS n_url,
               CAST(len(regexp_extract_all(norm_text, '{T.PII_PATTERNS["email"]}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(norm_text, '{T.PII_PATTERNS["longnum"]}')) AS BIGINT) AS n_longnum,
               regexp_replace(regexp_replace(regexp_replace(norm_text,
                 '{T.PII_PATTERNS["url"]}', '{T.PII_TOKENS["url"]}', 'g'),
                 '{T.PII_PATTERNS["email"]}', '{T.PII_TOKENS["email"]}', 'g'),
                 '{T.PII_PATTERNS["longnum"]}', '{T.PII_TOKENS["longnum"]}', 'g') AS red_text
        FROM norm
    """,
    "vocab_oov": f"""
        WITH ex AS (
          SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents
        ), vocab AS (
          SELECT term FROM (
            SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1
          ) WHERE df >= {VOCAB_MIN_DF}
        )
        SELECT ex.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_oov,
               CAST(FLOOR(10000 * SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                    / count(*)) AS BIGINT) AS oov_bp
        FROM ex LEFT JOIN vocab v ON ex.term = v.term
        GROUP BY ex.doc_id
    """,
    "keyword_topk": f"""
        WITH toks AS (
          SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents
        ), g AS (
          SELECT doc_id, term, count(*) AS term_count FROM toks GROUP BY 1, 2
        ), r AS (
          SELECT doc_id, term, CAST(term_count AS BIGINT) AS term_count,
                 CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY term_count DESC, term ASC
                 ) AS BIGINT) AS rnk
          FROM g
        )
        SELECT doc_id, term, term_count, rnk FROM r WHERE rnk <= 5
    """,
}

# TF-IDF / BM25 / surprisal twins.  Arithmetic mirrors operators/text.py
# expression-for-expression: dyadic idf via length(bin(x))-1, identical
# double-literal constants, identical left-associated operation order, so
# every FLOOR sees a bit-identical double in both engines.

ORACLES["tfidf_topk"] = f"""
    WITH ex AS (
      SELECT doc_id AS id, unnest({DUCK_TOKENS}) AS term FROM documents
    ), tf AS (
      SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM ex GROUP BY 1, 2
    ), dl AS (
      SELECT id, CAST(count(*) AS BIGINT) AS dl FROM ex GROUP BY 1
    ), dfreq AS (
      SELECT term, count(DISTINCT id) AS df FROM ex GROUP BY 1
    ), nd AS (
      SELECT CAST(count(DISTINCT id) AS BIGINT) AS n_docs FROM ex
    ), scored AS (
      SELECT tf.id AS doc_id, tf.term, tf.tf,
             CAST({_dyadic_log2_sql('n_docs // df')} AS BIGINT) AS idf2,
             CAST(FLOOR(10000.0 * tf.tf * {_dyadic_log2_sql('n_docs // df')}
                  / dl.dl) AS BIGINT) AS tfidf_bp
      FROM tf JOIN dl ON tf.id = dl.id
              JOIN dfreq ON tf.term = dfreq.term
              CROSS JOIN nd
    ), r AS (
      SELECT doc_id, term, tf, idf2, tfidf_bp,
             CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf_bp DESC, term ASC
             ) AS BIGINT) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tf, idf2, tfidf_bp, rnk FROM r WHERE rnk <= 5
"""

_BM25_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS) + ")"

ORACLES["bm25_topk"] = f"""
    WITH ex AS (
      SELECT doc_id AS id, unnest({DUCK_TOKENS}) AS term FROM documents
    ), hits AS (
      SELECT * FROM ex WHERE term IN {_BM25_TERMS_SQL}
    ), tf AS (
      SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM hits GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(DISTINCT id) AS df FROM hits GROUP BY 1
    ), dl AS (
      SELECT id, CAST(count(*) AS BIGINT) AS dl FROM ex GROUP BY 1
    ), scalars AS (
      SELECT CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS total_toks
      FROM ex
    ), partial AS (
      SELECT tf.id,
             CAST(FLOOR(
               1000000.0
               * {_dyadic_log2_sql('n_docs // df')}
               * (tf.tf * {T.BM25_K1 + 1.0!r})
               / (tf.tf + {T.BM25_K1!r}
                  * ({1.0 - T.BM25_B!r}
                     + {T.BM25_B!r} * dl.dl / (total_toks / n_docs)))
             ) AS BIGINT) AS partial_micro
      FROM tf JOIN dl ON tf.id = dl.id
              JOIN dfreq ON tf.term = dfreq.term
              CROSS JOIN scalars
    ), scores AS (
      SELECT id, CAST(SUM(partial_micro) AS BIGINT) AS bm25_micro,
             CAST(count(*) AS BIGINT) AS n_matched_terms
      FROM partial GROUP BY id
    ), r AS (
      SELECT id AS doc_id, bm25_micro, n_matched_terms,
             CAST(row_number() OVER (
               ORDER BY bm25_micro DESC, id ASC
             ) AS BIGINT) AS rnk
      FROM scores
    )
    SELECT doc_id, bm25_micro, n_matched_terms, rnk FROM r WHERE rnk <= 10
"""

ORACLES["unigram_surprisal"] = f"""
    WITH ex AS (
      SELECT doc_id AS id, unnest({DUCK_TOKENS}) AS term FROM documents
    ), cf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cf FROM ex GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS total_toks FROM ex
    ), info AS (
      SELECT ex.id,
             CAST({_dyadic_log2_sql('total_toks // cf')} AS BIGINT) AS tok_info
      FROM ex JOIN cf ON ex.term = cf.term CROSS JOIN tot
    )
    SELECT id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(tok_info) AS BIGINT) AS total_info_bits,
           CAST(FLOOR(10000 * CAST(SUM(tok_info) AS BIGINT) / count(*))
                AS BIGINT) AS mean_info_bp
    FROM info GROUP BY id
"""

ORACLES["token_zipf"] = f"""
    WITH ex AS (
      SELECT unnest({DUCK_TOKENS}) AS term FROM documents
    ), hist AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM ex GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS t FROM hist
    ), head AS (
      SELECT term, cnt FROM hist ORDER BY cnt DESC, term ASC LIMIT {ZIPF_K}
    )
    SELECT term, cnt,
           CAST(row_number() OVER w AS BIGINT) AS rank,
           CAST(FLOOR(10000 * cnt / t) AS BIGINT) AS coverage_bp,
           CAST(FLOOR(10000 * sum(cnt) OVER (
                  ORDER BY cnt DESC, term ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) / t) AS BIGINT) AS cum_coverage_bp
    FROM head CROSS JOIN tot
    WINDOW w AS (ORDER BY cnt DESC, term ASC)
"""


HH_THRESHOLD_BP = 50  # tokens covering >= 0.5% of the corpus stream


def q_heavy_hitters(spark, sf_dir):
    """Exact corpus heavy-hitter tokens
    (operators/aggregates.heavy_hitters): Misra-Gries candidates per
    partition + exact recount — same answer as a full groupBy, without
    the full-vocabulary shuffle."""
    from real_time_data_pipeline_spark.operators.aggregates import (
        heavy_hitters,
    )
    from real_time_data_pipeline_spark.operators.dedup import tokens_col

    toks = _docs(spark, sf_dir).select(
        F.explode(tokens_col("text")).alias("token")
    )
    return heavy_hitters(toks, "token", threshold_bp=HH_THRESHOLD_BP)


QUERIES["heavy_hitters"] = q_heavy_hitters

ORACLES["heavy_hitters"] = f"""
    WITH toks AS (
      SELECT unnest({DUCK_TOKENS}) AS token FROM documents
    ), t AS (SELECT count(*) AS n_total FROM toks)
    SELECT token,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(any_value(t.n_total) AS BIGINT) AS n_total
    FROM toks, t
    GROUP BY token
    HAVING 1e4 * count(*) >= {HH_THRESHOLD_BP} * any_value(t.n_total)
"""


def q_stream_heavy_hitters(spark, sf_dir):
    """Streaming twin of `heavy_hitters` on the SAME exact oracle: the
    corpus ARRIVES AS A STREAM (staged as 8 files, maxFilesPerTrigger=1
    → 8 real micro-batches), each batch's per-partition Misra-Gries
    summaries (operators/aggregates.mg_summary — the distributed pass
    of the batch operator) fold into ONE k-counter driver state via the
    mergeable-summaries property (mg_merge_counts: merge = add counts,
    subtract the (k+1)-th largest, drop non-positive — the guarantee
    that every item with global count > N/(k+1) survives holds for ANY
    merge tree, so batch boundaries cannot evict a true heavy hitter).
    The drained state's candidate set (≤ k items) is exactly recounted
    against the static corpus (broadcast semi-join) and filtered by the
    integer threshold — hash-identical to the batch answer.  At 100 TB
    this is the monitoring shape: per-batch summaries are tiny
    (≤ k·partitions rows), history is never re-scanned, and only the
    final recount touches the corpus once."""
    import math

    from real_time_data_pipeline_spark.operators.aggregates import (
        mg_merge_counts,
        mg_summary,
    )
    from real_time_data_pipeline_spark.operators.dedup import tokens_col
    from real_time_data_pipeline_spark.queries.reference_parity import (
        capture_stage,
        drain,
    )

    k = math.ceil(10_000 / HH_THRESHOLD_BP)
    stage = capture_stage(spark, "stream_hh_docs")
    _docs(spark, sf_dir).repartition(8).write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema

    state = {"counts": {}, "n_total": 0}

    def fold(batch, _i):
        toks = batch.select(F.explode(tokens_col("text")).alias("token"))
        rows = mg_summary(toks, "token", k).collect()  # ≤ k·partitions rows
        state["n_total"] += sum(r["n"] for r in rows if r["item"] is None)
        state["counts"] = mg_merge_counts(
            state["counts"],
            ((r["item"], r["n"]) for r in rows if r["item"] is not None),
            k,
        )

    drain(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage),
        "stream_heavy_hitters",
        fold,
    )

    n_total = state["n_total"]
    cand = local_frame(spark, [(t,) for t in state["counts"]], "item string")
    toks_static = _docs(spark, sf_dir).select(
        F.explode(tokens_col("text")).alias("item")
    )
    return (
        toks_static.join(F.broadcast(cand), "item")
        .groupBy("item")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
        .filter(
            F.lit(10_000) * F.col("n_occurrences")
            >= F.lit(HH_THRESHOLD_BP) * F.lit(n_total)
        )
        .select(
            F.col("item").alias("token"),
            "n_occurrences",
            F.lit(n_total).cast("bigint").alias("n_total"),
        )
    )


QUERIES["stream_heavy_hitters"] = q_stream_heavy_hitters
ORACLES["stream_heavy_hitters"] = ORACLES["heavy_hitters"]


SEARCH_TERMS = ["hash", "join", "filter"]
SEARCH_K = 20


def q_keyword_search(spark, sf_dir):
    """Conjunctive keyword search over the postings index
    (operators/text.inverted_index + conjunctive_search): docs
    containing ALL query terms, top-20 by summed term frequency."""
    idx = T.inverted_index(_docs(spark, sf_dir))
    return T.conjunctive_search(idx, SEARCH_TERMS, k=SEARCH_K)


def q_language_mixing(spark, sf_dir):
    """Code-switching audit (operators/text.language_mixing): languages
    hit + second-best/best stopword-score ratio per doc."""
    return T.language_mixing(_docs(spark, sf_dir))


QUERIES["language_mixing"] = q_language_mixing

ORACLES["language_mixing"] = f"""
    WITH s AS (
      SELECT doc_id,
             CAST({_SCORES['de']} AS BIGINT) AS s_de,
             CAST({_SCORES['en']} AS BIGINT) AS s_en,
             CAST({_SCORES['es']} AS BIGINT) AS s_es,
             CAST({_SCORES['fr']} AS BIGINT) AS s_fr,
             {_ARGMAX} AS predicted_lang
      FROM documents
    ),
    m AS (
      SELECT doc_id, predicted_lang,
             CAST((CASE WHEN s_de > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN s_en > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN s_es > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN s_fr > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_langs_hit,
             list_sort([s_de, s_en, s_es, s_fr])[4] AS top_score,
             list_sort([s_de, s_en, s_es, s_fr])[3] AS second_score
      FROM s
    )
    SELECT doc_id, predicted_lang, n_langs_hit,
           CAST(top_score AS BIGINT) AS top_score,
           CAST(second_score AS BIGINT) AS second_score,
           CAST(CASE WHEN top_score > 0
                     THEN FLOOR(10000 * second_score / top_score)
                     ELSE 0 END AS BIGINT) AS mixing_bp
    FROM m
"""


def q_readability(spark, sf_dir):
    """Integer Flesch-style readability proxy per document
    (operators/text.readability)."""
    return T.readability(_docs(spark, sf_dir))


QUERIES["readability"] = q_readability

ORACLES["readability"] = f"""
    WITH b AS (
      SELECT doc_id,
             greatest(len({DUCK_TOKENS}), 1) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sent,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_vruns
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(n_words AS BIGINT) AS n_words,
             CAST(n_sent AS BIGINT) AS n_sentences,
             CAST(n_vruns AS BIGINT) AS n_vowel_runs,
             CAST(FLOOR(1000 * n_words / n_sent) AS BIGINT)
                 AS words_per_sentence_milli,
             CAST(FLOOR(1000 * n_vruns / n_words) AS BIGINT)
                 AS syllables_per_word_milli
      FROM b
    )
    SELECT *,
           CAST(206835
                - FLOOR(1015 * words_per_sentence_milli / 1000)
                - FLOOR(84600 * syllables_per_word_milli / 1000)
                AS BIGINT) AS flesch_milli
    FROM m
"""


def q_source_divergence(spark, sf_dir):
    """Per-source dyadic-bits divergence from the corpus unigram model
    (operators/text.source_divergence)."""
    return T.source_divergence(_docs(spark, sf_dir))


QUERIES["source_divergence"] = q_source_divergence

ORACLES["source_divergence"] = f"""
    WITH ex AS (
      SELECT source AS src, unnest({DUCK_TOKENS}) AS term FROM documents
    ), cf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cf FROM ex GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS total_toks FROM ex
    ), scf AS (
      SELECT src, term, CAST(count(*) AS BIGINT) AS scf
      FROM ex GROUP BY 1, 2
    ), stot AS (
      SELECT src, CAST(count(*) AS BIGINT) AS stotal FROM ex GROUP BY 1
    ), j AS (
      SELECT s.src, st.stotal,
             CAST(s.scf * ({_dyadic_log2_sql('total_toks // cf')}
                  - {_dyadic_log2_sql('stotal // scf')}) AS BIGINT) AS c
      FROM scf s JOIN cf ON s.term = cf.term
      JOIN stot st ON s.src = st.src CROSS JOIN tot
    )
    SELECT src AS source,
           CAST(MAX(stotal) AS BIGINT) AS n_tokens,
           CAST(SUM(c) AS BIGINT) AS excess_bits,
           CAST(FLOOR(10000 * CAST(SUM(c) AS BIGINT) / MAX(stotal))
                AS BIGINT) AS mean_excess_bp
    FROM j GROUP BY 1
"""


QUERIES["keyword_search"] = q_keyword_search


def q_keyword_search_indexed(spark, sf_dir):
    """Same conjunctive search served from the PERSISTED bucket-
    partitioned index (operators/text.build_search_index /
    search_index_query): query terms hash to bucket ids, the read
    prunes to those partitions, ranking identical to the direct path —
    same oracle, hash-equal."""
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
        f"search_index_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    T.build_search_index(_docs(spark, sf_dir), path)
    return T.search_index_query(spark, path, SEARCH_TERMS, k=SEARCH_K)


QUERIES["keyword_search_indexed"] = q_keyword_search_indexed

ORACLES["keyword_search"] = f"""
    WITH toks AS (
      SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents
    ), postings AS (
      SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
    )
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tf_sum
    FROM postings
    WHERE term IN ('hash', 'join', 'filter')
    GROUP BY doc_id
    HAVING count(DISTINCT term) = 3
    ORDER BY tf_sum DESC, doc_id
    LIMIT {SEARCH_K}
"""

# index path == direct path: same ranking semantics, same oracle
ORACLES["keyword_search_indexed"] = ORACLES["keyword_search"]


BPE_N_MERGES = 10


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE merge-table learning
    (operators/text.learn_bpe_merges) — rows-only: the merge loop is
    iterative/driver-coordinated, outside SQL; determinism (count-desc,
    lexicographic tie-break) and the Sennrich hand example are pinned in
    tests/test_analytics_ops.py."""
    return T.learn_bpe_merges(_docs(spark, sf_dir), n_merges=BPE_N_MERGES)


QUERIES["bpe_merges"] = q_bpe_merges  # rows-only (iterative)


def q_bpe_vocab(spark, sf_dir):
    """Learned-BPE subword frequency table
    (operators/text.learn_bpe_merges + apply_bpe_tokens) — rows-only
    (iterative learner upstream); segmentation correctness pinned in
    tests/test_analytics_ops.py."""
    docs = _docs(spark, sf_dir)
    m = T.learn_bpe_merges(docs, n_merges=BPE_N_MERGES)
    pairs = [
        (r["left"], r["right"])
        for r in m.orderBy("merge_rank").collect()
    ]
    return T.apply_bpe_tokens(docs, pairs)


QUERIES["bpe_vocab"] = q_bpe_vocab  # rows-only (iterative)


def q_quality_model(spark, sf_dir):
    """Linear quality-classifier scores
    (operators/text.quality_logit_score): integer micro-unit dot
    product in codegen, engine-exact."""
    return T.quality_logit_score(_docs(spark, sf_dir))


QUERIES["quality_model"] = q_quality_model

ORACLES["quality_model"] = f"""
    WITH feat AS (
      SELECT doc_id,
             len({DUCK_TOKENS}) AS n_tokens,
             len(list_filter({DUCK_TOKENS},
                 t -> list_contains({_stop_list('en')}, t))) AS n_stop,
             list_sum(list_transform({DUCK_TOKENS}, t -> length(t)))
                 AS tok_chars
      FROM documents
    ), x AS (
      SELECT doc_id,
             LEAST(1000, n_tokens) AS x_len,
             CAST(FLOOR(1e4 * n_stop / n_tokens) AS BIGINT) AS x_stop,
             ABS(CAST(FLOOR(100 * tok_chars / n_tokens) AS BIGINT) - 450)
                 AS x_shape
      FROM feat
    )
    SELECT doc_id,
           CAST(-120000 + 150 * x_len + 25 * x_stop - 90 * x_shape
                AS BIGINT) AS score_micro,
           (-120000 + 150 * x_len + 25 * x_stop - 90 * x_shape) >= 0
               AS keep_model
    FROM x
"""


def q_embed_search(spark, sf_dir):
    """Full text→vector→search pipeline: feature-hash embeddings
    (operators/text.hash_embed) + exact cosine top-10 for doc 0
    (operators/similarity.cosine_topk).  Oracle-backed since round 6 via
    the portable sha256 hash family: token→(dim, sign) comes from one
    sha256 digest, ±1 sums are integer-valued doubles (exact in any
    aggregation order), and the norm divides identical doubles, so the
    embedding arrays — and therefore the cosine ranks and basis points —
    are bit-identical to the DuckDB recomputation.  The xxhash64 fast
    path stays the scale default and its determinism stays pinned in
    pytest."""
    from real_time_data_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    emb = T.hash_embed(_docs(spark, sf_dir), portable=True).select(
        "doc_id", "embedding"
    )
    q = emb.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return cosine_topk(
        emb, q, k=10, id_col="doc_id", vec_col="embedding"
    )


QUERIES["embed_search"] = q_embed_search  # oracle-backed (portable sha256)

# Full independent recomputation of the feature-hash encoder + cosine
# top-k (twin of operators/text.hash_embed(portable=True) +
# operators/similarity.cosine_topk).  Dimension = fold of the first 15
# sha256 hex chars mod 64; sign = parity of the 16th nibble; dense
# 64-dim vector via a range() grid left join; cosine via the same
# sequential-double list pipeline as the ann_* oracles.


def _fold_hex(col: str, nchars: int) -> str:
    """Ascii-fold the first ``nchars`` chars of an EXISTING lowercase-hex
    column into a bigint (queries/dedup.duck_hexfold_n folds sha256 of a
    raw value; this folds a digest column that's already materialized)."""
    hv = lambda i: (  # noqa: E731
        f"(CASE WHEN ascii(substr({col}, {i}, 1)) >= 97 "
        f"THEN CAST(ascii(substr({col}, {i}, 1)) AS BIGINT) - 87 "
        f"ELSE CAST(ascii(substr({col}, {i}, 1)) AS BIGINT) - 48 END)"
    )
    folded = hv(1)
    for i in range(2, nchars + 1):
        folded = f"({folded} * 16 + {hv(i)})"
    return folded


_DUCK_COS = """
  list_sum(list_transform(list_zip(c.embedding, q.embedding),
           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
  (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
   sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""

# The portable-encoder CTE chain (token → sha256 → (dim, sign) → dense
# unit vector), ONE generator shared by embed_search and hybrid_rrf so
# the encoder recipe can never drift between oracles.  ``src`` must
# expose (doc_id, tok).
def _duck_vec_ctes(src: str, tag: str) -> str:
    return f"""
    {tag}hx AS (
      SELECT doc_id, sha256(tok) AS h FROM {src}
    ),
    {tag}hashed AS (
      SELECT doc_id,
             {_fold_hex('h', 15)} % 64 AS d,
             CASE WHEN ({_fold_hex("substr(h, 16, 1)", 1)}) % 2 = 0
                  THEN CAST(1 AS DOUBLE)
                  ELSE CAST(-1 AS DOUBLE) END AS sgn
      FROM {tag}hx
    ),
    {tag}sums AS (
      SELECT doc_id, d, SUM(sgn) AS s FROM {tag}hashed GROUP BY 1, 2
    ),
    {tag}grid AS (
      SELECT doc_id, CAST(r.range AS BIGINT) AS d
      FROM (SELECT DISTINCT doc_id FROM {tag}sums), range(64) r
    ),
    {tag}dense AS (
      SELECT g.doc_id, g.d, COALESCE(s.s, CAST(0 AS DOUBLE)) AS s
      FROM {tag}grid g
      LEFT JOIN {tag}sums s ON g.doc_id = s.doc_id AND g.d = s.d
    ),
    {tag}norms AS (
      SELECT doc_id, sqrt(SUM(s * s)) AS nrm FROM {tag}dense GROUP BY 1
    ),
    {tag}vec AS (
      SELECT d.doc_id,
             list(CASE WHEN n.nrm > 0 THEN d.s / n.nrm
                       ELSE CAST(0 AS DOUBLE) END ORDER BY d.d) AS embedding
      FROM {tag}dense d JOIN {tag}norms n ON d.doc_id = n.doc_id
      GROUP BY d.doc_id, n.nrm
    )"""


ORACLES["embed_search"] = f"""
    WITH toks AS (
      SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents
    ),
    {_duck_vec_ctes('toks', '')}
    SELECT query_id, rank, neighbor_id, cos_bp FROM (
      SELECT q.doc_id AS query_id,
             c.doc_id AS neighbor_id,
             CAST(FLOOR(1e4 * ({_DUCK_COS})) AS BIGINT) AS cos_bp,
             row_number() OVER (PARTITION BY q.doc_id
                                ORDER BY ({_DUCK_COS}) DESC, c.doc_id ASC)
                 AS rank
      FROM vec c, vec q
      WHERE q.doc_id = 0 AND c.doc_id != q.doc_id
        -- cosine_topk excludes zero-norm vectors (undefined cosine)
        AND list_sum(list_transform(c.embedding, x -> x * x)) > 0
        AND list_sum(list_transform(q.embedding, x -> x * x)) > 0
    ) WHERE rank <= 10
"""


RRF_K = 60  # Cormack et al. 2009's smoothing constant
RRF_SCALE = 1 << 20  # integer RRF: score term = floor(2^20 / (K + rank))


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    Büttcher, SIGIR 2009): the SAME query — the ``BM25_QUERY_TERMS``
    bag — runs down the lexical leg (``bm25_topk``, integer-micro BM25)
    and the semantic leg (portable feature-hash encoder on the query
    text + exact cosine, the ``embed_search`` machinery), and the two
    certified top-10 lists fuse with integer RRF:
    ``floor(2^20/(60+rank))`` summed over the legs a doc appears in —
    exact in any engine, no float weights to tune.  Output: the union
    of both lists re-ranked by fused score (rank_lex / rank_sem NULL
    where a leg missed the doc).

    Scale shape: each leg is its own certified query (corpus-scale
    work lives there); the fusion itself joins two k-row frames and
    windows over <= 2k rows — free at any corpus size, which is
    exactly why RRF is the production hybrid default."""
    from real_time_data_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    docs = _docs(spark, sf_dir)
    lex = T.bm25_topk(docs, BM25_QUERY_TERMS, k=10).select(
        "doc_id", F.col("rnk").alias("rank_lex")
    )
    emb = T.hash_embed(docs, portable=True).select("doc_id", "embedding")
    qdf = local_frame(
        spark, [(-1, " ".join(BM25_QUERY_TERMS))], "doc_id long, text string"
    )
    qvec = T.hash_embed(qdf, portable=True).select(
        F.col("doc_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    sem = cosine_topk(
        emb, qvec, k=10, id_col="doc_id", vec_col="embedding"
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rank_sem"))
    term = lambda r: F.coalesce(  # noqa: E731
        F.expr(f"{RRF_SCALE} div ({RRF_K} + {r})"), F.lit(0)
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .withColumn(
            "rrf_micro",
            (term("rank_lex") + term("rank_sem")).cast("bigint"),
        )
        .withColumn(
            "fused_rank",
            F.row_number().over(
                W.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
            ).cast("bigint"),
        )
    )
    return fused.select(
        "doc_id", "rank_lex", "rank_sem", "rrf_micro", "fused_rank"
    )


QUERIES["hybrid_rrf"] = q_hybrid_rrf

_RRF_TERMS_LIST = "[" + ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS) + "]"

ORACLES["hybrid_rrf"] = f"""
    WITH lex AS (
      SELECT doc_id, rnk AS rank_lex FROM ({ORACLES['bm25_topk']})
    ),
    toks AS (
      SELECT doc_id, unnest({DUCK_TOKENS}) AS tok FROM documents
    ),
    {_duck_vec_ctes('toks', '')},
    qtoks AS (
      SELECT CAST(-1 AS BIGINT) AS doc_id,
             unnest({_RRF_TERMS_LIST}) AS tok
    ),
    {_duck_vec_ctes('qtoks', 'q')},
    sem AS (
      SELECT neighbor_id AS doc_id, rank AS rank_sem FROM (
        SELECT c.doc_id AS neighbor_id,
               row_number() OVER (
                 ORDER BY ({_DUCK_COS}) DESC, c.doc_id ASC
               ) AS rank
        FROM vec c, qvec q
        WHERE list_sum(list_transform(c.embedding, x -> x * x)) > 0
          AND list_sum(list_transform(q.embedding, x -> x * x)) > 0
      ) WHERE rank <= 10
    )
    SELECT doc_id,
           CAST(rank_lex AS BIGINT) AS rank_lex,
           CAST(rank_sem AS BIGINT) AS rank_sem,
           CAST(COALESCE({RRF_SCALE} // ({RRF_K} + rank_lex), 0)
                + COALESCE({RRF_SCALE} // ({RRF_K} + rank_sem), 0)
                AS BIGINT) AS rrf_micro,
           CAST(row_number() OVER (
             ORDER BY COALESCE({RRF_SCALE} // ({RRF_K} + rank_lex), 0)
                      + COALESCE({RRF_SCALE} // ({RRF_K} + rank_sem), 0)
                      DESC, doc_id ASC
           ) AS BIGINT) AS fused_rank
    FROM lex FULL OUTER JOIN sem USING (doc_id)
"""


COLLOC_MIN_COUNT = 3


def q_collocations(spark, sf_dir):
    """Adjacent-token collocations over the document corpus scored by
    exact integer lift (operators/text.bigram_collocations): bigrams
    built in list space (no explode-join, no window), slot-count
    contingency baseline, min_count=3 deterministic set — the
    phrase-mining signal next to the tf-idf/BM25 tier."""
    docs = _docs(spark, sf_dir)
    return T.bigram_collocations(
        docs, "doc_id", "text", min_count=COLLOC_MIN_COUNT
    )


QUERIES["collocations"] = q_collocations
ORACLES["collocations"] = f"""
    WITH toks AS (
      SELECT {DUCK_TOKENS} AS t FROM documents
    ),
    bg AS (
      SELECT string_split(bgs, ' ')[1] AS tok_a,
             string_split(bgs, ' ')[2] AS tok_b
      FROM (
        SELECT unnest(list_transform(
                 range(1, greatest(len(t) - 1, 0) + 1),
                 i -> array_to_string(t[i:i+1], ' '))) AS bgs
        FROM toks
      )
      WHERE string_split(bgs, ' ')[1] <> ''
        AND string_split(bgs, ' ')[2] <> ''
    ),
    pair AS (
      SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_ab
      FROM bg GROUP BY 1, 2
      HAVING count(*) >= {COLLOC_MIN_COUNT}
    ),
    fc AS (SELECT tok_a, CAST(count(*) AS BIGINT) AS n_a FROM bg GROUP BY 1),
    sc AS (SELECT tok_b, CAST(count(*) AS BIGINT) AS n_b FROM bg GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_bigrams FROM bg)
    SELECT p.tok_a, p.tok_b, p.n_ab, fc.n_a, sc.n_b, tot.n_bigrams,
           CAST((CAST(10000 AS HUGEINT) * p.n_ab * tot.n_bigrams)
                // (fc.n_a * sc.n_b) AS BIGINT) AS lift_bp
    FROM pair p
    JOIN fc USING (tok_a)
    JOIN sc USING (tok_b)
    CROSS JOIN tot
"""


# ------------------------------------------------------ count-min sketch

def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch certified against exact counts
    (operators/text.cms_heavy_hitters): top-100 tokens by exact count
    with their CMS estimates and overestimate in bp.  The deterministic
    salted-sha256 rows make the ESTIMATE itself engine-reproducible, so
    the oracle recomputes the whole 4x2048 sketch in DuckDB — a
    stronger certification than the probabilistic envelope.  The
    overestimating dual of `heavy_hitters` (Misra-Gries, which
    underestimates): together they bracket the truth."""
    docs = _docs(spark, sf_dir)
    return T.cms_heavy_hitters(docs)


QUERIES["cms_heavy_hitters"] = q_cms_heavy_hitters

_CMS_HASH = duck_hexfold_n("(CAST(js.j AS VARCHAR) || ':' || tok)", 15)
_CMS_HASH_TERM = duck_hexfold_n("(CAST(js.j AS VARCHAR) || ':' || term)", 15)

ORACLES["cms_heavy_hitters"] = f"""
    WITH vocab AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY 1
    ),
    js AS (SELECT CAST(v AS INT) AS j FROM (VALUES (0),(1),(2),(3)) t(v)),
    fan AS (
      SELECT tok, cnt, js.j,
             CAST({_CMS_HASH} AS BIGINT) % 2048 AS b
      FROM vocab, js
    ),
    cms AS (
      SELECT j, b, CAST(SUM(cnt) AS BIGINT) AS c FROM fan GROUP BY 1, 2
    ),
    top AS (
      SELECT tok AS term, cnt AS exact_count FROM vocab
      ORDER BY cnt DESC, tok LIMIT 100
    ),
    probe AS (
      SELECT term, exact_count, js.j,
             CAST({_CMS_HASH_TERM} AS BIGINT) % 2048 AS b
      FROM top, js
    ),
    est AS (
      SELECT term, exact_count, CAST(MIN(c) AS BIGINT) AS cms_count
      FROM probe JOIN cms USING (j, b) GROUP BY 1, 2
    )
    SELECT term, exact_count, cms_count,
           CAST((10000 * (cms_count - exact_count)) // exact_count
                AS BIGINT) AS over_bp
    FROM est
"""


PHRASE = ["fast", "join"]


def q_phrase_search(spark, sf_dir):
    """Exact phrase search over positional postings
    (operators/text.positional_index + phrase_search): the adjacency
    equi-join on (doc, shifted position), each leg pruned to one
    term's postings — phrase/proximity capability on top of the
    conjunctive/BM25 tier."""
    idx = T.positional_index(_docs(spark, sf_dir))
    return T.phrase_search(idx, PHRASE, k=20)


QUERIES["phrase_search"] = q_phrase_search

_PHRASE_RANGE = "range(1, greatest(len(t) - 1, 0) + 1)"

ORACLES["phrase_search"] = f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
    ),
    nh AS (
      SELECT doc_id,
             CAST(len(list_filter({_PHRASE_RANGE},
                  i -> t[i] = '{PHRASE[0]}' AND t[i + 1] = '{PHRASE[1]}'))
                  AS BIGINT) AS n_hits
      FROM t
    )
    SELECT doc_id, n_hits,
           CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id)
                AS BIGINT) AS rank
    FROM nh WHERE n_hits > 0
    ORDER BY rank LIMIT 20
"""


PROX_SPAN = 10


def q_proximity_search(spark, sf_dir):
    """Proximity (slop) search (operators/text.proximity_search): docs
    where all of SEARCH_TERMS co-occur inside a 10-token window,
    ranked by the tightest window — the minimal-covering-window scan
    as running per-term last-position columns, one pass over the
    pruned postings, no self-join."""
    idx = T.positional_index(_docs(spark, sf_dir))
    return T.proximity_search(idx, SEARCH_TERMS, max_span=PROX_SPAN, k=20)


QUERIES["proximity_search"] = q_proximity_search


def _prox_oracle() -> str:
    terms = [t.lower() for t in SEARCH_TERMS]
    in_list = ", ".join(f"'{t}'" for t in terms)
    lasts = ",\n             ".join(
        f"MAX(CASE WHEN term = '{t}' THEN pos END) OVER w AS l{i}"
        for i, t in enumerate(terms)
    )
    not_null = " AND ".join(f"l{i} IS NOT NULL" for i in range(len(terms)))
    least = ", ".join(f"l{i}" for i in range(len(terms)))
    return f"""
    WITH base AS (
      SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
    ),
    pos AS (
      SELECT doc_id,
             CAST(unnest(range(1, len(t) + 1)) AS BIGINT) AS pos,
             unnest(t) AS term
      FROM base
    ),
    pruned AS (
      SELECT doc_id, pos, term FROM pos WHERE term IN ({in_list})
    ),
    lasts AS (
      SELECT doc_id, pos,
             {lasts}
      FROM pruned
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    best AS (
      SELECT doc_id,
             CAST(MIN(pos - LEAST({least}) + 1) AS BIGINT) AS min_span
      FROM lasts WHERE {not_null}
      GROUP BY 1
    )
    SELECT doc_id, min_span,
           CAST(row_number() OVER (ORDER BY min_span, doc_id) AS BIGINT)
               AS rank
    FROM best WHERE min_span <= {PROX_SPAN}
    ORDER BY rank LIMIT 20
"""


ORACLES["proximity_search"] = _prox_oracle()
