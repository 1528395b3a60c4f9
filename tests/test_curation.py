"""Dataset-curation operators: repetition stats, decontamination,
deterministic source mixing, sequence packing.

Oracle coverage lives in queries/curation.py (all four queries are
DuckDB-hash-checked by tools/parity.py); here we pin the operator
semantics on handcrafted corpora where the right answer is computable by
eye, plus a hypothesis property for the packing invariants.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from real_time_data_pipeline_spark.operators import curation


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_repetition_stats_flags_repeated_doc(spark):
    rows = [
        # 12 alternating tokens: "a b" takes 6 of 11 2-gram slots
        # (floor(1e4*6/11) = 5454) and every 5-gram is duplicated.
        (1, "s", "a b a b a b a b a b a b"),
        # all 2-grams and 5-grams distinct -> 0 dup, top 2-gram 1/7.
        (2, "s", "one two three four five six seven eight"),
    ]
    got = {
        r["doc_id"]: r.asDict()
        for r in curation.repetition_stats(_docs(spark, rows)).collect()
    }
    assert got[1]["top_2gram_bp"] == 5454
    assert got[1]["dup_5gram_bp"] == 10000
    assert got[1]["keep_repetition"] is False
    assert got[2]["top_2gram_bp"] == 1428  # floor(1e4 * 1/7)
    assert got[2]["dup_5gram_bp"] == 0
    assert got[2]["keep_repetition"] is True


def test_repetition_short_doc_single_gram(spark):
    # 1 token: ngrams_col pads to one whole-text gram at both sizes.
    got = curation.repetition_stats(_docs(spark, [(1, "s", "word")])).collect()[0]
    assert got["top_2gram_bp"] == 10000
    assert got["dup_5gram_bp"] == 0


def test_decontaminate_counts_shared_ngrams(spark):
    bench_text = "w1 w2 w3 w4 w5 w6 w7 w8 w9"  # 2 distinct 8-grams
    rows = [
        (1, "train", bench_text),          # identical: every gram shared
        (2, "train", "x1 x2 x3 x4 x5 x6 x7 x8 x9"),  # disjoint
    ]
    bench = _docs(spark, [(100, "bench", bench_text)])
    got = {
        r["doc_id"]: r.asDict()
        for r in curation.decontaminate(_docs(spark, rows), bench).collect()
    }
    assert got[1]["n_grams"] == 2 and got[1]["shared_grams"] == 2
    assert got[1]["shared_bp"] == 10000 and got[1]["keep_decontaminated"] is False
    assert got[2]["shared_grams"] == 0 and got[2]["keep_decontaminated"] is True


def test_decontaminate_substr_runs_and_coverage(spark):
    """Hand-checkable ExactSubstr fixture at min_len=10: a doc quoting
    a benchmark span verbatim mid-text, a clean doc, a doc shorter than
    the window, and whitespace-reflow tolerance."""
    bench_text = "the quick brown fox jumps over the lazy dog"
    rows = [
        # quotes a 20-char benchmark substring inside otherwise-clean
        # text: "quick brown fox jump" appears at norm positions …
        (1, "train", "zz0 zz1 quick brown fox jumps zz2 zz3 zz4"),
        (2, "train", "completely unrelated body with no overlap at all"),
        (3, "train", "short doc"),  # 9 chars < min_len -> 0 windows
        # whitespace reflow of doc 1's quote (tabs + double spaces)
        (4, "train", "zz0  zz1\tquick  brown fox jumps zz2 zz3 zz4"),
    ]
    bench = _docs(spark, [(100, "bench", bench_text)])
    got = {
        r["doc_id"]: r.asDict()
        for r in curation.decontaminate_substr(
            _docs(spark, rows), bench, min_len=10, max_covered_bp=2000
        ).collect()
    }
    # Expected run/coverage stats come from a per-char brute force over
    # the same normalization — the sequential reference the distributed
    # operator must reproduce.
    def brute(doc, bench_s, L=10):
        import re

        nd = re.sub(r"\s+", " ", doc.strip()).lower()
        nb = re.sub(r"\s+", " ", bench_s.strip()).lower()
        bset = {nb[i : i + L] for i in range(len(nb) - L + 1)}
        hitpos = [
            i for i in range(len(nd) - L + 1) if nd[i : i + L] in bset
        ]
        # TRUE union of hit windows: covered set + its contiguous
        # regions (hit windows overlap for any position gap < L).
        covered = set()
        for p in hitpos:
            covered.update(range(p, p + L))
        spans, prev = [], None
        for c in sorted(covered):
            if prev is None or c > prev + 1:
                spans.append(0)
            spans[-1] += 1
            prev = c
        return {
            "n_hit_windows": len(hitpos),
            "n_covered_chars": len(covered),
            "max_span_chars": max(spans, default=0),
        }

    for doc_id, _, text in rows:
        want = brute(text, bench_text)
        got_d = got[doc_id]
        assert got_d["n_hit_windows"] == want["n_hit_windows"], doc_id
        assert got_d["n_covered_chars"] == want["n_covered_chars"], doc_id
        assert got_d["max_span_chars"] == want["max_span_chars"], doc_id
    assert got[1]["n_hit_windows"] > 0  # the quote is detected
    assert got[2]["n_hit_windows"] == 0 and got[2]["keep_substr_clean"]
    assert got[3]["n_windows"] == 0 and got[3]["keep_substr_clean"]
    # reflow tolerance: doc 4 normalizes to doc 1's text, same stats
    assert {k: got[4][k] for k in ("n_hit_windows", "n_covered_chars")} == {
        k: got[1][k] for k in ("n_hit_windows", "n_covered_chars")
    }


def test_dup_substr_and_contamination_report(spark):
    """Cross-doc ExactSubstr + benchmark-side report on a fixture where
    the shared spans are plantable by eye (min_len=10)."""
    quote = "alpha beta gamma delta epsilon"  # 30 chars shared
    rows = [
        (1, "bench", f"intro text {quote} outro text"),
        (2, "train", f"leading words {quote} trailing words"),
        (3, "train", "nothing in common with anything here"),
        # 4 and 5 share a span with each other but NOT with the bench
        (4, "train", "qq ww shared private span zz xx"),
        (5, "train", "aa bb shared private span cc dd"),
    ]
    df = _docs(spark, rows)
    dup = {
        r["doc_id"]: r.asDict()
        for r in curation.dup_substr_stats(df, min_len=10).collect()
    }
    # 1&2 share the quote; 4&5 share "shared private span"; 3 is clean
    assert dup[1]["n_hit_windows"] > 0 and dup[2]["n_hit_windows"] > 0
    assert dup[3]["n_hit_windows"] == 0 and dup[3]["keep_substr_unique"]
    assert dup[4]["n_hit_windows"] > 0 and dup[5]["n_hit_windows"] > 0
    # the 4&5 shared region is " shared private span " — the flanking
    # spaces are shared too, so 21 covered chars in both docs
    assert dup[4]["max_span_chars"] == len(" shared private span ")
    assert dup[5]["max_span_chars"] == dup[4]["max_span_chars"]

    rep = {
        r["doc_id"]: r.asDict()
        for r in curation.contamination_report(
            df, df.filter(df.source == "bench"), min_len=10
        ).collect()
    }
    assert set(rep) == {1}  # one benchmark doc, listed exactly once
    assert rep[1]["n_contaminated_docs"] == 1  # only doc 2 quotes it
    assert rep[1]["is_compromised"] is True
    # doc 2's hit positions = windows inside its copy of the quote
    # region (self-rows excluded); quoted volume > quote length - L
    assert rep[1]["n_hit_windows"] >= len(quote) - 10

    # pair-grain drill-down: exactly the (bench 1, train 2) pair, with
    # the same hit volume the report aggregated and a max span at least
    # the planted quote
    pairs = curation.contamination_pairs(
        df, df.filter(df.source == "bench"), min_len=10
    ).collect()
    assert [(r["bench_id"], r["train_id"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["n_hit_windows"] == rep[1]["n_hit_windows"]
    assert pairs[0]["max_span_chars"] >= len(quote)


def test_contamination_report_clean_benchmark_rows(spark):
    """Benchmark items nobody quotes must still appear, zeroed."""
    rows = [
        (1, "bench", "unquoted benchmark item number one right here"),
        (2, "train", "totally unrelated training document text body"),
    ]
    df = _docs(spark, rows)
    rep = curation.contamination_report(
        df, df.filter(df.source == "bench"), min_len=10
    ).collect()
    assert len(rep) == 1
    r = rep[0].asDict()
    assert r["n_contaminated_docs"] == 0 and r["is_compromised"] is False


def test_substr_index_layout_scheme_and_probe(spark, tmp_path):
    """The persisted window index: bucket-partitioned layout on disk,
    loud scheme mismatch, and probe == direct cross-check."""
    import os

    rows = [
        (1, "s", "the quick brown fox jumps over the lazy dog indeed"),
        (2, "s", "a completely different historical document body here"),
    ]
    corpus = _docs(spark, rows)
    new = _docs(
        spark,
        [
            # quotes corpus doc 1's span verbatim
            (10, "s", "prefix words the quick brown fox jumps over suffix"),
            (11, "s", "entirely novel content nothing indexed before now"),
        ],
    )
    path = str(tmp_path / "substr_idx")
    curation.build_substr_index(corpus, path, min_len=10, buckets=8)
    # layout: bucket=N partition dirs + the _scheme marker
    children = os.listdir(path)
    assert any(c.startswith("bucket=") for c in children)
    assert "_scheme" in children
    # scheme mismatch fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        curation.check_substr_index(spark, path, min_len=12, buckets=8)
    with _pytest.raises(ValueError):
        curation.check_substr_index(spark, path, min_len=10, buckets=16)
    got = {
        r["doc_id"]: r.asDict()
        for r in curation.incremental_substr_stats(
            spark, new, path, min_len=10, buckets=8, max_covered_bp=2000
        ).collect()
    }
    # direct (index-free) cross-check: same stats via the broadcast path
    want = {
        r["doc_id"]: r.asDict()
        for r in curation.decontaminate_substr(
            new, corpus, min_len=10, max_covered_bp=2000
        ).collect()
    }
    for doc_id in (10, 11):
        for col in (
            "n_chars", "n_windows", "n_hit_windows",
            "n_covered_chars", "covered_bp", "max_span_chars",
        ):
            assert got[doc_id][col] == want[doc_id][col], (doc_id, col)
    assert got[10]["n_hit_windows"] > 0  # the quote is caught
    assert got[11]["n_hit_windows"] == 0 and got[11]["keep_substr_novel"]

    # append path: folding a delta (one doc overlapping corpus doc 1,
    # one novel) must equal rebuilding from scratch, and the novelty
    # anti-join must keep index rows unique (duplicates would corrupt
    # probe run stats)
    delta = _docs(
        spark,
        [
            (3, "s", rows[0][2]),  # exact copy of corpus doc 1
            (4, "s", "yet another brand new appended document body"),
        ],
    )
    curation.append_substr_index(delta, path)
    idx = spark.read.parquet(path)
    assert idx.count() == idx.select("h1", "h2").distinct().count()
    rebuilt_path = str(tmp_path / "substr_idx_rebuilt")
    curation.build_substr_index(
        corpus.unionByName(delta), rebuilt_path, min_len=10, buckets=8
    )
    assert (
        sorted((r["h1"], r["h2"]) for r in idx.collect())
        == sorted(
            (r["h1"], r["h2"])
            for r in spark.read.parquet(rebuilt_path).collect()
        )
    )


def test_snapshot_delta_profile_detects_keep_flips(spark, tmp_path):
    """On the synthetic corpus no stale-prefix modification happens to
    flip a verdict, so the flip path must be proven on a planted
    fixture: doc 13 (modified class: %13==0, %7!=0, %11!=0) carries
    exactly one benchmark 8-gram among 9 grams (16 tokens → 1111 bp >
    the 1000 bp decontamination cut → keep_new=False), while the old
    snapshot's 'stale draft ' prefix stretches it to 11 grams (909 bp →
    keep_old=True) — a genuine cross-snapshot verdict flip."""
    from real_time_data_pipeline_spark.queries.curation import (
        q_snapshot_delta_profile,
    )

    bench_text = "b1 b2 b3 b4 b5 b6 b7 b8"  # one 8-gram
    flip_doc = bench_text + " f1 f2 f3 f4 f5 f6 f7 f8"  # 16 tokens
    rows = [
        (100, "src0", bench_text),
        (13, "train", flip_doc),          # modified + flips
        (1, "train", "clean doc one two three four five six seven"),
        (7, "train", "added doc body with fresh text here today"),
        (11, "train", "doc whose synthetic copy is removed later on"),
    ]
    path = tmp_path / "delta_fixture"
    path.mkdir()
    _docs(spark, rows).write.parquet(str(path / "documents.parquet"))
    out = {
        r["source"]: r.asDict()
        for r in q_snapshot_delta_profile(spark, str(path)).collect()
    }
    assert out["train"]["n_keep_flips"] == 1
    assert out["train"]["n_added"] == 1      # doc 7
    assert out["train"]["n_removed"] == 1    # doc 11's synthetic copy
    assert out["train"]["n_modified"] == 1   # doc 13
    assert out["src0"]["n_added"] == 0 and out["src0"]["n_keep_flips"] == 0


def test_budget_allocation_sums_exactly_and_is_proportional(spark):
    """Largest-remainder invariants: allocations are integers summing
    EXACTLY to the budget, ordered with the quality-weighted mass, and
    deterministic under ties (source name ascending)."""
    rows = [
        (i, f"src{i % 3}", "word " * (10 + i % 4) + "the and is of")
        for i in range(30)
    ]
    out = {
        r["source"]: r.asDict()
        for r in curation.budget_allocation(
            _docs(spark, rows), budget_tokens=12345
        ).collect()
    }
    assert sum(r["alloc_tokens"] for r in out.values()) == 12345
    # proportionality: allocation order follows mass order
    by_mass = sorted(out.values(), key=lambda r: -r["mass"])
    allocs = [r["alloc_tokens"] for r in by_mass]
    assert allocs == sorted(allocs, reverse=True)
    # determinism: re-run is identical
    again = {
        r["source"]: r.asDict()
        for r in curation.budget_allocation(
            _docs(spark, rows), budget_tokens=12345
        ).collect()
    }
    assert again == out


def test_mix_sources_deterministic_and_rate_bounded(spark):
    rows = [(i, f"src{i % 4}", "t") for i in range(400)]
    df = _docs(spark, rows)
    rates = {"src0": 10000, "src1": 5000, "src2": 0}
    a = sorted(
        r["doc_id"]
        for r in curation.mix_sources(df, rates, default_bp=2500).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in curation.mix_sources(df, rates, default_bp=2500).collect()
    )
    assert a == b  # rerun-identical: sampling is lineage, not chance
    by_src = {
        s: [r for r in a if f"src{r % 4}" == s] for s in ("src0", "src1", "src2", "src3")
    }
    assert len(by_src["src0"]) == 100  # rate 10000 keeps everything
    assert len(by_src["src2"]) == 0  # rate 0 keeps nothing
    assert 0 < len(by_src["src1"]) < 100  # partial rates keep a strict subset
    assert 0 < len(by_src["src3"]) < len(by_src["src1"])  # default 2500 < 5000


def test_pack_sequences_budget_and_order(spark):
    # source s: docs of 3 tokens each, budget 6 -> packs of exactly 2 docs.
    rows = [(i, "s", "a b c") for i in range(6)]
    got = {
        r["doc_id"]: r["pack_id"]
        for r in curation.pack_sequences(_docs(spark, rows), 6).collect()
    }
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 2}


def test_pack_sequences_shards_pack_independently(spark):
    rows = [(1, "x", "a b c"), (2, "y", "a b c"), (3, "x", "a b c"), (4, "y", "a b c")]
    got = {
        (r["source"], r["doc_id"]): r["pack_id"]
        for r in curation.pack_sequences(_docs(spark, rows), 6).collect()
    }
    assert got == {("x", 1): 0, ("x", 3): 0, ("y", 2): 0, ("y", 4): 0}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(1, 40), min_size=1, max_size=30),
    st.integers(10, 60),
)
def test_pack_sequences_invariants(spark, sizes, budget):
    rows = [(i, "s", " ".join(["w"] * n)) for i, n in enumerate(sizes)]
    out = sorted(
        curation.pack_sequences(_docs(spark, rows), budget).collect(),
        key=lambda r: r["doc_id"],
    )
    # pack ids are non-decreasing in doc order and start at 0
    packs = [r["pack_id"] for r in out]
    assert packs[0] == 0
    assert all(a <= b for a, b in zip(packs, packs[1:]))
    # every pack except possibly the last would overflow the budget only
    # by its final (straddling) document
    by_pack: dict[int, list[int]] = {}
    for r in out:
        by_pack.setdefault(r["pack_id"], []).append(r["n_tokens"])
    for pid, toks in by_pack.items():
        assert sum(toks) - toks[-1] < budget or len(toks) == 1


def _brute_substr_stats(texts: dict, bench_texts: list, L: int) -> dict:
    """Sequential per-char reference for the substr operators: hit
    windows, covered chars, max span per doc against the benchmark
    window set."""
    import re

    def norm(s):
        return re.sub(r"\s+", " ", s.strip()).lower()

    bset = set()
    for b in bench_texts:
        nb = norm(b)
        bset |= {nb[i : i + L] for i in range(len(nb) - L + 1)}
    out = {}
    for doc_id, text in texts.items():
        nd = norm(text)
        hitpos = [
            i for i in range(len(nd) - L + 1) if nd[i : i + L] in bset
        ]
        # TRUE union of hit windows: covered set + its contiguous
        # regions (hit windows overlap for any position gap < L).
        covered = set()
        for p in hitpos:
            covered.update(range(p, p + L))
        spans, prev = [], None
        for c in sorted(covered):
            if prev is None or c > prev + 1:
                spans.append(0)
            spans[-1] += 1
            prev = c
        out[doc_id] = {
            "n_hit_windows": len(hitpos),
            "n_covered_chars": len(covered),
            "max_span_chars": max(spans, default=0),
        }
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("ab cd ef gh ij".split()), min_size=1,
                 max_size=12),
        min_size=2,
        max_size=6,
    )
)
def test_decontaminate_substr_matches_bruteforce(spark, token_lists):
    """Property: over random small-alphabet corpora (forcing overlaps),
    the distributed ExactSubstr stats equal the sequential per-char
    reference — hits, coverage, and max span, for every doc."""
    rows = [
        (i, "bench" if i == 0 else "train", " ".join(toks))
        for i, toks in enumerate(token_lists)
    ]
    df = _docs(spark, rows)
    got = {
        r["doc_id"]: r.asDict()
        for r in curation.decontaminate_substr(
            df, df.filter(df.source == "bench"), min_len=5
        ).collect()
    }
    want = _brute_substr_stats(
        {i: t for i, _, t in rows}, [rows[0][2]], L=5
    )
    for doc_id, w in want.items():
        for col in ("n_hit_windows", "n_covered_chars", "max_span_chars"):
            assert got[doc_id][col] == w[col], (doc_id, col)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(1, 10_000), min_size=1, max_size=12),
    st.integers(1, 10_000_000),
)
def test_budget_allocation_largest_remainder_property(spark, masses, budget):
    """Property: allocations sum EXACTLY to the budget and each source
    is within 1 token of its real-valued proportional share (the
    largest-remainder quota guarantee)."""
    # quality_score varies with doc length, so the expected shares are
    # computed from the operator's own emitted mass column — the quota
    # property under test is allocation-vs-mass, not mass derivation
    # (that is pinned by the oracle).
    rows = [
        (i, f"s{i}", " ".join(["tok"] * max(1, m // 100)))
        for i, m in enumerate(masses)
    ]
    out = curation.budget_allocation(
        _docs(spark, rows), budget_tokens=budget
    ).collect()
    total_alloc = sum(r["alloc_tokens"] for r in out)
    assert total_alloc == budget
    total_mass = sum(r["mass"] for r in out)
    for r in out:
        exact = budget * r["mass"] / total_mass
        assert abs(r["alloc_tokens"] - exact) < 1.0 + 1e-9, (
            r["source"], r["alloc_tokens"], exact,
        )


def test_budget_allocation_zero_token_docs_cross_engine(spark, tmp_path):
    """Zero-token (empty/whitespace-only) docs carry no mass and are
    excluded from n_docs on BOTH engines (ADVICE r7: the Spark explode
    drops them naturally; the oracle needs an explicit len>0 filter —
    this pins the convention with a planted empty doc, which the
    synthetic corpus never contains)."""
    import duckdb

    from real_time_data_pipeline_spark.queries.curation import (
        _budget_allocation_oracle,
    )

    rows = [
        (1, "whole words here", "en", "a", 16),
        (2, "   ", "en", "a", 3),  # whitespace-only -> zero tokens
        (3, "", "en", "b", 0),  # empty -> zero tokens
        (4, "more body text", "en", "b", 14),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    got = {
        r["source"]: r.asDict()
        for r in curation.budget_allocation(df, budget_tokens=1000).collect()
    }
    assert got["a"]["n_docs"] == 1 and got["b"]["n_docs"] == 1
    assert sum(r["alloc_tokens"] for r in got.values()) == 1000

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{path}/*.parquet')"
    )
    oracle_sql = _budget_allocation_oracle().replace("1000000", "1000")
    want = {
        r[0]: r
        for r in con.execute(oracle_sql).fetchall()
    }
    for src in ("a", "b"):
        g = got[src]
        assert (g["n_docs"], g["n_tokens"], g["mass"], g["alloc_tokens"]) \
            == (want[src][1], want[src][2], want[src][3], want[src][4]), src


def test_curation_flags_batch_stream_parity(spark, tmp_path):
    """curation_flags run per micro-batch (a TransformChain foreachBatch)
    must produce exactly the batch pass's keep-flags, with docs split
    across micro-batches (no signal may depend on co-batched
    documents)."""
    import json
    import os
    import time

    from real_time_data_pipeline_spark.streaming.pipeline import (
        TransformChain,
    )

    rows = [
        (1, "s", "a b a b a b a b a b a b"),          # repetition-flagged
        (2, "s", "one two three four five six seven eight"),
        (3, "s", "w1 w2 w3 w4 w5 w6 w7 w8 w9"),       # contaminated
        (4, "s", "clean text with many distinct tokens here now"),
    ]
    bench = spark.createDataFrame(
        [(100, "b", "w1 w2 w3 w4 w5 w6 w7 w8 w9")],
        "doc_id long, source string, text string",
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    expected = {
        r["doc_id"]: r.asDict()
        for r in curation.curation_flags(docs, bench).collect()
    }

    # two micro-batches: docs 1-2 then 3-4, mtimes ordered
    src = os.path.join(str(tmp_path), "docs")
    os.makedirs(src)
    base = time.time() - 100
    for i, chunk in enumerate((rows[:2], rows[2:])):
        p = os.path.join(src, f"b{i}.json")
        with open(p, "w") as f:
            for doc_id, source, text in chunk:
                f.write(json.dumps(
                    {"doc_id": doc_id, "source": source, "text": text}) + "\n")
        os.utime(p, (base + i * 10, base + i * 10))

    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    got_rows: list = []
    batch_ids: list = []

    def sink(flags, batch_id):
        batch_ids.append(batch_id)
        got_rows.extend(flags.collect())

    q = (
        stream.writeStream.foreachBatch(
            TransformChain()
            .add_processor(lambda b: curation.curation_flags(b, bench))
            .foreach_batch(sink)
        )
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(batch_ids) >= 2  # genuinely incremental
    got = {r["doc_id"]: r.asDict() for r in got_rows}
    assert got == expected
    assert got[1]["keep"] is False and got[1]["keep_repetition"] is False
    assert got[3]["keep"] is False and got[3]["keep_decontaminated"] is False
    assert got[2]["keep"] is True and got[4]["keep"] is True


def test_epoch_upsample_fractional_copies(spark):
    # sample_key_bp(id) = (id*48271 % 2147483647) % 10000:
    #   id 1 → 8271, id 2 → 6542, id 3 → 4813, id 5 → 1355
    rows = [
        (1, "hot", "t"), (3, "hot", "t"),    # 2.5 epochs: 8271→2, 4813→3
        (1, "cold", "t"), (3, "cold", "t"),  # 0.5 epochs: 8271→0, 4813→1
        (2, "other", "t"),                   # default 1.0 epoch
    ]
    # doc_id repeats across sources on purpose: the key is per-id, the
    # rate per-source.
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = curation.epoch_upsample(
        df, {"hot": 25000, "cold": 5000}
    ).collect()
    by = {}
    for r in got:
        by.setdefault((r["doc_id"], r["source"]), []).append(r["epoch"])
    assert sorted(by[(1, "hot")]) == [0, 1]
    assert sorted(by[(3, "hot")]) == [0, 1, 2]
    assert (1, "cold") not in by          # 0 copies → row dropped
    assert sorted(by[(3, "cold")]) == [0]
    assert sorted(by[(2, "other")]) == [0]
    for r in got:
        assert r["n_epochs"] == len(by[(r["doc_id"], r["source"])])


def test_shuffle_shards_is_deterministic_partition(spark):
    df = spark.createDataFrame(
        [(i, "s", "t") for i in range(100)],
        "doc_id long, source string, text string",
    )
    a = curation.shuffle_shards(df, 8).collect()
    b = curation.shuffle_shards(df, 8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # rerun-identical
    assert {r["doc_id"] for r in a} == set(range(100))     # a permutation
    by_shard = {}
    for r in a:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        # positions are contiguous 0..n-1 within the shard, ordered by key
        rows.sort(key=lambda r: r["pos_in_shard"])
        assert [r["pos_in_shard"] for r in rows] == list(range(len(rows)))
        keys = [(r["shuffle_key"], r["doc_id"]) for r in rows]
        assert keys == sorted(keys)


def test_quality_verdicts_is_signal_conjunction(spark):
    rows = [
        # repeated 2-gram salad: fails repetition (and the short-doc
        # length component keeps quality_score low too)
        (1, "s", "a b a b a b a b a b a b"),
        # contaminated: identical to the benchmark doc below
        (2, "s", "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
        # long, stopword-bearing, varied text: passes everything
        (3, "s", "the quick brown fox jumps over a lazy dog and then "
                 "it runs far away to find some other field of interest "
                 "for the rest of that day with plenty of distinct words"),
    ]
    bench = spark.createDataFrame(
        [(100, "b", "w1 w2 w3 w4 w5 w6 w7 w8 w9")],
        "doc_id long, source string, text string",
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r for r in curation.quality_verdicts(df, bench).collect()}
    assert set(got) == {1, 2, 3}
    for r in got.values():
        assert r["keep"] == (
            r["quality_score"] >= curation.QUALITY_MIN_SCORE
            and r["mean_info_bp"] >= curation.QUALITY_MIN_INFO_BP
            and r["keep_repetition"]
            and r["keep_decontaminated"]
        )
    assert got[1]["keep_repetition"] is False and got[1]["keep"] is False
    assert got[2]["keep_decontaminated"] is False and got[2]["keep"] is False
    assert got[3]["keep"] is True


# -- dup_span_stats -------------------------------------------------------


def test_dup_span_stats_counts_cross_doc_slots(spark):
    rows = [
        # docs 1 and 2 share exactly the 4-gram "a b c d" (1 of 5 slots each)
        (1, "s", "a b c d x1 y1 z1 w1"),
        (2, "s", "a b c d q2 r2 s2 t2"),
        # doc 3 shares nothing
        (3, "s", "m3 n3 o3 p3 u3 v3 k3 j3"),
    ]
    got = {
        r["doc_id"]: r.asDict()
        for r in curation.dup_span_stats(_docs(spark, rows), n=4).collect()
    }
    assert got[1]["n_slots"] == 5 and got[1]["dup_slots"] == 1
    assert got[1]["dup_bp"] == 2000 and got[1]["keep_dup_spans"] is True
    assert got[2]["dup_slots"] == 1
    assert got[3]["dup_slots"] == 0 and got[3]["dup_bp"] == 0


def test_dup_span_stats_exact_copy_fully_flagged(spark):
    text = "c1 c2 c3 c4 c5 c6 c7"  # 4 4-gram slots, doc copied verbatim
    rows = [(1, "s", text), (2, "s", text)]
    got = {
        r["doc_id"]: r.asDict()
        for r in curation.dup_span_stats(_docs(spark, rows), n=4).collect()
    }
    for d in (1, 2):
        assert got[d]["n_slots"] == 4 and got[d]["dup_slots"] == 4
        assert got[d]["dup_bp"] == 10000
        assert got[d]["keep_dup_spans"] is False  # > DUP_SPAN_MAX_BP


def test_dup_span_within_doc_repeat_not_cross_doc(spark):
    # the repeated gram lives in ONE doc only: repetition_stats territory,
    # dup_span_stats must not fire.
    rows = [(1, "s", "a b c d a b c d"), (2, "s", "p q r s t u v w")]
    got = {
        r["doc_id"]: r.asDict()
        for r in curation.dup_span_stats(_docs(spark, rows), n=4).collect()
    }
    assert got[1]["dup_slots"] == 0 and got[2]["dup_slots"] == 0


# -- source_profile -------------------------------------------------------


def test_source_profile_rollup(spark):
    rows = [
        (1, "sA", "one two three", "en"),
        (2, "sA", "one two three", "en"),  # exact dup of doc 1
        (3, "sA", "vier funf", "de"),
        (4, "sB", "solo", "en"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, lang string"
    )
    got = {r["source"]: r.asDict() for r in curation.source_profile(df).collect()}
    a = got["sA"]
    assert a["n_docs"] == 3 and a["n_distinct_texts"] == 2
    assert a["dup_doc_bp"] == 3333  # floor(1e4 * 1/3)
    assert a["total_tokens"] == 8 and a["mean_tokens_bp"] == 26666
    assert a["n_langs"] == 2
    b = got["sB"]
    assert b["n_docs"] == 1 and b["dup_doc_bp"] == 0 and b["n_langs"] == 1


# -- train_val_test_split -------------------------------------------------


def test_split_matches_lehmer_formula_and_is_stable(spark):
    rows = [(i, "s", "t") for i in range(200)]
    df = _docs(spark, rows)
    got = {
        r["doc_id"]: (r["split_key_bp"], r["split"])
        for r in curation.train_val_test_split(df).collect()
    }
    assert len(got) == 200
    for i in range(200):
        key = (i * 48271) % 2147483647 % 10000
        want = "train" if key < 9000 else ("val" if key < 9500 else "test")
        assert got[i] == (key, want), i
    # corpus growth never migrates existing docs between splits
    bigger = _docs(spark, rows + [(i, "s", "t") for i in range(200, 400)])
    got2 = {
        r["doc_id"]: (r["split_key_bp"], r["split"])
        for r in curation.train_val_test_split(bigger).collect()
    }
    assert all(got2[i] == got[i] for i in range(200))


def test_split_rejects_bad_thresholds(spark):
    import pytest

    df = _docs(spark, [(1, "s", "t")])
    with pytest.raises(ValueError):
        curation.train_val_test_split(df, train_bp=9600, val_bp=9500)
    with pytest.raises(ValueError):
        curation.train_val_test_split(df, train_bp=-1, val_bp=5)


# -- grouped_split --------------------------------------------------------


def test_grouped_split_no_group_straddles(spark):
    rows = [(i, f"src{i % 7}", "t") for i in range(140)]
    got = curation.grouped_split(_docs(spark, rows), "source").collect()
    by_source = {}
    for r in got:
        by_source.setdefault(r["source"], set()).add((r["split"], r["group_key_bp"]))
    assert len(got) == 140
    for src, assignments in by_source.items():
        assert len(assignments) == 1, f"{src} straddles splits: {assignments}"


def test_grouped_split_key_matches_sha256_fold(spark):
    import hashlib

    rows = [(1, "alpha", "t"), (2, "beta", "t")]
    got = {
        r["source"]: r["group_key_bp"]
        for r in curation.grouped_split(_docs(spark, rows), "source").collect()
    }
    for src in ("alpha", "beta"):
        want = int(hashlib.sha256(src.encode()).hexdigest()[:8], 16) % 10000
        assert got[src] == want, src


def test_source_overlap_golden_matrix(spark):
    # 2-grams with 3 tiny sources:
    #   A: "a b c"   -> grams {a b, b c}            (2 distinct)
    #   B: "a b c"   -> same 2 grams (full copy of A)
    #   C: "x y"     -> {x y}                       (disjoint)
    df = spark.createDataFrame(
        [(1, "a b c", "A"), (2, "a b c", "B"), (3, "x y", "C")],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["src_a"], r["src_b"]): r
        for r in curation.source_overlap(df, n=2).collect()
    }
    assert set(rows) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = rows[("A", "B")]
    assert (ab["n_grams_a"], ab["n_grams_b"], ab["n_common"]) == (2, 2, 2)
    assert ab["jaccard_bp"] == 10000  # identical gram sets
    assert ab["contain_a_bp"] == ab["contain_b_bp"] == 10000
    ac = rows[("A", "C")]
    assert ac["n_common"] == 0 and ac["jaccard_bp"] == 0
    # Subset containment: D ⊂ A would give contain_d=10000; simulate by
    # adding a 1-gram-overlap source and checking the asymmetric rates.
    df2 = spark.createDataFrame(
        [(1, "a b c d e", "A"), (2, "a b", "D")],
        "doc_id long, text string, source string",
    )
    r = curation.source_overlap(df2, n=2).collect()[0]
    # A: {a b, b c, c d, d e}; D: {a b} -> common 1
    assert (r["n_grams_a"], r["n_grams_b"], r["n_common"]) == (4, 1, 1)
    assert r["contain_b_bp"] == 10000  # D fully contained in A
    assert r["contain_a_bp"] == 2500
    assert r["jaccard_bp"] == 2500


def test_balanced_sample_exact_k_deterministic_uniformish(spark):
    from pyspark.sql import functions as F

    rows = [(i % 3, i) for i in range(300)]  # 3 groups x 100 ids
    df = spark.createDataFrame(rows, "grp int, id long")
    s1 = curation.balanced_sample(df, "grp", 10, "id", salt=4)
    s2 = curation.balanced_sample(df.repartition(13), "grp", 10, "id", salt=8)
    got1 = sorted((r["grp"], r["id"], r["sample_rank"]) for r in s1.collect())
    got2 = sorted((r["grp"], r["id"], r["sample_rank"]) for r in s2.collect())
    # Partitioning- and salt-invariant (salt only changes parallelism).
    assert got1 == got2
    # Exactly k per group, ranks 1..k, sampled WITHOUT replacement.
    per = {}
    for g, i, r in got1:
        per.setdefault(g, []).append((r, i))
    for g, members in per.items():
        assert sorted(r for r, _ in members) == list(range(1, 11))
        assert len({i for _, i in members}) == 10
    # Matches the brute-force definition: k smallest portable hashes.
    hk = curation.portable_hash48(F.col("id"))
    brute = {
        g: [
            i
            for _, i in sorted(
                (r["h"], r["id"])
                for r in df.filter(F.col("grp") == g)
                .select("id", hk.alias("h"))
                .collect()
            )[:10]
        ]
        for g in (0, 1, 2)
    }
    for g in (0, 1, 2):
        assert {i for _, i in per[g]} == set(brute[g])
    # Undersized group: returns all rows, ranks still dense.
    tiny = spark.createDataFrame([(1, 1), (1, 2)], "grp int, id long")
    got = curation.balanced_sample(tiny, "grp", 10, "id").collect()
    assert sorted(r["sample_rank"] for r in got) == [1, 2]


def test_bloom_decontaminate_no_false_negatives_vs_exact(spark):
    """Bloom property on real corpus data: the estimated shared-gram
    count is >= the exact count for EVERY doc (no false negatives), and
    with the default 1M-bit / 4-hash bitmap against an eval-suite-sized
    benchmark the false-positive inflation is tiny."""
    from real_time_data_pipeline_spark.schemas import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "text"
    )
    bench = docs.limit(20)
    exact = {
        r["doc_id"]: r
        for r in curation.decontaminate(docs, bench).collect()
    }
    bloom = {
        r["doc_id"]: r
        for r in curation.decontaminate_bloom(docs, bench).collect()
    }
    assert set(exact) == set(bloom)
    inflated = 0
    for d, e in exact.items():
        b = bloom[d]
        assert b["n_grams"] == e["n_grams"]
        # one-sided: estimate never undercounts
        assert b["shared_grams_est"] >= e["shared_grams"], d
        # keep=False on the exact path must imply keep=False on bloom
        if not e["keep_decontaminated"]:
            assert not b["keep_decontaminated"], d
        inflated += b["shared_grams_est"] - e["shared_grams"]
    total = sum(e["n_grams"] for e in exact.values())
    # fpr bound: (1 - e^{-k|B|/m})^k is ~1e-11 at these sizes; allow
    # slack of 0.1% of all gram probes.
    assert inflated <= max(1, total // 1000)


def test_bloom_bitmap_build_matches_membership(spark):
    """Every benchmark gram's k bits are set in the built bitmap (zero
    false negatives by construction)."""
    import numpy as np

    bench = _docs(spark, [(1, "s", "alpha beta gamma delta epsilon zeta eta theta iota kappa")])
    bitmap, m, k = curation.build_bloom_bitmap(bench, n=8)
    from pyspark.sql import functions as F

    pos_rows = (
        bench.select(F.explode(curation.ngrams_col("text", 8)).alias("gram"))
        .distinct()
        .select(F.explode(curation._bloom_positions(F.col("gram"), m, k)).alias("pos"))
        .collect()
    )
    for r in pos_rows:
        p = r["pos"]
        assert (bitmap[p >> 6] >> np.uint64(p & 63)) & np.uint64(1) == 1


def test_clean_corpus_is_conjunction_of_legs(spark):
    """clean_corpus.keep_final == doc_quality.keep AND
    dedup_pipeline.keep, doc by doc, on real testdata."""
    from real_time_data_pipeline_spark.queries import curation as qc
    from real_time_data_pipeline_spark.queries import dedup as qd

    sf = "/root/testdata/sf0.001"
    final = {
        r["doc_id"]: r for r in qc.QUERIES["clean_corpus"](spark, sf).collect()
    }
    quality = {
        r["doc_id"]: r["keep"] for r in qc.QUERIES["doc_quality"](spark, sf).collect()
    }
    dedup_v = {
        r["doc_id"]: r["keep"] for r in qd.QUERIES["dedup_pipeline"](spark, sf).collect()
    }
    assert set(final) == set(quality) == set(dedup_v)
    for d, r in final.items():
        assert r["keep_final"] == (quality[d] and dedup_v[d]), d


def test_publish_clean_corpus_contract_lineage_layout(spark, tmp_path):
    from real_time_data_pipeline_spark.operators.curation import (
        publish_clean_corpus,
    )

    docs = spark.createDataFrame(
        [
            (1, "s1", "keep me"),
            (2, "s1", "drop me"),
            (3, "s2", "keep me too"),
        ],
        "doc_id long, source string, text string",
    )
    verdicts = spark.createDataFrame(
        [(1, True), (2, False), (3, True)], "doc_id long, keep_final boolean"
    )
    out, lin = str(tmp_path / "corpus"), str(tmp_path / "lineage")
    stats = publish_clean_corpus(docs, verdicts, out, lineage_path=lin)
    assert stats == {"rows_in": 3, "rows_published": 2, "path": out}
    back = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in back.collect()) == [1, 3]
    # source-partitioned layout on disk
    import os

    assert sorted(
        d for d in os.listdir(out) if d.startswith("source=")
    ) == ["source=s1", "source=s2"]
    # one publish lineage row per survivor
    lrows = spark.read.parquet(lin)
    assert lrows.filter(lrows.processing_stage == "publish").count() == 2
    # contract: appending a schema that drops a column fails BEFORE write
    import pytest

    bad = docs.select("doc_id", "source")
    with pytest.raises(ValueError, match="break"):
        publish_clean_corpus(bad, verdicts, out)


def test_scrub_dup_spans_keeps_first_occurrence(spark):
    """doc1 owns the span; doc2's copy is deleted; unique text survives;
    a doc duplicating its own span loses the second copy."""
    from real_time_data_pipeline_spark.operators.curation import scrub_dup_spans

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta unique one"),
            (2, "intro alpha beta gamma delta outro words"),
            (3, "self same span here self same span here"),
            (4, "totally fresh text nothing shared"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in scrub_dup_spans(df, n=4).collect()}
    # doc1 first occurrence of 'alpha beta gamma delta' -> untouched
    assert rows[1]["scrub_text"] == "alpha beta gamma delta unique one"
    assert rows[1]["n_removed"] == 0
    # doc2's copy removed, surrounding tokens kept
    assert rows[2]["scrub_text"] == "intro outro words"
    assert rows[2]["n_removed"] == 4
    # within-doc repeat: second 'self same span here' removed
    assert rows[3]["scrub_text"] == "self same span here"
    assert rows[3]["n_removed"] == 4
    # untouched doc
    assert rows[4]["n_removed"] == 0
    assert rows[4]["scrub_text"] == "totally fresh text nothing shared"


def test_scrub_contaminated_spans_removes_all_occurrences(spark):
    from real_time_data_pipeline_spark.operators.curation import (
        scrub_contaminated_spans,
    )

    bench = spark.createDataFrame(
        [(100, "the exact eval question here")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro the exact eval question here outro"),
            # contaminated span twice -> both removed (no first-occurrence pass)
            (2, "the exact eval question and the exact eval question"),
            (3, "totally clean document text"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in scrub_contaminated_spans(corpus, bench, n=4).collect()
    }
    assert rows[1]["scrub_text"] == "intro outro"
    # doc2: grams 'the exact eval question' at slots 0 and 5; slot 4 gram
    # 'and the exact eval' is not a bench gram; covered = 0-3,5-8 -> 'and'
    assert rows[2]["scrub_text"] == "and"
    assert rows[3]["n_removed"] == 0


def test_pii_stats_and_scrub_goldens(spark):
    from real_time_data_pipeline_spark.operators.curation import (
        pii_scrub,
        pii_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-mail.co.uk or x@y.io, call 555-123-4567"),
            (2, "ssn 123-45-6789 from 192.168.0.1 and 10.0.0.255"),
            (3, "no pii here, just 1234-5678 and version 1.2.3"),
            (4, "phone 555-000-1111 ssn 999-11-2222 ip 8.8.8.8 e a@b.cc"),
            # one physical span: the email match consumes the phone-shaped
            # prefix, so progressive counting must report email=1, phone=0
            (5, "call 555-123-4567@example.com now"),
        ],
        "doc_id long, text string",
    )
    stats = {r["doc_id"]: r for r in pii_stats(df).collect()}
    assert (stats[1]["n_email"], stats[1]["n_phone"]) == (2, 1)
    assert (stats[2]["n_ssn"], stats[2]["n_ipv4"]) == (1, 2)
    # 1234-5678 is neither a phone (3-3-4) nor an ssn (3-2-4); 1.2.3 is
    # not a dotted quad
    assert stats[3]["n_pii_total"] == 0
    assert stats[4]["n_pii_total"] == 4
    assert (stats[5]["n_email"], stats[5]["n_phone"], stats[5]["n_pii_total"]) == (
        1, 0, 1,
    )

    scrub = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert scrub[1]["scrubbed_text"] == "mail [EMAIL] or [EMAIL], call [PHONE]"
    assert scrub[2]["scrubbed_text"] == "ssn [SSN] from [IPV4] and [IPV4]"
    assert scrub[3]["scrubbed_text"] == df.collect()[2]["text"] or scrub[3][
        "scrubbed_text"
    ] == "no pii here, just 1234-5678 and version 1.2.3"
    assert scrub[4]["scrubbed_text"] == "phone [PHONE] ssn [SSN] ip [IPV4] e [EMAIL]"
    # counts ride along with the redaction in the same row
    assert scrub[4]["n_pii_total"] == 4
    # overlap case: ONE token emitted, counts agree with the emission
    assert scrub[5]["scrubbed_text"] == "call [EMAIL] now"
    assert (scrub[5]["n_email"], scrub[5]["n_phone"]) == (1, 0)


def test_leakage_safe_split_never_straddles_near_dup_pairs(spark, sf_dir):
    """The cluster-keyed split's defining property: for EVERY near-dup
    pair (exact 3-gram Jaccard >= 0.8 — the same pair set the split
    clusters on), both documents land in the SAME split, which a
    doc-keyed split does not guarantee."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.operators import dedup
    from real_time_data_pipeline_spark.schemas import load_table

    split = entrymod.queries()["leakage_safe_split"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8
    )
    a = split.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    b = split.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    straddling = (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert pairs.count() > 0  # the property must not hold vacuously
    assert straddling == 0
    # sanity: all three splits are realized on independent docs
    assert {r["split"] for r in split.select("split").distinct().collect()} == {
        "train", "val", "test"
    }
