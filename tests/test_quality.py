"""Expectation-suite compiler tests (SURVEY.md §2.6) — each expectation
type gets a pass and a fail case."""

from __future__ import annotations

from real_time_data_pipeline_spark.operators import quality
from real_time_data_pipeline_spark.operators.quality import (
    ACCOUNT_SUITE,
    TRANSACTION_SUITE,
    Expectation,
    apply_suite,
    suite_metrics,
)

SCHEMA = (
    "transaction_id string, account_id string, transaction_type string, "
    "amount double, currency string, status string, timestamp string"
)


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


GOOD = ("T1", "A1", "deposit", 10.0, "USD", "pending", "2024-01-01T00:00:00")


def test_all_pass(spark):
    df = apply_suite(_rows(spark, [GOOD]), TRANSACTION_SUITE)
    row = df.first()
    assert row.dq_valid and row.dq_errors == []


def test_each_expectation_fails(spark):
    cases = {
        "not_null": (None, "A1", "deposit", 10.0, "USD", "pending", "2024-01-01T00:00:00"),
        "in_set_type": ("T1", "A1", "fee", 10.0, "USD", "pending", "2024-01-01T00:00:00"),
        "between_low": ("T1", "A1", "deposit", 0.001, "USD", "pending", "2024-01-01T00:00:00"),
        "between_high": ("T1", "A1", "deposit", 1_000_000.01, "USD", "pending", "2024-01-01T00:00:00"),
        "in_set_currency": ("T1", "A1", "deposit", 10.0, "XYZ", "pending", "2024-01-01T00:00:00"),
        "in_set_status": ("T1", "A1", "deposit", 10.0, "USD", "lost", "2024-01-01T00:00:00"),
        "parseable": ("T1", "A1", "deposit", 10.0, "USD", "pending", "not-a-date"),
    }
    for name, row in cases.items():
        got = apply_suite(_rows(spark, [row]), TRANSACTION_SUITE).first()
        assert not got.dq_valid, name
        assert len(got.dq_errors) >= 1, name


def test_boundaries_pass(spark):
    for amt in (0.01, 1_000_000.00):
        row = ("T1", "A1", "deposit", amt, "USD", "pending", "2024-01-01T00:00:00")
        assert apply_suite(_rows(spark, [row]), TRANSACTION_SUITE).first().dq_valid


def test_unique(spark):
    df = _rows(spark, [GOOD, GOOD, ("T2",) + GOOD[1:]])
    rows = apply_suite(df, TRANSACTION_SUITE).collect()
    dup = [r for r in rows if r.transaction_id == "T1"]
    uniq = [r for r in rows if r.transaction_id == "T2"]
    assert all(not r.dq_valid for r in dup)
    assert all("Failed unique" in e for r in dup for e in r.dq_errors)
    assert all(r.dq_valid for r in uniq)


def test_null_passes_non_required_checks(spark):
    """GE semantics: nulls pass in_set/between; only not_null catches them."""
    row = ("T1", "A1", None, None, None, None, None)
    got = apply_suite(_rows(spark, [row]), TRANSACTION_SUITE).first()
    errors = set(got.dq_errors)
    assert not got.dq_valid
    assert any("not_null" in e for e in errors)  # transaction_type not_null fails
    assert not any("in_set" in e and "currency" in str(e) for e in errors)


def test_suite_metrics(spark):
    df = _rows(spark, [GOOD, ("T2", "A1", "fee", -1.0, "XYZ", "pending", "2024-01-01T00:00:00")])
    m = {(r.column, r.expectation_type): (r.n_pass, r.n_fail)
         for r in suite_metrics(df, TRANSACTION_SUITE).collect()}
    assert m[("transaction_id", "not_null")] == (2, 0)
    assert m[("transaction_type", "in_set")] == (1, 1)
    assert m[("amount", "between")] == (1, 1)
    assert m[("currency", "in_set")] == (1, 1)


def test_account_suite(spark):
    df = spark.createDataFrame(
        [("A1", "C1", "checking"), ("A2", None, "mystery")],
        "account_id string, customer_id string, account_type string",
    )
    rows = apply_suite(df, ACCOUNT_SUITE).collect()
    byid = {r.account_id: r for r in rows}
    assert byid["A1"].dq_valid
    assert not byid["A2"].dq_valid
    assert len(byid["A2"].dq_errors) == 2  # customer_id null + bad type


def test_unknown_expectation_raises():
    import pytest

    with pytest.raises(ValueError):
        quality.compile_expectation(Expectation("x", "expect_magic"))


def test_validation_results_artifact(spark, tmp_path):
    """Reference validator.py:228-256 save_validation_results: per-run
    artifact with rollup, persisted under run_id= and re-runnable
    idempotently."""
    rows = [
        GOOD,
        ("T2", None, "deposit", 10.0, "USD", "pending", "2024-01-01T00:00:00"),
        ("T2", "A3", "fee", -5.0, "USD", "pending", "2024-01-01T00:00:00"),
    ]
    df = _rows(spark, rows)
    art = quality.validation_results(df, TRANSACTION_SUITE, "run-x")
    got = {(r.column, r.expectation_type): r for r in art.collect()}
    assert len(got) == len(TRANSACTION_SUITE)
    r = got[("account_id", "not_null")]
    assert (r.n_pass, r.n_fail) == (2, 1)
    assert r.total == 3 and r.valid_rows == 1 and r.invalid_rows == 2
    # 1/3 → 3333.33… bp, half-up → 3333
    assert r.success_rate_bp == 3333
    # T2 duplicated → unique fails for both its rows
    assert got[("transaction_id", "unique")].n_fail == 2

    base = str(tmp_path / "validation_results")
    quality.save_validation_results(df, TRANSACTION_SUITE, base, "run-x")
    quality.save_validation_results(df, TRANSACTION_SUITE, base, "run-x")  # replay
    quality.save_validation_results(df, TRANSACTION_SUITE, base, "run-y")
    back = spark.read.parquet(base)
    assert back.count() == 2 * len(TRANSACTION_SUITE)  # replay did not duplicate
    assert sorted(
        r.run_id for r in back.select("run_id").distinct().collect()
    ) == ["run-x", "run-y"]


def test_validation_results_streaming_sink(spark, tmp_path, py4j_calls):
    """Streaming twin: one artifact partition per micro-batch via
    foreachBatch, exactly-once on the artifact table, each batch's
    artifact equal to the batch artifact over that file's rows.  The
    suite is compiled once when the sink starts, so a micro-batch costs
    tens of py4j round trips, not the thousands a per-batch rebuild
    takes."""
    import json as _json
    import os

    d = str(tmp_path / "in")
    os.makedirs(d)
    files = [
        [GOOD, ("T2", None, "deposit", 10.0, "USD", "pending", "2024-01-01T00:00:00")],
        [GOOD, GOOD, ("T3", "A3", "fee", -5.0, "XYZ", "lost", "not-a-date")],
        [("T4", "A4", "refund", 2_000_000.0, "EUR", "failed", None)],
    ]
    paths = []
    for i, rows in enumerate(files):
        path = os.path.join(d, f"b{i}.json")
        with open(path, "w") as f:
            for row in rows:
                f.write(_json.dumps(dict(zip(
                    ("transaction_id", "account_id", "transaction_type", "amount",
                     "currency", "status", "timestamp"), row))) + "\n")
        os.utime(path, (1_700_000_000 + 10 * i,) * 2)  # batch i reads file i
        paths.append(path)

    stream = spark.readStream.option("maxFilesPerTrigger", 1).schema(SCHEMA).json(d)
    base = str(tmp_path / "artifacts")
    q = quality.validation_results_sink(
        stream, TRANSACTION_SUITE, base, str(tmp_path / "ckpt")
    )
    try:
        started = py4j_calls.n
        q.processAllAvailable()
        per_batch = (py4j_calls.n - started) / len(files)
    finally:
        q.stop()
    back = spark.read.parquet(base)
    assert back.count() == len(files) * len(TRANSACTION_SUITE)
    r = back.filter(
        "run_id = 'batch_000000000000' AND column = 'account_id' "
        "AND expectation_type = 'not_null'"
    ).first()
    assert (r.n_pass, r.n_fail, r.total, r.valid_rows) == (1, 1, 2, 1)
    for i, path in enumerate(paths):
        got = spark.read.parquet(f"{base}/run_id=batch_{i:012d}")
        want = quality.validation_results(
            spark.read.schema(SCHEMA).json(path), TRANSACTION_SUITE, "x"
        ).drop("run_id")
        assert got.columns == want.columns
        assert sorted(got.collect()) == sorted(want.collect()), i
    assert per_batch < 300, per_batch


def test_distribution_drift_identical_and_shifted(spark):
    from real_time_data_pipeline_spark.operators.quality import (
        distribution_drift,
    )

    ref = spark.createDataFrame(
        [("a", float(i)) for i in range(10)]
        + [("b", float(i)) for i in range(10)],
        "g string, v double",
    )
    # a: identical distribution -> 0 drift; b: all mass clamps into the
    # top bin (values beyond the frozen reference range still register);
    # c: present ONLY in the current window (brand-new group)
    cur = spark.createDataFrame(
        [("a", float(i)) for i in range(10)]
        + [("b", 100.0) for _ in range(10)]
        + [("c", 1.0), ("c", 2.0), ("c", 3.0)],
        "g string, v double",
    )
    rows = {
        r["g"]: r for r in distribution_drift(ref, cur, "g", "v").collect()
    }
    assert rows["a"]["tv_bp"] == 0
    # ref spreads 1000bp/bin; cur puts 10000bp in bin 9 ->
    # TV = (9*1000 + 9000)/2 = 9000
    assert rows["b"]["tv_bp"] == 9000
    # reference-absent group registers full drift, not a dropped row
    assert (rows["c"]["tv_bp"], rows["c"]["n_ref"], rows["c"]["n_cur"]) == (
        10_000, 0, 3,
    )


def test_distribution_drift_vanished_group(spark):
    """A group present ONLY in the reference window must register total
    drift (tv_bp = 10000), not a NULL that slips past a tv_bp >
    threshold monitor (round-4 advisor: 0/0 made q NULL and NULLed the
    whole TV sum for vanished groups)."""
    from real_time_data_pipeline_spark.operators.quality import (
        distribution_drift,
    )

    ref = spark.createDataFrame(
        [("keep", float(i)) for i in range(10)]
        + [("gone", float(i)) for i in range(5)],
        "g string, v double",
    )
    cur = spark.createDataFrame(
        [("keep", float(i)) for i in range(10)],
        "g string, v double",
    )
    rows = {
        r["g"]: r for r in distribution_drift(ref, cur, "g", "v").collect()
    }
    assert rows["keep"]["tv_bp"] == 0
    assert (
        rows["gone"]["tv_bp"],
        rows["gone"]["n_ref"],
        rows["gone"]["n_cur"],
    ) == (10_000, 5, 0)
    # and a threshold filter CATCHES the disappearance
    flagged = {
        r["g"]
        for r in distribution_drift(ref, cur, "g", "v")
        .filter("tv_bp > 5000")
        .collect()
    }
    assert "gone" in flagged


def test_embedding_drift_hand_vectors(spark):
    """ref means (1.0, 0.0), cur means (0.0, 1.0) -> per-dim micro
    deltas ±1e6 -> L2 = floor(sqrt(2)*1e6) = 1414213."""
    from real_time_data_pipeline_spark.operators.quality import (
        embedding_drift,
    )

    ref = spark.createDataFrame(
        [([1.0, 0.0],), ([1.0, 0.0],)], "embedding array<double>"
    )
    cur = spark.createDataFrame([([0.0, 1.0],)], "embedding array<double>")
    r = embedding_drift(ref, cur).collect()[0]
    assert (r["n_ref"], r["n_cur"], r["n_dims"]) == (2, 1, 2)
    assert r["l2_micro"] == 1_414_213
    # identical windows -> zero drift
    z = embedding_drift(ref, ref).collect()[0]
    assert z["l2_micro"] == 0


def test_drift_partials_merge_associative(spark):
    """The streaming drift twins rest on this property: folding the
    current window through ANY batch split and summing the (group, bin)
    / novel partials must finalize to the exact batch answer."""
    import random

    from real_time_data_pipeline_spark.operators.quality import (
        distribution_drift,
        drift_bin_counts,
        drift_bounds,
        drift_finalize,
        drift_novel_counts,
    )

    rng = random.Random(7)
    ref_rows = [
        (g, float(rng.randint(0, 100)))
        for g in ["a", "b", "gone"]
        for _ in range(rng.randint(5, 20))
    ]
    cur_rows = [
        (g, float(rng.randint(-20, 140)))  # includes out-of-range clamps
        for g in ["a", "b", "novel"]
        for _ in range(rng.randint(5, 20))
    ]
    ref = spark.createDataFrame(ref_rows, "g string, v double")
    cur = spark.createDataFrame(cur_rows, "g string, v double")
    expected = {
        (r["g"], r["tv_bp"], r["n_ref"], r["n_cur"])
        for r in distribution_drift(ref, cur, "g", "v").collect()
    }

    bounds = drift_bounds(ref, "g", "v")
    ref_binned = drift_bin_counts(ref, bounds, "g", "v", 10)
    # random 3-way split of the current window, partials summed in pandas
    # exactly like the streaming fold
    import pandas as pd

    splits = [[], [], []]
    for row in cur_rows:
        splits[rng.randrange(3)].append(row)
    binned = pd.DataFrame(columns=["g", "bin", "n"])
    novel = pd.DataFrame(columns=["g", "n"])
    for part in splits:
        if not part:
            continue
        b = spark.createDataFrame(part, "g string, v double")
        binned = (
            pd.concat([binned, drift_bin_counts(b, bounds, "g", "v", 10).toPandas()])
            .groupby(["g", "bin"], as_index=False)["n"].sum()
        )
        novel = (
            pd.concat([novel, drift_novel_counts(b, bounds, "g").toPandas()])
            .groupby(["g"], as_index=False)["n"].sum()
        )
    got = {
        (r["g"], r["tv_bp"], r["n_ref"], r["n_cur"])
        for r in drift_finalize(
            ref_binned,
            spark.createDataFrame(binned, "g string, bin bigint, n long"),
            spark.createDataFrame(novel, "g string, n long"),
            "g",
        ).collect()
    }
    assert got == expected
    # the vanished group is pinned to total drift in both shapes
    assert any(g == "gone" and tv == 10_000 for g, tv, _, _ in got)


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_quality_verdicts_shared_tokens_identical(spark, sf_dir):
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.operators import curation
    from real_time_data_pipeline_spark.operators.dedup import tokens_col
    from real_time_data_pipeline_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(docs.source == "src0")
    toksf = docs.select(
        F.col("doc_id"),
        F.length(F.col("text")).alias("n_chars"),
        tokens_col("text").alias("toks"),
    )
    base = curation.quality_verdicts(docs, bench)
    shared = curation.quality_verdicts(docs, bench, tokens_frame=toksf)
    cols = base.columns
    assert _sorted_rows(base, cols) == _sorted_rows(shared, cols)


def test_near_dup_text_signals_shared_tokens_identical(spark, sf_dir):
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.operators.dedup import (
        near_dup_text_signals,
        tokens_col,
    )
    from real_time_data_pipeline_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    toksf = docs.select(
        F.col("doc_id"),
        F.length(F.col("text")).alias("n_chars"),
        tokens_col("text").alias("toks"),
    )
    base = near_dup_text_signals(docs, jaccard_threshold=0.8)
    shared = near_dup_text_signals(
        docs, jaccard_threshold=0.8, tokens_frame=toksf
    )
    for key, cols in (
        ("exact_flags", ["doc_id", "is_exact_dup"]),
        ("exact_edges", ["id_a", "id_b"]),
        ("mh_pairs", ["id_a", "id_b"]),
    ):
        assert _sorted_rows(base[key], cols) == _sorted_rows(shared[key], cols), key
