"""Streaming semantics tests (SURVEY.md §5.3).

Deterministic inputs via the file JSON-lines source with
``maxFilesPerTrigger=1`` + ``availableNow`` trigger: files process in
mtime order, one micro-batch each, then the query drains and stops — so
watermark advancement between batches is reproducible.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.streaming import pipeline, sinks, sources, stateful
from real_time_data_pipeline_spark.operators import transforms

try:  # transformWithState needs the protobuf state-server protocol
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:
    _HAS_PROTOBUF = False


def _txn(txn_id: str, ts: str, amount: float = 100.0, account: str = "ACC000001"):
    return {
        "transaction_id": txn_id,
        "account_id": account,
        "customer_id": "CUST000001",
        "transaction_type": "deposit",
        "amount": amount,
        "currency": "USD",
        "timestamp": ts,
        "status": "completed",
    }


def _write_ordered_files(dirpath: str, batches: list[list[dict]]) -> None:
    """One JSON-lines file per micro-batch, mtimes strictly increasing so
    the file source processes them in order."""
    os.makedirs(dirpath, exist_ok=True)
    base = time.time() - 1000
    for i, rows in enumerate(batches):
        p = os.path.join(dirpath, f"batch_{i:03d}.json")
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (base + i * 10, base + i * 10))


def _run_stream(df, out: list, available_now: bool = True):
    q = (
        df.writeStream.foreachBatch(lambda b, _i: out.extend(b.collect()))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_batch_parity(spark, tmp_path):
    """The same DAG produces identical enriched rows in batch and
    streaming (the engine's core design invariant)."""
    rows = [
        _txn("T1", "2024-01-01T10:00:00", 1500.0),
        _txn("T2", "2024-01-01T10:30:00", 50.0),
        _txn("T3", "2024-01-01T11:00:00", None),  # invalid: null amount
    ]
    d = str(tmp_path / "in")
    _write_ordered_files(d, [rows])

    stream_raw = sources.file_json_source(spark, d)
    out: list = []
    dag = pipeline.build_dag(stream_raw)
    _run_stream(
        dag["enriched"].drop("ingestion_time"), out
    )  # ingestion_time is wall-clock

    batch_raw = spark.read.text(d).select(
        F.get_json_object("value", "$.account_id").alias("key"), "value"
    )
    expected = pipeline.build_dag(batch_raw)["enriched"].drop("ingestion_time").collect()

    key = lambda r: r.transaction_id
    assert sorted(out, key=key) == sorted(expected, key=key)


def test_dead_letter_and_alerts_routing(spark, tmp_path):
    """S10/S11: invalid rows route to dead_letter, large valid amounts to
    alerts, and the main output keeps everything."""
    rows = [
        _txn("OK1", "2024-01-01T10:00:00", 100.0),
        _txn("BAD1", "2024-01-01T10:01:00", -5.0),
        _txn("BIG1", "2024-01-01T10:02:00", 50_000.0),
    ]
    d = str(tmp_path / "in")
    _write_ordered_files(d, [rows])
    dag = pipeline.build_dag(sources.file_json_source(spark, d))

    dead: list = []
    alerts: list = []
    _run_stream(dag["dead_letter"], dead)
    _run_stream(dag["alerts"], alerts)

    assert [r.transaction_id for r in dead] == ["BAD1"]
    assert [r.transaction_id for r in alerts] == ["BIG1"]


def test_windowed_agg_drops_late_rows(spark, tmp_path):
    """A1/A2: a row older than the watermark is dropped; closed windows
    emit exactly once in append mode (reference transaction_processor.py:282-294)."""
    batches = [
        # batch 0: two rows in the 10:00 window -> watermark 10:15 after it
        [_txn("T1", "2024-01-01T10:15:00"), _txn("T2", "2024-01-01T10:45:00")],
        # batch 1: filler — Spark applies the late-row filter with a
        # one-batch lag (the filter watermark trails the eviction
        # watermark), so a spacer batch is needed before the raised
        # watermark is in force for filtering
        [_txn("FILL", "2024-01-01T10:50:00")],
        # batch 2: late row at 08:30 — filter watermark (10:15) is past
        # its window end (09:00), so it must be dropped
        [_txn("LATE", "2024-01-01T08:30:00")],
        # batches 3-4: advance the watermark to flush closed windows
        [_txn("T3", "2024-01-01T12:30:00")],
        [_txn("T4", "2024-01-01T14:30:00")],
    ]
    d = str(tmp_path / "in")
    _write_ordered_files(d, batches)

    raw = sources.file_json_source(spark, d, max_files_per_trigger=1)
    cfg = pipeline.PipelineConfig(watermark="30 minutes")
    aggs = pipeline.build_dag(raw, cfg)["aggregates"]
    out: list = []
    _run_stream(aggs, out)

    by_window = {r.window_start.isoformat(): r.transaction_count for r in out}
    # 10:00 window closed with T1+T2+FILL; the late 08:30 row was dropped
    assert by_window.get("2024-01-01T10:00:00") == 3
    assert "2024-01-01T08:00:00" not in by_window


def test_stream_dedup_within_watermark(spark, tmp_path):
    """N1 streaming: duplicate transaction_id in a later micro-batch is
    dropped while its key is inside the watermark."""
    batches = [
        [_txn("D1", "2024-01-01T10:00:00"), _txn("D2", "2024-01-01T10:01:00")],
        [_txn("D1", "2024-01-01T10:02:00"), _txn("D3", "2024-01-01T10:03:00")],
    ]
    d = str(tmp_path / "in")
    _write_ordered_files(d, batches)

    raw = sources.file_json_source(spark, d, max_files_per_trigger=1)
    parsed = transforms.parse_kafka_payload(raw)
    deduped = stateful.stream_dedup(parsed, ["transaction_id"])
    out: list = []
    _run_stream(deduped, out)

    ids = sorted(r.transaction_id for r in out)
    assert ids == ["D1", "D2", "D3"]


def test_running_totals_state_accumulates(spark, tmp_path):
    """N6: applyInPandasWithState folds state across micro-batches."""
    batches = [
        [_txn("S1", "2024-01-01T10:00:00", 10.0), _txn("S2", "2024-01-01T10:01:00", 20.0)],
        [_txn("S3", "2024-01-01T10:02:00", 30.0)],
    ]
    d = str(tmp_path / "in")
    _write_ordered_files(d, batches)

    raw = sources.file_json_source(spark, d, max_files_per_trigger=1)
    parsed = transforms.parse_kafka_payload(raw)
    totals = stateful.running_totals(parsed)

    seen: list = []
    q = (
        totals.writeStream.foreachBatch(lambda b, _i: seen.extend(b.collect()))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final = seen[-1]
    assert final.account_id == "ACC000001"
    assert final.n_txns == 3
    assert final.total_amount == pytest.approx(60.0)


def test_partitioned_parquet_sink_layout(spark, tmp_path):
    """S9: warehouse sink writes year=/month=/day= Hive layout derived
    from event_time (spark_config.yml:65-69)."""
    rows = [
        _txn("P1", "2024-01-15T10:00:00"),
        _txn("P2", "2024-02-20T11:00:00"),
    ]
    d = str(tmp_path / "in")
    _write_ordered_files(d, [rows])

    raw = sources.file_json_source(spark, d)
    parsed = transforms.parse_kafka_payload(raw)
    out_dir = str(tmp_path / "warehouse")
    q = sinks.partitioned_parquet_sink(
        parsed, out_dir, str(tmp_path / "ckpt"), ts_col="event_time"
    )
    q.processAllAvailable()
    q.stop()

    written = spark.read.parquet(out_dir)
    assert sorted(
        (r.year, r.month, r.day)
        for r in written.select("year", "month", "day").collect()
    ) == [(2024, 1, 15), (2024, 2, 20)]
    # partition pruning: a day-filtered read should list only one directory
    assert os.path.isdir(os.path.join(out_dir, "year=2024", "month=1", "day=15"))


def test_rate_synthetic_source_schema(spark):
    """S8: rate-driven generator emits Kafka-shaped (key, value JSON)."""
    df = sources.rate_synthetic_source(spark, rows_per_second=10)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["key", "value"]


def test_start_pipeline_binds_sinks(spark, tmp_path):
    """start_pipeline wires DAG outputs to sink factories and starts
    queries (memory sinks stand in for kafka/console)."""
    rows = [
        _txn("M1", "2024-01-01T10:00:00", 100.0),
        _txn("M2", "2024-01-01T10:30:00", -1.0),
    ]
    d = str(tmp_path / "in")
    _write_ordered_files(d, [rows])
    raw = sources.file_json_source(spark, d)

    queries = pipeline.start_pipeline(
        raw,
        {
            "enriched": lambda df: sinks.memory_sink(df, "mem_enriched"),
            "dead_letter": lambda df: sinks.memory_sink(df, "mem_dead"),
        },
    )
    try:
        for q in queries:
            q.processAllAvailable()
        assert spark.sql("SELECT count(*) FROM mem_enriched").collect()[0][0] == 2
        dead = spark.sql("SELECT transaction_id FROM mem_dead").collect()
        assert [r.transaction_id for r in dead] == ["M2"]
    finally:
        for q in queries:
            q.stop()


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Checkpoint/restart resume: a restarted query (same checkpoint)
    re-reads nothing — every input row lands in the sink exactly once
    across the two runs."""
    d = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        raw = sources.file_json_source(spark, d)
        parsed = transforms.parse_kafka_payload(raw)
        q = (
            parsed.writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_ordered_files(d, [[_txn("R1", "2024-01-01T10:00:00"),
                              _txn("R2", "2024-01-01T10:01:00")]])
    run_once()
    # a new file arrives after the first run fully stopped; the restarted
    # query must process only it
    with open(os.path.join(d, "later.json"), "w") as f:
        f.write(json.dumps(_txn("R3", "2024-01-01T10:05:00")) + "\n")
    run_once()

    ids = sorted(
        r.transaction_id for r in spark.read.parquet(out).collect()
    )
    assert ids == ["R1", "R2", "R3"]


def test_streaming_session_windows(spark, tmp_path):
    """N5 streaming: session windows close per key once the watermark
    passes session end + gap."""
    batches = [
        [_txn("A1", "2024-01-01T10:00:00"), _txn("A2", "2024-01-01T10:10:00")],
        [_txn("B1", "2024-01-01T12:00:00")],
        [_txn("C1", "2024-01-01T14:00:00")],
        [_txn("D1", "2024-01-01T16:00:00")],
    ]
    d = str(tmp_path / "in")
    _write_ordered_files(d, batches)

    raw = sources.file_json_source(spark, d, max_files_per_trigger=1)
    parsed = transforms.parse_kafka_payload(raw)
    sessions = stateful.sessionize(
        parsed, ts_col="event_time", key_col="account_id", value_col="amount",
        gap="30 minutes", watermark="30 minutes",
    )
    out: list = []
    _run_stream(sessions, out)

    by_start = {r.session_start.isoformat(): r.n_events for r in out}
    assert by_start.get("2024-01-01T10:00:00") == 2  # A1+A2 merged session
    assert by_start.get("2024-01-01T12:00:00") == 1


def test_transform_chain_batch_and_stream(spark, tmp_path):
    """S7: the registered processor chain yields identical results applied
    batch-side and per micro-batch."""
    from real_time_data_pipeline_spark.operators import transforms as T

    chain = (
        pipeline.TransformChain()
        .add_processor(T.validate)
        .add_processor(T.enrich)
    )
    rows = [_txn("C1", "2024-01-01T10:00:00", 2000.0),
            _txn("C2", "2024-01-01T10:01:00", -1.0)]
    d = str(tmp_path / "in")
    _write_ordered_files(d, [rows])

    batch = chain.apply(
        T.parse_kafka_payload(
            spark.read.text(d).select(F.lit(None).alias("key"), "value")
        )
    ).drop("ingestion_time")
    expected = {(r.transaction_id, r.is_valid, r.transaction_category)
                for r in batch.collect()}

    got: list = []
    parsed = T.parse_kafka_payload(sources.file_json_source(spark, d))
    q = (
        parsed.writeStream.foreachBatch(
            chain.foreach_batch(lambda b, _i: got.extend(
                b.drop("ingestion_time").collect()))
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {(r.transaction_id, r.is_valid, r.transaction_category)
            for r in got} == expected
    assert ("C1", True, "large_deposit") in expected


def test_observed_dq_metrics_surface_in_progress(spark, tmp_path):
    """df.observe metrics ride the existing micro-batch pass and appear
    in StreamingQueryProgress.observedMetrics (no extra aggregation job)."""
    rows = [
        _txn("O1", "2024-01-01T10:00:00", 100.0),
        _txn("O2", "2024-01-01T10:01:00", -3.0),       # invalid
        _txn("O3", "2024-01-01T10:02:00", 60_000.0),   # alert-sized
    ]
    d = str(tmp_path / "in")
    _write_ordered_files(d, [rows])

    dag = pipeline.build_dag(sources.file_json_source(spark, d))
    q = (
        dag["enriched"].writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    metrics = [
        p["observedMetrics"]["dq"]
        for p in q.recentProgress
        if p.get("observedMetrics", {}).get("dq")
    ]
    assert metrics, f"no dq metrics in progress: {q.recentProgress}"
    total = {
        "n_rows": sum(m["n_rows"] for m in metrics),
        "n_invalid": sum(m["n_invalid"] for m in metrics),
        "n_alert_sized": sum(m["n_alert_sized"] for m in metrics),
    }
    assert total == {"n_rows": 3, "n_invalid": 1, "n_alert_sized": 1}


def test_retry_escalation_to_dead_letter(spark):
    """S10 retry loop: failed rows cycle through the retry route with a
    per-record attempt counter until exhausted, then land in dead."""
    failed = spark.createDataFrame(
        [("F1", -1.0)], "transaction_id string, amount double"
    )
    routed = pipeline.route_for_retry(failed, max_attempts=2)
    assert routed["retry"].count() == 1 and routed["dead"].count() == 0

    # simulate the loop: feed the retry output back in until exhaustion
    current = routed["retry"]
    hops = 1
    while current.count() and hops < 10:
        routed = pipeline.route_for_retry(current, max_attempts=2)
        current = routed["retry"]
        hops += 1
    assert hops == 3                      # attempts 1, 2, then exhausted
    assert routed["dead"].count() == 1
    [r] = routed["dead"].collect()
    assert r.retry_attempt == 3


def test_stream_static_enrichment_join(spark, tmp_path):
    """J1 in streaming mode (the reference's explicit TODO at
    transaction_processor.py:267): a static broadcast dimension joined
    onto each micro-batch."""
    from real_time_data_pipeline_spark.operators.joins import enrich_with_accounts
    from real_time_data_pipeline_spark.sources.generator import synthetic_accounts

    rows = [_txn("J1", "2024-01-01T10:00:00", 100.0, account="ACC000001"),
            _txn("J2", "2024-01-01T10:01:00", 100.0, account="ACC000042")]
    d = str(tmp_path / "in")
    _write_ordered_files(d, [rows])

    accounts = synthetic_accounts(spark)  # static dim
    parsed = transforms.parse_kafka_payload(sources.file_json_source(spark, d))
    enriched = enrich_with_accounts(parsed, accounts)
    assert enriched.isStreaming

    out: list = []
    _run_stream(enriched, out)
    got = {r.transaction_id: r for r in out}
    assert got["J1"].account_type in {"checking", "savings", "credit", "loan", "investment"}
    assert got["J2"].account_status in {"active", "frozen", "closed"}
    # customer_id backfilled from the account record is non-null
    assert all(r.customer_id is not None for r in out)


def test_warehouse_sink_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch (crash between
    parquet write and checkpoint commit) must not duplicate warehouse
    rows. The stage-and-publish writer names files deterministically per
    batch, so a replay replaces exactly its own files."""
    rows = [
        _txn("W1", "2024-01-15T10:00:00"),
        _txn("W2", "2024-02-20T11:00:00"),
    ]
    d = str(tmp_path / "in")
    _write_ordered_files(d, [rows])
    raw = sources.file_json_source(spark, d)
    parsed = transforms.parse_kafka_payload(raw)
    out = str(tmp_path / "wh")

    q = sinks.partitioned_parquet_sink(parsed, out, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    first = spark.read.parquet(out)
    assert first.count() == 2

    # replay batch 0 directly (same batch_id) — count must not change
    replay_df = spark.createDataFrame(
        first.drop("year", "month", "day").collect(), first.drop("year", "month", "day").schema
    )
    sinks.warehouse_write_batch(replay_df, 0, out)
    again = spark.read.parquet(out)
    assert again.count() == 2

    # a NEW batch id appends
    sinks.warehouse_write_batch(
        replay_df.limit(1), 1, out
    )
    assert spark.read.parquet(out).count() == 3
    # staging dir cleaned up and hidden from readers
    import os
    assert not os.listdir(os.path.join(out, "_staging")) if os.path.isdir(
        os.path.join(out, "_staging")) else True


def test_stream_stream_time_join(spark, tmp_path):
    """Stream-stream equi-join with watermarks and a two-sided time-range
    bound: payments match their refund only within 1 hour, state expires
    via the watermark."""
    from real_time_data_pipeline_spark.operators.joins import (
        stream_stream_time_join,
    )

    pay_rows = [
        _txn("P1", "2024-01-01T10:00:00"),
        _txn("P2", "2024-01-01T12:00:00"),
    ]
    refund_rows = [
        # within 1h of P1 -> joins
        {"refund_id": "R1", "account_id": "ACC000001",
         "refund_time": "2024-01-01T10:30:00"},
        # 3h after P2 -> outside the window, must NOT join
        {"refund_id": "R2", "account_id": "ACC000001",
         "refund_time": "2024-01-01T15:00:00"},
    ]
    pd_dir, rf_dir = str(tmp_path / "pay"), str(tmp_path / "ref")
    _write_ordered_files(pd_dir, [pay_rows])
    _write_ordered_files(rf_dir, [refund_rows])

    pays = transforms.parse_kafka_payload(
        sources.file_json_source(spark, pd_dir)
    ).select("transaction_id", "account_id", "event_time")
    refunds = (
        spark.readStream.schema(
            "refund_id string, account_id string, refund_time string"
        )
        .json(rf_dir)
        .select(
            "refund_id",
            "account_id",
            F.to_timestamp("refund_time").alias("refund_time"),
        )
    )
    joined = stream_stream_time_join(
        pays, refunds, key="account_id",
        left_ts="event_time", right_ts="refund_time", within="1 hour",
    )
    out: list = []
    _run_stream(joined, out)
    assert [(r.transaction_id, r.refund_id) for r in out] == [("P1", "R1")]


def test_metrics_recorder_captures_progress_and_observed_dq(spark, tmp_path):
    """The StreamingQueryListener metrics recorder lands one parquet row
    per micro-batch with input counts and the DAG's observe() dq
    counters."""
    from real_time_data_pipeline_spark.streaming import monitoring

    rows = [
        _txn("M1", "2024-01-01T10:00:00", 100.0),
        _txn("M2", "2024-01-01T10:30:00", -1.0),  # invalid
    ]
    d = str(tmp_path / "in")
    _write_ordered_files(d, [rows])
    mpath = str(tmp_path / "metrics")
    rec = monitoring.attach_metrics_recorder(spark, mpath, flush_every=100)
    try:
        raw = sources.file_json_source(spark, d)
        dag = pipeline.build_dag(raw)
        out: list = []
        q = (
            dag["enriched"].writeStream.queryName("metrics_test")
            .foreachBatch(lambda b, _i: out.extend(b.collect()))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # the listener bus is async: progress events may land after the
        # query drains — poll until the data batch's row is flushed
        got = []
        for _ in range(60):
            rec.flush()
            try:
                got = (
                    spark.read.parquet(mpath)
                    .filter("query_name = 'metrics_test'")
                    .collect()
                )
            except Exception:
                got = []
            if any(r.num_input_rows == 2 for r in got):
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)
    assert any(r.num_input_rows == 2 for r in got)
    import json as _json

    data_batches = [r for r in got if r.num_input_rows == 2]
    dq = _json.loads(data_batches[0].observed_metrics).get("dq", {})
    assert dq.get("n_rows") == 2 and dq.get("n_invalid") == 1
    assert all(r.batch_duration_ms is not None for r in data_batches)


@pytest.mark.skipif(
    not _HAS_PROTOBUF,
    reason="transformWithState's Python driver worker needs google.protobuf "
    "(absent in this container); operator shape is exercised by import, "
    "semantics mirror running_totals which is fully tested",
)
def test_running_totals_tws_matches_legacy_api(spark, tmp_path):
    """N6 twin: transformWithStateInPandas (Spark 4.x) produces the same
    final totals as applyInPandasWithState for the same input stream.
    Requires the RocksDB state store provider (session default) and
    protobuf for the state-server protocol."""
    batches = [
        [_txn("T1", "2024-01-01T10:00:00", 10.0), _txn("T2", "2024-01-01T10:01:00", 20.0)],
        [_txn("T3", "2024-01-01T10:02:00", 30.0)],
    ]
    d = str(tmp_path / "in_tws")
    _write_ordered_files(d, batches)

    raw = sources.file_json_source(spark, d, max_files_per_trigger=1)
    parsed = transforms.parse_kafka_payload(raw)
    totals = stateful.running_totals_tws(parsed)

    seen: list = []
    q = (
        totals.writeStream.foreachBatch(lambda b, _i: seen.extend(b.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final = seen[-1]
    assert final.account_id == "ACC000001"
    assert final.n_txns == 3
    assert final.total_amount == pytest.approx(60.0)


def test_upsert_snapshot_sink_merges_and_replays(spark, tmp_path):
    import json
    import os
    import time

    from real_time_data_pipeline_spark.operators.cdc import latest_snapshot
    from real_time_data_pipeline_spark.streaming.sinks import (
        read_snapshot,
        upsert_snapshot_sink,
        upsert_write_batch,
    )

    b0 = [(1, 10, "I", "a"), (2, 10, "I", "b")]
    b1 = [(1, 20, "U", "a2"), (2, 20, "D", "b"), (3, 20, "I", "c")]
    src = os.path.join(str(tmp_path), "log")
    os.makedirs(src)
    base_t = time.time() - 100
    for i, chunk in enumerate((b0, b1)):
        p = os.path.join(src, f"f{i}.json")
        with open(p, "w") as f:
            for k, seq, op, payload in chunk:
                f.write(json.dumps(
                    {"k": k, "seq": seq, "op": op, "payload": payload}) + "\n")
        os.utime(p, (base_t + i * 10, base_t + i * 10))

    stream = (
        spark.readStream.schema("k long, seq long, op string, payload string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    snap_dir = os.path.join(str(tmp_path), "snap")
    q = upsert_snapshot_sink(
        stream,
        snap_dir,
        os.path.join(str(tmp_path), "ckpt"),
        key_cols=["k"],
        seq_cols=["seq"],
    )
    q.processAllAvailable()
    q.stop()

    all_rows = spark.createDataFrame(
        b0 + b1, "k long, seq long, op string, payload string"
    )
    expected = sorted(
        latest_snapshot(all_rows, ["k"], ["seq"]).drop("n_changes").collect()
    )
    got = sorted(read_snapshot(spark, snap_dir).collect())
    assert got == expected
    assert {r["k"]: r["payload"] for r in got} == {1: "a2", 3: "c"}

    # Replay of the last micro-batch (at-least-once) must be a no-op.
    batch1 = spark.createDataFrame(
        b1, "k long, seq long, op string, payload string"
    )
    upsert_write_batch(batch1, 1, snap_dir, ["k"], ["seq"])
    assert sorted(read_snapshot(spark, snap_dir).collect()) == expected


def test_drift_foreach_batch_matches_batch_semantics(spark, tmp_path):
    """Streaming drift monitor (categorical_drift against a frozen
    reference, per micro-batch through a TransformChain) == batch
    categorical_drift on the same micro-batch, including the alert
    flag."""
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.operators.quality import (
        categorical_drift,
    )
    from real_time_data_pipeline_spark.streaming.pipeline import (
        TransformChain,
    )

    ref = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 50, "event_type string"
    )
    src = tmp_path / "src"
    src.mkdir()
    batch1 = spark.createDataFrame(
        [("a",)] * 90 + [("b",)] * 10, "event_type string"
    )
    batch1.coalesce(1).write.mode("overwrite").parquet(str(src))

    got = {}

    def sink(df, batch_id):
        got[batch_id] = df.collect()

    stream = (
        spark.readStream.schema("event_type string").parquet(str(src))
    )
    monitor = TransformChain().add_processor(
        lambda b: categorical_drift(ref, b, "event_type").withColumn(
            "alert", F.col("tv_bp") > 1500
        )
    )
    q = stream.writeStream.foreachBatch(
        monitor.foreach_batch(sink)
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert len(got) >= 1
    stream_rows = [r for rows in got.values() for r in rows]
    batch_row = (
        categorical_drift(ref, batch1, "event_type").collect()[0]
    )
    # 5000bp a vs 9000bp a -> tv = 4000, above the 1500 alert line
    assert stream_rows[0]["tv_bp"] == batch_row["tv_bp"] == 4000
    assert stream_rows[0]["alert"] is True


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: a payment with no refund inside
    its 1-hour window must still emit (null-padded) once the watermark
    passes payment_ts + within — the state-expiry contract that keeps
    the join's buffers bounded forever."""
    from real_time_data_pipeline_spark.operators.joins import (
        stream_stream_time_join,
    )

    # The GLOBAL watermark is the MIN across all inputs, so BOTH sides
    # need a late heartbeat to move it past P2's emission deadline
    # (12:00 + 1h window + 30m watermark) — the operational gotcha this
    # test documents: a stalled side freezes outer-join emission.
    pay_batches = [
        [_txn("P1", "2024-01-01T10:00:00"), _txn("P2", "2024-01-01T12:00:00")],
        [_txn("P_HB", "2024-01-01T20:00:00", account="ACC_HB")],
    ]
    refund_batches = [
        [{"refund_id": "R1", "account_id": "ACC000001",
          "refund_time": "2024-01-01T10:30:00"}],
        [{"refund_id": "R_LATE", "account_id": "ACC_OTHER",
          "refund_time": "2024-01-01T20:00:00"}],
    ]
    pd_dir, rf_dir = str(tmp_path / "pay"), str(tmp_path / "ref")
    _write_ordered_files(pd_dir, pay_batches)
    _write_ordered_files(rf_dir, refund_batches)

    pays = transforms.parse_kafka_payload(
        sources.file_json_source(spark, pd_dir)
    ).select("transaction_id", "account_id", "event_time")
    refunds = (
        spark.readStream.schema(
            "refund_id string, account_id string, refund_time string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(rf_dir)
        .select(
            "refund_id",
            "account_id",
            F.to_timestamp("refund_time").alias("refund_time"),
        )
    )
    joined = stream_stream_time_join(
        pays, refunds, key="account_id",
        left_ts="event_time", right_ts="refund_time", within="1 hour",
        how="left_outer",
    )
    out: list = []
    _run_stream(joined, out)
    got = {(r.transaction_id, r.refund_id) for r in out}
    assert ("P1", "R1") in got
    assert ("P2", None) in got  # unmatched left row null-emits
    assert ("P1", None) not in got  # matched rows never double-emit


def test_clamped_balance_stateful_folds_in_order(spark, tmp_path):
    """N6 (non-associative state): the streaming clamped-balance fold
    across ordered micro-batches equals the sequential recurrence, and
    an out-of-order batch fails loudly instead of corrupting state."""
    import pandas as pd

    from real_time_data_pipeline_spark.streaming import stateful

    # two keys, deltas interleaved across 3 chronological batches
    batches = [
        [
            {"user_id": 1, "us": 10, "event_id": 1, "delta_c": 5},
            {"user_id": 2, "us": 11, "event_id": 2, "delta_c": -4},
        ],
        [
            {"user_id": 1, "us": 20, "event_id": 3, "delta_c": -10},
            {"user_id": 1, "us": 21, "event_id": 4, "delta_c": 3},
        ],
        [
            {"user_id": 2, "us": 30, "event_id": 5, "delta_c": 7},
            {"user_id": 1, "us": 31, "event_id": 6, "delta_c": 20},
        ],
    ]
    d = str(tmp_path / "bal_in")
    _write_ordered_files(d, batches)
    schema = "user_id long, us long, event_id long, delta_c long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    holder: dict = {}
    q = (
        stateful.clamped_balance_stateful(stream)
        .writeStream.foreachBatch(
            lambda b, _i: holder.update({r["user_id"]: r for r in b.collect()})
        )
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    def sim(ds):
        b, peak, clamps, cum, mincum = 0, 0, 0, 0, None
        for x in ds:
            cum += x
            mincum = cum if mincum is None else min(mincum, cum)
            if b + x < 0:
                clamps += 1
            b = max(0, b + x)
            peak = max(peak, b)
        return b, peak, clamps, mincum

    for uid, ds in ((1, [5, -10, 3, 20]), (2, [-4, 7])):
        b, peak, clamps, mincum = sim(ds)
        r = holder[uid]
        assert (
            r["final_balance_c"],
            r["peak_balance_c"],
            r["n_clamps"],
            r["min_cum_c"],
            r["n_events"],
        ) == (b, peak, clamps, mincum, len(ds))

    # out-of-order delivery must raise, not corrupt: replay an OLDER
    # row through the same state via the pandas function directly
    from pyspark.sql.streaming.state import GroupState  # noqa: F401

    class _FakeState:
        exists = True
        get = (4, 18, 18, 1, 18, -5, 31, 6)  # last folded (us=31, id=6)

        def update(self, t):  # pragma: no cover - must not be reached
            raise AssertionError("state updated despite ooo batch")

    stale = pd.DataFrame({"us": [30], "event_id": [5], "delta_c": [1]})
    import pytest as _pytest

    with _pytest.raises(ValueError, match="out-of-order"):
        list(stateful._clamped_balance_fn((1,), [stale], _FakeState()))


def test_same_name_stream_captures_run_concurrently(spark, tmp_path):
    """Two runs of one capture name at the same time each get their own
    stage dir (application id + run token), so neither deletes or reads
    the other's rows.  Each run uses its own session so the two
    state-partition overrides do not interleave on one conf."""
    import threading

    from real_time_data_pipeline_spark.queries import reference_parity as rp

    runs = {}
    for k in (1, 2):
        d = tmp_path / f"in{k}"
        spark.range(k * 1000, k * 1000 + 200 * k).write.parquet(str(d))
        runs[k] = str(d)
    app_dir = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(rp.__file__)))
        ),
        "spark-warehouse",
        "_stream_cap",
        spark.sparkContext.applicationId,
    )

    def stages():
        if not os.path.isdir(app_dir):
            return set()
        return {
            f for f in os.listdir(app_dir)
            if f.startswith("same_name_capture_")
        }

    before = stages()
    start = threading.Barrier(2)
    got, errors = {}, []

    def run(k):
        try:
            s = spark.newSession()
            sdf = s.readStream.schema("id long").parquet(runs[k])
            start.wait(timeout=60)
            out = rp.stream_capture(sdf, "same_name_capture")
            got[k] = sorted(r.id for r in out.collect())
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(k,)) for k in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for k in (1, 2):
        assert got[k] == list(range(k * 1000, k * 1000 + 200 * k))
    assert len(stages() - before) == 2
