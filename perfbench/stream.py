"""``ingest_stream``: the paper's DAG through ``streaming.pipeline``.

JSON-lines transaction files go through ``streaming.sources.file_json_source``
(the engine's Kafka stand-in) into ``start_pipeline`` with five sink
queries.  Phase 1 drains a pre-written backlog; phase 2 is an open loop in
which one feeder thread renames pre-written files into the inbox at a
fixed rate and never waits on the engine.  A file is done when every sink
query has committed a micro-batch that read it; the file→batch mapping
comes from each query's checkpoint (``sources/0/*`` and ``offsets/*``)
and batch end times from its progress events.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import threading
import time

import pyarrow.dataset as pads

import gen
from harness import (
    PeakRss,
    Spans,
    SqlStore,
    median,
    percentile,
    repeated_setup,
    start_session,
    stop_session,
)

SINKS = ["enriched", "aggregates", "dead_letter", "alerts", "validated"]
ROWS_PER_FILE = 500
BACKLOG_FILES = 60
MAX_FILES_PER_TRIGGER = 20
# Open-loop arrival rate, fixed here rather than derived per run: about
# half of the backlog drain capacity measured on a 4-core machine
# (see README.md).  The open loop lasts the run's ``--seconds``.
OPEN_LOOP_FILES_PER_S = 3.5
ALERT_THRESHOLD = 1000.0
DONE_TIMEOUT_S = 90.0


def _numbered(d: str) -> list[int]:
    return sorted(int(n) for n in os.listdir(d) if n.isdigit()) if os.path.isdir(d) else []


class Checkpoint:
    """Reads one sink query's checkpoint: which input files each
    committed micro-batch read."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._file_log: dict[str, int] = {}  # file name -> source log id
        self._offsets: dict[int, int] = {}  # batch id -> source log offset

    def _log_offset(self, batch: int) -> int:
        if batch not in self._offsets:
            with open(f"{self.path}/offsets/{batch}") as fh:
                lines = fh.read().splitlines()
            self._offsets[batch] = json.loads(lines[2])["logOffset"]
        return self._offsets[batch]

    def _read_sources(self) -> None:
        d = f"{self.path}/sources/0"
        for name in os.listdir(d) if os.path.isdir(d) else ():
            if name.startswith("."):
                continue
            with open(os.path.join(d, name)) as fh:
                for line in fh.read().splitlines()[1:]:
                    e = json.loads(line)
                    self._file_log[os.path.basename(e["path"])] = e["batchId"]

    def committed_upto(self) -> int:
        """Largest source log id covered by a committed batch (-1: none)."""
        commits = _numbered(f"{self.path}/commits")
        return self._log_offset(commits[-1]) if commits else -1

    def all_committed(self, files: list[str]) -> bool:
        upto = self.committed_upto()
        if any(f not in self._file_log for f in files):
            self._read_sources()
        return all(self._file_log.get(f, upto + 1) <= upto for f in files)

    def file_batches(self) -> dict[str, int]:
        """file name -> id of the committed micro-batch that read it."""
        self._read_sources()
        out, prev = {}, -1
        for b in _numbered(f"{self.path}/commits"):
            off = self._log_offset(b)
            for f, log_id in self._file_log.items():
                if prev < log_id <= off:
                    out[f] = b
            prev = off
        return out


def _ms(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def batch_ends(progress: list[dict]) -> dict[int, float]:
    """batch id -> epoch ms at which its trigger finished."""
    return {
        p["batchId"]: _ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
        for p in progress if "addBatch" in p["durationMs"]
    }


class Pipeline:
    """One start of the five-sink pipeline over ``inbox``, with its own
    checkpoint and output dirs under ``root``."""

    def __init__(self, spark, root: str, inbox: str) -> None:
        from real_time_data_pipeline_spark.operators import quality
        from real_time_data_pipeline_spark.streaming import pipeline, sinks, sources

        self.root, self.spark = root, spark
        self.agg_table = f"agg_{abs(hash(root)) % 10**9}"
        ck = {s: f"{root}/ck/{s}" for s in SINKS}
        self.checkpoints = {s: Checkpoint(ck[s]) for s in SINKS}
        factories = {
            "enriched": lambda df: sinks.partitioned_parquet_sink(
                df, f"{root}/warehouse", ck["enriched"]),
            "aggregates": lambda df: (
                df.writeStream.format("memory").queryName(self.agg_table)
                .outputMode("complete")
                .option("checkpointLocation", ck["aggregates"]).start()),
            "dead_letter": lambda df: sinks.partitioned_parquet_sink(
                df, f"{root}/dead_letter", ck["dead_letter"]),
            "alerts": lambda df: sinks.partitioned_parquet_sink(
                df, f"{root}/alerts", ck["alerts"]),
            "validated": lambda df: quality.validation_results_sink(
                df, quality.TRANSACTION_SUITE, f"{root}/validation",
                ck["validated"]),
        }
        raw = sources.file_json_source(spark, inbox, MAX_FILES_PER_TRIGGER)
        cfg = pipeline.PipelineConfig(alert_amount_threshold=ALERT_THRESHOLD)
        self.queries = dict(zip(SINKS, pipeline.start_pipeline(raw, factories, cfg)))

    def wait_committed(self, files: list[str], timeout_s: float) -> bool:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            for q in self.queries.values():
                if q.exception() is not None:
                    raise RuntimeError(f"stream query failed: {q.exception()}")
            if all(c.all_committed(files) for c in self.checkpoints.values()):
                return True
            time.sleep(0.05)
        return False

    def pending(self, files: list[str]) -> int:
        """Files not yet committed by every sink query."""
        done = [c.file_batches() for c in self.checkpoints.values()]
        return sum(1 for f in files if any(f not in d for d in done))

    def _reported(self, sink: str) -> bool:
        """Whether ``sink`` has posted the progress event of its last
        committed batch (it is posted after the commit is written)."""
        commits = _numbered(f"{self.checkpoints[sink].path}/commits")
        ended = batch_ends(self.queries[sink].recentProgress)
        return not commits or max(ended, default=-1) >= commits[-1]

    def stop(self) -> dict[str, list[dict]]:
        """Stop all queries once each has reported its last committed
        batch; returns each one's progress events."""
        deadline = time.time() + DONE_TIMEOUT_S
        while not all(self._reported(s) for s in SINKS) and time.time() < deadline:
            time.sleep(0.05)
        progress = {s: list(q.recentProgress) for s, q in self.queries.items()}
        for q in self.queries.values():
            q.stop()
        return progress

    def done_times(self, progress: dict[str, list[dict]]) -> dict[str, float]:
        """file -> epoch ms when the last sink query committed it; files
        some sink never committed are left out."""
        ends = {}
        for s, ckpt in self.checkpoints.items():
            batch_end = batch_ends(progress[s])
            for f, b in ckpt.file_batches().items():
                if b in batch_end:
                    ends.setdefault(f, []).append(batch_end[b])
        return {f: max(t) for f, t in ends.items() if len(t) == len(SINKS)}


class Feeder(threading.Thread):
    """Moves pre-written files into the inbox on a fixed schedule; it
    never waits on the engine, and records how late each move was."""

    def __init__(self, files: list[str], src: str, dst: str,
                 rate: float, t0: float) -> None:
        super().__init__(daemon=True)
        self.files, self.src, self.dst = files, src, dst
        self.due = {f: t0 + i / rate for i, f in enumerate(files)}
        self.moved: dict[str, float] = {}

    def run(self) -> None:
        for f in self.files:
            wait = self.due[f] - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(self.src, f), os.path.join(self.dst, f))
            self.moved[f] = time.time()

    def max_late_ms(self) -> float:
        return max((self.moved[f] - self.due[f]) * 1e3 for f in self.files)


def _gen_inputs(work: str, seed: int, n_open: int) -> dict:
    staged = f"{work}/staged"
    backlog = gen.write_transaction_files(
        staged, seed, BACKLOG_FILES, ROWS_PER_FILE, "backlog")
    openloop = gen.write_transaction_files(
        staged, seed, n_open, ROWS_PER_FILE, "open",
        first_id=BACKLOG_FILES * ROWS_PER_FILE)
    warm = gen.write_transaction_files(
        f"{work}/warm_inbox", seed, 2, ROWS_PER_FILE, "warm", first_id=10**9)
    return {"staged": staged, "backlog": backlog, "open": openloop, "warm": warm}


def _expected(src: str, files: list[str]) -> dict[str, int]:
    """Row, dead-letter and alert counts the inputs imply."""
    n = invalid = alerts = 0
    for f in files:
        with open(os.path.join(src, f)) as fh:
            for line in fh:
                amt = json.loads(line)["amount"]
                n += 1
                invalid += amt <= 0
                alerts += amt > ALERT_THRESHOLD
    return {"rows": n, "invalid": invalid, "alerts": alerts}


def _count_rows(path: str, valid_only: bool = False) -> int:
    if not os.path.isdir(path):
        return 0
    ds = pads.dataset(path, format="parquet", partitioning="hive",
                      exclude_invalid_files=True)
    if valid_only:
        return ds.count_rows(filter=pads.field("is_valid"))
    return ds.count_rows()


def check_outputs(spark, pipe: Pipeline, inbox: str, expect: dict) -> list[str]:
    """Conservation checks; returns the ones that failed."""
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.streaming import pipeline

    root = pipe.root
    wh = _count_rows(f"{root}/warehouse")
    wh_valid = _count_rows(f"{root}/warehouse", valid_only=True)
    dead = _count_rows(f"{root}/dead_letter")
    alerts = _count_rows(f"{root}/alerts")
    vr = pads.dataset(f"{root}/validation", format="parquet",
                      partitioning="hive").to_table(columns=["run_id", "total"])
    validated = sum(dict(zip(vr["run_id"].to_pylist(), vr["total"].to_pylist())).values())
    failed = []
    if wh != expect["rows"]:
        failed.append(f"warehouse rows {wh} != input rows {expect['rows']}")
    if wh_valid + dead != expect["rows"] or dead != expect["invalid"]:
        failed.append(f"valid {wh_valid} + dead-letter {dead} != input {expect['rows']}")
    if alerts != expect["alerts"]:
        failed.append(f"alerts {alerts} != valid rows above threshold {expect['alerts']}")
    if validated != expect["rows"]:
        failed.append(f"validated rows {validated} != input rows {expect['rows']}")
    raw = spark.read.text(inbox).select(
        F.get_json_object("value", "$.account_id").alias("key"), "value")
    cfg = pipeline.PipelineConfig(alert_amount_threshold=ALERT_THRESHOLD)

    def keyed(rows):
        return {(r["window_start"], r["account_id"]): r for r in rows}

    batch = keyed(pipeline.build_dag(raw, cfg)["aggregates"].collect())
    streamed = keyed(spark.table(pipe.agg_table).collect())
    # Sums of doubles depend on summation order, so money compares to a
    # relative 1e-9; keys and counts compare exactly.
    bad = [k for k in batch.keys() | streamed.keys()
           if k not in batch or k not in streamed
           or batch[k]["transaction_count"] != streamed[k]["transaction_count"]
           or not all(math.isclose(batch[k][c], streamed[k][c], rel_tol=1e-9)
                      for c in ("total_amount", "avg_amount"))]
    if bad:
        failed.append(f"{len(bad)} of {len(batch)} aggregate rows differ from batch build_dag")
    return failed


def run(work: str, seed: int, seconds: float, trace: bool, master: str) -> dict:
    t = time.perf_counter()
    inputs = _gen_inputs(work, seed, round(OPEN_LOOP_FILES_PER_S * seconds))
    gen_s = time.perf_counter() - t

    def warm(spark, rep: int) -> None:
        pipe = Pipeline(spark, f"{work}/warm{rep}", f"{work}/warm_inbox")
        pipe.wait_committed(inputs["warm"], DONE_TIMEOUT_S)
        pipe.stop()

    spark, session_s, session_layers = repeated_setup(work, master, warm)
    setup_s = gen_s + session_s

    staged, backlog, openloop = inputs["staged"], inputs["backlog"], inputs["open"]
    sql = SqlStore(spark)
    sql.skip_existing()
    with PeakRss(spark) as rss:
        inbox = f"{work}/main/inbox"
        os.makedirs(inbox)
        for f in backlog:
            os.rename(os.path.join(staged, f), os.path.join(inbox, f))
        t0 = time.time()
        pipe = Pipeline(spark, f"{work}/main", inbox)
        pipe.wait_committed(backlog, DONE_TIMEOUT_S)
        t1 = time.time() + 0.2
        feeder = Feeder(openloop, staged, inbox, OPEN_LOOP_FILES_PER_S, t1)
        feeder.start()
        feeder.join()
        backlog_end = pipe.pending(openloop)
        pipe.wait_committed(openloop, DONE_TIMEOUT_S)
        progress = pipe.stop()
    done = pipe.done_times(progress)
    all_files = backlog + openloop
    missing = [f for f in all_files if f not in done]
    expect = _expected(inbox, all_files)
    problems = check_outputs(spark, pipe, inbox, expect)
    if missing:
        problems.append(f"{len(missing)} files not committed by every sink in time")
    drain_s = max(done.get(f, math.inf) for f in backlog) / 1e3 - t0
    ok_lat = [done[f] - feeder.due[f] * 1e3 for f in openloop if f in done]

    result = {
        "attempted": len(all_files),
        "failed": len(all_files) if problems else 0,
        "problems": problems,
        "metrics": {
            "setup_s": setup_s,
            "wall_s": drain_s,
            "latency_ms": median(ok_lat) if ok_lat else math.nan,
            "peak_rss_mb": rss.peak_mb,
        },
        "report": {
            "stream_drain_rows_per_s": (len(backlog) * ROWS_PER_FILE / drain_s, "rows/s"),
            "stream_latency_p50_ms": (median(ok_lat) if ok_lat else math.nan, "ms"),
            "stream_latency_p75_ms": (percentile(ok_lat, 75) if ok_lat else math.nan, "ms"),
            "latency_samples": (len(ok_lat), "count"),
        },
    }
    if trace:
        result["layers"] = _layers(
            spark, sql, pipe, progress, expect, feeder, backlog_end,
            {**session_layers, "inputs.gen_s": gen_s, "trace.wall_s": drain_s,
             "stream.latency_p75_ms": result["report"]["stream_latency_p75_ms"][0]},
        )
        result["spans"] = _spans(progress, feeder, t0)
        spark.stop()
        result["layers"]["stream.drain_rows_per_s_1core"] = _one_core_drain(
            work, inbox, backlog)
    else:
        stop_session(spark)
    return result


def _one_core_drain(work: str, src: str, backlog: list[str]) -> float:
    """Backlog drain at ``local[1]``, the single-threaded baseline, in a
    new session on the JVM the run already warmed."""
    inbox = f"{work}/one_core/inbox"
    os.makedirs(inbox)
    for f in backlog:
        shutil.copy(os.path.join(src, f), inbox)
    spark = start_session(work, "local[1]", app="perfbench-1core")
    try:
        t0 = time.time()
        pipe = Pipeline(spark, f"{work}/one_core", inbox)
        if not pipe.wait_committed(backlog, DONE_TIMEOUT_S):
            raise RuntimeError(f"local[1] backlog not drained in {DONE_TIMEOUT_S}s")
        done = pipe.done_times(pipe.stop())
    finally:
        stop_session(spark)
    return len(backlog) * ROWS_PER_FILE / (max(done[f] for f in backlog) / 1e3 - t0)


def _layers(spark, sql: SqlStore, pipe: Pipeline, progress: dict,
            expect: dict, feeder: Feeder, backlog_end: int, setup: dict) -> dict:
    counters: dict[str, float] = dict(setup)
    sql.fold_new(counters)
    plist = [p for s in SINKS for p in progress[s] if "addBatch" in p["durationMs"]]

    def dsum(key: str, sinks=SINKS) -> float:
        return sum(p["durationMs"].get(key, 0) for s in sinks for p in progress[s]
                   if "addBatch" in p["durationMs"])

    file_sinks = ["enriched", "dead_letter", "alerts", "validated"]
    n_files = n_bytes = 0
    for d in ("warehouse", "dead_letter", "alerts", "validation"):
        for dirpath, _, names in os.walk(f"{pipe.root}/{d}"):
            for n in names:
                if n.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, n))
    agg = [p for p in progress["aggregates"] if p.get("stateOperators")]
    state = agg[-1]["stateOperators"][0] if agg else {}
    file_batches = sum(1 for s in file_sinks for p in progress[s]
                       if "addBatch" in p["durationMs"])
    counters.update({
        "stream.batches": len(plist),
        "stream.trigger_p50_ms": median([p["durationMs"]["triggerExecution"] for p in plist]),
        "stream.query_planning_ms": dsum("queryPlanning"),
        "stream.latest_offset_ms": dsum("latestOffset"),
        "stream.get_batch_ms": dsum("getBatch"),
        "stream.wal_commit_ms": dsum("walCommit"),
        "stream.commit_offsets_ms": dsum("commitOffsets"),
        "stream.input_reads_per_row": sum(p["numInputRows"] for p in plist) / expect["rows"],
        "stream.backlog_files_end": backlog_end,
        "stream.feeder_late_ms": feeder.max_late_ms(),
        "state.rows": state.get("numRowsTotal", 0),
        "state.mem_bytes": state.get("memoryUsedBytes", 0),
        "state.commit_ms": sum(p["stateOperators"][0].get("commitTimeMs", 0) for p in agg),
        "sink.add_batch_ms": dsum("addBatch", file_sinks),
        "sink.files_written": n_files,
        "sink.bytes_written": n_bytes,
        "sink.files_per_batch": n_files / max(1, file_batches),
    })
    return counters


def _spans(progress: dict, feeder: Feeder, t0: float) -> list[dict]:
    spans = Spans()
    root = spans.add("ingest_stream", t0, time.time())
    for f in feeder.files:
        spans.add("feeder.move", feeder.due[f], feeder.moved[f], root, file=f)
    for s in SINKS:
        q = spans.add(f"query.{s}", t0, time.time(), root)
        for p in progress[s]:
            d = p["durationMs"]
            if "addBatch" not in d:
                continue
            start = _ms(p["timestamp"]) / 1e3
            b = spans.add("micro_batch", start, start + d["triggerExecution"] / 1e3,
                          q, batch=p["batchId"], rows=p["numInputRows"])
            for phase, ms in d.items():
                if phase != "triggerExecution":
                    spans.add(f"micro_batch.{phase}", start, start + ms / 1e3, b)
    return spans.items
