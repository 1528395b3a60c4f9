"""Shared benchmark plumbing: the Spark session, peak-memory sampling,
in-memory spans, and the fold of Spark's own SQL metrics into layers.

Everything here reads the engine from the outside: the status store
(``sharedState().statusStore()``), RDD storage info, ``/proc``.  Nothing
in the package is patched.
"""

from __future__ import annotations

import math
import os
import threading
import time
from statistics import median

# --- statistics -----------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


# --- session --------------------------------------------------------------


def session_conf(work: str) -> dict[str, str]:
    """Benchmark-side session settings: scratch space inside the run's
    work dir, and room in the status stores for a whole run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return {
        "spark.local.dir": tmp,
        "spark.hadoop.hadoop.tmp.dir": tmp,
        # The heap starts at its maximum, so peak memory does not depend
        # on when the collector chose to grow it.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.ui.retainedExecutions": "5000",
        "spark.sql.streaming.numRecentProgressUpdates": "5000",
    }


def start_session(work: str, master: str, app: str = "perfbench"):
    from real_time_data_pipeline_spark.session import get_spark

    spark = get_spark(app, master=master, extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


SETUP_REPEATS = 3


def repeated_setup(work: str, master: str, warm) -> tuple:
    """Start a session and run ``warm(spark, i)`` on it ``SETUP_REPEATS``
    times, stopping every session but the last.  The JVM stays up between
    them, so only the first set-up pays its launch and first-touch JIT.
    Returns the last session, the median set-up seconds (start plus warm
    pass), and per-layer figures: the median start and warm-pass seconds
    and the first (cold) set-up's seconds."""
    starts, warms = [], []
    for i in range(SETUP_REPEATS):
        if i:
            spark.stop()
        t = time.perf_counter()
        spark = start_session(work, master)
        starts.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm(spark, i)
        warms.append(time.perf_counter() - t)
    totals = [s + w for s, w in zip(starts, warms)]
    return spark, median(totals), {
        "session.start_s": median(starts),
        "session.warm_s": median(warms),
        "session.cold_s": totals[0],
    }


def warm_python_workers(spark) -> None:
    """Start the Python worker pool once, as ``bench.py`` does."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4).repartition(n * 4).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()


def cleanup(spark) -> int:
    """Untimed isolation step between operations (as in ``bench.py``):
    release tracked persists, clear the cache, run a driver GC.  Returns
    the tracked-frame count left afterwards (non-zero is a leak)."""
    from real_time_data_pipeline_spark.operators import cache

    cache.release_all()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    return cache.n_tracked()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


# --- memory ---------------------------------------------------------------


def _tree_rss(root: int) -> int:
    """Resident bytes of ``root`` plus its Python descendants (the
    ``pyspark.daemon`` worker pool).  Other children are skipped: the JVM
    forks short-lived helpers (Hadoop's local file system runs ``chmod``)
    whose pages are the JVM's own and would be counted twice."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        pid = int(name)
        comm[pid] = stat[stat.index("(") + 1 : stat.rindex(")")]
        children.setdefault(int(stat[stat.rindex(")") + 2 :].split()[1]), []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(c for c in children.get(pid, ()) if comm[c].startswith("python"))
    return total


class PeakRss:
    """Samples the resident memory of the JVM plus its Python workers on
    a background thread; ``peak_mb`` is the largest sample."""

    def __init__(self, spark, period_s: float = 0.5) -> None:
        self._pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak = 0

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss(self._pid))
            if self._stop.wait(self._period):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss(self._pid))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# --- spans ----------------------------------------------------------------


class Spans:
    """In-memory span log (epoch-second start/end, parent id); the caller
    writes ``items`` out once at the end of the run."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.items.append({
            "id": len(self.items), "parent": parent, "name": name,
            "start": start, "end": end, **attrs,
        })
        return len(self.items) - 1


# --- SQL metrics ----------------------------------------------------------

PYTHON_NODES = {
    "MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow",
    "AggregateInPandas", "ArrowWindowPython", "WindowInPandas",
    "FlatMapGroupsInPandasWithState", "TransformWithStateInPandas",
    "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-6, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
# (node-name test, SQL metric name, layer counter) — timings in ms,
# sizes in bytes.
_NODE_METRICS = [
    ("Exchange", "shuffle bytes written", "shuffle.bytes_written"),
    ("Exchange", "shuffle records written", "shuffle.records_written"),
    ("Exchange", "shuffle write time", "shuffle.write_ms"),
    ("Exchange", "fetch wait time", "shuffle.fetch_wait_ms"),
    ("HashAggregate", "time in aggregation build", "agg.build_ms"),
    ("HashAggregate", "spill size", "agg.spill_bytes"),
    ("WholeStageCodegen", "duration", "codegen.ms"),
    ("BroadcastExchange", "data size", "broadcast.bytes"),
    ("BroadcastExchange", "time to collect", "broadcast.ms"),
    ("BroadcastExchange", "time to build", "broadcast.ms"),
    ("BroadcastExchange", "time to broadcast", "broadcast.ms"),
    ("ShuffledHashJoin", "time to build hash map", "join.build_ms"),
    ("Scan", "number of output rows", "sources.scan_rows"),
    ("Scan", "size of files read", "sources.scan_bytes"),
    ("Scan", "scan time", "sources.scan_ms"),
    ("Scan", "number of files read", "sources.files_read"),
    ("Python", "time to run Python workers", "python.run_ms"),
    ("Python", "time to start Python workers", "python.start_ms"),
    ("Python", "time to initialize Python workers", "python.init_ms"),
    ("Python", "data sent to Python workers", "python.bytes_in"),
    ("Python", "data returned from Python workers", "python.bytes_out"),
]
SQL_COUNTERS = sorted(
    {c for _, _, c in _NODE_METRICS}
    | {"shuffle.exchanges", "python.nodes"}
)


def _node_kind(name: str) -> str:
    if name in PYTHON_NODES:
        return "Python"
    if name.startswith("WholeStageCodegen"):
        return "WholeStageCodegen"
    if name.startswith("Scan "):
        return "Scan"
    return name


def metric_value(text: str) -> float:
    """Parse a status-store metric string ("24,170", "1.2 s",
    "total (min, med, max ...)\\n3.4 MiB (...)") to a number in ms or
    bytes; the total is the first figure of the last line."""
    head = text.split("\n")[-1].split(" (")[0].split()
    num = float(head[0].replace(",", ""))
    return num * _UNITS.get(head[1], 1) if len(head) > 1 else num


class SqlStore:
    """Folds finished SQL executions from Spark's status store into layer
    counters.  Call :meth:`fold_new` after every operation so the
    store's retained-executions cap can never drop one unseen."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen = -1

    def _execs_after(self, mark: int) -> list:
        return [
            e for e in self._conv.asJava(self._store.executionsList())
            if e.executionId() > mark
        ]

    def skip_existing(self) -> None:
        """Ignore every execution that has already been submitted."""
        ids = [e.executionId() for e in self._execs_after(self._seen)]
        self._seen = max(ids, default=self._seen)

    def _finished_new(self, wait_s: float) -> list:
        """Executions submitted since the last call, once they have all
        completed (or ``wait_s`` has passed)."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        deadline = time.time() + wait_s
        execs = self._execs_after(self._seen)
        while any(not e.completionTime().isDefined() for e in execs):
            if time.time() > deadline:
                break
            time.sleep(0.02)
            execs = self._execs_after(self._seen)
        return execs

    def durations_ms(self, wait_s: float = 10.0) -> list[float]:
        """Durations of the executions submitted since the last call."""
        execs = self._finished_new(wait_s)
        self._seen = max([e.executionId() for e in execs], default=self._seen)
        return [e.completionTime().get().getTime() - e.submissionTime()
                for e in execs if e.completionTime().isDefined()]

    def fold_new(self, counters: dict, wait_s: float = 10.0) -> list[tuple]:
        """Add every execution submitted since the last call to
        ``counters``; returns their (id, start_ms, end_ms, description)."""
        out = []
        for e in self._finished_new(wait_s):
            eid = e.executionId()
            self._seen = max(self._seen, eid)
            done = e.completionTime()
            end = done.get().getTime() if done.isDefined() else time.time() * 1e3
            out.append((eid, e.submissionTime(), end, e.description()))
            counters["queries.sql_executions"] = counters.get("queries.sql_executions", 0) + 1
            counters["queries.jobs"] = counters.get("queries.jobs", 0) + e.jobs().size()
            counters["queries.stages"] = counters.get("queries.stages", 0) + e.stages().size()
            self._fold_plan(eid, counters)
        return out

    def _fold_plan(self, eid: int, counters: dict) -> None:
        values = self._store.executionMetrics(eid)
        for node in self._conv.asJava(self._store.planGraph(eid).allNodes()):
            kind = _node_kind(node.name())
            if kind == "Exchange":
                counters["shuffle.exchanges"] = counters.get("shuffle.exchanges", 0) + 1
            elif kind == "Python":
                counters["python.nodes"] = counters.get("python.nodes", 0) + 1
            wanted = {m: c for k, m, c in _NODE_METRICS if k == kind}
            if not wanted:
                continue
            for metric in self._conv.asJava(node.metrics()):
                counter = wanted.get(metric.name())
                text = values.get(metric.accumulatorId())
                if counter and text.isDefined():
                    counters[counter] = counters.get(counter, 0) + metric_value(text.get())


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def storage_bytes(spark) -> int:
    """Bytes held by cached RDD blocks (memory plus disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)
