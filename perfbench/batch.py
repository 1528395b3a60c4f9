"""``batch_mix``: one pass over a query mix from the
``__spark_entry__.queries()`` registry on seeded generated tables.

Each query is timed from the registry call to a forced result, written
as parquet; the value hash of that parquet output is checked against the
query's DuckDB oracle with ``tools/parity.py``'s canonical hash after the
timed region.  Between queries an untimed cleanup releases tracked
persists, clears the cache and runs a driver GC.
"""

from __future__ import annotations

import importlib.util
import os
import random
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import (
    SQL_COUNTERS,
    PeakRss,
    Spans,
    SqlStore,
    cleanup,
    covered_ms,
    median,
    percentile,
    repeated_setup,
    stop_session,
    storage_bytes,
    warm_python_workers,
)

# One pass over this mix is the workload.  Curation and vector queries
# (Python-worker passes, persisted frames, iterative driver actions) sit
# beside the four stream_* entries, which fold stream state through the
# driver with no Python-worker node in any plan.
MIX = [
    "clean_corpus",
    "dedup_pipeline_lsh",
    "ann_pq_topk",
    "ann_gemm_topk",
    "kmeans_clusters",
    "embedding_quantization",
    "stream_rollup_incremental",
    "stream_cdc_apply",
    "stream_ohlc",
    "stream_join_view_incremental",
]
RELATIONAL_SF = 0.1
CORPUS_DOCS = CORPUS_VECS = 200
# Untimed warm pass after the Python worker pool has started: one
# registry query on a tiny input, so the SQL engine's first-touch JIT is
# not billed to whichever mix member runs first.
WARM = ["tpch_q1_pricing_summary"]


def _parity():
    """``tools/parity.py`` of the checkout under test, imported read-only."""
    path = os.path.join(os.getcwd(), "tools", "parity.py")
    spec = importlib.util.spec_from_file_location("perfbench_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_inputs(out_dir: str, seed: int, tiny: bool) -> None:
    gen.write_relational(out_dir, seed, 0.001 if tiny else RELATIONAL_SF)
    n = 60 if tiny else CORPUS_DOCS
    gen.write_corpus(out_dir, seed, n, 60 if tiny else CORPUS_VECS)


def _rows(path: str) -> list[tuple]:
    """Rows of a Spark parquet output dir as Python values, in the form
    ``DataFrame.collect()`` gives them (naive UTC timestamps)."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    if not files:
        return []
    table = pa.concat_tables(pq.read_table(os.path.join(path, f)) for f in files)
    cols = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us"))
        cols.append(col.to_pylist())
    return list(zip(*cols))


class Oracle(threading.Thread):
    """Expected (rows, sorted column names, hash) of every mix query from
    its DuckDB oracle.  Runs on its own thread, started once the inputs
    exist, so the oracles overlap Spark's start-up instead of adding to
    the run; it is joined before the timed region."""

    def __init__(self, data_dir: str) -> None:
        super().__init__(daemon=True)
        self.data_dir = data_dir
        self.parity = _parity()
        self.want: dict[str, tuple] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        import duckdb

        import __spark_entry__

        try:
            sql = __spark_entry__.oracle_sql()
            con = duckdb.connect()
            for f in os.listdir(self.data_dir):
                if f.endswith(".parquet"):
                    con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.data_dir, f)}')")
            p = self.parity
            for name in MIX:
                rel = con.sql(sql[name])
                cols = [c.lower() for c in rel.columns]
                types = [p.canon_duck_type(t) for t in rel.types]
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                rows = rel.fetchall()
                self.want[name] = (
                    len(rows), sorted(cols), p.value_hash(rows, order, types))
            con.close()
        except Exception as e:  # noqa: BLE001 — surfaced as failed checks
            self.error = e

    def check(self, name: str, schema: list[tuple[str, str]], out: str) -> str | None:
        """None when the parquet output at ``out`` matches, else why not."""
        p = self.parity
        cols = [c.lower() for c, _ in schema]
        types = [p.canon_spark_type(t) for _, t in schema]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = _rows(out)
        got = (len(rows), sorted(cols), p.value_hash(rows, order, types))
        want = self.want.get(name, f"no oracle result ({self.error!r})")
        return None if got == want else f"got {got} want {want}"


class Tracer:
    """Per-layer counters and spans for a traced pass: a job group per
    query, spans ``query`` → ``query.build`` / ``query.exec``, and one
    child span per SQL execution folded from the status store right
    after the query finishes."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sql = SqlStore(spark)
        self.sql.skip_existing()
        self.spans = Spans()
        self.c: dict[str, float] = dict.fromkeys(SQL_COUNTERS, 0.0)
        self.c.update(dict.fromkeys([
            "queries.build_s", "queries.exec_s", "queries.driver_other_s",
            "queries.sql_executions", "queries.jobs", "queries.stages",
            "cache.tracked_peak", "cache.storage_bytes_peak", "cache.leaked",
        ], 0.0))

    def query(self, name: str, t0: float, t1: float, t2: float) -> None:
        """Record one finished query (epoch-second build start, build
        end, result end), before the cleanup that follows it."""
        from real_time_data_pipeline_spark.operators import cache

        c = self.c
        c["cache.tracked_peak"] = max(c["cache.tracked_peak"], cache.n_tracked())
        c["cache.storage_bytes_peak"] = max(c["cache.storage_bytes_peak"],
                                            storage_bytes(self.spark))
        qid = self.spans.add("query", t0, t2, query=name)
        self.spans.add("query.build", t0, t1, qid)
        self.spans.add("query.exec", t1, t2, qid)
        execs = self.sql.fold_new(c)
        for eid, start, end, desc in execs:
            self.spans.add("sql.execution", start / 1e3, end / 1e3, qid,
                           execution_id=eid, description=desc[:200])
        sql_ms = covered_ms([(s, e) for _, s, e, _ in execs], t0 * 1e3, t2 * 1e3)
        c["queries.build_s"] += t1 - t0
        c["queries.exec_s"] += t2 - t1
        c["queries.driver_other_s"] += (t2 - t0) - sql_ms / 1e3
        c[f"q.{name}.wall_s"] = t2 - t0


def run(work: str, seed: int, trace: bool, master: str) -> dict:
    import __spark_entry__

    data, tiny = f"{work}/data", f"{work}/tiny"
    t = time.perf_counter()
    write_inputs(data, seed, tiny=False)
    write_inputs(tiny, seed, tiny=True)
    gen_s = time.perf_counter() - t
    oracle = Oracle(data)
    oracle.start()
    registry = __spark_entry__.queries()

    def warm(spark, rep: int) -> None:
        warm_python_workers(spark)
        for name in WARM:
            registry[name](spark, tiny).write.mode("overwrite").parquet(f"{work}/warm/{name}")
            cleanup(spark)
        if rep == 0:
            # The first set-up is the cold one and never the median; the
            # oracles may overlap it but no later set-up.
            oracle.join()

    spark, session_s, session_layers = repeated_setup(work, master, warm)
    setup_s = gen_s + session_s

    tracer = Tracer(spark) if trace else None
    sql = SqlStore(spark)
    sql.skip_existing()
    walls: dict[str, float] = {}
    outputs: list[tuple[str, list, str]] = []
    failed: dict[str, str] = {}  # query -> first reason it failed
    with PeakRss(spark) as rss:
        for name in random.Random(seed).sample(MIX, len(MIX)):
            out = f"{work}/out/{name}"
            if tracer:
                spark.sparkContext.setJobGroup(f"perfbench:{name}", name)
            try:
                t0 = time.time()
                df = registry[name](spark, data)
                t1 = time.time()
                df.write.mode("overwrite").parquet(out)
                t2 = time.time()
            except Exception as e:  # noqa: BLE001 — one failing query must not hide the rest
                failed.setdefault(name, f"{type(e).__name__}: {str(e)[:300]}")
                cleanup(spark)
                continue
            walls[name] = t2 - t0
            outputs.append((name, [(f.name, f.dataType.simpleString()) for f in df.schema], out))
            if tracer:
                tracer.query(name, t0, t1, t2)
            leaked = cleanup(spark)
            if tracer:
                tracer.c["cache.leaked"] += leaked
            if leaked:
                failed.setdefault(name, "tracked persists left after cleanup")

    # Mean operation latency is the mix wall over its queries; the SQL
    # executions (Spark actions) of the pass give the per-action spread.
    exec_ms = sql.durations_ms()
    for name, schema, out in outputs:
        try:
            why = oracle.check(name, schema, out)
        except Exception as e:  # noqa: BLE001 — an unhashable result is a wrong result
            why = f"{type(e).__name__}: {e}"
        if why:
            failed.setdefault(name, why)

    wall = sum(walls.values())
    result = {
        "attempted": len(MIX),
        "failed": len(failed),
        "problems": [f"{q}: {why}" for q, why in failed.items()],
        "metrics": {
            "setup_s": setup_s,
            "wall_s": wall,
            "latency_ms": wall * 1e3 / max(1, len(walls)),
            "peak_rss_mb": rss.peak_mb,
        },
        "report": {
            "batch_wall_s": (wall, "s"),
            "sql_execution_p50_ms": (median(exec_ms), "ms"),
            "sql_execution_p75_ms": (percentile(exec_ms, 75), "ms"),
            **{f"q.{q}.wall_s": (w, "s") for q, w in sorted(walls.items())},
        },
    }
    if tracer:
        tracer.c.update({
            **session_layers, "inputs.gen_s": gen_s, "trace.wall_s": wall,
        })
        result["layers"] = tracer.c
        result["spans"] = tracer.spans.items
    stop_session(spark)
    return result
