"""Pipeline monitoring (reference README.md:104-110 metric categories;
scripts/start_kafka.sh provisions a ``pipeline.metrics`` topic the
reference never writes to).

Spark-native shape: a ``StreamingQueryListener`` receives every
micro-batch's ``StreamingQueryProgress`` on the driver — input rates,
batch durations, state-store sizes, and whatever ``df.observe(...)``
metrics the DAG attached (build_dag attaches a "dq" observation).  The
recorder flattens each progress event to one row and appends tiny
parquet files under a metrics directory, so the same SQL engine that
runs the pipeline can dashboard it:

    spark.read.parquet(".../metrics").groupBy("query_name")...

Metric rows are driver-scale by construction (one per micro-batch per
query), so a driver-side append is the right cost model — this is the
one place in the engine where driver-side collection is the design, not
an anti-pattern.
"""

from __future__ import annotations

import json

from pyspark.sql.streaming import StreamingQueryListener

from real_time_data_pipeline_spark.operators.arrowvec import local_frame

METRICS_SCHEMA = (
    "query_id string, query_name string, batch_id long, ts string, "
    "num_input_rows long, input_rows_per_second double, "
    "processed_rows_per_second double, batch_duration_ms long, "
    "observed_metrics string"
)


class MetricsRecorder(StreamingQueryListener):
    """Append one row per micro-batch progress event to ``path``.

    ``observed_metrics`` carries the DAG's ``observe()`` results (e.g.
    build_dag's dq counters) as a JSON string — schema-free so any
    pipeline's observations fit one metrics table.  Buffered writes
    (``flush_every``) keep file counts down; call ``flush()`` (or stop
    the listener's queries) to drain the tail."""

    def __init__(self, spark, path: str, flush_every: int = 20) -> None:
        self._spark = spark
        self._path = path
        self._flush_every = flush_every
        self._buf: list[tuple] = []

    # -- StreamingQueryListener interface --------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        dur = (p.durationMs or {}).get("triggerExecution")
        observed = {}
        try:
            observed = {k: dict(v.asDict()) for k, v in (p.observedMetrics or {}).items()}
        except Exception:
            pass
        self._buf.append(
            (
                str(p.id),
                p.name,
                p.batchId,
                p.timestamp,
                p.numInputRows,
                float(p.inputRowsPerSecond or 0.0),
                float(p.processedRowsPerSecond or 0.0),
                int(dur) if dur is not None else None,
                json.dumps(observed, default=str, sort_keys=True),
            )
        )
        if len(self._buf) >= self._flush_every:
            self.flush()

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.flush()

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    # --------------------------------------------------------------------
    def flush(self) -> None:
        if not self._buf:
            return
        rows, self._buf = self._buf, []
        local_frame(self._spark, rows, METRICS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self._path)


def attach_metrics_recorder(spark, path: str, flush_every: int = 20) -> MetricsRecorder:
    """Register a MetricsRecorder on the session; returns it so callers
    can ``flush()``/detach (``spark.streams.removeListener``)."""
    rec = MetricsRecorder(spark, path, flush_every)
    spark.streams.addListener(rec)
    return rec
