"""The reference's streaming DAG, assembled from the batch operators
(SURVEY.md §3 entry point 1; reference src/spark/transaction_processor.py:146-216).

``build_dag`` is pure: Kafka-shaped frame in → named DataFrames out, so
the identical logic runs under ``spark.read`` in tests/oracles and under
``spark.readStream`` in production.  ``start_pipeline`` binds the outputs
to sinks:

    source (kafka | file | rate)
      → parse (S4)  → validate (P3/P4) → enrich (P5)
      ├─ enriched    → kafka/parquet sink, append        [reference sink A]
      ├─ aggregates  → console/memory, complete          [reference sink B]
      ├─ dead_letter → side sink (S10, declared-only in reference)
      └─ alerts      → side sink (S11, declared-only in reference)

The reference starts sinks A and B as independent queries reading Kafka
twice; we keep that behavior (standard Structured Streaming — each query
tracks its own offsets) and note the parse stage is re-executed per query.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from real_time_data_pipeline_spark.operators import aggregates, transforms


@dataclass
class PipelineConfig:
    """Knobs mirroring reference spark_config.yml (streaming section)."""

    window_duration: str = "1 hour"      # spark_config.yml uses 1h in code
    slide: str | None = None             # 60s/30s sliding declared variant
    watermark: str = "30 minutes"        # transaction_processor.py:283
    alert_amount_threshold: float = 10_000.0  # banking.alerts (S11)
    ts_col: str = "event_time"
    key_col: str = "account_id"
    value_col: str = "amount"
    extra: dict = field(default_factory=dict)

    @classmethod
    def from_config(cls, cfg) -> "PipelineConfig":
        """Build from a config.Config tree (config/engine.yml shape)."""
        return cls(
            window_duration=cfg.get("streaming.window_duration", "1 hour"),
            slide=cfg.get("streaming.sliding_interval"),
            watermark=cfg.get("streaming.watermark_delay", "30 minutes"),
            alert_amount_threshold=float(
                cfg.get("alerts.amount_threshold", 10_000.0)
            ),
        )


def build_dag(raw: DataFrame, cfg: PipelineConfig | None = None) -> dict[str, DataFrame]:
    """Kafka-shaped (key, value) frame → the four output DataFrames.

    Works identically for batch and streaming inputs — the streaming-only
    piece (watermark) is a no-op under batch execution."""
    cfg = cfg or PipelineConfig()
    parsed = transforms.parse_kafka_payload(raw)
    validated = transforms.validate(parsed)
    enriched = transforms.enrich(validated).observe(
        "dq",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(~F.col("is_valid"), 1).otherwise(0)).alias("n_invalid"),
        F.sum(
            F.when(F.col("amount") > cfg.alert_amount_threshold, 1).otherwise(0)
        ).alias("n_alert_sized"),
    )
    # observe(): per-micro-batch metrics computed inside the existing
    # pass (no extra scan/aggregation job); they surface in each
    # StreamingQueryProgress.observedMetrics["dq"] for monitoring — the
    # engine-native version of the reference's "Monitoring" metric
    # categories (reference README.md:104-110).
    aggs = aggregates.windowed_agg(
        enriched,
        ts_col=cfg.ts_col,
        key_col=cfg.key_col,
        value_col=cfg.value_col,
        window_duration=cfg.window_duration,
        slide=cfg.slide,
        watermark=cfg.watermark,
    )
    return {
        "enriched": enriched,
        "aggregates": aggs,
        "dead_letter": enriched.filter(~F.col("is_valid")),
        "alerts": enriched.filter(
            F.col("is_valid") & (F.col(cfg.value_col) > cfg.alert_amount_threshold)
        ),
        # validated rows pre-enrichment: the input the validation-results
        # artifact sink (quality.validation_results_sink) consumes, the
        # engine twin of the reference persisting per-run validation JSON
        # alongside the pipeline (validator.py:228-256).
        "validated": validated,
    }


def route_for_retry(
    failed: DataFrame, max_attempts: int = 3, attempt_col: str = "retry_attempt"
) -> dict[str, DataFrame]:
    """S10 retry escalation (reference declares retry + dead-letter topics,
    kafka_config.yml:28-30, but never implements the loop).

    Splits failed rows into ``retry`` (attempt counter bumped; route back
    to the retry topic/inbox) and ``dead`` (attempts exhausted; route to
    the terminal dead-letter sink).  The attempt counter rides the record
    itself — no state store needed, which is what keeps the loop safe on
    an unbounded stream."""
    attempts = (
        F.col(attempt_col).cast("int")
        if attempt_col in failed.columns
        else F.lit(0)
    )
    stamped = failed.withColumn(attempt_col, F.coalesce(attempts, F.lit(0)) + 1)
    return {
        "retry": stamped.filter(F.col(attempt_col) <= max_attempts),
        "dead": stamped.filter(F.col(attempt_col) > max_attempts),
    }


class TransformChain:
    """S7: the reference's consumer processor chain, vectorized.

    The reference registers per-record callbacks
    (``TransactionConsumer.add_processor``, reference
    src/kafka/transaction_consumer.py:77-85) applied to each message in
    order (lines 102-104).  Here a processor is a pure
    ``DataFrame → DataFrame`` transform; the chain composes them and runs
    the SAME composition in batch (directly) or streaming (per
    micro-batch via foreachBatch) — whole batches, never row-at-a-time.
    """

    def __init__(self) -> None:
        self._processors: list = []

    def add_processor(self, fn) -> "TransformChain":
        """Register fn(DataFrame) -> DataFrame; returns self for chaining."""
        self._processors.append(fn)
        return self

    def apply(self, df: DataFrame) -> DataFrame:
        for fn in self._processors:
            df = fn(df)
        return df

    def foreach_batch(self, sink) -> callable:
        """Wrap as a foreachBatch function: sink(transformed_batch, id)."""

        def _fn(batch: DataFrame, batch_id: int) -> None:
            sink(self.apply(batch), batch_id)

        return _fn


def start_pipeline(
    raw: DataFrame,
    sink_factories: dict[str, callable],
    cfg: PipelineConfig | None = None,
) -> list[StreamingQuery]:
    """Bind DAG outputs to sinks and start the queries.

    ``sink_factories`` maps output name → fn(DataFrame) -> StreamingQuery;
    outputs without a factory are not started (the reference only wires
    sink A and B; dead_letter/alerts are opt-in)."""
    dag = build_dag(raw, cfg)
    return [make(dag[name]) for name, make in sink_factories.items() if name in dag]
