"""Streaming sinks (SURVEY.md §2.1 S2/S3/S9/S10/S11).

Each helper returns a started ``StreamingQuery``.  Sinks that Spark lacks
natively at the needed shape (date-partitioned warehouse append, S9) go
through ``foreachBatch`` — the batch writer inside is the same code a
batch backfill would use, which is the point: one writer, two run modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from real_time_data_pipeline_spark.functions.scalar import partition_cols
from real_time_data_pipeline_spark.operators.transforms import to_kafka_payload


def kafka_sink_options(
    bootstrap_servers: str, topic: str, checkpoint_dir: str
) -> dict[str, str]:
    """Writer options for S2 as a pure dict (unit-testable without a
    broker; see streaming/sources.kafka_source_options)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    key_col: str = "account_id",
) -> StreamingQuery:
    """S2: key=account_id, value=row-as-JSON, append mode, checkpointed
    (reference transaction_processor.py:187-198)."""
    return (
        to_kafka_payload(df, key_col)
        .writeStream.format("kafka")
        .options(**kafka_sink_options(bootstrap_servers, topic, checkpoint_dir))
        .outputMode("append")
        .start()
    )


def console_sink(
    df: DataFrame,
    output_mode: str = "complete",
    trigger_seconds: int = 10,
    truncate: bool = False,
) -> StreamingQuery:
    """S3: console sink, complete mode, processing-time trigger
    (reference transaction_processor.py:200-205)."""
    return (
        df.writeStream.format("console")
        .outputMode(output_mode)
        .option("truncate", str(truncate).lower())
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def memory_sink(
    df: DataFrame, name: str, output_mode: str = "append"
) -> StreamingQuery:
    """Test sink: results queryable as ``spark.sql(f"SELECT * FROM {name}")``."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def _publish_staged_batch(
    spark, staging: str, dest: str, n_levels: int, batch_id: int
) -> None:
    """Move staged part files into the final partition layout under
    deterministic batch-derived names (``b<batch_id>-<i>.parquet``).

    Any files a previous (crashed) attempt of the SAME batch already
    published are deleted first, so replaying a batch replaces exactly
    its own files and never touches other batches' — this is what turns
    at-least-once foreachBatch into an exactly-once warehouse.  Uses the
    Hadoop FileSystem API, so it works on any HDFS-compatible store; the
    two globs are one namenode listing each per micro-batch."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(dest).getFileSystem(hconf)
    tag = f"b{batch_id:012d}"
    part_glob = "/*" * n_levels

    for st in fs.globStatus(Path(dest + part_glob + f"/{tag}-*.parquet")) or []:
        fs.delete(st.getPath(), False)

    staged = sorted(
        fs.globStatus(Path(staging + part_glob + "/part-*.parquet")) or [],
        key=lambda s: str(s.getPath()),
    )
    for i, st in enumerate(staged):
        src = st.getPath()
        # partition subpath = the n_levels dirs between staging root and file
        parts = str(src).split("/")[-(n_levels + 1) : -1]
        dst_dir = Path(dest + "/" + "/".join(parts))
        fs.mkdirs(dst_dir)
        dst = Path(str(dst_dir) + f"/{tag}-{i:05d}.parquet")
        if not fs.rename(src, dst):
            raise IOError(f"publish rename failed: {src} -> {dst}")
    fs.delete(Path(staging), True)


def warehouse_write_batch(
    batch: DataFrame,
    batch_id: int,
    path: str,
    ts_col: str = "event_time",
    partition_by: tuple[str, ...] = ("year", "month", "day"),
) -> None:
    """One micro-batch (or batch-backfill chunk) into the warehouse:
    stage under ``path/_staging/b<batch_id>`` (underscore prefix = hidden
    from Spark's file index), then atomically publish per-file.  Safe to
    re-run with the same batch_id."""
    spark = batch.sparkSession
    staging = f"{path}/_staging/b{batch_id:012d}"
    batch.select("*", *partition_cols(ts_col)).write.partitionBy(
        *partition_by
    ).mode("overwrite").parquet(staging)
    _publish_staged_batch(spark, staging, path, len(partition_by), batch_id)


def partitioned_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    ts_col: str = "event_time",
    partition_by: tuple[str, ...] = ("year", "month", "day"),
) -> StreamingQuery:
    """S9: warehouse append partitioned by (year, month, day) derived from
    the event timestamp (declared at reference spark_config.yml:65-69; the
    partition columns don't exist in the schema and must be derived).

    Storage-partition pruning then makes day-ranged batch queries skip
    irrelevant files — the 100 TB table layout.

    Idempotent under foreachBatch's at-least-once contract: each batch is
    staged then published under deterministic batch-derived file names
    (see :func:`warehouse_write_batch`), so a crash between the parquet
    write and the checkpoint commit cannot duplicate rows on restart."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        warehouse_write_batch(batch, batch_id, path, ts_col, partition_by)

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


# ------------------------------------------------- upsert snapshot sink

def _snapshot_versions(spark, path: str) -> list[int]:
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    out = []
    for st in fs.globStatus(Path(path + "/b*")) or []:
        name = str(st.getPath().getName())
        if name.startswith("b") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


def upsert_write_batch(
    batch: DataFrame,
    batch_id: int,
    path: str,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    keep_versions: int = 2,
) -> None:
    """Apply one changelog micro-batch to a versioned parquet snapshot —
    the MERGE INTO maintenance loop (incremental materialized view /
    mirror table) on plain parquet.

    Versioning gives idempotence under foreachBatch's at-least-once
    contract: version ``b<batch_id>`` is always rebuilt from the newest
    version with id < batch_id, so replaying a crashed batch rewrites
    exactly its own version deterministically (cdc.apply_changelog is a
    pure latest-per-key reduce); a crash can never double-apply.  Readers
    follow the newest complete version (parquet _SUCCESS marker).  Old
    versions beyond ``keep_versions`` are pruned AFTER the new version
    lands.

    At scale the rewrite-the-snapshot shape is the parquet-only cost of
    exactly-once upserts; bound it by partitioning the snapshot on a key
    range and rewriting only partitions the batch touches (the natural
    next step, same publish mechanics as warehouse_write_batch).
    """
    from real_time_data_pipeline_spark.operators.cdc import (
        apply_changelog,
        latest_snapshot,
    )

    spark = batch.sparkSession
    prior = [v for v in _snapshot_versions(spark, path) if v < batch_id]
    if prior:
        base = spark.read.parquet(f"{path}/b{prior[-1]}")
        snap = apply_changelog(
            base, batch.select(*base.drop("n_changes").columns),
            key_cols, seq_cols, op_col, delete_op,
        )
    else:
        snap = latest_snapshot(batch, key_cols, seq_cols, op_col, delete_op)
    # n_changes is per-apply (base counts as 1), not cumulative history —
    # drop it from the persisted table to avoid reading it as lineage.
    snap.drop("n_changes").write.mode("overwrite").parquet(
        f"{path}/b{batch_id}"
    )
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    for v in [v for v in _snapshot_versions(spark, path) if v < batch_id][
        :-keep_versions
    ] if keep_versions else []:
        fs.delete(Path(f"{path}/b{v}"), True)


def read_snapshot(spark, path: str) -> DataFrame:
    """Read the newest complete snapshot version (highest b<id> with a
    parquet _SUCCESS marker)."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    for v in reversed(_snapshot_versions(spark, path)):
        if fs.exists(Path(f"{path}/b{v}/_SUCCESS")):
            return spark.read.parquet(f"{path}/b{v}")
    raise FileNotFoundError(f"no complete snapshot version under {path}")


def upsert_snapshot_sink(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> StreamingQuery:
    """Stream a changelog into a continuously-maintained snapshot table
    (see :func:`upsert_write_batch`)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        upsert_write_batch(
            batch, batch_id, path, key_cols, seq_cols, op_col, delete_op
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
