"""Scalar function surface (SURVEY.md §2.5, F1-F11).

Thin, named wrappers over built-in pyspark.sql.functions so reference
semantics have one definition each.  All JVM-side — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def record_hash(cols: list[str]) -> Column:
    """F6: SHA-256 record hash for lineage (reference
    src/utils/data_lineage.py:201-217 does sha256 of a sort_keys JSON
    dump).  Fields are listed alphabetically to canonicalize key order the
    way sort_keys does."""
    ordered = sorted(cols)
    return F.sha2(F.to_json(F.struct(*[F.col(c) for c in ordered])), 256)


def partition_cols(ts_col: str) -> list[Column]:
    """F11: derive (year, month, day) partition columns from a timestamp —
    the Hive layout declared at reference spark_config.yml:65-69."""
    return [
        F.year(ts_col).alias("year"),
        F.month(ts_col).alias("month"),
        F.dayofmonth(ts_col).alias("day"),
    ]


def parseable_timestamp(col: str | Column) -> Column:
    """F10: dateutil-parseable check (validation_config.yml:42-43) —
    try_to_timestamp returns null instead of raising."""
    return F.try_to_timestamp(F.col(col) if isinstance(col, str) else col).isNotNull()
