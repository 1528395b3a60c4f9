"""Arrow ⇄ numpy helpers: the one way vectors cross the JVM/Python
boundary.

An Arrow ``list<double>`` column is ONE contiguous values buffer plus an
offsets array (guide §4.2), so a fixed-width vector column converts to
an (n, d) matrix with a single flat-buffer view + reshape, and converts
back with one flat buffer + an arithmetic offsets array — no per-row
Python on either edge (the pandas route materialized one numpy object
per cell and re-packed them row by row).  The values are the same
float64 bytes either way (pinned by
``test_arrowvec_roundtrip_matches_rowwise_parse``).

:func:`map_in_arrow` is the executor-side edge: every vector pass in
the engine (GEMM/IVF/PQ/IVF-PQ scoring, k-means and PCA passes, the
sign-LSH bucket pass, the blocked near-dup prefilter) runs through it,
so each emitted batch is built against the schema the site declared.
:func:`local_frame` is the driver-side edge of the same boundary: the
one way rows that start on the driver enter the engine (see the rule in
``operators/cache.py``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def list_matrix(col: pa.Array, dtype=np.float64) -> np.ndarray:
    """(n, d) matrix view of an Arrow ``list<numeric>`` column whose
    rows all have length d — one flat-buffer conversion, no per-row
    Python.  Raises on ragged rows or null entries (the vector columns
    here are non-null fixed-dim by construction; a silent fallback
    would hide a data bug)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if n == 0:
        return np.empty((0, 0), dtype=dtype)
    if col.null_count:
        raise ValueError("list_matrix: null vector cells")
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    widths = np.diff(offsets)
    d = int(widths[0])
    if not (widths == d).all():
        raise ValueError("list_matrix: ragged list column")
    # col.values of a sliced array is the UN-sliced buffer; offsets are
    # absolute into it, so the [first, last) window is always correct.
    values = col.values.to_numpy(zero_copy_only=False)
    M = values[offsets[0] : offsets[-1]].reshape(n, d)
    return M if M.dtype == dtype else M.astype(dtype)


def list_array(matrix: np.ndarray, value_type: pa.DataType) -> pa.Array:
    """Arrow ``list<value_type>`` column from an (n, d) numpy matrix —
    one flat buffer + an arithmetic offsets array, no per-row Python."""
    n, d = matrix.shape
    offsets = pa.array(
        np.arange(0, (n + 1) * d, d, dtype=np.int32), type=pa.int32()
    )
    flat = pa.array(
        np.ascontiguousarray(matrix).reshape(-1), type=value_type
    )
    return pa.ListArray.from_arrays(offsets, flat)


def _schemas(schema):
    """(StructType, Arrow schema) for a DDL string or ``StructType``.
    Parsing a DDL string needs the active session, so this runs on the
    driver."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    struct = (
        schema
        if isinstance(schema, StructType)
        else _parse_datatype_string(schema)
    )
    return struct, to_arrow_schema(struct)


def _typed_column(col, t: pa.DataType) -> pa.Array:
    """One output column as an Arrow array of exactly type ``t``: Arrow
    arrays are cast when their type differs, an (n, d) matrix becomes a
    ``list`` column, anything else (numpy vector, Python list) converts
    with ``t``."""
    if isinstance(col, pa.Array):
        return col if col.type == t else col.cast(t)
    if pa.types.is_list(t) and isinstance(col, np.ndarray) and col.ndim == 2:
        return list_array(col, t.value_type)
    return pa.array(col, type=t)


def map_in_arrow(df, fn, schema):
    """``df.mapInArrow`` with a typed output edge.

    ``fn(batches)`` receives the input ``pyarrow.RecordBatch`` iterator
    and yields each output batch as a list of columns in ``schema``
    order.  The declared schema (DDL string or ``StructType``) becomes
    an Arrow schema once, here on the driver, and every emitted batch is
    built against it — ``mapInArrow`` itself does not cast, so an id
    column emitted as int64 under a declared ``int`` would otherwise
    reach the JVM mislabelled."""
    struct, target = _schemas(schema)

    def typed(batches):
        for cols in fn(batches):
            yield pa.RecordBatch.from_arrays(
                [_typed_column(c, f.type) for c, f in zip(cols, target)],
                schema=target,
            )

    return df.mapInArrow(typed, struct)


def local_frame(spark, rows, schema):
    """Frame over driver-side rows (tuples in ``schema`` order; a DDL
    string or ``StructType``), shipped as one Arrow table.

    ``createDataFrame(<list>)`` makes a Python-RDD scan whose actions
    start a second Python worker pool (see ``operators/cache.py``); an
    Arrow table becomes a ``LocalRelation`` that no Python worker
    touches.  Values convert per column with the schema's Arrow types,
    so the frame holds the same values ``createDataFrame`` would."""
    struct, arrow_schema = _schemas(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
