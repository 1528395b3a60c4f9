"""Zero-copy Arrow ⇄ numpy matrix helpers for the vector hot paths.

The pandas route into a ``mapInPandas`` UDF materializes every
``array<double>`` cell as its own small numpy object and every parse
site then re-packs them row by row (``np.array([np.asarray(v) ...])``)
— per-row Python work on both edges of the boundary.  An Arrow
``list<double>`` column is ONE contiguous values buffer plus an offsets
array (guide §4.2), so a fixed-width vector column converts to an
(n, d) matrix with a single flat-buffer view + reshape, and converts
back with one flat buffer + an arithmetic offsets array.  Values are
the same float64 bytes either way — operators switching from
``mapInPandas`` to ``mapInArrow`` with these helpers compute
bit-identical results (pinned by tests/test_r11_opt.py).

Used by the PQ/IVF-PQ fit/encode/score passes and the sign-LSH bucket
pass; per-task CPU, invisible at sf0.1 (2 000 vectors), the point at
100 TB — evidence from the 30× probe lives in OPTIMIZATION_r11.md.

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


def local_frame(spark, rows, schema):
    """Frame over driver-side rows (tuples in ``schema`` order; a DDL
    string or ``StructType``), shipped as one Arrow table.

    ``createDataFrame(<list>)`` makes a Python-RDD scan whose actions
    start a second Python worker pool (see ``operators/cache.py``); an
    Arrow table becomes a ``LocalRelation`` that no Python worker
    touches.  Values convert per column with the schema's Arrow types,
    so the frame holds the same values ``createDataFrame`` would."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    struct = (
        schema
        if isinstance(schema, StructType)
        else _parse_datatype_string(schema)
    )
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
