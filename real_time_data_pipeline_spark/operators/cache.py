"""Tracked persist() — unpersist discipline for operator intermediates.

Several operators persist an intermediate that is consumed by more than
one downstream leg of the SAME returned plan (e.g. the exploded shingle
table feeding both sides of a pair join).  Because the result DataFrame
is lazy, the operator itself cannot ``unpersist`` in a ``finally`` —
the cache must outlive the call and die only after the CALLER has
evaluated the result.  Historically that was left to
``spark.catalog.clearCache()``, which works for a bench harness but
leaks cached blocks in a long-lived production session (and nukes any
caching the application itself set up).

This module is the explicit handle: operators route persists through
:func:`track`, and whoever evaluates the returned DataFrame releases
when done.  Two release modes:

* :func:`scoped` — a context manager giving PER-CALLER isolation.  While
  a scope is active on a thread, every frame tracked FROM THAT THREAD
  lands in the scope, and exiting the scope unpersists exactly those
  frames.  Concurrent query runners each open their own scope and can
  never release each other's in-use intermediates.  This is the correct
  tool for multi-threaded drivers.
* :func:`release_all` — unpersists EVERY globally tracked frame (those
  tracked outside any scope).  It never touches the application's own
  caches, but it is GLOBAL across threads: calling it while another
  thread's un-scoped query is still executing releases that query's
  intermediates too (a recompute hazard, not a correctness one —
  unpersist only drops cached blocks).  Single-threaded harnesses
  (bench.py, tools/parity.py) call it after every query; concurrent
  runners should use :func:`scoped` instead.

:func:`checkpoint` is the same handle for engine-side state that must
outlive its lineage — a stream fold's state between micro-batches.  It
materializes the frame as an eager local checkpoint and registers it
like a tracked persist; releasing it frees the checkpoint's blocks
through :func:`release_local_checkpoint`, and :func:`release` frees one
registered frame early (a fold drops the state it replaces).

Rule: no engine path builds a frame from Python rows.  A frame built by
``createDataFrame(<list of rows>)`` is a Python-RDD scan; its first
action starts a second Python worker pool beside the SQL one (one
``pyspark.daemon`` plus one worker per core) and every later action
pays a Python round trip.  State that is already in the engine stays
there (:func:`checkpoint`); rows that genuinely start on the driver
enter as one Arrow table (``arrowvec.local_frame``), which the JVM
holds as a ``LocalRelation``.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []
_LOCAL = threading.local()


def _register(df: DataFrame) -> DataFrame:
    """Add a frame to the calling thread's innermost :func:`scoped`
    list, or to the global list released by :func:`release_all`."""
    stack = getattr(_LOCAL, "scopes", None)
    if stack:
        stack[-1].append(df)
    else:
        with _LOCK:
            _TRACKED.append(df)
    return df


def _free(df: DataFrame) -> None:
    """Drop whatever blocks hold a registered frame: its SQL cache entry
    (tracked persists) or its local-checkpoint RDD (:func:`checkpoint`)."""
    try:
        df.unpersist()
        release_local_checkpoint(df)
    except Exception:  # session already stopped — nothing to free
        pass


def track(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() the frame and register it for a later release.

    If the calling thread has an active :func:`scoped` context, the
    frame is registered with that scope (released on scope exit);
    otherwise it lands in the global list released by
    :func:`release_all`."""
    if storage_level is not None:
        df.persist(storage_level)
    else:
        df.persist()
    return _register(df)


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now as a local checkpoint and register the
    result like :func:`track` does.

    The returned frame reads the checkpoint's blocks: lineage is cut to
    one scan, and no row crosses to the driver.  Once released (scope
    exit, :func:`release_all` or :func:`release`) the blocks are gone
    and the frame cannot be recomputed, so release only after its
    consumer has been evaluated."""
    return _register(df.localCheckpoint(eager=True))


def release(df: DataFrame) -> bool:
    """Free one registered frame now and forget it; returns False (and
    frees nothing) for a frame that was never registered, such as a
    lazy seed that a fold's first checkpoint replaces."""
    stack = getattr(_LOCAL, "scopes", None) or []
    with _LOCK:
        owner = next(
            (fr for fr in (*stack, _TRACKED) if any(f is df for f in fr)),
            None,
        )
        if owner is None:
            return False
        owner[:] = [f for f in owner if f is not df]
    _free(df)
    return True


def bind_scope(fn):
    """Wrap ``fn`` so that, whichever thread calls it, frames it
    registers land where they would have from the thread that binds it.

    ``foreachBatch`` functions run on a callback thread, not on the
    thread that started the stream; without this a fold's checkpoints
    would escape the caller's :func:`scoped` context."""
    stack = list(getattr(_LOCAL, "scopes", None) or [])

    def bound(*args, **kwargs):
        prev = getattr(_LOCAL, "scopes", None)
        _LOCAL.scopes = stack
        try:
            return fn(*args, **kwargs)
        finally:
            _LOCAL.scopes = prev

    return bound


@contextmanager
def scoped():
    """Per-caller release scope: frames tracked by THIS thread while the
    context is active are freed on exit — isolation for concurrent
    query runners that release_all() cannot give.  Scopes nest (inner
    scope captures, releases first).  Yields the scope's frame list so
    callers can assert on it in tests."""
    stack = getattr(_LOCAL, "scopes", None)
    if stack is None:
        stack = _LOCAL.scopes = []
    frames: list[DataFrame] = []
    stack.append(frames)
    try:
        yield frames
    finally:
        stack.pop()
        for df in frames:
            _free(df)


def release_all() -> int:
    """Free every GLOBALLY registered frame (see module docstring for
    the multi-threaded caveat); returns how many were released.  Frames
    inside an active :func:`scoped` context are not touched."""
    with _LOCK:
        frames, _TRACKED[:] = list(_TRACKED), []
    for df in frames:
        _free(df)
    return len(frames)


def n_tracked() -> int:
    with _LOCK:
        return len(_TRACKED)


def release_local_checkpoint(df: DataFrame) -> bool:
    """Free the block-store blocks pinned by a ``localCheckpoint()``ed
    frame.

    ``DataFrame.unpersist()`` only consults the SQL cache manager, so
    the MEMORY_AND_DISK blocks a local checkpoint pins stay resident
    until the ContextCleaner happens to GC the underlying RDD — in an
    iterative loop (BPE merge rounds, CC/PageRank fixpoints) that is an
    unbounded accumulation of dead blocks.  This digs the checkpointed
    RDD out of the ``LogicalRDD`` plan node and unpersists it directly.

    Safe no-op for reliable ``checkpoint()`` frames (their LogicalRDD
    is backed by files, the RDD is simply not persisted) and for
    non-checkpoint plans (not a LogicalRDD).  The frame must NOT be
    used again: a local checkpoint's lineage is truncated, so once its
    blocks are dropped it cannot be recomputed.  Returns True when a
    LogicalRDD was found and unpersisted.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
            return True
    except Exception:
        pass
    return False
