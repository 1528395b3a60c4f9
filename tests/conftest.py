from __future__ import annotations

import threading

import pytest

from real_time_data_pipeline_spark.operators import cache
from real_time_data_pipeline_spark.session import get_spark


@pytest.fixture(autouse=True)
def _release_tracked_persists():
    """Unit tests that call tracked-persist operators directly (tfidf,
    bm25, oov_rate, BPE, ...) are not required to release; do it for
    them at teardown so cached blocks never leak across test files —
    test_cache_discipline asserts a session-wide zero."""
    yield
    try:
        cache.release_all()
    except Exception:
        pass


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


class _Counter:
    def __init__(self) -> None:
        self.n = 0
        self._lock = threading.Lock()

    def add(self) -> None:
        with self._lock:
            self.n += 1


@pytest.fixture
def py4j_calls(monkeypatch):
    """Counts the py4j round trips the Python side makes into the JVM,
    from any thread, while the test runs; read ``.n``.  py4j's
    garbage-collection deletes are left out: its finalizer thread sends
    one for every Java reference freed anywhere in the process, so how
    many land in a window depends on what earlier tests left behind."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    calls = _Counter()
    send = ClientServerConnection.send_command

    def counted(self, command):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            calls.add()
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return calls
