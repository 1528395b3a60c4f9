"""One availableNow drain for every registry stream.

``reference_parity.drain`` is the only place the package starts and
awaits a registry stream; the mergeable-summary streams capture their
per-batch partials through ``stream_capture`` and merge them in the
engine, so no ``foreachBatch`` callback of theirs collects to the
driver.  The parity test hashes each stream's rows with
``tools/parity.py``'s canonical hash against its DuckDB oracle.
"""

from __future__ import annotations

import ast
import importlib.util
import pathlib
import threading

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "real_time_data_pipeline_spark"

MERGED_STREAMS = [
    "stream_distribution_drift",
    "stream_category_drift",
    "stream_wasserstein_drift",
    "stream_calibration_drift",
    "stream_qdigest_fold",
    "stream_kmv_fold",
    "stream_clamped_balance",
]


def _calls(tree, attr):
    """(enclosing function name, Call) for every ``<x>.<attr>(...)``."""
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == attr
            ):
                out.append((fn, child))
            walk(child, name)

    walk(tree, None)
    return out


def test_drain_is_the_only_stream_start_and_await():
    starts, awaits = [], []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        rel = str(path.relative_to(PKG))
        starts += [
            (rel, fn)
            for fn, call in _calls(tree, "trigger")
            if any(kw.arg == "availableNow" for kw in call.keywords)
        ]
        awaits += [(rel, fn) for fn, _ in _calls(tree, "awaitTermination")]
    assert starts == [("queries/reference_parity.py", "drain")]
    assert awaits == [("queries/reference_parity.py", "drain")]


def test_no_query_module_imports_pandas():
    found = []
    for path in sorted((PKG / "queries").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            names = []
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            found += [
                (path.name, n) for n in names if n.split(".")[0] == "pandas"
            ]
    assert found == []


@pytest.fixture
def callback_collects(spark, monkeypatch):
    """Records every DataFrame.collect / toPandas made from a thread
    other than the test's own — a foreachBatch callback thread."""
    cls = type(spark.range(1))
    me = threading.get_ident()
    seen: list = []
    for meth in ("collect", "toPandas"):
        real = getattr(cls, meth)

        def spy(self, *a, _real=real, _meth=meth, **kw):
            if threading.get_ident() != me:
                seen.append(_meth)
            return _real(self, *a, **kw)

        monkeypatch.setattr(cls, meth, spy)
    return seen


def test_callback_collect_spy_sees_a_collecting_callback(
    spark, tmp_path, callback_collects
):
    from real_time_data_pipeline_spark.queries.reference_parity import drain

    spark.range(3).write.parquet(str(tmp_path / "src"))
    sdf = spark.readStream.schema("id bigint").parquet(str(tmp_path / "src"))
    drain(sdf, "collecting_callback", lambda b, _i: b.collect())
    assert callback_collects == ["collect"]


def _parity_module():
    spec = importlib.util.spec_from_file_location(
        "_parity_hash", ROOT / "tools" / "parity.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_merged_streams_match_oracles_without_callback_collects(
    spark, sf_dir, callback_collects
):
    import duckdb

    import __spark_entry__ as entrymod
    from real_time_data_pipeline_spark.operators import cache
    from real_time_data_pipeline_spark.schemas import TESTDATA_TABLES

    parity = _parity_module()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    bad = {}
    for name in MERGED_STREAMS:
        sdf = queries[name](spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        cache.release_all()
        scols = [f.name.lower() for f in sdf.schema.fields]
        stypes = [
            parity.canon_spark_type(f.dataType.simpleString())
            for f in sdf.schema.fields
        ]
        ddf = con.sql(oracles[name])
        dcols = [c.lower() for c in ddf.columns]
        drows = ddf.fetchall()
        dtypes = [parity.canon_duck_type(t) for t in ddf.types]
        got = (
            len(srows),
            sorted(scols),
            parity.value_hash(
                srows, sorted(range(len(scols)), key=scols.__getitem__), stypes
            ),
        )
        want = (
            len(drows),
            sorted(dcols),
            parity.value_hash(
                drows, sorted(range(len(dcols)), key=dcols.__getitem__), dtypes
            ),
        )
        if got != want:
            bad[name] = (got, want)
    assert bad == {}
    assert callback_collects == []
