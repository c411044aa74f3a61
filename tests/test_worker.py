"""The once-per-worker set-up every Python kernel runs first
(``html_parser_spark._worker.prepare_worker``) and the per-row kernel
that runs it for every per-row stage (``_worker.row_kernel``)."""

from __future__ import annotations

import ast
import gc
import importlib
import pathlib
import sys
import zipfile
import zipimport
from datetime import datetime, timezone

import pytest

from html_parser_spark import _worker

PACKAGE = pathlib.Path(_worker.__file__).parent

OLD_PYTHON = sys.version_info < (3, 12)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def fresh_worker_state(monkeypatch):
    """Run prepare_worker as if in a new process; undo its effects after."""
    monkeypatch.setattr(_worker, "_prepared", False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    yield
    gc.unfreeze()


@pytest.mark.skipif(not OLD_PYTHON,
                    reason="Python >= 3.12 re-reads zip archives lazily")
def test_guarded_invalidate_caches_rereads_only_changed_archives(
        tmp_path, monkeypatch, fresh_worker_state):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["wk_probe_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("wk_probe_a", "wk_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wk_probe_a").NAME == "wk_probe_a"

    _worker.prepare_worker()
    assert (zipimport.zipimporter.invalidate_caches
            is _worker._guarded_invalidate_caches)

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()  # first guarded call records the stamp
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, ["wk_probe_a", "wk_probe_b"])
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("wk_probe_b").NAME == "wk_probe_b"
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads


def test_prepare_worker_freezes_once(fresh_worker_state):
    _worker.prepare_worker()
    frozen = gc.get_freeze_count()
    assert frozen > 0
    assert _worker._prepared
    hook = zipimport.zipimporter.invalidate_caches
    fresh = [[] for _ in range(1000)]  # noqa: F841 — tracked, unfrozen
    _worker.prepare_worker()  # second call: no-op
    # Refcounting may free frozen objects, never add them.
    assert gc.get_freeze_count() <= frozen
    assert zipimport.zipimporter.invalidate_caches is hook
    assert (hook is _worker._guarded_invalidate_caches) == OLD_PYTHON


def test_extract_workers_are_prepared(spark):
    """After extract_pages has run, the reused Python workers carry the
    guarded invalidate_caches and a frozen heap."""
    from html_parser_spark.job import pipeline as P
    from html_parser_spark.sources import synth

    n = spark.sparkContext.defaultParallelism
    # More tasks than the idle-worker queue can hold, so every reused
    # worker runs at least one extract task before the probe.
    recs = [synth.page_record(i) for i in range(8 * n)]
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in recs], schema=P.PAGES_SCHEMA).repartition(4 * n)
    assert P.extract_pages(pages).count() == len(recs)

    def probe(batches):
        import gc as gc_
        import os
        import zipimport as zi

        import pyarrow as pa
        from html_parser_spark import _worker as w

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(),
            "guarded": zi.zipimporter.invalidate_caches
            is w._guarded_invalidate_caches,
            "frozen": gc_.get_freeze_count(),
        }])

    rows = (spark.range(0, n, numPartitions=n)
            .mapInArrow(probe, "pid long, guarded boolean, frozen long")
            .collect())
    assert len(rows) == n
    for r in rows:
        assert r.guarded == OLD_PYTHON, r
        assert r.frozen > 0, r


# -- row_kernel --------------------------------------------------------------

def test_row_kernel_types_nulls_and_fan_out(monkeypatch):
    """Each input row becomes 0, 1 or N output rows; every column keeps
    its Spark type (a tz-aware timestamp included) and its nulls; an empty
    input batch gives a typed empty batch; prepare_worker runs."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        BinaryType, DoubleType, IntegerType, StringType, StructField,
        StructType, TimestampType)

    calls = []
    monkeypatch.setattr(_worker, "prepare_worker", lambda: calls.append(1))
    schema = StructType([
        StructField("ts", TimestampType()), StructField("b", BinaryType()),
        StructField("i", IntegerType()), StructField("f", DoubleType()),
        StructField("s", StringType()), StructField("k", IntegerType())])
    arrow_schema = to_arrow_schema(schema)

    def fan_out(ts, b, i, f, s):
        # i copies of the row (a NULL i: one copy), numbered by k
        return [(ts, b, i, f, s, k) for k in range(1 if i is None else i)]

    t0 = datetime(2025, 1, 1, 12, 30, tzinfo=timezone.utc)
    t1 = datetime(1999, 12, 31, 23, 59, 59, 999999, tzinfo=timezone.utc)
    rows = [(t0, b"\x00\xff", 1, 1.5, "a"),
            (None, None, 3, None, None),
            (t1, b"", 0, 2.0, "x"),
            (t1, b"\x01", None, -0.25, "\u00e9\u00e8")]
    cols = list(zip(*rows))
    batch = pa.RecordBatch.from_arrays(
        [pa.array(c, t) for c, t in zip(cols, arrow_schema.types)],
        names=arrow_schema.names[:5])
    empty = batch.slice(0, 0)

    out = list(_worker.row_kernel(fan_out, schema)(iter([batch, empty])))
    assert calls
    assert len(out) == 2
    assert [b.schema for b in out] == [arrow_schema, arrow_schema]
    assert str(arrow_schema.field("ts").type) == "timestamp[us, tz=UTC]"
    got = [tuple(r.values()) for r in out[0].to_pylist()]
    assert got == [rows[0] + (0,),
                   rows[1] + (0,), rows[1] + (1,), rows[1] + (2,),
                   rows[3] + (0,)]
    assert out[1].num_rows == 0
    # a task with no input batches still prepares its worker
    calls.clear()
    assert list(_worker.row_kernel(fan_out, schema)(iter([]))) == []
    assert calls == [1]


# -- every Python stage prepares its worker ----------------------------------

_KERNEL_CALLS = {"mapInArrow", "mapInPandas", "applyInPandas",
                 "applyInPandasWithState"}


def _called(node, name):
    """``node`` is a call of a function named ``name``."""
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Name) and f.id == name
            or isinstance(f, ast.Attribute) and f.attr == name)


def _starts_with_prepare(fn):
    body = fn.body
    if (body and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)):
        body = body[1:]  # docstring
    return (bool(body) and isinstance(body[0], ast.Expr)
            and _called(body[0].value, "prepare_worker"))


def kernel_violations(source, filename="<src>"):
    """(number of mapInArrow/mapInPandas/applyInPandas* calls, those
    whose kernel neither comes from ``row_kernel(...)`` nor is a function
    that starts with ``prepare_worker()`` as "file:line: reason")."""
    tree = ast.parse(source)
    parents = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            parents[child] = node

    def resolve(name, at):
        """The def or assigned value ``name`` refers to at node ``at``:
        innermost enclosing function first, then the module."""
        scope = parents.get(at)
        while scope is not None:
            if isinstance(scope, (ast.FunctionDef, ast.Module)):
                for node in ast.walk(scope):
                    if isinstance(node, ast.FunctionDef) and node.name == name:
                        return node
                    if (isinstance(node, ast.Assign)
                            and len(node.targets) == 1
                            and isinstance(node.targets[0], ast.Name)
                            and node.targets[0].id == name):
                        return node.value
            scope = parents.get(scope)
        return None

    calls = [c for c in ast.walk(tree)
             if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)
             and c.func.attr in _KERNEL_CALLS]
    out = []
    for call in calls:
        where = f"{filename}:{call.lineno}"
        kernel = call.args[0] if call.args else None
        if isinstance(kernel, ast.Name):
            kernel = resolve(kernel.id, call)
        if _called(kernel, "row_kernel"):
            continue
        if isinstance(kernel, ast.FunctionDef) and _starts_with_prepare(
                kernel):
            continue
        out.append(f"{where}: {call.func.attr} kernel neither from "
                   f"row_kernel nor starting with prepare_worker()")
    return len(calls), out


def test_every_python_stage_prepares_its_worker():
    """Every kernel handed to Spark in the package comes from row_kernel
    or calls prepare_worker() first; a kernel without it pays the
    per-task worker set-up again (see _worker's docstring)."""
    checked, problems = 0, []
    for path in sorted(PACKAGE.rglob("*.py")):
        n, bad = kernel_violations(path.read_text(),
                                   str(path.relative_to(PACKAGE)))
        checked += n
        problems += bad
    assert checked >= 17, checked  # every stage the package has today
    assert not problems, problems


def test_kernel_check_catches_an_unprepared_kernel():
    bad = """
def stage(df):
    def fn(batches):
        import pandas
        prepare_worker()
        yield from batches
    return df.mapInPandas(fn, "x long")

def other(df):
    return df.mapInArrow(lambda it: it, "x long")

def fine(df):
    def fn(batches):
        \"\"\"Docstring first is allowed.\"\"\"
        prepare_worker()
        yield from batches
    k = row_kernel(lambda x: [(x,)], SCHEMA)
    return df.mapInPandas(fn, "x long").mapInArrow(k, SCHEMA)
"""
    checked, got = kernel_violations(bad)
    assert checked == 4
    assert [g.split(":")[1] for g in got] == ["7", "10"], got
