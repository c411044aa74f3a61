"""The once-per-worker set-up every Python kernel runs first
(``html_parser_spark._worker.prepare_worker``)."""

from __future__ import annotations

import gc
import importlib
import sys
import zipfile
import zipimport

import pytest

from html_parser_spark import _worker

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
