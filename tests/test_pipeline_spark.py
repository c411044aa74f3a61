"""End-to-end Spark pipeline tests: golden envelopes + byte-identical text,
error routing, metrics, snapshot resume (SURVEY.md §5.2 items 1, 4, 5)."""

from __future__ import annotations

import json
import os
import re
import uuid

import pytest
from pyspark.sql.types import StringType, StructField, StructType

from html_parser_spark.job import pipeline as P
from html_parser_spark.sources import synth

from .oracle import oracle_text

N_PAGES = 150


@pytest.fixture(scope="module")
def extracted_rows(spark):
    pages = P.synthesize_pages(spark, N_PAGES, partitions=4)
    ext = P.extract_pages(pages, partitions=4)
    rows = {r["url"]: r for r in ext.collect()}
    assert len(rows) == N_PAGES
    return rows


def test_envelopes_match_goldens(extracted_rows):
    checked = 0
    for idx in range(N_PAGES):
        golden = synth.golden_envelope(idx)
        if golden is None:
            continue
        row = extracted_rows[synth.url_for(idx)]
        assert row["status"] == "ok", (idx, row["error"])
        assert json.loads(row["envelope"]) == golden, idx
        checked += 1
    assert checked > 100


def test_text_byte_identical_vs_oracle(extracted_rows):
    for idx in range(N_PAGES):
        profile = synth.profile_for(idx)
        if profile == "pdf":
            continue
        html = synth.render_page(idx).decode("utf-8", errors="replace")
        row = extracted_rows[synth.url_for(idx)]
        assert row["text"] == oracle_text(html), idx


def test_pdf_branch(extracted_rows):
    idx = 48
    assert synth.profile_for(idx) == "pdf"
    row = extracted_rows[synth.url_for(idx)]
    assert row["profile"] == "pdf" and row["status"] == "ok"
    assert f"Report {idx}" in row["text"]


def test_error_pages_never_fail_job(extracted_rows):
    for idx in (49, 99, 149):
        row = extracted_rows[synth.url_for(idx)]
        assert row["status"] in ("no_rule", "error")


def test_boilerplate_main_text_strips_chrome(extracted_rows):
    idx = 0
    row = extracted_rows[synth.url_for(idx)]
    mt = row["main_text"]
    p = synth.payload_for(idx)
    assert p["description"].split(".")[0] in mt
    assert "Privacy Policy" not in mt
    assert "© 2025 Example Retail Group" not in mt


def test_metrics_side_table(spark):
    pages = P.synthesize_pages(spark, 100, partitions=4)
    ext = P.extract_pages(pages, partitions=4)
    m = {(r["profile"], r["status"]): r["n_docs"]
         for r in P.metrics_from_extracted(ext).collect()}
    assert sum(m.values()) == 100
    assert m.get(("pdf", "ok")) == 2
    ok = sum(v for (p, s), v in m.items() if s == "ok")
    assert ok >= 96


def test_snapshot_resume_idempotent(spark, tmp_path):
    table = str(tmp_path / "extracted")
    pages = P.synthesize_pages(spark, 60, partitions=4)

    # First run: only the first 30 urls (simulated partial run).
    first = pages.limit(30)
    P.write_snapshot(P.extract_pages(first, partitions=2), table, "run1")

    # Resume: anti-join must leave exactly the other 30.
    remaining = P.resume_remaining(pages, table)
    assert remaining.count() == 30
    P.write_snapshot(P.extract_pages(remaining, partitions=2), table, "run2")

    final = P.committed_table(spark, table)
    assert final.count() == 60
    assert final.select("url").distinct().count() == 60  # no dupes

    # Re-resume after everything is committed: nothing left, plan is a no-op.
    assert P.resume_remaining(pages, table).count() == 0
    snaps = P.committed_snapshots(table)
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[1]["parent"] == 1
    assert sum(s["rows"] for s in snaps) == 60


def test_local_cores_default_to_cpu_affinity(monkeypatch):
    """SPARK_GRAFT_CPUS is read in one place, build_session, and falls back
    to the CPUs this process may run on; run.py leaves --cores unset."""
    from html_parser_spark.job import run

    class Builder:
        def master(self, m):
            self.m = m
            return self

        def appName(self, _):
            return self

        def config(self, *_):
            return self

        def getOrCreate(self):
            return self.m

    monkeypatch.setattr(P, "SparkSession", type("S", (), {"builder": Builder()}))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert P.build_session() == f"local[{len(os.sched_getaffinity(0))}]"
    assert P.build_session(cores=3) == "local[3]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert P.build_session() == "local[5]"
    assert run.build_parser().parse_args(
        ["--input", "i", "--output", "o"]).cores is None


def test_host_salted_partitioning_runs(spark):
    pages = P.synthesize_pages(spark, 40, partitions=2)
    out = P.extract_pages(pages, partitions=4, host_salted=True, salt=4)
    assert out.count() == 40


def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    """north_rule deployment shape: `spark-submit --py-files pkg.zip
    run.py` in a fresh process whose imports can only resolve from the
    shipped zip (run.py is copied OUT of the repo and cwd is the temp
    dir), writing a committed snapshot the resume machinery can read."""
    import shutil
    import subprocess
    import sys
    import zipfile

    from html_parser_spark.job import pipeline as P

    src = str(tmp_path / "pages")
    out = str(tmp_path / "extracted")
    P.synthesize_pages(spark, 30).write.parquet(src)

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(P.__file__)))
    repo_root = os.path.dirname(pkg_dir)
    zpath = str(tmp_path / "html_parser_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo_root))
    run_py = str(tmp_path / "run.py")
    shutil.copy(os.path.join(pkg_dir, "job", "run.py"), run_py)

    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(sys.executable), "spark-submit")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    env.pop("PYTHONPATH", None)
    r = subprocess.run(
        [spark_submit, "--master", "local[4]", "--py-files", zpath, run_py,
         "--input", src, "--output", out, "--cores", "4"],
        capture_output=True, text=True, timeout=570, env=env,
        cwd=str(tmp_path))
    assert r.returncode == 0, (r.stdout[-1000:], r.stderr[-3000:])
    cost = re.search(r"^write_snapshot_s=\d+\.\d\d metrics_s=\d+\.\d\d "
                     r"spark_jobs=(\d+)$", r.stdout, re.M)
    # Reading the pages with their schema starts no inference job: the
    # 5 left are the snapshot write, its read-back and the metrics.
    assert cost and int(cost.group(1)) == 5, r.stdout[-1000:]

    committed = P.committed_table(spark, out)
    assert committed is not None and committed.count() == 30
    assert len(P.committed_snapshots(out)) == 1


def test_snapshot_manifest_carries_per_partition_lineage(spark, tmp_path):
    """north_rule: per-partition lineage — every parquet part file in the
    snapshot appears in the manifest with its row count, summing to the
    snapshot total; the per-(profile, status) lineage equals the written
    table's counts."""
    from html_parser_spark.job import pipeline as P
    table = str(tmp_path / "tbl")
    df = P.extract_pages(P.synthesize_pages(spark, 20, partitions=4))
    m = P.write_snapshot(df, table, "r1")
    assert m["files"], m
    assert sum(f["rows"] for f in m["files"]) == m["rows"] == 20
    written = spark.read.parquet(os.path.join(table, m["data_dir"]))
    assert ({(d["profile"], d["status"], d["count"]) for d in m["lineage"]}
            == {(r.profile, r.status, r["count"]) for r in
                written.groupBy("profile", "status").count().collect()})
    assert len(m["lineage"]) == len({(d["profile"], d["status"])
                                     for d in m["lineage"]})
    for f in m["files"]:
        assert f["file"].startswith("data/run_id=r1"), f
        assert os.path.exists(os.path.join(table, f["file"])), f
    assert StructType.fromJson(m["schema"]) == df.schema
    assert ([(f.name, f.dataType) for f in written.schema.fields]
            == [(f.name, f.dataType) for f in df.schema.fields])


# -- the manifest schema: committed_table reads without inferring it ---------

def _rows(spark, urls, schema=P.EXTRACT_SCHEMA, **values):
    """A small extracted-shaped frame: one row per url, every other column
    null unless given in ``values``."""
    names = schema.fieldNames()
    return spark.createDataFrame(
        [tuple({"url": u, **values}.get(n) for n in names) for u in urls],
        schema)


def _jobs_started(spark, fn):
    sc = spark.sparkContext
    group = f"committed-table-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _drop_manifest_schema(table, snapshot_id):
    path = os.path.join(table, "_snapshots", f"{snapshot_id:06d}.json")
    with open(path) as f:
        m = json.load(f)
    del m["schema"]
    with open(path, "w") as f:
        json.dump(m, f)


def test_committed_table_plans_from_manifests_without_a_job(spark, tmp_path):
    table = str(tmp_path / "tbl")
    P.write_snapshot(_rows(spark, ["a", "b"], status="ok"), table, "r1")
    P.write_snapshot(_rows(spark, ["c"], status="ok"), table, "r2")
    df, jobs = _jobs_started(spark, lambda: P.committed_table(spark, table))
    assert jobs == 0
    assert df.schema == P.EXTRACT_SCHEMA
    assert sorted(r.url for r in df.collect()) == ["a", "b", "c"]


@pytest.mark.parametrize("legacy_first_manifest", [False, True])
def test_committed_table_reads_snapshot_without_elapsed_us(
        spark, tmp_path, legacy_first_manifest):
    """An older snapshot lacks the later-added elapsed_us column; its rows
    read back as null there. A first manifest written before manifests
    carried ``schema`` sends the read down the mergeSchema path, which
    must give the same rows."""
    table = str(tmp_path / "tbl")
    old = StructType(P.EXTRACT_SCHEMA.fields[:-1])
    P.write_snapshot(_rows(spark, ["old1", "old2"], old), table, "r1")
    P.write_snapshot(_rows(spark, ["new"], elapsed_us=42), table, "r2")
    if legacy_first_manifest:
        _drop_manifest_schema(table, 1)
    got = {r.url: r.elapsed_us
           for r in P.committed_table(spark, table).collect()}
    assert got == {"old1": None, "old2": None, "new": 42}


def test_committed_table_rejects_conflicting_column_types(spark, tmp_path):
    table = str(tmp_path / "tbl")
    P.write_snapshot(_rows(spark, ["a"], price=1.5), table, "r1")
    as_text = StructType([
        StructField("price", StringType()) if f.name == "price" else f
        for f in P.EXTRACT_SCHEMA.fields])
    P.write_snapshot(_rows(spark, ["b"], as_text, price="1.5"), table, "r2")
    with pytest.raises(ValueError, match="'price'"):
        P.committed_table(spark, table)
