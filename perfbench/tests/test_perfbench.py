"""The benchmark's own tests: its arithmetic, its calibration, its
correctness gate and a tiny smoke run of each workload.

Run from the root of the repository:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import calib  # noqa: E402
import check  # noqa: E402
import corpus as C  # noqa: E402
import run  # noqa: E402
import stats as S  # noqa: E402
import trace as T  # noqa: E402


# -- arithmetic --------------------------------------------------------------

@pytest.mark.parametrize("values", [[3.0, 1.0, 2.0], [1, 2, 3, 4],
                                    [0.9, 1.1, 1.0, 1.05, 0.95, 1.2, 0.8]])
def test_quartiles_match_statistics(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert S.quartiles(values) == (q1, q2, q3)
    assert S.median(values) == statistics.median(values)
    assert S.iqr_share(values) == pytest.approx((q3 - q1) / q2)


def test_single_value_has_zero_spread():
    assert S.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert S.iqr_share([2.5]) == 0.0


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        S.median([])


def test_bracketed_ratio_uses_geometric_mean_of_neighbours():
    # job 100 docs/s between calibrations of 50 and 200 docs/s: the
    # geometric mean is 100, so the ratio is 1.
    assert S.bracketed_ratios([100.0, 30.0], [50.0, 200.0, 450.0]) == [
        pytest.approx(1.0), pytest.approx(0.1)]
    with pytest.raises(ValueError):
        S.bracketed_ratios([1.0, 2.0], [1.0, 2.0])


def test_ratio_cancels_a_steady_host_drift():
    # The host slows by a factor r between consecutive passes; the job
    # does twice the calibration's work. Each job pass sits halfway (in
    # time) between its calibrations, so the geometric mean cancels the
    # drift exactly and every ratio is 1/2.
    r = 1.5
    rec = {"job_wall": [2 * r, 2 * r ** 3], "cal_wall": [1, r ** 2, r ** 4]}
    rec.update(job_cpu=[4 * x for x in rec["job_wall"]],
               cal_cpu=[4 * x for x in rec["cal_wall"]])
    wall, cpu = run.ratios(rec, 100)
    assert wall == [pytest.approx(0.5), pytest.approx(0.5)]
    assert cpu == wall


def test_self_times_subtract_direct_children():
    spans = [["root", 0, 100, -1, None],
             ["a", 10, 40, 0, "d"],
             ["b", 15, 25, 1, "d"],
             ["a", 50, 60, 0, "d"]]
    assert T.self_times(spans) == {"root": 60, "a": 30, "b": 10}


def test_process_tree_readings():
    child = subprocess.Popen([sys.executable, "-c",
                              "sum(range(3 * 10 ** 7))"])
    try:
        assert child.pid in S.descendants(os.getpid())
        before = S.tree_cpu_s(os.getpid())
    finally:
        child.wait(timeout=60)
    # the reaped child's CPU stays counted, in this process's cutime
    assert S.tree_cpu_s(os.getpid()) > before
    assert S.vm_hwm_mb(os.getpid()) > 0
    assert S.vm_hwm_mb(2 ** 22 + 12345) is None


# -- inputs and calibration --------------------------------------------------

@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    return C.build(work, "warc_links", 5, 2, smoke=True)


def test_page_plan_is_a_function_of_the_seed():
    a = C.page_plan("crawl_extract", 11, 200)
    assert a == C.page_plan("crawl_extract", 11, 200)
    assert a != C.page_plan("crawl_extract", 12, 200)
    fillers = sorted(f for _i, f in a)
    assert 20 <= fillers[100] <= 50          # median near 33 blocks
    assert fillers[-1] > 3 * fillers[100]    # long tail
    assert all(f == 0 for _i, f in C.page_plan("product_pages", 11, 50))


def test_corpus_is_cached_and_complete(small_corpus, tmp_path):
    again = C.build(os.path.dirname(os.path.dirname(small_corpus.root)),
                    "warc_links", 5, 2, smoke=True)
    assert again.root == small_corpus.root
    meta = small_corpus.meta
    assert len(meta["urls"]) == C.SMOKE_PAGES == small_corpus.n_pages
    assert {"pdf", "error"} <= set(meta["profiles"])
    assert meta["host_graph"]


def test_calibration_is_deterministic(small_corpus):
    with calib.CalibrationPool(small_corpus.pages_dir, 2) as pool:
        _w1, _c1, first = pool.run()
        _w2, _c2, second = pool.run()
    import pyarrow.parquet as pq
    pages = pq.read_table(small_corpus.pages_dir).column("html").to_pylist()
    assert first == second == calib.parse_pages(pages) > 0


def test_calibration_imports_no_engine_code():
    import ast
    with open(os.path.join(BENCH, "calib.py")) as f:
        tree = ast.parse(f.read())
    names = {a.name for n in ast.walk(tree) if isinstance(n, ast.Import)
             for a in n.names}
    names |= {n.module for n in ast.walk(tree)
              if isinstance(n, ast.ImportFrom)}
    assert names and not any(m.startswith("html_parser_spark") for m in names)


# -- correctness gate --------------------------------------------------------

def _perfect_rows(corpus):
    rows = []
    for url, profile, golden in zip(corpus.meta["urls"],
                                    corpus.meta["profiles"],
                                    corpus.meta["goldens"]):
        if profile == "pdf":
            rows.append({"url": url, "profile": "pdf", "status": "ok",
                         "envelope": None})
        elif profile == "error":
            rows.append({"url": url, "profile": None, "status": "no_rule",
                         "envelope": None})
        else:
            rows.append({"url": url, "profile": profile, "status": "ok",
                         "envelope": json.dumps(golden)})
    return rows


def test_gate_accepts_expected_rows(small_corpus):
    gate = check.check_extracted(_perfect_rows(small_corpus), small_corpus)
    assert gate.attempted == small_corpus.n_pages
    assert gate.failed == 0 and gate.failed_share == 0.0


def test_planted_wrong_row_fails_the_gate(small_corpus):
    rows = _perfect_rows(small_corpus)
    k = small_corpus.meta["profiles"].index("nextdata-detail")
    env = json.loads(rows[k]["envelope"])
    env["detail"]["price"] = (env["detail"].get("price") or 0) + 0.01
    rows[k]["envelope"] = json.dumps(env)
    gate = check.check_extracted(rows, small_corpus)
    assert gate.failed == 1 and gate.failed_share > 0
    assert rows[k]["url"] in gate.examples[0]


@pytest.mark.parametrize("plant", ["drop", "duplicate", "error_ok", "pdf"])
def test_other_planted_faults_fail_the_gate(small_corpus, plant):
    rows = _perfect_rows(small_corpus)
    profiles = small_corpus.meta["profiles"]
    if plant == "drop":
        rows.pop(0)
    elif plant == "duplicate":
        rows.append(dict(rows[0]))
    elif plant == "error_ok":
        rows[profiles.index("error")]["status"] = "ok"
    else:
        rows[profiles.index("pdf")]["profile"] = "html"
    assert check.check_extracted(rows, small_corpus).failed_share > 0


def test_page_bytes_and_host_graph_gates(small_corpus):
    import hashlib
    import pyarrow.parquet as pq
    pages = [{"url": p["url"], "md5": hashlib.md5(p["html"]).hexdigest()}
             for p in pq.read_table(small_corpus.pages_dir,
                                    columns=["url", "html"]).to_pylist()]
    assert check.check_pages(pages, small_corpus).failed == 0
    pages[3]["md5"] = hashlib.md5(b"changed").hexdigest()
    assert check.check_pages(pages, small_corpus).failed == 1
    assert check.check_pages(pages[:-1], small_corpus).failed == 2
    edges = [{"src_host": s, "dst_host": d, "n_links": n}
             for s, d, n in small_corpus.meta["host_graph"]]
    assert check.check_host_graph(edges, small_corpus).failed == 0
    edges[0]["n_links"] += 1
    assert check.check_host_graph(edges, small_corpus).failed == 1


def test_host_graph_oracle_matches_the_engine_links(small_corpus):
    """The stdlib oracle sees the same followable absolute links as the
    engine's link extractor on the synth pages."""
    import pyarrow.parquet as pq
    from html_parser_spark.extract.links import links_of
    from html_parser_spark.htmlkit.charset import sniff_decode
    for page in pq.read_table(small_corpus.pages_dir,
                              columns=["html"]).to_pylist():
        engine = [ln["href"] for ln in links_of(sniff_decode(page["html"])[0])
                  if not ln["nofollow"] and check._host(ln["href"])]
        oracle = [h for h in check.page_links(page["html"]) if check._host(h)]
        assert engine == oracle


# -- the traced kernel pass --------------------------------------------------

def test_kernel_layers_account_for_the_kernel_time(small_corpus):
    pages = run.read_pages(small_corpus, 40)
    m, tracer, rows = T.kernel_pass(pages, True, calib.parse_pages)
    shares = [m[f"{layer}.share"] for layer in T.LAYERS]
    assert sum(shares) + m["kernel.unattributed.share"] == pytest.approx(1.0)
    assert all(s >= 0 for s in shares) and m["kernel.unattributed.share"] > 0
    assert check.check_extracted(rows, small_corpus,
                                 urls=[p["url"] for p in pages]).failed == 0
    names = {s[0] for s in tracer.spans}
    assert set(T.LAYERS) | {"sources.warc", "extract.links"} <= names
    assert all(s[4] is not None for s in tracer.spans
               if s[0] == "htmlkit.tokenizer")
    # the kernel is left as it was found
    from html_parser_spark.htmlkit import tokenizer
    assert tokenizer.tokenize.__module__ == tokenizer.__name__


# -- the command -------------------------------------------------------------

def _bench(*args, cwd=ROOT):
    """Run the command; once it has exited, no process it started (they
    all inherit a tag in their environment) may still be running."""
    token = uuid.uuid4().hex
    env = dict(os.environ, PERFBENCH_TEST_RUN=token)
    # Output goes to files, not pipes: reading a pipe to its end would
    # wait for every process that inherited it, and hide a leftover one.
    with tempfile.TemporaryFile("w+") as out, \
            tempfile.TemporaryFile("w+") as err:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
            stdout=out, stderr=err, text=True, timeout=300)
        out.seek(0)
        err.seek(0)
        res = subprocess.CompletedProcess(proc.args, proc.returncode,
                                          out.read(), err.read())
    tag = f"PERFBENCH_TEST_RUN={token}".encode()
    assert _tagged_processes(tag) == [], "the run left processes behind"
    return res


def _tagged_processes(tag):
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if tag in f.read().split(b"\0"):
                    found.append(int(name))
        except OSError:
            continue
    return found


def test_benchmark_json_matches_the_command():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(C.SPECS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("workload", sorted(C.SPECS))
def test_smoke_run(workload):
    res = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", "0", "--smoke")
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_smoke_run_prints_every_layer_metric():
    res = _bench("--workload", "warc_links", "--seed", "3", "--seconds", "1",
                 "--trace", "1", "--smoke")
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.PER_LAYER


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    res = _bench("--workload", "crawl_extract", "--seed", "1", "--seconds",
                 "1", "--trace", "0", cwd=str(tmp_path))
    assert res.returncode != 0
    assert res.stdout.strip() == ""


def test_wrong_engine_output_fails_the_run(tmp_path):
    """A copy of the engine whose envelopes carry one extra key: every
    golden row must fail, the result must say so and the exit code must
    be non-zero."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copytree(os.path.join(ROOT, "html_parser_spark"),
                    tmp_path / "html_parser_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    pipeline = tmp_path / "html_parser_spark" / "job" / "pipeline.py"
    src = pipeline.read_text()
    line = 'out["envelope"] = json.dumps(env,'
    assert src.count(line) == 1
    pipeline.write_text(src.replace(line, 'env["planted"] = 1; ' + line))
    res = _bench("--workload", "product_pages", "--seed", "3", "--seconds",
                 "1", "--trace", "0", "--smoke", cwd=str(tmp_path))
    assert res.returncode == 1, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert not out["correct"] and out["failed"] > 0
    assert out["metrics"]["ok_share"]["value"] < 1.0
