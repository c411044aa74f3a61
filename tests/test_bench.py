"""bench.py's scaling protocol and driver line, without Spark: the levels
come from the CPU affinity set, the pair runs reduce to medians and an
N → 4N efficiency, and the printed line fits the driver's window."""

from __future__ import annotations

import json

import pytest

import bench


@pytest.mark.parametrize("affinity, expected", [
    (range(2), [[0, 1]]),
    (range(4), [[0], [0, 1, 2, 3]]),
    (range(6), [[0], [0, 1, 2, 3]]),
    (range(32), [list(range(8)), list(range(32))]),
    ({9, 2, 7, 5, 11}, [[2], [2, 5, 7, 9]]),
    ({3, 1}, [[1, 3]]),
])
def test_levels_come_from_the_affinity_set(affinity, expected):
    assert bench.scaling_levels(set(affinity)) == expected


def _fake_child(rates: dict):
    """Stand-in for bench._child: a level line whose Spark rate is
    ``rates[N]`` and whose kernel rate is 1.25x that."""
    def child(args):
        cpus = [int(c) for c in args[args.index("--level") + 1].split(",")]
        spark = rates[len(cpus)]
        return "noise\n" + json.dumps({
            "cpus": cpus, "n_pages": 5000, "n_ok": 4915, "sec": 12.345,
            "spark_docs_per_s": spark, "kernel_docs_per_s": spark * 1.25,
            "spark_vs_kernel": 0.8}) + "\n"
    return child


def test_pair_runs_give_medians_and_efficiency(monkeypatch):
    monkeypatch.setattr(bench, "_child", _fake_child({1: 100.0, 4: 340.0}))
    out = bench._run_scaling(bench.scaling_levels(range(4)))
    assert set(out["levels"]) == {"1", "4"}
    assert out["levels"]["1"] == {"spark_docs_per_s": 100.0,
                                  "kernel_docs_per_s": 125.0,
                                  "spark_vs_kernel": 0.8}
    assert out["efficiency_1_to_4"] == 0.85
    assert out["efficiency_runs"] == [0.85] * 3
    assert len(out["runs"]) == 3
    assert "efficiency" not in out


def test_one_level_below_four_cpus_has_no_efficiency(monkeypatch):
    monkeypatch.setattr(bench, "_child", _fake_child({2: 200.0}))
    out = bench._run_scaling(bench.scaling_levels({2, 3}))
    assert set(out["levels"]) == {"2"}
    assert out["efficiency"] is None
    assert "fewer than 4" in out["efficiency_reason"]
    assert "\n" not in out["efficiency_reason"]


def test_driver_line_fits_with_every_query_and_the_levels(
        monkeypatch, tmp_path, capsys):
    monkeypatch.setattr(bench, "_child", _fake_child({8: 812.3, 32: 2901.7}))
    scaling = bench._run_scaling(bench.scaling_levels(range(32)))
    import __spark_entry__ as E
    queries = {name: 123.456 for name in sorted(E.queries())}
    assert len(queries) == 51
    result = {
        "metric": "query_suite_seconds", "value": 6296.256, "unit": "sec",
        "queries": queries, "sf": "0.1", "docs_per_sec": 12345.6,
        "n_pages": 20000, "filler_blocks": 30, "cores": 32,
        "ok_rate": 0.9831, "corpus_bytes": 473612345, "mb_per_sec": 123.4,
        "scaling": scaling,
    }
    path = tmp_path / "bench_last.json"
    bench._emit(result, str(path))
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) <= 1900, len(line)
    printed = json.loads(line)
    assert printed["queries"] == {k: 123.46 for k in queries}
    assert printed["scaling"]["levels"] == scaling["levels"]
    assert printed["scaling"]["efficiency_8_to_32"] == \
        scaling["efficiency_8_to_32"]
    for key in ("metric", "value", "unit", "docs_per_sec", "mb_per_sec",
                "ok_rate", "corpus_bytes"):
        assert printed[key] == result[key]
    assert json.loads(path.read_text()) == json.loads(json.dumps(result))
