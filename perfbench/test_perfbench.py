"""Tests of the benchmark itself.  Run from the repository root:

    python3 -m pytest perfbench -q

The smoke tests start one Spark driver per run (about 30-60 s each).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    BENCH = json.load(_fh)


def test_end_to_end_metrics_match_benchmark_json():
    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.PREPARE)
    fake = {"ready": 2.0, "setup_cpu_s": 5.0,
            "records": [{"wall": w, "cpu": w, "ok": True, "measured": True}
                        for w in (1.0, 0.5, 0.7, 0.9)]}
    e2e = run.end_to_end(fake, t_spawn=0.0)
    assert [m["name"] for m in BENCH["end_to_end"]] == list(e2e)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == {
        k: u for k, (_, u) in e2e.items()}


def test_row_comparison_rules():
    same = workloads.same_rows
    assert same([[1, "a", 2.0]], [[1.0, "a", 2]], True) is None
    assert same([[0.1 + 0.2]], [[0.3]], True) is None
    assert same([["1"]], [[1]], True) is not None  # text is not a number
    assert same([[1], [2]], [[2], [1]], False) is None
    assert same([[1], [2]], [[2], [1]], True) is not None
    assert same([[1]], [[1], [1]], False) is not None


def test_parse_pretty_reads_back_cells():
    text = ("+---+-----+\n|  a  |  b   |\n+---+-----+\n| 1 | x y |\n"
            "|   | 2.5 |\n+---+-----+\n(2 rows)\n")
    cols, rows = workloads.parse_pretty(text)
    assert cols == ["a", "b"]
    assert [[workloads.pretty_value(v) for v in r] for r in rows] == [
        [1.0, "x y"], [None, 2.5]]


@pytest.fixture
def at_root(monkeypatch):
    monkeypatch.chdir(ROOT)


@pytest.mark.parametrize("workload", ["cli_files", "operators", "repl_dialect"])
@pytest.mark.parametrize("trace", [False, True])
def test_smoke_emits_every_metric_with_its_unit(at_root, workload, trace):
    line, env = run.run(workload, seed=1, seconds=1, trace=trace, size="tiny")
    assert line["correct"], line
    assert line["attempted"] >= 2 and line["failed"] == 0
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(line["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = line["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float) or isinstance(got["value"], int)
    assert env["cpus"] >= 1 and env["java"] and env["pyspark"]
    assert not os.path.exists(os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}"))


def test_wrong_result_is_counted_as_failed(at_root):
    def corrupt(spec):
        item = next(i for i in spec["stream"] if i["sql"] is not None)
        item["expect"]["rows"].append(item["expect"]["rows"][0])

    line, _ = run.run("cli_files", seed=1, seconds=1, trace=False,
                      size="tiny", mutate_spec=corrupt)
    assert not line["correct"]
    assert line["failed"] >= 1
    ok = line["metrics"]["ok_frac"]["value"]
    assert ok == (line["attempted"] - line["failed"]) / line["attempted"] < 1
