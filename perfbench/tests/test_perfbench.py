"""Self-tests of the benchmark, at smoke sizes.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
Each workload runs once untraced and once traced (two to three minutes
in all); the other tests need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen  # noqa: E402
from perfbench.trace import finish  # noqa: E402

WORKLOADS = ["upload_small", "ingest_bulk", "analytics_mix"]
DEFAULT_SEED = 1
EPS = 1e-6


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(DEFAULT_SEED), "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


_results: dict[tuple[str, int], dict] = {}


def _result(workload: str, trace: int) -> dict:
    """The smoke run's JSON line, run once per module."""
    if (workload, trace) not in _results:
        proc = _run(ROOT, workload, trace)
        assert proc.returncode == 0, proc.stderr[-3000:]
        _results[workload, trace] = json.loads(proc.stdout.strip().splitlines()[-1])
    return _results[workload, trace]


@pytest.fixture(params=[(w, t) for w in WORKLOADS for t in (0, 1)],
                ids=lambda p: f"{p[0]}-trace{p[1]}")
def smoke(request):
    workload, trace = request.param
    return workload, trace, _result(workload, trace)


def test_every_declared_metric_is_printed_with_its_unit(smoke):
    _, trace, result = smoke
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_every_per_layer_metric_is_measured_on_a_declared_workload():
    spec = _spec()
    runs = [_result(w["name"], 1)["metrics"] for w in spec["workloads"]]
    zero = [m["name"] for m in spec["per_layer"] if all(r[m["name"]]["value"] == 0 for r in runs)]
    assert not zero


def test_no_failures_at_default_seed(smoke):
    _, _, result = smoke
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"] is True


def test_spans_nest_and_self_time_is_not_negative(smoke):
    workload, trace, _ = smoke
    if not trace:
        pytest.skip("spans exist only in traced runs")
    with open(os.path.join(ROOT, ".perfbench_out", f"spans_{workload}_seed{DEFAULT_SEED}.json")) as f:
        spans = json.load(f)
    assert spans
    for s in spans:
        assert s["self_s"] >= -EPS, s
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] - EPS <= s["start"] and s["end"] <= p["end"] + EPS, (s, p)
            assert s["op"] == p["op"]


def test_q217_construction_counts_worker_thread_jobs(smoke):
    workload, trace, result = smoke
    if (workload, trace) != ("analytics_mix", 1):
        pytest.skip("q217 runs in the traced analytics_mix run")
    assert result["metrics"]["queries.q217.worker_jobs"]["value"] > 0
    with open(os.path.join(ROOT, ".perfbench_out", f"spans_{workload}_seed{DEFAULT_SEED}.json")) as f:
        spans = json.load(f)
    q217 = [s for s in spans if s["name"] == "queries.q217.construct"]
    assert q217 and all(s["worker_jobs"] > 0 for s in q217)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "upload_small", 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25


def test_upload_stream_makes_the_planned_writes_once_warm():
    stream = gen.UploadStream(DEFAULT_SEED)
    layout: dict[tuple[str, str], list[str]] = {}
    for k in range(3):
        actions = []
        for item in stream.next_pass():
            for table, (action, n) in item["expect"].items():
                header = item["matrices"][table][0]
                prev = layout.get((item["tenant"], table))
                assert action == ("Created" if prev is None else
                                  "Truncated" if header == prev else "Recreated")
                assert n == len(item["matrices"][table]) - 1
                layout[item["tenant"], table] = header
                actions.append(action)
        if k:
            assert [actions.count(a) for a in ("Truncated", "Recreated", "Created")] == [8, 2, 2]


def test_result_comparison_tolerates_order_and_float_noise():
    expected = check.canonical(["b", "a"], [(1.0, "x"), (2.5, "y")])
    assert check.mismatch(expected, ["a", "b"], [("y", 2.5000000001), ("x", 1)]) is None
    assert check.mismatch(expected, ["a", "b"], [("y", 2.6), ("x", 1)]) is not None
    assert check.mismatch(expected, ["a", "b"], [("x", 1)]) is not None


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "depth": 0, "start": 0.0, "end": 10.0, "dur": 10.0, "jobs": 1},
        {"id": 1, "parent": 0, "depth": 1, "start": 1.0, "end": 4.0, "dur": 3.0, "jobs": 2},
        {"id": 2, "parent": 0, "depth": 1, "start": 3.0, "end": 6.0, "dur": 3.0, "jobs": 3},
    ]
    out = finish(spans)
    assert out[0]["self_s"] == pytest.approx(5.0)
    assert out[0]["incl_jobs"] == 6
    assert out[1]["self_s"] == pytest.approx(3.0)
