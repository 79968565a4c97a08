"""Tests of the benchmark itself, at tiny input sizes.

Run from the repository root:

    python3 -m pytest perfbench/tests -q

Each workload runs in a subprocess exactly as the benchmark command
does (``--size tiny``: sf0.001 tables / 10k-row tables), untraced with
two seeds and traced with one.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["colfile", "curation"]


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.fixture(scope="module", params=WORKLOADS)
def runs(request):
    w = request.param
    return w, {key: _result(_run(w, *key)) for key in ((1, 0), (2, 0), (1, 1))}


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    names = [m["name"] for m in declared]
    assert list(result["metrics"]) == names
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


def test_every_metric_emitted_with_its_unit(runs):
    _, by_key = runs
    for (seed, trace), (_, result) in by_key.items():
        _assert_metrics(result, SPEC["per_layer" if trace else "end_to_end"])
    for m in SPEC["end_to_end"]:
        assert by_key[(1, 0)][1]["metrics"][m["name"]]["value"] > 0


def test_two_seeds_same_metrics_and_correct(runs):
    _, by_key = runs
    (d1, r1), (d2, r2) = by_key[(1, 0)], by_key[(2, 0)]
    assert r1["correct"] and r2["correct"], (d1["failures"], d2["failures"])
    assert r1["failed"] == r2["failed"] == 0
    assert set(r1["metrics"]) == set(r2["metrics"])
    assert d1["failed_op_frac"] == d2["failed_op_frac"] == 0.0


def test_traced_spans_nest_and_self_times_nonnegative(runs):
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from tracer import Span, self_times

    _, by_key = runs
    detail, result = by_key[(1, 1)]
    assert result["correct"], detail["failures"]
    with open(detail["spans"]) as fh:
        spans = [Span(**s) for s in json.load(fh)]
    assert spans
    by_id = {s.id: s for s in spans}
    for s in spans:
        assert s.end >= s.start
        if s.parent is not None:
            parent = by_id[s.parent]
            assert parent.start <= s.start and s.end <= parent.end, (parent, s)
            assert s.op_id == parent.op_id
    assert all(t >= -1e-9 for t in self_times(spans).values())
    assert {s.name for s in spans} >= {"session.get_spark", "exec.action"}


def test_self_time_subtracts_children():
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from tracer import Span, self_times

    spans = [Span(0, "op", 0.0, 10.0, None, 0), Span(1, "a", 1.0, 4.0, 0, 0),
             Span(2, "b", 3.0, 6.0, 0, 0), Span(3, "c", 7.0, 8.0, 0, 0)]
    assert self_times(spans) == {0: 4.0, 1: 3.0, 2: 3.0, 3: 1.0}


def test_refuses_to_run_without_the_engine():
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run("interactive", 1, 0, cwd=bare)
        assert proc.returncode != 0
        assert proc.stdout.strip() == ""
        assert sorted(os.listdir(bare)) == ["BENCHMARK.json", "perfbench"]
    finally:
        shutil.rmtree(bare)
