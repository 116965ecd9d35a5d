"""Tiny end-to-end run of every workload, traced and untraced.

    python3 -m pytest perfbench/test_smoke.py -q

Each run uses the ``smoke`` sizes (a feed of a few thousand events,
sf0.001 tables) and asserts that the last stdout line is the result
object, that every metric BENCHMARK.json names is printed with its unit,
and that every correctness check passed. Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import high_percentile  # noqa: E402
from perfbench.trace import Span, Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["backfill", "tail_view", "query_suite"])
def test_workload_prints_every_metric_and_passes_checks(workload, trace):
    out, stdout = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True, stdout
    assert out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
    for name in ("setup_s", "failed_op_frac", "peak_mem_mb", "op_s_p50", "work_per_s", "lookup_s_p50"):
        assert f"# {workload} {name} = " in stdout, name
    if trace:
        assert out["metrics"]["trace.op_s_p50"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero and prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tail_view", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_high_percentile_keeps_ten_samples_beyond():
    assert high_percentile([1.0] * 10) is None
    p, v = high_percentile([float(i) for i in range(1, 21)])
    assert (p, v) == (50, 10.0)
    p, v = high_percentile([float(i) for i in range(1, 101)])
    assert (p, v) == (90, 90.0)


def test_self_time_subtracts_the_union_of_children():
    t = Tracer.__new__(Tracer)
    t.spans = [
        Span(1, "batch", "b", None, 0.0, 10.0),
        Span(2, "a", "b", 1, 1.0, 4.0),
        Span(3, "b", "b", 1, 3.0, 6.0),  # overlaps a: union is 1..6
        Span(4, "c", "b", 1, 8.0, 12.0),  # clipped to the parent: 8..10
    ]
    kids = t.children()
    assert t.self_time(t.spans[0], kids) == pytest.approx(10.0 - 5.0 - 2.0)
    assert [s.id for s in t.subtree(t.spans[0], kids)][0] == 1
