"""The benchmark's own checks, on the sf0.001 tables.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload must print every metric named in BENCHMARK.json with its unit,
untraced and traced; two seeds must change the step order and the reuse
block's mask thresholds but not ``ok_rate``.
"""

from __future__ import annotations

import functools
import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT)]

from perfbench import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@functools.lru_cache(maxsize=None)
def run(workload: str, seed: int, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


def test_workloads_match_spec():
    assert tuple(w["name"] for w in SPEC["workloads"]) == workloads.WORKLOADS


def test_seed_changes_order_and_thresholds():
    for name in workloads.WORKLOADS:
        a, b = workloads.Workload(name, 1), workloads.Workload(name, 2)
        assert a.order(2) != b.order(2)
        assert a.order(2) != a.order(3)  # each pass is shuffled anew
        assert a.order(2) == workloads.Workload(name, 1).order(2)
        assert sorted(a.order(2)) == sorted(b.order(2))
    assert workloads.reuse_thresholds(1) != workloads.reuse_thresholds(2)
    assert workloads.reuse_thresholds(1) == workloads.reuse_thresholds(1)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_prints_every_metric_with_unit(workload, trace, section):
    result, stdout = run(workload, 1, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    expected = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expected
    for name, unit in expected.items():
        assert any(line.startswith(f"metric {name} ") and line.endswith(f" {unit}")
                   for line in stdout.splitlines()), name
    assert "host steal_pct=" in stdout


def test_ok_rate_does_not_depend_on_seed():
    (a, _), (b, _) = run("groupby", 1, 0), run("groupby", 2, 0)
    assert a["metrics"]["ok_rate"]["value"] == b["metrics"]["ok_rate"]["value"] == 1.0
