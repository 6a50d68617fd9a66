"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q                 # everything (a few minutes)
    python3 -m pytest perfbench -q -k "not smoke"  # plan generator only, seconds

The plan tests need no Spark. The smoke tests run every workload of
BENCHMARK.json on the sf0.001 test tables through the real command, traced
and untraced, and check that each metric the file names is printed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import plans
from run import TABLES_DIR, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _plans(seed: int) -> dict:
    return {
        "interactive": plans.interactive_plan(seed, TABLES_DIR),
        "rounds": [plans.round_order(seed, "kg_interactive", 16, r) for r in range(4)],
        "churn": plans.churn_plan(seed, TABLES_DIR, n_cycles=3),
    }


def test_same_seed_gives_identical_plans():
    assert json.dumps(_plans(1), default=str) == json.dumps(_plans(1), default=str)


def test_different_seeds_differ():
    pa, pc = _plans(1), _plans(2)
    for key in pa:
        assert json.dumps(pa[key], default=str) != json.dumps(pc[key], default=str), key


def test_churn_batches_straddle_the_merge_cap():
    for cycle in plans.churn_plan(3, TABLES_DIR, n_cycles=2):
        sizes = sorted(len(b["commands"]) for b in cycle)
        assert sizes[0] < 256 < sizes[-1]
        for b in cycle:
            paths = [c[0] for c in b["commands"]]
            assert len(paths) == len(set(paths))


def test_expected_effects_follow_the_last_command():
    lm = None
    batches = [
        {"commands": [
            ("/tpch/customer/1", 1, "write", {plans.CHURN_NOTE: [{"value": "x"}]}, None, lm),
            ("/tpch/orders/2", 1, "delete_path", None, None, lm),
            ("/tpch/customer/3", 1, "delete_attributes", None, {"acctbal": []}, lm),
        ]},
        {"commands": [
            ("/tpch/customer/1", 1, "delete_attributes", None, {"acctbal": []}, lm),
            ("/tpch/orders/2", 1, "write", {plans.CHURN_NOTE: [{"value": "y"}]}, None, lm),
        ]},
    ]
    assert plans.expected_effects(batches) == {
        "/tpch/customer/1": ("note+no_acctbal", "x"),
        "/tpch/orders/2": ("note", "y"),
        "/tpch/customer/3": ("no_acctbal", None),
    }


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail([float(i) for i in range(100)]) == (89.0, 90.0, 100)
    assert tail([1.0, 5.0, 2.0]) == (5.0, 100.0, 3)
    assert tail([float(i) for i in range(16)]) == (15.0, 100.0, 16)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_interactive", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


_SMOKE = [(w["name"], t) for w in _bench()["workloads"] for t in (0, 1)]


@pytest.mark.parametrize("workload,trace", _SMOKE)
def test_smoke_every_metric_is_printed(workload, trace):
    bench = _bench()
    p = subprocess.run(
        bench["command"] + ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in out["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
