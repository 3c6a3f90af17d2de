"""Smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload at its smallest size, untraced and traced, and pins
the output contract: the last stdout line's keys, every metric name and
unit in ``BENCHMARK.json``, and a clean correctness verdict.  Also checks
that one seed generates byte-identical inputs (and another seed does
not), that a second ``backfill_fold`` cycle replays the first, and that
the command refuses to run without the package.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)

SMALLEST = {"catalog_mix": "sf0.001", "backfill_fold": "3d"}


def test_benchmark_json_matches_the_code():
    assert BENCH["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == layers.UNITS
    assert "setup_s" in {m["name"] for m in BENCH["end_to_end"]}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(workload, tmp_path):
    def input_hash(seed, sub):
        ctx = Ctx(None, seed, SMALLEST[workload], str(tmp_path / sub), None)
        return WORKLOADS[workload](ctx).inputs()

    a, b = input_hash(7, "a"), input_hash(7, "b")
    assert a == b
    assert input_hash(8, "c") != a


def _run(workload, trace, cwd=ROOT, timeout=300, seconds=1):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", str(seconds), "--trace", str(trace),
         "--size", SMALLEST[workload]],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_output_names_and_units(workload, trace):
    out = _run(workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True, out.stdout[-3000:]
    assert last["failed"] == 0 and last["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    for k, v in last["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(
            v["value"]), k
        if not trace:
            assert v["value"] > 0, k


def test_backfill_fold_cycles_replay_the_same_work():
    """Long enough for a second cycle, which starts from the restored
    post-setup state: same ops, still correct."""
    out = _run("backfill_fold", 0, seconds=30)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    assert json.loads(lines[-1])["correct"] is True, out.stdout[-3000:]
    with open(os.path.join(ROOT, json.loads(lines[-2])["info"]["record"])) as fh:
        labels = json.load(fh)["labels"]
    # a 3-day window: days 1 and 2, then a re-run
    assert len(labels) >= 6 and len(labels) % 3 == 0
    assert labels == labels[:3] * (len(labels) // 3)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "traces"))
    out = _run("backfill_fold", 0, cwd=tmp_path, timeout=60)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
