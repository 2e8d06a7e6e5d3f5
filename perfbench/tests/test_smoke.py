"""Tests of the benchmark harness itself.

The smoke test runs each workload once, briefly, traced, on smoke-scale
inputs (sf0.001-sized tables, 20-item ingest batches) and checks that
every metric name is printed.  Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
from run import E2E_METRICS, WORKLOADS  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric(workload):
    from workloads import LAYER_METRICS

    out = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
               "--trace", "1", "--scale", "smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, out.stdout
    assert result["attempted"] >= 1
    printed = {line.split()[0] for line in lines[:-1] if not line.startswith("#")}
    assert set(E2E_METRICS) | set(LAYER_METRICS) <= printed
    assert set(result["metrics"]) == set(LAYER_METRICS)
    for name, m in result["metrics"].items():
        assert m["unit"] == LAYER_METRICS[name]
        assert isinstance(m["value"], float)


def test_fails_without_the_program(tmp_path):
    """A directory holding only the benchmark must exit non-zero and
    print no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(str(tmp_path), "--workload", "olap", "--seed", "1", "--seconds", "1",
               "--trace", "0")
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def _digest(d) -> dict[str, str]:
    return {
        f: hashlib.sha256((d / f).read_bytes()).hexdigest() for f in sorted(os.listdir(d))
    }


def test_inputs_follow_the_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        inputs.write_tables(str(tmp_path / name), seed, "smoke")
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    shape = inputs.INGEST_SHAPES["smoke"]
    assert inputs.ingest_pass(5, 1, shape) == inputs.ingest_pass(5, 1, shape)


def test_ingest_stream_shares():
    """Re-seen and duplicate keys appear in the set shares, and the
    replay applies the reference's append semantics."""
    shape = inputs.INGEST_SHAPES["bench"]
    steps = inputs.ingest_pass(3, 1, shape)
    first, second = (s for s in steps[:2])
    ids1 = [it["id"]["videoId"] for it in first.payload["items"]]
    ids2 = [it["id"]["videoId"] for it in second.payload["items"]]
    assert len(ids1) - len(set(ids1)) == int(shape.batch_items * shape.dup_share)
    reseen = sum(1 for i in set(ids2) if i in set(ids1))
    assert reseen == int(shape.batch_items * shape.reseen_share)
    replay = inputs.Replay()
    assert replay.append(first.payload) == shape.batch_items  # empty table: no dedup
    assert replay.append(first.payload) == 0  # a replayed batch appends nothing
