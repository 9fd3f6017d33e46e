"""Smoke test of the benchmark at a tiny star scale (sf0.001).

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark JVM (about a minute per workload); the tier-1
suite under tests/ does not collect this file.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_every_metric_and_a_clean_check(workload: str, trace: str) -> None:
    proc = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", trace, "--scale", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    want = BENCH["per_layer" if trace == "1" else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace == "0":
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in want)
        assert result["metrics"]["ok_ratio"]["value"] == 1.0


def test_inputs_are_a_function_of_the_seed(tmp_path) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import datagen

    for name in ("a", "b"):
        datagen.write_dataset(str(tmp_path / name), 5, 0.001, 50, 50)
    for f in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes(), f
