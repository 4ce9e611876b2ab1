"""Smoke test of the benchmark: every workload on tiny inputs, oracle checks on.

    python3 -m pytest kgbench/test_smoke.py -q

Each case starts a Spark driver process, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "kgbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=400)


def _result(workload: str, trace: int) -> dict:
    p = _run(HERE.parent, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2, out
    return {k: v["value"] for k, v in out["metrics"].items()}


def test_end_to_end_metrics():
    m = _result("cli_build", 0)
    assert set(m) == {x["name"] for x in SPEC["end_to_end"]}
    assert m["ok_ratio"] == 1.0
    assert all(v > 0 for v in m.values()), m


@pytest.mark.parametrize("workload", ["flagship", "cli_build", "cli_resume", "open_vocab"])
def test_traced_run(workload):
    m = _result(workload, 1)
    assert set(m) == {x["name"] for x in SPEC["per_layer"]}
    layers = sum(v for k, v in m.items() if k.startswith("self."))
    assert layers + m["trace.gap_s"] == pytest.approx(m["trace.wall_s"], rel=1e-9)
    assert m["spark.jobs"] > 0 and m["mentions.rows_out"] > 0
    if workload == "cli_build":
        assert m["checkpoint.files_written"] > 0 and m["checkpoint.resume_s"] == 0
    if workload == "cli_resume":
        assert m["checkpoint.resume_s"] > 0 and m["checkpoint.write_s"] == 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark it exits non-zero, printing
    no result."""
    shutil.copytree(HERE, tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    p = _run(tmp_path, "--workload", "flagship", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
