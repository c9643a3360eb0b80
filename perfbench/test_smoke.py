"""Self-test of the benchmark: every workload runs once in smoke mode
(small inputs), untraced and traced, and must emit every metric that
BENCHMARK.json names, with its unit, pass every correctness gate and
leave no process running.
The workloads BENCHMARK.json lists must all be covered here.

    python3 -m pytest perfbench/test_smoke.py

Takes several minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# every workload, listed in BENCHMARK.json or run by name, with the
# per-layer timings it must actually measure (the layers it does not
# exercise read 0)
EXERCISED = {
    "flagship": ("session.", "engine.", "core.", "queries."),
    "kg_backfill": ("session.", "engine.extract_s", "kg.lineage.run_s",
                    "kg.lineage.crash_leg_s", "kg.canonicalize.s",
                    "kg.graph.edges_s", "cli."),
    "mirror_crawl": ("session.", "engine.", "core."),
    "operator_battery": ("session.", "queries."),
}


def _leftovers(cwd: str) -> list:
    """Processes a run started that are still there: run.py points
    ``SPARK_LOCAL_DIRS`` into its work directory, and every process it
    starts inherits that environment."""
    marker = f"SPARK_LOCAL_DIRS={cwd}/perfbench/_work/".encode()
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/environ", "rb") as f:
                    if marker in f.read():
                        out.append(int(name))
            except OSError:
                pass
    return out


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(EXERCISED))
def test_workload_emits_every_metric_and_passes(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not _leftovers(ROOT), "the run left processes running"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name
        elif name.endswith(("_s", ".s")) and name.startswith(EXERCISED[workload]):
            assert m["value"] > 0, name


def test_every_listed_workload_is_covered():
    assert {w["name"] for w in SPEC["workloads"]} <= set(EXERCISED)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("_work", "__pycache__"),
    )
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
