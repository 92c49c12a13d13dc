"""Quick self-test of the benchmark at a small size: sf0.001 inputs, one
measured lake cycle.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: the declared ``queries`` and ``lake_cycles``;
``relational`` and ``curation`` are the two halves of ``queries``) it runs ``run.py`` untraced once and
traced twice with the same seed, from a working directory that is not the
repository root, and asserts that:

* each run exits 0 and its last stdout line is the result object, with
  ``correct`` true and no failed operation (the fingerprints pass);
* the untraced run reports every end-to-end metric and the traced runs every
  per-layer metric, each with its unit;
* the exact counts repeat between the two traced runs;
* a directory holding only ``BENCHMARK.json`` and ``perfbench/`` makes the
  benchmark exit non-zero without printing a result.

It prints the tracing overhead: traced minus untraced wall time of a pass
(``trace.pass_s`` against the untraced details line's ``pass_wall_s``; for
``lake_cycles`` that is the cycle time), same seed. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, WORKLOADS  # noqa: E402
from perfbench.trace import LAYER_UNITS  # noqa: E402

SEED = 7
# Counts that must repeat exactly between two traced runs of one seed.
EXACT = (
    "plans.build_jobs", "plan.exchanges", "plan.joins", "plan.python_nodes",
    "sources.load_jobs", "exec.result_rows", "python.rows_received",
    "storage.log_versions", "storage.log_checkpoints", "storage.gold_live_files",
    "storage.silver_files", "streaming.silver_batches", "streaming.gold_batches",
    "streaming.gold_days",
)


def run(workload: str, trace: int, cwd: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
        "--sf", "0.001", "--cycles", "1",
    ]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, lines[-2]
    return {"result": result, "detail": json.loads(lines[-2])}


def check_units(metrics: dict, expected: dict) -> None:
    assert set(metrics) == set(expected), set(metrics) ^ set(expected)
    for name, m in metrics.items():
        assert m["unit"] == expected[name], (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)


def check_bare_directory() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_run")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        assert proc.returncode != 0, "benchmark ran without the package"
        assert '"metrics"' not in proc.stdout, proc.stdout


def main(argv: list[str]) -> int:
    workloads = argv or ["queries", "lake_cycles"]
    os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
    check_bare_directory()
    print("bare directory: exits non-zero, no result")
    for w in workloads:
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_run")) as cwd:
            plain = run(w, 0, cwd)
            traced = [run(w, 1, cwd), run(w, 1, cwd)]
        check_units(plain["result"]["metrics"], END_TO_END)
        for t in traced:
            check_units(t["result"]["metrics"], LAYER_UNITS)
        a, b = (t["result"]["metrics"] for t in traced)
        for name in EXACT:
            assert a[name]["value"] == b[name]["value"], (w, name, a[name], b[name])
        overhead = a["trace.pass_s"]["value"] - plain["detail"]["pass_wall_s"]
        print(f"{w}: ok; fingerprints pass; exact counts repeat; "
              f"tracing overhead {overhead:+.3f} s per pass")
    if not os.listdir(os.path.join(ROOT, ".perfbench_run")):
        os.rmdir(os.path.join(ROOT, ".perfbench_run"))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
