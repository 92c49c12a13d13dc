"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Run it from the repository root (any cwd works: the package is located from
this file). Workloads, metrics and their meaning are described in
``perfbench/README.md``. Every run works inside a fresh directory under
``.perfbench_run/`` at the repository root (generated inputs, the lake, Spark
scratch space, the event log) and removes it before exiting. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries per-run details (sample counts, core count, tail percentile, spans
file).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "data_lake_medallion_architecture_project_spark"
WORKLOADS = ("queries", "lake_cycles", "relational", "curation")

# The end-to-end metrics are CPU seconds of the benchmark's process tree
# (Python process, Spark JVM, Python workers). On a shared host wall time
# moves with time stolen by the hypervisor, which this process cannot
# control; CPU time leaves it out. Wall times are in the details line.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "query_cpu_p50_s": "s",
    "query_cpu_tail_s": "s",
}


def _isolate(work: str) -> None:
    """Point every scratch location this process and its children use at
    ``work``, and let Python workers import the package from any cwd."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, app: str, trace: bool):
    """``get_spark()`` with the engine's defaults; only scratch paths (and,
    when tracing, the event log) are added."""
    from data_lake_medallion_architecture_project_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(f"perfbench-{app}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _process_cpu_clock(pid: int) -> int:
    """Clock id of another process's CPU-time clock (what
    ``clock_getcpuclockid(3)`` returns): nanoseconds run by all of its
    threads, exited ones included."""
    return ((~pid) << 3) | 2


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it:
    the Spark JVM, the PySpark daemon and its Python workers, plus exited
    children they have reaped. Each live process is read from its CPU-time
    clock (nanoseconds); reaped children from /proc (10 ms ticks). A kernel
    that accounts for steal time (``CONFIG_PARAVIRT_TIME_ACCOUNTING``)
    leaves time stolen by the hypervisor out of both."""
    children: dict[int, list[int]] = {}
    reaped: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        reaped[pid] = int(fields[13]) + int(fields[14])  # cutime + cstime
    total, stack = 0.0, [os.getpid()]
    while stack:
        pid = stack.pop()
        try:
            total += time.clock_gettime_ns(_process_cpu_clock(pid)) / 1e9
        except OSError:  # exited since the listing
            continue
        total += reaped.get(pid, 0) * _TICK_S
        stack += children.get(pid, [])
    return total


def stamp() -> tuple[float, float]:
    """(wall seconds, process-tree CPU seconds) now."""
    return time.perf_counter(), tree_cpu_s()


def elapsed(*spans: tuple[tuple[float, float], tuple[float, float]]) -> tuple[float, float]:
    """(wall, CPU) seconds covered by the ``(start, end)`` stamp pairs."""
    return (sum(b[0] - a[0] for a, b in spans), sum(b[1] - a[1] for a, b in spans))


def jvm_peak_rss_mb(spark) -> float:
    """Spark JVM high-water resident set (VmHWM), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; the maximum when there are fewer than eleven."""
    s = sorted(samples)
    k = max(len(s) - 11, 0) if len(s) > 10 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def end_to_end(setup: tuple[float, float], passes: list[tuple[float, float]],
               latencies: list[tuple[float, float]], rss: float) -> tuple[dict, dict]:
    """The end-to-end metric block plus the details that qualify it. Every
    argument holds (wall, CPU) second pairs: set-up, each pass or cycle, and
    each query or read."""
    pass_wall, pass_cpu = ([p[i] for p in passes] for i in (0, 1))
    lat_wall, lat_cpu = ([x[i] for x in latencies] for i in (0, 1))
    tail_cpu, tail_p = tail(lat_cpu)
    metrics = {
        "setup_s": setup[1],
        "pass_cpu_s": statistics.median(pass_cpu),
        "query_cpu_p50_s": statistics.median(lat_cpu),
        "query_cpu_tail_s": tail_cpu,
    }
    detail = {
        "setup_wall_s": round(setup[0], 3),
        "pass_wall_s": round(statistics.median(pass_wall), 3),
        "query_wall_p50_s": round(statistics.median(lat_wall), 4),
        "query_wall_tail_s": round(tail(lat_wall)[0], 4),
        "passes": len(passes),
        "pass_walls_s": [round(p, 3) for p in pass_wall],
        "pass_cpus_s": [round(p, 3) for p in pass_cpu],
        "latency_samples": len(latencies),
        "query_tail_percentile": round(tail_p, 1),
        "peak_rss_mb": round(rss, 1),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}, detail


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="nominal measured time; sets the passes or cycles run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.01,
                   help="scale factor of the generated query-suite inputs")
    p.add_argument("--cycles", type=int, default=None,
                   help="lake_cycles: measured cycles (default from --seconds)")
    p.add_argument("--spans-out", default=None,
                   help="with --trace 1: where to copy the spans file")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        sys.stderr.write(f"perfbench: package {PACKAGE}/ not found next to perfbench/\n")
        return 2
    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        _isolate(work)
        if args.workload == "lake_cycles":
            from perfbench.lake import run_lake as runner
        else:
            from perfbench.suites import run_suite as runner
        t0 = time.perf_counter()
        result, detail = runner(args, work)
        detail["run_wall_s"] = round(time.perf_counter() - t0, 3)
        if args.trace and args.spans_out:
            shutil.copy(os.path.join(work, "spans.json"), args.spans_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
