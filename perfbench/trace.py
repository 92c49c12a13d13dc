"""Tracing for the traced benchmark run: spans, counters, event-log task
metrics and physical-plan features.

Spans are recorded around the benchmark's own calls into each layer of the
engine, never inside it. They stay in memory and are written out once, when
the run ends. Jobs are attributed to the span that caused them by Spark job
group (set for every span that runs on the main Python thread) and, for
jobs started on other threads (the streaming micro-batch threads), by the
innermost span whose interval holds the job's submission time.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_GROUP_PREFIX = "perfbench-span-"

# Every per-layer metric and its unit; a workload that does not exercise a
# layer reports 0 for it.
LAYER_UNITS = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "sources.load_s": "s", "sources.load_jobs": "count",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_share": "ratio",
    "plan.plan_s": "s", "plan.exchanges": "count", "plan.joins": "count",
    "plan.broadcast_mb": "MB", "plan.python_nodes": "count",
    "exec.exec_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.core_busy_ratio": "ratio",
    "exec.gc_s": "s", "exec.shuffle_mb": "MB", "exec.shuffle_fetch_wait_s": "s",
    "exec.scan_rows": "count", "exec.result_rows": "count", "exec.failed_tasks": "count",
    "python.rows_received": "count", "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "writers.staging_s": "s", "writers.bronze_s": "s", "writers.land_rows_per_s": "rows/s",
    "streaming.silver_s": "s", "streaming.silver_batches": "count",
    "streaming.silver_rows_per_s": "rows/s", "streaming.gold_s": "s",
    "streaming.gold_batches": "count", "streaming.gold_days": "count",
    "storage.snapshot_s": "s", "storage.log_versions": "count",
    "storage.log_checkpoints": "count", "storage.gold_live_files": "count",
    "storage.silver_files": "count", "storage.bytes_written_mb": "MB",
    "storage.gold_read_s": "s", "storage.lake_bytes_per_input_byte": "ratio",
    "trace.pass_s": "s",
}


def layer_block(values: dict[str, float]) -> dict:
    """The per-layer metric block of a traced run: every metric with its
    unit, 0 for those ``values`` lacks."""
    return {
        k: {"value": float(values.get(k, 0.0)), "unit": unit} for k, unit in LAYER_UNITS.items()
    }


class Tracer:
    """Span recorder. A disabled tracer records nothing and adds
    no Spark calls, so untraced runs measure the engine alone."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, group: str | None = None, jobs: bool = True):
        """Record one span. ``group`` names the query or cycle the span
        belongs to and is inherited by child spans. ``jobs`` tags the span's
        main-thread Spark jobs with a job group naming it."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": group if group is not None else (parent or {}).get("group"),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if jobs and self.sc is not None:
            self.sc.setJobGroup(f"{JOB_GROUP_PREFIX}{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if jobs and self.sc is not None:
                outer = self._stack[-1] if self._stack else None
                if outer is not None:
                    self.sc.setJobGroup(f"{JOB_GROUP_PREFIX}{outer['id']}", outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the time its
        direct children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "self_time_s": self.self_times(), **(extra or {})}, fh
            )


# --------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> dict:
    """Parse the one application event log under ``log_dir`` (written
    uncompressed, in one file) into jobs (group, submission time, stage ids)
    and per-stage task totals."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    with open(os.path.join(log_dir, name)) as fh:
        events = [json.loads(line) for line in fh]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": ev["Submission Time"] / 1000.0,
                "stages": ev["Stage IDs"],
            }
        elif kind == "SparkListenerTaskEnd":
            st = stages[ev["Stage ID"]]
            st["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                st["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["scan_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return {"jobs": jobs, "stages": stages}


def attribute_jobs(log: dict, spans: list[dict]) -> dict[int, list[int]]:
    """Span id -> ids of the Spark jobs it caused."""
    by_id = {s["id"]: s for s in spans}
    leaves = sorted(spans, key=lambda s: s["end"] - s["start"])
    out: dict[int, list[int]] = defaultdict(list)
    for job_id, job in sorted(log["jobs"].items()):
        group = job["group"] or ""
        if group.startswith(JOB_GROUP_PREFIX):
            out[int(group[len(JOB_GROUP_PREFIX):])].append(job_id)
            continue
        for s in leaves:
            if s["start"] - 0.001 <= job["submit"] <= s["end"] + 0.001:
                out[s["id"]].append(job_id)
                break
    return {sid: ids for sid, ids in out.items() if sid in by_id}


def task_totals(log: dict, job_ids: list[int]) -> dict[str, float]:
    """Task metrics summed over the stages of ``job_ids`` that ran (a stage
    shared by two jobs, or skipped because its shuffle output was reused,
    counts once or not at all)."""
    seen: set[int] = set()
    tot: dict[str, float] = defaultdict(float)
    tot["jobs"] = len(job_ids)
    for j in job_ids:
        for sid in log["jobs"][j]["stages"]:
            st = log["stages"].get(sid)
            if sid in seen or not st or not st.get("tasks"):
                continue
            seen.add(sid)
            tot["stages"] += 1
            for k, v in st.items():
                tot[k] += v
    return tot


# ------------------------------------------------------------ plan features

_EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")
_PY_MARKERS = ("Python", "InPandas", "InArrow")


def plan_nodes(plan) -> list:
    """Physical plan nodes (py4j objects) with AQE wrappers and query stages
    unwrapped, subqueries included."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        out.append((cls, node))
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    return out


def plan_shape(plan) -> dict[str, int]:
    """Exchange, join and Python-node counts of a physical plan."""
    shape = {"exchanges": 0, "joins": 0, "python_nodes": 0}
    for cls, _ in plan_nodes(plan):
        shape["exchanges"] += cls in _EXCHANGES
        shape["joins"] += cls.endswith("JoinExec") or cls == "CartesianProductExec"
        shape["python_nodes"] += any(m in cls for m in _PY_MARKERS)
    return shape


def _metric(node, key: str) -> float:
    opt = node.metrics().get(key)
    return float(opt.get().value()) if opt.isDefined() else 0.0


def plan_metrics(plan) -> dict[str, float]:
    """SQL metrics of an executed plan: broadcast bytes and the rows and
    bytes that crossed the JVM/Python boundary."""
    out = {"broadcast_bytes": 0.0, "py_rows": 0.0, "py_sent": 0.0, "py_recv": 0.0}
    for cls, node in plan_nodes(plan):
        if cls == "BroadcastExchangeExec":
            out["broadcast_bytes"] += _metric(node, "dataSize")
        elif any(m in cls for m in _PY_MARKERS):
            out["py_rows"] += _metric(node, "pythonNumRowsReceived")
            out["py_sent"] += _metric(node, "pythonDataSent")
            out["py_recv"] += _metric(node, "pythonDataReceived")
    return out
