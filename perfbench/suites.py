"""The query workloads: ``queries``, ``relational`` and ``curation``.

Each runs bench-tagged registry queries over tables generated from the seed,
as one closed-loop client: each query is built, planned and collected before
the next one starts, in registry order. The order is the same for every
seed: a pass is a fresh session's first, and a seed-permuted order moves
the session's first-use costs from query to query, which made the spread of
the latency metrics across seeds several times wider. ``relational`` is the
24 bench queries with no curation tag; ``curation`` is a fixed set of
curation-tagged bench queries whose physical plans have Python/Arrow UDF
nodes, one per UDF kernel; ``queries``, the declared workload, is both
together less ``QUERIES_LEFT_OUT``.

Each query's collected rows are checked against a fingerprint (row count
plus the order-insensitive ``value_hash`` of ``tools/check_oracle.py``)
computed by running the query's DuckDB oracle SQL over the same generated
files; a mismatch or an exception counts as a failed operation.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd

from perfbench import trace as tr
from perfbench.datagen import TABLES, generate
from perfbench.run import (
    elapsed, end_to_end, jvm_peak_rss_mb, stamp, start_session, stop_session,
)

# Tags that put a bench query on the curation side; the rest are relational.
CURATION_TAGS = frozenset(
    {"text", "similarity", "multimodal", "dedup", "training", "ml", "source"}
)
# One curation bench query per Python-UDF kernel: each executed plan crosses
# the JVM/Python boundary (BatchEvalPython, ArrowEvalPython, MapInArrow and
# the like). The other six bench queries with Python nodes run the same
# kernels on another codec or split (image_dhash_catalog{,_png,_gif},
# video_keyframe_dhash_avi, warc_roundtrip_documents,
# semantic_split_contamination).
CURATION = (
    "ivf_similarity_topk", "pq_similarity_topk", "embedding_blocked_near_dup_pairs",
    "semdedup_keep_list", "image_dhash_catalog_webp_full", "video_keyframe_dhash",
)
# Left out of the declared ``queries`` workload to fit its run budget: each
# is a variant of a kept query (decimal money, weighted sketch) or repeats
# a plan shape the kept ones cover (join + aggregate, product quantization
# next to IVF). ``relational`` and ``curation`` still run them.
QUERIES_LEFT_OUT = frozenset({
    "daily_sales_summary_decimal", "category_sales_summary", "customer_activity_summary",
    "order_price_weighted_ddsketch", "pq_similarity_topk",
})
# Nominal seconds of one pass on a 4-core host: --seconds buys this many
# whole passes (at least one), so the work a run does depends only on its
# arguments.
NOMINAL_PASS_S = {"queries": 20.0, "relational": 16.0, "curation": 7.0}


def suite(workload: str) -> list[str]:
    from data_lake_medallion_architecture_project_spark.plans.registry import bench_queries

    bench = bench_queries()
    missing = [n for n in CURATION if n not in bench or not set(bench[n].tags) & CURATION_TAGS]
    if missing:
        raise KeyError(f"not curation bench queries: {missing}")
    relational = [name for name, q in bench.items() if not set(q.tags) & CURATION_TAGS]
    return {
        "queries": [n for n in relational + list(CURATION) if n not in QUERIES_LEFT_OUT],
        "relational": relational,
        "curation": list(CURATION),
    }[workload]


def oracle_fingerprints(data_dir: str, names: list[str]) -> dict[str, tuple[int, str]]:
    """Expected (rows, value_hash) per query from its DuckDB oracle."""
    import duckdb

    from data_lake_medallion_architecture_project_spark.plans.registry import REGISTRY
    from tools.check_oracle import value_hash

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in names:
        pdf = con.sql(REGISTRY[name].oracle).df()
        out[name] = (len(pdf), value_hash(pdf))
    con.close()
    return out


def fingerprint(rows, columns: list[str]) -> tuple[int, str]:
    from tools.check_oracle import value_hash

    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    return len(rows), value_hash(pdf)


class _Pass:
    """Runs the suite once per call, in a fixed order, and checks every
    result against its expected fingerprint outside the timed region."""

    def __init__(self, spark, data, order, expected):
        self.spark, self.data, self.order, self.expected = spark, data, order, expected
        self.attempted = self.failed = 0
        self.failures: list[dict] = []
        self.plans: dict = {}  # (pass, query) -> (plan shape, plan metrics, rows)
        self.latency_s: dict[str, tuple] = {}  # query -> (wall, CPU) s in the last pass

    def __call__(self, label: str, tracer) -> tuple[tuple[float, float], list[tuple[float, float]]]:
        """Run one pass; return its (wall, CPU) seconds and each query's."""
        from data_lake_medallion_architecture_project_spark.plans.registry import REGISTRY

        latencies, collected = [], []
        tp = stamp()
        with tracer.span("pass", group=label, jobs=False):
            for name in self.order:
                self.attempted += 1
                try:
                    with tracer.span("query", group=f"{label}:{name}", jobs=False):
                        a = stamp()
                        with tracer.span("build"):
                            df = REGISTRY[name].build(self.spark, self.data)
                        with tracer.span("plan"):
                            plan = df._jdf.queryExecution().executedPlan()
                        b = stamp()
                        # The plan as planned; after collect() AQE has
                        # rewritten it with runtime statistics.
                        shape = tr.plan_shape(plan) if tracer.enabled else None
                        c = stamp()
                        with tracer.span("exec"):
                            rows = df.collect()
                        latencies.append(elapsed((a, b), (c, stamp())))
                        self.latency_s[name] = latencies[-1]
                except Exception as exc:  # counted as a failed operation
                    self.failed += 1
                    self.failures.append({"query": name, "error": repr(exc)[:300]})
                    continue
                collected.append((name, rows, df.columns))
                if tracer.enabled:
                    self.plans[(label, name)] = (shape, tr.plan_metrics(plan), len(rows))
        wall = elapsed((tp, stamp()))
        for name, rows, columns in collected:
            got = fingerprint(rows, columns)
            if got != self.expected[name]:
                self.failed += 1
                self.failures.append(
                    {"query": name, "error": f"fingerprint {got} != oracle {self.expected[name]}"}
                )
        return wall, latencies


def run_suite(args, work: str) -> tuple[dict, dict]:
    from data_lake_medallion_architecture_project_spark.sources.readers import load_table

    names = suite(args.workload)
    data = os.path.join(work, "data")
    rows_per_table = generate(data, args.seed, args.sf)
    expected = oracle_fingerprints(data, names)
    order = list(names)
    n_passes = max(1, int(args.seconds // NOMINAL_PASS_S[args.workload]))

    t0 = stamp()
    spark = start_session(work, args.workload, bool(args.trace))
    session_s = time.perf_counter() - t0[0]
    try:
        sc = spark.sparkContext
        # Warm-up: open every input table once. The timed pass is the
        # session's first, as for a batch job that runs each query once.
        for t in TABLES:
            load_table(spark, data, t)
        setup = elapsed((t0, stamp()))
        run_pass = _Pass(spark, data, order, expected)

        tracer = tr.Tracer(bool(args.trace), sc)
        passes, latencies = [], []
        with tracer.span("run", jobs=False):
            for p in range(n_passes):
                wall, lat = run_pass(f"p{p}", tracer)
                passes.append(wall)
                latencies += lat
            if args.trace:
                with tracer.span("sources"):
                    for t in TABLES:
                        load_table(spark, data, t)
        rss = jvm_peak_rss_mb(spark)
        cores = sc.defaultParallelism
    finally:
        stop_session(spark)

    metrics, detail = end_to_end(setup, passes, latencies, rss)
    detail.update(
        workload=args.workload, seed=args.seed, sf=args.sf, cores=cores,
        queries=len(order), failed_ratio=run_pass.failed / run_pass.attempted,
        failures=run_pass.failures, input_rows=rows_per_table,
        latency_s={n: [round(x, 4) for x in v] for n, v in run_pass.latency_s.items()},
    )
    if args.trace:
        metrics = layer_metrics(tracer, work, run_pass.plans, cores, session_s, passes, rss)
        tracer.write(os.path.join(work, "spans.json"), {"detail": detail})
    return {
        "correct": run_pass.failed == 0, "attempted": run_pass.attempted,
        "failed": run_pass.failed, "metrics": metrics,
    }, detail


def layer_metrics(tracer, work, qe, cores, session_s, passes, rss) -> dict:
    """Per-layer metric block of a traced query-suite run."""
    log = tr.read_event_log(os.path.join(work, "eventlog"))
    jobs = tr.attribute_jobs(log, tracer.spans)

    def spans_named(name):
        return [s for s in tracer.spans if s["name"] == name]

    def totals(name):
        ids = [j for s in spans_named(name) for j in jobs.get(s["id"], [])]
        return tr.task_totals(log, ids)

    build_s, plan_s, exec_s = (sum(tracer.durations(n)) for n in ("build", "plan", "exec"))
    ex = totals("exec")
    shapes = [v[0] for v in qe.values()]
    pm = [v[1] for v in qe.values()]

    def psum(key, src):
        return float(sum(x[key] for x in src))

    return tr.layer_block({
        "session.start_s": session_s,
        "session.peak_rss_mb": rss,
        "sources.load_s": sum(tracer.durations("sources")),
        "sources.load_jobs": totals("sources")["jobs"],
        "plans.build_s": build_s,
        "plans.build_jobs": totals("build")["jobs"],
        "plans.build_share": build_s / (build_s + plan_s + exec_s),
        "plan.plan_s": plan_s,
        "plan.exchanges": psum("exchanges", shapes),
        "plan.joins": psum("joins", shapes),
        "plan.broadcast_mb": psum("broadcast_bytes", pm) / 2**20,
        "plan.python_nodes": psum("python_nodes", shapes),
        "exec.exec_s": exec_s,
        "exec.jobs": ex["jobs"],
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.task_run_s": ex["run_ms"] / 1000.0,
        "exec.core_busy_ratio": ex["run_ms"] / 1000.0 / (exec_s * cores) if exec_s else 0.0,
        "exec.gc_s": ex["gc_ms"] / 1000.0,
        "exec.shuffle_mb": ex["shuffle_bytes"] / 2**20,
        "exec.shuffle_fetch_wait_s": ex["fetch_wait_ms"] / 1000.0,
        "exec.scan_rows": ex["scan_rows"],
        "exec.result_rows": float(sum(v[2] for v in qe.values())),
        "exec.failed_tasks": ex["failed_tasks"],
        "python.rows_received": psum("py_rows", pm),
        "python.bytes_sent": psum("py_sent", pm),
        "python.bytes_received": psum("py_recv", pm),
        "trace.pass_s": statistics.median(p[0] for p in passes),
    })

