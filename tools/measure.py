"""Per-round optimization measurement harness (guide §1).

For every bench-tagged query (or the names given on argv):
* capture ``explain("formatted")`` to plans/r<N>/<name>_<tag>.txt
* time the computation with the noop sink (guide §1.4) — best of k passes,
  fresh plan per pass — isolating compute from the bench's collect()
* count plan features that matter: Exchange nodes, join strategies,
  Python-boundary nodes (MapInArrow / ArrowEvalPython / BatchEvalPython)

Usage:
  python tools/measure.py --round N [--tag before|after] [--sf SF_DIR]
                          [--passes 3] [query ...]

Prints one line per query:  name  noop_best_s  exchanges  joins  python_nodes
and a JSON summary to /tmp/measure_r<N>_<tag>.json.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_lake_medallion_architecture_project_spark.plans.registry import (  # noqa: E402
    REGISTRY,
    bench_queries,
)
from data_lake_medallion_architecture_project_spark.session import get_spark  # noqa: E402

JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|CartesianProduct|"
    r"BroadcastNestedLoopJoin)"
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True, help="optimization round N")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--no-plans", action="store_true", help="skip writing plan files")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    rnd = f"r{args.round:02d}"
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark(f"measure_{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = (
        {n: REGISTRY[n] for n in args.queries}
        if args.queries
        else bench_queries()
    )
    # Warm the session like bench.py does.
    REGISTRY["top_orders"].build(spark, args.sf).limit(1).collect()

    out: dict[str, dict] = {}
    # Interleave passes (bench.py discipline) so a host stall hits one sample.
    # --passes 0 = explain-only capture, no execution.
    samples: dict[str, list[float]] = {n: [] for n in qs}
    for p in range(args.passes):
        for name, q in qs.items():
            spark.sparkContext.setJobDescription(f"measure:{name}:p{p}")
            t0 = time.perf_counter()
            q.build(spark, args.sf).write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)

    for name, q in qs.items():
        df = q.build(spark, args.sf)
        if args.passes:
            # Execute this exact DF so AQE finalizes, then explain — the
            # final plan shows ReusedExchange / AQEShuffleRead nodes that the
            # pre-execution plan hides (guide §7.2).
            df.write.format("noop").mode("overwrite").save()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if not args.no_plans:
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(plan)
        out[name] = {
            "noop_best_s": round(min(samples[name]), 3) if samples[name] else None,
            "noop_all_s": [round(s, 3) for s in samples[name]],
            "exchanges": len(re.findall(r"\bExchange\b", plan)),
            "joins": JOIN_RE.findall(plan),
            "python_nodes": re.findall(
                r"MapInArrow|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas",
                plan,
            ),
        }
        print(
            f"{name:36s} {out[name]['noop_best_s'] or 0.0:8.3f}s "
            f"ex={out[name]['exchanges']} "
            f"joins={','.join(out[name]['joins']) or '-'} "
            f"py={','.join(out[name]['python_nodes']) or '-'}"
        )

    with open(f"/tmp/measure_{rnd}_{args.tag}.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print(
        "total noop best-sum: "
        f"{sum(v['noop_best_s'] or 0.0 for v in out.values()):.2f}s"
    )


if __name__ == "__main__":
    main()
