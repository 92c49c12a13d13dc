"""One-command end-to-end medallion pipeline runner.

The reference's front door is two Airflow DAGs
(``/root/reference/dags/data_lake_pipeline.py:46-149``): a generator DAG
(every 5 min: synthesize 3 domains' rows → staging CSV → Bronze copy) and a
pipeline DAG (every 30 min: Bronze→Silver clean, then Silver→Gold aggregate).
This module is the Spark-first equivalent, runnable without a scheduler:

    python -m data_lake_medallion_architecture_project_spark.pipeline --work-dir /tmp/lake --gen-ticks 3

One invocation = one pipeline cycle: ``--gen-ticks`` generator ticks (each
writes one staging CSV per domain and copies it into the Hive-partitioned
Bronze tree, like the 5-minute DAG), then one processing pass (like the
30-minute DAG):

* Bronze→Silver via Structured Streaming ``Trigger.AvailableNow`` with a
  checkpoint under the work dir — incremental and exactly-once, so re-running
  the command picks up only new Bronze files (the reference's processed-file
  ledger, without its crash window);
* Silver→Gold via the transactional incremental refresh — only the day
  partitions touched by new Silver rows are re-aggregated and MERGEd into
  each Gold table's transaction log (storage/txnlog.py).

Re-invoking on a cron/systemd timer reproduces the reference's cadence
exactly; every stage is the same code the tests and registry queries
exercise, just wired end to end.
"""

from __future__ import annotations

import argparse
import os
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from .plans.gold import GOLD_BUILDERS
from .schemas import BRONZE_SCHEMAS
from .session import get_spark
from .sources.synthetic import GENERATORS
from .sources.writers import ingest_to_bronze, write_staging_csv
from .streaming.ingest import run_incremental_ingest
from .streaming.refresh import gold_table, run_incremental_gold_refresh

LAYERS = ("staging", "bronze", "silver", "gold", "_checkpoints")


def run_generator_tick(
    spark: SparkSession, work_dir: str, tick: int, seed: int
) -> dict[str, str]:
    """One generator-DAG tick: rows → staging CSV → Bronze copy, per domain."""
    staged = {}
    for domain, gen in GENERATORS.items():
        rows = gen(seed=seed + tick)
        # Bronze CSVs are parsed with a declared schema, which binds by
        # POSITION — stage the columns in schema order.
        cols = [f.name for f in BRONZE_SCHEMAS[domain].fields]
        df = spark.createDataFrame(rows).select(*cols)
        path = write_staging_csv(
            df, os.path.join(work_dir, "staging"), domain, f"t{tick:05d}"
        )
        staged[domain] = ingest_to_bronze(
            path, os.path.join(work_dir, "bronze"), domain
        )
    return staged


def run_processing_pass(
    spark: SparkSession, work_dir: str, processed_at: str | None = None
) -> dict[str, object]:
    """One pipeline-DAG pass: incremental Bronze→Silver, then Silver→Gold."""
    processed_at = processed_at or datetime.now(timezone.utc).isoformat()
    bronze = os.path.join(work_dir, "bronze")
    silver = os.path.join(work_dir, "silver")
    gold = os.path.join(work_dir, "gold")
    ckpt = os.path.join(work_dir, "_checkpoints")
    stats: dict[str, object] = {"silver_rows": {}, "gold_days": {}}
    for domain in GENERATORS:
        if not os.path.isdir(os.path.join(bronze, domain)):
            continue
        stats["silver_rows"][domain] = run_incremental_ingest(
            spark, bronze, silver, ckpt, domain, processed_at=processed_at
        )
        if os.path.isdir(os.path.join(silver, domain)):
            stats["gold_days"][domain] = run_incremental_gold_refresh(
                spark, silver, gold, ckpt, domain, generated_at=processed_at
            )
    return stats


def run_pipeline(
    spark: SparkSession,
    work_dir: str,
    gen_ticks: int = 1,
    seed: int = 0,
    processed_at: str | None = None,
) -> dict[str, object]:
    """Full cycle: ``gen_ticks`` generator ticks, then one processing pass.

    Returns per-domain Silver row counts and refreshed Gold day partitions.
    Idempotent across invocations: the streaming checkpoints scope each pass
    to not-yet-seen files, and Gold merges carry txn markers.
    """
    os.makedirs(work_dir, exist_ok=True)
    for tick in range(gen_ticks):
        run_generator_tick(spark, work_dir, tick, seed)
    return run_processing_pass(spark, work_dir, processed_at)


def gold_row_counts(spark: SparkSession, work_dir: str) -> dict[str, int]:
    """Row count of every committed Gold table (the smoke-check surface)."""
    gold = os.path.join(work_dir, "gold")
    return {
        table: gold_table(gold, table).read(spark).count()
        for table in GOLD_BUILDERS
        if os.path.isdir(os.path.join(gold, table))
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m data_lake_medallion_architecture_project_spark.pipeline",
        description="Run the medallion pipeline (generate -> bronze -> silver -> gold).",
    )
    p.add_argument("--work-dir", required=True, help="lake root directory")
    p.add_argument("--gen-ticks", type=int, default=1, help="generator ticks to run first")
    p.add_argument("--seed", type=int, default=0, help="base seed for the generators")
    p.add_argument(
        "--master", default=None,
        help="Spark master (default local[$SPARK_GRAFT_CPUS], else local[*])",
    )
    args = p.parse_args(argv)

    spark = get_spark(master=args.master)
    try:
        stats = run_pipeline(spark, args.work_dir, gen_ticks=args.gen_ticks, seed=args.seed)
        print("silver rows written:", stats["silver_rows"])
        print("gold days refreshed:", stats["gold_days"])
        for table, n in sorted(gold_row_counts(spark, args.work_dir).items()):
            print(f"gold/{table}: {n} rows")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
