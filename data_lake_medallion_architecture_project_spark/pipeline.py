"""One-command end-to-end medallion pipeline runner.

The reference's front door is two Airflow DAGs
(``/root/reference/dags/data_lake_pipeline.py:46-149``): a generator DAG
(every 5 min: synthesize 3 domains' rows → staging CSV → Bronze copy) and a
pipeline DAG (every 30 min: Bronze→Silver clean, then Silver→Gold aggregate).
This module is the Spark-first equivalent, runnable without a scheduler:

    python -m data_lake_medallion_architecture_project_spark.pipeline --work-dir /tmp/lake --gen-ticks 3

One invocation = one pipeline cycle: ``--gen-ticks`` generator ticks (each
writes one staging CSV per domain on the driver, with no Spark job, and
copies it into the Hive-partitioned Bronze tree, like the 5-minute DAG), then
one processing pass (like the 30-minute DAG):

* Bronze→Silver via Structured Streaming ``Trigger.AvailableNow`` with a
  checkpoint under the work dir — incremental and exactly-once, so re-running
  the command picks up only new Bronze files (the reference's processed-file
  ledger, without its crash window);
* Silver→Gold via the transactional incremental refresh — only the day
  partitions touched by new Silver rows are re-aggregated and MERGEd into
  each Gold table's transaction log (storage/txnlog.py).

Re-invoking on a cron/systemd timer reproduces the reference's cadence
exactly; every stage is the same code the tests and registry queries
exercise, just wired end to end. The Airflow DAGs (``dags/``) schedule the
same steps: ``land_tick`` per generator task, ``ingest_domain`` and
``refresh_domain`` per pipeline task, and hold no lake layout of their own
(``staging``, ``bronze``, ``silver``, ``gold`` and ``_checkpoints`` under the
work dir).
"""

from __future__ import annotations

import argparse
import os
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from .plans.gold import GOLD_BUILDERS
from .session import get_spark
from .sources.synthetic import GENERATORS
from .sources.writers import ingest_to_bronze, write_staging_rows
from .streaming.ingest import run_incremental_ingest
from .streaming.refresh import gold_table, run_incremental_gold_refresh


def next_tick(work_dir: str, domain: str) -> int:
    """Ticks of ``domain`` staged so far: the next tick's index. A scheduler
    that lands one tick per fire stays append-only (new filename, new seed
    offset), like the reference's timestamped CSVs."""
    staging = os.path.join(work_dir, "staging", domain)
    return len(os.listdir(staging)) if os.path.isdir(staging) else 0


def land_tick(work_dir: str, domain: str, tick: int, seed: int) -> str:
    """One generator tick of ``domain``: rows → staging CSV → Bronze copy.

    Runs on the driver alone (no SparkSession): the rows are written by
    ``write_staging_rows`` in Bronze schema order, so a column that is null
    in every row lands as empty fields instead of failing type inference.
    Returns the Bronze path."""
    rows = GENERATORS[domain](seed=seed + tick)
    path = write_staging_rows(rows, os.path.join(work_dir, "staging"), domain, f"t{tick:05d}")
    return ingest_to_bronze(path, os.path.join(work_dir, "bronze"), domain)


def run_generator_tick(work_dir: str, tick: int, seed: int) -> dict[str, str]:
    """One generator-DAG tick: :func:`land_tick` for every domain."""
    return {domain: land_tick(work_dir, domain, tick, seed) for domain in GENERATORS}


def ingest_domain(
    spark: SparkSession, work_dir: str, domain: str, processed_at: str
) -> int | None:
    """Incremental Bronze→Silver for ``domain``: Silver rows written, or
    ``None`` when the domain has no Bronze yet."""
    bronze = os.path.join(work_dir, "bronze")
    if not os.path.isdir(os.path.join(bronze, domain)):
        return None
    return run_incremental_ingest(
        spark, bronze, os.path.join(work_dir, "silver"),
        os.path.join(work_dir, "_checkpoints"), domain, processed_at=processed_at,
    )


def refresh_domain(
    spark: SparkSession, work_dir: str, domain: str, generated_at: str
) -> list | None:
    """Incremental Silver→Gold for ``domain``: the refreshed Gold days, or
    ``None`` when the domain has no Silver yet."""
    silver = os.path.join(work_dir, "silver")
    if not os.path.isdir(os.path.join(silver, domain)):
        return None
    return run_incremental_gold_refresh(
        spark, silver, os.path.join(work_dir, "gold"),
        os.path.join(work_dir, "_checkpoints"), domain, generated_at=generated_at,
    )


def run_processing_pass(
    spark: SparkSession, work_dir: str, processed_at: str | None = None
) -> dict[str, object]:
    """One pipeline-DAG pass, per domain: Bronze→Silver, then Silver→Gold."""
    processed_at = processed_at or datetime.now(timezone.utc).isoformat()
    stats: dict[str, object] = {"silver_rows": {}, "gold_days": {}}
    for domain in GENERATORS:
        rows = ingest_domain(spark, work_dir, domain, processed_at)
        if rows is None:
            continue
        stats["silver_rows"][domain] = rows
        days = refresh_domain(spark, work_dir, domain, processed_at)
        if days is not None:
            stats["gold_days"][domain] = days
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
        run_generator_tick(work_dir, tick, seed)
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
