"""Airflow front door — deployment parity with the reference's two DAGs.

Mirror of ``/root/reference/dags/data_lake_pipeline.py:46-149``:

* ``data_lake_generator_dag`` (every 5 min) — three parallel generator
  tasks, each synthesizing one domain's rows → staging CSV → Bronze copy.
* ``data_lake_pipeline_dag`` (every 30 min) — ``bronze_to_silver`` then
  ``silver_to_gold``.

The task CALLABLES below are one call (or one loop over domains) into
``data_lake_medallion_architecture_project_spark.pipeline``, the functions the
CLI runs — Airflow adds scheduling only; the lake layout, the writers and the
schemas live in the package. The module imports cleanly WITHOUT Airflow (the
DAG objects are built only when the ``airflow`` package is importable), so
the callables stay unit-testable in environments that schedule with
cron/systemd instead.

Differences from the reference, by design (Spark-first equivalents):

* one generator task per domain fans out over ``GENERATORS`` instead of
  three hand-written modules, and runs without a SparkSession;
* Bronze→Silver is Structured Streaming ``Trigger.AvailableNow`` with a
  checkpoint (incremental, exactly-once) instead of a processed-file
  ledger with a crash window;
* Silver→Gold is the transactional incremental refresh (only day
  partitions touched by new Silver rows are re-aggregated and MERGEd).

Configuration: ``DATA_LAKE_DIR`` env var (default ``/tmp/data_lake``)
locates the lake root.
"""

from __future__ import annotations

import logging
import os
from datetime import datetime, timedelta, timezone

logger = logging.getLogger(__name__)

# The package's GENERATORS keys, spelled out so that parsing the DAG file
# does not import pyspark.
_DOMAINS = ("sales", "customer_events", "inventory")


def _work_dir() -> str:
    return os.environ.get("DATA_LAKE_DIR", "/tmp/data_lake")


def _spark():
    from data_lake_medallion_architecture_project_spark.session import get_spark

    return get_spark("airflow_dag")


def generate_domain(domain: str) -> None:
    """Generator-DAG task body: one tick of ``domain`` → staging → Bronze.

    The reference runs its three generators as parallel PythonOperators
    with fixed row counts per tick; the tick index here is the count of
    staged files so far, which keeps re-runs append-only (new filename,
    new seed offset) exactly like the reference's timestamped CSVs."""
    from data_lake_medallion_architecture_project_spark.pipeline import land_tick, next_tick

    work = _work_dir()
    tick = next_tick(work, domain)
    dest = land_tick(work, domain, tick, seed=0)
    logger.info("staged %s tick %d -> %s", domain, tick, dest)


def bronze_to_silver() -> None:
    """Pipeline-DAG task 1: incremental Bronze→Silver for every domain."""
    from data_lake_medallion_architecture_project_spark.pipeline import ingest_domain

    spark, work = _spark(), _work_dir()
    processed_at = datetime.now(timezone.utc).isoformat()
    for domain in _DOMAINS:
        n = ingest_domain(spark, work, domain, processed_at)
        logger.info("bronze_to_silver %s: %s rows", domain, n)


def silver_to_gold() -> None:
    """Pipeline-DAG task 2: incremental Silver→Gold refresh per domain."""
    from data_lake_medallion_architecture_project_spark.pipeline import refresh_domain

    spark, work = _spark(), _work_dir()
    generated_at = datetime.now(timezone.utc).isoformat()
    for domain in _DOMAINS:
        days = refresh_domain(spark, work, domain, generated_at)
        logger.info("silver_to_gold %s: refreshed days %s", domain, days)


try:  # pragma: no cover - exercised only under a real Airflow install
    from airflow import DAG
    from airflow.providers.standard.operators.python import PythonOperator
except ImportError:  # sandbox / cron deployments: callables only
    DAG = None
else:
    DEFAULT_ARGS = {
        "owner": "data_engineering",
        "depends_on_past": False,
        "retries": 2,
        "retry_delay": timedelta(minutes=1),
        "email_on_failure": False,
        "email_on_retry": False,
    }

    with DAG(
        dag_id="data_lake_generator_dag",
        description="Generate synthetic rows for 3 domains into Bronze",
        schedule="*/5 * * * *",
        start_date=datetime(2025, 1, 1),
        catchup=False,
        max_active_runs=1,
        default_args=DEFAULT_ARGS,
        tags=["datalake", "bronze", "generator"],
    ) as generator_dag:
        _gen_tasks = [
            PythonOperator(
                task_id=f"generate_{domain}",
                python_callable=generate_domain,
                op_args=[domain],
                do_xcom_push=False,
            )
            for domain in _DOMAINS
        ]

    with DAG(
        dag_id="data_lake_pipeline_dag",
        description="Bronze->Silver clean then Silver->Gold aggregate",
        schedule="*/30 * * * *",
        start_date=datetime(2025, 1, 1),
        catchup=False,
        max_active_runs=1,
        default_args=DEFAULT_ARGS,
        tags=["datalake", "silver", "gold", "pipeline"],
    ) as pipeline_dag:
        t_silver = PythonOperator(
            task_id="bronze_to_silver",
            python_callable=bronze_to_silver,
            do_xcom_push=False,
        )
        t_gold = PythonOperator(
            task_id="silver_to_gold",
            python_callable=silver_to_gold,
            do_xcom_push=False,
        )
        t_silver >> t_gold
