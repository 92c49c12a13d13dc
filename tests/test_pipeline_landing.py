"""Landing generator ticks: one Bronze CSV formatter, no Spark job, no type
inference.

A generator tick is written by ``writers.write_staging_rows`` on the driver.
Seed 36's inventory tick has no inbound movement, so ``supplier_id`` is null
in every row; inferring a schema from those rows (``createDataFrame(rows)``)
fails with ``CANNOT_DETERMINE_TYPE``, so these tests land that tick through
the CLI path and through the DAG's generator task.
"""

from __future__ import annotations

import csv
import os
from datetime import datetime, timezone

import pytest

from data_lake_medallion_architecture_project_spark.pipeline import (
    gold_row_counts,
    run_generator_tick,
    run_pipeline,
)
from data_lake_medallion_architecture_project_spark.plans.gold import GOLD_BUILDERS
from data_lake_medallion_architecture_project_spark.schemas import BRONZE_SCHEMAS
from data_lake_medallion_architecture_project_spark.sources.synthetic import GENERATORS
from data_lake_medallion_architecture_project_spark.sources.writers import (
    write_staging_csv,
    write_staging_rows,
)
from tests.conftest import bronze_df
from tests.test_dags import _dags_module

RUN_TS = "2026-08-13T00:00:00+00:00"
NOW = datetime(2026, 8, 13, 12, 0, tzinfo=timezone.utc)
ALL_NULL_SEED = 36  # inventory: no inbound movement, supplier_id all null


def _read_csv(path: str) -> list[dict]:
    with open(path, newline="") as fh:
        return list(csv.DictReader(fh))


def test_cli_lands_an_all_null_column_through_gold(spark, tmp_path):
    work = str(tmp_path / "lake")
    run_pipeline(spark, work, gen_ticks=1, seed=ALL_NULL_SEED, processed_at=RUN_TS)
    counts = gold_row_counts(spark, work)
    assert set(counts) == set(GOLD_BUILDERS)
    assert all(n > 0 for n in counts.values()), counts


def test_dag_generator_task_lands_an_all_null_column(tmp_path, monkeypatch):
    dag = _dags_module()
    work = tmp_path / "lake"
    monkeypatch.setenv("DATA_LAKE_DIR", str(work))
    # The generator task's tick (and seed) is the count of staged files.
    staging = work / "staging" / "inventory"
    staging.mkdir(parents=True)
    for i in range(ALL_NULL_SEED):
        (staging / f"placeholder_{i:02d}.csv").touch()

    dag.generate_domain("inventory")

    landed = list((work / "bronze" / "inventory").glob(f"*/*/*/inventory_t{ALL_NULL_SEED:05d}.csv"))
    assert len(landed) == 1
    rows = _read_csv(str(landed[0]))
    assert rows and all(r["supplier_id"] == "" for r in rows)
    assert list(rows[0]) == [f.name for f in BRONZE_SCHEMAS["inventory"].fields]


def test_generator_tick_runs_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    group = f"landing-{os.getpid()}-{id(tmp_path)}"
    sc.setJobGroup(group, "land one generator tick")
    try:
        staged = run_generator_tick(str(tmp_path / "lake"), 0, 0)
        assert set(staged) == set(GENERATORS)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # The group does catch this thread's jobs, so the check above is real.
        spark.range(1).collect()
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_staging_rows_pin_the_bronze_csv_format(tmp_path):
    """The bytes perfbench's storage counts and Bronze parsing rely on:
    schema column order whatever the dict order, ``double`` ints as ``6.0``,
    ``None`` as an empty field, minimal quoting and ``\n`` line ends."""
    row = {
        "supplier_id": None,
        "unit_cost": 81.55,
        "quantity": 6,
        "movement_type": "inbound",
        "warehouse_id": "WH-SOUTH-02",
        "product_name": "Bulk, Item 4",
        "product_id": "PROD-204",
        "timestamp": "2026-08-13T11:58:44+00:00",
        "movement_id": "m-1",
    }
    path = write_staging_rows([row], str(tmp_path), "inventory", "t00000")
    assert path == str(tmp_path / "inventory" / "inventory_t00000.csv")
    with open(path, "rb") as fh:
        assert fh.read() == (
            b"movement_id,timestamp,product_id,product_name,warehouse_id,"
            b"movement_type,quantity,unit_cost,supplier_id\n"
            b'm-1,2026-08-13T11:58:44+00:00,PROD-204,"Bulk, Item 4",WH-SOUTH-02,'
            b"inbound,6.0,81.55,\n"
        )


@pytest.mark.parametrize("domain", list(GENERATORS))
def test_staging_rows_match_the_dataframe_adapter(spark, tmp_path, domain):
    """The DataFrame adapter (perfbench lands through it) writes the same
    bytes as the rows path, here on the all-null seed."""
    rows = GENERATORS[domain](seed=ALL_NULL_SEED, now=NOW)
    via_df = write_staging_csv(bronze_df(spark, rows, domain), str(tmp_path / "df"), domain, "t")
    via_rows = write_staging_rows(rows, str(tmp_path / "rows"), domain, "t")
    with open(via_df, "rb") as a, open(via_rows, "rb") as b:
        assert a.read() == b.read()


def test_dag_domains_are_the_generators():
    assert _dags_module()._DOMAINS == tuple(GENERATORS)


def test_empty_batch_writes_the_header(tmp_path):
    path = write_staging_rows([], str(tmp_path), "sales", "empty")
    with open(path) as fh:
        assert fh.read() == ",".join(f.name for f in BRONZE_SCHEMAS["sales"].fields) + "\n"
