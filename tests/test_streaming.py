"""End-to-end medallion flow: generators → Bronze CSV → incremental Silver
ingest (Structured Streaming, AvailableNow) → Gold builders.

Covers the reference's idempotence contract (re-run with no new files is a
no-op — bronze_to_silver.py:198-200) without its ledger crash window."""

from __future__ import annotations

import os

import pytest

from data_lake_medallion_architecture_project_spark.plans.gold import build_all_gold
from data_lake_medallion_architecture_project_spark.sources.synthetic import GENERATORS
from data_lake_medallion_architecture_project_spark.sources.writers import write_staging_rows
from data_lake_medallion_architecture_project_spark.streaming.ingest import run_incremental_ingest

RUN_TS = "2026-08-13T00:00:00+00:00"

# Silver keeps every distinct domain key (invalid rows are flagged, not
# dropped), so rows-written == distinct keys in the batch.
DOMAIN_KEYS = {"sales": "sale_id", "customer_events": "event_id", "inventory": "movement_id"}


def _write_bronze_csv(root: str, domain: str, batch: list[dict], name: str) -> str:
    """Land ``batch`` as one Bronze CSV with the production formatter."""
    return write_staging_rows(batch, root, domain, name)


@pytest.mark.parametrize("domain", ["sales", "customer_events", "inventory"])
def test_incremental_ingest_exactly_once(spark, tmp_path, domain):
    bronze, silver, ckpt = (str(tmp_path / p) for p in ("bronze", "silver", "ckpt"))
    gen = GENERATORS[domain]

    b1 = gen(seed=1)
    _write_bronze_csv(bronze, domain, b1, "batch1")
    n1 = run_incremental_ingest(spark, bronze, silver, ckpt, domain, processed_at=RUN_TS)
    assert n1 == len({r[DOMAIN_KEYS[domain]] for r in b1})

    silver_df = spark.read.parquet(os.path.join(silver, domain))
    first_count = silver_df.count()
    assert first_count > 0
    assert {"is_valid", "validation_errors", "processed_at"} <= set(silver_df.columns)
    assert {"year", "month", "day"} <= set(silver_df.columns)  # Hive partitions

    # Idempotence: nothing new → no rows written.
    n_again = run_incremental_ingest(spark, bronze, silver, ckpt, domain, processed_at=RUN_TS)
    assert n_again == 0
    assert spark.read.parquet(os.path.join(silver, domain)).count() == first_count

    # New file → only its rows are added.
    b2 = gen(seed=2)
    _write_bronze_csv(bronze, domain, b2, "batch2")
    n2 = run_incremental_ingest(spark, bronze, silver, ckpt, domain, processed_at=RUN_TS)
    assert 0 < n2 <= len(b2)
    assert spark.read.parquet(os.path.join(silver, domain)).count() == first_count + n2


def test_ingest_crash_replay_no_duplicates(spark, tmp_path):
    """Exactly-once under foreachBatch replay: simulate a crash between the
    Silver write and the checkpoint commit by deleting the commit marker of
    the completed batch, forcing Structured Streaming to re-run it on restart.
    The batchId-keyed overwrite (write_silver_batch) must converge instead of
    appending duplicates — a blind append would double the row count here."""
    domain = "sales"
    bronze, silver, ckpt = (str(tmp_path / p) for p in ("bronze", "silver", "ckpt"))
    b1 = GENERATORS[domain](seed=7, n=30)
    _write_bronze_csv(bronze, domain, b1, "batch1")
    n1 = run_incremental_ingest(spark, bronze, silver, ckpt, domain, processed_at=RUN_TS)
    assert n1 > 0
    silver_path = os.path.join(silver, domain)
    count_before = spark.read.parquet(silver_path).count()

    # Crash window: the Silver write happened, the checkpoint commit did not.
    commits = os.path.join(ckpt, domain, "commits")
    batch_files = [f for f in os.listdir(commits) if f.isdigit()]
    latest = max(batch_files, key=int)
    os.remove(os.path.join(commits, latest))
    crc = os.path.join(commits, f".{latest}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    replayed = run_incremental_ingest(spark, bronze, silver, ckpt, domain, processed_at=RUN_TS)
    assert replayed == n1  # the batch genuinely re-ran ...
    assert spark.read.parquet(silver_path).count() == count_before  # ... idempotently


def test_ingest_header_only_batch_writes_nothing(spark, tmp_path):
    """A header-only Bronze CSV is an empty micro-batch: nothing is written
    (no Silver parquet file, no leftover batch directory), and a following
    non-empty file still ingests with the right count and reads back."""
    from data_lake_medallion_architecture_project_spark.sources.readers import read_silver

    domain = "sales"
    bronze, silver, ckpt = (str(tmp_path / p) for p in ("bronze", "silver", "ckpt"))

    _write_bronze_csv(bronze, domain, [], "empty")
    assert run_incremental_ingest(spark, bronze, silver, ckpt, domain, processed_at=RUN_TS) == 0
    assert not os.path.exists(os.path.join(silver, domain))

    b1 = GENERATORS[domain](seed=5)
    _write_bronze_csv(bronze, domain, b1, "batch1")
    n1 = run_incremental_ingest(spark, bronze, silver, ckpt, domain, processed_at=RUN_TS)
    assert n1 == len({r["sale_id"] for r in b1})

    # An empty batch after a non-empty one leaves the earlier batch alone.
    _write_bronze_csv(bronze, domain, [], "empty2")
    assert run_incremental_ingest(spark, bronze, silver, ckpt, domain, processed_at=RUN_TS) == 0
    assert os.listdir(os.path.join(silver, domain)) == ["ingest_batch=1"]
    assert read_silver(spark, silver, domain).count() == n1


def test_full_medallion_flow_to_gold(spark, tmp_path):
    bronze, silver, ckpt = (str(tmp_path / p) for p in ("bronze", "silver", "ckpt"))
    for domain, gen in GENERATORS.items():
        for seed in (10, 11):
            _write_bronze_csv(bronze, domain, gen(seed=seed, n=40), f"b{seed}")
        run_incremental_ingest(spark, bronze, silver, ckpt, domain, processed_at=RUN_TS)

    silver_frames = {
        d: spark.read.parquet(os.path.join(silver, d)) for d in GENERATORS
    }
    gold_frames = build_all_gold(silver_frames, RUN_TS)
    assert len(gold_frames) == 7

    # Spot-check: Gold revenue equals the valid-row revenue in Silver.
    import pyspark.sql.functions as F

    sales = silver_frames["sales"].filter(F.col("is_valid"))
    expected = sales.agg(F.bround(F.sum("total_amount"), 0)).first()[0]
    got = (
        gold_frames["daily_sales_summary"]
        .agg(F.bround(F.sum("total_revenue"), 0))
        .first()[0]
    )
    assert abs(got - expected) <= 1.0
