"""Incremental Silver→Gold maintenance — bounded-work, transactional refresh
of the Gold aggregates.

The reference rebuilds every Gold table from ALL Silver history every 30
minutes (``/root/reference/pipeline/silver_to_gold.py:219-235`` reading the
whole tree via ``storage/local_storage.py:129-137``) — O(history) per run,
its biggest scalability cliff (SURVEY.md §4.1). This module replaces that
with partition-grain incremental view maintenance over a transactional table:

1. Stream the Silver parquet tree (file-source checkpoint = exactly-once
   accounting of which Silver files have been folded in).
2. Per micro-batch, derive the set of **affected day partitions** from the
   new rows' event dates.
3. Re-aggregate ONLY those days from Silver and MERGE them into each Gold
   table: one atomic ``TxnTable.merge_overwrite_partitions`` commit per
   (table, batch) that adds the recomputed day files and removes the
   superseded ones (storage/txnlog.py — the Delta-style layer).

Exactly-once, not just idempotent-by-convergence: every commit carries the
streaming (app_id, batch_id) transaction marker, so a foreachBatch replay
after a crash between the Gold write and the checkpoint commit is *skipped*
at the table layer, and a crash before the log commit leaves only invisible
orphan files (readers see the previous consistent snapshot). The old
dynamic-partition-overwrite path converged on replay but exposed readers to
torn state mid-overwrite; the txn log removes that window too.

Work per refresh is O(new data + affected partitions), independent of total
history, while the committed Gold stays bit-identical to a full recompute
(the invariant the tests assert). All Gold aggregates are day-grain, so a day
is recomputable in isolation.

Two aggregate classes outgrow even affected-day recomputation — distinct
counts (not distributive: one new day forces re-reading the rest of the
week) and quantiles (exact percentile re-buffers the group). Those move to
``streaming/sketch_refresh.py``: day-grain HLL-register / DDSketch-bucket
STATE folded by max/sum, with rollups derived from state alone — the
aggregate-level completion of the scan-level fix here.

At 100 TB the same code holds: affected-day re-aggregation scans only those
days' Silver files when Silver is laid out by *event* date
(``writers.write_silver_event_partitioned`` — ``_scoped_silver`` detects the
``event_date`` partition column and filters on it, which Spark turns into a
directory prune; the plan's scan node carries the date set in
``PartitionFilters``, asserted by ``tests/test_streaming_gold.py``). Under
the reference-fidelity processing-date layout the same filter degrades
gracefully to a scan filter. Gold reads prune at file granularity from log
metadata, and the commit race serializes concurrent writers.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..plans.gold import GOLD_BUILDERS
from ..storage import TxnTable
from .runner import parquet_stream, run_door


def _domain_tables(domain: str):
    return {t: b for t, (d, b) in GOLD_BUILDERS.items() if d == domain}


def gold_table(gold_root: str, table: str) -> TxnTable:
    """The transactional handle for one Gold table."""
    return TxnTable(os.path.join(gold_root, table))


def _scoped_silver(
    spark: SparkSession,
    silver_domain_dir: str,
    affected_dates: list,
    schema: StructType | None = None,
):
    """Silver restricted to the affected days — a *partition prune* when the
    tree is event-date partitioned, a scan filter otherwise.

    ``event_date`` is a Hive partition column in the
    ``write_silver_event_partitioned`` layout, so the ``isin`` lands in the
    scan's PartitionFilters and unaffected day directories are never listed
    into tasks; with the processing-date layout the equivalent predicate on
    ``to_date(timestamp)`` still bounds the recompute, at scan cost.
    ``schema`` (partition columns included) skips the schema-inference job;
    without it the schema is read from the files.
    """
    reader = spark.read if schema is None else spark.read.schema(schema)
    silver = reader.parquet(silver_domain_dir)
    if "event_date" in silver.columns:
        return silver.filter(F.col("event_date").isin(affected_dates))
    return silver.filter(F.to_date("timestamp").isin(affected_dates))


def refresh_affected_dates(
    spark: SparkSession,
    silver_domain_dir: str,
    gold_root: str,
    domain: str,
    affected_dates: list,
    generated_at: str,
    batch_id: int | None = None,
    schema: StructType | None = None,
) -> list[str]:
    """Recompute the given day partitions of every Gold table of a domain.

    Reads Silver once (filtered to the affected days), runs the normal Gold
    builders — identical aggregation code to the full batch path — and MERGEs
    the results into each table's transaction log. ``batch_id`` (when driven
    from a stream) makes the merge a no-op on micro-batch replay.
    ``schema`` is Silver's schema when the caller already has it (the
    stream's batch schema), sparing a schema-inference job per call.
    """
    if not affected_dates:
        return []
    scoped = _scoped_silver(spark, silver_domain_dir, affected_dates, schema)
    written = []
    for table, builder in _domain_tables(domain).items():
        out = builder(scoped).withColumn("generated_at", F.lit(generated_at))
        gold_table(gold_root, table).merge_overwrite_partitions(
            out,
            partition_col="date",
            app_id=f"gold-refresh/{domain}/{table}",
            batch_id=batch_id,
        )
        written.append(table)
    return written


def run_incremental_gold_refresh(
    spark: SparkSession,
    silver_root: str,
    gold_root: str,
    checkpoint_root: str,
    domain: str,
    generated_at: str | None = None,
) -> list:
    """Fold all not-yet-seen Silver files of a domain into the Gold tables.

    Returns the sorted list of day partitions refreshed this invocation.
    Re-running with the same checkpoint and no new Silver files refreshes
    nothing (idempotence); a crashed-and-replayed micro-batch is skipped by
    its (app_id, batch_id) transaction marker (exactly-once).
    """
    generated_at = generated_at or datetime.now(timezone.utc).isoformat()
    silver_dir = os.path.join(silver_root, domain)
    refreshed: set = set()

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        days = [
            r["d"]
            for r in batch_df.filter(F.col("is_valid"))
            .select(F.to_date("timestamp").alias("d"))
            .filter(F.col("d").isNotNull())
            .distinct()
            .collect()
        ]
        refresh_affected_dates(
            spark, silver_dir, gold_root, domain, days, generated_at,
            batch_id=batch_id, schema=batch_df.schema,
        )
        refreshed.update(days)

    checkpoint = os.path.join(checkpoint_root, f"gold_{domain}")
    run_door(parquet_stream(spark, silver_dir), checkpoint, _fold)
    return sorted(refreshed)
