"""Incremental Bronze→Silver ingestion via Structured Streaming.

Replaces the reference's JSON processed-file ledger
(``/root/reference/storage/local_storage.py:74-104`` + the discover/commit
steps of ``pipeline/bronze_to_silver.py:190-219``) with a Structured Streaming
file source + checkpoint:

* exactly-once end to end: file tracking lives in the checkpoint, and the
  sink write is *idempotent* — each micro-batch overwrites its own
  ``ingest_batch=<batchId>`` partition subtree (``write_silver_batch``), so a
  crash between the Silver write and the checkpoint commit replays the batch
  into the same directory instead of appending duplicates. (The reference
  reprocesses files if it dies between the Silver write and the ledger
  commit, SURVEY.md §3.2 — the crash window is removed here, not relocated.);
* ``Trigger.AvailableNow`` gives the same scheduled-micro-batch cadence as the
  reference's 30-min Airflow DAG, but resumable and transactional;
* each micro-batch runs the same domain cleaner used by batch mode —
  one code path for validation semantics.

At scale this is the Auto-Loader pattern: file listing is incremental and
the Silver write stays append-only and partition-pruned.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from ..plans.silver import CLEANERS
from ..schemas import BRONZE_SCHEMAS
from ..sources.writers import write_silver_batch
from .runner import run_door


def _written_rows(path: str) -> int:
    """Rows in the parquet files under ``path``, summed from their footers —
    a driver-side metadata read, no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(root, name)).num_rows
        for root, _dirs, names in os.walk(path)
        for name in names
        if name.endswith(".parquet")
    )


def run_incremental_ingest(
    spark: SparkSession,
    bronze_root: str,
    silver_root: str,
    checkpoint_root: str,
    domain: str,
    processed_at: str | None = None,
) -> int:
    """Process all not-yet-seen Bronze CSVs for a domain into Silver.

    Returns the number of rows written this invocation. Re-running with the
    same checkpoint and no new files is a no-op (idempotence contract,
    bronze_to_silver.py:198-200). ``processed_at`` stamps both the rows and
    the Silver ``year=/month=/day=`` partitions (default: now, UTC).
    """
    processed_at = processed_at or datetime.now(timezone.utc).isoformat()
    cleaner = CLEANERS[domain]
    stream = (
        spark.readStream.schema(BRONZE_SCHEMAS[domain])
        .option("header", True)
        .option("mode", "PERMISSIVE")
        # Bronze is a Hive-partitioned tree (year=/month=/day=); recursive
        # lookup reads the leaves without partition-column inference, keeping
        # the stream schema identical to the flat-directory case.
        .option("recursiveFileLookup", "true")
        .csv(os.path.join(bronze_root, domain))
    )
    ingest_time = datetime.fromisoformat(processed_at)
    written = 0

    def _sink(batch_df, batch_id: int) -> None:
        nonlocal written
        cleaned = cleaner(batch_df, processed_at)
        # Idempotent: overwrite of the batchId-keyed subtree, so replay
        # after a crash-before-checkpoint converges instead of duplicating.
        # One write, one plan: the row count comes from the written files'
        # parquet footers rather than from a second run of the batch.
        path = write_silver_batch(cleaned, silver_root, domain, batch_id, ingest_time)
        n = _written_rows(path)
        if not n:
            # An empty batch leaves only _SUCCESS: remove it, and a domain
            # dir it alone created, since a Silver dir without parquet files
            # fails the Gold door's schema inference.
            shutil.rmtree(path, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(path))
        written += n

    run_door(stream, os.path.join(checkpoint_root, domain), _sink)
    return written
