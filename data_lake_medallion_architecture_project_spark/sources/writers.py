"""Layer writers — the medallion storage layout, Spark-native.

Replaces ``/root/reference/storage/local_storage.py``:

* staging CSV sink (sales_generator.py:106-119) → one headered CSV per
  generator tick, written on the driver with the ``csv`` module — no Spark
  job and no type inference;
* Hive path builder (:33-41) → ``partitionBy("year","month","day")`` — Spark
  writes the same ``year=YYYY/month=MM/day=DD`` tree and gets partition
  pruning on read for free. Partitions derive from *processing* date, like the
  reference (ingest-time, not event-time).
* Silver parquet sink (:111-126) → idempotent per-micro-batch overwrite.

Gold goes through the transactional table log (``storage/txnlog.py``), not
through a sink here.
"""

from __future__ import annotations

import csv
import os
from collections.abc import Iterable, Mapping
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import BRONZE_SCHEMAS


def write_staging_rows(
    rows: Iterable[Mapping], staging_root: str, domain: str, batch_id: str
) -> str:
    """S4 staging CSV sink (sales_generator.py:117-119): one headered CSV
    batch per generator tick, the reference's one-file-per-batch contract.

    Bronze CSVs are parsed with a declared schema, which binds by POSITION,
    so columns go out in ``BRONZE_SCHEMAS[domain]`` order. Columns the schema
    declares ``double`` are written as ``float`` (``3`` → ``3.0``, as pandas
    wrote them) and ``None`` as an empty field. The header is written even
    for an empty batch."""
    fields = BRONZE_SCHEMAS[domain].fields
    double = [f.dataType.typeName() == "double" for f in fields]
    path = os.path.join(staging_root, domain, f"{domain}_{batch_id}.csv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow([f.name for f in fields])
        for r in rows:
            w.writerow(
                [
                    None if (v := r.get(f.name)) is None else float(v) if dbl else v
                    for f, dbl in zip(fields, double)
                ]
            )
    return path


def write_staging_csv(df: DataFrame, staging_root: str, domain: str, batch_id: str) -> str:
    """:func:`write_staging_rows` for a Bronze-schema DataFrame: the batch
    (tens of rows) is collected to the driver first."""
    return write_staging_rows(
        (r.asDict() for r in df.collect()), staging_root, domain, batch_id
    )


def ingest_to_bronze(
    staging_path: str, bronze_root: str, domain: str, ingest_time: datetime | None = None
) -> str:
    """S5 Bronze ingest (local_storage.py:52-67): byte-for-byte copy of the
    staging file into the Hive-partitioned Bronze tree, partitioned by
    *processing* date (ingest time, not event time — local_storage.py:44-45).
    Raw fidelity is the Bronze contract ('nothing is ever deleted here'), so
    this stays a filesystem copy even in Spark-land."""
    import shutil

    t = ingest_time or datetime.now(timezone.utc)
    dest_dir = os.path.join(
        bronze_root, domain, f"year={t.year:04d}", f"month={t.month:02d}", f"day={t.day:02d}"
    )
    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, os.path.basename(staging_path))
    shutil.copy2(staging_path, dest)
    return dest


def _with_ingest_partitions(df: DataFrame, ingest_time: datetime | None = None) -> DataFrame:
    t = ingest_time or datetime.now(timezone.utc)
    return (
        df.withColumn("year", F.lit(f"{t.year:04d}"))
        .withColumn("month", F.lit(f"{t.month:02d}"))
        .withColumn("day", F.lit(f"{t.day:02d}"))
    )


def write_silver_batch(
    df: DataFrame,
    silver_root: str,
    domain: str,
    batch_id: int,
    ingest_time: datetime | None = None,
) -> str:
    """Idempotent micro-batch Silver write for streaming ingest.

    Each micro-batch lands under its own ``ingest_batch=<id>`` partition
    subtree with ``overwrite`` mode. foreachBatch is at-least-once: a crash
    between the Silver write and the checkpoint commit replays the batch (same
    batchId, same input files) on restart — with a blind append that would
    duplicate rows; here the replay overwrites the very same directory and
    converges to identical bytes, making the sink exactly-once end to end.
    ``ingest_batch`` is discovered as an ordinary Hive partition column on
    read and dropped by :func:`readers.read_silver`.
    """
    path = os.path.join(silver_root, domain, f"ingest_batch={int(batch_id)}")
    (
        _with_ingest_partitions(df, ingest_time)
        .write.mode("overwrite")
        .partitionBy("year", "month", "day")
        .parquet(path)
    )
    return path


def write_silver_event_partitioned(
    df: DataFrame, silver_root: str, domain: str, batch_id: int | None = None
) -> str:
    """Silver laid out by **event** date: ``event_date=YYYY-MM-DD`` partitions
    derived from the row's ``timestamp``.

    The processing-date layout (``write_silver_batch``) preserves Bronze ingest
    lineage but makes the incremental Gold refresh's affected-day filter a
    full-tree scan filter. This layout turns that filter into a directory
    prune (`refresh._scoped_silver` picks it up automatically): refreshing one
    day reads one day, so refresh cost is O(new data + affected days' files)
    at any history length — the property that matters at 100 TB of Silver.
    Rows with a null/unparseable timestamp land in the Hive default partition
    and are still visible to full scans.

    ``batch_id`` keeps the streaming sink idempotent exactly like
    ``write_silver_batch``: the micro-batch overwrites its own
    ``ingest_batch=<id>`` subtree on replay instead of appending duplicates.
    """
    path = os.path.join(silver_root, domain)
    mode = "append"
    if batch_id is not None:
        path = os.path.join(path, f"ingest_batch={int(batch_id)}")
        mode = "overwrite"
    out = df.withColumn("event_date", F.to_date("timestamp"))
    out.write.mode(mode).partitionBy("event_date").parquet(path)
    return path
