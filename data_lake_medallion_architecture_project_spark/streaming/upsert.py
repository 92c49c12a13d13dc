"""Streaming keyed upsert — CDC-style apply into the transactional table.

The missing piece between the file-stream front door and the row-level MERGE:
a change stream (new/updated rows keyed by a business key) folded into a
``TxnTable`` so the table always holds exactly the latest version of every
key. This is the standard Delta CDC-apply pattern (`foreachBatch` +
``MERGE``), built on this repo's own txn layer:

1. Stream the source directory (file-source checkpoint = exactly-once
   accounting of which change files have been consumed).
2. Per micro-batch, collapse the batch to one row per key — the LATEST by
   ``order_col`` (a batch can carry several versions of one key; MERGE
   requires a key-unique source). The argmax is a struct-max aggregate:
   deterministic even on ``order_col`` ties because the remaining fields
   break the tie lexically.
3. ``merge_upsert`` the collapsed batch: matched keys update, new keys
   insert, in one atomic commit carrying the (app_id, batch_id) marker — a
   crash between the table commit and the checkpoint advance replays the
   batch, and the txn marker makes the replay a table-level no-op.

Scale: per batch the work is O(batch + affected partitions) — the collapse
shuffles only the batch (small), and merge_upsert rewrites only partitions
holding touched keys. The reference has no update concept at all (its Gold
sink appends timestamped snapshots, /root/reference/storage/local_storage.py:144-155);
this is north-star surface, not parity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import TxnTable
from .runner import parquet_stream, run_door


def latest_per_key(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """One row per key: the max-``order_col`` row, struct-max argmax so ties
    resolve deterministically by the remaining columns. Columns come back in
    the input order."""
    others = [c for c in df.columns if c not in keys]
    ordered = [order_col] + [c for c in others if c != order_col]
    packed = df.groupBy(*keys).agg(F.max(F.struct(*ordered)).alias("_s"))
    return packed.select(
        *keys, *[F.col(f"_s.{c}").alias(c) for c in ordered]
    ).select(*df.columns)


def run_streaming_upsert(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    keys: list[str],
    partition_col: str,
    order_col: str,
    checkpoint_root: str,
) -> int:
    """Fold all not-yet-seen change files into the keyed table. Returns the
    number of micro-batches applied this invocation (0 when nothing new)."""
    table = TxnTable(table_path)
    app_id = f"upsert/{os.path.basename(table_path.rstrip('/'))}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        src = latest_per_key(batch_df, keys, order_col)
        table.merge_upsert(
            spark, src, keys, partition_col, app_id=app_id, batch_id=batch_id
        )

    checkpoint = os.path.join(checkpoint_root, "upsert")
    return run_door(parquet_stream(spark, source_dir), checkpoint, _apply)
