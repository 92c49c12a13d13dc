"""Streaming SCD Type 2 maintenance — CDC stream → dimension history.

The standing form of ``storage/scd2.py``: a checkpointed file stream of
change records drives ``scd2_apply`` per micro-batch, so the dimension's
history table stays current as CDC files land, with the full exactly-once
story layered twice:

* the stream checkpoint guarantees each change FILE feeds exactly one
  micro-batch (crash before the sink commit → the batch replays);
* the (app_id, batch_id) txn marker plus SCD2's own attribute-equality
  no-op guarantee a REPLAYED batch writes nothing — even in the crash
  window where the table committed but the checkpoint didn't.

Each invocation is a ``run_door`` catch-up run (``streaming/runner.py``):
it drains pending files and exits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..storage.txnlog import TxnTable
from .runner import parquet_stream, run_door


def run_streaming_scd2(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    keys: list[str],
    order_col: str,
    partition_col: str,
    checkpoint_root: str,
) -> int:
    """Drain pending change files into the SCD2 history table. Returns the
    number of new version rows written across this invocation's batches."""
    # Deferred: storage.scd2 imports streaming.upsert, so a module-level
    # import here would close an import cycle through the package __init__.
    from ..storage.scd2 import scd2_apply

    table = TxnTable(table_path)
    app_id = f"scd2/{os.path.basename(table_path.rstrip('/'))}"
    written = 0

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal written
        written += scd2_apply(
            table,
            spark,
            batch_df,
            keys=keys,
            order_col=order_col,
            partition_col=partition_col,
            app_id=app_id,
            batch_id=batch_id,
        )

    checkpoint = os.path.join(checkpoint_root, "scd2")
    run_door(parquet_stream(spark, source_dir), checkpoint, _apply)
    return written
