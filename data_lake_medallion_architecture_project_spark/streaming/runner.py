"""The one driver every streaming door runs on.

A door drains the not-yet-seen files of a source directory into a table:
``foreachBatch`` with the door's per-batch logic under a named checkpoint
(exactly-once accounting of consumed files) and ``Trigger.AvailableNow``,
so each invocation applies every pending micro-batch and exits — the
reference's scheduled-DAG cadence without a scheduler.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def parquet_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File stream over a parquet directory, schema taken from its files."""
    return spark.readStream.schema(spark.read.parquet(source_dir).schema).parquet(source_dir)


def run_door(
    stream: DataFrame, checkpoint: str, apply_batch: Callable[[DataFrame, int], None]
) -> int:
    """Apply every pending micro-batch of ``stream`` as ``apply_batch(df,
    batch_id)`` under ``checkpoint``; returns the number applied (0 when
    nothing is new)."""
    applied = 0

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal applied
        apply_batch(batch_df, int(batch_id))
        applied += 1

    (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return applied
