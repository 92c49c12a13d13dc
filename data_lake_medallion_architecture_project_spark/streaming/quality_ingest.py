"""Streaming quality-gate ingest — exactly-once classifier-routed intake.

The streaming realization of ``doc_source_logreg_scores``' filter tier:
documents arrive as files and every one is ROUTED, never silently dropped —
rows whose pinned-logreg logit clears the threshold append to the corpus
table, the rest append to a QUARANTINE table carrying their logit (the
audit trail a curation pipeline owes its reviewers: "what did the gate
reject, and by how much?"). Composition of the same three trusted pieces
as ``dedup_ingest.py``:

1. **File-source checkpoint** (``Trigger.AvailableNow``) — which source
   files have been consumed is exactly-once accounted by Structured
   Streaming.
2. **Map-side scoring** — the logit is the shared left-associated
   whole-stage-codegen expression (``operators/logreg.py:
   pinned_quality_logit``, the one the DuckDB oracle certifies
   bit-for-bit), with every feature living only inside the expression
   tree — no model lookup, no shuffle, no Python, and no intermediate
   columns that could shadow a stored stat column.
3. **Two atomic appends with one idempotency marker each** — pass rows
   ``merge_upsert`` into the corpus table, fail rows into the quarantine
   table, both keyed on the doc id with the (app_id, batch_id) marker: a
   crash between either commit and the checkpoint advance replays the
   batch and the markers no-op the replays, so a document lands in its
   table exactly once — and because the route decision is a deterministic
   function of the row, a replay can never flip a document between tables.

Both tables partition on the first hex nibble of md5(id) — 16 uniformly
loaded partitions whatever the id distribution (the ``dedup_ingest``
discipline). At 100 TB the scoring pass is scan-side arithmetic; the only
data movement is each batch appending its own rows.

Batch parity: pass ∪ quarantine == input, and the pass set equals
filtering the batch query's logit column at the same threshold (asserted
in tests/test_streaming_quality.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.logreg import pinned_quality_logit
from ..storage import TxnTable
from .runner import parquet_stream, run_door

_PART_COL = "id_shard"


def scored_batch(
    batch_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Batch rows + their pinned-logreg logit and the partition shard.

    The logit is ONE self-contained column expression
    (``operators/logreg.py:pinned_quality_logit``) — no intermediate
    feature columns ever touch the row, so a source table's stored stat
    columns (``n_chars``, ...) ride through both the corpus and quarantine
    tables untouched, and the n_chars feature is sourced the way the
    certified gate query sources it: the stored column when present,
    ``length(text)`` otherwise. Batch/stream pass-set parity with
    ``doc_source_logreg_scores`` is therefore structural (same expression,
    same feature source), not data-dependent (ADVICE r11)."""
    return batch_df.withColumn(
        "logit", pinned_quality_logit(batch_df.columns, text_col)
    ).withColumn(_PART_COL, F.substring(F.md5(F.col(id_col).cast("string")), 1, 1))


def quality_batch_against_tables(
    spark: SparkSession,
    pass_table: TxnTable,
    quarantine_table: TxnTable,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    app_id: str,
    batch_id: int,
) -> None:
    """Apply one micro-batch: score, route on logit > threshold, append
    each side atomically under its own idempotency marker."""
    scored = scored_batch(batch_df, id_col, text_col)
    # coalesce(..., False): a NULL-text row has NULL token stats and a NULL
    # logit — a bare `logit > thr` is NULL in BOTH branches and the row
    # would vanish, violating the routed-never-dropped contract. NULL
    # routes to quarantine (no evidence it passes), logit preserved as the
    # audit value.
    passes = F.coalesce(F.col("logit") > F.lit(float(threshold)), F.lit(False))
    passed = scored.filter(passes)
    failed = scored.filter(~passes)
    pass_table.merge_upsert(
        spark,
        passed,
        keys=[id_col],
        partition_col=_PART_COL,
        app_id=app_id,
        batch_id=batch_id,
    )
    quarantine_table.merge_upsert(
        spark,
        failed,
        keys=[id_col],
        partition_col=_PART_COL,
        app_id=app_id,
        batch_id=batch_id,
    )


def run_quality_ingest(
    spark: SparkSession,
    source_dir: str,
    pass_table_path: str,
    quarantine_table_path: str,
    checkpoint_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.0,
) -> int:
    """Consume all not-yet-seen document files through the quality gate.
    Returns the number of micro-batches applied this invocation."""
    pass_table = TxnTable(pass_table_path)
    quarantine_table = TxnTable(quarantine_table_path)
    app_id = f"quality_ingest/{os.path.basename(pass_table_path.rstrip('/'))}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        quality_batch_against_tables(
            spark,
            pass_table,
            quarantine_table,
            batch_df,
            id_col,
            text_col,
            threshold,
            app_id,
            batch_id,
        )

    checkpoint = os.path.join(checkpoint_root, "quality_ingest")
    return run_door(parquet_stream(spark, source_dir), checkpoint, _apply)
