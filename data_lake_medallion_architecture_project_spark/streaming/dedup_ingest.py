"""Streaming dedup ingest — exactly-once, first-write-wins document intake.

The streaming realization of ``incremental_dedup_new_batch``
(plans/curation.py): documents arrive as files, and the corpus must end up
holding exactly one copy of every distinct text, no matter how batches
interleave, duplicate, or replay after a crash. Composition of three pieces
this repo already trusts:

1. **File-source checkpoint** (``Trigger.AvailableNow``) — which source
   files have been consumed is exactly-once accounted by Structured
   Streaming.
2. **Within-batch collapse** — one row per content hash, smallest id wins
   (deterministic under replay).
3. **Cross-batch dedup + append in ONE atomic commit** — the batch's hashes
   anti-join the table's CURRENT snapshot (hash-keyed, so only hashes move;
   never corpus text), and survivors ``merge_upsert`` into the
   ``TxnTable`` with the (app_id, batch_id) idempotency marker. A crash
   between table commit and checkpoint advance replays the batch; the
   marker makes the replay a no-op, so a document can never land twice.

The table is partitioned by the first hex nibble of the content hash —
16 uniformly-loaded partitions regardless of document skew (hash
partitioning is the classic fix for hot-key append). At 100 TB the
anti-join side is the hash column of the corpus table: a column-pruned
scan of a few bytes per document, the same shape
``incremental_dedup_new_batch`` promises.

Dedup here is EXACT (content hash). For near-dup intake, chain
``operators/dedup_index.query_minhash_index`` in front: drop batch rows
whose est_jaccard against the corpus index exceeds the threshold, then
ingest the remainder through this same exactly-once door.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom import (
    BLOOM_K,
    bloom_mark,
    bloom_state_or_backfill,
    merge_bloom_positions,
)
from ..storage import TxnTable
from .runner import parquet_stream, run_door

_HASH_COL = "content_hash"
_PART_COL = "hash_shard"


def _hashed(df: DataFrame, text_col: str) -> DataFrame:
    h = F.md5(F.col(text_col).cast("binary"))
    return df.withColumn(_HASH_COL, h).withColumn(
        _PART_COL, F.substring(_HASH_COL, 1, 1)
    )


def dedup_batch_against_table(
    spark: SparkSession,
    table: TxnTable,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    app_id: str,
    batch_id: int,
    bloom_table: TxnTable | None = None,
) -> None:
    """Apply one micro-batch: collapse to one row per content hash (min id
    wins), drop hashes the table already holds, append the rest atomically
    with the idempotency marker.

    With ``bloom_table`` (a TxnTable holding the corpus Bloom position set,
    see :func:`run_dedup_ingest`): the batch is first screened map-side
    against the broadcast filter, and only Bloom CANDIDATES pay the
    corpus anti-join — Bloom-rejected hashes are guaranteed-new (no false
    negatives) and skip the corpus consultation entirely. The position set
    saturates at k·16⁴ rows however large the corpus, so the broadcast is
    always tiny; the anti-join's batch side shrinks to true dups + the fp
    sliver."""
    hashed = _hashed(batch_df, text_col)
    # Within-batch first-write-wins: argmin by id via struct-min.
    ordered = [id_col] + [c for c in hashed.columns if c not in (id_col, _HASH_COL, _PART_COL)]
    collapsed = (
        hashed.groupBy(_HASH_COL, _PART_COL)
        .agg(F.min(F.struct(*ordered)).alias("_s"))
        .select(_HASH_COL, _PART_COL, *[F.col(f"_s.{c}").alias(c) for c in ordered])
    )
    position_src = collapsed.select(_HASH_COL)
    snap = table.snapshot()
    if snap.version >= 0 and snap.files:
        seen = table.read(spark).select(_HASH_COL)
        bloom_state, position_src = bloom_state_or_backfill(
            spark, bloom_table, position_src, seen
        )
        if bloom_state is not None:
            marked = bloom_mark(collapsed, _HASH_COL, bloom_state, "_hits")
            clean = marked.filter(F.col("_hits") < BLOOM_K).drop("_hits")
            cands = marked.filter(F.col("_hits") == BLOOM_K).drop("_hits")
            collapsed = clean.unionByName(
                cands.join(seen, _HASH_COL, "left_anti")
            )
        else:
            collapsed = collapsed.join(seen, _HASH_COL, "left_anti")
    # merge_upsert keyed on the hash: after the anti-join everything is an
    # insert, and the key guarantees uniqueness even against a concurrent
    # writer that slipped in between the snapshot and the commit (the txn
    # layer's conflict detection raises rather than double-inserting).
    table.merge_upsert(
        spark,
        collapsed,
        keys=[_HASH_COL],
        partition_col=_PART_COL,
        app_id=app_id,
        batch_id=batch_id,
    )
    merge_bloom_positions(spark, bloom_table, position_src, _HASH_COL, app_id, batch_id)


def run_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom_table_path: str | None = None,
) -> int:
    """Consume all not-yet-seen document files into the deduped corpus
    table. Returns the number of micro-batches applied this invocation.

    With ``bloom_table_path``, a Bloom position-set table (operators/
    bloom.py) is maintained transactionally beside the corpus and each
    batch is screened against it map-side before the corpus anti-join —
    the 100 TB intake shape: the filter broadcast is bounded at k·16⁴
    rows, Bloom-rejected documents never touch the corpus table at all,
    and the anti-join's batch side shrinks to true dups + the fp sliver."""
    table = TxnTable(table_path)
    bloom_table = TxnTable(bloom_table_path) if bloom_table_path else None
    app_id = f"dedup_ingest/{os.path.basename(table_path.rstrip('/'))}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        dedup_batch_against_table(
            spark, table, batch_df, id_col, text_col, app_id, batch_id,
            bloom_table=bloom_table,
        )

    checkpoint = os.path.join(checkpoint_root, "dedup_ingest")
    return run_door(parquet_stream(spark, source_dir), checkpoint, _apply)
