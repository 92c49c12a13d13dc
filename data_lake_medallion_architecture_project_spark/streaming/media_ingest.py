"""Streaming media-intake door — exactly-once image ingest with decode
quarantine and perceptual near-dup screening.

The multimodal member of the intake-door family (dedup/semdedup/quality/
excise/scrub doors): image payloads arrive as files, and the media
corpus must end up holding one copy of every perceptually distinct
image, with undecodable blobs quarantined for audit instead of killing
the stream or silently vanishing. Composition of trusted pieces:

1. **File-source checkpoint** (``Trigger.AvailableNow``) — exactly-once
   file accounting by Structured Streaming.
2. **Decode + dHash with quarantine split** — every payload runs the
   real ``decode_image`` dispatch executor-side (Arrow-batched); blobs
   that raise ValueError/NotImplementedError become quarantine rows
   carrying the error string (corrupt data is a FACT about the corpus,
   not an operational failure).
3. **Within-batch exact collapse** — one row per 64-bit dHash,
   smallest id wins (deterministic under replay).
4. **Near-dup screen against the corpus** — the batch probes a banded
   dHash index table (band, key, dhash — the same pigeonhole blocking
   ``image_near_dup_pairs`` uses, so only hash rows ever move) and rows
   within ``max_hamming`` bits of an already-ingested image are dropped.
5. **Within-batch NEAR-dup collapse** — the corpus survivors run the
   canonical banded pigeonhole join (``image_near_dup_pairs``), then
   ids are processed ascending and an id drops iff within radius of an
   already-KEPT id. Running this AFTER the corpus screen reproduces
   exactly what one-image-per-batch sequencing would commit — including
   chains: A~B~C with the ends beyond the radius keeps A AND C (a
   connected-component collapse would over-drop C).
6. **Atomic commits with idempotency markers** — corpus rows, index
   rows, and quarantine rows each ``merge_upsert`` into their TxnTable
   keyed so a crash-replayed batch is a no-op.

At 100 TB the door moves payload BYTES only inside the scan-side decode
stage; everything that crosses an exchange or lands in the index is
(id, 8-byte hash, band key) — the same discipline as the text doors.
Near-dup recall matches the batch operator: the pigeonhole guarantees a
candidate band match for any pair within the radius, and the exact
popcount verifies.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import TxnTable
from .runner import parquet_stream, run_door

MEDIA_HASH_SCHEMA = "doc_id long, dhash long, decode_error string"


def media_dhash_with_quarantine(payloads: DataFrame) -> DataFrame:
    """(doc_id, dhash, decode_error) per payload: dhash is NULL exactly
    when decode failed, and then decode_error carries the reason. The
    door's tolerant twin of ``image_dhash`` — a stream must quarantine
    bad blobs, not die on the first one."""
    from ..operators.multimodal import decode_image, dhash64

    def _hash(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids, hashes, errs = [], [], []
            for doc_id, payload in zip(
                batch.column("doc_id").to_pylist(), batch.column("payload")
            ):
                ids.append(doc_id)
                try:
                    px = decode_image(payload.as_py())
                    hashes.append(np.int64(np.uint64(dhash64(px))))
                    errs.append(None)
                except (ValueError, NotImplementedError) as exc:
                    hashes.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "dhash": pa.array(hashes, pa.int64()),
                    "decode_error": pa.array(errs, pa.string()),
                }
            )

    return payloads.mapInArrow(_hash, schema=MEDIA_HASH_SCHEMA)


def _banded(hashes: DataFrame, max_hamming: int) -> DataFrame:
    """(doc_id, dhash, band, key) — the pigeonhole split of
    ``image_near_dup_pairs`` (max_hamming+1 bands, floor 2): two hashes
    within the radius agree exactly on at least one band."""
    n_bands = max(max_hamming + 1, 2)
    width = 64 // n_bands
    return hashes.select(
        "doc_id",
        "dhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("dhash"), i * width)
                    .bitwiseAND((1 << width) - 1)
                    .alias("key"),
                )
                for i in range(n_bands)
            ])
        ).alias("b"),
    ).select("doc_id", "dhash", "b.band", "b.key")


def media_batch_against_table(
    spark: SparkSession,
    table: TxnTable,
    index_table: TxnTable,
    quarantine_table: TxnTable,
    batch_df: DataFrame,
    app_id: str,
    batch_id: int,
    max_hamming: int = 3,
) -> None:
    """Apply one micro-batch: quarantine undecodables, collapse the batch
    to one row per dHash (min id wins), drop rows within ``max_hamming``
    bits of the corpus via the banded index probe, collapse same-batch
    near-dups with sequential-arrival semantics (banded pair join, then
    ids ascending: drop iff near an already-kept id), then commit corpus
    rows, index rows, and quarantine rows atomically under the
    (app_id, batch_id) idempotency marker."""
    hashed = media_dhash_with_quarantine(batch_df).localCheckpoint()

    bad = hashed.filter(F.col("dhash").isNull()).select(
        "doc_id", "decode_error"
    )
    quarantine_table.merge_upsert(
        spark,
        bad.withColumn("qshard", F.pmod(F.col("doc_id"), F.lit(4)).cast("int")),
        keys=["doc_id"],
        partition_col="qshard",
        app_id=app_id,
        batch_id=batch_id,
    )

    good = hashed.filter(F.col("dhash").isNotNull()).select("doc_id", "dhash")
    # Within-batch EXACT collapse: one row per dHash, min id wins
    # (catches bit-identical re-encodes across formats).
    collapsed = (
        good.groupBy("dhash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "dhash")
    )

    snap = index_table.snapshot()
    if snap.version >= 0 and snap.files:
        idx = index_table.read(spark).select("band", "key", "dhash")
        probes = _banded(collapsed, max_hamming).alias("p")
        near = (
            probes.join(
                idx.alias("i"),
                (F.col("p.band") == F.col("i.band"))
                & (F.col("p.key") == F.col("i.key")),
            )
            .filter(
                F.bit_count(
                    F.col("p.dhash").bitwiseXOR(F.col("i.dhash"))
                )
                <= max_hamming
            )
            .select(F.col("p.doc_id").alias("doc_id"))
            .distinct()
        )
        collapsed = collapsed.join(near, "doc_id", "left_anti")

    # Within-batch NEAR-dup collapse (the corpus probe above only sees
    # PRIOR batches): run the canonical banded pigeonhole join
    # (operators/multimodal.py:image_near_dup_pairs — one blocking
    # implementation, not a re-derivation) over the corpus survivors,
    # then apply SEQUENTIAL-ARRIVAL semantics exactly: ids ascending, an
    # id drops iff it is within radius of an already-KEPT id. (NOT
    # connected components — in a chain A~B~C whose ends exceed the
    # radius, sequencing keeps A and C; a component collapse would
    # over-drop C.) The pair list is the batch's near-dup EDGES —
    # micro-batch-sized by construction, so the greedy walk is driver
    # traffic of the same class as the door's commit markers; nothing
    # payload-sized ever leaves the executors.
    from ..operators.multimodal import image_near_dup_pairs

    batch_pairs = (
        image_near_dup_pairs(collapsed, max_hamming)
        .select("a_id", "b_id")
        .localCheckpoint()
    )
    if not batch_pairs.isEmpty():
        nbrs: dict[int, set[int]] = {}
        for r in batch_pairs.collect():
            nbrs.setdefault(r["a_id"], set()).add(r["b_id"])
            nbrs.setdefault(r["b_id"], set()).add(r["a_id"])
        kept: set[int] = set()
        dropped = []
        for node in sorted(nbrs):
            if nbrs[node] & kept:
                dropped.append(node)
            else:
                kept.add(node)
        if dropped:
            losers = spark.createDataFrame(
                [(d,) for d in dropped], "doc_id long"
            )
            collapsed = collapsed.join(losers, "doc_id", "left_anti")

    survivors = collapsed.withColumn(
        "hash_shard",
        F.pmod(F.col("dhash"), F.lit(16)).cast("int"),
    ).localCheckpoint()  # one decode pass; reused by both commits below
    table.merge_upsert(
        spark,
        survivors,
        keys=["dhash"],
        partition_col="hash_shard",
        app_id=app_id,
        batch_id=batch_id,
    )
    index_rows = _banded(survivors, max_hamming).select(
        "band", "key", "dhash"
    )
    index_table.merge_upsert(
        spark,
        index_rows,
        keys=["band", "key", "dhash"],
        partition_col="band",
        app_id=app_id,
        batch_id=batch_id,
    )


def run_media_ingest(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    index_path: str,
    quarantine_path: str,
    checkpoint_root: str,
    max_hamming: int = 3,
) -> int:
    """Consume all not-yet-seen image-payload files (parquet of doc_id,
    payload) into the perceptually-deduped media table. Returns the
    number of micro-batches applied this invocation."""
    table = TxnTable(table_path)
    index_table = TxnTable(index_path)
    quarantine_table = TxnTable(quarantine_path)
    app_id = f"media_ingest/{os.path.basename(table_path.rstrip('/'))}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        media_batch_against_table(
            spark, table, index_table, quarantine_table, batch_df,
            app_id, batch_id, max_hamming=max_hamming,
        )

    checkpoint = os.path.join(checkpoint_root, "media_ingest")
    return run_door(parquet_stream(spark, source_dir), checkpoint, _apply)
