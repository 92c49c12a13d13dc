"""Streaming WARC-intake door — crawl archives to deduped documents,
exactly-once, with blob-level quarantine.

The batch WARC source (sources/warc.py) gave the engine crawl-archive
READ support; this door makes crawl ingestion end-to-end streaming: WARC
blobs arrive as files and the document corpus must end up holding
exactly one copy of every distinct body text, with corrupt archives
quarantined for audit instead of killing the stream. Composition of
pieces this repo already trusts:

1. **File-source checkpoint** (``Trigger.AvailableNow``) — exactly-once
   file accounting by Structured Streaming.
2. **Tolerant parse with quarantine split** — every blob runs the real
   ``parse_warc`` walker executor-side (multi-member gzip split, header
   grammar, strict Content-Length accounting); blobs that raise
   ValueError become quarantine rows carrying the error string. The
   split is ALL-OR-NOTHING per blob: a corrupt member invalidates the
   archive's framing, so records before it are not trusted either —
   corrupt data is a fact about the corpus, recorded, never averaged in.
3. **Dedup-door handoff** — parsed records flow through the SAME
   ``dedup_batch_against_table`` the text door uses (within-batch
   content-hash collapse with min record id, corpus anti-join on the
   hash column, ``merge_upsert`` under the (app_id, batch_id)
   idempotency marker), so a crash-replayed batch is a no-op on both
   the corpus and the quarantine table.

At 100 TB the source points at ``spark.read.format("binaryFile")`` over
the crawl; blob bytes stay inside the scan-side parse stage (the same
discipline as every door: what crosses an exchange is hashes and
record-sized rows, never archives).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.warc import parse_warc
from ..storage import TxnTable
from .dedup_ingest import dedup_batch_against_table
from .runner import parquet_stream, run_door

WARC_PARSED_SCHEMA = (
    "blob_id long, record_id string, warc_type string, uri string, "
    "content_length long, text string, parse_error string"
)


def warc_records_with_quarantine(
    blobs: DataFrame, id_col: str = "blob_id", blob_col: str = "blob"
) -> DataFrame:
    """Parse (blob_id, blob) rows into WARC records, tolerantly: good
    blobs yield one row per record (parse_error NULL); a blob whose
    framing raises ValueError — or that parses to ZERO records (empty /
    whitespace-only payloads, which ``parse_warc`` accepts) — yields
    exactly ONE quarantine row (parse_error set, record fields NULL), so
    every input blob_id is accounted for in exactly one output
    disposition. Body decode is the tolerant production default (U+FFFD
    for miscoded bytes) — framing errors quarantine, encoding warts
    survive."""

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict = {
                k: []
                for k in (
                    "blob_id", "record_id", "warc_type", "uri",
                    "content_length", "text", "parse_error",
                )
            }

            def push(blob_id, rec=None, err=None):
                out["blob_id"].append(blob_id)
                out["record_id"].append(
                    rec["record_id"] if rec else None
                )
                out["warc_type"].append(rec["type"] if rec else None)
                out["uri"].append(rec["uri"] if rec else None)
                out["content_length"].append(
                    rec["content_length"] if rec else None
                )
                out["text"].append(
                    rec["body"].decode("utf-8", "replace") if rec else None
                )
                out["parse_error"].append(err)

            for blob_id, blob in zip(pdf[id_col], pdf[blob_col]):
                try:
                    records = parse_warc(bytes(blob))
                except ValueError as exc:
                    push(blob_id, err=f"ValueError: {exc}")
                    continue
                if not records:
                    # Zero-record blobs must not vanish from the
                    # accounting: every blob_id lands in the corpus OR
                    # the quarantine table, never neither.
                    push(
                        blob_id,
                        err="ValueError: WARC blob parsed to zero records",
                    )
                    continue
                for rec in records:
                    push(blob_id, rec=rec)
            yield pd.DataFrame(out)

    return blobs.select(id_col, blob_col).mapInPandas(
        _parse, schema=WARC_PARSED_SCHEMA
    )


def warc_batch_against_table(
    spark: SparkSession,
    table: TxnTable,
    quarantine_table: TxnTable,
    batch_df: DataFrame,
    app_id: str,
    batch_id: int,
) -> None:
    """Apply one micro-batch of WARC blobs: quarantine unparseable blobs,
    then hand the parsed records to the exact-dedup door (content-hash
    collapse, corpus anti-join, atomic keyed merge) — both commits under
    the same (app_id, batch_id) idempotency marker, so a crash replay is
    a no-op on both tables."""
    parsed = warc_records_with_quarantine(batch_df).localCheckpoint()

    bad = parsed.filter(F.col("parse_error").isNotNull()).select(
        "blob_id", "parse_error"
    )
    quarantine_table.merge_upsert(
        spark,
        bad.withColumn(
            "qshard", F.pmod(F.col("blob_id"), F.lit(4)).cast("int")
        ),
        keys=["blob_id"],
        partition_col="qshard",
        app_id=app_id,
        batch_id=batch_id,
    )

    records = parsed.filter(F.col("parse_error").isNull()).drop("parse_error")
    dedup_batch_against_table(
        spark, table, records, "record_id", "text", app_id, batch_id
    )


def run_warc_ingest(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    quarantine_path: str,
    checkpoint_root: str,
) -> int:
    """Consume all not-yet-seen WARC-blob files (parquet of blob_id,
    blob) into the deduped document corpus. Returns the number of
    micro-batches applied this invocation."""
    table = TxnTable(table_path)
    quarantine_table = TxnTable(quarantine_path)
    app_id = f"warc_ingest/{os.path.basename(table_path.rstrip('/'))}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        warc_batch_against_table(
            spark, table, quarantine_table, batch_df, app_id, batch_id
        )

    checkpoint = os.path.join(checkpoint_root, "warc_ingest")
    return run_door(parquet_stream(spark, source_dir), checkpoint, _apply)
