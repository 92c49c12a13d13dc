"""Streaming PII-scrub ingest — exactly-once redacting intake.

The streaming realization of ``pii_scan_stats``' redaction tier
(plans/curation.py:50-71): documents arrive as files and EVERY one lands
in the corpus table with its PII masked — emails → ``<EMAIL>``, IPv4
addresses → ``<IP>``, phone numbers → ``<PHONE>`` — plus per-class match
counts as the audit trail ("what did the scrubber touch, and how much?").
No routing decision to get wrong: scrub-and-admit is total, so the
routed-never-dropped contract of the door family holds trivially.
Composition of the same trusted pieces as ``quality_ingest.py``:

1. **File-source checkpoint** (``Trigger.AvailableNow``) — which source
   files have been consumed is exactly-once accounted by Structured
   Streaming.
2. **Map-side scrubbing** — the three masks are the batch query's regexes
   applied with a case-insensitivity flag (the batch query certifies the
   patterns against DuckDB on lowercased text; the door preserves the
   document's case and matches case-blind). Each class is counted on the
   text AS IT EXISTS when that mask is applied (email count on the raw
   text, IP count after the email mask, phone count after both), so the
   audit counts are exactly the replacements performed — a phone-shaped
   local part swallowed by the email mask is counted once, as an email
   (ADVICE r12; ``pii_scan_stats``' counts are independent pre-rewrite
   match counts, which can overstate on such overlaps — identical on
   non-overlapping text). All JVM regex — no shuffle, no Python.
3. **One atomic append with an idempotency marker** — rows
   ``merge_upsert`` into the corpus table keyed on the doc id with the
   (app_id, batch_id) marker: a crash between commit and checkpoint
   advance replays the batch and the marker no-ops the replay.

Column discipline (the ADVICE-r11 rules the other doors follow): the
batch's non-text columns ride through untouched, accounting columns use
door-owned names that win over stale stored ones, and a stored
``n_chars`` is refreshed from the REDACTED text so it never disagrees
with what the table stores.

At 100 TB the scrub is scan-side regex; the only data movement is each
batch appending its own rows, hash-sharded on the first hex nibble of
md5(id) — 16 uniformly loaded partitions whatever the id distribution.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.curation import _EMAIL_RE, _IPV4_RE, _PHONE_RE
from ..storage import TxnTable
from .runner import parquet_stream, run_door

_PART_COL = "id_shard"

# The certified patterns (written for lowercased text) made case-blind for
# the case-preserving door. (?i) is a pure Java-regex prefix — the door is
# pytest-gated, not oracle-gated, so RE2 compatibility is not required here.
_MASKS = (
    ("(?i)" + _EMAIL_RE, "<EMAIL>", "n_emails_redacted"),
    (_IPV4_RE, "<IP>", "n_ipv4_redacted"),
    (_PHONE_RE, "<PHONE>", "n_phones_redacted"),
)


def scrubbed_batch(
    batch_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Batch rows with PII masked in ``text_col``, per-class redaction
    counts (door-owned names replace any same-named stored columns), a
    refreshed ``n_chars`` when the batch carries one, and the partition
    shard. NULL text stays NULL with zero counts — a row is never dropped
    for being unscoreable. Counts are REPLACEMENT counts: each class is
    matched against the text after the earlier masks have applied, so a
    match consumed by an earlier mask is never double-counted."""
    # NULL text → zero counts (size() of a NULL array is -1 or NULL
    # depending on the session's legacy flag — never trust it on NULLs).
    # `cur` walks the mask pipeline; each count snapshot sees the text as
    # that mask sees it. Codegen CSE dedupes the repeated replace chains.
    counts = {}
    cur = F.col(text_col)
    for pat, mask, name in _MASKS:
        counts[name] = (
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.size(F.regexp_extract_all(cur, F.lit(pat), 0)))
            .cast("long")
        )
        cur = F.regexp_replace(cur, pat, mask)
    redacted = cur
    out = (
        batch_df.drop(*[name for _, _, name in _MASKS])
        .withColumns(counts)
        .withColumn(text_col, redacted)
    )
    if "n_chars" in batch_df.columns:
        out = out.withColumn(
            "n_chars", F.length(F.col(text_col)).cast("long")
        )
    return out.withColumn(
        _PART_COL, F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    )


def scrub_batch_against_table(
    spark: SparkSession,
    corpus_table: TxnTable,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    app_id: str,
    batch_id: int,
) -> None:
    """Apply one micro-batch: scrub, append atomically under the
    idempotency marker."""
    corpus_table.merge_upsert(
        spark,
        scrubbed_batch(batch_df, id_col, text_col),
        keys=[id_col],
        partition_col=_PART_COL,
        app_id=app_id,
        batch_id=batch_id,
    )


def run_scrub_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_table_path: str,
    checkpoint_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Consume all not-yet-seen document files through the scrub door.
    Returns the number of micro-batches applied this invocation."""
    corpus_table = TxnTable(corpus_table_path)
    app_id = f"scrub_ingest/{os.path.basename(corpus_table_path.rstrip('/'))}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        scrub_batch_against_table(
            spark, corpus_table, batch_df, id_col, text_col, app_id, batch_id
        )

    checkpoint = os.path.join(checkpoint_root, "scrub_ingest")
    return run_door(parquet_stream(spark, source_dir), checkpoint, _apply)
