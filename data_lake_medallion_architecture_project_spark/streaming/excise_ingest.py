"""Streaming substring-excision ingest — exactly-once, first-arrival-wins
span dedup (the incremental form of ``operators/dedup.py:
excise_shared_ngrams``).

Documents arrive as files; the corpus must end up holding every n-token
gram AT MOST once across everything ever ingested — later arrivals have
the repeated span CUT OUT of their text before they land, exactly like the
batch operator, but maintained incrementally so history is never
re-excised. The maintained state is the set of gram HASHES seen so far
(gram-grain, 32-char md5 — hash-only, text never enters state), and the
rule is the batch operator's with ingest order as the outer total order:

* an occurrence is excised iff its gram was seen in a PREVIOUS batch
  (state hit), or an earlier (doc, pos) of the SAME batch holds the
  canonical slot — so single-batch ingest is BIT-IDENTICAL to the batch
  operator (asserted in tests/test_streaming_excise.py);
* the batch's gram hashes then merge into state keyed on the hash —
  idempotent, so a crash-replayed batch regenerates identical state.

Exactly-once: both the rewritten-documents append and the gram-state merge
carry the (app_id, batch_id) idempotency marker; the file-source
checkpoint (``Trigger.AvailableNow``) accounts consumption. Both tables
partition on a leading hash nibble (uniform load whatever the id/gram
skew).

Single-pass caveat (same as the batch operator and Lee et al.): rebuilding
text creates seam-adjacent grams that are not themselves deduped — the
contract is over the ORIGINAL token streams.

100-TB shape: state rows are 32-char hashes at vocabulary-growth rate; a
batch consults it with one semi-join on the gram hash (AQE-splittable).
With ``bloom_table_path``, a Bloom position-set table (operators/bloom.py,
the ``dedup_ingest`` screen applied at GRAM grain) is maintained
transactionally beside the gram state: each batch's canonical occurrences
are screened map-side against the broadcast filter, Bloom MISSES are
guaranteed-new (zero false negatives by construction) and skip the state
semi-join entirely, and only the hit sliver pays the exact join — the
filter saturates at k·16⁴ positions however large the gram state grows.
The rewrite itself is the batch's own token grain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..operators.bloom import (
    BLOOM_K,
    bloom_mark,
    bloom_state_or_backfill,
    merge_bloom_positions,
)
from ..storage import TxnTable
from .runner import parquet_stream, run_door

_GRAM_SHARD = "gram_shard"
_DOC_SHARD = "id_shard"


def _occurrences(batch_df: DataFrame, id_col: str, text_col: str, n: int):
    """(base, occ): per-doc token arrays and the (id, pos, gram-hash)
    occurrence rows — the batch operator's construction."""
    toks = tokenize(text_col)
    base = batch_df.select(
        F.col(id_col).alias("_id"),
        toks.alias("toks"),
        # NULL-text guard mirrors the batch operator (ADVICE r12): NULL n
        # in both ANSI modes, never the legacy -1 of size(NULL).
        F.when(toks.isNull(), F.lit(None)).otherwise(F.size(toks)).alias("n"),
    )
    occ = (
        base.filter(F.col("n") >= n)
        .select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - (n - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.concat_ws(" ", F.slice("toks", i, n))).alias("gh"),
                    ),
                )
            ).alias("o"),
        )
        .select("_id", F.col("o.pos").alias("pos"), F.col("o.gh").alias("gh"))
    )
    return base, occ


def excise_batch_against_table(
    spark: SparkSession,
    corpus_table: TxnTable,
    gram_table: TxnTable,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    app_id: str,
    batch_id: int,
    bloom_table: TxnTable | None = None,
) -> None:
    """Apply one micro-batch: excise spans already seen (state or earlier
    in-batch), append the rewritten documents and the batch's gram hashes
    atomically under the idempotency marker.

    With ``bloom_table``: canonical occurrences are screened map-side
    against the broadcast gram-position filter; Bloom misses are
    guaranteed-new and never consult the gram state — only candidates pay
    the exact semi-join (no false negatives, so the excision decision is
    IDENTICAL to the unscreened path — consistency-tested)."""
    base, occ = _occurrences(batch_df, id_col, text_col, n)
    canon = (
        occ.groupBy("gh")
        .agg(F.min(F.struct("_id", "pos")).alias("c"))
        .select("gh", "c")
    )
    with_canon = occ.join(canon, "gh")
    marked_within = with_canon.filter(
        (F.col("_id") != F.col("c._id")) | (F.col("pos") != F.col("c.pos"))
    ).select("_id", "pos")
    canon_occ = with_canon.filter(
        (F.col("_id") == F.col("c._id")) & (F.col("pos") == F.col("c.pos"))
    ).select("_id", "pos", "gh")
    position_src = occ.select("gh").distinct()
    snap = gram_table.snapshot()
    if snap.version >= 0 and snap.files:
        seen = gram_table.read(spark).select("gh")
        probe = canon_occ
        bloom_state, position_src = bloom_state_or_backfill(
            spark, bloom_table, position_src, seen
        )
        if bloom_state is not None:
            marked_b = bloom_mark(canon_occ, "gh", bloom_state, "_hits")
            # hits < K ⇒ guaranteed-new gram ⇒ cannot be in state.
            probe = marked_b.filter(F.col("_hits") == BLOOM_K).drop("_hits")
        marked_state = probe.join(seen, "gh", "left_semi").select("_id", "pos")
        marked = marked_within.unionByName(marked_state)
    else:
        marked = marked_within
    # Cut-position-set reconstruction (round 12, mirrors the batch
    # operator): collect each doc's excised positions into one int array,
    # rebuild the text map-side — post-scan exchanges carry integer
    # positions only, never token text.
    cut = (
        marked.select(
            "_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias(
                "cpos"
            ),
        )
        .groupBy("_id")
        .agg(F.array_sort(F.array_distinct(F.collect_list("cpos"))).alias("cut"))
    )
    kept_pos = F.array_except(
        F.sequence(F.lit(1), F.col("n")),
        F.coalesce(F.col("cut"), F.array().cast("array<int>")),
    )
    rewritten = base.join(cut, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.col("n").cast("long").alias("n_tokens"),
        (F.col("n") - F.size(kept_pos)).cast("long").alias("n_removed"),
        # coalesce mirrors the batch operator (ADVICE r12): NULL text must
        # store '' in the corpus table, not NULL — byte parity with the
        # certified batch rewrite and its oracle.
        F.coalesce(
            F.array_join(
                F.transform(kept_pos, lambda p: F.element_at("toks", p)), " "
            ),
            F.lit(""),
        ).alias(text_col),
    )
    # Rejoin the batch's OTHER columns (source, stats, ...) so the corpus
    # table keeps the input schema plus the rewrite accounting — the
    # dedup_ingest discipline (an intake door must not shed columns).
    # Two ADVICE-r11 refinements: (1) a batch that already carries the
    # accounting names (n_tokens/n_removed — plausible for document tables
    # with stored stats) would make the join emit duplicate columns; the
    # door's accounting wins, because excision is exactly what invalidates
    # a stored token stat. (2) length-derived stat columns are refreshed
    # from the REWRITTEN text (mirroring trainprep's post-excision
    # refresh) so they never disagree with the text the table stores.
    carried = batch_df.drop(text_col, "n_tokens", "n_removed")
    cleaned = carried.join(rewritten, id_col)
    if "n_chars" in batch_df.columns:
        cleaned = cleaned.withColumn(
            "n_chars", F.length(F.col(text_col)).cast("long")
        )
    cleaned = cleaned.withColumn(
        _DOC_SHARD, F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    )
    corpus_table.merge_upsert(
        spark,
        cleaned,
        keys=[id_col],
        partition_col=_DOC_SHARD,
        app_id=app_id,
        batch_id=batch_id,
    )
    # State gains ALL of the batch's gram hashes: canonical grams are the
    # new entries; already-seen ones re-merge idempotently on the key.
    gram_table.merge_upsert(
        spark,
        occ.select("gh").distinct().withColumn(
            _GRAM_SHARD, F.substring("gh", 1, 1)
        ),
        keys=["gh"],
        partition_col=_GRAM_SHARD,
        app_id=app_id,
        batch_id=batch_id,
    )
    merge_bloom_positions(spark, bloom_table, position_src, "gh", app_id, batch_id)


def run_excise_ingest(
    spark: SparkSession,
    source_dir: str,
    corpus_table_path: str,
    gram_table_path: str,
    checkpoint_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bloom_table_path: str | None = None,
) -> int:
    """Consume all not-yet-seen document files through the excision door.
    Returns the number of micro-batches applied this invocation. With
    ``bloom_table_path``, a gram-grain Bloom position-set table screens
    each batch map-side before the gram-state semi-join (the 100 TB
    shape — see the module docstring)."""
    corpus_table = TxnTable(corpus_table_path)
    gram_table = TxnTable(gram_table_path)
    bloom_table = TxnTable(bloom_table_path) if bloom_table_path else None
    app_id = f"excise_ingest/{os.path.basename(corpus_table_path.rstrip('/'))}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        excise_batch_against_table(
            spark, corpus_table, gram_table, batch_df,
            id_col, text_col, n, app_id, batch_id,
            bloom_table=bloom_table,
        )

    checkpoint = os.path.join(checkpoint_root, "excise_ingest")
    return run_door(parquet_stream(spark, source_dir), checkpoint, _apply)
