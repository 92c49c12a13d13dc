"""Replayable Bloom-filter semi-join reduction.

The 100 TB join-reduction workhorse: before shuffling a fact table into a
join, probe each row against a Bloom filter built from the other side's
keyset and drop the guaranteed non-matches — the shuffle then carries only
candidates (true matches + a tunable false-positive sliver). Spark's own
runtime filters (`spark.sql.optimizer.runtime.bloomFilter.enabled`) inject
this automatically with an opaque native filter; this operator is the
EXPLICIT, engine-replayable form: the "bits" are md5 prefixes, so a second
engine (the DuckDB oracle) can rebuild the identical filter and certify
candidate selection bit-for-bit — same md5-family discipline as the
MinHash/SimHash/HLL oracles.

Representation: k independent hash rows (partitioned Bloom). Position of
``key`` in row ``j`` = the first ``hex_digits`` hex digits of
md5(j + "|" + key) — a string key into a 16^hex_digits-slot space, no
int conversion needed in either engine. The filter is the DISTINCT
(j, pos) set of the build side: ≤ k·|keys| rows, broadcast into the probe.
A probe key passes iff all k of its positions are present. False-positive
rate ≈ fill^k where fill = 1 − e^(−|keys|/16^hex_digits).

Sizing: ``hex_digits`` defaults to ``BLOOM_HEX`` (4 → 65 536 slots/row,
filter ≤ 196 608 rows — right for keysets up to the low millions). The
position set SATURATES at k·16^hex_digits rows, which bounds broadcast
size but drives fill → 1 (the filter stays correct — no false negatives —
but stops rejecting). For billion-key build sides pick hex_digits so
16^hex_digits ≳ |keys| (6 → 16.8 M slots/row, positions still 6-char
strings). Probe and build must use the SAME width; the filter's own
``pos`` length records it.

At scale: the filter table is keyset-bounded and broadcastable far beyond
`autoBroadcastJoinThreshold` limits on the raw dim (positions are short
strings, not rows); the probe is k broadcast-hash lookups per fact row,
map-side, before any exchange.

The ingest doors keep the filter as a transactional position-set table
beside their key state (:func:`bloom_state_or_backfill`,
:func:`merge_bloom_positions`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import TxnTable

BLOOM_K = 3     # hash rows
BLOOM_HEX = 4   # default hex digits per position → 65 536 slots per row

__all__ = [
    "BLOOM_K", "BLOOM_HEX", "bloom_build", "bloom_probe", "bloom_mark",
    "bloom_state_or_backfill", "merge_bloom_positions",
]


def _pos(
    j_col: str | Column, key_col: str | Column, hex_digits: int = BLOOM_HEX
) -> Column:
    j = (F.col(j_col) if isinstance(j_col, str) else j_col).cast("string")
    k = (F.col(key_col) if isinstance(key_col, str) else key_col).cast("string")
    return F.substring(F.md5(F.concat(j, F.lit("|"), k)), 1, hex_digits)


def bloom_build(
    keys: DataFrame, key_col: str, hex_digits: int = BLOOM_HEX
) -> DataFrame:
    """The filter: distinct (j, pos) over the build-side keyset —
    ≤ BLOOM_K·|keys| rows of ``hex_digits``-char strings, meant to be
    broadcast. Size ``hex_digits`` to the keyset (module docstring)."""
    rows = keys.select(
        F.col(key_col),
        F.explode(F.array(*[F.lit(j) for j in range(BLOOM_K)])).alias("j"),
    )
    return rows.select(
        "j", _pos("j", key_col, hex_digits).alias("pos")
    ).distinct()


def _folded_keys(bloom: DataFrame) -> DataFrame:
    """(j, pos) → single prefix-free string key concat(j, pos); the form
    every probe join targets so the build subtree is shared across the K
    joins (see :func:`bloom_probe`)."""
    return bloom.select(
        F.concat(F.col("j").cast("string"), F.col("pos")).alias("__bkey")
    )


def bloom_probe(
    df: DataFrame, key_col: str, bloom: DataFrame, hex_digits: int = BLOOM_HEX
) -> DataFrame:
    """Filter ``df`` to rows whose key passes the Bloom filter (all K
    positions present) — K chained BROADCAST left-semi joins, one per hash
    row, all map-side in a single stage: no exchange, no row collapse,
    duplicates preserved. Keeps every true match (no false negatives),
    drops most non-matches before any downstream shuffle. ``hex_digits``
    must match the build side's.

    All K joins probe the SAME single-column relation concat(j, pos) — j is
    folded into the key instead of joined as a per-row filter, because a
    ``bloom.j == <literal>`` conjunct gets pushed DOWN into each build
    subtree, making the three plans distinct and forcing the scan → explode
    → distinct pipeline to execute K times. With the folded key the build
    subtree canonicalizes identically and its shuffle stage runs ONCE
    (observed under AQE: 3 distinct-shuffles → 1; the per-join broadcasts
    then just re-hash the shared stage output). Fixed-width pos means
    concat is prefix-free, so membership — and the false-positive set — is
    bit-identical to the (j, pos) pair form the oracles replay."""
    bkeys = _folded_keys(bloom)
    out = df
    for j in range(BLOOM_K):
        out = out.withColumn(
            "__pos",
            F.concat(F.lit(str(j)), _pos(F.lit(j), key_col, hex_digits)),
        )
        out = out.join(
            F.broadcast(bkeys), bkeys["__bkey"] == out["__pos"], "left_semi"
        ).drop("__pos")
    return out


def bloom_mark(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    out_col: str = "bloom_hits",
    hex_digits: int = BLOOM_HEX,
) -> DataFrame:
    """Diagnostic twin of :func:`bloom_probe`: keep EVERY row of ``df`` and
    append ``out_col`` = how many of the K positions were present
    (``out_col == BLOOM_K`` ⇔ the row would survive the probe). K broadcast
    LEFT joins against the distinct position sets — each position matches at
    most one filter row, so no duplication — still map-side, still one
    stage. Use when the selectivity funnel itself is the output (audit /
    fp-rate monitoring) so total and candidates come from one aggregate
    over one scan instead of a separate count action.

    Same folded concat(j, pos) key as :func:`bloom_probe` (and for the same
    reason: a per-join j filter would re-execute the build pipeline K
    times)."""
    bkeys = _folded_keys(bloom)
    out = df
    hits = F.lit(0)
    for j in range(BLOOM_K):
        out = out.withColumn(
            "__pos",
            F.concat(F.lit(str(j)), _pos(F.lit(j), key_col, hex_digits)),
        )
        out = out.join(
            F.broadcast(bkeys), bkeys["__bkey"] == out["__pos"], "left"
        )
        out = out.withColumn(
            f"__hit{j}", F.when(F.col("__bkey").isNotNull(), 1).otherwise(0)
        ).drop("__bkey", "__pos")
        hits = hits + F.col(f"__hit{j}")
    return out.withColumn(out_col, hits).drop(
        *[f"__hit{j}" for j in range(BLOOM_K)]
    )


def bloom_state_or_backfill(
    spark: SparkSession,
    bloom_table: TxnTable | None,
    position_src: DataFrame,
    existing_keys: DataFrame,
) -> tuple[DataFrame | None, DataFrame]:
    """``(state, position_src)`` for one batch screened against non-empty
    key state: ``state`` is the committed (j, pos) set, or None when the
    door keeps no filter or the filter is still empty.

    An empty filter beside existing keys means it was enabled after those
    keys landed; screening would pass their dups as "guaranteed new", so
    the caller takes the unscreened path and ``position_src`` gains
    ``existing_keys`` — this batch backfills the filter (one key-column
    scan, paid once). Replay-deterministic: a replayed batch sees
    keys_before ∪ batch, whose position set equals the original one."""
    if bloom_table is None:
        return None, position_src
    snap = bloom_table.snapshot()
    if snap.version >= 0 and snap.files:
        return bloom_table.read(spark).select("j", "pos"), position_src
    return None, position_src.unionByName(existing_keys)


def merge_bloom_positions(
    spark: SparkSession,
    bloom_table: TxnTable | None,
    position_src: DataFrame,
    key_col: str,
    app_id: str,
    batch_id: int,
) -> None:
    """Fold the batch's own keys (plus any backfill) into the filter table;
    a no-op when the door keeps no filter.

    The position set is a pure function of the ingested stream: a dup's
    positions are already present (the (j, pos) merge key makes the add
    idempotent) and a replayed batch regenerates identical positions. The
    batch's (app_id, batch_id) marker on the filter's own log makes it
    exactly-once: a crash after the door's state commit replays the batch,
    no-ops that commit and completes this one, so the filter is complete
    before the next batch screens against it — which keeps the screen's
    "guaranteed new" claim true."""
    if bloom_table is None:
        return
    bloom_table.merge_upsert(
        spark,
        bloom_build(position_src, key_col),
        keys=["j", "pos"],
        partition_col="j",
        app_id=app_id,
        batch_id=batch_id,
    )
