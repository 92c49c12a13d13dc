"""Sketch-state incremental Gold — distinct counts and quantiles maintained
as mergeable sketch STATE instead of recomputed aggregates.

``streaming/refresh.py`` fixes the reference's O(history) Gold recompute
(/root/reference/pipeline/silver_to_gold.py:219-235) at the SCAN level:
only affected day partitions are re-aggregated. Two aggregate classes stay
wasteful even then:

* distinct counts (weekly unique users): distinct is not distributive, so a
  new day's rows force re-reading the rest of the week (or, worse, the rest
  of the month for monthly rollups);
* quantiles: exact percentiles re-buffer every group value.

This module fixes them at the AGGREGATE level with the monoid sketches of
``functions/sketches.py`` (the family the hash-green ``hll_weekly_users_md5``
/ ``order_price_ddsketch`` registry queries certify cross-engine):

* Gold state = a day-grain register/bucket table — KBs per day whatever the
  event volume;
* new data FOLDS in: register-MAX for HLL, bucket-SUM for DDSketch — work
  per refresh is O(new rows + touched state rows), and event history is
  never rescanned, not even the affected day's own earlier files;
* the serving rollups (weekly distinct estimate, per-group quantiles)
  derive from state alone.

Exactly-once: each fold commits through ``TxnTable.merge_upsert`` carrying
the streaming ``(app_id, batch_id)`` transaction marker, so a replayed
micro-batch no-ops at the table layer — the same discipline as
``streaming/refresh.py``, which matters doubly here because the DDSketch
fold ADDS counts (a replayed add would double-count; the marker makes the
add exactly-once, not merely convergent).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sketches import (
    cms_bucket,
    cms_cells,
    dd_bucket_counts,
    dd_quantiles,
    hll_estimate,
    hll_registers,
    kmv_hash,
    kmv_state,
    kmv_theta,
)
from ..storage import TxnTable
from .runner import parquet_stream, run_door

__all__ = [
    "fold_hll_state",
    "fold_dd_state",
    "fold_kmv_state",
    "fold_cms_state",
    "weekly_users_from_state",
    "quantiles_from_state",
    "distinct_est_from_kmv_state",
    "cms_estimates_from_state",
    "run_sketch_gold_refresh",
]


def _day(col: str) -> F.Column:
    # Day keys as yyyy-MM-dd strings: stable partition-directory values and
    # identical cross-engine hash rendering (the repo-wide date discipline).
    return F.date_format(F.to_date(col), "yyyy-MM-dd").alias("day")


def fold_hll_state(
    spark: SparkSession,
    state: TxnTable,
    batch: DataFrame,
    day_col: str,
    id_col: str,
    app_id: str,
    batch_id: int,
) -> int:
    """Fold one batch's ids into the day-grain HLL register state by
    element-wise MAX. Returns the number of day partitions touched — 0 on a
    replayed batch (derived from merge_upsert's own txn-marker no-op, so the
    report can never claim work a replay skipped)."""
    regs = hll_registers(batch.select(_day(day_col), id_col), ["day"], id_col)
    snap = state.snapshot()
    if snap.version >= 0:
        prev = state.read(spark).select(
            "day", "bucket", F.col("r").alias("_r_prev")
        )
        regs = regs.join(prev, ["day", "bucket"], "left").select(
            "day",
            "bucket",
            F.greatest(F.col("r"), F.coalesce(F.col("_r_prev"), F.lit(0))).alias(
                "r"
            ),
        )
    return len(
        state.merge_upsert(
            spark,
            regs,
            keys=["day", "bucket"],
            partition_col="day",
            app_id=app_id,
            batch_id=batch_id,
        )
    )


def fold_dd_state(
    spark: SparkSession,
    state: TxnTable,
    batch: DataFrame,
    group_col: str,
    day_col: str,
    value_col: str,
    app_id: str,
    batch_id: int,
) -> int:
    """Fold one batch's values into the day-grain DDSketch bucket state by
    element-wise SUM (exactly-once via the txn marker — a replayed add would
    otherwise double-count). Returns the number of day partitions touched
    (0 on a replayed batch). Non-positive values are OUTSIDE the DDSketch
    domain (ln(x) is NULL/undefined): they are filtered at this boundary so
    a zero-priced row can never commit a NULL bucket into the additive,
    non-invertible state and permanently skew the cumulative quantile walk."""
    bks = dd_bucket_counts(
        batch.filter(F.col(value_col) > 0).select(
            group_col, _day(day_col), value_col
        ),
        [group_col, "day"],
        value_col,
    )
    snap = state.snapshot()
    if snap.version >= 0:
        prev = state.read(spark).select(
            group_col, "day", "bucket", F.col("c").alias("_c_prev")
        )
        bks = bks.join(prev, [group_col, "day", "bucket"], "left").select(
            group_col,
            "day",
            "bucket",
            (F.col("c") + F.coalesce(F.col("_c_prev"), F.lit(0))).alias("c"),
        )
    return len(
        state.merge_upsert(
            spark,
            bks,
            keys=[group_col, "day", "bucket"],
            partition_col="day",
            app_id=app_id,
            batch_id=batch_id,
        )
    )


def fold_kmv_state(
    spark: SparkSession,
    state: TxnTable,
    batch: DataFrame,
    group_col: str,
    day_col: str,
    id_col: str,
    app_id: str,
    batch_id: int,
) -> int:
    """Fold one batch's ids into the day-grain KMV state: union the stored
    retained hashes of the touched days with the batch's k-min and RETAKE
    the k minima (the KMV monoid). Unlike the HLL/DD folds this can EVICT
    rows (a new small hash pushes the old k-th out), so the commit is
    ``merge_overwrite_partitions`` — the touched day partitions are replaced
    wholesale, keeping the state at ≤k rows per (group, day) instead of
    accreting stale hashes that a read-side re-rank would have to discard.
    Returns day partitions touched; 0 on a replayed batch."""
    new = kmv_state(
        batch.select(group_col, _day(day_col), kmv_hash(id_col).alias("h")),
        [group_col, "day"],
    )
    snap = state.snapshot()
    if snap.version >= 0:
        days = [r["day"] for r in new.select("day").distinct().collect()]
        prev = state.read(spark, partition_values=days).select(
            group_col, "day", "h"
        )
        new = kmv_state(new.unionByName(prev), [group_col, "day"])
    return len(
        state.merge_overwrite_partitions(
            new, partition_col="day", app_id=app_id, batch_id=batch_id
        )
    )


def fold_cms_state(
    spark: SparkSession,
    state: TxnTable,
    batch: DataFrame,
    day_col: str,
    key_col: str,
    app_id: str,
    batch_id: int,
) -> int:
    """Fold one batch's keys into the day-grain Count-Min cell state by
    cell-wise SUM (like the DDSketch fold, ADDITIVE — the txn marker's
    exactly-once is what keeps a replayed micro-batch from double-counting).
    State is ≤ depth·width = 1024 rows per day whatever the key cardinality.
    Returns day partitions touched; 0 on a replayed batch."""
    cells = cms_cells(batch.select(_day(day_col), key_col), key_col, ["day"])
    snap = state.snapshot()
    if snap.version >= 0:
        prev = state.read(spark).select(
            "day", "j", "bucket", F.col("c").alias("_c_prev")
        )
        cells = cells.join(prev, ["day", "j", "bucket"], "left").select(
            "day",
            "j",
            "bucket",
            (F.col("c") + F.coalesce(F.col("_c_prev"), F.lit(0))).alias("c"),
        )
    return len(
        state.merge_upsert(
            spark,
            cells,
            keys=["day", "j", "bucket"],
            partition_col="day",
            app_id=app_id,
            batch_id=batch_id,
        )
    )


def cms_estimates_from_state(
    spark: SparkSession, state: TxnTable, keys: DataFrame, key_col: str
) -> DataFrame:
    """Frequency upper bounds for ``keys`` from the cell state alone: merge
    day cells by SUM (associative), then estimate(key) = MIN over hash rows
    of its cell — never touches the event history. Cells are KBs, so they
    BROADCAST to the (possibly large) key list."""
    merged = state.read(spark).groupBy("j", "bucket").agg(F.sum("c").alias("c"))
    from ..functions.sketches import CMS_DEPTH

    probes = keys.select(
        F.col(key_col),
        F.explode(F.array(*[F.lit(j) for j in range(CMS_DEPTH)])).alias("j"),
    ).withColumn("bucket", cms_bucket("j", key_col))
    return (
        probes.join(F.broadcast(merged), ["j", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est_count"))
    )


def distinct_est_from_kmv_state(
    spark: SparkSession, state: TxnTable, group_col: str
) -> DataFrame:
    """Per-group distinct estimates from the KMV state alone: merge the
    day-grain retained sets up to the group (union + retake-k — associative,
    so fold order never matters) and estimate. Exactly the per-group half of
    ``kmv_priority_customer_overlap``; the pairwise set algebra runs on the
    same merged states."""
    merged = kmv_state(
        state.read(spark).select(group_col, "h"), [group_col]
    )
    return kmv_theta(merged, [group_col]).select(
        group_col, F.col("est").alias("est_distinct")
    )


def weekly_users_from_state(spark: SparkSession, state: TxnTable) -> DataFrame:
    """Weekly distinct-user estimates from the register state ALONE — the
    rollup never touches events. Numerically identical to running
    ``hll_weekly_users_md5``'s estimate over the full history (register MAX
    is associative; the equivalence test asserts exact equality)."""
    regs = state.read(spark).select(
        F.weekofyear(F.to_date("day")).cast("long").alias("week"), "bucket", "r"
    )
    return hll_estimate(regs, ["week"], alias="est_weekly_users")


def quantiles_from_state(
    spark: SparkSession, state: TxnTable, group_col: str
) -> DataFrame:
    """Per-group p50/p90/p99 from the bucket state alone (bucket SUM is
    associative — exact equality with the direct sketch)."""
    return dd_quantiles(state.read(spark).drop("day"), [group_col])


def run_sketch_gold_refresh(
    spark: SparkSession,
    events_dir: str,
    state_root: str,
    checkpoint_root: str,
    day_col: str = "ts",
    id_col: str = "user_id",
    group_col: str | None = None,
    value_col: str | None = None,
    kmv_group_col: str | None = None,
) -> dict[str, int]:
    """Fold all not-yet-seen event files into the sketch state tables.

    File-source checkpoint = exactly-once accounting of which files have
    been folded (the shared ``runner.run_door`` driver); the txn markers
    close the crash window between a fold and its checkpoint commit.
    Returns {state_table: day_partitions_touched_in_last_batch}; re-running
    with no new files (or replaying a committed batch) touches nothing and
    reports 0. ``kmv_group_col`` additionally maintains the per-group KMV
    retained-hash state (distinct-count AND set-operation serving:
    intersections/Jaccard between groups, which the HLL registers cannot
    answer).
    """
    hll_state = TxnTable(os.path.join(state_root, "hll_day_registers"))
    dd_state = (
        TxnTable(os.path.join(state_root, "dd_day_buckets"))
        if group_col and value_col
        else None
    )
    kmv_state_tbl = (
        TxnTable(os.path.join(state_root, "kmv_day_hashes"))
        if kmv_group_col
        else None
    )
    touched: dict[str, int] = {}

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        touched["hll_day_registers"] = fold_hll_state(
            spark, hll_state, batch_df, day_col, id_col,
            app_id="sketch-gold/hll", batch_id=batch_id,
        )
        if dd_state is not None:
            touched["dd_day_buckets"] = fold_dd_state(
                spark, dd_state, batch_df, group_col, day_col, value_col,
                app_id="sketch-gold/dd", batch_id=batch_id,
            )
        if kmv_state_tbl is not None:
            touched["kmv_day_hashes"] = fold_kmv_state(
                spark, kmv_state_tbl, batch_df, kmv_group_col, day_col, id_col,
                app_id="sketch-gold/kmv", batch_id=batch_id,
            )

    checkpoint = os.path.join(checkpoint_root, "sketch_gold")
    run_door(parquet_stream(spark, events_dir), checkpoint, _fold)
    return touched
