"""Streaming semantic-dedup ingest — the embedding-space tier of the
exactly-once intake family.

``dedup_ingest.py`` keeps the corpus exact-duplicate-free by content hash;
this module keeps an EMBEDDING corpus semantic-duplicate-free by the
SemDeDup rule (Abbas et al., arXiv:2303.09540), maintained incrementally:

1. **File-source checkpoint** (``Trigger.AvailableNow``) — which embedding
   files have been consumed is exactly-once accounted by Structured
   Streaming.
2. **Batch-local SemDeDup + state screen in one kernel** — each micro-batch
   is centroid-assigned map-side (Arrow BLAS argmax), then every cluster
   group runs one pandas kernel that (a) orders batch members by
   affinity-to-centroid ascending (tie: id — the released implementation's
   ordering, replay-deterministic), (b) drops members within ``tau`` of any
   KEPT state vector of the cluster or any EARLIER batch member (the same
   upper-triangular relaxation as ``plans/curation.py:
   semdedup_append_batch``, whose DuckDB oracle certifies the rule).
3. **Atomic survivor append** — survivors ``merge_upsert`` into the
   ``TxnTable`` keyed on the vector id with the (app_id, batch_id)
   idempotency marker: a crash between table commit and checkpoint advance
   replays the batch, the marker no-ops the merge, and a vector can never
   land twice. (A replayed batch WOULD otherwise see itself in the state
   and keep nothing — the marker fires before that matters.)

The state table is partitioned by centroid, so each batch's screen reads
only the clusters the batch actually touches (partition-pruned), and the
per-cluster state a kernel holds is bounded by SemDeDup's own contract —
k grows with the corpus, keeping clusters bounded (see SCALE.md's
third-decade probe: refitting k=64 at 1000× restored the per-cluster
arithmetic of 100×).

Batch-mode parity: the maintained keep-state after ingesting
corpus-then-batch equals ``semdedup_append_batch``'s kept set on the same
split (asserted in tests/test_streaming_semdedup.py via a numpy replay).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import _assign_udf
from ..functions.vectors import to_double_array
from ..storage import TxnTable
from .runner import parquet_stream, run_door

_STATE_SCHEMA = "vid long, centroid long, affinity double, v array<double>"


def semdedup_batch_against_table(
    spark: SparkSession,
    table: TxnTable,
    batch_df: DataFrame,
    centroids,
    app_id: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.4,
) -> None:
    """Apply one micro-batch: assign clusters, run the SemDeDup screen
    against (kept state ∪ earlier batch members), append survivors
    atomically under the idempotency marker."""
    cent = np.asarray(centroids, dtype=np.float64)
    assign = _assign_udf(cent)
    prepared = (
        batch_df.select(
            F.col(id_col).cast("long").alias("vid"),
            to_double_array(vec_col).alias("v"),
        )
        .withColumn("centroid", assign(F.col("v")).cast("long"))
        .withColumn("is_state", F.lit(False))
        .select("vid", "v", "centroid", "is_state")
    )
    snap = table.snapshot()
    if snap.version >= 0 and snap.files:
        state = (
            table.read(spark)
            .select("vid", "v", "centroid")
            .withColumn("is_state", F.lit(True))
        )
        both = state.unionByName(prepared)
    else:
        both = prepared

    def kernel(key, pdf):
        c = cent[int(key[0])]
        batch = pdf[~pdf["is_state"]]
        if batch.empty:
            return pd.DataFrame(
                {
                    "vid": pd.Series(dtype="int64"),
                    "centroid": pd.Series(dtype="int64"),
                    "affinity": pd.Series(dtype="float64"),
                    "v": pd.Series(dtype="object"),
                }
            )
        xs_rows = pdf[pdf["is_state"]]
        xb = np.array(batch["v"].tolist(), dtype=np.float64)
        ids = batch["vid"].to_numpy()
        nb = np.linalg.norm(xb, axis=1)
        nb = np.where(nb == 0, 1.0, nb)
        aff = (xb @ c) / nb
        order = np.lexsort((ids, aff))
        ids, aff = ids[order], aff[order]
        xbn = xb[order] / nb[order, None]
        if len(xs_rows):
            xs = np.array(xs_rows["v"].tolist(), dtype=np.float64)
            ns = np.linalg.norm(xs, axis=1)
            ns = np.where(ns == 0, 1.0, ns)
            state_hit = (xbn @ (xs / ns[:, None]).T).max(axis=1) >= tau
        else:
            state_hit = np.zeros(len(ids), dtype=bool)
        # Batch-internal screen: ALL earlier members count (kept or removed)
        # — the triangular relaxation the relational gate certifies, NOT the
        # greedy-chain variant that would check kept survivors only.
        keep = [
            i
            for i in range(len(ids))
            if not state_hit[i]
            and (xbn[:i] @ xbn[i]).max(initial=-np.inf) < tau
        ]
        k = np.array(keep, dtype=int)
        xb_ordered = xb[order]
        return pd.DataFrame(
            {
                "vid": ids[k].astype("int64"),
                "centroid": np.full(len(k), int(key[0]), dtype="int64"),
                "affinity": aff[k],
                "v": [list(row) for row in xb_ordered[k]],
            }
        )

    survivors = both.groupBy("centroid").applyInPandas(kernel, _STATE_SCHEMA)
    table.merge_upsert(
        spark,
        survivors,
        keys=["vid"],
        partition_col="centroid",
        app_id=app_id,
        batch_id=batch_id,
    )


def run_semdedup_ingest(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_root: str,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.4,
) -> int:
    """Consume all not-yet-seen embedding files into the semantically
    deduped keep-state table. Returns the number of micro-batches applied
    this invocation."""
    table = TxnTable(table_path)
    app_id = f"semdedup_ingest/{os.path.basename(table_path.rstrip('/'))}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        semdedup_batch_against_table(
            spark,
            table,
            batch_df,
            centroids,
            app_id,
            batch_id,
            id_col=id_col,
            vec_col=vec_col,
            tau=tau,
        )

    checkpoint = os.path.join(checkpoint_root, "semdedup_ingest")
    return run_door(parquet_stream(spark, source_dir), checkpoint, _apply)
