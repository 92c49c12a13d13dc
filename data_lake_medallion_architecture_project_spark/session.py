"""SparkSession factory with scale-oriented defaults.

The reference (``/root/reference/``) has no session concept — it is eager pandas in
one process. Here every plan is lazy Catalyst; the configs below are the knobs that
matter when the same plans run on a 1000-executor cluster against ~100 TB:

* AQE (Spark's default, so not set here) is relied on — runtime
  shuffle-partition coalescing, skew-join splitting, and dynamic
  join-strategy demotion are the difference between a tuned and an untuned
  plan at scale.
* ``spark.sql.shuffle.partitions`` — sized for local[32] testing; on a real
  cluster AQE coalesces from a deliberately high initial number instead.
* Arrow enabled — every pandas_udf / toPandas boundary is Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "data_lake_medallion_architecture_project_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests and bench share one code path; on a cluster the
    caller passes no master and spark-submit decides.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- Joins: let the planner pick a shuffled-hash join when its size
        #    conditions hold (one side small per partition) instead of
        #    always sorting both sides (guide §3.1/§9). Not a local-only
        #    tune: the planner stays size-gated, AQE skew-split still
        #    applies, and SMJ remains for big⋈big joins that fail the hash
        #    conditions. No committed A/B backs this default yet
        #    (OPTIMIZATION_r16.md was never filled in); ROADMAP direction 6
        #    keeps or deletes it on one. The env knob exists so that A/B
        #    runs without editing this file.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        # -- Codegen: keep every generated class of the recurring medallion
        #    loop. At the default 100 entries each warm lake_cycles cycle
        #    (Silver ingest + Gold refresh of 3 domains, 21 Gold reads)
        #    evicted and recompiled 155-159 Janino classes; with 1000 a warm
        #    cycle compiles 0-16 (6 cycles x 3 seeds, 4 vCPUs). A/B together
        #    with the one-plan door batches (AB_lake_cycles_codegen.json):
        #    lake_cycles pass CPU lower in 22 of 26 pairs (medians -26% and
        #    -16% on two sets of unseen seeds); queries flat (14 pairs).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # -- Python boundary: always Arrow.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- ANSI off: we want try_/coerce-to-null semantics matching the
        #    reference's errors="coerce" behavior, not exceptions.
        .config("spark.sql.ansi.enabled", "false")
        # -- Timestamps: testdata parquet stores naive timestamps; keep them
        #    session-tz independent by pinning UTC.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
