"""Incremental Silver→Gold maintenance: the streamed, partition-grain refresh
must keep every Gold table identical to a full recompute, while only touching
affected day partitions."""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import functions as F

from data_lake_medallion_architecture_project_spark.plans.gold import GOLD_BUILDERS
from data_lake_medallion_architecture_project_spark.sources.synthetic import GENERATORS
from data_lake_medallion_architecture_project_spark.streaming.ingest import run_incremental_ingest
from data_lake_medallion_architecture_project_spark.streaming.refresh import (
    gold_table,
    run_incremental_gold_refresh,
)
from tests.test_streaming import RUN_TS, _write_bronze_csv

DOMAIN = "sales"


def _gold_equals_full_recompute(spark, silver, gold):
    silver_df = spark.read.parquet(os.path.join(silver, DOMAIN))
    for table, (domain, builder) in GOLD_BUILDERS.items():
        if domain != DOMAIN:
            continue
        expect = builder(silver_df)
        got = gold_table(gold, table).read(spark).drop("generated_at")
        got = got.select(*[F.col(c).cast(dict(expect.dtypes)[c]) for c in expect.columns])
        e = sorted(map(tuple, expect.collect()))
        g = sorted(map(tuple, got.collect()))
        assert g == e, table


def test_incremental_gold_matches_full_recompute(spark, tmp_path):
    bronze, silver, ckpt, gold = (
        str(tmp_path / p) for p in ("bronze", "silver", "ckpt", "gold")
    )
    gen = GENERATORS[DOMAIN]

    _write_bronze_csv(bronze, DOMAIN, gen(seed=21, n=40), "b1")
    run_incremental_ingest(spark, bronze, silver, ckpt, DOMAIN, processed_at=RUN_TS)
    days1 = run_incremental_gold_refresh(spark, silver, gold, ckpt, DOMAIN, generated_at=RUN_TS)
    assert days1
    _gold_equals_full_recompute(spark, silver, gold)

    # No new Silver files → nothing refreshed (checkpoint idempotence).
    days_again = run_incremental_gold_refresh(spark, silver, gold, ckpt, DOMAIN, generated_at=RUN_TS)
    assert days_again == []

    # A second batch folds in incrementally and still equals a full recompute.
    _write_bronze_csv(bronze, DOMAIN, gen(seed=22, n=40), "b2")
    run_incremental_ingest(spark, bronze, silver, ckpt, DOMAIN, processed_at=RUN_TS)
    days2 = run_incremental_gold_refresh(spark, silver, gold, ckpt, DOMAIN, generated_at=RUN_TS)
    assert days2
    _gold_equals_full_recompute(spark, silver, gold)


# Janino compiles allowed in a warm same-day cycle. Measured on local[8]:
# 2-4 with the engine's 1000-entry codegen cache; at Spark's default 100
# entries the same cycle recompiled 146 evicted classes.
WARM_CYCLE_MAX_COMPILES = 16


def test_warm_cycle_reuses_generated_code(spark, tmp_path):
    """A second Silver ingest + Gold refresh cycle over same-day Bronze files
    of every domain runs the plans of the first one, so it must find their
    generated classes in the codegen cache instead of compiling them again."""
    bronze, silver, ckpt, gold = (
        str(tmp_path / p) for p in ("bronze", "silver", "ckpt", "gold")
    )
    now = datetime(2026, 8, 13, 12, tzinfo=timezone.utc)
    compiles = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def cycle(seed):
        for domain, gen in GENERATORS.items():
            _write_bronze_csv(bronze, domain, gen(seed=seed, now=now), f"b{seed}")
            run_incremental_ingest(spark, bronze, silver, ckpt, domain, processed_at=RUN_TS)
            assert run_incremental_gold_refresh(
                spark, silver, gold, ckpt, domain, generated_at=RUN_TS
            )

    cycle(51)
    before = compiles.getCount()
    cycle(52)
    assert compiles.getCount() - before <= WARM_CYCLE_MAX_COMPILES


def test_gold_refresh_crash_replay_exactly_once(spark, tmp_path):
    """Crash between the Gold MERGE commit and the stream checkpoint commit:
    deleting the checkpoint's commit marker forces the micro-batch to re-run,
    and the (app_id, batch_id) transaction marker in the Gold log must skip
    the replay — no new log versions, still equal to a full recompute."""
    bronze, silver, ckpt, gold = (
        str(tmp_path / p) for p in ("bronze", "silver", "ckpt", "gold")
    )
    _write_bronze_csv(bronze, DOMAIN, GENERATORS[DOMAIN](seed=31, n=40), "b1")
    run_incremental_ingest(spark, bronze, silver, ckpt, DOMAIN, processed_at=RUN_TS)
    days = run_incremental_gold_refresh(spark, silver, gold, ckpt, DOMAIN, generated_at=RUN_TS)
    assert days
    tables = [t for t, (d, _) in GOLD_BUILDERS.items() if d == DOMAIN]
    versions_before = {t: gold_table(gold, t).snapshot().version for t in tables}

    commits = os.path.join(ckpt, f"gold_{DOMAIN}", "commits")
    latest = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    os.remove(os.path.join(commits, latest))
    crc = os.path.join(commits, f".{latest}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    replayed = run_incremental_gold_refresh(spark, silver, gold, ckpt, DOMAIN, generated_at=RUN_TS)
    assert sorted(replayed) == sorted(days)  # the batch genuinely re-ran ...
    for t in tables:  # ... but every table-level merge was skipped
        assert gold_table(gold, t).snapshot().version == versions_before[t], t
    _gold_equals_full_recompute(spark, silver, gold)


def test_event_partitioned_silver_prunes_and_matches(spark, tmp_path):
    """Event-date Silver layout: the affected-day restriction must appear in
    the scan's PartitionFilters (directory prune, not scan filter), and the
    refresh through it must equal the builders over a manually-filtered full
    scan."""
    import contextlib
    import io

    from data_lake_medallion_architecture_project_spark.sources.writers import (
        write_silver_event_partitioned,
    )
    from data_lake_medallion_architecture_project_spark.streaming.refresh import (
        _scoped_silver,
        refresh_affected_dates,
    )

    bronze, silver, ckpt, silver2, gold = (
        str(tmp_path / p) for p in ("bronze", "silver", "ckpt", "silver_ev", "gold")
    )
    _write_bronze_csv(bronze, DOMAIN, GENERATORS[DOMAIN](seed=41, n=60), "b1")
    run_incremental_ingest(spark, bronze, silver, ckpt, DOMAIN, processed_at=RUN_TS)
    base = spark.read.parquet(os.path.join(silver, DOMAIN)).drop(
        "year", "month", "day", "ingest_batch"
    )
    # The generator's batch lands on one day; spread events across three days
    # (deterministic per key) so pruning has something to prune.
    base = base.withColumn(
        "timestamp",
        F.col("timestamp")
        - F.make_interval(days=F.pmod(F.xxhash64("sale_id"), F.lit(3)).cast("int")),
    )
    write_silver_event_partitioned(base, silver2, DOMAIN)
    dir2 = os.path.join(silver2, DOMAIN)

    all_days = sorted(
        r["d"]
        for r in spark.read.parquet(dir2)
        .filter(F.col("is_valid"))
        .select(F.to_date("timestamp").alias("d"))
        .filter(F.col("d").isNotNull())
        .distinct()
        .collect()
    )
    assert len(all_days) >= 2
    days = all_days[:2]

    scoped = _scoped_silver(spark, dir2, days)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scoped.explain("formatted")
    pf = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
    assert pf and "event_date" in pf[0] and " IN " in pf[0], pf

    refresh_affected_dates(spark, dir2, gold, DOMAIN, days, RUN_TS)
    expect_src = spark.read.parquet(dir2).filter(F.to_date("timestamp").isin(days))
    for table, (domain, builder) in GOLD_BUILDERS.items():
        if domain != DOMAIN:
            continue
        expect = builder(expect_src)
        got = gold_table(gold, table).read(spark).drop("generated_at")
        got = got.select(*[F.col(c).cast(dict(expect.dtypes)[c]) for c in expect.columns])
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect())), table
