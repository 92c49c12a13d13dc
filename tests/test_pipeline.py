"""Smoke test for the one-command pipeline runner (the reference's DAG
front door, ``/root/reference/dags/data_lake_pipeline.py:46-149``)."""

from __future__ import annotations

from data_lake_medallion_architecture_project_spark import pipeline
from data_lake_medallion_architecture_project_spark.pipeline import (
    gold_row_counts,
    run_pipeline,
)
from data_lake_medallion_architecture_project_spark.plans.gold import GOLD_BUILDERS

RUN_TS = "2026-08-13T00:00:00+00:00"


def test_pipeline_end_to_end_populates_all_gold_tables(spark, tmp_path):
    work = str(tmp_path / "lake")
    stats = run_pipeline(spark, work, gen_ticks=2, seed=100, processed_at=RUN_TS)
    assert set(stats["silver_rows"]) == {"sales", "customer_events", "inventory"}
    assert all(n > 0 for n in stats["silver_rows"].values())
    # Silver partitions are stamped from processed_at, not the wall clock.
    silver = tmp_path / "lake" / "silver"
    assert {
        p.parts[-3:] for p in silver.glob("*/ingest_batch=*/year=*/month=*/day=*")
    } == {("year=2026", "month=08", "day=13")}

    counts = gold_row_counts(spark, work)
    assert set(counts) == set(GOLD_BUILDERS)  # all 7 Gold tables exist
    assert all(n > 0 for n in counts.values())

    # Second cycle is incremental: new ticks add rows; re-processing is scoped
    # to the new files only (checkpoint), and Gold tables stay populated.
    stats2 = run_pipeline(spark, work, gen_ticks=4, seed=100, processed_at=RUN_TS)
    # ticks 0-1 already staged and ingested; only ticks 2-3 are new rows.
    assert all(n > 0 for n in stats2["silver_rows"].values())
    counts2 = gold_row_counts(spark, work)
    assert all(counts2[t] >= counts[t] for t in counts)


def test_cli_takes_its_session_from_get_spark(monkeypatch, tmp_path):
    """The CLI runs on ``get_spark()`` (UTC pin, ANSI off, Arrow, join conf)
    with ``--master`` left to its SPARK_GRAFT_CPUS/local[*] resolution. A
    stand-in session keeps the shared test session running."""

    class StandIn:
        stopped = False

        def stop(self):
            self.stopped = True

    session, factory_calls, used = StandIn(), [], []

    def fake_get_spark(**kwargs):
        factory_calls.append(kwargs)
        return session

    def fake_run_pipeline(spark, work_dir, **kwargs):
        used.append(spark)
        return {"silver_rows": {}, "gold_days": {}}

    def fake_gold_row_counts(spark, work_dir):
        used.append(spark)
        return {}

    monkeypatch.setattr(pipeline, "get_spark", fake_get_spark)
    monkeypatch.setattr(pipeline, "run_pipeline", fake_run_pipeline)
    monkeypatch.setattr(pipeline, "gold_row_counts", fake_gold_row_counts)
    assert pipeline.main(["--work-dir", str(tmp_path)]) == 0
    assert factory_calls == [{"master": None}]
    assert used == [session, session]
    assert session.stopped
