"""The ``lake_cycles`` workload: repeated medallion cycles in a fresh lake.

One cycle is what the reference's two schedules do in one pipeline period:

1. land: ``TICKS_PER_CYCLE`` generator tick(s), 5 simulated minutes apart;
   per tick and domain, rows from ``sources.synthetic.GENERATORS`` (10/15/8 rows)
   go through ``writers.write_staging_csv`` and ``writers.ingest_to_bronze``;
2. silver and gold: per domain, in ``pipeline.run_processing_pass`` order,
   ``streaming.ingest.run_incremental_ingest`` then
   ``streaming.refresh.run_incremental_gold_refresh``;
3. gold_read: every Gold table read through its ``TxnTable`` and counted,
   as ``pipeline.gold_row_counts`` does, ``READS_PER_CYCLE`` times over.

Every clock the engine takes as an argument (generator ``now``, Bronze
``ingest_time``, ``processed_at``, ``generated_at``) comes from a simulated
clock derived from the seed that crosses one UTC midnight.
At the end, each committed Gold table must equal a full recompute of its
``plans.gold.GOLD_BUILDERS`` builder over ``readers.read_silver``.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from datetime import datetime, timedelta, timezone

from perfbench import trace as tr
from perfbench.run import (
    elapsed, end_to_end, jvm_peak_rss_mb, stamp, start_session, stop_session,
)

TICKS_PER_CYCLE = 1
# Rounds of reads over the 7 Gold tables per cycle, so a run has enough read
# latencies for a tail percentile. (Timing each round as one sample was
# tried: six samples make the tail their maximum, which spread wider.)
READS_PER_CYCLE = 3
# Untimed cycles before the measured ones (a second one was tried: it costs
# ~15 s per run and did not narrow the run-to-run spread).
WARMUP_CYCLES = 1
TICK = timedelta(minutes=5)
# Nominal seconds of one warm cycle on a 4-core host: --seconds buys this
# many measured cycles (at least two). A cycle is ~5 s on a quiet host and
# ~12 s on a busy one, and a run also pays a session start and a warm-up
# cycle, so a third measured cycle would not fit the benchmark's time budget
# on a busy host.
NOMINAL_CYCLE_S = 10.0


def _clock(seed: int) -> datetime:
    """Start of the simulated clock: a seed-chosen day, placed so that
    midnight falls 150 s after the first tick of the first measured cycle.
    Generated rows are stamped up to 120 s before their tick, so with ticks
    150 s either side of midnight every seed crosses the day boundary in the
    same cycle and refreshes the same number of Gold days."""
    midnight = datetime(2031, 1, 1, tzinfo=timezone.utc) + timedelta(
        days=random.Random(seed).randrange(3650)
    )
    return midnight - TICK * (TICKS_PER_CYCLE * WARMUP_CYCLES + 1) + timedelta(seconds=150)


def _tree_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose name ends with ``suffix``."""
    n = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


class Lake:
    def __init__(self, spark, root: str, seed: int, start: datetime):
        self.spark, self.seed, self.start = spark, seed, start
        self.tick = 0
        self.dirs = {d: os.path.join(root, d) for d in ("staging", "bronze", "silver", "gold", "_checkpoints")}
        self.landed_rows = 0
        self.gold_days = 0

    def cycle(self, label: str, t: tr.Tracer, reads: int = READS_PER_CYCLE) -> tuple[int, list]:
        """Run one cycle with ``reads`` rounds of Gold reads; return
        (operations attempted, (wall, CPU) seconds of each Gold read)."""
        from data_lake_medallion_architecture_project_spark.plans.gold import GOLD_BUILDERS
        from data_lake_medallion_architecture_project_spark.schemas import BRONZE_SCHEMAS
        from data_lake_medallion_architecture_project_spark.sources.synthetic import GENERATORS
        from data_lake_medallion_architecture_project_spark.sources.writers import (
            ingest_to_bronze,
            write_staging_csv,
        )
        from data_lake_medallion_architecture_project_spark.streaming.ingest import (
            run_incremental_ingest,
        )
        from data_lake_medallion_architecture_project_spark.streaming.refresh import (
            gold_table,
            run_incremental_gold_refresh,
        )

        ops = 0
        with t.span("cycle", group=label, jobs=False):
            with t.span("land"):
                for _ in range(TICKS_PER_CYCLE):
                    now = self.start + TICK * self.tick
                    for domain, gen in GENERATORS.items():
                        schema = BRONZE_SCHEMAS[domain]
                        rows = gen(seed=self.seed * 100_003 + self.tick, now=now)
                        # Bronze CSV binds by position: stage the columns in
                        # schema order, typed as the schema declares.
                        data = [
                            tuple(
                                None if r.get(f.name) is None
                                else float(r[f.name]) if f.dataType.typeName() == "double"
                                else r[f.name]
                                for f in schema.fields
                            )
                            for r in rows
                        ]
                        with t.span("staging"):
                            path = write_staging_csv(
                                self.spark.createDataFrame(data, schema),
                                self.dirs["staging"], domain, f"t{self.tick:05d}",
                            )
                        with t.span("bronze"):
                            ingest_to_bronze(path, self.dirs["bronze"], domain, ingest_time=now)
                        self.landed_rows += len(rows)
                        ops += 2
                    self.tick += 1
            processed_at = (self.start + TICK * self.tick).isoformat()
            for domain in GENERATORS:
                with t.span("silver"):
                    run_incremental_ingest(
                        self.spark, self.dirs["bronze"], self.dirs["silver"],
                        self.dirs["_checkpoints"], domain, processed_at=processed_at,
                    )
                with t.span("gold"):
                    days = run_incremental_gold_refresh(
                        self.spark, self.dirs["silver"], self.dirs["gold"],
                        self.dirs["_checkpoints"], domain, generated_at=processed_at,
                    )
                self.gold_days += len(days)
                ops += 2
            latencies = []
            with t.span("gold_read"):
                for _ in range(reads):
                    for table in GOLD_BUILDERS:
                        a = stamp()
                        with t.span("read"):
                            gold_table(self.dirs["gold"], table).read(self.spark).count()
                        latencies.append(elapsed((a, stamp())))
                        ops += 1
        return ops, latencies

    def check_gold(self) -> list[str]:
        """Tables whose committed Gold differs from a full recompute."""
        from pyspark.sql import functions as F

        from data_lake_medallion_architecture_project_spark.plans.gold import GOLD_BUILDERS
        from data_lake_medallion_architecture_project_spark.sources.readers import read_silver
        from data_lake_medallion_architecture_project_spark.streaming.refresh import gold_table

        bad = []
        silver = {}
        for table, (domain, builder) in GOLD_BUILDERS.items():
            if domain not in silver:
                silver[domain] = read_silver(self.spark, self.dirs["silver"], domain)
            expect = builder(silver[domain])
            got = gold_table(self.dirs["gold"], table).read(self.spark).drop("generated_at")
            got = got.select(*[F.col(c).cast(t) for c, t in expect.dtypes])
            e = sorted(map(tuple, expect.collect()), key=repr)
            g = sorted(map(tuple, got.collect()), key=repr)
            if not e or e != g:
                bad.append(table)
        return bad

    def storage_counts(self) -> dict[str, float]:
        """Exact counts of what the lake holds."""
        from data_lake_medallion_architecture_project_spark.plans.gold import GOLD_BUILDERS
        from data_lake_medallion_architecture_project_spark.streaming.refresh import gold_table

        versions = checkpoints = live = 0
        for table in GOLD_BUILDERS:
            tt = gold_table(self.dirs["gold"], table)
            versions += len(tt._versions())
            checkpoints += len(tt._checkpoints())
            live += len(tt.snapshot().files)
        silver_files, _ = _tree_stats(self.dirs["silver"], ".parquet")
        _, landed_bytes = _tree_stats(self.dirs["staging"], ".csv")
        lake_bytes = sum(_tree_stats(self.dirs[d])[1] for d in ("silver", "gold", "_checkpoints"))
        return {
            "storage.log_versions": versions,
            "storage.log_checkpoints": checkpoints,
            "storage.gold_live_files": live,
            "storage.silver_files": silver_files,
            "storage.bytes_written_mb": lake_bytes / 2**20,
            "storage.lake_bytes_per_input_byte": lake_bytes / landed_bytes,
        }

    def stream_batches(self) -> tuple[int, int]:
        """(Silver, Gold) micro-batches committed so far, from the streaming
        checkpoints' commit logs."""
        ckpt = self.dirs["_checkpoints"]
        silver = gold = 0
        for d in os.listdir(ckpt):
            commits = os.path.join(ckpt, d, "commits")
            n = sum(1 for f in os.listdir(commits) if f.isdigit()) if os.path.isdir(commits) else 0
            if d.startswith("gold_"):
                gold += n
            else:
                silver += n
        return silver, gold


def run_lake(args, work: str) -> tuple[dict, dict]:
    n_cycles = args.cycles if args.cycles is not None else max(2, int(args.seconds // NOMINAL_CYCLE_S))
    start = _clock(args.seed)
    trace = bool(args.trace)

    t0 = stamp()
    spark = start_session(work, "lake_cycles", trace)
    session_s = time.perf_counter() - t0[0]
    try:
        lake = Lake(spark, os.path.join(work, "lake"), args.seed, start)
        # One round of reads warms the read path; more would only lengthen
        # the run.
        attempted = sum(
            lake.cycle(f"warmup{i}", tr.Tracer(False), reads=1)[0] for i in range(WARMUP_CYCLES)
        )
        setup = elapsed((t0, stamp()))
        lake.landed_rows = lake.gold_days = 0
        warm_batches = lake.stream_batches()

        tracer = tr.Tracer(trace, spark.sparkContext)
        snapshot_s = _time_snapshots() if trace else None
        failed = 0
        errors = []
        passes, latencies = [], []
        with tracer.span("run", jobs=False):
            for c in range(n_cycles):
                a = stamp()
                try:
                    ops, lat = lake.cycle(f"c{c}", tracer)
                except Exception as exc:  # counted, reported in the detail line
                    failed += 1
                    attempted += 1
                    errors.append(repr(exc)[:300])
                    break
                passes.append(elapsed((a, stamp())))
                attempted += ops
                latencies.extend(lat)
        if snapshot_s is not None:
            snapshot_s = snapshot_s()
        bad = lake.check_gold()
        attempted += 7
        failed += len(bad)
        errors += [f"gold {t} != full recompute" for t in bad]
        counts = lake.storage_counts()
        batches = lake.stream_batches()
        counts["streaming.silver_batches"] = batches[0] - warm_batches[0]
        counts["streaming.gold_batches"] = batches[1] - warm_batches[1]
        rss = jvm_peak_rss_mb(spark)
        cores = spark.sparkContext.defaultParallelism
    finally:
        stop_session(spark)

    metrics, detail = end_to_end(setup, passes, latencies, rss)
    detail.update(
        workload="lake_cycles", seed=args.seed, cores=cores, cycles=n_cycles,
        ticks_per_cycle=TICKS_PER_CYCLE, clock_start=start.isoformat(),
        landed_rows=lake.landed_rows, failed_ratio=failed / attempted, failures=errors,
    )
    if trace:
        metrics = _layer_metrics(tracer, work, lake, counts, session_s, passes, snapshot_s, cores, rss)
        tracer.write(os.path.join(work, "spans.json"), {"detail": detail})
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }, detail


def _time_snapshots():
    """Time every ``TxnTable.snapshot`` call (log replay) until the returned
    function is called; it restores the method and returns the seconds."""
    from data_lake_medallion_architecture_project_spark.storage import TxnTable

    original = TxnTable.snapshot
    total = [0.0]

    def timed(self, version=None):
        a = time.perf_counter()
        try:
            return original(self, version)
        finally:
            total[0] += time.perf_counter() - a

    TxnTable.snapshot = timed

    def stop() -> float:
        TxnTable.snapshot = original
        return total[0]

    return stop


def _layer_metrics(tracer, work, lake, counts, session_s, passes, snapshot_s, cores, rss) -> dict:
    log = tr.read_event_log(os.path.join(work, "eventlog"))
    jobs = tr.attribute_jobs(log, tracer.spans)
    cycle_ids = [j for s in tracer.spans if s["name"] != "run" for j in jobs.get(s["id"], [])]
    ex = tr.task_totals(log, cycle_ids)
    wall = sum(p[0] for p in passes)
    silver_s = sum(tracer.durations("silver"))
    staging_s = sum(tracer.durations("staging"))
    bronze_s = sum(tracer.durations("bronze"))
    silver_rows = _silver_rows(lake)
    return tr.layer_block({
        **counts,
        "session.start_s": session_s,
        "session.peak_rss_mb": rss,
        "exec.exec_s": wall,
        "exec.jobs": ex["jobs"],
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.task_run_s": ex["run_ms"] / 1000.0,
        "exec.core_busy_ratio": ex["run_ms"] / 1000.0 / (wall * cores) if wall else 0.0,
        "exec.gc_s": ex["gc_ms"] / 1000.0,
        "exec.shuffle_mb": ex["shuffle_bytes"] / 2**20,
        "exec.shuffle_fetch_wait_s": ex["fetch_wait_ms"] / 1000.0,
        "exec.scan_rows": ex["scan_rows"],
        "exec.failed_tasks": ex["failed_tasks"],
        "writers.staging_s": staging_s,
        "writers.bronze_s": bronze_s,
        "writers.land_rows_per_s": lake.landed_rows / (staging_s + bronze_s),
        "streaming.silver_s": silver_s,
        "streaming.silver_rows_per_s": silver_rows / silver_s if silver_s else 0.0,
        "streaming.gold_s": sum(tracer.durations("gold")),
        "streaming.gold_days": lake.gold_days,
        "storage.snapshot_s": snapshot_s,
        "storage.gold_read_s": sum(tracer.durations("gold_read")),
        "trace.pass_s": statistics.median(p[0] for p in passes),
    })


def _silver_rows(lake) -> int:
    """Rows the measured cycles wrote to Silver: the warm-up cycles' batches,
    the lowest ``ingest_batch`` ids of each domain, are excluded."""
    import pyarrow.parquet as pq

    total = 0
    for domain in sorted(os.listdir(lake.dirs["silver"])):
        ddir = os.path.join(lake.dirs["silver"], domain)
        batches = sorted(
            (int(b.split("=", 1)[1]), b) for b in os.listdir(ddir) if b.startswith("ingest_batch=")
        )
        for _, b in batches[WARMUP_CYCLES:]:
            for root, _dirs, names in os.walk(os.path.join(ddir, b)):
                total += sum(
                    pq.read_metadata(os.path.join(root, n)).num_rows
                    for n in names if n.endswith(".parquet")
                )
    return total
