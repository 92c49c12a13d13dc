"""Unit tests for the Delta-style transactional table layer (storage/txnlog)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_lake_medallion_architecture_project_spark.storage import TxnTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "date string, k string, v long")


def _rows(df):
    return sorted(map(tuple, df.select("date", "k", "v").collect()))


def test_merge_upserts_only_touched_partitions(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(
        _df(spark, [("d1", "a", 1), ("d2", "b", 2)]), "date"
    )
    # MERGE a new version of d2 plus a new d3; d1 must be untouched.
    t.merge_overwrite_partitions(
        _df(spark, [("d2", "b", 20), ("d3", "c", 3)]), "date"
    )
    assert _rows(t.read(spark)) == [("d1", "a", 1), ("d2", "b", 20), ("d3", "c", 3)]
    # Partition-pruned read resolves from log metadata only.
    assert _rows(t.read(spark, partition_values=["d2"])) == [("d2", "b", 20)]


def test_txn_marker_makes_replay_a_noop(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    df = _df(spark, [("d1", "a", 1)])
    assert t.merge_overwrite_partitions(df, "date", app_id="job", batch_id=0) == ["d1"]
    v = t.snapshot().version
    # Replay of the same (app_id, batch_id): skipped, no new version.
    assert t.merge_overwrite_partitions(df, "date", app_id="job", batch_id=0) == []
    assert t.snapshot().version == v
    # A later batch goes through.
    assert t.merge_overwrite_partitions(
        _df(spark, [("d1", "a", 2)]), "date", app_id="job", batch_id=1
    ) == ["d1"]
    assert _rows(t.read(spark)) == [("d1", "a", 2)]


def test_crash_before_commit_is_invisible_and_vacuumable(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    before = _rows(t.read(spark))
    # Simulate a writer dying after staging data files but before the log
    # commit: files exist under _data/ with no commit referencing them.
    orphan_dir = os.path.join(t.data_dir, "deadbeef_crash")
    _df(spark, [("d1", "x", 99)]).write.parquet(orphan_dir)
    assert _rows(t.read(spark)) == before  # readers never see orphans
    assert t.vacuum() > 0  # crash orphans are collectable
    assert _rows(t.read(spark)) == before


def test_time_travel_reconstructs_old_versions(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 2)]), "date")
    assert _rows(t.read(spark, version=0)) == [("d1", "a", 1)]
    assert _rows(t.read(spark)) == [("d1", "a", 2)]
    # Vacuum drops superseded files → time travel forfeited, head intact.
    t.vacuum()
    assert _rows(t.read(spark)) == [("d1", "a", 2)]


def test_empty_table_reads_empty_with_schema(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    pruned = t.read(spark, partition_values=["nope"])
    assert pruned.count() == 0
    assert set(pruned.columns) == {"date", "k", "v"}  # schema from the log


def test_commit_race_loser_retries(spark, tmp_path):
    """Two writers racing for the same version: the loser must re-read the log
    and land on the next version, with both commits applied."""
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    # Steal the next version number before the writer commits, simulating a
    # concurrent winner.
    real_try = t._try_commit
    stolen = {"done": False}

    def steal_once(version, commit):
        if not stolen["done"]:
            stolen["done"] = True
            real_try(version, {"add": [], "remove": []})  # rival empty commit
        return real_try(version, commit)

    t._try_commit = steal_once
    t.merge_overwrite_partitions(_df(spark, [("d2", "b", 2)]), "date")
    t._try_commit = real_try
    assert _rows(t.read(spark)) == [("d1", "a", 1), ("d2", "b", 2)]
    assert t.snapshot().version == 2  # v0 initial, v1 rival, v2 retried merge


def test_compact_merges_small_files_preserving_data(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    # A 3-task write produces multiple files inside the d1 partition.
    rows = [("d1", k, i) for i, k in enumerate("abcdef")] + [("d2", "x", 9)]
    t.merge_overwrite_partitions(_df(spark, rows).repartition(3), "date")
    before = _rows(t.read(spark))
    files_d1 = [rel for rel, pv in t.snapshot().files.items() if pv == "d1"]
    assert len(files_d1) > 1  # the small-files problem, reproduced
    n_files_before = len(t.snapshot().files)

    replaced = t.compact(spark)
    after_snap = t.snapshot()
    assert _rows(t.read(spark)) == before  # bit-identical data
    # Every multi-file partition collapsed to one file.
    per_part: dict = {}
    for rel, pv in after_snap.files.items():
        per_part.setdefault(pv, []).append(rel)
    assert all(len(v) == 1 for v in per_part.values())
    if replaced:
        assert len(after_snap.files) < n_files_before or replaced > 0
    # Idempotent: nothing left to compact.
    assert t.compact(spark) == 0
    # Time travel still works pre-compaction; vacuum then forfeits it.
    assert _rows(t.read(spark, version=after_snap.version - 1)) == before
    t.vacuum()
    assert _rows(t.read(spark)) == before


def test_generated_at_column_roundtrip(spark, tmp_path):
    """The Gold usage pattern: extra metadata columns survive the layer."""
    t = TxnTable(str(tmp_path / "t"))
    df = _df(spark, [("d1", "a", 1)]).withColumn("generated_at", F.lit("r1"))
    t.merge_overwrite_partitions(df, "date")
    assert t.read(spark).select("generated_at").first()[0] == "r1"


# ------------------------------------------------------------ row-level MERGE


def test_merge_upsert_updates_matched_inserts_unmatched(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(
        _df(spark, [("d1", "a", 1), ("d1", "b", 2), ("d2", "c", 3)]), "date"
    )
    # b updated in place, d inserted into d1, e inserted into new d3;
    # a and the whole of d2 untouched.
    affected = t.merge_upsert(
        spark, _df(spark, [("d1", "b", 20), ("d1", "d", 4), ("d3", "e", 5)]), ["k"]
    )
    assert affected == ["d1", "d3"]
    assert _rows(t.read(spark)) == [
        ("d1", "a", 1),
        ("d1", "b", 20),
        ("d1", "d", 4),
        ("d2", "c", 3),
        ("d3", "e", 5),
    ]


def test_merge_upsert_moves_key_across_partitions(spark, tmp_path):
    """A matched key whose partition value changed must leave exactly one row:
    the source's, in the source's partition (the old partition is rewritten
    without it)."""
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1), ("d1", "z", 9)]), "date")
    affected = t.merge_upsert(spark, _df(spark, [("d2", "a", 10)]), ["k"])
    assert affected == ["d1", "d2"]
    assert _rows(t.read(spark)) == [("d1", "z", 9), ("d2", "a", 10)]


def test_merge_upsert_composite_keys_and_untouched_partitions(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(
        _df(spark, [("d1", "a", 1), ("d2", "a", 2)]), "date"
    )
    snap_before = t.snapshot()
    d2_files_before = {r for r, pv in snap_before.files.items() if pv == "d2"}
    # Key (date, k): only (d1, a) matches — d2's (a) row is a different key.
    t.merge_upsert(spark, _df(spark, [("d1", "a", 100)]), ["date", "k"])
    assert _rows(t.read(spark)) == [("d1", "a", 100), ("d2", "a", 2)]
    # d2's physical files were not rewritten.
    d2_files_after = {r for r, pv in t.snapshot().files.items() if pv == "d2"}
    assert d2_files_after == d2_files_before


def test_merge_upsert_on_empty_table_is_all_inserts(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    assert t.merge_upsert(
        spark, _df(spark, [("d1", "a", 1)]), ["k"], partition_col="date"
    ) == ["d1"]
    assert _rows(t.read(spark)) == [("d1", "a", 1)]


def test_merge_upsert_rejects_duplicate_source_keys(spark, tmp_path):
    import pytest

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    with pytest.raises(ValueError, match="duplicate merge keys"):
        t.merge_upsert(spark, _df(spark, [("d1", "a", 1), ("d2", "a", 2)]), ["k"])


def test_merge_upsert_txn_marker_replay_and_crash(spark, tmp_path):
    """Crash-replay: a merge that staged files but died before the log commit
    leaves the table untouched; the replayed micro-batch (same app/batch ids)
    then applies exactly once."""
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    before = _rows(t.read(spark))

    real_try = t._try_commit

    def crash(version, commit):
        raise OSError("writer died before the commit point")

    t._try_commit = crash
    import pytest

    with pytest.raises(OSError):
        t.merge_upsert(
            spark, _df(spark, [("d1", "a", 2)]), ["k"], app_id="m", batch_id=0
        )
    t._try_commit = real_try
    assert _rows(t.read(spark)) == before  # crash invisible
    # Replay of the same batch applies...
    assert t.merge_upsert(
        spark, _df(spark, [("d1", "a", 2)]), ["k"], app_id="m", batch_id=0
    ) == ["d1"]
    assert _rows(t.read(spark)) == [("d1", "a", 2)]
    v = t.snapshot().version
    # ...and a second replay is a no-op at the table layer.
    assert t.merge_upsert(
        spark, _df(spark, [("d1", "a", 3)]), ["k"], app_id="m", batch_id=0
    ) == []
    assert t.snapshot().version == v
    assert _rows(t.read(spark)) == [("d1", "a", 2)]
    t.vacuum()  # the crashed attempt's staged files are collectable
    assert _rows(t.read(spark)) == [("d1", "a", 2)]


# ------------------------------------------------------------ schema evolution


def test_add_columns_is_metadata_only_and_time_travels(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    files_before = dict(t.snapshot().files)
    v_pre = t.snapshot().version

    v_evolved = t.add_columns([StructField("score", LongType(), True)])
    assert t.snapshot().files == files_before  # no data rewrite
    # Old files surface the new column as NULL.
    head = t.read(spark)
    assert head.schema["score"].dataType == LongType()
    assert head.select("score").first()[0] is None
    # Time travel to before the evolution reads the old schema.
    assert "score" not in t.read(spark, version=v_pre).columns
    assert "score" in t.read(spark, version=v_evolved).columns


def test_merge_upsert_after_evolution_writes_new_column(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1), ("d1", "b", 2)]), "date")
    t.add_columns([StructField("score", LongType(), True)])
    src = spark.createDataFrame(
        [("d1", "a", 10, 7)], "date string, k string, v long, score long"
    )
    t.merge_upsert(spark, src, ["k"])
    got = sorted(map(tuple, t.read(spark).select("date", "k", "v", "score").collect()))
    assert got == [("d1", "a", 10, 7), ("d1", "b", 2, None)]


def test_add_columns_race_keeps_rival_column(spark, tmp_path):
    """A schema evolution that loses the commit race to a rival evolution
    must widen the rival's schema, not the one it first read."""
    from pyspark.sql.types import LongType, StructField

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    real_try = t._try_commit
    stolen = {"done": False}

    def rival_then_commit(version, commit):
        if not stolen["done"]:
            stolen["done"] = True
            TxnTable(t.path).add_columns([StructField("c1", LongType(), True)])
        return real_try(version, commit)

    t._try_commit = rival_then_commit
    t.add_columns([StructField("c2", LongType(), True)])
    t._try_commit = real_try
    import json

    schema = json.loads(t.snapshot().schema_json)
    assert [f["name"] for f in schema["fields"]] == ["date", "k", "v", "c1", "c2"]
    assert t.read(spark).columns == ["date", "k", "v", "c1", "c2"]


def test_add_columns_rejects_existing_name(spark, tmp_path):
    import pytest
    from pyspark.sql.types import LongType, StructField

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    with pytest.raises(ValueError, match="already exists"):
        t.add_columns([StructField("v", LongType(), True)])


# ------------------------------------------------------------ row-level DELETE


def test_delete_keys_removes_rows_partition_scoped(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(
        _df(spark, [("d1", "a", 1), ("d1", "b", 2), ("d2", "c", 3)]), "date"
    )
    d2_files = {r for r, pv in t.snapshot().files.items() if pv == "d2"}
    affected = t.delete_keys(
        spark, spark.createDataFrame([("a",)], "k string"), ["k"]
    )
    assert affected == ["d1"]
    assert _rows(t.read(spark)) == [("d1", "b", 2), ("d2", "c", 3)]
    # d2 untouched physically.
    assert {r for r, pv in t.snapshot().files.items() if pv == "d2"} == d2_files
    # Deleting a partition's last row drops the partition entirely.
    t.delete_keys(spark, spark.createDataFrame([("c",)], "k string"), ["k"])
    assert _rows(t.read(spark)) == [("d1", "b", 2)]
    assert t.read(spark, partition_values=["d2"]).count() == 0


def test_delete_keys_noop_and_idempotent(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    v = t.snapshot().version
    # No key matches: no commit at all.
    assert t.delete_keys(
        spark, spark.createDataFrame([("zzz",)], "k string"), ["k"]
    ) == []
    assert t.snapshot().version == v
    # Idempotent under a txn marker: the replay is skipped.
    assert t.delete_keys(
        spark, spark.createDataFrame([("a",)], "k string"), ["k"],
        app_id="gdpr", batch_id=0,
    ) == ["d1"]
    assert t.delete_keys(
        spark, spark.createDataFrame([("a",)], "k string"), ["k"],
        app_id="gdpr", batch_id=0,
    ) == []
    assert _rows(t.read(spark)) == []
    # Physical removal needs vacuum (compliance note in the docstring).
    assert t.vacuum() > 0


def test_merge_delete_model_based_random_sequence(spark, tmp_path):
    """Model-based check: a random interleaving of merge_upsert and
    delete_keys must leave the table equal to a dict model applying the same
    operations, at every step, including after time travel to each version."""
    import random

    rng = random.Random(2026)
    t = TxnTable(str(tmp_path / "t"))
    model: dict = {}  # k -> (date, v)
    snapshots = []  # (version, model copy)

    keys = [f"k{i}" for i in range(12)]
    dates = ["d1", "d2", "d3"]
    for step in range(12):
        if t.snapshot().version >= 0 and model and rng.random() < 0.3:
            victims = rng.sample(sorted(model), k=min(2, len(model)))
            t.delete_keys(
                spark, spark.createDataFrame([(k,) for k in victims], "k string"), ["k"]
            )
            for k in victims:
                model.pop(k)
        else:
            batch = {
                rng.choice(keys): (rng.choice(dates), rng.randrange(1000))
                for _ in range(rng.randrange(1, 4))
            }
            df = _df(spark, [(d, k, v) for k, (d, v) in batch.items()])
            t.merge_upsert(spark, df, ["k"], partition_col="date")
            model.update(batch)
        got = {r["k"]: (r["date"], r["v"]) for r in t.read(spark).collect()}
        assert got == model, f"step {step}"
        snapshots.append((t.snapshot().version, dict(model)))

    # Time travel reproduces every historical state.
    for version, hist in snapshots:
        got = {r["k"]: (r["date"], r["v"]) for r in t.read(spark, version=version).collect()}
        assert got == hist, f"version {version}"


# ---------------------------------------------------------------- checkpoints


def test_checkpoint_preserves_state_txns_and_time_travel(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    t.merge_upsert(spark, _df(spark, [("d1", "b", 2)]), ["k"], app_id="j", batch_id=0)
    pre_ckpt_state = _rows(t.read(spark))
    v_ck = t.checkpoint()
    assert v_ck == t.snapshot().version

    # Post-checkpoint commits replay on top of the checkpoint base.
    t.merge_upsert(spark, _df(spark, [("d2", "c", 3)]), ["k"], app_id="j", batch_id=1)
    assert _rows(t.read(spark)) == [("d1", "a", 1), ("d1", "b", 2), ("d2", "c", 3)]
    # Txn markers carried through the checkpoint: batch 0 replay still no-ops.
    assert t.merge_upsert(
        spark, _df(spark, [("d1", "b", 99)]), ["k"], app_id="j", batch_id=0
    ) == []
    # Time travel both sides of the checkpoint.
    assert _rows(t.read(spark, version=v_ck)) == pre_ckpt_state
    assert _rows(t.read(spark, version=0)) == [("d1", "a", 1)]

    # The checkpoint is equivalent to a full replay: removing it must not
    # change any answer.
    import glob, os

    for f in glob.glob(os.path.join(t.log_dir, "*.checkpoint.json")):
        os.remove(f)
    assert _rows(t.read(spark)) == [("d1", "a", 1), ("d1", "b", 2), ("d2", "c", 3)]
    assert _rows(t.read(spark, version=v_ck)) == pre_ckpt_state


def test_compact_zorder_clusters_for_file_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER BY through the txn layer: data identical, the
    partition lands in n_files files, and a selective filter on either z
    column prunes files by parquet footer min/max alone."""
    import pyarrow.parquet as pq

    rng = __import__("random").Random(7)
    rows = [
        ("d1", f"k{i}", rng.randrange(1024) * 1_000_000 + rng.randrange(1024))
        for i in range(4000)
    ]
    # v encodes two dims: x = v div 1e6, y = v mod 1e6 — split into columns.
    t = TxnTable(str(tmp_path / "t"))
    df = (
        _df(spark, rows)
        .withColumn("x", (F.col("v") / 1_000_000).cast("long"))
        .withColumn("y", F.pmod(F.col("v"), F.lit(1_000_000)).cast("long"))
    )
    t.merge_overwrite_partitions(df.repartition(6), "date")
    before = sorted(map(tuple, t.read(spark).select("k", "x", "y").collect()))

    replaced = t.compact(spark, zorder_cols=["x", "y"], n_files=8)
    assert replaced >= 6
    assert sorted(map(tuple, t.read(spark).select("k", "x", "y").collect())) == before

    files = [os.path.join(t.path, r) for r in t.snapshot().files]
    assert len(files) == 8
    # Footer-stats pruning on each dimension. Bound math: x <= 127 pins the
    # top two interleaved x-bits, i.e. exactly 2 of the 8 equal z-octants —
    # two CONTIGUOUS z-intervals. File cuts come from repartitionByRange's
    # SAMPLED boundaries (per-partition seeds follow file-listing order, so
    # they wobble run-to-run): each interval covers at most 1 interior file
    # plus 2 boundary straddles, so worst case 6 of 8 files hit per column.
    # A single-sort layout hits 8/8 on the non-sorted column — any bound
    # < 8 on BOTH columns is the z-vs-single-sort claim. (A previous
    # `<= 4` assert sat exactly at the straddle limit and flaked at 5.)
    for col in ("x", "y"):
        hit = 0
        for f in files:
            pf = pq.ParquetFile(f)
            idx = pf.schema_arrow.get_field_index(col)
            md = pf.metadata
            st = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
            fmin, fmax = min(s.min for s in st), max(s.max for s in st)
            if fmax >= 0 and fmin <= 127:
                hit += 1
        assert hit <= 6, (col, hit, len(files))
    # The rewritten files keep their data-skipping stats, so the reader
    # prunes from the log alone.
    snap = t.snapshot()
    assert set(snap.stats) == set(snap.files)
    assert len(t.read(spark, where=[("x", "<=", 127)]).inputFiles()) < 8


def test_history_and_restore_round_trip(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    t.merge_upsert(spark, _df(spark, [("d1", "a", 2), ("d2", "b", 3)]), ["k"],
                   app_id="j", batch_id=0)
    t.delete_keys(spark, spark.createDataFrame([("b",)], "k string"), ["k"])
    v_target = 1  # state after the upsert

    h = t.history()
    assert [e["version"] for e in h] == [2, 1, 0]  # newest first
    assert h[1]["txn"] == {"app_id": "j", "batch_id": 0}

    want = sorted(map(tuple, t.read(spark, version=v_target).select("date", "k", "v").collect()))
    new_head = t.restore(v_target)
    assert new_head == 3
    assert _rows(t.read(spark)) == want == [("d1", "a", 2), ("d2", "b", 3)]
    # The restore is itself history: undo it by restoring the pre-restore head.
    t.restore(2)
    assert _rows(t.read(spark)) == [("d1", "a", 2)]
    # Vacuum keeps the restored-current files intact.
    t.vacuum()
    assert _rows(t.read(spark)) == [("d1", "a", 2)]


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    import pytest

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 2)]), "date")
    t.vacuum()  # v0's files are gone
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(0)
    with pytest.raises(ValueError, match="does not exist"):
        t.restore(99)


def test_auto_checkpoint_every_10_commits(spark, tmp_path):
    import glob

    t = TxnTable(str(tmp_path / "t"))
    for i in range(11):  # versions 0..10
        t.merge_overwrite_partitions(_df(spark, [("d1", "a", i)]), "date")
    cks = glob.glob(os.path.join(t.log_dir, "*.checkpoint.json"))
    assert [os.path.basename(c) for c in cks] == [f"{10:020d}.checkpoint.json"]
    assert _rows(t.read(spark)) == [("d1", "a", 10)]
    assert _rows(t.read(spark, version=3)) == [("d1", "a", 3)]


def test_vacuum_retention_window(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    for i in range(4):  # versions 0..3
        t.merge_overwrite_partitions(_df(spark, [("d1", "a", i)]), "date")
    # Retain the 2 most recent prior versions: v1's files must survive…
    t.vacuum(retain_last=2)
    assert _rows(t.read(spark, version=1)) == [("d1", "a", 1)]
    assert _rows(t.read(spark, version=3)) == [("d1", "a", 3)]
    # …but v0's are gone (logically intact log, physically vacuumed files).
    try:
        rows = _rows(t.read(spark, version=0))
        assert rows == []  # scan of missing files may surface as empty…
    except Exception:
        pass  # …or as a read error; either proves physical removal
    # Retention 0 collapses to current-only.
    t.vacuum()
    assert _rows(t.read(spark)) == [("d1", "a", 3)]


def test_merge_upsert_rejects_missing_columns(spark, tmp_path):
    import pytest

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    src = spark.createDataFrame([("d1", "a")], "date string, k string")
    with pytest.raises(ValueError, match="missing table columns"):
        t.merge_upsert(spark, src, ["k"])


def test_concurrent_writers_both_land(spark, tmp_path):
    """TRUE concurrency (not a simulated race): two threads merge different
    partitions at once; the exclusive-create commit race must serialize them
    with both commits applied and consecutive versions."""
    import threading

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d0", "z", 0)]), "date")
    errs = []

    def writer(pv, val):
        try:
            TxnTable(t.path).merge_upsert(
                spark, _df(spark, [(pv, f"k{pv}", val)]), ["k"], partition_col="date"
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [
        threading.Thread(target=writer, args=(f"d{i}", i)) for i in (1, 2, 3)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert _rows(t.read(spark)) == [
        ("d0", "z", 0),
        ("d1", "kd1", 1),
        ("d2", "kd2", 2),
        ("d3", "kd3", 3),
    ]
    assert t.snapshot().version == 3


def test_overlapping_merge_race_raises_not_clobbers(spark, tmp_path):
    """A merge that loses the commit race to a rival commit touching the SAME
    partition must raise ConcurrentModificationError — committing its staged
    rewrite (computed from the pre-rival snapshot) would silently undo the
    rival's rows. The rival's commit must survive intact."""
    import pytest

    from data_lake_medallion_architecture_project_spark.storage import ConcurrentModificationError

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1), ("d1", "b", 2)]), "date")

    real_try = t._try_commit
    fired = {"done": False}

    def rival_then_commit(version, commit):
        if not fired["done"]:
            fired["done"] = True
            # Rival lands first, updating a row in the same partition.
            TxnTable(t.path).merge_upsert(
                spark, _df(spark, [("d1", "b", 200)]), ["date", "k"]
            )
        return real_try(version, commit)

    t._try_commit = rival_then_commit
    with pytest.raises(ConcurrentModificationError, match="merge_upsert"):
        t.merge_upsert(spark, _df(spark, [("d1", "a", 100)]), ["date", "k"])
    t._try_commit = real_try
    # Rival's update intact, loser's staged change NOT applied.
    assert _rows(t.read(spark)) == [("d1", "a", 1), ("d1", "b", 200)]
    # Re-running against the fresh state succeeds.
    t.merge_upsert(spark, _df(spark, [("d1", "a", 100)]), ["date", "k"])
    assert _rows(t.read(spark)) == [("d1", "a", 100), ("d1", "b", 200)]


def test_disjoint_merge_race_retries_and_lands(spark, tmp_path):
    """Losing the race to a rival on a DIFFERENT partition is benign: the
    loser's read set is untouched, so it must retry and land (this is what
    keeps independent per-partition writers lock-free)."""
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1), ("d2", "x", 9)]), "date")

    real_try = t._try_commit
    fired = {"done": False}

    def rival_then_commit(version, commit):
        if not fired["done"]:
            fired["done"] = True
            TxnTable(t.path).merge_upsert(
                spark, _df(spark, [("d2", "x", 90)]), ["date", "k"]
            )
        return real_try(version, commit)

    t._try_commit = rival_then_commit
    got = t.merge_upsert(spark, _df(spark, [("d1", "a", 100)]), ["date", "k"])
    t._try_commit = real_try
    assert got == ["d1"]
    assert _rows(t.read(spark)) == [("d1", "a", 100), ("d2", "x", 90)]


def test_delete_race_on_same_partition_raises(spark, tmp_path):
    import pytest

    from data_lake_medallion_architecture_project_spark.storage import ConcurrentModificationError

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1), ("d1", "b", 2)]), "date")

    real_try = t._try_commit
    fired = {"done": False}

    def rival_then_commit(version, commit):
        if not fired["done"]:
            fired["done"] = True
            TxnTable(t.path).merge_upsert(
                spark, _df(spark, [("d1", "b", 200)]), ["date", "k"]
            )
        return real_try(version, commit)

    t._try_commit = rival_then_commit
    keys = spark.createDataFrame([("d1", "a")], "date string, k string")
    with pytest.raises(ConcurrentModificationError, match="delete_keys"):
        t.delete_keys(spark, keys, ["date", "k"])
    t._try_commit = real_try
    assert _rows(t.read(spark)) == [("d1", "a", 1), ("d1", "b", 200)]


def test_compact_race_with_merge_raises(spark, tmp_path):
    """OPTIMIZE racing a MERGE of the same partition must not resurrect the
    pre-merge rows it compacted."""
    import pytest

    from data_lake_medallion_architecture_project_spark.storage import ConcurrentModificationError

    t = TxnTable(str(tmp_path / "t"))
    rows = [("d1", k, i) for i, k in enumerate("abcd")]
    t.merge_overwrite_partitions(_df(spark, rows).repartition(3), "date")
    assert len(t.snapshot().files) > 1

    real_try = t._try_commit
    fired = {"done": False}

    def rival_then_commit(version, commit):
        if not fired["done"]:
            fired["done"] = True
            TxnTable(t.path).merge_upsert(
                spark, _df(spark, [("d1", "a", 100)]), ["date", "k"]
            )
        return real_try(version, commit)

    t._try_commit = rival_then_commit
    with pytest.raises(ConcurrentModificationError, match="compact"):
        t.compact(spark)
    t._try_commit = real_try
    got = dict(
        (k, v) for _, k, v in _rows(t.read(spark))
    )
    assert got["a"] == 100  # rival's merge survived

    # Aborted compaction must not orphan its staged rewrite until vacuum:
    # every on-disk parquet either belongs to the live snapshot or to a
    # committed historical version (the rival's), never to the dead staging.
    import os

    committed = set()
    for v in range(t.snapshot().version + 1):
        committed.update(t.snapshot(version=v).files)
    on_disk = set()
    for root, _dirs, names in os.walk(t.path):
        for n in names:
            if n.endswith(".parquet") and "_txn_log" not in root:
                on_disk.add(os.path.relpath(os.path.join(root, n), t.path))
    assert on_disk <= committed, f"orphaned staged files: {on_disk - committed}"


def test_evolution_survives_pre_evolution_overwrite(spark, tmp_path):
    """add_columns must not be undone by a later merge_overwrite_partitions
    whose source predates the evolution: the commit carries no schema_json on
    an existing table, so the widened schema stays and the overwritten
    partition reads the new column as NULL."""
    from pyspark.sql.types import LongType, StructField

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    t.add_columns([StructField("score", LongType())])
    assert "score" in t.read(spark).columns

    # Pre-evolution-shaped source overwrites a partition.
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 10), ("d2", "b", 2)]), "date")
    out = t.read(spark)
    assert "score" in out.columns  # evolution survived
    assert [r["score"] for r in out.collect()] == [None, None]


def test_overwrite_rejects_unknown_columns(spark, tmp_path):
    """Source columns the committed schema doesn't know about would be
    silently dropped on every read — reject them up front."""
    import pytest

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    wide = _df(spark, [("d1", "a", 2)]).withColumn("extra", F.lit(7))
    with pytest.raises(ValueError, match="unknown to the table"):
        t.merge_overwrite_partitions(wide, "date")
    with pytest.raises(ValueError, match="unknown to the table"):
        t.merge_upsert(spark, wide, ["date", "k"])


# ------------------------------- CHECK constraints -------------------------


def test_constraint_rejects_violating_writes(spark, tmp_path):
    import pytest

    from data_lake_medallion_architecture_project_spark.storage.txnlog import (
        ConstraintViolationError,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    t.add_constraint(spark, "v_positive", "v > 0")
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        t.merge_overwrite_partitions(_df(spark, [("d1", "a", -5)]), "date")
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        t.merge_upsert(spark, _df(spark, [("d1", "z", 0)]), keys=["k"])
    # The rejected writes committed nothing; valid writes still land.
    assert _rows(t.read(spark)) == [("d1", "a", 1)]
    t.merge_upsert(spark, _df(spark, [("d1", "z", 7)]), keys=["k"])
    assert ("d1", "z", 7) in _rows(t.read(spark))


def test_constraint_null_passes_and_existing_data_validated(spark, tmp_path):
    import pytest

    from data_lake_medallion_architecture_project_spark.storage.txnlog import (
        ConstraintViolationError,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(
        spark.createDataFrame([("d1", "a", None)], "date string, k string, v long"),
        "date",
    )
    # SQL CHECK: NULL is not a violation — adding over a NULL row succeeds...
    t.add_constraint(spark, "v_positive", "v > 0")
    # ...and NULL rows keep writing.
    t.merge_upsert(
        spark,
        spark.createDataFrame([("d1", "b", None)], "date string, k string, v long"),
        keys=["k"],
    )
    # But a constraint the existing data already violates is rejected.
    t2 = TxnTable(str(tmp_path / "t2"))
    t2.merge_overwrite_partitions(_df(spark, [("d1", "a", -1)]), "date")
    with pytest.raises(ConstraintViolationError, match="add_constraint"):
        t2.add_constraint(spark, "v_positive", "v > 0")
    assert t2.snapshot().constraints == {}


def test_constraint_survives_checkpoint_and_drop(spark, tmp_path):
    import pytest

    from data_lake_medallion_architecture_project_spark.storage.txnlog import (
        ConstraintViolationError,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    t.add_constraint(spark, "v_pos", "v > 0")
    t.checkpoint()  # constraint must ride the checkpoint, not just replay
    t.merge_overwrite_partitions(_df(spark, [("d2", "b", 2)]), "date")
    assert t.snapshot().constraints == {"v_pos": "v > 0"}
    with pytest.raises(ConstraintViolationError):
        t.merge_overwrite_partitions(_df(spark, [("d3", "c", -1)]), "date")
    t.drop_constraint("v_pos")
    t.merge_overwrite_partitions(_df(spark, [("d3", "c", -1)]), "date")
    assert ("d3", "c", -1) in _rows(t.read(spark))
    with pytest.raises(ValueError):
        t.drop_constraint("v_pos")


# ------------------------------- data skipping -----------------------------


def test_where_prunes_files_by_footer_stats(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    # Two partitions with disjoint v ranges → distinct files with distinct
    # footer stats.
    t.merge_overwrite_partitions(
        _df(spark, [("d1", "a", 1), ("d1", "b", 9)]), "date"
    )
    t.merge_overwrite_partitions(
        _df(spark, [("d2", "c", 100), ("d2", "d", 199)]), "date"
    )
    snap = t.snapshot()
    assert snap.stats  # staging collected footer stats
    assert all("v" in s and "k" in s for s in snap.stats.values())

    d1_files = {f for f, pv in snap.files.items() if pv == "d1"}
    d2_files = {f for f, pv in snap.files.items() if pv == "d2"}

    # Predicate only d2's files can satisfy: every d1 file is skipped.
    df = t.read(spark, where=[("v", ">=", 100)])
    assert sorted(r["k"] for r in df.collect()) == ["c", "d"]
    scanned = {f.split("_data/")[-1] for f in df.inputFiles()}
    assert scanned <= {f.split("_data/")[-1] for f in d2_files}
    assert len(scanned) < len(snap.files)  # something was actually pruned

    # Residual row filter still applies inside surviving files.
    df2 = t.read(spark, where=[("v", ">", 100)])
    assert sorted(r["k"] for r in df2.collect()) == ["d"]

    # String stats prune too — only files whose k-range covers 'a' survive.
    df3 = t.read(spark, where=[("k", "=", "a")])
    assert [r["v"] for r in df3.collect()] == [1]
    scanned3 = {f.split("_data/")[-1] for f in df3.inputFiles()}
    assert scanned3 <= {f.split("_data/")[-1] for f in d1_files}

    # Unsatisfiable predicate: zero files, empty result, schema intact.
    df4 = t.read(spark, where=[("v", ">", 10_000)])
    assert df4.count() == 0 and "k" in df4.columns


def test_stats_survive_checkpoint_and_restore(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    v0 = t.snapshot().version
    t.checkpoint()
    t.merge_overwrite_partitions(_df(spark, [("d2", "b", 50)]), "date")
    assert set(t.snapshot().stats) == set(t.snapshot().files)  # via checkpoint
    t.restore(v0)
    snap = t.snapshot()
    assert set(snap.stats) == set(snap.files)  # restore carried stats over
    assert len(t.read(spark, where=[("v", "=", 1)]).inputFiles()) == 1


# ------------------------------ deletion vectors ---------------------------


def test_dv_delete_hides_rows_without_rewriting_files(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(
        _df(spark, [("d1", "a", 1), ("d1", "b", 2), ("d2", "c", 3)]), "date"
    )
    files_before = set(t.snapshot().files)
    n = t.delete_keys_dv(
        spark, spark.createDataFrame([("a",), ("c",)], "k string"), keys=["k"]
    )
    assert n == 2
    # Merge-on-read: the data files are untouched; only a DV landed.
    snap = t.snapshot()
    assert set(snap.files) == files_before
    assert len(snap.dvs) == 1
    assert _rows(t.read(spark)) == [("d1", "b", 2)]
    # Time travel to before the DV still sees everything.
    assert len(_rows(t.read(spark, version=0))) == 3


def test_dv_redelete_counts_zero_and_stacks(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1), ("d1", "b", 2)]), "date")
    assert t.delete_keys_dv(spark, spark.createDataFrame([("a",)], "k string"), ["k"]) == 1
    # Re-deleting the same key: already covered by a live DV → 0 rows.
    assert t.delete_keys_dv(spark, spark.createDataFrame([("a",)], "k string"), ["k"]) == 0
    # A second DV over a different key stacks with the first.
    assert t.delete_keys_dv(spark, spark.createDataFrame([("b",)], "k string"), ["k"]) == 1
    assert _rows(t.read(spark)) == []


def test_dv_then_merge_and_compact_fold_correctly(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(
        _df(spark, [("d1", "a", 1), ("d1", "b", 2), ("d1", "c", 3)]), "date"
    )
    t.delete_keys_dv(spark, spark.createDataFrame([("b",)], "k string"), ["k"])
    # A row-level MERGE reads THROUGH the DV: 'b' must not be resurrected.
    t.merge_upsert(spark, _df(spark, [("d1", "a", 10)]), keys=["k"])
    assert _rows(t.read(spark)) == [("d1", "a", 10), ("d1", "c", 3)]
    # Compaction folds the DV into rewritten files; result unchanged.
    t.compact(spark)
    assert _rows(t.read(spark)) == [("d1", "a", 10), ("d1", "c", 3)]


def test_dv_exactly_once_and_vacuum_keeps_dv_files(spark, tmp_path):
    import os

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1), ("d1", "b", 2)]), "date")
    assert (
        t.delete_keys_dv(
            spark, spark.createDataFrame([("a",)], "k string"), ["k"],
            app_id="purge", batch_id=0,
        )
        == 1
    )
    # Replay of the same batch: marker short-circuits.
    assert (
        t.delete_keys_dv(
            spark, spark.createDataFrame([("b",)], "k string"), ["k"],
            app_id="purge", batch_id=0,
        )
        == 0
    )
    t.vacuum()
    # The DV file survives vacuum — it is live metadata of the head snapshot.
    (dv_rel,) = t.snapshot().dvs
    dv_dir = os.path.join(str(tmp_path / "t"), dv_rel)
    assert any(f.endswith(".parquet") for _r, _d, fs in os.walk(dv_dir) for f in fs)
    assert _rows(t.read(spark)) == [("d1", "b", 2)]


def test_restore_resets_dv_state(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1), ("d1", "b", 2)]), "date")
    v0 = t.snapshot().version
    t.delete_keys_dv(spark, spark.createDataFrame([("a",)], "k string"), ["k"])
    assert _rows(t.read(spark)) == [("d1", "b", 2)]
    t.restore(v0)
    # Without dv_reset the newer DV would keep deleting 'a' from the
    # restored files.
    assert _rows(t.read(spark)) == [("d1", "a", 1), ("d1", "b", 2)]


# ------------------------------- shallow clone -----------------------------


def test_shallow_clone_zero_copy_then_copy_on_write(spark, tmp_path):
    from data_lake_medallion_architecture_project_spark.storage import clone_shallow

    src = TxnTable(str(tmp_path / "src"))
    src.merge_overwrite_partitions(
        _df(spark, [("d1", "a", 1), ("d2", "b", 2)]), "date"
    )
    src.add_constraint(spark, "v_pos", "v > 0")
    clone = clone_shallow(src, str(tmp_path / "clone"))

    # Zero copy: the clone owns no data files yet, but reads everything.
    assert not any(
        f.endswith(".parquet")
        for _r, _d, fs in os.walk(os.path.join(str(tmp_path / "clone"), "_data"))
        for f in fs
    )
    assert _rows(clone.read(spark)) == _rows(src.read(spark))

    # Copy-on-write: a clone MERGE stages fresh files under the clone and
    # never touches the source.
    clone.merge_upsert(spark, _df(spark, [("d1", "a", 100)]), ["k"])
    assert _rows(clone.read(spark)) == [("d1", "a", 100), ("d2", "b", 2)]
    assert _rows(src.read(spark)) == [("d1", "a", 1), ("d2", "b", 2)]

    # ...and source writes after the clone point stay invisible to the clone.
    src.merge_upsert(spark, _df(spark, [("d2", "b", 200)]), ["k"])
    assert _rows(clone.read(spark)) == [("d1", "a", 100), ("d2", "b", 2)]

    # Constraints were carried: the clone rejects violating writes.
    import pytest

    from data_lake_medallion_architecture_project_spark.storage.txnlog import (
        ConstraintViolationError,
    )

    with pytest.raises(ConstraintViolationError):
        clone.merge_upsert(spark, _df(spark, [("d3", "x", -1)]), ["k"])


def test_shallow_clone_carries_deletion_vectors(spark, tmp_path):
    from data_lake_medallion_architecture_project_spark.storage import clone_shallow

    src = TxnTable(str(tmp_path / "src"))
    src.merge_overwrite_partitions(_df(spark, [("d1", "a", 1), ("d1", "b", 2)]), "date")
    src.delete_keys_dv(spark, spark.createDataFrame([("a",)], "k string"), ["k"])
    clone = clone_shallow(src, str(tmp_path / "clone"))
    # The clone sees the source's merge-on-read state, not the raw files.
    assert _rows(clone.read(spark)) == [("d1", "b", 2)]


def test_shallow_clone_refuses_overwrite(spark, tmp_path):
    import pytest

    from data_lake_medallion_architecture_project_spark.storage import clone_shallow

    src = TxnTable(str(tmp_path / "src"))
    src.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    clone_shallow(src, str(tmp_path / "clone"))
    with pytest.raises(ValueError):
        clone_shallow(src, str(tmp_path / "clone"))


def test_describe_detail(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1), ("d2", "b", 2)]), "date")
    t.add_constraint(spark, "v_pos", "v > 0")
    t.delete_keys_dv(spark, spark.createDataFrame([("a",)], "k string"), ["k"])
    d = t.detail()
    assert d["version"] == t.snapshot().version
    assert d["num_files"] == len(t.snapshot().files) and d["num_files"] > 0
    assert d["size_bytes"] > 0
    assert d["partition_col"] == "date"
    assert d["partitions"] == ["d1", "d2"]
    assert d["constraints"] == {"v_pos": "v > 0"}
    assert d["num_deletion_vectors"] == 1


def test_generated_column_derives_and_guards(spark, tmp_path):
    import pytest

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d_1", "a", 1)]), "date")
    t.set_generated_column("date", "concat('d_', CAST(v % 2 AS STRING))")
    # Source omits the partition column entirely: it is derived.
    src = spark.createDataFrame([("b", 2), ("c", 3)], "k string, v long")
    t.merge_upsert(spark, src, keys=["k"])
    assert _rows(t.read(spark)) == [("d_0", "b", 2), ("d_1", "a", 1), ("d_1", "c", 3)]
    # A supplied value that disagrees with the expression is rejected.
    with pytest.raises(ValueError, match="generated column"):
        t.merge_upsert(spark, _df(spark, [("d_9", "x", 4)]), keys=["k"])
    # A supplied value that agrees passes.
    t.merge_upsert(spark, _df(spark, [("d_0", "x", 4)]), keys=["k"])
    assert ("d_0", "x", 4) in _rows(t.read(spark))
    # Declaration survives checkpointing.
    t.checkpoint()
    assert t.snapshot().generated == {"date": "concat('d_', CAST(v % 2 AS STRING))"}


def test_merge_race_with_rival_dv_raises(spark, tmp_path):
    """A rival DV landing on an affected partition must fail a merge's race
    retry: the merge's staged rewrite was computed WITHOUT the rival's
    deletes, so committing it would resurrect them."""
    import pytest

    from data_lake_medallion_architecture_project_spark.storage.txnlog import (
        ConcurrentModificationError,
    )

    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(
        _df(spark, [("d1", "a", 1), ("d1", "b", 2)]), "date"
    )
    real_try = t._try_commit
    stolen = {"done": False}

    def steal_with_dv(version, commit):
        if not stolen["done"] and commit.get("add"):
            stolen["done"] = True
            # Rival: a deletion vector over partition d1 wins the version.
            t._try_commit = real_try
            t.delete_keys_dv(
                spark, spark.createDataFrame([("b",)], "k string"), ["k"]
            )
            t._try_commit = steal_with_dv
        return real_try(version, commit)

    t._try_commit = steal_with_dv
    with pytest.raises(ConcurrentModificationError, match="merge_upsert"):
        t.merge_upsert(spark, _df(spark, [("d1", "a", 10)]), ["k"])
    t._try_commit = real_try
    # The rival's delete survived; the conflicted merge left no trace.
    assert _rows(t.read(spark)) == [("d1", "a", 1)]
    # Re-run against the fresh state: lands, and 'b' stays deleted.
    t.merge_upsert(spark, _df(spark, [("d1", "a", 10)]), ["k"])
    assert _rows(t.read(spark)) == [("d1", "a", 10)]


def test_shallow_clone_carries_generated_columns(spark, tmp_path):
    from data_lake_medallion_architecture_project_spark.storage import clone_shallow

    src = TxnTable(str(tmp_path / "src"))
    src.merge_overwrite_partitions(_df(spark, [("d_1", "a", 1)]), "date")
    src.set_generated_column("date", "concat('d_', CAST(v % 2 AS STRING))")
    clone = clone_shallow(src, str(tmp_path / "clone"))
    assert clone.snapshot().generated == src.snapshot().generated
    # The clone derives the partition column just like the source would.
    clone.merge_upsert(
        spark, spark.createDataFrame([("b", 2)], "k string, v long"), ["k"]
    )
    assert ("d_0", "b", 2) in _rows(clone.read(spark))


def test_vacuum_dry_run_counts_without_deleting(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 1)]), "date")
    t.merge_overwrite_partitions(_df(spark, [("d1", "a", 2)]), "date")
    before = _rows(t.read(spark, version=0))
    n = t.vacuum(dry_run=True)
    assert n > 0
    # Nothing was deleted: time travel still works...
    assert _rows(t.read(spark, version=0)) == before
    # ...and the real vacuum removes exactly what the dry run reported.
    assert t.vacuum() == n


def test_compact_partial_dv_partitions_retires_dv_incrementally(spark, tmp_path):
    """A DV covering {d1, d2} must shrink to {d2} when only d1 is compacted
    (and die entirely once d2 is too) — otherwise partition-at-a-time
    compaction pins both partitions merge-on-read forever."""
    t = TxnTable(str(tmp_path / "t"))
    t.merge_overwrite_partitions(
        _df(spark, [("d1", "a", 1), ("d1", "b", 2), ("d2", "c", 3), ("d2", "d", 4)]),
        "date",
    )
    # One DV spanning both partitions.
    t.delete_keys_dv(spark, spark.createDataFrame([("a",), ("c",)], "k string"), ["k"])
    snap = t.snapshot()
    assert len(snap.dvs) == 1
    assert sorted(next(iter(snap.dvs.values()))) == ["d1", "d2"]

    # Compact ONLY d1: the DV survives but now covers just d2, and its dead
    # d1 (file,pos) entries are gone.
    t.compact(spark, partition_values=["d1"])
    snap = t.snapshot()
    assert len(snap.dvs) == 1
    assert list(snap.dvs.values()) == [["d2"]]
    assert _rows(t.read(spark)) == [("d1", "b", 2), ("d2", "d", 4)]

    # Compact d2: the DV is fully materialized and dropped.
    t.compact(spark, partition_values=["d2"])
    snap = t.snapshot()
    assert snap.dvs == {}
    assert _rows(t.read(spark)) == [("d1", "b", 2), ("d2", "d", 4)]
    # Idempotent: both partitions are single-file and DV-free now.
    assert t.compact(spark) == 0


def test_where_never_prunes_nan_rows(spark, tmp_path):
    """Parquet footer min/max exclude NaN but Spark sorts NaN above every
    numeric — >/>= pruning on a float column must not skip a file whose only
    matching rows are NaN."""
    import math

    t = TxnTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [("d1", "a", 1.0), ("d1", "b", float("nan")), ("d2", "c", 500.0)],
        "date string, k string, x double",
    )
    t.merge_overwrite_partitions(df, "date")
    # d1's footer max for x is 1.0 (NaN excluded) — naive pruning would skip
    # the whole d1 file even though its NaN row satisfies x > 50 in Spark.
    got = sorted(r["k"] for r in t.read(spark, where=[("x", ">", 50.0)]).collect())
    assert got == ["b", "c"]
    got = sorted(r["k"] for r in t.read(spark, where=[("x", ">=", 50.0)]).collect())
    assert got == ["b", "c"]
    # < pruning on floats is still safe (NaN can never satisfy it) and the
    # row filter applies.
    got = sorted(r["k"] for r in t.read(spark, where=[("x", "<", 50.0)]).collect())
    assert got == ["a"]
    # A NaN comparison value never prunes from NaN-free footer stats.
    got = sorted(
        r["k"] for r in t.read(spark, where=[("x", "=", float("nan"))]).collect()
    )
    assert got == ["b"]
    assert math.isnan  # keep the import honest

