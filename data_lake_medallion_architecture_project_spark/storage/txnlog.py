"""Minimal Delta-style transactional table layer over parquet.

The north star is "DataFrame transformations over Delta/Parquet"; delta-rs is
not available in this environment, so this module implements the subset of the
Delta Lake protocol the Gold maintenance path actually needs, from scratch and
Spark-first:

* **Atomic versioned commits** — a table is a ``_txn_log/`` of JSON commit
  files ``%020d.json`` plus immutable parquet data files under ``_data/``.
  A commit becomes visible by an O_EXCL exclusive create of the next version
  file (the same atomicity primitive delta-rs uses on local/HDFS stores);
  readers never see half-written state because data files are written *before*
  the commit that references them.
* **Idempotent writer transactions** — each commit may carry a
  ``{"app_id", "batch_id"}`` marker (Delta's ``txn`` action). A replayed
  Structured Streaming micro-batch (same app_id, batch_id ≤ last committed)
  is skipped, which upgrades foreachBatch from at-least-once to exactly-once.
* **MERGE-style partition upsert** — ``merge_overwrite_partitions`` adds the
  new files and removes the superseded files of exactly the partitions present
  in the incoming DataFrame, in one atomic commit (Delta's
  ``replaceWhere``/MERGE-by-partition pattern).
* **Row-level MERGE** — ``merge_upsert`` is keyed ``WHEN MATCHED THEN UPDATE
  SET * / WHEN NOT MATCHED THEN INSERT *``: it locates the partitions holding
  matched keys (column-pruned scan of key + partition columns only), rewrites
  just those partitions read-modify-write, and publishes adds+removes in one
  atomic commit.
* **Schema evolution** — ``add_columns`` commits a widened schema as a pure
  metadata action; readers apply the committed schema explicitly, so old
  files surface the new columns as NULL and time travel to a pre-evolution
  version reads back the old schema.
* **File skipping** — the log stores each file's partition value, so readers
  prune files driver-side from log metadata alone, like Delta data skipping
  (no directory listing on the read path).
* **Time travel** — ``read(spark, version=N)`` reconstructs any historical
  snapshot, because removed files are logically deleted (dropped from the
  snapshot) but physically retained until ``vacuum()``.
* **Log checkpointing** — ``checkpoint()`` collapses the snapshot into a
  ``NNN.checkpoint.json`` (Delta's checkpoint file); replay cost becomes
  O(commits since checkpoint), the metadata fix for long-lived tables.
* **One commit path** — every write commits through ``TxnTable._commit``; a
  lost race re-reads the log and re-validates before it retries.

Scale notes: the log is O(commits + live files) JSON — the same driver-side
metadata cost Delta pays before checkpointing; data files never move or
rewrite except for the partitions a MERGE touches, and concurrent writers are
serialized by the exclusive-create commit race (optimistic concurrency: losers
re-read the log, re-validate their transaction, and retry).

Reference behavior being replaced: the reference's Gold sink is a bare
timestamped-file append with no transactionality at all
(``/root/reference/storage/local_storage.py:144-155``); its ingest ledger has
a write-then-commit crash window (SURVEY.md §3.2). Both failure modes are
closed here rather than ported.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG_DIR = "_txn_log"
_DATA_DIR = "_data"
_CHECKPOINT_EVERY = 10  # auto-checkpoint cadence, like Delta's default
# A scanned row's file as the log-relative path a deletion vector records.
_REL_PATH = (
    "substring(_metadata.file_path, instr(_metadata.file_path, '/_data/') + 1)"
)


def _file_column_stats(path: str) -> dict:
    """Per-column [min, max] from the parquet footer (Delta-style data
    skipping stats), collected once at staging time — a driver-side metadata
    read, no data scan. Only JSON-faithful types are kept (int/float/str/
    bool); columns without usable footer stats are simply absent, which the
    reader treats as un-prunable."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    out: dict = {}
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(lo, (int, float, str, bool)):
                continue
            name = col.path_in_schema
            if name in out:
                out[name] = [min(out[name][0], lo), max(out[name][1], hi)]
            else:
                out[name] = [lo, hi]
    return out


def _file_may_match(stats: dict, where: list) -> bool:
    """Can a file with these footer stats contain a row satisfying every
    (col, op, value) predicate? Missing stats → maybe (never prune)."""
    for col, op, val in where:
        if col not in stats:
            continue
        lo, hi = stats[col]
        # Parquet footer min/max EXCLUDE NaN, but Spark SQL orders NaN above
        # every numeric — a file whose only rows matching `col > v` are NaN
        # would be wrongly pruned from its NaN-free footer stats. Float is
        # the only stat type that can hide NaN rows, so its upper bound is
        # untrusted for >/>= pruning; a NaN comparison value likewise never
        # prunes (Spark evaluates NaN = NaN as true). </ >= stay safe: NaN
        # sorts above everything, so it can never satisfy them.
        is_float = isinstance(lo, float) or isinstance(hi, float)
        if is_float and op in (">", ">="):
            continue
        if isinstance(val, float) and val != val:
            continue
        if (
            (op == "=" and not (lo <= val <= hi))
            or (op == "<" and not lo < val)
            or (op == "<=" and not lo <= val)
            or (op == ">" and not hi > val)
            or (op == ">=" and not hi >= val)
        ):
            return False
    return True


class ConcurrentModificationError(RuntimeError):
    """A concurrent commit changed files this transaction read and rewrote.

    Raised by the row-level paths (``merge_upsert``, ``delete_keys``,
    ``compact``) when the commit race is lost AND the fresh log shows a
    different file set for an affected partition than the one the rewrite was
    computed from — committing the staged files anyway would silently undo
    the concurrent writer's rows (Delta raises
    ``ConcurrentAppendException``/``ConcurrentDeleteReadException`` here).
    Conflicts are detected at PARTITION granularity: concurrent commits to
    disjoint partitions retry and land; the caller of a conflicted commit
    should re-run the whole operation against the new table state.
    """


def _state_actions(snap, path=lambda rel: rel) -> dict:
    """The actions that re-create ``snap``'s files (with their stats), its
    deletion-vector state and its schema; ``path`` maps each logged path."""
    commit = {
        "add": [
            {"path": path(rel), "partition": pv, "stats": snap.stats.get(rel)}
            for rel, pv in sorted(snap.files.items())
        ],
        "dv_reset": {path(p): parts for p, parts in snap.dvs.items()},
    }
    if snap.schema_json:
        commit["schema_json"] = snap.schema_json
    return commit


def _restart(_fresh) -> None:
    """``_commit`` guard for a transaction any lost race invalidates."""
    raise ConcurrentModificationError("lost the commit race; restart")


def _reject_unknown_columns(df: DataFrame, known) -> None:
    unknown = [c for c in df.columns if c not in known]
    if unknown:
        raise ValueError(
            f"source has columns unknown to the table {unknown}; "
            "add_columns() the table first"
        )


class ConstraintViolationError(ValueError):
    """Incoming rows violate a table CHECK constraint.

    Delta semantics: a row violates when the constraint expression evaluates
    to FALSE; NULL passes (SQL-standard CHECK). The write is rejected before
    any commit, so the table never holds a violating row — readers can rely
    on the invariant without re-filtering.
    """


@dataclass
class Snapshot:
    """Materialized table state at one log version."""

    version: int = -1
    # relative file path -> partition value (string form, or None)
    files: dict = field(default_factory=dict)
    # app_id -> highest committed batch_id
    txns: dict = field(default_factory=dict)
    schema_json: str | None = None
    partition_col: str | None = None
    # constraint name -> SQL boolean expression (CHECK constraints)
    constraints: dict = field(default_factory=dict)
    # relative file path -> {column: [min, max]} data-skipping stats
    stats: dict = field(default_factory=dict)
    # deletion vector file (relative path) -> list of covered partition values
    dvs: dict = field(default_factory=dict)
    # generated column name -> SQL expression (computed at write time)
    generated: dict = field(default_factory=dict)

    @property
    def schema(self) -> StructType | None:
        js = self.schema_json
        return None if js is None else StructType.fromJson(json.loads(js))


class TxnTable:
    """A single transactional parquet table rooted at ``path``."""

    def __init__(self, path: str):
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        self.data_dir = os.path.join(path, _DATA_DIR)

    # ------------------------------------------------------------------ log

    def _log_listing(self) -> tuple[list[int], list[int]]:
        """One listing of ``_txn_log/``: the ascending versions of its commits
        (``%020d.json``) and of its checkpoints (``%020d.checkpoint.json``)."""
        names = os.listdir(self.log_dir) if os.path.isdir(self.log_dir) else []
        parts = [f.partition(".") for f in names]
        return tuple(
            sorted(int(v) for v, _, kind in parts if v.isdigit() and kind == want)
            for want in ("json", "checkpoint.json")
        )

    def _versions(self) -> list[int]:
        return self._log_listing()[0]

    def _checkpoints(self) -> list[int]:
        return self._log_listing()[1]

    def checkpoint(self) -> int:
        """Collapse the current snapshot into a checkpoint file (Delta-style):
        later ``snapshot()`` calls load it and replay only newer commits, so
        log replay stays O(commits since checkpoint) instead of O(all
        commits) on long-lived tables. Pure metadata; every commit file is
        retained, so time travel to pre-checkpoint versions still full-replays.
        Returns the checkpointed version. Atomic via write-then-rename."""
        snap = self.snapshot()
        if snap.version < 0:
            raise ValueError("nothing to checkpoint")
        target = os.path.join(self.log_dir, f"{snap.version:020d}.checkpoint.json")
        tmp = target + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(asdict(snap), fh)
        os.replace(tmp, target)
        return snap.version

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Replay the log up to (and including) ``version`` (default: head),
        starting from the newest checkpoint at or below the target."""
        snap = Snapshot()
        versions, checkpoints = self._log_listing()
        base = [c for c in checkpoints if version is None or c <= version]
        if base:
            with open(
                os.path.join(self.log_dir, f"{base[-1]:020d}.checkpoint.json")
            ) as fh:
                # Fields an older checkpoint lacks keep their defaults.
                snap = Snapshot(**json.load(fh))
        for v in versions:
            if v <= snap.version:
                continue
            if version is not None and v > version:
                break
            with open(os.path.join(self.log_dir, f"{v:020d}.json")) as fh:
                commit = json.load(fh)
            for add in commit.get("add", []):
                snap.files[add["path"]] = add.get("partition")
                if add.get("stats"):
                    snap.stats[add["path"]] = add["stats"]
            for rm in commit.get("remove", []):
                snap.files.pop(rm, None)
                snap.stats.pop(rm, None)
            txn = commit.get("txn")
            if txn:
                prev = snap.txns.get(txn["app_id"], -1)
                snap.txns[txn["app_id"]] = max(prev, int(txn["batch_id"]))
            if commit.get("schema_json"):
                snap.schema_json = commit["schema_json"]
            if commit.get("partition_col"):
                snap.partition_col = commit["partition_col"]
            if "dv_reset" in commit:
                snap.dvs = dict(commit["dv_reset"])
            for p in commit.get("dv_remove", []):
                snap.dvs.pop(p, None)
            if commit.get("dv_add"):
                dv = commit["dv_add"]
                # Single dict (delete_keys_dv) or list (compact's partial-DV
                # rewrite can replace several DVs in one atomic commit).
                for d in dv if isinstance(dv, list) else [dv]:
                    snap.dvs[d["path"]] = d.get("partitions", [])
            if commit.get("set_generated"):
                g = commit["set_generated"]
                snap.generated[g["name"]] = g["expr"]
            if commit.get("set_constraint"):
                sc = commit["set_constraint"]
                snap.constraints[sc["name"]] = sc["expr"]
            if commit.get("drop_constraint"):
                snap.constraints.pop(commit["drop_constraint"], None)
            snap.version = v
        return snap

    def _unchanged_guard(self, snap: Snapshot, affected, op: str):
        """A ``_commit`` guard for a partition rewrite computed from ``snap``:
        it raises unless the affected partitions hold exactly the files read
        AND no rival landed a deletion vector over them (a rewrite computed
        without the rival's DV would resurrect its deleted rows)."""
        aff = set(affected)

        def read_set(s: Snapshot) -> tuple:
            files = {p for p, pv in s.files.items() if pv in aff}
            return files, {p for p, pts in s.dvs.items() if not pts or aff & set(pts)}

        read = read_set(snap)

        def guard(fresh: Snapshot) -> None:
            if read_set(fresh) != read:
                raise ConcurrentModificationError(
                    f"{op} lost the commit race and a concurrent commit changed "
                    f"partitions {sorted(aff, key=str)}; re-run against the new "
                    "table state"
                )

        return guard

    @staticmethod
    def _already_committed(snap: Snapshot, app_id, batch_id) -> bool:
        marked = app_id is not None and batch_id is not None
        return marked and snap.txns.get(app_id, -1) >= int(batch_id)

    def _commit(
        self, snap: Snapshot, make_commit, app_id=None, batch_id=None, guard=None
    ) -> int | None:
        """The one optimistic-concurrency loop every write commits through.
        ``make_commit(snap)`` builds the actions from the snapshot the commit
        lands on. A lost race re-reads the log: ``None`` if the (app_id,
        batch_id) marker committed meanwhile, else ``guard(fresh)`` (raises to
        abort) and a retry. Returns the committed version."""
        marked = app_id is not None and batch_id is not None
        while True:
            commit = make_commit(snap)
            if marked:
                commit["txn"] = {"app_id": app_id, "batch_id": int(batch_id)}
            if self._try_commit(snap.version + 1, commit):
                return snap.version + 1
            snap = self.snapshot()
            if self._already_committed(snap, app_id, batch_id):
                return None
            if guard is not None:
                guard(snap)

    def _validate_constraints(self, df: DataFrame, snap: Snapshot, op: str) -> None:
        """Reject ``df`` if any row evaluates a CHECK constraint to FALSE
        (NULL passes). One filter per constraint, limit(1) — the scan stops
        at the first violation and never materializes the violating set."""
        for name, expr in snap.constraints.items():
            bad = df.filter(F.expr(f"NOT ({expr})")).limit(1).collect()
            if bad:
                raise ConstraintViolationError(
                    f"{op}: constraint {name!r} ({expr}) violated, e.g. "
                    f"{bad[0].asDict()}"
                )

    def set_generated_column(self, name: str, expr: str) -> int:
        """Declare ``name`` as a generated column (Delta GENERATED ALWAYS
        AS): every future write computes it from ``expr`` when the source
        omits it, and REJECTS a source that supplies a conflicting value —
        the standard guard for derived partition columns (a fact's date
        partition derived from its timestamp cannot silently disagree).
        Metadata-only commit; returns the commit version."""
        action = {"set_generated": {"name": name, "expr": expr}}
        return self._commit(self.snapshot(), lambda _s: action)

    def _apply_generated(self, df: DataFrame, snap: Snapshot, op: str) -> DataFrame:
        for name, expr in snap.generated.items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
            else:
                bad = (
                    df.filter(~F.col(name).eqNullSafe(F.expr(expr)))
                    .limit(1)
                    .collect()
                )
                if bad:
                    raise ValueError(
                        f"{op}: generated column {name!r} = ({expr}) "
                        f"conflicts with supplied value, e.g. {bad[0].asDict()}"
                    )
        return df

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (expr), Delta-style: existing
        rows are validated first (a constraint the table already violates
        would make every future write fail), then a metadata-only commit
        records it; every subsequent write validates incoming rows against
        it. Returns the commit version."""

        def make_commit(snap: Snapshot) -> dict:
            if name in snap.constraints:
                raise ValueError(f"constraint {name!r} already exists")
            if snap.files:
                probe = Snapshot(constraints={name: expr})
                self._validate_constraints(
                    self.read(spark, version=snap.version), probe, "add_constraint"
                )
            return {"set_constraint": {"name": name, "expr": expr}}

        return self._commit(self.snapshot(), make_commit)

    def drop_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (metadata-only commit)."""

        def make_commit(snap: Snapshot) -> dict:
            if name not in snap.constraints:
                raise ValueError(f"no such constraint {name!r}")
            return {"drop_constraint": name}

        return self._commit(self.snapshot(), make_commit)

    def _try_commit(self, version: int, commit: dict) -> bool:
        """Exclusive-create of the version file — the atomicity point. Returns
        False if another writer won this version (optimistic-concurrency
        loser retries against the fresh log). Every ``_CHECKPOINT_EVERY``-th
        version auto-checkpoints (the winner pays the small metadata write;
        a crash before it costs nothing — checkpoints are pure optimization)."""
        os.makedirs(self.log_dir, exist_ok=True)
        target = os.path.join(self.log_dir, f"{version:020d}.json")
        try:
            with open(target, "x") as fh:
                json.dump(commit, fh)
        except FileExistsError:
            return False
        if version > 0 and version % _CHECKPOINT_EVERY == 0:
            # Pure optimization: the commit above already landed, so a failed
            # checkpoint (transient I/O) must not surface as a commit failure
            # — callers without (app_id, batch_id) markers would re-apply.
            try:
                self.checkpoint()
            except OSError:
                pass
        return True

    # ----------------------------------------------------------------- write

    def _stage_partitioned(self, df: DataFrame, partition_col: str) -> list[dict]:
        """Write ``df`` to a fresh staging dir partitioned by ``partition_col``
        and return the ``add`` actions. Files are invisible until a commit
        references them; a crash here leaves only vacuum-able orphans."""
        staging = os.path.join(self.data_dir, uuid.uuid4().hex)
        (
            df.withColumn("__part", F.col(partition_col).cast("string"))
            .write.partitionBy("__part")
            .parquet(staging)
        )
        return self._staged_adds(staging)

    def _staged_adds(self, staging: str, partition: str | None = None) -> list[dict]:
        """The ``add`` actions (path, partition, footer stats) of the parquet
        files under ``staging``: a ``__part=`` dir names the partition."""
        adds = []
        for root, _dirs, names in os.walk(staging):
            base = os.path.basename(root)
            part = base.split("=", 1)[1] if base.startswith("__part=") else partition
            for n in names:
                if n.endswith(".parquet"):
                    full = os.path.join(root, n)
                    adds.append(
                        {
                            "path": os.path.relpath(full, self.path),
                            "partition": part,
                            "stats": _file_column_stats(full),
                        }
                    )
        return adds

    def merge_overwrite_partitions(
        self,
        df: DataFrame,
        partition_col: str,
        app_id: str | None = None,
        batch_id: int | None = None,
    ) -> list[str]:
        """MERGE-by-partition upsert: atomically replace exactly the
        ``partition_col`` partitions present in ``df``.

        Returns the list of partition values written, or ``[]`` when the
        (app_id, batch_id) transaction was already committed — the replayed
        micro-batch no-op that makes foreachBatch exactly-once. Data files are
        written before the commit, so a crash anywhere before the O_EXCL
        rename-equivalent leaves only invisible orphans (cleaned by
        ``vacuum``), never partial table state.
        """
        snap = self.snapshot()
        if self._already_committed(snap, app_id, batch_id):
            return []

        df = self._apply_generated(df, snap, "merge_overwrite_partitions")

        # Schema guard: readers apply the COMMITTED schema, so source columns
        # the table doesn't know about would be written into the files and
        # then silently dropped on every read. A source narrower than the
        # committed schema is fine (evolution survives: this commit carries no
        # schema_json on an existing table, and the missing columns read back
        # as NULL for the overwritten partitions).
        if snap.schema_json is not None:
            _reject_unknown_columns(df, snap.schema.fieldNames())

        self._validate_constraints(df, snap, "merge_overwrite_partitions")

        # Stage the new files under a unique dir; __part mirrors the partition
        # column so the directory layout carries the value while the original
        # column stays inside the data files (readers need no path inference).
        adds = self._stage_partitioned(df, partition_col)
        new_parts = sorted({a["partition"] for a in adds})

        def make_commit(snap: Snapshot) -> dict:
            commit = {
                "add": adds,
                "remove": [p for p, pv in snap.files.items() if pv in new_parts],
                "partition_col": partition_col,
            }
            if snap.version < 0:
                commit["schema_json"] = df.drop("__part").schema.json()
            return commit

        # A blind overwrite reads nothing back: a lost race needs no guard.
        v = self._commit(snap, make_commit, app_id, batch_id)
        return [] if v is None else new_parts

    def merge_upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        keys: list[str],
        partition_col: str | None = None,
        app_id: str | None = None,
        batch_id: int | None = None,
    ) -> list[str]:
        """Row-level MERGE: ``WHEN MATCHED THEN UPDATE SET * / WHEN NOT
        MATCHED THEN INSERT *`` on ``keys``, in one atomic commit.

        Delta-style two-phase plan, partition-scoped so work is O(affected
        partitions), never O(table):

        1. **Find** — the affected partitions are the source rows' own
           partition values plus every target partition holding a matched key
           (a column-pruned scan of only ``keys + partition_col``, with the
           source keyset broadcast into a semi-join).
        2. **Rewrite** — read just those partitions (file-pruned from log
           metadata), anti-join out the matched rows, union the source rows,
           and stage the result; the commit atomically swaps the affected
           partitions' files.

        The source must be key-unique (same precondition as Delta MERGE —
        two source rows matching one target row is ambiguous); violations
        raise. Returns the affected partition values, or ``[]`` when the
        (app_id, batch_id) transaction was already committed.

        Optimistic concurrency: the whole transaction is pinned to one
        snapshot version. Losing the commit race retries ONLY if the fresh
        log shows the affected partitions' files unchanged (the rival
        touched disjoint partitions); otherwise
        ``ConcurrentModificationError`` — committing the staged rewrite
        would silently clobber the rival's rows. Partition granularity:
        a rival inserting a matched key into a partition outside the
        affected set is not detected — co-partition keys with their rows
        (key includes the partition column) for full serializability.
        """
        snap = self.snapshot()
        if self._already_committed(snap, app_id, batch_id):
            return []

        # Generated columns first: a derived partition column must exist
        # before the presence check below.
        df = self._apply_generated(df, snap, "merge_upsert")
        part_col = partition_col or snap.partition_col
        if part_col is None:
            raise ValueError("partition_col required for a new table")
        if part_col not in df.columns:
            raise ValueError(f"source is missing partition column {part_col!r}")

        dup = (
            df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"source has duplicate merge keys (e.g. {dup[0].asDict()}); "
                "MERGE requires a key-unique source"
            )

        self._validate_constraints(df, snap, "merge_upsert")

        if snap.version < 0 or not snap.files:
            # Empty table: everything is an insert.
            adds = self._stage_partitioned(df, part_col)
            parts = sorted({a["partition"] for a in adds})
            meta = {"partition_col": part_col, "schema_json": df.schema.json()}
            try:
                return self._replace_partitions(
                    snap, parts, adds, _restart, app_id, batch_id, **meta
                )
            except ConcurrentModificationError:
                # Lost the race to create the table: it may have rows now, so
                # restart the whole merge against the fresh log (staged files
                # stay invisible orphans for vacuum).
                return self.merge_upsert(
                    spark, df, keys, partition_col, app_id, batch_id
                )

        # Phase 1 — find affected partitions. All reads pin to snap.version
        # so the rewrite is computed from ONE snapshot.
        src_keys = df.select(*keys).distinct()
        src_parts = {
            str(r[0])
            for r in df.select(F.col(part_col).cast("string")).distinct().collect()
        }
        affected = sorted(
            src_parts | self._matched_partitions(spark, snap, src_keys, keys)
        )

        # Phase 2 — partition-scoped read-modify-write.
        old = self.read(spark, partition_values=affected, version=snap.version)
        missing = [c for c in old.columns if c not in df.columns]
        if missing:
            raise ValueError(
                f"source is missing table columns {missing}; align the source "
                "or add_columns() the table first"
            )
        _reject_unknown_columns(df, old.columns)
        merged = old.join(F.broadcast(src_keys), keys, "left_anti").unionByName(
            df.select(*old.columns)
        )
        adds = self._stage_partitioned(merged, part_col)
        guard = self._unchanged_guard(snap, affected, "merge_upsert")
        return self._replace_partitions(
            snap, affected, adds, guard, app_id, batch_id, partition_col=part_col
        )

    def _replace_partitions(
        self, snap, parts, adds, guard, app_id=None, batch_id=None, **meta
    ) -> list:
        """Commit ``adds`` (plus any ``meta`` actions) in place of every file
        of the ``parts`` partitions. Returns ``parts``, or ``[]`` when the
        (app_id, batch_id) marker was already committed."""

        def make_commit(s: Snapshot) -> dict:
            gone = [p for p, pv in s.files.items() if pv in parts]
            return {"add": adds, "remove": gone, **meta}

        v = self._commit(snap, make_commit, app_id, batch_id, guard)
        return [] if v is None else parts

    def _matched_partitions(self, spark, snap: Snapshot, keys_df, keys) -> set:
        """The partitions of ``snap`` holding a key of ``keys_df``: a scan of
        only the key + partition columns (column pruning), semi-joined to the
        broadcast keyset — no target shuffle, no wide rows moved."""
        return {
            str(r[0])
            for r in self.read(spark, version=snap.version)
            .select(*keys, snap.partition_col)
            .join(F.broadcast(keys_df.select(*keys)), keys, "left_semi")
            .select(F.col(snap.partition_col).cast("string"))
            .distinct()
            .collect()
        }

    def delete_keys(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        keys: list[str],
        app_id: str | None = None,
        batch_id: int | None = None,
    ) -> list[str]:
        """Row-level DELETE: remove every row whose key appears in
        ``keys_df`` — the right-to-be-forgotten primitive. Same partition-
        scoped shape as ``merge_upsert``: find the partitions holding matched
        keys via a column-pruned broadcast semi-join, rewrite only those
        partitions with the matches anti-joined out, publish in one atomic
        commit. Partitions whose rewrite comes back empty are simply removed.
        Returns the affected partition values ([] if no key matched or the
        (app_id, batch_id) transaction was already committed).

        Deleted rows remain physically present in superseded files until
        ``vacuum()`` — for a compliance delete, follow with ``vacuum``.
        """
        snap = self.snapshot()
        if self._already_committed(snap, app_id, batch_id):
            return []
        part_col = snap.partition_col
        if part_col is None or not snap.files:
            return []

        targets = keys_df.select(*keys).distinct()
        affected = sorted(self._matched_partitions(spark, snap, targets, keys))
        if not affected:
            return []
        kept = self.read(
            spark, partition_values=affected, version=snap.version
        ).join(F.broadcast(targets), keys, "left_anti")
        adds = self._stage_partitioned(kept, part_col)
        guard = self._unchanged_guard(snap, affected, "delete_keys")
        return self._replace_partitions(snap, affected, adds, guard, app_id, batch_id)

    def delete_keys_dv(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        keys: list[str],
        app_id: str | None = None,
        batch_id: int | None = None,
    ) -> int:
        """Merge-on-read DELETE via a deletion vector: instead of rewriting
        every affected partition (``delete_keys``, write cost O(partition
        bytes)), record the matched rows' (file, row position) in a DV file
        and commit that — write cost O(matched rows). Readers anti-join live
        DVs, so deleted rows vanish immediately; ``compact()`` later folds
        DVs into rewritten files (its read applies them), which is Delta's
        deletion-vector protocol shape. Returns the number of rows deleted.

        Trade: reads pay the DV anti-join until compaction — the standard
        merge-on-read bargain (cheap deletes now, deferred rewrite later).
        Rows stay physically present until compact + vacuum; a compliance
        purge should use ``delete_keys`` + ``vacuum`` or follow up with
        ``compact``."""
        snap = self.snapshot()
        if self._already_committed(snap, app_id, batch_id):
            return 0
        if snap.partition_col is None or not snap.files:
            return 0

        targets = keys_df.select(*keys).distinct()
        # Raw scan (NOT self.read): _metadata only resolves on the file-scan
        # relation, and the positions must be physical-file positions — the
        # DV-filtered view would both break resolution and skew row_index
        # semantics. Rows already covered by live DVs are anti-joined out so
        # a re-delete neither double-counts nor bloats the new DV.
        scan_files = [os.path.join(self.path, p) for p in sorted(snap.files)]
        reader = spark.read
        if snap.schema_json:
            reader = reader.schema(snap.schema)
        raw = reader.parquet(*scan_files)
        # Project the metadata columns BEFORE the join: _metadata resolves
        # only directly against the file-scan relation.
        tagged = raw.select(
            *keys,
            F.expr(_REL_PATH).alias("file"),
            F.col("_metadata.row_index").alias("pos"),
            F.col(snap.partition_col).cast("string").alias("__part"),
        )
        matches = tagged.join(F.broadcast(targets), keys, "left_semi").select(
            "file", "pos", "__part"
        )
        if snap.dvs:
            prior = spark.read.parquet(
                *[os.path.join(self.path, p) for p in sorted(snap.dvs)]
            ).select("file", "pos")
            matches = matches.join(prior, ["file", "pos"], "left_anti")
        staging = os.path.join(self.data_dir, f"dv_{uuid.uuid4().hex}")
        matches.write.parquet(staging)
        written = spark.read.parquet(staging)
        n = written.count()
        if n == 0:
            return 0
        parts = sorted(r[0] for r in written.select("__part").distinct().collect())
        dv_rel = os.path.relpath(staging, self.path)
        dv = {"dv_add": {"path": dv_rel, "partitions": parts}}
        # The DV's row positions are pinned to the files it was computed
        # from: any rival rewrite of those partitions invalidates it.
        guard = self._unchanged_guard(snap, parts, "delete_keys_dv")
        v = self._commit(snap, lambda _s: dv, app_id, batch_id, guard)
        return 0 if v is None else n

    # ------------------------------------------------------- schema evolution

    def add_columns(self, new_fields: "StructType | list") -> int:
        """Widen the table schema — a pure metadata commit (no data rewrite),
        like Delta's ADD COLUMNS. Existing files surface the new columns as
        NULL because readers apply the committed schema; time travel to an
        earlier version still reads the pre-evolution schema. Returns the new
        log version."""
        fields = list(new_fields.fields) if isinstance(new_fields, StructType) else list(new_fields)

        def make_commit(snap: Snapshot) -> dict:
            # Evolve the schema the commit lands on: a rival's column added
            # since the first read must survive the retry.
            current = snap.schema
            if current is None:
                raise ValueError("cannot evolve an empty table")
            for f in fields:
                if f.name in current.fieldNames():
                    raise ValueError(f"column {f.name!r} already exists")
            return {"schema_json": StructType(current.fields + fields).json()}

        return self._commit(self.snapshot(), make_commit)

    # ------------------------------------------------------------------ read

    def read(
        self,
        spark: SparkSession,
        partition_values: list | None = None,
        version: int | None = None,
        where: list | None = None,
    ) -> DataFrame:
        """Read the committed snapshot (optionally time-traveled / pruned).

        ``partition_values`` prunes at FILE granularity from log metadata —
        the scan never lists or touches other partitions' files. ``where``
        is a list of (column, op, value) with op in =/</<=/>/>=: files whose
        footer min/max stats cannot satisfy every predicate are skipped
        (Delta-style data skipping), and the predicates are ALSO applied as
        row filters, so correctness never depends on stats — files without
        stats simply aren't skipped. The scan applies the schema committed
        as of ``version``, so files written before an ``add_columns``
        evolution surface the new columns as NULL, and time travel to a
        pre-evolution version reads the old schema.
        """
        snap = self.snapshot(version)
        wanted = (
            None
            if partition_values is None
            else {str(v) for v in partition_values}
        )
        files = [
            os.path.join(self.path, rel)
            for rel, pv in sorted(snap.files.items())
            if (wanted is None or pv in wanted)
            and (
                not where
                or _file_may_match(snap.stats.get(rel, {}), where)
            )
        ]
        schema = snap.schema
        if not files:
            return spark.createDataFrame([], schema or StructType([]))
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*files)
        if snap.dvs:
            # Merge-on-read: anti-join the deletion vectors on the scan's
            # (relative path, row position) — deleted rows vanish without
            # their files ever having been rewritten.
            out_cols = df.columns
            dv = spark.read.parquet(
                *[os.path.join(self.path, p) for p in sorted(snap.dvs)]
            )
            df = (
                df.withColumn("__dv_file", F.expr(_REL_PATH))
                .withColumn("__dv_pos", F.col("_metadata.row_index"))
                .join(
                    # No forced broadcast: DV volume is O(deleted rows) and
                    # unbounded — AQE broadcasts it while it is small.
                    dv.withColumnRenamed("file", "__dv_file")
                    .withColumnRenamed("pos", "__dv_pos"),
                    ["__dv_file", "__dv_pos"],
                    "left_anti",
                )
                .select(*out_cols)
            )
        for col, op, val in where or []:
            ops = {
                "=": F.col(col) == val,
                "<": F.col(col) < val,
                "<=": F.col(col) <= val,
                ">": F.col(col) > val,
                ">=": F.col(col) >= val,
            }
            df = df.filter(ops[op])
        return df

    # -------------------------------------------------------------- compact

    def compact(
        self,
        spark: SparkSession,
        partition_values: list | None = None,
        zorder_cols: list[str] | None = None,
        n_files: int = 1,
    ) -> int:
        """OPTIMIZE-style compaction: rewrite each targeted partition's live
        files, in a single atomic commit per run (readers see either all old
        files or all new ones — never a mix).

        Default mode collapses multi-file partitions to one file each (the
        small-files fix for streaming-MERGE-heavy tables). With
        ``zorder_cols`` this is ``OPTIMIZE ZORDER BY``: every targeted
        partition (even single-file ones) is rewritten through
        ``storage/layout.py:zorder_by`` into ``n_files`` z-clustered files,
        so selective filters on ANY of the z columns prune files from footer
        stats alone. Returns the number of files replaced. Old files stay on
        disk for time travel until ``vacuum``.
        """
        snap = self.snapshot()
        by_part: dict = {}
        for rel, pv in snap.files.items():
            by_part.setdefault(pv, []).append(rel)
        wanted = None if partition_values is None else {str(v) for v in partition_values}
        dv_covered = {p for parts in snap.dvs.values() for p in parts}
        targets = {
            pv: rels
            for pv, rels in by_part.items()
            # DV-covered partitions compact even at one file: compaction is
            # what materializes merge-on-read deletes into real files.
            if (len(rels) > 1 or zorder_cols is not None or pv in dv_covered)
            and (wanted is None or pv in wanted)
        }
        if not targets:
            return 0
        adds: list = []
        staged_dirs: list[str] = []
        for pv in sorted(targets):
            staging = os.path.join(self.data_dir, uuid.uuid4().hex)
            staged_dirs.append(staging)
            # Read THROUGH the snapshot (committed schema + deletion vectors
            # applied), not the raw files: a DV-hidden row must not survive
            # into the rewritten partition.
            src = self.read(spark, partition_values=[pv], version=snap.version)
            if zorder_cols is not None:
                from .layout import zorder_by

                out = zorder_by(src, zorder_cols, n_files)
            else:
                out = src.coalesce(1)
            out.write.parquet(staging)
            adds.extend(self._staged_adds(staging, pv))
        targeted_set = set(targets)
        # DV entries whose every covered partition was rewritten are fully
        # materialized by this compaction — drop them from the live set.
        dv_drop = [
            p
            for p, parts in snap.dvs.items()
            if parts and set(parts) <= targeted_set
        ]
        # DVs that cover a targeted partition only PARTIALLY: their (file,
        # pos) entries for the rewritten files are dead, but entries for the
        # untouched partitions must survive. Rewrite each such DV without the
        # dead rows and shrink its partition list, so partition-at-a-time
        # compaction retires the DV incrementally instead of pinning its
        # partitions merge-on-read (and blocking symlink manifests) forever.
        removed_set = sorted(p for rels in targets.values() for p in rels)
        dv_adds = []
        for p, parts in snap.dvs.items():
            if not parts or p in dv_drop or not (set(parts) & targeted_set):
                continue
            keep = spark.read.parquet(os.path.join(self.path, p)).filter(
                # DV volume is O(deleted rows) metadata and removed_set is
                # the targeted partitions' file list — driver-side isin is
                # the right size here, no join needed.
                ~F.col("file").isin(removed_set)
            )
            if keep.limit(1).count() == 0:
                dv_drop.append(p)
                continue
            staging = os.path.join(self.data_dir, f"dv_{uuid.uuid4().hex}")
            staged_dirs.append(staging)
            keep.coalesce(1).write.parquet(staging)
            dv_drop.append(p)
            dv_adds.append(
                {
                    "path": os.path.relpath(staging, self.path),
                    "partitions": sorted(set(parts) - targeted_set, key=str),
                }
            )
        dv_meta = {k: v for k, v in (("dv_remove", dv_drop), ("dv_add", dv_adds)) if v}
        try:
            # A rival rewriting a targeted partition (MERGE, DELETE, another
            # OPTIMIZE) invalidates the staged compaction — committing it
            # would resurrect the pre-rival rows.
            guard = self._unchanged_guard(snap, targeted_set, "compact")
            self._replace_partitions(snap, targeted_set, adds, guard, **dv_meta)
            return len(removed_set)
        except ConcurrentModificationError:
            # The staged rewrite (data AND DV parquet) will never be
            # committed — best-effort removal now instead of orphaning it
            # until vacuum. Never committed, so no reader can hold a
            # snapshot that references these paths.
            import shutil

            for d in staged_dirs:
                shutil.rmtree(d, ignore_errors=True)
            raise

    # ------------------------------------------------------------- history

    def detail(self) -> dict:
        """DESCRIBE DETAIL: one metadata dict for operators and dashboards —
        current version, file/partition/byte counts, constraint and DV
        state. Driver-side log + filesystem metadata only; no data scan."""
        snap = self.snapshot()
        n_bytes = 0
        for rel in snap.files:
            p = os.path.join(self.path, rel)
            if os.path.exists(p):
                n_bytes += os.path.getsize(p)
        return {
            "path": self.path,
            "version": snap.version,
            "num_files": len(snap.files),
            "size_bytes": n_bytes,
            "partition_col": snap.partition_col,
            "partitions": sorted({pv for pv in snap.files.values() if pv is not None}),
            "constraints": dict(snap.constraints),
            "num_deletion_vectors": len(snap.dvs),
            "num_checkpoints": len(self._checkpoints()),
            "apps": dict(snap.txns),
        }

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one entry per commit, newest first — version,
        counts of add/remove actions, txn marker, and whether the commit was
        a pure schema change. Driver-side metadata read only."""
        out = []
        for v in self._versions():
            with open(os.path.join(self.log_dir, f"{v:020d}.json")) as fh:
                commit = json.load(fh)
            out.append(
                {
                    "version": v,
                    "n_added": len(commit.get("add", [])),
                    "n_removed": len(commit.get("remove", [])),
                    "txn": commit.get("txn"),
                    "schema_change": bool(commit.get("schema_json"))
                    and not commit.get("add")
                    and not commit.get("remove"),
                }
            )
        return out[::-1]

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION: a NEW commit whose file set equals the
        old snapshot's (Delta's writeable time travel) — history is preserved
        and the restore itself is undoable. Requires the old files to still
        exist, i.e. no ``vacuum`` since ``version``. Returns the new head
        version."""
        old = self.snapshot(version)
        if old.version != version:
            raise ValueError(f"version {version} does not exist")
        for rel in old.files:
            if not os.path.exists(os.path.join(self.path, rel)):
                raise ValueError(
                    f"cannot restore to v{version}: {rel} was vacuumed"
                )
        # Restore must also restore deletion-vector state: without this, DVs
        # committed after `version` would keep deleting rows from the
        # re-added files.
        commit = _state_actions(old)

        def make_commit(head: Snapshot) -> dict:
            return {**commit, "remove": [r for r in head.files if r not in old.files]}

        return self._commit(self.snapshot(), make_commit)

    # --------------------------------------------------------------- vacuum

    def vacuum(self, retain_last: int = 0, dry_run: bool = False) -> int:
        """Physically delete data files not referenced by the last
        ``retain_last + 1`` snapshots: superseded versions and crash orphans.
        The default (0) keeps only the CURRENT snapshot's files — Delta
        VACUUM with retention 0, forfeiting all time travel; ``retain_last=N``
        preserves time travel to the N most recent prior versions (Delta's
        retention window, counted in versions rather than hours so tests and
        batch jobs stay deterministic). ``dry_run=True`` counts what WOULD
        be removed without deleting (Delta's VACUUM DRY RUN — the sanity
        check before an irreversible purge, and the way to audit whether a
        shallow clone still depends on files a purge would take). Returns
        the number of files removed (or would-be removed)."""
        head = self.snapshot().version
        live: set = set()
        for v in range(max(0, head - retain_last), head + 1):
            s = self.snapshot(v)
            live |= {
                os.path.normpath(os.path.join(self.path, rel))
                for rel in s.files
            }
            # Deletion-vector files are metadata the live snapshots depend
            # on — every parquet under a live DV path is retained.
            for dv in s.dvs:
                dv_abs = os.path.join(self.path, dv)
                for root, _dirs, names in os.walk(dv_abs):
                    live |= {
                        os.path.normpath(os.path.join(root, f))
                        for f in names
                        if f.endswith(".parquet")
                    }
        removed = 0
        for root, _dirs, names in os.walk(self.data_dir):
            for n in names:
                p = os.path.normpath(os.path.join(root, n))
                if n.endswith(".parquet") and p not in live:
                    if not dry_run:
                        os.remove(p)
                    removed += 1
        return removed


def clone_shallow(src: TxnTable, dst_path: str) -> TxnTable:
    """Zero-copy table fork (Delta SHALLOW CLONE): the clone's first commit
    references the source snapshot's data files by ABSOLUTE path — no bytes
    move, however large the table. Reads resolve absolute entries as-is
    (``os.path.join`` passes them through); writes to the clone stage fresh
    files under the clone's own ``_data/`` and never touch the source, so
    the two tables diverge copy-on-write at partition granularity.

    The clone carries the source's schema, constraints, data-skipping stats,
    and live deletion vectors (also by absolute path) — the full read
    contract, not just the file list. Standard shallow-clone caveat, same as
    Delta's: ``vacuum`` on the SOURCE may delete files the clone still
    references; clones are for experiments/dev-on-prod-data, not archival.
    """
    snap = src.snapshot()
    if snap.version < 0:
        raise ValueError("cannot clone an empty table")
    dst = TxnTable(dst_path)
    head = dst.snapshot()

    def occupied(_fresh: Snapshot) -> None:
        raise ValueError(f"{dst_path} already holds a table")

    if head.version >= 0:
        occupied(head)
    commit = {
        **_state_actions(snap, lambda r: os.path.abspath(os.path.join(src.path, r))),
        "remove": [],
        "partition_col": snap.partition_col,
    }
    dst._commit(head, lambda _s: commit, guard=occupied)
    # Commit these metadata actions through the same retry loop: a lost
    # version race silently dropping a CHECK constraint or generated-column
    # rule would make later clone writes skip validation.
    rules = {"set_constraint": snap.constraints, "set_generated": snap.generated}
    for kind, named in rules.items():
        for name, expr in named.items():
            action = {kind: {"name": name, "expr": expr}}
            dst._commit(dst.snapshot(), lambda _s, a=action: a)
    return dst
