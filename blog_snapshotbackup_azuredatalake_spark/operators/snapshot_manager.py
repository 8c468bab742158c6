"""SnapshotManager: the materialized backup lifecycle (SURVEY.md §2A).

Where ``operators.snapshot`` exposes the *plans* (manifest/diff/verify as
oracle-checkable queries), this class performs the actual storage
operations the reference's backup scripts do; both build on the
change-set core, ``functions/changeset.py``. The store is POSIX-only
for now: the log, ``meta.json``, purge and vacuum use local-filesystem
calls, so only Spark's own reads and writes would work on an ``abfss://``
URI (ROADMAP item 3).

Layout under ``backup_root``::

    <table>/snap_<id>/data/      full rows plus _row_md5, or delta rows
    <table>/snap_<id>/meta.json  {id, base, kind, key, schema}

A full snapshot stores each row's ``row_hash`` (md5 hex of its sorted
columns) as ``_row_md5``, written with the rows in one pass: ``_diff``
and the exact ``verify()`` read ``(key, _row_md5)`` with column pruning,
and ``restore`` drops it. A store written before that keeps the hashes
in a ``manifest/`` of ``(key, row_md5)`` beside each full snapshot's
data, read when the recorded schema lacks the column.

``schema`` is the data schema as written (``_row_md5`` included for
full snapshots, ``_tombstone`` for incremental and delta snapshots), so
every read is schema-pinned and costs no inference job; only a
``meta.json`` written before the field existed falls back to inference.
The transaction log is the source of truth for which snapshots exist: a
directory it has no commit for is a dead writer's debris, skipped by new
ids and reclaimed by ``vacuum``.

Each snapshot's log ``add`` action also carries what the write observed
in the pass it already ran (``Dataset.observe``, no extra job):

- ``snapshot()``: ``rows`` and ``xor60`` of the table state it captured,
  ``duration_s``, and for an incremental snapshot ``delta_rows`` (rows in
  its ``data/``, tombstones included) and ``tombstones``. ``(rows,
  xor60)`` is the state digest: the row count and the ``bit_xor`` of the
  60-bit row hashes (``hash60`` of ``_row_md5``), the fingerprint
  ``snap_restore_drill`` certifies by. ``verify()`` checks a live table
  against it in one map-only job.
- ``commit_delta()``: ``rows`` and ``tombstones`` of its change batch,
  and ``duration_s``.

A stat is absent when Spark reported no metrics for it (the optimizer
drops the observer of an input it proves empty, such as an empty source
of an incremental snapshot), and in stores written before stats were
recorded; without a digest ``verify()`` runs the exact join.

A full snapshot's data is a ``hashed`` frame. Incremental snapshots are
*differential*: each is the ``delta`` (changed and added rows plus
tombstones) of the hashed source against the latest FULL snapshot's
stored row hashes, ONE ``full_outer`` join, so row payloads move only
when they changed. Restoring a delta is ``fold_latest`` of its chain
(newest version per key, one window), and retention can drop any
intermediate delta without breaking later ones; restoring a full
snapshot is a plain read. ``verify()`` compares by ``digest``, else by
``diff`` of manifests. Tables are keyed: the key is unique and non-null,
which the diff and the fold both assume.
"""

from __future__ import annotations

import glob
import json
import os
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from blog_snapshotbackup_azuredatalake_spark.scratch import scratch_store
from blog_snapshotbackup_azuredatalake_spark.functions.changeset import (
    HASH,
    count_changes,
    delta,
    diff,
    digest,
    fold_latest,
    hashed,
    manifest,
    sql_digest,
)
from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    row_hash,
    sql_row_hash,
)
from blog_snapshotbackup_azuredatalake_spark.operators.txnlog import TransactionLog
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import local_frame


def _observed(obs: Observation) -> dict:
    """The integer metrics `obs` collected in the action just run; empty
    when Spark pruned the observed input (the optimizer drops a join side
    it proves empty, observer included). Over no rows an aggregate is
    NULL, recorded as 0, the identity of both count and xor."""
    try:
        return {k: int(v or 0) for k, v in obs.get.items()}
    except Py4JJavaError:
        return {}


class SnapshotManager:
    def __init__(self, spark: SparkSession, backup_root: str):
        self.spark = spark
        self.root = backup_root
        self.log = TransactionLog(backup_root)

    # -- paths and ids -----------------------------------------------------
    def _dir(self, table: str, snap_id: int) -> str:
        return f"{self.root}/{table}/snap_{snap_id:06d}"

    def _meta_path(self, table: str, snap_id: int) -> str:
        return f"{self._dir(table, snap_id)}/meta.json"

    def _committed(self, table: str) -> dict[int, dict]:
        """Snapshot id -> its add action, for every snapshot of `table`
        live in the transaction log."""
        return {
            a["snap_id"]: a
            for a in self.log.state().values()
            if a.get("table") == table
        }

    def snapshot_ids(self, table: str) -> list[int]:
        """Committed snapshot ids of `table`, oldest first."""
        return sorted(self._committed(table))

    def _next_id(self, table: str, committed: dict[int, dict]) -> int:
        """One past every committed id and every ``snap_*`` directory on
        storage, so a new snapshot never lands in a dead writer's debris."""
        base = f"{self.root}/{table}"
        names = os.listdir(base) if os.path.isdir(base) else []
        on_disk = [int(d.split("_")[1]) for d in names if d.startswith("snap_")]
        return max([*committed, *on_disk], default=-1) + 1

    def _read_meta(self, table: str, snap_id: int) -> dict:
        with open(self._meta_path(table, snap_id)) as f:
            return json.load(f)

    def _read(self, table: str, meta: dict) -> DataFrame:
        """Read a snapshot's data with the schema its meta.json records."""
        path = f"{self._dir(table, meta['id'])}/data"
        if "schema" not in meta:  # written before schemas were recorded
            return self.spark.read.parquet(path)
        return self.spark.read.schema(
            StructType.fromJson(meta["schema"])
        ).parquet(path)

    def _hashes(self, table: str, meta: dict) -> DataFrame:
        """The manifest of a full snapshot: the key and hash columns of
        its data, or the ``manifest/`` (key, row_md5) of a store written
        before the data held the hash (its recorded schema lacks it)."""
        data, key = self._read(table, meta), meta["key"]
        if HASH in data.columns:
            return data.select(key, HASH)
        ktype = data.schema[key].dataType.simpleString()
        return (
            self.spark.read.schema(f"key {ktype}, row_md5 string")
            .parquet(f"{self._dir(table, meta['id'])}/manifest")
            .select(F.col("key").alias(key), F.col("row_md5").alias(HASH))
        )

    def _chain(self, table: str, snap_id: int) -> list[dict]:
        """Metas of `snap_id` and of every snapshot its ``base`` pointers
        lead to, newest first: a full snapshot's chain is itself."""
        chain = [self._read_meta(table, snap_id)]
        while chain[-1]["base"] is not None:
            chain.append(self._read_meta(table, chain[-1]["base"]))
        return chain

    def _publish(self, table: str, meta: dict, op: str, **add) -> None:
        """Write meta.json, then commit the snapshot to the log with the
        extra fields `add` (stats, digest, clone pointer). The commit is
        the publish point: until it lands, the directory is debris."""
        os.makedirs(self._dir(table, meta["id"]), exist_ok=True)
        with open(self._meta_path(table, meta["id"]), "w") as f:
            json.dump(meta, f)
        self.log.commit(
            op,
            [
                {
                    "add": {
                        "path": f"{table}/snap_{meta['id']:06d}",
                        "table": table,
                        "snap_id": meta["id"],
                        "kind": meta["kind"],
                        **add,
                    }
                }
            ],
        )

    # -- snapshot ---------------------------------------------------------
    def snapshot(
        self, df: DataFrame, table: str, key: str, force_full: bool = False
    ) -> int:
        """Write the next snapshot: full copy with its row hashes if no
        full snapshot is committed (or ``force_full`` starts a fresh
        differential chain), else a delta against the row hashes of the
        latest FULL snapshot. Each snapshot is also recorded as one
        atomic commit in the transaction log, whose add action carries
        the state digest and the write's stats (module docstring)."""
        t0 = time.perf_counter()
        committed = self._committed(table)
        snap_id = self._next_id(table, committed)
        fulls = [i for i, a in committed.items() if a["kind"] == "full"]
        state = Observation("digest")
        observed = [state]
        # the digest is observed on the row hashes the write or diff uses
        cur = hashed(df, sorted(df.columns)).observe(state, *digest(HASH))
        if force_full or not fulls:
            base, out = None, cur
        else:
            base, changes = max(fulls), Observation("changes")
            observed.append(changes)
            hashes = self._hashes(table, self._read_meta(table, base))
            out = delta(hashes, cur, key).observe(
                changes,
                F.count(F.lit(1)).alias("delta_rows"),
                F.count_if("_tombstone").alias("tombstones"),
            )
        meta = {
            "id": snap_id,
            "base": base,
            "kind": "full" if base is None else "incremental",
            "key": key,
            "schema": out.schema.jsonValue(),
        }
        out.write.mode("errorifexists").parquet(f"{self._dir(table, snap_id)}/data")
        stats = {k: v for obs in observed for k, v in _observed(obs).items()}
        stats["duration_s"] = round(time.perf_counter() - t0, 3)
        self._publish(table, meta, "snapshot", **stats)
        return snap_id

    # -- delta commit (the O(|changes|) CDC-apply path) --------------------
    def commit_delta(self, changes: DataFrame, table: str, key: str) -> int:
        """Commit a pre-computed change batch as a CHAINED delta
        snapshot: data written ∝ |changes|; the current table state is
        never read, joined, or rewritten. ``changes`` must carry the
        full table schema plus a boolean ``_tombstone`` column
        (tombstone rows may leave non-key columns null). Unlike the
        differential ``snapshot()`` path — which diffs full table
        STATES and so costs O(|table|) per call — the delta's base is
        the PREVIOUS committed snapshot (full or delta), so ``restore``
        folds the whole chain newest-version-per-key and ``rebase``
        compacts long chains back to one full snapshot. It stores no
        row hashes and records no state digest (either would cost an
        O(|table|) pass), so ``verify()`` of a delta joins the row hashes
        of its restore. The add action records the batch's ``rows`` and
        ``tombstones``, observed on the data write."""
        t0 = time.perf_counter()
        committed = self._committed(table)
        if not committed:
            raise ValueError("commit_delta needs an existing base snapshot")
        snap_id = self._next_id(table, committed)
        d = self._dir(table, snap_id)
        meta = {
            "id": snap_id,
            "base": max(committed),
            "kind": "delta",
            "key": key,
            "schema": changes.schema.jsonValue(),
        }
        batch = Observation("batch")
        changes.observe(
            batch,
            F.count(F.lit(1)).alias("rows"),
            F.count_if("_tombstone").alias("tombstones"),
        ).write.mode("errorifexists").parquet(f"{d}/data")
        stats = _observed(batch)
        stats["duration_s"] = round(time.perf_counter() - t0, 3)
        self._publish(table, meta, "snapshot", **stats)
        return snap_id

    def rebase(self, table: str) -> int:
        """Compact the head delta chain into a fresh FULL snapshot (the
        manager form of ``snap_chain_rebase``): restore the head once
        and write it as a new full, so later restores are
        single-snapshot reads and ``purge`` can drop the old chain.
        Cost: one O(|table|) fold — scheduled periodically, it
        amortizes over the many O(|changes|) ``commit_delta`` calls in
        between (the Delta Lake checkpoint/compaction pattern)."""
        head = self.snapshot_ids(table)[-1]
        key = self._read_meta(table, head)["key"]
        df = self.restore(table, head)
        return self.snapshot(df, table, key, force_full=True)

    # -- clone ------------------------------------------------------------
    def clone(self, table: str, snap_id: int, new_table: str) -> int:
        """Delta-style SHALLOW CLONE: publish `new_table`'s snapshot 0
        as a POINTER to (table, snap_id) — one meta.json written, zero
        data or manifest bytes copied or moved. Restore resolves
        through the pointer; the clone is an independent logical table
        for reads (dev/test forks, blue-green promotion, a restore
        rehearsal against production data) at metadata cost. The clone
        is its own log commit, so vacuum treats the clone dir as live,
        and the pointed-at data stays live through the SOURCE table's
        own log entry — deleting the source snapshot while clones point
        at it is the same referential hazard Delta documents for
        shallow clones."""
        self._read_meta(table, snap_id)  # must exist
        new_id = self._next_id(new_table, self._committed(new_table))
        meta = {
            "id": new_id,
            "base": None,
            "kind": "clone",
            "src_table": table,
            "src_snap": snap_id,
        }
        self._publish(
            new_table, meta, "clone", src=f"{table}/snap_{snap_id:06d}"
        )
        return new_id

    # -- restore ----------------------------------------------------------
    def restore(self, table: str, snap_id: int) -> DataFrame:
        """Materialize the table state at `snap_id`: a full snapshot is
        read as written, less its row hash column (which the column
        pruning then never reads); a delta is replayed onto its base
        full snapshot, newest version per key winning; shallow clones
        resolve through their pointer first."""
        meta = self._read_meta(table, snap_id)
        if meta.get("kind") == "clone":
            return self.restore(meta["src_table"], meta["src_snap"])
        chain = self._chain(table, snap_id)[::-1]  # base full snapshot first
        parts = [self._read(table, m).drop(HASH) for m in chain]
        return parts[0] if len(parts) == 1 else fold_latest(parts, meta["key"])

    # -- verify -----------------------------------------------------------
    def verify(self, df: DataFrame, table: str, snap_id: int) -> dict:
        """Compare live data against a snapshot: returns integer counts
        of matching / changed / missing / extra keys, and ``ok``.

        When the snapshot's add action records a state digest, `df` is
        digested in one map-only job (the digest observed on a ``noop``
        write, no shuffle); if its (row count, 60-bit xor of row hashes)
        equals the recorded pair, the table is reported intact
        (``matching`` = rows, zeros, ``ok``). That verdict rests on the
        row count plus a 60-bit xor: a change that leaves both unchanged
        (a hash collision) would pass. It also compares with what was
        recorded at write time and reads no stored data, so it does not
        detect a backup damaged after its write. Any other outcome, or a
        snapshot with no digest (a delta, or a store written before
        digests), runs the exact comparison, a ``full_outer`` join of
        (key, row_md5) sets: a full snapshot's stored row hashes, or for
        any other kind those of its restore. A clone verifies against
        the snapshot it points at."""
        meta = self._read_meta(table, snap_id)
        if meta["kind"] == "clone":
            return self.verify(df, meta["src_table"], meta["src_snap"])
        add, key = self._committed(table).get(snap_id, {}), meta["key"]
        live = manifest(df, key, sorted(df.columns))
        if "xor60" in add:
            obs = Observation("verify")
            noop = live.observe(obs, *digest(HASH)).write.format("noop")
            noop.mode("overwrite").save()
            got = _observed(obs)
            if (got.get("rows"), got.get("xor60")) == (add["rows"], add["xor60"]):
                return {
                    "matching": add["rows"],
                    "changed": 0,
                    "missing_live": 0,
                    "extra_live": 0,
                    "ok": True,
                }
        if meta["kind"] == "full":
            snap = self._hashes(table, meta)
        else:
            restored = self.restore(table, snap_id)
            snap = manifest(restored, key, sorted(restored.columns))
        n = diff(snap, live, key).agg(*count_changes()).collect()[0]
        out = {
            "matching": n["same"],
            "changed": n["changed"],
            "missing_live": n["removed"],
            "extra_live": n["added"],
        }
        out["ok"] = not (
            out["changed"] or out["missing_live"] or out["extra_live"]
        )
        return out

    # -- retention --------------------------------------------------------
    def purge(self, table: str, keep_last: int) -> list[int]:
        """Delete snapshots beyond the newest `keep_last`, never removing
        a full snapshot an incremental still depends on. The log commit
        unpublishes them before any directory is deleted, so a purge that
        dies mid-delete leaves only debris that `vacuum` reclaims."""
        import shutil

        ids = self.snapshot_ids(table)
        keep = set(ids[-keep_last:]) if keep_last else set(ids)
        for sid in list(keep):  # and every snapshot a kept one depends on
            keep.update(m["id"] for m in self._chain(table, sid))
        purged = [i for i in ids if i not in keep]
        if purged:
            self.log.commit(
                "purge",
                [
                    {
                        "remove": {
                            "path": f"{table}/snap_{sid:06d}",
                            "table": table,
                            "snap_id": sid,
                        }
                    }
                    for sid in purged
                ],
            )
        for sid in purged:
            shutil.rmtree(self._dir(table, sid))
        return purged

    # -- housekeeping ------------------------------------------------------
    def compact(
        self, table: str, snap_id: int, target_rows_per_file: int = 1_000_000
    ) -> dict:
        """Compact a snapshot's data files (checksummed rewrite + atomic
        swap via sinks.compact_files) and record it as a 'compact'
        commit — the log then explains why the file set changed without
        any add/remove of snapshots."""
        from blog_snapshotbackup_azuredatalake_spark.sources.sinks import (
            compact_files,
        )

        stats = compact_files(
            self.spark,
            f"{self._dir(table, snap_id)}/data",
            target_rows_per_file,
        )
        self.log.commit(
            "compact",
            [
                {
                    "compact": {
                        "path": f"{table}/snap_{snap_id:06d}",
                        "files_before": stats["files_before"],
                        "files_after": stats["files_after"],
                    }
                }
            ],
        )
        return stats

    # -- vacuum -----------------------------------------------------------
    VACUUM_MIN_AGE_SECONDS = 3600.0

    def vacuum(
        self,
        dry_run: bool = False,
        min_age_seconds: float = VACUUM_MIN_AGE_SECONDS,
    ) -> list[dict]:
        """Delta-style VACUUM: delete snapshot directories present on
        storage but absent from the transaction log's live set — the
        debris a writer leaves when it dies between the data write and
        the log commit (the log commit is the atomic publish point, so
        an uncommitted directory is garbage by definition).

        An unlisted directory younger than `min_age_seconds` (newest
        mtime of the directory, its subdirectories and its files) is
        reported as 'recent' and NOT deleted: snapshot() writes data and
        meta BEFORE its log commit, so a vacuum racing an in-flight
        writer would otherwise delete its not-yet-committed directory.
        Same guard as Delta's VACUUM retention threshold; pass 0 only
        when no writer can be active.

        Listing walks ``<table>/snap_*`` with POSIX calls, as purge does,
        and counts every file: a writer that died mid-write may leave only
        ``data/_temporary/``, which a Spark file listing skips. The
        deletion is committed to the log as a 'vacuum' op: the audit
        trail explains every disappearance.

        Returns one report dict per snapshot dir: path, files, bytes,
        status ('live' | 'recent' | 'orphan'), deleted."""
        import shutil

        listing = []
        snaps = os.path.join(glob.escape(self.root), "*", "snap_" + "[0-9]" * 6)
        for path in sorted(glob.glob(snaps)):
            dirs, files = [], []
            for dp, _, fs in os.walk(path):
                dirs.append(os.stat(dp))
                files += [os.stat(os.path.join(dp, f)) for f in fs]
            listing.append(
                {
                    "snap_dir": os.path.relpath(path, self.root),
                    "files": len(files),
                    "bytes": sum(st.st_size for st in files),
                    "newest_mod": max(st.st_mtime for st in dirs + files),
                }
            )
        live = set(self.log.state().keys())
        now = time.time()
        report = []
        removed = []
        for r in listing:
            unlisted = r["snap_dir"] not in live
            recent = unlisted and now - r["newest_mod"] < min_age_seconds
            orphan = unlisted and not recent
            if orphan and not dry_run:
                shutil.rmtree(
                    os.path.join(self.root, r["snap_dir"]), ignore_errors=True
                )
                removed.append(r)
            report.append(
                {
                    "path": r["snap_dir"],
                    "files": r["files"],
                    "bytes": r["bytes"],
                    "status": (
                        "orphan"
                        if orphan
                        else ("recent" if recent else "live")
                    ),
                    "deleted": orphan and not dry_run,
                }
            )
        if removed:
            self.log.commit(
                "vacuum",
                [
                    {
                        "remove": {
                            "path": r["snap_dir"],
                            "files": r["files"],
                            "bytes": r["bytes"],
                        }
                    }
                    for r in removed
                ],
            )
        return report

    # -- log-based time travel --------------------------------------------
    def restore_at_log_version(self, table: str, version: int) -> DataFrame:
        """Restore the newest snapshot of `table` that was live at
        transaction-log `version` — point-in-time recovery keyed by the
        commit history rather than by snapshot id."""
        live = [
            meta
            for meta in self.log.state(as_of=version).values()
            if meta["table"] == table
        ]
        if not live:
            raise ValueError(f"no live snapshot of {table} at v{version}")
        return self.restore(table, max(m["snap_id"] for m in live))


def snap_txn_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the transactional backup lifecycle end-to-end in a scratch
    store — full snapshot, perturbed incremental, forced full (new
    chain), retention purge — and return the commit log joined with
    liveness at HEAD. Deterministic for a given sf dir; rows-only (the
    log is JSON files, not a SQL-visible table)."""

    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _perturbed_orders,
    )
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    # every-10th-key slice: the lifecycle (full → delta → forced full →
    # purge) is what's demonstrated; writing the whole table 3× is not
    keyed = F.col("o_orderkey") % 10 == 0
    orders = load_table(spark, sf_dir, "orders").filter(keyed)
    with scratch_store("snap_txn_log_") as work:
        mgr = SnapshotManager(spark, work)
        mgr.snapshot(orders, "orders", "o_orderkey")
        perturbed = _perturbed_orders(spark, sf_dir).filter(keyed)
        mgr.snapshot(perturbed, "orders", "o_orderkey")
        mgr.snapshot(perturbed, "orders", "o_orderkey", force_full=True)
        mgr.purge("orders", keep_last=1)
        live = set(mgr.log.state().keys())
        rows = []
        for h in mgr.log.history():
            _, actions = mgr.log.read_commit(h["version"])
            for a in actions:
                act = "add" if "add" in a else "remove"
                rows.append(
                    (
                        h["version"],
                        h["op"],
                        act,
                        a[act]["path"],
                        a[act]["path"] in live,
                    )
                )
    return local_frame(
        spark,
        rows, "version int, op string, action string, path string, live boolean"
    )


def snap_txn_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic-concurrency certificate: two writers race on the same
    base version; the log's atomic version claim must let exactly one
    win, raise ``CommitConflict`` for the stale writer, and accept its
    retry only after a re-read — the lost-update protection everything
    else in the store assumes. The emitted history is fully determined
    by the contract, so the oracle is the literal expected log: if the
    conflict were NOT raised (interleaved commit, silent overwrite) the
    row set changes and the driver gate goes red. Metadata-only: the
    'table' here is the commit log itself."""
    from blog_snapshotbackup_azuredatalake_spark.operators.txnlog import (
        CommitConflict,
        TransactionLog,
    )

    with scratch_store("txn_conflict_") as work:
        log = TransactionLog(work)
        v0 = log.commit("init", [{"add": {"path": "base"}}])
        log.commit("writer_a", [{"add": {"path": "a1"}}], read_version=v0)
        n_conflicts = 0
        try:
            # writer B still believes v0 is HEAD — must NOT be accepted
            log.commit("writer_b", [{"add": {"path": "b1"}}], read_version=v0)
        except CommitConflict:
            n_conflicts += 1
            log.commit(
                "writer_b_retry",
                [{"add": {"path": "b1"}}],
                read_version=log.latest_version(),
            )
        live = set(log.state().keys())
        rows = [
            (h["version"], h["op"], h["n_add"], n_conflicts)
            for h in log.history()
        ]
    out = local_frame(
        spark,
        rows, "version int, op string, n_add bigint, n_conflicts int"
    )
    return out.withColumn(
        "all_live", F.lit(live == {"base", "a1", "b1"})
    )


_TXN_CONFLICT_SQL = """
SELECT * FROM (VALUES
  (0, 'init', CAST(1 AS BIGINT), 1, TRUE),
  (1, 'writer_a', CAST(1 AS BIGINT), 1, TRUE),
  (2, 'writer_b_retry', CAST(1 AS BIGINT), 1, TRUE)
) AS t(version, op, n_add, n_conflicts, all_live)
"""


def snap_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file GC drill: run a snapshot lifecycle, then simulate the
    two classic failure leftovers — a writer that died after its data
    write but before its log commit, and a stray temp upload — and
    VACUUM them away. The transaction log's live set is the source of
    truth (its commit is the atomic publish point); anything on storage
    it doesn't know about is garbage. Self-certifies: the live
    snapshot restores to the same row count after the vacuum, and the
    vacuum itself lands in the log as an audited commit. Rows-only:
    the store is scratch filesystem state, not a SQL-visible table."""

    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _perturbed_orders,
    )
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    keyed = F.col("o_orderkey") % 10 == 0
    orders = load_table(spark, sf_dir, "orders").filter(keyed)
    with scratch_store("snap_vacuum_") as work:
        mgr = SnapshotManager(spark, work)
        mgr.snapshot(orders, "orders", "o_orderkey")
        last = mgr.snapshot(
            _perturbed_orders(spark, sf_dir).filter(keyed),
            "orders",
            "o_orderkey",
        )
        expected = mgr.restore("orders", last).count()
        # crashed writer: data landed, log commit never happened
        orders.limit(100).write.parquet(f"{work}/orders/snap_000099/data")
        # stray temp upload inside an otherwise-live table dir
        orders.limit(10).write.parquet(f"{work}/orders/snap_000098/data")

        # min_age 0: this drill's "crashed writer" debris is seconds old by
        # construction; no concurrent writer exists in the scratch store
        report = mgr.vacuum(min_age_seconds=0.0)
        restored = mgr.restore("orders", last).count()
        head, _ = mgr.log.read_commit(mgr.log.latest_version())
    rows = [
        (
            r["path"],
            int(r["files"]),
            r["bytes"] > 0,
            r["status"],
            r["deleted"],
            restored == expected,
            head["op"] == "vacuum",
        )
        for r in report
    ]
    return local_frame(
        spark,
        rows,
        "path string, files int, has_bytes boolean, status string,"
        " deleted boolean, restore_intact boolean, vacuum_logged boolean",
    )


def snap_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow-clone drill: snapshot a table slice, clone it zero-copy,
    perturb-and-snapshot the ORIGINAL further, and certify that (a)
    the clone still restores the exact pre-perturbation state (pointer
    isolation), (b) the clone directory holds metadata only — no data
    or manifest bytes were copied, and (c) vacuum leaves both tables
    intact (the clone is log-live). One row per certificate check;
    rows-only (the store is scratch filesystem state)."""
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _perturbed_orders,
    )
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    keyed = F.col("o_orderkey") % 10 == 0
    orders = load_table(spark, sf_dir, "orders").filter(keyed)
    with scratch_store("snap_clone_") as work:
        mgr = SnapshotManager(spark, work)
        src_id = mgr.snapshot(orders, "orders", "o_orderkey")
        n_at_clone = mgr.restore("orders", src_id).count()
        clone_id = mgr.clone("orders", src_id, "orders_dev")

        # source moves on; the clone must not
        mgr.snapshot(
            _perturbed_orders(spark, sf_dir).filter(keyed),
            "orders",
            "o_orderkey",
        )
        clone_dir = mgr._dir("orders_dev", clone_id)
        clone_files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(clone_dir)
            for f in fs
        ]
        vacuum_report = mgr.vacuum()
        checks = [
            # restored AFTER the source advanced — this IS the isolation
            # proof: the pointer resolves to the pinned snapshot, not HEAD
            ("clone_restores_source_state",
             mgr.restore("orders_dev", clone_id).count() == n_at_clone),
            ("clone_is_metadata_only",
             [os.path.basename(p) for p in clone_files] == ["meta.json"]),
            ("source_advanced_past_clone",
             mgr.snapshot_ids("orders")[-1] > src_id),
            ("vacuum_keeps_clone_and_source",
             not any(r["deleted"] for r in vacuum_report)),
            ("clone_commit_logged",
             any(h["op"] == "clone" for h in mgr.log.history())),
        ]
    return local_frame(spark, checks, "check string, ok boolean")


def snap_restore_drill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restore drill — the backup-operations staple "a backup you never
    restored is not a backup", as an oracle-gated certificate. Builds a
    real differential chain in a scratch store (full v0, deltas v1/v2
    of the deterministic perturbed days), then restores EVERY version
    and fingerprints the materialized state: row count + 60-bit xor of
    the canonical row hash, plus the delta-chain length the restore
    folded; the fingerprint is the state ``digest`` the store records.
    `checksum_match` compares the restored fingerprint against
    the directly-constructed state's — both computed Spark-side, each a
    two-number aggregate (the 100 TB verify cost is one scan per side,
    shuffling two numbers; nothing row-sized leaves the executors).
    The oracle recomputes count/xor straight from the state SQL, so a
    restore that drops a tombstone or resurrects a deleted key flips
    BOTH the fingerprint columns and the match flag."""
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _perturbed_orders,
        _perturbed_orders_v2,
        _ORDERS_COLS,
    )
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    keyed = F.col("o_orderkey") % 10 == 0
    v0 = load_table(spark, sf_dir, "orders").filter(keyed)
    v1 = _perturbed_orders(spark, sf_dir).filter(keyed)
    v2 = _perturbed_orders_v2(spark, sf_dir).filter(keyed)

    def fingerprint(df: DataFrame):
        return tuple(df.agg(*digest(row_hash(*_ORDERS_COLS))).collect()[0])

    rows = []
    with scratch_store("snap_restore_drill_") as work:
        mgr = SnapshotManager(spark, work)
        sids = [mgr.snapshot(v, "orders", "o_orderkey") for v in (v0, v1, v2)]
        for ver, (sid, direct) in enumerate(zip(sids, (v0, v1, v2))):
            chain_len = len(mgr._chain("orders", sid))
            rn, rx = fingerprint(mgr.restore("orders", sid))
            dn, dx = fingerprint(direct)
            rows.append((ver, chain_len, rn, rx, (rn, rx) == (dn, dx)))
    return local_frame(
        spark,
        rows,
        "version int, chain_len int, n_rows bigint, xor_checksum bigint,"
        " checksum_match boolean",
    )


def _restore_drill_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _PERTURBED_SQL,
        _PERTURBED_V2_SQL,
        ORDERS_COLS_SQL,
    )

    digest = sql_digest(sql_row_hash(ORDERS_COLS_SQL), "n_rows", "xor_checksum")
    selects = []
    # chain layout by construction: v0 full, v1/v2 deltas against v0
    for ver, (src, chain_len) in enumerate(
        [("orders", 1), ("v1", 2), ("v2", 2)]
    ):
        selects.append(f"""
SELECT {ver} AS version, {chain_len} AS chain_len, {digest},
       TRUE AS checksum_match
FROM {src} WHERE o_orderkey % 10 = 0""")
    return (
        f"WITH v1 AS ({_PERTURBED_SQL}), v2 AS ({_PERTURBED_V2_SQL})\n"
        + "\nUNION ALL\n".join(selects)
    )


QUERIES = {
    "snap_txn_log": snap_txn_log,
    "snap_txn_conflict": snap_txn_conflict,
    "snap_vacuum": snap_vacuum,
    "snap_clone": snap_clone,
    "snap_restore_drill": snap_restore_drill,
}
# the lifecycle ops stay rows-only (their result is filesystem
# metadata); the restore drill's certificate IS SQL-derivable, and the
# conflict drill's history is fully pinned by the concurrency contract
ORACLES: dict[str, str] = {
    "snap_restore_drill": _restore_drill_sql(),
    "snap_txn_conflict": _TXN_CONFLICT_SQL,
}
