"""The benchmark's two workloads, each a closed loop with one client:
the next call starts when the previous one returns.

* ``lake_backup`` backs up a five-table lake through days of churn with
  ``SnapshotManager``, restores past days, then applies retention. It is
  the only workload that writes to a backup store.
* ``registry_sweep`` runs registry entries once each: compute-heavy
  LLM-data entries next to short entries whose cost is the entry call
  and its jobs' fixed cost, not execution.

Every public call into the program is wrapped in a ledger span named
after the program module it enters. Correctness checks run outside the
timed spans and count into ``failed``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from typing import Callable, NamedTuple

import checks
import gen

# One fixed list: compute-heavy LLM-data entries (similarity, dedup, text,
# curation), whose time is executor work, next to short entries
# whose time is the entry call and per-job fixed cost (streaming, python
# sources, plans, diagnostics, snapshot, sketch, quality). One run of the
# workload must fit the time budget of the benchmark, so the list keeps
# one to three entries per program module.
REGISTRY_ENTRIES = [
    "ann_topk_bruteforce",
    "emb_truncation_audit",
    "ann_knn_graph",
    "corpus_decontaminate_semantic",
    "dedup_minhash",
    "text_ngram_lm",
    "stream_incr_sync",
    "source_python_udtf",
    "q1_pricing_summary",
    "diag_observe_metrics",
    "snap_table_checksum",
    "sketch_cms_topk",
    "dq_completeness",
]
# program module file -> module name used in metric names, where they differ
FAMILY = {"analytics": "plans", "entries": "streaming"}


class Run:
    """What one workload run hands back: timed samples, the count of
    operations attempted and failed, and the workload's own numbers."""

    def __init__(self, probe=None, at_end=None, ref=None):
        self._probe = probe or dict  # () -> {counter: value}
        self._at_end = at_end or dict  # () -> {reading: value}, taken at end()
        self._ref = ref or float  # () -> CPU seconds of one reference job
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.units: list[float] = []  # wall time of each unit of work
        self.unit_cpu: list[float] = []  # and its CPU time
        self.refs: list[float] = []  # CPU time of each reference job
        self.extra: dict[str, float] = {}

    @contextmanager
    def unit(self):
        """Time one unit of work, in wall and CPU seconds, less the
        untimed stretches inside it."""
        t0, before = time.perf_counter(), self._probe().get("cpu_s", 0.0)
        ex_wall, ex_cpu = self._excluded["wall_s"], self._excluded.get("cpu_s", 0.0)
        yield
        self.units.append(time.perf_counter() - t0 - (self._excluded["wall_s"] - ex_wall))
        cpu = self._probe().get("cpu_s", 0.0) - before
        self.unit_cpu.append(cpu - (self._excluded.get("cpu_s", 0.0) - ex_cpu))

    def begin(self) -> None:
        """Start of the timed run."""
        self._start = (time.perf_counter(), self._probe())
        self._excluded = {"wall_s": 0.0}

    @contextmanager
    def untimed(self):
        """A stretch of the timed run, such as a check, left out of its
        ``wall_s`` and probe deltas."""
        t0, before = time.perf_counter(), self._probe()
        yield
        self._excluded["wall_s"] += time.perf_counter() - t0
        for k, v in self._probe().items():
            self._excluded[k] = self._excluded.get(k, 0.0) + v - before[k]

    def reference(self) -> None:
        """Run the reference job once, in an untimed stretch. Workloads
        call this at the start of the timed run, after each unit of work
        and at its end, so the references sample the host's speed across
        the run."""
        with self.untimed():
            self.refs.append(self._ref())

    def end(self) -> None:
        """End of the timed run: ``wall_s`` and the probe's deltas, less
        the untimed stretches, and the ``at_end`` readings, taken before
        the checks that follow the run."""
        t0, before = self._start
        self.extra["wall_s"] = time.perf_counter() - t0 - self._excluded["wall_s"]
        for k, v in self._probe().items():
            self.extra[k] = v - before[k] - self._excluded.get(k, 0.0)
        self.extra.update(self._at_end())

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# -- lake_backup ---------------------------------------------------------------
BACKUP_SF = 0.003
REBASE_EVERY = 2
KEEP_LAST = 2


def backup_inputs(work: str, seed: int, seconds: int) -> dict:
    """The lake and ``seconds // 15`` days of churn, at least two."""
    lake = f"{work}/lake"
    gen.make_backup_lake(lake, seed, BACKUP_SF, max(2, seconds // 15))
    with open(f"{lake}/checksums.json") as f:
        return {"lake": lake, "expected": json.load(f)}


def lake_backup(spark, ledger, inputs, rng, run: Run) -> Run:
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot_manager import (
        SnapshotManager,
    )

    lake, expected = inputs["lake"], inputs["expected"]
    root = os.path.join(os.path.dirname(lake), "backup")
    sm = SnapshotManager(spark, root)
    tables = list(gen.BACKUP_KEYS)
    days = len(expected) - 1
    snap_day: dict[tuple[str, int], int] = {}  # (table, snap id) -> day
    day_snap: dict[tuple[str, int], int] = {}  # (table, day) -> snap id
    day_version: dict[int, int] = {}
    sizes = {"data": 0, "manifest": 0, "changed_rows": 0, "inc_data": 0}

    def read(day: int, t: str, suffix: str = ""):
        return spark.read.parquet(f"{lake}/day_{day:03d}/{t}{suffix}.parquet")

    def wrote(t: str, sid: int, day: int, incremental: bool) -> None:
        snap_day[(t, sid)] = day
        day_snap[(t, day)] = sid
        d = f"{root}/{t}/snap_{sid:06d}"
        with run.untimed():
            data, manifest = du(f"{d}/data"), du(f"{d}/manifest")
        sizes["data"] += data
        sizes["manifest"] += manifest
        if incremental:
            sizes["inc_data"] += data
            sizes["changed_rows"] += expected[f"{day}"][t]["changed"]

    def verify(day: int, t: str, sid: int) -> None:
        with ledger.span("snapshot_manager", "verify"):
            res = sm.verify(read(day, t), t, sid)
        run.check(bool(res["ok"]), f"verify {t} day {day}: {res}")

    def log_state(day: int) -> None:
        with ledger.span("txnlog", "state"):
            sm.log.state()
        day_version[day] = sm.log.latest_version()

    run.begin()
    run.reference()
    t0 = time.perf_counter()
    for t in tables:
        with ledger.span("snapshot_manager", "snapshot"):
            sid = sm.snapshot(read(0, t), t, gen.BACKUP_KEYS[t])
        wrote(t, sid, 0, False)
    run.extra["full_backup_s"] = time.perf_counter() - t0
    for t in tables:
        verify(0, t, day_snap[(t, 0)])
    log_state(0)
    run.reference()

    restores: list[float] = []
    for day in range(1, days + 1):
        with run.unit():
            for t in tables:
                key = gen.BACKUP_KEYS[t]
                if t == gen.CDC_TABLE:
                    with ledger.span("snapshot_manager", "commit_delta"):
                        sid = sm.commit_delta(read(day, t, "_cdc"), t, key)
                    wrote(t, sid, day, True)
                    continue
                with ledger.span("snapshot_manager", "snapshot"):
                    sid = sm.snapshot(read(day, t), t, key)
                wrote(t, sid, day, True)
                verify(day, t, sid)
        run.reference()
        if day % REBASE_EVERY == 0:
            with ledger.span("snapshot_manager", "rebase"):
                sid = sm.rebase(gen.CDC_TABLE)
            wrote(gen.CDC_TABLE, sid, day, False)
            verify(day, gen.CDC_TABLE, sid)
        log_state(day)
        # one seeded point-in-time restore of an earlier day
        past = int(rng.integers(0, day))
        t = tables[int(rng.integers(0, len(tables)))]
        by_version = bool(rng.integers(0, 2))
        t0 = time.perf_counter()
        with ledger.span("snapshot_manager", "restore") as sp:
            if by_version:
                df = sm.restore_at_log_version(t, day_version[past])
            else:
                df = sm.restore(t, day_snap[(t, past)])
            df.write.format("noop").mode("overwrite").save()
        restores.append(time.perf_counter() - t0)
        with run.untimed():
            sp.update(_chain(root, t, day_snap[(t, past)]))
            got = gen.checksum(df.toArrow())
            run.check(
                got == _rows_hash(expected[f"{past}"][t]),
                f"restore {t} day {past}: {got}",
            )
        run.reference()
    live_bytes = sum(
        os.path.getsize(f"{lake}/day_{days:03d}/{t}.parquet") for t in tables
    )
    for t in tables:
        with ledger.span("snapshot_manager", "purge"):
            sm.purge(t, KEEP_LAST)
    with run.untimed():
        before = du(root)
    with ledger.span("snapshot_manager", "vacuum"):
        sm.vacuum(min_age_seconds=0)
    run.reference()
    run.end()
    run.extra["vacuum_bytes_reclaimed"] = before - du(root)
    run.extra["restore_p50_s"] = statistics.median(restores)
    run.extra["restores"] = len(restores)
    run.extra["space_amp"] = du(root) / live_bytes
    run.extra["snapshot_data_bytes"] = sizes["data"]
    run.extra["snapshot_manifest_bytes"] = sizes["manifest"]
    run.extra["bytes_per_changed_row"] = sizes["inc_data"] / max(1, sizes["changed_rows"])
    run.extra["txnlog.commits"] = len(sm.log.versions())
    run.extra["txnlog.log_bytes"] = du(f"{root}/_txn_log")

    # durability: a fresh manager over the finished store restores every
    # snapshot still live in the log to its day's checksum (one read per
    # table: the restores of its snapshots, unioned and tagged)
    from pyspark.sql import functions as F

    fresh = SnapshotManager(spark, root)
    live: dict[str, list[int]] = {}
    for meta in fresh.log.state().values():
        live.setdefault(meta["table"], []).append(meta["snap_id"])
    for t, sids in sorted(live.items()):
        parts = [fresh.restore(t, sid).withColumn("_snap", F.lit(sid)) for sid in sorted(sids)]
        both = parts[0]
        for p in parts[1:]:
            both = both.unionByName(p)
        tbl = both.toArrow()
        snap = tbl["_snap"].to_numpy()
        for sid in sorted(sids):
            got = gen.checksum(tbl.filter(snap == sid).drop(["_snap"]))
            run.check(
                got == _rows_hash(expected[f"{snap_day[(t, sid)]}"][t]),
                f"durable {t} snap {sid}: {got}",
            )
    return run


def _rows_hash(exp: dict) -> dict:
    return {"rows": exp["rows"], "hash": exp["hash"]}


def _chain(root: str, table: str, sid: int) -> dict:
    """Snapshots a restore of ``sid`` reads, and their data files."""
    chain, files, cur = 0, 0, sid
    while cur is not None:
        d = f"{root}/{table}/snap_{cur:06d}"
        with open(f"{d}/meta.json") as f:
            meta = json.load(f)
        if meta.get("kind") == "clone":
            break
        chain += 1
        files += sum(1 for n in os.listdir(f"{d}/data") if n.endswith(".parquet"))
        cur = meta["base"]
    return {"chain_len": chain, "files_read": files}


# -- registry sweeps -----------------------------------------------------------
REGISTRY_SF = 0.01


def registry_inputs(work: str, seed: int, seconds: int) -> dict:
    """The registry tables, and ``seconds // 30`` passes, at least one."""
    lake = f"{work}/lake"
    gen.make_registry_lake(lake, seed, REGISTRY_SF)
    return {"lake": lake, "passes": max(1, seconds // 30)}


def family(fn) -> str:
    mod = fn.__module__.rsplit(".", 1)[-1]
    return FAMILY.get(mod, mod)


def clear_caches(spark) -> None:
    """Drop every substrate cache, so a run pays each build once, as a
    production batch does."""
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import dedup_cache_clear
    from blog_snapshotbackup_azuredatalake_spark.operators.graph import graph_cache_clear

    dedup_cache_clear()
    graph_cache_clear()
    spark.catalog.clearCache()


def registry_sweep(spark, ledger, inputs, rng, run: Run) -> Run:
    """Run every entry of ``REGISTRY_ENTRIES`` in seeded order: the entry
    call (``build``), then a noop write that forces it (``exec``). The
    write also observes a fingerprint of the output, checked afterwards
    against DuckDB. Substrate caches are cleared before each pass."""
    import __spark_entry__ as registry

    qs = registry.queries()
    lake = inputs["lake"]
    names = REGISTRY_ENTRIES
    observed = {}
    run.begin()
    run.reference()
    for _ in range(inputs["passes"]):
        order = [names[i] for i in rng.permutation(len(names))]
        clear_caches(spark)
        for name in order:
            fam = family(qs[name])
            with run.unit():
                with ledger.span(fam, f"{name}:build"):
                    df = qs[name](spark, lake)
                with ledger.span(fam, f"{name}:exec"):
                    df, obs = checks.observe(df)
                    df.write.format("noop").mode("overwrite").save()
            observed.setdefault(name, []).append((obs, df.schema))
            run.reference()
    run.end()
    oracles = registry.oracle_sql()
    con = checks.duckdb_lake(lake)
    try:
        for name in names:
            for obs, schema in observed[name]:
                ok, why = checks.check_entry(spark, con, name, obs.get, schema, oracles.get(name))
                run.check(ok, f"{name}: {why}")
    finally:
        con.close()
    return run


class Workload(NamedTuple):
    inputs: Callable  # (work dir, seed, seconds) -> inputs
    run: Callable  # (spark, ledger, inputs, rng, Run) -> Run
    first_read: str  # directory of the tables the set-up reads, in inputs["lake"]


WORKLOADS = {
    "lake_backup": Workload(backup_inputs, lake_backup, "day_000"),
    "registry_sweep": Workload(registry_inputs, registry_sweep, "."),
}
