"""SnapshotManager lifecycle: full snapshot → mutate → incremental →
restore both states → verify → retention purge."""
import glob
import os

import pyspark.sql.functions as F
import pytest

from blog_snapshotbackup_azuredatalake_spark.operators.snapshot_manager import SnapshotManager
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import load_table
from tests.conftest import SF_DIR, assert_matches_oracle


pytestmark = pytest.mark.slow  # excluded from the ≈5¼-min smoke gate

@pytest.fixture()
def mgr(spark, tmp_path):
    return SnapshotManager(spark, str(tmp_path / "backups"))


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_lifecycle(spark, mgr):
    orders = load_table(spark, SF_DIR, "orders")
    s0 = mgr.snapshot(orders, "orders", "o_orderkey")
    assert s0 == 0

    # mutate: change some prices, delete some rows, add new rows
    changed = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")),
    ).filter(F.col("o_orderkey") % 13 != 0)
    added = orders.filter(F.col("o_orderkey") % 17 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    v2 = changed.unionByName(added)

    s1 = mgr.snapshot(v2, "orders", "o_orderkey")
    assert s1 == 1

    # delta stored, not a full copy
    delta = spark.read.parquet(f"{mgr._dir('orders', 1)}/data")
    assert 0 < delta.count() < orders.count()

    # restores reproduce both states exactly
    assert _sorted_rows(mgr.restore("orders", 0)) == _sorted_rows(orders)
    assert _sorted_rows(mgr.restore("orders", 1)) == _sorted_rows(v2)

    # verify: v2 matches snap 1, diverges from snap 0
    assert mgr.verify(v2, "orders", 1)["ok"]
    rep = mgr.verify(v2, "orders", 0)
    assert not rep["ok"] and rep["changed"] > 0 and rep["extra_live"] > 0


def test_purge_keeps_dependency_chain(spark, mgr):
    orders = load_table(spark, SF_DIR, "orders").limit(100)
    mgr.snapshot(orders, "t", "o_orderkey")
    for i in range(3):
        v = orders.withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(float(i + 1))
        )
        mgr.snapshot(v, "t", "o_orderkey")
    purged = mgr.purge("t", keep_last=1)
    # snap 3 depends on base snap 0: both survive; 1 and 2 go
    assert purged == [1, 2]
    assert mgr.snapshot_ids("t") == [0, 3]
    assert mgr.restore("t", 3).count() == 100


def test_vacuum_removes_only_orphans(spark, mgr):
    orders = load_table(spark, SF_DIR, "orders").limit(200)
    mgr.snapshot(orders, "t", "o_orderkey")
    v2 = orders.withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    last = mgr.snapshot(v2, "t", "o_orderkey")

    # crashed writer: data written, log commit never happened
    orders.limit(50).write.parquet(f"{mgr.root}/t/snap_000099/data")

    dry = mgr.vacuum(dry_run=True, min_age_seconds=0.0)
    assert {r["path"]: r["status"] for r in dry} == {
        "t/snap_000000": "live",
        "t/snap_000001": "live",
        "t/snap_000099": "orphan",
    }
    assert not any(r["deleted"] for r in dry)
    assert os.path.isdir(f"{mgr.root}/t/snap_000099")  # dry run: untouched

    report = mgr.vacuum(min_age_seconds=0.0)
    deleted = [r["path"] for r in report if r["deleted"]]
    assert deleted == ["t/snap_000099"]
    assert not os.path.isdir(f"{mgr.root}/t/snap_000099")
    # live snapshots untouched, restore still exact
    assert mgr.restore("t", last).count() == 200
    # audited: the vacuum is a log commit
    head, actions = mgr.log.read_commit(mgr.log.latest_version())
    assert head["op"] == "vacuum"
    assert [a["remove"]["path"] for a in actions] == ["t/snap_000099"]
    # idempotent: nothing left to collect
    assert not any(r["deleted"] for r in mgr.vacuum(min_age_seconds=0.0))


def test_snap_vacuum_query_shape(spark):
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot_manager import (
        snap_vacuum,
    )

    rows = snap_vacuum(spark, SF_DIR).collect()
    by_path = {r["path"]: r for r in rows}
    assert len(rows) == 4
    orphans = sorted(p for p, r in by_path.items() if r["status"] == "orphan")
    assert orphans == ["orders/snap_000098", "orders/snap_000099"]
    assert all(r["deleted"] for r in by_path.values() if r["status"] == "orphan")
    assert all(not r["deleted"] for r in by_path.values() if r["status"] == "live")
    assert all(r["restore_intact"] and r["vacuum_logged"] for r in rows)


def test_vacuum_grace_window_protects_inflight_writer(spark, mgr):
    """An unlisted dir younger than min_age_seconds is an in-flight
    writer until proven otherwise: reported 'recent', never deleted
    (snapshot() writes data before its log commit, so a zero-grace
    vacuum racing it would destroy the not-yet-published snapshot)."""
    orders = load_table(spark, SF_DIR, "orders").limit(100)
    mgr.snapshot(orders, "t", "o_orderkey")
    # a writer mid-flight: data landed seconds ago, log commit pending
    orders.limit(50).write.parquet(f"{mgr.root}/t/snap_000099/data")

    report = mgr.vacuum()  # default nonzero grace window
    by_path = {r["path"]: r for r in report}
    assert by_path["t/snap_000099"]["status"] == "recent"
    assert not by_path["t/snap_000099"]["deleted"]
    assert os.path.isdir(f"{mgr.root}/t/snap_000099")
    # once old enough it is debris and goes
    gone = mgr.vacuum(min_age_seconds=0.0)
    assert {r["path"] for r in gone if r["deleted"]} == {"t/snap_000099"}


def test_vacuum_reclaims_a_writer_that_died_mid_write(spark, mgr):
    """A writer that died inside Spark's write leaves only a
    ``_temporary`` tree: vacuum lists it like any other debris, as
    'recent' inside the grace window and as an orphan it deletes after."""
    orders = load_table(spark, SF_DIR, "orders").limit(100)
    mgr.snapshot(orders, "t", "o_orderkey")
    part = (
        f"{mgr.root}/t/snap_000007/data/_temporary/0/_temporary/attempt_0/"
        "part-00000.parquet"
    )
    os.makedirs(os.path.dirname(part))
    with open(part, "wb") as f:
        f.write(b"PAR1")

    report = {r["path"]: r for r in mgr.vacuum()}
    assert report["t/snap_000007"]["status"] == "recent"
    assert report["t/snap_000007"]["files"] == 1
    assert not report["t/snap_000007"]["deleted"]
    assert os.path.isfile(part)

    report = {r["path"]: r for r in mgr.vacuum(min_age_seconds=0.0)}
    assert report["t/snap_000007"]["status"] == "orphan"
    assert report["t/snap_000007"]["deleted"]
    assert not os.path.isdir(f"{mgr.root}/t/snap_000007")
    assert report["t/snap_000000"]["status"] == "live"
    assert mgr.restore("t", 0).count() == 100


def test_shallow_clone_zero_copy_and_isolated(spark, mgr):
    orders = load_table(spark, SF_DIR, "orders").limit(200)
    sid = mgr.snapshot(orders, "t", "o_orderkey")
    cid = mgr.clone("t", sid, "t_dev")
    # pointer restore == source state, no bytes copied
    assert mgr.restore("t_dev", cid).count() == 200
    clone_dir = mgr._dir("t_dev", cid)
    files = [f for _, _, fs in os.walk(clone_dir) for f in fs]
    assert files == ["meta.json"]
    # source evolves; clone must keep the old state
    v2 = orders.limit(150)
    mgr.snapshot(v2, "t", "o_orderkey", force_full=True)
    assert mgr.restore("t_dev", cid).count() == 200
    # the clone is log-live: vacuum deletes nothing
    assert not any(r["deleted"] for r in mgr.vacuum(min_age_seconds=0.0))


def test_snap_clone_certificate(spark):
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot_manager import (
        snap_clone,
    )

    rows = {r["check"]: r["ok"] for r in snap_clone(spark, SF_DIR).collect()}
    assert rows and all(rows.values()), rows


def _dir_bytes(path):
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
    )


def test_commit_delta_chain_and_rebase(spark, mgr):
    """The O(|changes|) CDC-apply path: chained delta commits restore
    exactly, write only change-sized data (byte-audited), and rebase
    compacts the chain back to a single full snapshot."""
    orders = load_table(spark, SF_DIR, "orders")
    mgr.snapshot(orders, "t", "o_orderkey")

    # day 1: update every 10th price, delete every 13th key
    upd1 = (
        orders.filter(
            (F.col("o_orderkey") % 10 == 0) & (F.col("o_orderkey") % 13 != 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("_tombstone", F.lit(False))
    )
    del1 = (
        orders.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("_tombstone", F.lit(True))
    )
    s1 = mgr.commit_delta(upd1.unionByName(del1), "t", "o_orderkey")

    # day 2: insert shifted copies of every 17th key
    ins2 = (
        orders.filter(F.col("o_orderkey") % 17 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        .withColumn("_tombstone", F.lit(False))
    )
    s2 = mgr.commit_delta(ins2, "t", "o_orderkey")

    v1 = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")),
    ).filter(F.col("o_orderkey") % 13 != 0)
    v2 = v1.unionByName(
        orders.filter(F.col("o_orderkey") % 17 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + 10_000_000
        )
    )
    assert _sorted_rows(mgr.restore("t", s1)) == _sorted_rows(v1)
    assert _sorted_rows(mgr.restore("t", s2)) == _sorted_rows(v2)

    # write volume ∝ |changes|: each delta dir is a small fraction of
    # the full snapshot dir on disk (rows AND bytes)
    full_b = _dir_bytes(mgr._dir("t", 0))
    for sid, batch in ((s1, upd1.unionByName(del1)), (s2, ins2)):
        data = spark.read.parquet(f"{mgr._dir('t', sid)}/data")
        assert data.count() == batch.count()
        assert _dir_bytes(mgr._dir("t", sid)) < full_b / 2

    # rebase: one new FULL snapshot, same state, chain compacted
    rid = mgr.rebase("t")
    assert mgr._read_meta("t", rid)["kind"] == "full"
    assert mgr._read_meta("t", rid)["base"] is None
    assert _sorted_rows(mgr.restore("t", rid)) == _sorted_rows(v2)
    # after rebase, purge can drop the old chain entirely
    purged = mgr.purge("t", keep_last=1)
    assert sorted(purged) == [0, s1, s2]
    assert _sorted_rows(mgr.restore("t", rid)) == _sorted_rows(v2)


def test_restore_drill_matches_oracle(spark, ddb):
    from blog_snapshotbackup_azuredatalake_spark.operators import (
        snapshot_manager as sm,
    )
    from tests.conftest import assert_matches_oracle

    df = sm.snap_restore_drill(spark, SF_DIR)
    assert_matches_oracle(df, ddb, sm.ORACLES["snap_restore_drill"])


def test_restore_drill_certificate_shape(spark):
    from blog_snapshotbackup_azuredatalake_spark.operators import (
        snapshot_manager as sm,
    )

    rows = sorted(
        sm.snap_restore_drill(spark, SF_DIR).collect(),
        key=lambda r: r["version"],
    )
    assert [r["version"] for r in rows] == [0, 1, 2]
    assert [r["chain_len"] for r in rows] == [1, 2, 2]
    assert all(r["checksum_match"] for r in rows)
    # the perturbed days actually changed state: fingerprints differ
    assert len({(r["n_rows"], r["xor_checksum"]) for r in rows}) == 3


def test_restore_drill_detects_tampering(spark, tmp_path):
    # corrupt a delta and the restored fingerprint must diverge from
    # the direct state — the failure mode the drill exists to catch
    import shutil

    from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
        row_hash_int,
    )
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _perturbed_orders,
        _ORDERS_COLS,
    )

    keyed = F.col("o_orderkey") % 10 == 0
    v0 = load_table(spark, SF_DIR, "orders").filter(keyed)
    v1 = _perturbed_orders(spark, SF_DIR).filter(keyed)
    mgr = SnapshotManager(spark, str(tmp_path / "store"))
    mgr.snapshot(v0, "orders", "o_orderkey")
    s1 = mgr.snapshot(v1, "orders", "o_orderkey")
    # tamper: replace the delta payload with an empty-change delta
    d = mgr._dir("orders", s1)
    shutil.rmtree(f"{d}/data")
    v0.limit(0).withColumn("_tombstone", F.lit(False)).write.parquet(
        f"{d}/data"
    )

    def fp(df):
        return tuple(
            df.select(row_hash_int(*_ORDERS_COLS).alias("h"))
            .agg(F.count(F.lit(1)), F.expr("bit_xor(h)"))
            .collect()[0]
        )

    assert fp(mgr.restore("orders", s1)) != fp(v1)


from blog_snapshotbackup_azuredatalake_spark.operators import (
    snapshot_manager as _sm,
)


@pytest.mark.parametrize("name", sorted(_sm.ORACLES))
def test_snapshot_manager_matches_oracle(spark, ddb, name):
    df = _sm.QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, ddb, _sm.ORACLES[name])


class _Crash(Exception):
    """A writer dying at an injected point."""


def _crash_after_data_write(monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if path.endswith("/data"):
            raise _Crash(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _crash_before_log_commit(monkeypatch):
    from blog_snapshotbackup_azuredatalake_spark.operators.txnlog import (
        TransactionLog,
    )

    def commit(self, op, actions, read_version=None):
        raise _Crash(op)

    monkeypatch.setattr(TransactionLog, "commit", commit)


def _slice_states(spark):
    """Three days of an orders slice, and the change batch from day 1
    to day 2 (updates, deletes, inserts) for commit_delta."""
    k = F.col("o_orderkey")
    v0 = load_table(spark, SF_DIR, "orders").filter(k % 10 == 0)
    v1 = v0.withColumn(
        "o_totalprice",
        F.when(k % 20 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")),
    ).filter(k % 30 != 0)
    upd = v1.filter((k % 70 == 0) & (k % 110 != 0)).withColumn(
        "o_orderpriority", F.lit("9-DAY-TWO")
    )
    dels = v1.filter(k % 110 == 0)
    ins = v1.filter(k % 90 == 0).withColumn("o_orderkey", k + 10_000_000)
    changes = (
        upd.unionByName(ins)
        .withColumn("_tombstone", F.lit(False))
        .unionByName(dels.withColumn("_tombstone", F.lit(True)))
    )
    v2 = (
        v1.filter((k % 70 != 0) & (k % 110 != 0))
        .unionByName(upd)
        .unionByName(ins)
    )
    return v0, v1, v2, changes


@pytest.mark.parametrize(
    "crash", [_crash_after_data_write, _crash_before_log_commit]
)
def test_crashed_writer_leaves_only_debris(spark, mgr, monkeypatch, crash):
    """A writer that dies before its log commit leaves a directory the
    log does not know. The next snapshot() and commit_delta() must get
    past it (new id, committed base), every committed version must
    restore exactly, and vacuum must reclaim exactly that debris."""
    v0, v1, v2, changes = _slice_states(spark)
    key = "o_orderkey"
    s0 = mgr.snapshot(v0, "t", key)
    s1 = mgr.snapshot(v1, "t", key)
    with monkeypatch.context() as m:
        crash(m)
        with pytest.raises(_Crash):
            mgr.commit_delta(changes, "t", key)
        with pytest.raises(_Crash):
            mgr.snapshot(v2, "t", key)
    debris = {
        f"t/{d}" for d in os.listdir(f"{mgr.root}/t")
    } - {f"t/snap_{i:06d}" for i in (s0, s1)}
    assert len(debris) == 2

    # chained onto the committed head, not onto the debris
    s2 = mgr.commit_delta(changes, "t", key)
    assert mgr._read_meta("t", s2)["base"] == s1
    s3 = mgr.snapshot(v2, "t", key)
    assert mgr._read_meta("t", s3)["base"] == s0
    states = {s0: v0, s1: v1, s2: v2, s3: v2}
    assert mgr.snapshot_ids("t") == sorted(states)
    assert not debris & {f"t/snap_{i:06d}" for i in states}
    want = {sid: _sorted_rows(df) for sid, df in states.items()}
    for sid in states:
        assert _sorted_rows(mgr.restore("t", sid)) == want[sid]

    report = mgr.vacuum(min_age_seconds=0.0)
    assert {r["path"] for r in report if r["deleted"]} == debris
    for sid in states:
        assert _sorted_rows(mgr.restore("t", sid)) == want[sid]


def test_crashed_purge_leaves_only_debris(spark, mgr, monkeypatch):
    """A purge that dies between deleting two snapshot directories must
    not leave the log listing a deleted snapshot: every listed snapshot
    restores exactly, the next purge succeeds, and vacuum reclaims
    exactly the directory the crashed purge left behind."""
    import shutil

    v0, v1, v2, _ = _slice_states(spark)
    key = "o_orderkey"
    s0 = mgr.snapshot(v0, "t", key)
    s1 = mgr.snapshot(v1, "t", key)
    s2 = mgr.snapshot(v2, "t", key, force_full=True)
    s3 = mgr.snapshot(v1, "t", key)
    want = {
        sid: _sorted_rows(df)
        for sid, df in {s0: v0, s1: v1, s2: v2, s3: v1}.items()
    }
    real_rmtree = shutil.rmtree
    calls = []

    def rmtree(path, *args, **kwargs):
        calls.append(path)
        if len(calls) == 2:
            raise _Crash(path)
        real_rmtree(path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(shutil, "rmtree", rmtree)
        with pytest.raises(_Crash):
            mgr.purge("t", keep_last=1)  # s3 and its base s2 are kept
    assert mgr.snapshot_ids("t") == [s2, s3]
    for sid in (s2, s3):
        assert _sorted_rows(mgr.restore("t", sid)) == want[sid]

    s4 = mgr.snapshot(v2, "t", key, force_full=True)
    assert mgr.purge("t", keep_last=1) == [s2, s3]
    assert mgr.snapshot_ids("t") == [s4]
    report = mgr.vacuum(min_age_seconds=0.0)
    assert {r["path"] for r in report if r["deleted"]} == {
        f"t/snap_{s1:06d}"
    }
    assert _sorted_rows(mgr.restore("t", s4)) == want[s2]


def test_store_without_recorded_schema_reads_the_same(spark, tmp_path):
    """meta.json written before schemas were recorded: restore, verify
    and the next incremental snapshot fall back to schema inference and
    give the same rows and report as a store that records them."""
    import json
    import shutil

    v0, v1, v2, changes = _slice_states(spark)
    key = "o_orderkey"
    a = SnapshotManager(spark, str(tmp_path / "a"))
    sids = [
        a.snapshot(v0, "t", key),
        a.snapshot(v1, "t", key),
        a.commit_delta(changes, "t", key),
    ]
    shutil.copytree(a.root, tmp_path / "b")
    b = SnapshotManager(spark, str(tmp_path / "b"))
    for sid in sids:
        path = b._meta_path("t", sid)
        with open(path) as f:
            meta = json.load(f)
        assert meta.pop("schema")
        with open(path, "w") as f:
            json.dump(meta, f)

    for sid, live in zip(sids, (v0, v1, v2)):
        assert _sorted_rows(b.restore("t", sid)) == _sorted_rows(
            a.restore("t", sid)
        )
        assert b.verify(live, "t", sid) == a.verify(live, "t", sid)
    na, nb = a.snapshot(v2, "t", key), b.snapshot(v2, "t", key)
    assert na == nb
    for m in (a, b):
        assert _sorted_rows(m.restore("t", na)) == _sorted_rows(v2)
    assert _sorted_rows(
        spark.read.parquet(f"{b._dir('t', nb)}/data")
    ) == _sorted_rows(spark.read.parquet(f"{a._dir('t', na)}/data"))


def test_verify_resolves_deltas_and_clones(spark, mgr):
    """A commit_delta() snapshot and a clone store no manifest and no
    digest: verify() compares an intact table against their restored
    state, and still reports a tampered row."""
    v0, v1, v2, changes = _slice_states(spark)
    key = "o_orderkey"
    mgr.snapshot(v0, "t", key)
    mgr.snapshot(v1, "t", key)
    sid = mgr.commit_delta(changes, "t", key)
    cid = mgr.clone("t", sid, "t_dev")
    k = v2.agg(F.min(key)).collect()[0][0]
    tampered = v2.withColumn(
        "o_totalprice",
        F.when(F.col(key) == k, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    for table, snap_id in (("t", sid), ("t_dev", cid)):
        intact = mgr.verify(v2, table, snap_id)
        assert intact["ok"], intact
        assert intact["matching"] == v2.count()
        rep = mgr.verify(tampered, table, snap_id)
        assert not rep["ok"]
        assert (rep["changed"], rep["missing_live"], rep["extra_live"]) == (
            1,
            0,
            0,
        )


def _without_digests(mgr, root):
    """A copy of `mgr`'s store whose add actions carry no state digest,
    as in a store written before digests were recorded."""
    import json
    import shutil

    shutil.copytree(mgr.root, root)
    log_dir = os.path.join(root, "_txn_log")
    for name in os.listdir(log_dir):
        path = os.path.join(log_dir, name)
        with open(path) as f:
            lines = [json.loads(ln) for ln in f if ln.strip()]
        for a in lines[1:]:
            for field in ("rows", "xor60"):
                a.get("add", {}).pop(field, None)
        with open(path, "w") as f:
            f.writelines(json.dumps(ln) + "\n" for ln in lines)
    return SnapshotManager(mgr.spark, str(root))


@pytest.mark.parametrize("kind", ["full", "incremental"])
def test_digest_verify_matches_exact_join(spark, tmp_path, kind):
    """verify() against a recorded digest returns the dict the exact
    manifest join returns, for an intact table and for each kind of
    tampering, a swap of two keys' payloads included (a digest that
    ignored the key would miss it)."""
    v0, v1, _, _ = _slice_states(spark)
    key = "o_orderkey"
    a = SnapshotManager(spark, str(tmp_path / "a"))
    sid = a.snapshot(v0, "t", key)
    state = v0
    if kind == "incremental":
        sid, state = a.snapshot(v1, "t", key), v1
    assert a._read_meta("t", sid)["kind"] == kind
    assert "xor60" in a._committed("t")[sid]
    b = _without_digests(a, tmp_path / "b")
    assert "xor60" not in b._committed("t")[sid]
    assert _sorted_rows(b.restore("t", sid)) == _sorted_rows(state)

    for name, (live, bad) in _tamper_cases(state, key).items():
        got = a.verify(live, "t", sid)
        assert got == b.verify(live, "t", sid), name
        assert (got["changed"], got["missing_live"], got["extra_live"]) == bad
        assert got["ok"] == (bad == (0, 0, 0)), name


def _tamper_cases(state, key):
    """Name -> (live table, its expected (changed, missing_live,
    extra_live) against `state`): intact, one changed row, one missing
    key, one extra key, and two keys swapping payloads."""
    k = F.col(key)
    k1, k2 = (r[0] for r in state.select(key).orderBy(key).limit(2).collect())
    return {
        "intact": (state, (0, 0, 0)),
        "changed": (
            state.withColumn(
                "o_totalprice",
                F.when(k == k1, F.col("o_totalprice") + 1.0).otherwise(
                    F.col("o_totalprice")
                ),
            ),
            (1, 0, 0),
        ),
        "missing": (state.filter(k != k1), (0, 1, 0)),
        "extra": (
            state.unionByName(
                state.filter(k == k1).withColumn(key, k + 1_000_000_000)
            ),
            (0, 0, 1),
        ),
        "swap": (
            state.filter(~k.isin(k1, k2)).unionByName(
                state.filter(k.isin(k1, k2)).withColumn(
                    key, F.when(k == k1, F.lit(k2)).otherwise(F.lit(k1))
                )
            ),
            (2, 0, 0),
        ),
    }


def test_verify_counts_are_ints_on_an_empty_table(spark, tmp_path):
    """An empty table verifies as intact with integer zero counts on
    the digest path and on the exact join, for a full snapshot and for
    an incremental one (where Spark drops the observer of the empty
    source, so no digest is recorded)."""
    v0, _, _, _ = _slice_states(spark)
    key = "o_orderkey"
    empty = v0.filter(F.lit(False))
    a = SnapshotManager(spark, str(tmp_path / "a"))
    full = a.snapshot(empty, "t", key)
    a.snapshot(v0, "u", key)
    inc = a.snapshot(empty, "u", key)
    b = _without_digests(a, tmp_path / "b")
    want = {
        "matching": 0,
        "changed": 0,
        "missing_live": 0,
        "extra_live": 0,
        "ok": True,
    }
    for m in (a, b):
        for table, sid in (("t", full), ("u", inc)):
            got = m.verify(empty, table, sid)
            assert got == want
            assert all(type(v) is int for k, v in got.items() if k != "ok")


def test_add_actions_record_write_stats(spark, mgr):
    """The log's add actions carry the per-commit record, observed on
    the frames the writes already ran: the state digest and rows of a
    snapshot, an incremental's delta rows and tombstones, and a
    commit_delta batch's rows and tombstones. No snapshot writes a
    manifest: a full snapshot's data holds the row hash column, and an
    incremental's does not."""
    from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
        row_hash_int,
    )

    v0, v1, _, changes = _slice_states(spark)
    key = "o_orderkey"
    s0 = mgr.snapshot(v0, "t", key)
    s1 = mgr.snapshot(v1, "t", key)
    s2 = mgr.commit_delta(changes, "t", key)
    add = mgr._committed("t")
    for sid, state in ((s0, v0), (s1, v1)):
        n, x = (
            state.select(row_hash_int(*sorted(state.columns)).alias("h"))
            .agg(F.count(F.lit(1)), F.expr("bit_xor(h)"))
            .collect()[0]
        )
        assert (add[sid]["rows"], add[sid]["xor60"]) == (n, x)
    assert "delta_rows" not in add[s0] and "tombstones" not in add[s0]
    data = spark.read.parquet(f"{mgr._dir('t', s1)}/data")
    assert add[s1]["delta_rows"] == data.count()
    assert add[s1]["tombstones"] == data.filter("_tombstone").count() > 0
    assert add[s2]["rows"] == changes.count()
    assert add[s2]["tombstones"] == changes.filter("_tombstone").count() > 0
    assert "xor60" not in add[s2]
    assert all(add[sid]["duration_s"] > 0 for sid in (s0, s1, s2))
    assert not any(
        os.path.isdir(f"{mgr._dir('t', s)}/manifest") for s in (s0, s1, s2)
    )

    def fields(sid):
        return {f["name"] for f in mgr._read_meta("t", sid)["schema"]["fields"]}

    assert "_row_md5" in fields(s0)
    assert "_row_md5" not in fields(s1)


def _old_layout(mgr, root):
    """A copy of `mgr`'s store in the layout written before full
    snapshots held their row hashes: each full snapshot's data loses
    ``_row_md5``, a ``manifest/`` of (key, row_md5) holds the hashes, and
    the schema in its meta.json loses the field."""
    import json
    import shutil

    shutil.copytree(mgr.root, root)
    old = SnapshotManager(mgr.spark, str(root))
    for add in old.log.state().values():
        table, sid = add["table"], add["snap_id"]
        meta = old._read_meta(table, sid)
        if meta["kind"] != "full":
            continue
        data = mgr.spark.read.parquet(f"{mgr._dir(table, sid)}/data")
        d = old._dir(table, sid)
        shutil.rmtree(f"{d}/data")
        data.drop("_row_md5").write.parquet(f"{d}/data")
        data.select(
            F.col(meta["key"]).alias("key"), F.col("_row_md5").alias("row_md5")
        ).write.parquet(f"{d}/manifest")
        meta["schema"]["fields"] = [
            f for f in meta["schema"]["fields"] if f["name"] != "_row_md5"
        ]
        with open(old._meta_path(table, sid), "w") as f:
            json.dump(meta, f)
    return old


def test_store_in_the_old_layout_reads_the_same(spark, tmp_path):
    """A store whose full snapshots keep their row hashes in a separate
    manifest (the layout before the data held them) restores, verifies
    on the digest path and on the exact join, and takes the next
    incremental snapshot exactly as the current layout does."""
    v0, v1, v2, changes = _slice_states(spark)
    key = "o_orderkey"
    new = SnapshotManager(spark, str(tmp_path / "new"))
    sids = [
        new.snapshot(v0, "t", key),
        new.snapshot(v1, "t", key),
        new.commit_delta(changes, "t", key),
    ]
    old = _old_layout(new, tmp_path / "old")
    full = old._dir("t", sids[0])
    assert os.path.isdir(f"{full}/manifest")
    assert "_row_md5" not in spark.read.parquet(f"{full}/data").columns
    assert not os.path.isdir(f"{new._dir('t', sids[0])}/manifest")

    for sid, state in zip(sids, (v0, v1, v2)):
        want = _sorted_rows(state)
        assert _sorted_rows(new.restore("t", sid)) == want
        assert _sorted_rows(old.restore("t", sid)) == want
    stores = {
        "new": new,
        "old": old,
        "new_exact": _without_digests(new, tmp_path / "new_exact"),
        "old_exact": _without_digests(old, tmp_path / "old_exact"),
    }
    for sid, state in zip(sids[:2], (v0, v1)):
        for name, (live, bad) in _tamper_cases(state, key).items():
            got = {s: m.verify(live, "t", sid) for s, m in stores.items()}
            assert len({repr(v) for v in got.values()}) == 1, (sid, name, got)
            rep = got["new"]
            assert (rep["changed"], rep["missing_live"], rep["extra_live"]) == bad

    n_new, n_old = new.snapshot(v2, "t", key), old.snapshot(v2, "t", key)
    assert n_new == n_old
    assert new._read_meta("t", n_new) == old._read_meta("t", n_old)
    assert _sorted_rows(
        spark.read.parquet(f"{old._dir('t', n_old)}/data")
    ) == _sorted_rows(spark.read.parquet(f"{new._dir('t', n_new)}/data"))
    for m, sid in ((new, n_new), (old, n_old)):
        assert _sorted_rows(m.restore("t", sid)) == _sorted_rows(v2)
        assert m.verify(v2, "t", sid)["ok"]


def test_driver_built_entries_remove_their_scratch_store(spark):
    """The lifecycle entries whose result is built on the driver remove
    their scratch store before they return, so repeated calls leave no
    directory behind on tmpfs."""
    from blog_snapshotbackup_azuredatalake_spark.operators import (
        snapshot_manager as sm,
    )
    from blog_snapshotbackup_azuredatalake_spark import scratch

    root = scratch._process_root()
    names = {
        "snap_txn_log": "snap_txn_log_",
        "snap_txn_conflict": "txn_conflict_",
        "snap_vacuum": "snap_vacuum_",
        "snap_clone": "snap_clone_",
        "snap_restore_drill": "snap_restore_drill_",
    }

    def listing():
        return {
            d
            for prefix in names.values()
            for d in glob.glob(os.path.join(root, prefix + "*"))
        }

    before = listing()
    for name in names:
        assert getattr(sm, name)(spark, SF_DIR).count() > 0
    assert listing() <= before
