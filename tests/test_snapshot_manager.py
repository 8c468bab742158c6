"""SnapshotManager lifecycle: full snapshot → mutate → incremental →
restore both states → verify → retention purge."""
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

    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _hash60,
        _orders_hash_expr,
        _perturbed_orders,
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
            df.select(_hash60(_orders_hash_expr()).alias("h"))
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
