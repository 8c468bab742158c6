"""Job budget of the SnapshotManager calls on the backup loop's hot path.

Spark's fixed cost per job dominates these calls at small and medium
scale, so the number of jobs each call launches is pinned here:

- a full snapshot is one write of its rows plus their row hash
  column, digest observed; nothing reads the written files back;
- an incremental snapshot is one full_outer diff plan (two shuffle map
  stages and the delta write) against the base's stored row hashes; it
  stores no hashes, and its digest and stats are observed in that pass;
- a commit_delta is the write of its change batch, stats observed;
- verifying an intact table against a recorded digest, of a full or
  an incremental snapshot, is one map-only job (the digest observed on
  a ``noop`` write, no shuffle);
- restoring a full snapshot is a plain schema-pinned read that plans
  without a job and without a fold;
- restoring a ``commit_delta`` chain is one window fold
  (``changeset.fold_latest``) over the union of its versions: one
  ``Window``, and no join over the base scan.
"""
import uuid

import pyspark.sql.functions as F
import pytest

from blog_snapshotbackup_azuredatalake_spark.operators.snapshot_manager import (
    SnapshotManager,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import load_table
from tests.conftest import SF_DIR

FULL_SNAPSHOT_JOBS = 1
INCREMENTAL_SNAPSHOT_JOBS = 3
VERIFY_JOBS = 1
FULL_VERIFY_JOBS = 1
COMMIT_DELTA_JOBS = 1


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def store(spark, tmp_path):
    """A store holding a full snapshot of a ~200-row orders slice, and
    the slice after a day of updates and deletes."""
    orders = load_table(spark, SF_DIR, "orders").filter(F.col("o_orderkey") < 800)
    day1 = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")),
    ).filter(F.col("o_orderkey") % 13 != 0)
    mgr = SnapshotManager(spark, str(tmp_path / "store"))
    full = mgr.snapshot(orders, "orders", "o_orderkey")
    return mgr, full, orders, day1


def test_full_snapshot_job_budget(spark, store):
    mgr, _, orders, _ = store
    sid, n_snapshot = _jobs(
        spark,
        lambda: mgr.snapshot(orders, "orders", "o_orderkey", force_full=True),
    )
    assert mgr._read_meta("orders", sid)["kind"] == "full"
    assert n_snapshot == FULL_SNAPSHOT_JOBS


def test_incremental_snapshot_and_verify_job_budget(spark, store):
    mgr, _, _, day1 = store
    sid, n_snapshot = _jobs(
        spark, lambda: mgr.snapshot(day1, "orders", "o_orderkey")
    )
    assert mgr._read_meta("orders", sid)["kind"] == "incremental"
    assert n_snapshot == INCREMENTAL_SNAPSHOT_JOBS
    report, n_verify = _jobs(spark, lambda: mgr.verify(day1, "orders", sid))
    assert report["ok"]
    assert n_verify == VERIFY_JOBS


def test_full_verify_job_budget(spark, store):
    mgr, full, orders, _ = store
    report, n_verify = _jobs(spark, lambda: mgr.verify(orders, "orders", full))
    assert report["ok"]
    assert n_verify == FULL_VERIFY_JOBS


def test_commit_delta_job_budget(spark, store):
    mgr, _, orders, _ = store
    changes = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("_tombstone", F.col("o_orderkey") % 14 == 0)
    )
    sid, n_commit = _jobs(
        spark, lambda: mgr.commit_delta(changes, "orders", "o_orderkey")
    )
    assert mgr._read_meta("orders", sid)["kind"] == "delta"
    assert n_commit == COMMIT_DELTA_JOBS


def test_full_restore_is_a_plain_read(spark, store):
    mgr, full, _, _ = store
    df, n_plan = _jobs(spark, lambda: mgr.restore("orders", full))
    assert n_plan == 0
    assert "Window" not in df._jdf.queryExecution().toString()
    _, n_run = _jobs(
        spark, lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert n_run == 1



def test_delta_restore_is_one_window_fold(spark, store):
    mgr, _, orders, _ = store
    changes = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("_tombstone", F.col("o_orderkey") % 14 == 0)
    )
    mgr.commit_delta(changes, "orders", "o_orderkey")
    sid = mgr.commit_delta(changes.filter(~F.col("_tombstone")), "orders", "o_orderkey")
    df, n_plan = _jobs(spark, lambda: mgr.restore("orders", sid))
    assert n_plan == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    operators = [line.lstrip(" :+-*") for line in plan.splitlines()]
    assert sum(op.startswith("Window ") for op in operators) == 1
    assert "Join" not in plan
