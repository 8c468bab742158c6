"""Job budget of the SnapshotManager calls on the backup loop's hot path.

Spark's fixed cost per job dominates these calls at small and medium
scale, so the number of jobs each call launches is pinned here: an
incremental snapshot is one manifest write plus one full_outer diff
plan (two shuffle map stages and the delta write), a verify is one
manifest join plus its aggregate, and restoring a full snapshot is a
plain schema-pinned read that plans without a job and without a fold.
"""
import uuid

import pyspark.sql.functions as F
import pytest

from blog_snapshotbackup_azuredatalake_spark.operators.snapshot_manager import (
    SnapshotManager,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import load_table
from tests.conftest import SF_DIR

INCREMENTAL_SNAPSHOT_JOBS = 4
VERIFY_JOBS = 4


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
    return mgr, full, day1


def test_incremental_snapshot_and_verify_job_budget(spark, store):
    mgr, _, day1 = store
    sid, n_snapshot = _jobs(
        spark, lambda: mgr.snapshot(day1, "orders", "o_orderkey")
    )
    assert mgr._read_meta("orders", sid)["kind"] == "incremental"
    assert n_snapshot == INCREMENTAL_SNAPSHOT_JOBS
    report, n_verify = _jobs(spark, lambda: mgr.verify(day1, "orders", sid))
    assert report["ok"]
    assert n_verify == VERIFY_JOBS


def test_full_restore_is_a_plain_read(spark, store):
    mgr, full, _ = store
    df, n_plan = _jobs(spark, lambda: mgr.restore("orders", full))
    assert n_plan == 0
    assert "Window" not in df._jdf.queryExecution().toString()
    _, n_run = _jobs(
        spark, lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert n_run == 1
