"""Cache discipline of the registry workload: every timed call of an
entry starts from empty substrate caches, so a second run of
``ann_knn_graph`` in one session is never timed against the kNN graph
the first run left cached. Starts a small local Spark session."""

import functools
import os

import numpy as np
import pytest

import workloads
from ledger import Ledger


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from blog_snapshotbackup_azuredatalake_spark.session import get_session

    s = get_session("perfbench-test")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_second_knn_graph_run_is_timed_after_clearing(spark, tmp_path, monkeypatch):
    import __spark_entry__ as registry
    from blog_snapshotbackup_azuredatalake_spark.operators import dedup, graph

    real = registry.queries()
    cached_at_call = []

    @functools.wraps(real["ann_knn_graph"])
    def probe(spark, lake):
        cached_at_call.append(len(graph._GRAPH_CACHE) + len(dedup._DEDUP_CACHE))
        return real["ann_knn_graph"](spark, lake)

    monkeypatch.setattr(registry, "queries", lambda: {**real, "ann_knn_graph": probe})
    monkeypatch.setattr(workloads, "REGISTRY_ENTRIES", ["ann_knn_graph"])
    # 60 s of work is two passes over the entry list in one session
    inputs = workloads.registry_inputs(str(tmp_path), 0, 60)
    run = workloads.registry_sweep(spark, Ledger(), inputs, np.random.default_rng(0), workloads.Run())
    assert len(run.units) == 2
    assert cached_at_call == [0, 0]
    assert run.failed == 0, run.failures
