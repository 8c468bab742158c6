"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every operator from SURVEY.md §2
(keys match the §2 inventory tables) for the driver's DuckDB correctness
gate at sf0.01.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 flavor) on /root/testdata/sf0.001."""
    from blog_snapshotbackup_azuredatalake_spark.plans import analytics

    return analytics.q1_pricing_summary(spark, "/root/testdata/sf0.001")


# Every module that contributes registry entries, in merge order. A module
# that fails to import raises here rather than dropping its entries.
_MODULES = (
    "plans.analytics",
    "plans.analytics_ext",
    "plans.timeseries",
    "operators.snapshot",
    "operators.dedup",
    "operators.similarity",
    "operators.text",
    "operators.multimodal",
    "operators.curation",
    "operators.scale",
    "operators.clustering",
    "plans.diagnostics",
    "operators.snapshot_manager",
    "operators.sketch",
    "operators.pipeline",
    "operators.graph",
    "sources.sinks",
    "operators.quality",
    "sources.pysource",
    "streaming.entries",
    "streaming.joins",
)


def _registry() -> tuple[dict, dict]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for name in _MODULES:
        mod = importlib.import_module(f"blog_snapshotbackup_azuredatalake_spark.{name}")
        queries.update(getattr(mod, "QUERIES", {}))
        oracles.update(getattr(mod, "ORACLES", {}))
    return queries, oracles


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    return _registry()[1]
