"""Output checks for registry entries, made outside the timed spans.

The timed noop write of each entry also observes a fingerprint of the
rows it produced (``observe``): the row count and the sum of a 64-bit
hash of every row. No second pass over the output is run.

An entry with an oracle passes when the fingerprint equals the one of
its ``oracle_sql()`` result computed by DuckDB over the same inputs (the
oracle rows are cast to the entry's schema and hashed by Spark the same
way). An entry without an oracle is held to an invariant of its own,
listed in ``INVARIANTS``.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

# entries without an oracle: DuckDB SQL giving the expected value of one
# observed field, with the failure it catches
INVARIANTS = {
    # the incremental sync copies every source row exactly once
    "stream_incr_sync": ("n", "select count(*) from events"),
}


def _fingerprint_exprs(schema):
    from pyspark.sql import functions as F

    # decimal sum: a long sum of 64-bit hashes overflows under ANSI mode
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*sorted(schema.names)).cast("decimal(38,0)")).alias("h"),
    ]


def observe(df):
    """``df`` with a fingerprint observation attached, and the
    ``Observation`` that holds it once an action on ``df`` has run."""
    from pyspark.sql import Observation

    obs = Observation("perfbench_fingerprint")
    return df.observe(obs, *_fingerprint_exprs(df.schema)), obs


def duckdb_lake(lake: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per table of ``lake``, named after its file."""
    con = duckdb.connect()
    con.execute("set threads to 2")
    for f in sorted(os.listdir(lake)):
        if f.endswith(".parquet"):
            con.execute(f"create view {f[: -len('.parquet')]} as select * from '{lake}/{f}'")
    return con


def oracle_fingerprint(spark, con, sql: str, schema) -> dict:
    """Fingerprint of the DuckDB result of ``sql`` after casting it to
    ``schema``, the Spark schema of the entry's output."""
    from pyspark.sql.pandas.types import to_arrow_schema

    got = con.execute(sql).arrow()
    if sorted(got.column_names) != sorted(schema.names):
        raise ValueError(f"columns {sorted(got.column_names)} != {sorted(schema.names)}")
    target = to_arrow_schema(schema)
    got = pa.table(
        [got[f.name].cast(f.type) for f in target], schema=target.remove_metadata()
    )
    df = spark.createDataFrame(got, schema=schema)
    row = df.agg(*_fingerprint_exprs(schema)).collect()[0]
    return row.asDict()


def check_entry(spark, con, name: str, seen: dict, schema, oracle_sql: str | None):
    """(ok, reason) for one entry's observed fingerprint ``seen``."""
    try:
        if oracle_sql is not None:
            want = oracle_fingerprint(spark, con, oracle_sql, schema)
            ok = (seen["n"], seen["h"]) == (want["n"], want["h"])
            return ok, f"observed {seen} oracle {want}"
        if name in INVARIANTS:
            field, sql = INVARIANTS[name]
            want = con.execute(sql).fetchone()[0]
            return seen["n"] > 0 and seen.get(field) == want, f"{field}={seen.get(field)} want {want}"
        return False, "no oracle and no invariant"
    except Exception as exc:  # a broken check is a failed check, not a crash
        return False, f"{type(exc).__name__}: {exc}"
