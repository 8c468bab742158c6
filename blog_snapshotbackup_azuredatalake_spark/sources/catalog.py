"""Table catalog: parquet loaders over a scale-factor directory.

The reference copies a lake laid out as one directory per dataset; here a
"lake" is a directory of parquet tables (the driver's testdata layout).
Loaders go through ``spark.read.parquet`` so column pruning and predicate
pushdown reach the scan for free.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Primary key per table — the identity used by snapshot manifests and
# incremental sync to decide added/removed/changed.
TABLE_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # Older testdata stores events.ts as parquet TIMESTAMP(NANOS,false),
        # which Spark rejects outright; this legacy conf surfaces it as
        # bigint nanoseconds. Set here (not only in the session factory) so
        # the driver's own SparkSession works too.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") != "bigint":
        # Newer testdata stores ts as TIMESTAMP(MICROS) (surfaced as
        # TIMESTAMP_NTZ). All downstream operators and every DuckDB oracle
        # (`epoch_ns(ts)`) treat ts as naive-UTC epoch nanos, so normalize
        # at the single load point. Pin UTC so the NTZ->TZ cast is the
        # identity wall-clock mapping regardless of the host timezone.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumn(
            "ts",
            (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
                "bigint"
            ),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def load_events_range(
    spark: SparkSession,
    sf_dir: str,
    since_us: int | None = None,
    until_us: int | None = None,
) -> DataFrame:
    """Events with the same bigint-nanos ``ts`` normalization as
    ``load_table``, but with time-range predicates applied to the NATIVE
    column first so they reach the parquet scan as pushed filters
    (row-group / partition pruning). Filtering the derived
    ``unix_micros(...)`` expression instead keeps only ``IsNotNull`` at
    the scan — a watermark sync over a 100 TB lake must skip old row
    groups at the scan, not decode them and filter after.

    Bounds are epoch-micros; ``since_us`` is exclusive (rows strictly
    newer than the last sync), ``until_us`` inclusive (as-of restore).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        if since_us is not None:
            df = df.filter(F.col("ts") > F.lit(since_us * 1000))
        if until_us is not None:
            df = df.filter(F.col("ts") <= F.lit(until_us * 1000))
        return df
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # literal-side casts constant-fold, so these stay scan-pushable
    if since_us is not None:
        df = df.filter(
            F.col("ts")
            > F.timestamp_micros(F.lit(since_us)).cast("timestamp_ntz")
        )
    if until_us is not None:
        df = df.filter(
            F.col("ts")
            <= F.timestamp_micros(F.lit(until_us)).cast("timestamp_ntz")
        )
    return df.withColumn(
        "ts",
        (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
            "bigint"
        ),
    )


# formats the generic reader accepts and their Spark reader options; the
# backup loop copies whatever lands in the lake, not just parquet
_FORMAT_OPTS: dict[str, dict[str, str]] = {
    "parquet": {},
    "csv": {"header": "true", "inferSchema": "false"},
    "json": {},
    "text": {},
    "binaryFile": {},
    "orc": {},
    "avro": {},
}


def load_path(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options: str,
) -> DataFrame:
    """Format-generic loader for non-catalog datasets (a landing area of
    CSV exports, JSON event dumps, raw image files via binaryFile, …).
    Explicit schemas are strongly preferred at scale: inference costs an
    extra full pass and can flip types between daily runs."""
    if fmt not in _FORMAT_OPTS:
        raise KeyError(f"unknown format {fmt!r}; known: {sorted(_FORMAT_OPTS)}")
    reader = spark.read.format(fmt)
    for k, v in {**_FORMAT_OPTS[fmt], **options}.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in the column order of
    the DDL schema ``ddl``), built from an Arrow table so it plans a
    ``LocalTableScan``. A Python list plans a scan of a pickled RDD
    instead, and each result then runs a job in a Python worker."""
    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    table = pa.table(
        [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
