"""Snapshot quality & maintenance operators (SURVEY.md §2A additions).

A backup engine certifies more than byte equality: before promoting a
snapshot it profiles data quality, plans small-file compaction (the
chronic failure mode of incremental backup lakes — every sync appends a
sliver-file per partition), reconciles file-level manifests (the
reference's own blob-copy granularity: capability per BASELINE.json,
"DataFrame copy operations over ADLS"), and reports schema drift
between snapshot versions.

Scale notes (100 TB):
- ``dq_profile`` runs ONE pass with Spark's multi-count-distinct Expand
  (rows multiply by #columns pre-shuffle but carry one value each;
  partial aggs collapse them map-side). The exact distinct counts exist
  for oracle parity — production would swap `approx_count_distinct`
  and keep the identical plan shape minus the Expand.
- ``snap_compaction_plan`` windows partition BY DIRECTORY (month), so
  no window partition ever holds more than one directory's file list —
  file counts per directory are bounded (that's the problem being
  fixed), the directory count isn't.
- ``snap_file_manifest_sync`` reads binaryFile METADATA only (the
  content column is never projected, so the source skips the bytes);
  the diff joins (name, length) pairs, never payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions.hints import (
    broadcast_if_bounded as bcast,
)
from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    md5_int60,
    sql_md5_int60,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
    load_table,
    local_frame,
)

_DQ_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of orders: row count, null count,
    exact distinct count — the validation gate a snapshot passes before
    it is certified for copy. One scan; the single aggregated row is
    stacked into long format afterwards so distinct counting happens on
    the raw columns (bit-exact parity with the oracle), not on casted
    strings."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _DQ_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(c).alias(f"nd_{c}"))
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_rows, n_rows - nn_{c}, nd_{c}" for c in _DQ_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_DQ_COLS)}, {stack_args}) "
            "as (col_name, n_rows, n_nulls, n_distinct)"
        )
    )


_DQ_PROFILE_SQL = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows,"
    f" COUNT(*) - COUNT({c}) AS n_nulls,"
    f" COUNT(DISTINCT {c}) AS n_distinct FROM orders"
    for c in _DQ_COLS
)


# (column, SQL emptiness predicate) pairs for the per-source
# completeness matrix — "empty" is the domain-specific degenerate
# value a NULL check misses
_COMPLETENESS_COLS = (
    ("text", "length(text) = 0"),
    ("lang", "length(lang) = 0"),
    ("n_chars", "n_chars <= 0"),
)


def dq_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, column) completeness matrix over documents: NULL
    count, domain-empty count (zero-length strings, non-positive
    n_chars — degeneracies a NULL check misses), and usable-rows ppm.
    The ingest dashboard that says WHICH feed dropped WHICH field.

    dq_profile is the per-column global profile; this is the grouped
    matrix — one scan, one groupBy(source) with conditional aggregates
    (partial-agg collapses executor-side to #sources rows), stacked to
    long format afterwards. The ppm is integer floor-division of exact
    counts — no float anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, empty in _COMPLETENESS_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(
            F.sum(F.expr(f"case when {empty} then 1 else 0 end")).alias(
                f"ne_{c}"
            )
        )
    one = docs.groupBy("source").agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_rows, n_rows - nn_{c}, ne_{c},"
        f" (nn_{c} - ne_{c}) * 1000000 div n_rows"
        for c, _ in _COMPLETENESS_COLS
    )
    return one.select(
        "source",
        F.expr(
            f"stack({len(_COMPLETENESS_COLS)}, {stack_args}) "
            "as (col_name, n_rows, n_nulls, n_empty, complete_ppm)"
        ),
    )


_DQ_COMPLETENESS_SQL = "\nUNION ALL\n".join(
    f"SELECT source, '{c}' AS col_name, COUNT(*) AS n_rows,"
    f" COUNT(*) - COUNT({c}) AS n_nulls,"
    f" CAST(SUM(CASE WHEN {empty} THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,"
    f" CAST((COUNT({c}) - SUM(CASE WHEN {empty} THEN 1 ELSE 0 END))"
    f" * 1000000 // COUNT(*) AS BIGINT) AS complete_ppm"
    f" FROM documents GROUP BY source"
    for c, empty in _COMPLETENESS_COLS
)


# target compacted-file size; small enough that sf0.01 produces
# multi-file groups, the planner's math is size-independent
COMPACT_TARGET_BYTES = 128 * 1024


def snap_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner. Each (ship month, return flag)
    cell of lineitem stands in for one data file with a deterministic
    byte estimate; files are first-fit packed into ~target-size
    compaction groups WITHIN their month directory via a running-sum
    window (group = start-offset div target). Output is the rewrite
    plan: file → compaction group."""
    line = load_table(spark, sf_dir, "lineitem").select(
        # trunc() is date-typed (date_trunc would be timestamp) — DuckDB's
        # date_trunc('month', ts) yields DATE, and the driver compares types
        F.trunc(F.col("l_shipdate").cast("date"), "month").alias("month"),
        "l_returnflag",
        "l_linestatus",
    )
    files = line.groupBy("month", F.col("l_returnflag").alias("flag")).agg(
        (
            F.count(F.lit(1)) * 48
            + F.sum(F.octet_length("l_returnflag"))
            + F.sum(F.octet_length("l_linestatus"))
        ).alias("file_bytes")
    )
    w = (
        Window.partitionBy("month")
        .orderBy("flag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return files.select(
        "month",
        "flag",
        "file_bytes",
        (
            (F.sum("file_bytes").over(w) - F.col("file_bytes"))
            / F.lit(COMPACT_TARGET_BYTES)
        )
        .cast("bigint")
        .alias("group_id"),
    )


_COMPACTION_SQL = f"""
WITH files AS (
  SELECT date_trunc('month', l_shipdate) AS month,
         l_returnflag AS flag,
         -- strlen = DuckDB's byte length over VARCHAR (its octet_length
         -- is BLOB-only); ≡ Spark octet_length
         CAST(COUNT(*) * 48 + SUM(strlen(l_returnflag))
              + SUM(strlen(l_linestatus)) AS BIGINT) AS file_bytes
  FROM lineitem GROUP BY 1, 2
)
SELECT month, flag, file_bytes,
       CAST(FLOOR((SUM(file_bytes) OVER (PARTITION BY month ORDER BY flag
                     ROWS UNBOUNDED PRECEDING) - file_bytes)
            / {COMPACT_TARGET_BYTES}.0) AS BIGINT) AS group_id
FROM files
"""


def snap_file_manifest_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level incremental sync — the granularity the reference
    actually copies at (blobs, not rows). The lake listing comes from
    the binaryFile source's metadata columns (content never projected
    ⇒ never read); the 'backup' manifest is a deterministic subset
    (files whose byte length is ≡0 mod 3 are missing), and the sync
    plan is the metadata anti-join: copy what the backup lacks, skip
    byte-identical names. Rows-only: DuckDB has no file-stat relation
    to oracle against."""
    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            "length",
        )
    )
    backup = listing.filter(F.col("length") % 3 != 0).select(
        "file_name", F.col("length").alias("b_length")
    )
    return (
        listing.join(backup, "file_name", "left")
        .select(
            "file_name",
            "length",
            F.when(F.col("b_length").isNull(), F.lit("copy"))
            .when(F.col("b_length") != F.col("length"), F.lit("recopy"))
            .otherwise(F.lit("skip"))
            .alias("action"),
        )
        .orderBy("file_name")
    )


# simulated next schema version of orders: one drop, one add, one widen
_SCHEMA_V2 = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "decimal(18,2)"),
    ("o_orderdate", "timestamp_ntz"),
    ("o_comment", "string"),
)


def snap_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution report between snapshot versions: columns
    added / removed / type-changed. Schemas are metadata (a parquet
    footer read), so the comparison is driver-side; the report is what
    an incremental backup consults to decide merge-vs-fail. Rows-only:
    engine type names aren't comparable across Spark and DuckDB."""
    cur = {
        f.name: f.dataType.simpleString()
        for f in load_table(spark, sf_dir, "orders").schema.fields
    }
    nxt = dict(_SCHEMA_V2)
    rows = []
    for name in sorted(cur.keys() | nxt.keys()):
        if name not in nxt:
            rows.append((name, "removed", cur[name], None))
        elif name not in cur:
            rows.append((name, "added", None, nxt[name]))
        elif cur[name] != nxt[name]:
            rows.append((name, "type_changed", cur[name], nxt[name]))
        else:
            rows.append((name, "unchanged", cur[name], nxt[name]))
    return local_frame(
        spark,
        rows, "col_name string, change string, from_type string, to_type string"
    )


def dq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column health check: row count, NaN-poisoned vectors,
    zero-norm vectors, dimensionality drift, norm range. One scan, one
    row out — the gate an embedding table passes before ANN indexing.
    The norm² fold is the same left-to-right double fold the similarity
    ops use, so the min/max are bit-identical to DuckDB's list_reduce."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    has_nan = F.exists(
        F.col("embedding"), lambda x: F.isnan(x.cast("double"))
    )
    return emb.select(
        norm2.alias("norm2"),
        has_nan.alias("has_nan"),
        F.size("embedding").alias("dim"),
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("has_nan"), 1).otherwise(0)).alias("n_nan"),
        F.sum(
            F.when(~F.col("has_nan") & (F.col("norm2") == 0.0), 1).otherwise(0)
        ).alias("n_zero_norm"),
        F.count_distinct("dim").alias("n_dims_seen"),
        F.min(F.when(~F.col("has_nan"), F.col("norm2"))).alias("min_norm2"),
        F.max(F.when(~F.col("has_nan"), F.col("norm2"))).alias("max_norm2"),
    )


_DQ_EMBEDDINGS_SQL = """
WITH scored AS (
  SELECT list_reduce(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           (a, b) -> a + b) AS norm2,
         len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0
           AS has_nan,
         len(embedding) AS dim
  FROM embeddings
)
SELECT COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
       CAST(SUM(CASE WHEN NOT has_nan AND norm2 = 0.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_zero_norm,
       COUNT(DISTINCT dim) AS n_dims_seen,
       MIN(CASE WHEN NOT has_nan THEN norm2 END) AS min_norm2,
       MAX(CASE WHEN NOT has_nan THEN norm2 END) AS max_norm2
FROM scored
"""


# FK relationships a restored lake must satisfy; (fact, fk, dim, pk)
_FK_CHECKS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit after a restore: for each declared FK
    edge, how many fact rows point at a missing dimension key. Each
    check is a left-anti join; the dim side carries only its key column,
    so every small dim broadcasts and the single big fact (lineitem)
    never shuffles."""
    reports = []
    for fact, fk, dim, pk in _FK_CHECKS:
        fact_df = load_table(spark, sf_dir, fact).select(
            F.col(fk).alias("fk")
        )
        dim_df = load_table(spark, sf_dir, dim).select(F.col(pk).alias("fk"))
        orphans = fact_df.join(bcast(dim_df), "fk", "left_anti")
        reports.append(
            orphans.agg(
                F.lit(f"{fact}.{fk}->{dim}.{pk}").alias("fk_edge"),
                F.count(F.lit(1)).alias("n_orphans"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


_DQ_REFERENTIAL_SQL = "\nUNION ALL\n".join(
    f"SELECT '{fact}.{fk}->{dim}.{pk}' AS fk_edge,"
    f" COUNT(*) AS n_orphans FROM {fact}"
    f" WHERE {fk} NOT IN (SELECT {pk} FROM {dim})"
    for fact, fk, dim, pk in _FK_CHECKS
)


ZORDER_BITS = 16
ZORDER_ROWS_PER_FILE = 128


def _interleave_sql(xk: str, yd: str) -> str:
    """Bit-interleave two ZORDER_BITS-wide ints — identical integer
    arithmetic in Spark SQL and DuckDB."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({xk} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({yd} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def snap_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout planner/certifier. A backup copy rewritten in
    Z-order (interleaved bits of customer key and order day) gives every
    file a narrow min/max span on BOTH dimensions, so point/range
    restore queries on either key prune most files from the parquet
    footer stats alone; date-sorted layout prunes only on date. This
    operator computes per-file spans under both layouts and reports the
    average normalized span per dimension — the certificate that the
    rewrite is worth it.

    Scale shape: file assignment is windowed WITHIN the year
    partition directory (files never cross partition dirs in a real
    lake), so no window partition exceeds a year of rows at any SF —
    the write path this certifies is `partitionBy(year) +
    repartitionByRange(z)`. Spans are exact integer math so the DuckDB
    oracle matches bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")).alias("day"),
    )
    b = (
        orders.agg(
            F.min("o_custkey").alias("minc"),
            F.max("o_custkey").alias("maxc"),
            F.min("day").alias("mind"),
            F.max("day").alias("maxd"),
        )
    )
    # integer `div`, never `/` + cast: Spark truncates double→bigint,
    # DuckDB ROUNDS — explicit floor division is identical in both
    m = (1 << ZORDER_BITS) - 1
    scaled = orders.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        "o_custkey",
        "day",
        "minc",
        "maxc",
        "mind",
        "maxd",
        F.expr(f"((o_custkey - minc) * {m}) div (maxc - minc)").alias("xk"),
        F.expr(f"((day - mind) * {m}) div (maxd - mind)").alias("yd"),
        # integer year index, no calendar fns (engine-identical)
        F.expr("day div 366").alias("yr"),
    )
    z = scaled.withColumn("z", F.expr(_interleave_sql("xk", "yd")))
    layouts = z.select(
        "o_custkey",
        "day",
        "minc",
        "maxc",
        "mind",
        "maxd",
        "yr",
        F.lit("natural").alias("layout"),
        (
            F.row_number().over(
                Window.partitionBy("yr").orderBy("day", "o_orderkey")
            )
            - 1
        )
        .cast("bigint")
        .alias("rn"),
    ).withColumn(
        "file_id", F.expr(f"rn div {ZORDER_ROWS_PER_FILE}")
    ).drop("rn").unionByName(
        z.select(
            "o_custkey",
            "day",
            "minc",
            "maxc",
            "mind",
            "maxd",
            "yr",
            F.lit("zorder").alias("layout"),
            (
                F.row_number().over(
                    Window.partitionBy("yr").orderBy("z", "o_orderkey")
                )
                - 1
            )
            .cast("bigint")
            .alias("rn"),
        )
        .withColumn("file_id", F.expr(f"rn div {ZORDER_ROWS_PER_FILE}"))
        .drop("rn")
    )
    per_file = layouts.groupBy("layout", "yr", "file_id").agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("ck_span"),
        (F.max("day") - F.min("day")).alias("day_span"),
        F.max("maxc").alias("maxc"),
        F.max("minc").alias("minc"),
        F.max("maxd").alias("maxd"),
        F.max("mind").alias("mind"),
    )
    return per_file.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        (
            F.sum("ck_span").cast("double")
            / (F.count(F.lit(1)) * F.max(F.col("maxc") - F.col("minc")))
        ).alias("avg_custkey_span_frac"),
        (
            F.sum("day_span").cast("double")
            / (F.count(F.lit(1)) * F.max(F.col("maxd") - F.col("mind")))
        ).alias("avg_day_span_frac"),
    )


_ZORDER_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey,
         datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day
  FROM orders
), b AS (
  SELECT MIN(o_custkey) AS minc, MAX(o_custkey) AS maxc,
         MIN(day) AS mind, MAX(day) AS maxd FROM base
), scaled AS (
  -- `//` floor division, never `/`+CAST: DuckDB's double->BIGINT cast
  -- rounds where Spark truncates
  SELECT o_orderkey, o_custkey, day, minc, maxc, mind, maxd,
         ((o_custkey - minc) * {(1 << ZORDER_BITS) - 1}) // (maxc - minc)
           AS xk,
         ((day - mind) * {(1 << ZORDER_BITS) - 1}) // (maxd - mind) AS yd,
         day // 366 AS yr
  FROM base CROSS JOIN b
), z AS (
  SELECT *, {_interleave_sql("xk", "yd")} AS zval FROM scaled
), layouts AS (
  SELECT o_custkey, day, minc, maxc, mind, maxd, yr, 'natural' AS layout,
         (ROW_NUMBER() OVER (PARTITION BY yr ORDER BY day, o_orderkey) - 1)
           // {ZORDER_ROWS_PER_FILE} AS file_id
  FROM z
  UNION ALL
  SELECT o_custkey, day, minc, maxc, mind, maxd, yr, 'zorder' AS layout,
         (ROW_NUMBER() OVER (PARTITION BY yr ORDER BY zval, o_orderkey) - 1)
           // {ZORDER_ROWS_PER_FILE} AS file_id
  FROM z
), per_file AS (
  SELECT layout, file_id,
         MAX(o_custkey) - MIN(o_custkey) AS ck_span,
         MAX(day) - MIN(day) AS day_span,
         MAX(maxc) AS maxc, MAX(minc) AS minc,
         MAX(maxd) AS maxd, MAX(mind) AS mind
  FROM layouts GROUP BY layout, yr, file_id
)
SELECT layout, COUNT(*) AS n_files,
       CAST(SUM(ck_span) AS DOUBLE)
         / (COUNT(*) * MAX(maxc - minc)) AS avg_custkey_span_frac,
       CAST(SUM(day_span) AS DOUBLE)
         / (COUNT(*) * MAX(maxd - mind)) AS avg_day_span_frac
FROM per_file GROUP BY layout
"""


GDPR_MOD = 997  # deterministic "forget me" subject selector
GDPR_REM = 3


def snap_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge with an audit certificate — the
    Delta DELETE counterpart a backup/lake pipeline must run across
    every table holding a data subject's rows. The subject set arrives
    as an explicit request table (here the deterministic slice
    c_custkey ≡ {GDPR_REM} mod {GDPR_MOD}) and each affected table is
    purged by BROADCAST ANTI-JOIN against it — the request set is
    human-sized, so no fact table ever shuffles; the purge cost is one
    scan per table.

    Certificate row per table: rows before/purged/after, an
    order-insensitive xor checksum of the SURVIVING keys (what a
    post-purge verify re-computes), and the zero-remaining proof (an
    inner join back to the subject set must be empty). customer purges
    by its own key, orders cascades via o_custkey (FK), events via
    user_id ∩ the subject key range."""
    subjects = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % GDPR_MOD == GDPR_REM)
        .select(F.col("c_custkey").alias("subject_key"))
    )
    plans = [
        ("customer", load_table(spark, sf_dir, "customer"), "c_custkey"),
        ("orders", load_table(spark, sf_dir, "orders"), "o_custkey"),
        ("events", load_table(spark, sf_dir, "events"), "user_id"),
    ]
    certs = None
    for name, df, key in plans:
        keyed = df.select(F.col(key).alias("k"))
        kept = keyed.join(
            bcast(subjects),
            keyed["k"] == subjects["subject_key"],
            "left_anti",
        )
        # the proof runs on the PURGED output: any subject row still
        # joinable after the purge is a compliance failure
        remaining = kept.join(
            bcast(subjects),
            kept["k"] == subjects["subject_key"],
            "left_semi",
        )
        cert = (
            keyed.agg(F.count(F.lit(1)).alias("n_before"))
            .crossJoin(
                kept.select(
                    md5_int60(F.col("k").cast("string")).alias("h")
                ).agg(
                    F.count(F.lit(1)).alias("n_after"),
                    F.expr("bit_xor(h)").alias("survivors_xor"),
                )
            )
            .crossJoin(
                remaining.agg(
                    F.count(F.lit(1)).alias("n_remaining_subject_rows")
                )
            )
            .select(
                F.lit(name).alias("table_name"),
                "n_before",
                (F.col("n_before") - F.col("n_after")).alias("n_purged"),
                "n_after",
                "survivors_xor",
                (F.col("n_remaining_subject_rows") == 0).alias(
                    "zero_remaining"
                ),
            )
        )
        certs = cert if certs is None else certs.unionByName(cert)
    return certs


def _gdpr_sql() -> str:
    """Oracle mirrors the ENGINE's semantics — purge by (anti-)join
    against the subject-request set, never by re-deriving the mod rule
    on the fact tables' FK columns: the two are equivalent only while
    every o_custkey/user_id actually appears in customer, and an oracle
    must stay truthful on referentially-imperfect data too (round-2
    VERDICT item)."""
    h = sql_md5_int60("CAST(k AS VARCHAR)")
    subj = (
        f"SELECT c_custkey AS subject_key FROM customer "
        f"WHERE c_custkey % {GDPR_MOD} = {GDPR_REM}"
    )
    parts = []
    for name, table, key in [
        ("customer", "customer", "c_custkey"),
        ("orders", "orders", "o_custkey"),
        ("events", "events", "user_id"),
    ]:
        hit = (
            f"EXISTS (SELECT 1 FROM ({subj}) s "
            f"WHERE s.subject_key = t.{key})"
        )
        parts.append(f"""
SELECT '{name}' AS table_name,
       (SELECT COUNT(*) FROM {table}) AS n_before,
       (SELECT COUNT(*) FROM {table} t WHERE {hit}) AS n_purged,
       (SELECT COUNT(*) FROM {table} t WHERE NOT {hit}) AS n_after,
       (SELECT BIT_XOR({h})
        FROM (SELECT {key} AS k FROM {table} t
              WHERE NOT {hit})) AS survivors_xor,
       TRUE AS zero_remaining""")
    return "\nUNION ALL\n".join(parts)


DRIFT_BUCKETS = 16
DRIFT_FP = 1 << 30  # fixed-point scale for per-bucket drift terms
DRIFT_ALERT_FP = DRIFT_FP // 1000  # flag columns whose stat > 0.001


def dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate between snapshot versions (v0 = orders,
    v1 = the deterministic perturbed state): per monitored column, a
    bucketed symmetric chi-square statistic Σ_b (p_b−q_b)²/(p_b+q_b)
    over the two versions' bucket shares — the PSI-style check a backup
    pipeline runs before promoting an incremental, catching silent
    upstream corruption (unit changes, truncated feeds, swapped
    columns) that per-row hash diffs cannot see.

    Chi-square instead of PSI on purpose: PSI's ln(p/q) is a libm call
    whose last ulp differs across engines, while this statistic is pure
    rational arithmetic of exact integer counts — each bucket term is
    one double expression over two exact ratios (bit-identical in Spark
    and DuckDB), floor-quantized to a BIGINT before the order-sensitive
    sum (SURVEY §4 pattern).

    Plan shape: each side is one scan → explode of {DRIFT_BUCKETS}-way
    bucket tags (3 tags/row) → count by (col, bucket) — cells, not
    rows, cross the wire; the final join is cell-table sized. Linear,
    partial-agg friendly, no Python."""
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _perturbed_orders,
    )

    def tags(df: DataFrame) -> DataFrame:
        ent = F.array(
            F.struct(
                F.lit("o_totalprice").alias("col"),
                F.least(
                    F.lit(DRIFT_BUCKETS - 1),
                    F.floor(F.col("o_totalprice") / 25000.0),
                )
                .cast("bigint")
                .alias("bucket"),
            ),
            F.struct(
                F.lit("o_orderpriority").alias("col"),
                F.substring(F.col("o_orderpriority"), 1, 1)
                .cast("bigint")
                .alias("bucket"),
            ),
            F.struct(
                F.lit("o_custkey").alias("col"),
                (F.col("o_custkey") % DRIFT_BUCKETS).alias("bucket"),
            ),
        )
        return (
            df.select(F.explode(ent).alias("e"))
            .select("e.col", "e.bucket")
            .groupBy("col", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    a = tags(load_table(spark, sf_dir, "orders"))
    b = tags(_perturbed_orders(spark, sf_dir))
    ta = a.groupBy("col").agg(F.sum("cnt").alias("tot_a"))
    tb = b.groupBy("col").agg(F.sum("cnt").alias("tot_b"))
    cells = (
        a.withColumnRenamed("cnt", "cnt_a")
        .join(b.withColumnRenamed("cnt", "cnt_b"), ["col", "bucket"], "full_outer")
        .na.fill({"cnt_a": 0, "cnt_b": 0})
        .join(ta, "col")
        .join(tb, "col")
    )
    p = F.col("cnt_a").cast("double") / F.col("tot_a").cast("double")
    q = F.col("cnt_b").cast("double") / F.col("tot_b").cast("double")
    term_fp = F.floor((p - q) * (p - q) / (p + q) * DRIFT_FP).cast("bigint")
    return (
        cells.select("col", "tot_a", "tot_b", term_fp.alias("term_fp"))
        .groupBy("col")
        .agg(
            F.max("tot_a").alias("n_v0"),
            F.max("tot_b").alias("n_v1"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("term_fp").alias("drift_fp"),
        )
        .select(
            "*",
            (F.col("drift_fp") > DRIFT_ALERT_FP).alias("drifted"),
            (
                F.col("drift_fp").cast("double") / DRIFT_FP
            ).alias("drift_stat"),
        )
    )


def _drift_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _PERTURBED_SQL,
    )

    tag_cells = """
  SELECT col, bucket, COUNT(*) AS cnt FROM (
    SELECT unnest([
      {{'col': 'o_totalprice',
        'bucket': LEAST({nb1}, CAST(floor(o_totalprice / 25000.0) AS BIGINT))}},
      {{'col': 'o_orderpriority',
        'bucket': CAST(substr(o_orderpriority, 1, 1) AS BIGINT)}},
      {{'col': 'o_custkey', 'bucket': o_custkey % {nb}}}
    ], recursive := true)
    FROM {src}
  ) GROUP BY col, bucket
"""
    return f"""
WITH v1 AS ({_PERTURBED_SQL}),
a AS ({tag_cells.format(src="orders", nb=DRIFT_BUCKETS, nb1=DRIFT_BUCKETS - 1)}),
b AS ({tag_cells.format(src="v1", nb=DRIFT_BUCKETS, nb1=DRIFT_BUCKETS - 1)}),
ta AS (SELECT col, CAST(SUM(cnt) AS BIGINT) AS tot_a FROM a GROUP BY col),
tb AS (SELECT col, CAST(SUM(cnt) AS BIGINT) AS tot_b FROM b GROUP BY col),
cells AS (
  SELECT col, bucket, COALESCE(a.cnt, 0) AS cnt_a, COALESCE(b.cnt, 0) AS cnt_b
  FROM a FULL OUTER JOIN b USING (col, bucket)
),
terms AS (
  SELECT col, tot_a, tot_b,
         CAST(floor(
           (CAST(cnt_a AS DOUBLE) / CAST(tot_a AS DOUBLE)
            - CAST(cnt_b AS DOUBLE) / CAST(tot_b AS DOUBLE))
           * (CAST(cnt_a AS DOUBLE) / CAST(tot_a AS DOUBLE)
              - CAST(cnt_b AS DOUBLE) / CAST(tot_b AS DOUBLE))
           / (CAST(cnt_a AS DOUBLE) / CAST(tot_a AS DOUBLE)
              + CAST(cnt_b AS DOUBLE) / CAST(tot_b AS DOUBLE))
           * {DRIFT_FP}) AS BIGINT) AS term_fp
  FROM cells JOIN ta USING (col) JOIN tb USING (col)
)
SELECT col, MAX(tot_a) AS n_v0, MAX(tot_b) AS n_v1,
       COUNT(*) AS n_buckets,
       CAST(SUM(term_fp) AS BIGINT) AS drift_fp,
       CAST(SUM(term_fp) AS BIGINT) > {DRIFT_ALERT_FP} AS drifted,
       CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE) / {DRIFT_FP}
         AS drift_stat
FROM terms GROUP BY col
"""


# ---------------------------------------------------------------------------
# feed freshness / staleness gate
# ---------------------------------------------------------------------------

FRESH_SLA_US = 3_600_000_000  # 1 h staleness SLA, in epoch-micros


def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed freshness gate — the is-anything-stale check an
    ingestion pipeline runs before promoting a snapshot: each event
    feed's (event_type's) high-watermark vs the global high-watermark,
    lag in epoch-micros, and the SLA verdict (> {FRESH_SLA_US} µs
    behind ⇒ the feed stalled while others kept flowing — a silently
    dead upstream that row counts alone don't catch, because
    yesterday's volume still looks plausible). One scan, one
    feed-count-sized aggregate, global row broadcast back via the
    one-row certificate crossJoin; timestamps stay epoch-micros BIGINTs
    (SURVEY §4) so the lag arithmetic is engine-exact."""
    events = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("ts div 1000").alias("ts_us")
    )
    per = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts_us").alias("max_ts_us"),
    )
    overall = per.agg(F.max("max_ts_us").alias("global_max_us"))
    return per.crossJoin(F.broadcast(overall)).select(
        "event_type",
        "n_events",
        "max_ts_us",
        (F.col("global_max_us") - F.col("max_ts_us")).alias("lag_us"),
        (
            F.col("global_max_us") - F.col("max_ts_us") > FRESH_SLA_US
        ).alias("is_stale"),
    )


_DQ_FRESHNESS_SQL = f"""
WITH per AS (
  SELECT event_type, COUNT(*) AS n_events,
         MAX(epoch_ns(ts) // 1000) AS max_ts_us
  FROM events GROUP BY event_type
), overall AS (SELECT MAX(max_ts_us) AS global_max_us FROM per)
SELECT event_type, n_events, max_ts_us,
       global_max_us - max_ts_us AS lag_us,
       global_max_us - max_ts_us > {FRESH_SLA_US} AS is_stale
FROM per CROSS JOIN overall
"""


# table -> primary-key columns (composite for lineitem) for the
# uniqueness certificate; every table the driver registers is covered
_UNIQ_KEYS = {
    "orders": ("o_orderkey",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness certificate across every table in the
    catalog: row count, distinct key count, duplicate-row count, and
    null-key count per table — the precondition every upsert/merge
    operator in this engine silently assumes, surfaced as checkable
    data. One aggregate-only pass per table (map-side partials collapse
    before the single shuffle on the key); the exact distinct exists
    for oracle parity, production swaps `approx_count_distinct` on the
    same plan shape. Tables never join each other — the certificate is
    a union of eight one-row aggregates."""
    parts = []
    for table, keys in _UNIQ_KEYS.items():
        t = load_table(spark, sf_dir, table)
        null_key = F.lit(False)
        for k in keys:
            null_key = null_key | F.col(k).isNull()
        parts.append(
            t.agg(
                F.lit(table).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct(*[F.col(k) for k in keys]).alias(
                    "n_distinct_keys"
                ),
                (
                    F.count(F.lit(1)) - F.count_distinct(*[F.col(k) for k in keys])
                ).alias("n_dup_rows"),
                F.sum(null_key.cast("long")).alias("n_null_keys"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _uniq_distinct_expr(keys: tuple[str, ...]) -> str:
    """Spark's COUNT(DISTINCT a, b) skips rows where ANY key column is
    null; DuckDB's COUNT(DISTINCT (a, b)) would count the null-field
    struct — so the oracle nulls out any-null rows explicitly to stay
    truthful on referentially-imperfect data (the gdpr-oracle lesson)."""
    anynull = " OR ".join(f"{k} IS NULL" for k in keys)
    tup = ", ".join(keys)
    return (
        f"COUNT(DISTINCT CASE WHEN {anynull} THEN NULL"
        f" ELSE ({tup}) END)"
    )


_DQ_UNIQUENESS_SQL = "\nUNION ALL\n".join(
    f"SELECT '{table}' AS table_name,"
    f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
    f" CAST({_uniq_distinct_expr(keys)} AS BIGINT)"
    f"   AS n_distinct_keys,"
    f" CAST(COUNT(*) - {_uniq_distinct_expr(keys)} AS BIGINT)"
    f"   AS n_dup_rows,"
    f" CAST(SUM(CASE WHEN {' OR '.join(f'{k} IS NULL' for k in keys)}"
    f"   THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys"
    f" FROM {table}"
    for table, keys in _UNIQ_KEYS.items()
)


import math as _math

# Benford first-digit expectation, ppm-floored — computed ONCE here and
# embedded as identical literals in the plan and the oracle
_BENFORD_PPM = {
    d: int(_math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)
}


def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit on order totals — the classic
    fabricated-numbers screen (invented amounts are uniform-ish in the
    leading digit; organic multiplicative amounts follow log10(1+1/d)).
    Emits per digit: count, observed ppm share, the Benford expectation
    (fixed integer literals shared with the oracle), and the absolute
    deviation — the audit reads the deviation column, the gate hashes
    all of it. One scan, 9-row output, integer end-to-end."""
    o = load_table(spark, sf_dir, "orders").select(
        F.substring(
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    cells = o.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    benford = F.create_map(
        *[
            x
            for d, p in _BENFORD_PPM.items()
            for x in (F.lit(d), F.lit(p))
        ]
    )
    return cells.select(
        "digit",
        "n_orders",
        F.expr("n_orders * 1000000 div sum(n_orders) over ()").alias(
            "share_ppm"
        ),
        benford[F.col("digit")].cast("bigint").alias("benford_ppm"),
    ).withColumn(
        "dev_ppm", F.abs(F.col("share_ppm") - F.col("benford_ppm"))
    )


def _benford_sql() -> str:
    case = " ".join(
        f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
    )
    return f"""
WITH o AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                          AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
),
cells AS (SELECT digit, COUNT(*) AS n_orders FROM o GROUP BY digit)
SELECT digit, n_orders,
       CAST(n_orders * 1000000 // SUM(n_orders) OVER () AS BIGINT)
         AS share_ppm,
       CAST(CASE digit {case} END AS BIGINT) AS benford_ppm,
       ABS(CAST(n_orders * 1000000 // SUM(n_orders) OVER () AS BIGINT)
           - CASE digit {case} END) AS dev_ppm
FROM cells
"""


def dq_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data contract (the dbt-test / expectations shape):
    every rule a stakeholder signed — non-null keys, value ranges,
    enum domains, date sanity — checked in ONE aggregation pass over
    the table and emitted as (rule, n_checked, n_violations, passed)
    rows. The contract lives as code; a 100 TB nightly check costs one
    scan regardless of how many rules it carries (conditional sums all
    fold into the same map-side partial), versus one-query-per-rule
    frameworks that scan per expectation."""
    o = load_table(spark, sf_dir, "orders")
    viol = {
        "orderkey_not_null": F.col("o_orderkey").isNull(),
        "orderkey_positive": F.col("o_orderkey") < 0,
        "totalprice_range": (F.col("o_totalprice") <= 0)
        | (F.col("o_totalprice") > 1_000_000),
        "status_in_domain": ~F.col("o_orderstatus").isin("F", "O", "P"),
        "orderdate_sane": (
            F.col("o_orderdate").cast("date") < F.lit("1990-01-01")
        )
        | (F.col("o_orderdate").cast("date") > F.lit("2005-12-31")),
    }
    agg = o.groupBy().agg(
        F.count(F.lit(1)).alias("n_checked"),
        *[
            # NULL predicate counts as non-violation, mirroring SQL
            # CASE-WHEN-ELSE-0 (explicit null rules catch the nulls)
            F.sum(F.coalesce(c.cast("long"), F.lit(0))).alias(f"v_{name}")
            for name, c in viol.items()
        ],
    )
    stack_args = ", ".join(
        f"'{name}', v_{name}" for name in viol
    )
    return agg.select(
        F.expr(
            f"stack({len(viol)}, {stack_args}) AS (rule, n_violations)"
        ),
        "n_checked",
    ).select(
        "rule",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


_DQ_CONTRACT_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS n_checked,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v_orderkey_not_null,
         CAST(SUM(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS v_orderkey_positive,
         CAST(SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice > 1000000
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_totalprice_range,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_status_in_domain,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1990-01-01'
                         OR CAST(o_orderdate AS DATE) > DATE '2005-12-31'
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_orderdate_sane
  FROM orders
),
rules AS (
  SELECT 'orderkey_not_null' AS rule, n_checked,
         v_orderkey_not_null AS n_violations FROM agg
  UNION ALL SELECT 'orderkey_positive', n_checked, v_orderkey_positive
  FROM agg
  UNION ALL SELECT 'totalprice_range', n_checked, v_totalprice_range
  FROM agg
  UNION ALL SELECT 'status_in_domain', n_checked, v_status_in_domain
  FROM agg
  UNION ALL SELECT 'orderdate_sane', n_checked, v_orderdate_sane FROM agg
)
SELECT rule, n_checked, n_violations, n_violations = 0 AS passed
FROM rules
"""


_HOUR_US = 3_600 * 1_000_000
# a uniform load spreads 1e6/24 ≈ 41 666 ppm per hour-of-day cell; flag
# cells outside [½×, 1½×] uniform
_HOD_LO_PPM = 1_000_000 // 24 // 2
_HOD_HI_PPM = 3 * 1_000_000 // 24 // 2


def dq_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal load profile: per (event type, hour-of-day) event share
    in integer ppm, with cells flagged when they deviate from uniform
    by more than ±50% — the diurnal-pattern baseline that tells an
    ingestion monitor whether a quiet hour is normal seasonality or a
    pipeline stall (and sizes per-hour capacity). One groupBy over the
    raw table; the per-type share window runs on ≤ 24·|types| cells.
    Pure integer arithmetic end-to-end — no doubles to diverge."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.expr(f"(ts div 1000) div {_HOUR_US}") % 24).alias("hod"),
    )
    cells = ev.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return cells.select(
        "event_type",
        F.col("hod").cast("int").alias("hod"),
        "n_events",
        F.expr(
            "n_events * 1000000 div sum(n_events)"
            " over (partition by event_type)"
        ).alias("share_ppm"),
    ).withColumn(
        "skew_flag",
        (F.col("share_ppm") < _HOD_LO_PPM)
        | (F.col("share_ppm") > _HOD_HI_PPM),
    )


_DQ_HOURLY_SQL = f"""
WITH ev AS (
  SELECT event_type,
         CAST((epoch_ns(ts) // 1000 // {_HOUR_US}) % 24 AS INT) AS hod
  FROM events
),
cells AS (SELECT event_type, hod, COUNT(*) AS n_events
          FROM ev GROUP BY event_type, hod)
SELECT event_type, hod, n_events,
       CAST(n_events * 1000000 // SUM(n_events)
              OVER (PARTITION BY event_type) AS BIGINT) AS share_ppm,
       (n_events * 1000000 // SUM(n_events) OVER (PARTITION BY event_type)
          < {_HOD_LO_PPM}
        OR n_events * 1000000 // SUM(n_events)
             OVER (PARTITION BY event_type) > {_HOD_HI_PPM}) AS skew_flag
FROM cells
"""


# robust-statistics consistency scale: 1/Φ⁻¹(3/4), the factor that makes
# MAD a consistent σ estimator under normality. Computed ONCE here and
# embedded verbatim in the oracle so both engines parse the identical
# double literal.
MAD_K = 3 * 1.4826


def dq_mad_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate: per order priority, median/MAD fences on the
    order total — the complement of ``q_events_anomaly``'s 3-sigma gate
    (mean/stddev are themselves dragged by the outliers they hunt; a
    50%-breakdown median/MAD fence is what a data-quality gate should
    threshold on). Flags |x − median| > 3·1.4826·MAD.

    Bit-portability: totals become integer CENTS first, so every
    median/MAD interpolation lands on an exact .0/.5/.25 binary double
    and the engines cannot disagree by a ulp (arbitrary-double
    quantiles are the §4 divergence class). Scale: two grouped exact
    percentiles + one counting pass — three shuffles of a
    priority-partitioned relation, no window over the full table; at
    100 TB swap `percentile` for `percentile_approx` and the plan shape
    is unchanged."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    med = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(cents, 0.5)").alias("med")
    )
    dev = o.join(med, "o_orderpriority").select(
        "o_orderpriority",
        "cents",
        "med",
        F.abs(F.col("cents") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(mad, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("med").alias("med_cents"),
            F.max("mad").alias("mad_cents"),
            F.sum(
                (F.col("adev") > F.lit(MAD_K) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
            F.max("adev").alias("max_abs_dev"),
        )
    )


_DQ_MAD_SQL = f"""
WITH o AS (
  SELECT o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
med AS (SELECT o_orderpriority, quantile_cont(cents, 0.5) AS med
        FROM o GROUP BY o_orderpriority),
dev AS (SELECT o.o_orderpriority, cents, med, ABS(cents - med) AS adev
        FROM o JOIN med USING (o_orderpriority)),
mad AS (SELECT o_orderpriority, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY o_orderpriority)
SELECT d.o_orderpriority,
       COUNT(*) AS n_orders,
       MAX(d.med) AS med_cents,
       MAX(m.mad) AS mad_cents,
       CAST(SUM(CASE WHEN d.adev > {MAD_K!r} * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       MAX(d.adev) AS max_abs_dev
FROM dev d JOIN mad m USING (o_orderpriority)
GROUP BY d.o_orderpriority
"""


RECON_TOL_CENTS = 1


def dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation — the header-vs-detail
    audit every billing/ledger snapshot runs before promotion: does
    each order's stated total agree with the sum of its line items'
    extended charges? Money folds in integer CENTS via floor fixed
    point (floor of an identically-computed double is exact in both
    engines, §4 — never ROUND, whose half-way rule differs); per-order
    line sums are exact BIGINT, so the diff census is bit-portable.
    One lineitem shuffle on orderkey, then an orders-sized left join
    (headers with NO detail rows are their own defect class, counted
    separately, diff not evaluated for them); output is one row per
    order status. The synthetic schema's totals are independent of the
    line items, so the interesting number is the drift PROFILE, not a
    pass flag — on a real lakehouse this op gates the snapshot."""
    line = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "CAST(floor(l_extendedprice * (1 - l_discount)"
            " * (1 + l_tax) * 100) AS BIGINT)"
        ).alias("line_cents"),
    )
    per_order = line.groupBy("l_orderkey").agg(
        F.sum("line_cents").alias("detail_cents"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias(
            "header_cents"
        ),
    )
    j = orders.join(
        per_order, orders.o_orderkey == per_order.l_orderkey, "left"
    )
    diff = F.col("header_cents") - F.col("detail_cents")
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("detail_cents").isNull().cast("bigint")).alias(
            "n_no_detail"
        ),
        F.sum(
            (F.abs(diff) <= RECON_TOL_CENTS).cast("bigint")
        ).alias("n_reconciled"),
        F.sum(F.abs(diff)).alias("sum_abs_diff_cents"),
        F.max(F.abs(diff)).alias("max_abs_diff_cents"),
    )


_DQ_RECONCILIATION_SQL = f"""
WITH per_order AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
           AS detail_cents,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN detail_cents IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_no_detail,
       CAST(SUM(CASE WHEN abs(CAST(floor(o_totalprice * 100) AS BIGINT)
                              - detail_cents) <= {RECON_TOL_CENTS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled,
       CAST(SUM(abs(CAST(floor(o_totalprice * 100) AS BIGINT)
                    - detail_cents)) AS BIGINT) AS sum_abs_diff_cents,
       MAX(abs(CAST(floor(o_totalprice * 100) AS BIGINT)
               - detail_cents)) AS max_abs_diff_cents
FROM orders LEFT JOIN per_order ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


_PRIORITY_DOMAIN = (
    "'1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'"
)


def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative value-rule audit (the Deequ-check shape): each rule
    is a boolean predicate evaluated as a conditional aggregate, one
    scan per table plus one orderkey-co-partitioned join for the
    cross-table rule — rule count never adds passes. One row per rule:
    (rule, n_checked, n_violations, violation_ppm). The cross-table
    rule (ship on/after order date) FINDS real violations in the
    driver testdata (~49% of lines — a generator artifact worth
    surfacing, which is exactly the point of a rule audit)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def rows(df, rules):  # [(name, violated_predicate_sql)]
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.when(F.expr(pred), 1).otherwise(0)
                ).alias(f"v{i}")
                for i, (_, pred) in enumerate(rules)
            ],
        )
        return [
            agg.select(
                F.lit(name).alias("rule"),
                F.col("n").cast("bigint").alias("n_checked"),
                F.col(f"v{i}").cast("bigint").alias("n_violations"),
                F.expr(f"v{i} * 1000000 div greatest(n, 1)")
                .cast("bigint")
                .alias("violation_ppm"),
            )
            for i, (name, _) in enumerate(rules)
        ]

    order_rules = [
        ("orders.totalprice_positive", "NOT (o_totalprice > 0)"),
        (
            "orders.priority_domain",
            f"o_orderpriority NOT IN ({_PRIORITY_DOMAIN})",
        ),
    ]
    line_rules = [
        (
            "lineitem.quantity_range",
            "NOT (l_quantity BETWEEN 1 AND 50)",
        ),
        (
            "lineitem.discount_range",
            "NOT (l_discount BETWEEN 0.0 AND 0.1)",
        ),
        (
            "lineitem.extendedprice_positive",
            "NOT (l_extendedprice > 0)",
        ),
    ]
    joined = li.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    join_rules = [
        (
            "order_line.ship_on_or_after_order",
            "cast(l_shipdate as date) < cast(o_orderdate as date)",
        )
    ]
    parts = (
        rows(orders, order_rules)
        + rows(li, line_rules)
        + rows(joined, join_rules)
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _rule_violations_sql() -> str:
    def block(src, n_expr, rules):
        return "\nUNION ALL\n".join(
            f"""SELECT '{name}' AS rule,
       CAST(COUNT(*) AS BIGINT) AS n_checked,
       CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) * 1000000
            // GREATEST(COUNT(*), 1) AS BIGINT) AS violation_ppm
FROM {src}"""
            for name, pred in rules
        )

    orders_rules = [
        ("orders.totalprice_positive", "NOT (o_totalprice > 0)"),
        (
            "orders.priority_domain",
            f"o_orderpriority NOT IN ({_PRIORITY_DOMAIN})",
        ),
    ]
    line_rules = [
        ("lineitem.quantity_range", "NOT (l_quantity BETWEEN 1 AND 50)"),
        (
            "lineitem.discount_range",
            "NOT (l_discount BETWEEN 0.0 AND 0.1)",
        ),
        (
            "lineitem.extendedprice_positive",
            "NOT (l_extendedprice > 0)",
        ),
    ]
    join_rules = [
        (
            "order_line.ship_on_or_after_order",
            "CAST(l_shipdate AS DATE) < CAST(o_orderdate AS DATE)",
        )
    ]
    return (
        block("orders", "", orders_rules)
        + "\nUNION ALL\n"
        + block("lineitem", "", line_rules)
        + "\nUNION ALL\n"
        + block(
            "(SELECT l_shipdate, o_orderdate FROM lineitem"
            " JOIN orders ON l_orderkey = o_orderkey)",
            "",
            join_rules,
        )
    )


QUERIES = {
    "dq_completeness": dq_completeness,
    "dq_rule_violations": dq_rule_violations,
    "dq_reconciliation": dq_reconciliation,
    "dq_benford": dq_benford,
    "dq_schema_contract": dq_schema_contract,
    "dq_hourly_profile": dq_hourly_profile,
    "dq_mad_outlier": dq_mad_outlier,
    "dq_uniqueness": dq_uniqueness,
    "dq_freshness": dq_freshness,
    "snap_gdpr_delete": snap_gdpr_delete,
    "dq_drift": dq_drift,
    "dq_profile": dq_profile,
    "dq_embeddings": dq_embeddings,
    "dq_referential": dq_referential,
    "snap_compaction_plan": snap_compaction_plan,
    "snap_zorder_stats": snap_zorder_stats,
    "snap_file_manifest_sync": snap_file_manifest_sync,
    "snap_schema_drift": snap_schema_drift,
}

ORACLES = {
    "dq_completeness": _DQ_COMPLETENESS_SQL,
    "dq_rule_violations": _rule_violations_sql(),
    "dq_reconciliation": _DQ_RECONCILIATION_SQL,
    "dq_benford": _benford_sql(),
    "dq_schema_contract": _DQ_CONTRACT_SQL,
    "dq_hourly_profile": _DQ_HOURLY_SQL,
    "dq_mad_outlier": _DQ_MAD_SQL,
    "dq_uniqueness": _DQ_UNIQUENESS_SQL,
    "dq_freshness": _DQ_FRESHNESS_SQL,
    "snap_gdpr_delete": _gdpr_sql(),
    "dq_drift": _drift_sql(),
    "dq_profile": _DQ_PROFILE_SQL,
    "dq_embeddings": _DQ_EMBEDDINGS_SQL,
    "dq_referential": _DQ_REFERENTIAL_SQL,
    "snap_compaction_plan": _COMPACTION_SQL,
    "snap_zorder_stats": _ZORDER_SQL,
}
