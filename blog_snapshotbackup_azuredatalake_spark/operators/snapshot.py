"""Snapshot / backup / incremental-sync operators (SURVEY.md §2A).

This is the reference's own domain re-expressed Spark-first: instead of
storage-layer blob snapshots, state is captured as row-level content-hash
manifests, and every backup operation (diff, incremental copy, verify,
restore, retention) becomes a declarative plan over manifests — hash-joins
and window functions that shuffle only (key, 16-byte hash) pairs, never
full row payloads. That is what makes the design hold at 100 TB: the diff
of two 100 TB snapshots moves a few hundred GB of hashes, and AQE handles
whatever skew the key distribution has.

Manifest hashes are md5-derived (SURVEY.md §4) so any engine — including
the DuckDB oracle and a future non-Spark consumer — can recompute and
audit them. Doubles are encoded via DECIMAL(12,2) and timestamps via their
canonical 'YYYY-MM-DD HH:MM:SS' rendering so the string encoding is
engine-portable.

The manifest, diff, fold and digest that the diff, verify, apply, rebase
and change-feed entries show are the ones ``SnapshotManager`` writes
backups with: ``functions/changeset.py``, whose DuckDB forms the oracles
here are built from.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions.changeset import (
    HASH,
    TOMBSTONE,
    count_changes,
    delta,
    diff,
    digest,
    fold_latest,
    hashed,
    manifest,
    sql_count_changes,
    sql_delta,
    sql_diff,
    sql_digest,
    sql_fold_latest,
    sql_hashed,
    sql_manifest,
)
from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    hash60,
    row_hash,
    row_hash_int,
    sql_hash60,
    sql_md5_int60,
    sql_row_hash,
    sql_row_hash_int,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
    load_events_range,
    load_table,
)

# ---------------------------------------------------------------------------
# portable row encodings for the `orders` table (the manifest example table)
# ---------------------------------------------------------------------------

K = "o_orderkey"
# the `orders` columns, and its row encoding as Spark SQL expressions (for
# ``row_hash`` and ``row_hash_int``) with its DuckDB mirror
_ORDERS_FIELDS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
_ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "cast(cast(o_totalprice as decimal(12,2)) as string)",
    "cast(o_orderdate as string)",
    "o_orderpriority",
]
ORDERS_COLS_SQL = [c.replace(" as string)", " as varchar)") for c in _ORDERS_COLS]


def _manifest(df: DataFrame) -> DataFrame:
    return manifest(df, K, _ORDERS_COLS)


def _sql_manifest(rel: str) -> str:
    return sql_manifest(rel, K, ORDERS_COLS_SQL)


def _delta(prev: DataFrame, curr: DataFrame) -> DataFrame:
    """The change batch from state `prev` to state `curr` of `orders`."""
    return delta(_manifest(prev), hashed(curr, _ORDERS_COLS), K)


def _sql_delta(prev: str, curr: str) -> str:
    """Mirror of ``_delta`` for two `orders`-shaped relations."""
    return sql_delta(
        f"({_sql_manifest(prev)})",
        f"({sql_hashed(curr, ORDERS_COLS_SQL)})",
        K,
        _ORDERS_FIELDS,
    )


def _sql_digest(rel: str, tag: str) -> str:
    h = sql_row_hash(ORDERS_COLS_SQL)
    return f"SELECT {sql_digest(h, f'n_{tag}', f'xor_{tag}')} FROM {rel}"



# ---------------------------------------------------------------------------
# §2A queries
# ---------------------------------------------------------------------------


def snap_row_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row manifest of `orders`: (key, content hash). The unit of
    change detection — one narrow scan, no shuffle at all (manifest
    writing is embarrassingly parallel)."""
    orders = _manifest(load_table(spark, sf_dir, "orders"))
    return orders.withColumnRenamed(HASH, "row_md5")


_SNAP_ROW_MANIFEST_SQL = f"""
SELECT o_orderkey, {HASH} AS row_md5 FROM ({_sql_manifest("orders")})
"""


def snap_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table verify for three tables in one result: row count plus
    order-insensitive xor/min/max of the 60-bit row hashes. Source and
    backup agree iff these four numbers agree — comparing 100 TB costs
    one scan per side and shuffles four numbers."""

    def one(name: str, key: str, cols: list[str]) -> DataFrame:
        df = load_table(spark, sf_dir, name)
        h = row_hash_int(*cols)
        return df.select(F.lit(name).alias("table_name"), h.alias("h")).groupBy(
            "table_name"
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("xor_checksum"),
            F.min("h").alias("min_hash"),
            F.max("h").alias("max_hash"),
        )

    cust = one("customer", "c_custkey", ["c_custkey", "c_name", "c_nationkey"])
    sup = one("supplier", "s_suppkey", ["s_suppkey", "s_name", "s_nationkey"])
    nat = one("nation", "n_nationkey", ["n_nationkey", "n_name", "n_regionkey"])
    return cust.unionByName(sup).unionByName(nat)


def _checksum_sql(name: str, cols: list[str]) -> str:
    h = sql_row_hash_int(cols)
    return f"""
SELECT '{name}' AS table_name, COUNT(*) AS n_rows,
       BIT_XOR(h) AS xor_checksum, MIN(h) AS min_hash, MAX(h) AS max_hash
FROM (SELECT {h} AS h FROM {name})
"""


_SNAP_TABLE_CHECKSUM_SQL = " UNION ALL ".join(
    [
        _checksum_sql("customer", ["c_custkey", "c_name", "c_nationkey"]),
        _checksum_sql("supplier", ["s_suppkey", "s_name", "s_nationkey"]),
        _checksum_sql("nation", ["n_nationkey", "n_name", "n_regionkey"]),
    ]
)

# fixed watermark: mid-January of the events month
WATERMARK_US = 1_705_276_800_000_000  # 2024-01-15 00:00:00 UTC in micros


def snap_incr_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-based incremental selection: only events newer than the
    last sync. The predicate pushes to the parquet scan, so a daily sync
    over a date-partitioned 100 TB lake reads only new partitions."""
    ev = load_events_range(spark, sf_dir, since_us=WATERMARK_US)
    return ev.select(
        "event_id",
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        "event_type",
        "value",
    )


_SNAP_INCR_WATERMARK_SQL = f"""
SELECT event_id, user_id, (epoch_ns(ts) // 1000) AS ts_us, event_type, value
FROM events
WHERE (epoch_ns(ts) // 1000) > {WATERMARK_US}
"""


def _perturbed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'next day' state of orders used by diff/sync demos:
    every 97th key's totalprice changes, every 89th key (mod 3) is
    deleted, and 50 synthetic new keys appear."""
    orders = load_table(spark, sf_dir, "orders")
    changed = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 10.0
        ).otherwise(F.col("o_totalprice")),
    )
    kept = changed.filter(F.col("o_orderkey") % 89 != 3)
    added = (
        orders.filter(F.col("o_orderkey") % 101 == 7)
        .orderBy("o_orderkey")  # limit without sort is not deterministic
        .limit(50)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(100_000_000))
    )
    return kept.unionByName(added)


_PERTURBED_SQL = """
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 89 <> 3
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM (SELECT * FROM orders WHERE o_orderkey % 101 = 7
        ORDER BY o_orderkey LIMIT 50)
"""

_PERTURBED_V2_SQL = """
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 93 = 0 THEN o_totalprice + 25.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM v1 WHERE o_orderkey % 83 <> 1
  UNION ALL
  SELECT o_orderkey + 200000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM (SELECT * FROM v1 WHERE o_orderkey % 103 = 11
        ORDER BY o_orderkey LIMIT 30)
"""


def snap_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff A→B: classify every key as added / removed / changed
    by full-outer-joining the two manifests and comparing row hashes
    (``changeset.diff``). Only (key, hash) pairs shuffle — the payload
    never moves."""
    a = _manifest(load_table(spark, sf_dir, "orders"))
    b = _manifest(_perturbed_orders(spark, sf_dir))
    return (
        diff(a, b, K)
        .filter(F.col("change") != "same")
        .select(K, F.col("change").alias("change_type"))
    )


_SNAP_DIFF_SQL = f"""
WITH b_rows AS ({_PERTURBED_SQL}),
a_man AS ({_sql_manifest("orders")}),
b_man AS ({_sql_manifest("b_rows")})
SELECT o_orderkey, change AS change_type
FROM ({sql_diff("a_man", "b_man", K)}) WHERE change <> 'same'
"""


def snap_incr_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent incremental copy: rows of the new state whose (key,
    hash) is not yet in the backup — a left-anti hash join on manifests.
    Re-running after a partial failure re-selects only what's missing."""
    backup = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"), row_hash(*_ORDERS_COLS).alias("h")
    )
    source = _perturbed_orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("key"), row_hash(*_ORDERS_COLS).alias("h")
    )
    pending = source.join(backup, ["key", "h"], "left_anti")
    return pending.select(F.col("key").alias("o_orderkey"))


_SNAP_INCR_ANTIJOIN_SQL = f"""
WITH b_rows AS ({_PERTURBED_SQL}),
backup AS (SELECT o_orderkey AS key, {sql_row_hash(ORDERS_COLS_SQL)} AS h FROM orders),
source AS (SELECT o_orderkey AS key, {sql_row_hash(ORDERS_COLS_SQL)} AS h FROM b_rows)
SELECT key AS o_orderkey FROM source
WHERE NOT EXISTS (SELECT 1 FROM backup
                  WHERE backup.key = source.key AND backup.h = source.h)
"""

RETENTION_KEEP = 12


def snap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention policy over a snapshot catalog (one snapshot per order
    month): keep the newest N, purge the rest. The catalog is metadata —
    thousands of rows regardless of lake size — so the window is free."""
    orders = load_table(spark, sf_dir, "orders")
    catalog = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("snapshot_month")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.orderBy(F.col("snapshot_month").desc())
    return catalog.withColumn("rn", F.row_number().over(w)).select(
        "snapshot_month",
        "n_rows",
        F.col("rn").cast("int").alias("rn"),
        F.when(F.col("rn") <= RETENTION_KEEP, F.lit("keep"))
        .otherwise(F.lit("purge"))
        .alias("action"),
    )


_SNAP_RETENTION_SQL = f"""
WITH catalog AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS snapshot_month,
         COUNT(*) AS n_rows
  FROM orders GROUP BY 1
)
SELECT snapshot_month, n_rows, CAST(rn AS INT) AS rn,
       CASE WHEN rn <= {RETENTION_KEEP} THEN 'keep' ELSE 'purge' END AS action
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY snapshot_month DESC) AS rn
      FROM catalog)
"""

RESTORE_ASOF_US = 1_705_881_600_000_000  # 2024-01-22 00:00:00 UTC


def snap_restore_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time restore: the latest event per user as of T — the
    row_number-over-key pattern that reconstructs entity state from a
    change log. Shuffles once on user_id."""
    ev = load_events_range(spark, sf_dir, until_us=RESTORE_ASOF_US).select(
        "event_id",
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        "event_type",
        "value",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts_us", "event_type", "value")
    )


_SNAP_RESTORE_ASOF_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, (epoch_ns(ts) // 1000) AS ts_us, event_type, value
  FROM events
)
SELECT user_id, event_id, ts_us, event_type, value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts_us DESC, event_id DESC) AS rn
      FROM ev WHERE ts_us <= {RESTORE_ASOF_US})
WHERE rn = 1
"""


def snap_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition (ship month) row counts + checksums on lineitem:
    the unit of partial verify and partition-pruned re-copy. On a
    date-partitioned lake each output row certifies one partition."""
    line = load_table(spark, sf_dir, "lineitem")
    h = row_hash_int("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    return (
        line.select(
            F.date_trunc("month", F.col("l_shipdate"))
            .cast("date")
            .alias("ship_month"),
            h.alias("h"),
        )
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("xor_checksum"),
            F.min("h").alias("min_hash"),
            F.max("h").alias("max_hash"),
        )
    )


_SNAP_PARTITION_STATS_SQL = f"""
WITH rows_h AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
         {sql_row_hash_int(["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"])} AS h
  FROM lineitem
)
SELECT ship_month, COUNT(*) AS n_rows, BIT_XOR(h) AS xor_checksum,
       MIN(h) AS min_hash, MAX(h) AS max_hash
FROM rows_h GROUP BY ship_month
"""


BLOOM_BITS = 65536  # 63-bit words (shift ≤ 62: DuckDB checks 1<<63) ≈ 8 KB broadcast


def _bloom_pos(key: F.Column, tag: str) -> F.Column:
    return hash60(F.md5(F.concat(key.cast("string"), F.lit(tag)))) % BLOOM_BITS


def snap_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter for incremental sync: build a 2-hash
    bloom over the BACKUP's keys (1024 words, ~8 KB — broadcastable at
    any backup size with proportional sizing), probe every SOURCE key,
    and report how many rows the filter proves new (bloom-absent ⇒
    definitely not backed up ⇒ copy without any join) versus how many
    fall through to the exact anti-join. At 100 TB this is the
    difference between shuffling the whole source for the anti-join and
    shuffling only the bloom-positive sliver; the summary also measures
    the false-positive rate against exact membership. md5-derived
    positions keep the filter bit-identical across engines and reruns
    (a rerun can even reuse a persisted filter)."""
    backup = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key")
    )
    source = _perturbed_orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("key")
    )
    pos = backup.select(
        F.explode_outer(
            F.array(
                _bloom_pos(F.col("key"), "#1"), _bloom_pos(F.col("key"), "#2")
            )
        ).alias("pos")
    )
    words = (
        pos.select(
            F.expr("pos div 63").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))"
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    probed = (
        source.select(
            "key",
            _bloom_pos(F.col("key"), "#1").alias("p1"),
            _bloom_pos(F.col("key"), "#2").alias("p2"),
        )
        .join(
            F.broadcast(
                words.select(F.col("w").alias("w1"), F.col("bits").alias("b1"))
            ),
            F.expr("p1 div 63") == F.col("w1"),
            "left",
        )
        .join(
            F.broadcast(
                words.select(F.col("w").alias("w2"), F.col("bits").alias("b2"))
            ),
            F.expr("p2 div 63") == F.col("w2"),
            "left",
        )
    )
    hit = F.expr(
        "(coalesce(b1, CAST(0 AS BIGINT))"
        " & shiftleft(CAST(1 AS BIGINT), CAST(p1 % 63 AS INT))) != 0"
        " AND (coalesce(b2, CAST(0 AS BIGINT))"
        " & shiftleft(CAST(1 AS BIGINT), CAST(p2 % 63 AS INT))) != 0"
    )
    flagged = probed.select("key", hit.alias("maybe"))
    truth = flagged.join(
        backup.withColumn("in_backup", F.lit(True)), "key", "left"
    ).select(
        "maybe", F.coalesce(F.col("in_backup"), F.lit(False)).alias("in_bk")
    )
    return truth.agg(
        F.count(F.lit(1)).alias("n_source"),
        F.sum((~F.col("maybe")).cast("bigint")).alias("n_definite_new"),
        F.sum(F.col("maybe").cast("bigint")).alias("n_maybe"),
        F.sum((~F.col("in_bk")).cast("bigint")).alias("n_truly_new"),
        F.sum((F.col("maybe") & ~F.col("in_bk")).cast("bigint")).alias(
            "n_false_positive"
        ),
    )


_BLOOM_POS_SQL = (
    lambda tag: sql_md5_int60(f"concat(CAST(key AS VARCHAR), '{tag}')")
    + f" % {BLOOM_BITS}"
)

_SNAP_BLOOM_SQL = f"""
WITH backup AS (
  SELECT o_orderkey AS key FROM orders
), source AS (
  SELECT o_orderkey AS key FROM ({_PERTURBED_SQL})
), pos AS (
  SELECT unnest([{_BLOOM_POS_SQL("#1")}, {_BLOOM_POS_SQL("#2")}]) AS pos
  FROM backup
), words AS (
  SELECT pos // 63 AS w,
         bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
  FROM pos GROUP BY w
), probed AS (
  SELECT s.key, s.p1, s.p2, w1.bits AS b1, w2.bits AS b2
  FROM (SELECT key, {_BLOOM_POS_SQL("#1")} AS p1,
               {_BLOOM_POS_SQL("#2")} AS p2 FROM source) s
  LEFT JOIN words w1 ON s.p1 // 63 = w1.w
  LEFT JOIN words w2 ON s.p2 // 63 = w2.w
), flagged AS (
  SELECT key,
         (coalesce(b1, 0) & (1::BIGINT << CAST(p1 % 63 AS INT))) <> 0
         AND (coalesce(b2, 0) & (1::BIGINT << CAST(p2 % 63 AS INT))) <> 0
           AS maybe,
         key IN (SELECT key FROM backup) AS in_bk
  FROM probed
)
SELECT COUNT(*) AS n_source,
       CAST(SUM(CASE WHEN NOT maybe THEN 1 ELSE 0 END) AS BIGINT)
         AS n_definite_new,
       CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
       CAST(SUM(CASE WHEN NOT in_bk THEN 1 ELSE 0 END) AS BIGINT)
         AS n_truly_new,
       CAST(SUM(CASE WHEN maybe AND NOT in_bk THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_positive
FROM flagged
"""


def snap_apply_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE: apply an incremental change batch to a snapshot and prove
    the result IS the next state — the restore-chain primitive (full
    snapshot + k incrementals → state at time k, the reference's
    incremental-backup contract).

    The change batch is derived, not given: it is the ``delta`` of the
    base manifest against the hashed target, one full_outer diff —
    upserts are the target's added and changed rows, deletes the base
    keys it no longer holds (tombstones). Apply = ``fold_latest`` of the
    base and the batch, the fold ``SnapshotManager.restore`` runs: one
    window over their union, newest version per key. Self-certifying
    output: one row whose `state_match` says the merged table's (count,
    xor-checksum) ``digest`` equals the target state's. The diff moves
    manifests (key, 16-byte hash) plus the target's payload; the fold
    shuffles the base payload and the batch once by key; the certificate
    shuffles four numbers."""
    base = load_table(spark, sf_dir, "orders")
    # the target feeds the diff and its certificate digest, and the batch
    # the fold and its counts — lazy checkpoints materialize each once
    # instead of re-deriving per subtree
    tgt = _perturbed_orders(spark, sf_dir).localCheckpoint(eager=False)
    changes = _delta(base, tgt).localCheckpoint(eager=False)
    merged = fold_latest([base, changes], K)
    h = row_hash(*_ORDERS_COLS)
    counts = (
        changes.agg(
            F.count_if(~F.col(TOMBSTONE)).alias("n_upserts"),
            F.count_if(TOMBSTONE).alias("n_deletes"),
        )
        .crossJoin(merged.agg(*digest(h, "n_merged", "xor_merged")))
        .crossJoin(tgt.agg(*digest(h, "n_target", "xor_target")))
    )
    return counts.select(
        "n_upserts",
        "n_deletes",
        "n_merged",
        "n_target",
        "xor_merged",
        "xor_target",
        (
            (F.col("n_merged") == F.col("n_target"))
            & (F.col("xor_merged") == F.col("xor_target"))
        ).alias("state_match"),
    )


_SNAP_APPLY_INCR_SQL = f"""
WITH b_rows AS ({_PERTURBED_SQL}),
changes AS ({_sql_delta("orders", "b_rows")}),
merged AS ({sql_fold_latest(["orders", "changes"], K, _ORDERS_FIELDS)}),
cs AS (SELECT COUNT(*) FILTER (WHERE NOT {TOMBSTONE}) AS n_upserts,
              COUNT(*) FILTER (WHERE {TOMBSTONE}) AS n_deletes
       FROM changes),
ms AS ({_sql_digest("merged", "merged")}),
ts AS ({_sql_digest("b_rows", "target")})
SELECT n_upserts, n_deletes, n_merged, n_target, xor_merged, xor_target,
       (n_merged = n_target AND xor_merged = xor_target) AS state_match
FROM cs, ms, ts
"""


SAMPLE_SLOTS = 5  # verify md5(key) % 100 < 5 → a 5% deterministic sample


def snap_verify_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled verify: compare source and backup manifests on a
    deterministic {SAMPLE_SLOTS}%-of-keyspace sample and report
    match/changed/removed/added counts plus the implied drift rate.

    The sampling rule is a pure function of the KEY (md5 slot), so both
    sides independently select the SAME keys with no coordination — the
    property that makes a sampled diff statistically valid (row-position
    or rand() sampling on each side would compare disjoint rows). Sits
    between the bloom prefilter (existence-only, no join) and the full
    checksum (every row) on the cost curve: it scans both sides but
    joins only the sampled manifest slice, giving an unbiased drift
    estimate for 5% of the join cost — the right periodic health check
    for a 100 TB backup. At scale the sample predicate also prunes:
    it pushes to the manifest scan, and a backup laid out bucketed-by-
    key (sources/sinks.copy_table_bucketed) prunes whole buckets."""
    in_sample = hash60(F.md5(F.col(K).cast("string"))) % 100 < SAMPLE_SLOTS
    src = _manifest(load_table(spark, sf_dir, "orders")).filter(in_sample)
    bkp = _manifest(_perturbed_orders(spark, sf_dir)).filter(in_sample)
    n = diff(src, bkp, K).agg(*count_changes())
    same, changed, removed, added = (
        F.col(c) for c in ("same", "changed", "removed", "added")
    )
    n_src = same + changed + removed
    return n.select(
        F.lit(SAMPLE_SLOTS).alias("sample_pct"),
        n_src.alias("n_src_sampled"),
        (same + changed + added).alias("n_bkp_sampled"),
        same.alias("n_match"),
        changed.alias("n_changed"),
        removed.alias("n_removed"),
        added.alias("n_added"),
        (
            F.lit(100.0)
            * (changed + removed).cast("double")
            / n_src.cast("double")
        ).alias("est_drift_pct"),
    )


_SAMPLE_PRED = (
    f"{sql_md5_int60('CAST(o_orderkey AS VARCHAR)')} % 100 < {SAMPLE_SLOTS}"
)

_SNAP_VERIFY_SAMPLED_SQL = f"""
WITH b_rows AS ({_PERTURBED_SQL}),
src AS ({_sql_manifest("orders")} WHERE {_SAMPLE_PRED}),
bkp AS ({_sql_manifest("b_rows")} WHERE {_SAMPLE_PRED}),
n AS (SELECT {sql_count_changes()} FROM ({sql_diff("src", "bkp", K)}))
SELECT CAST({SAMPLE_SLOTS} AS INT) AS sample_pct,
       same + changed + removed AS n_src_sampled,
       same + changed + added AS n_bkp_sampled,
       same AS n_match, changed AS n_changed, removed AS n_removed,
       added AS n_added,
       100.0 * CAST(changed + removed AS DOUBLE)
             / CAST(same + changed + removed AS DOUBLE) AS est_drift_pct
FROM n
"""


# ---------------------------------------------------------------------------
# incremental-chain rebase (backup-chain compaction)
# ---------------------------------------------------------------------------


def _perturbed_orders_v2(
    spark: SparkSession, sf_dir: str, v1: DataFrame | None = None
) -> DataFrame:
    """Second deterministic 'day' on top of ``_perturbed_orders``:
    every 93rd key's totalprice changes again, every 83rd key (mod 1)
    is deleted, and 30 new keys appear at +200M. Pass a materialized
    ``v1`` to avoid re-deriving day 1 inside this plan."""
    if v1 is None:
        v1 = _perturbed_orders(spark, sf_dir)
    changed = v1.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 93 == 0, F.col("o_totalprice") + 25.0
        ).otherwise(F.col("o_totalprice")),
    )
    kept = changed.filter(F.col("o_orderkey") % 83 != 1)
    added = (
        v1.filter(F.col("o_orderkey") % 103 == 11)
        .orderBy("o_orderkey")
        .limit(30)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(200_000_000))
    )
    return kept.unionByName(added)


def snap_chain_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backup-chain compaction: fold a full snapshot + k incremental
    batches into ONE new full snapshot (the rebase that keeps restore
    latency flat as the incremental chain grows — without it a restore
    replays every batch since the last full copy).

    Each batch is the ``delta`` between consecutive states (one
    full_outer diff: upserts plus tombstones). Fold = ``fold_latest`` of
    the base and all batches, the fold ``SnapshotManager.restore`` runs:
    one window over the union of all versions, the newest version per
    key winning and tombstones dropped. Self-certifying: the output row
    proves the rebased table's (count, xor-checksum) ``digest`` equals
    the directly computed final state's. The fold shuffles the base
    payload once by key together with the batches — the same plan as
    ``snap_apply_incremental``, for an arbitrary-length chain."""
    base = load_table(spark, sf_dir, "orders")
    # v1/v2 each feed several plan subtrees (two change batches, the
    # target summary); a lazy localCheckpoint materializes each state
    # once instead of re-deriving it per subtree (measured 1.8× here)
    v1 = _perturbed_orders(spark, sf_dir).localCheckpoint(eager=False)
    v2 = _perturbed_orders_v2(spark, sf_dir).localCheckpoint(eager=False)
    # each batch feeds the fold and the counts: materialize it once too
    d1, d2 = (
        _delta(prev, curr).localCheckpoint(eager=False)
        for prev, curr in ((base, v1), (v1, v2))
    )
    rebased = fold_latest([base, d1, d2], K)
    batches = d1.withColumn("version", F.lit(1)).unionByName(
        d2.withColumn("version", F.lit(2))
    )
    h = row_hash(*_ORDERS_COLS)
    counts = (
        batches.agg(
            F.count_if(~F.col(TOMBSTONE)).alias("n_upserts"),
            F.count_if(TOMBSTONE).alias("n_deletes"),
            F.countDistinct("version").alias("n_batches"),
        )
        .crossJoin(rebased.agg(*digest(h, "n_rebased", "xor_rebased")))
        .crossJoin(v2.agg(*digest(h, "n_target", "xor_target")))
    )
    return counts.select(
        F.col("n_batches").cast("int").alias("n_batches"),
        "n_upserts",
        "n_deletes",
        "n_rebased",
        "n_target",
        "xor_rebased",
        "xor_target",
        (
            (F.col("n_rebased") == F.col("n_target"))
            & (F.col("xor_rebased") == F.col("xor_target"))
        ).alias("state_match"),
    )


_SNAP_CHAIN_REBASE_SQL = f"""
WITH v1 AS ({_PERTURBED_SQL}),
v2 AS ({_PERTURBED_V2_SQL}),
d1 AS ({_sql_delta("orders", "v1")}),
d2 AS ({_sql_delta("v1", "v2")}),
rebased AS ({sql_fold_latest(["orders", "d1", "d2"], K, _ORDERS_FIELDS)}),
batches AS (SELECT 1 AS version, {TOMBSTONE} FROM d1
            UNION ALL SELECT 2, {TOMBSTONE} FROM d2),
bs AS (SELECT COUNT(*) FILTER (WHERE NOT {TOMBSTONE}) AS n_upserts,
              COUNT(*) FILTER (WHERE {TOMBSTONE}) AS n_deletes,
              COUNT(DISTINCT version) AS n_batches
       FROM batches),
rs AS ({_sql_digest("rebased", "rebased")}),
ts AS ({_sql_digest("v2", "target")})
SELECT CAST(n_batches AS INT) AS n_batches, n_upserts, n_deletes,
       n_rebased, n_target, xor_rebased, xor_target,
       (n_rebased = n_target AND xor_rebased = xor_target) AS state_match
FROM bs, rs, ts
"""


# ---------------------------------------------------------------------------
# Merkle-tree verify
# ---------------------------------------------------------------------------

MERKLE_LEAVES = 64  # 2^6 leaf buckets → 7-level tree, 127 nodes per side


def _merkle_levels(df: DataFrame) -> DataFrame:
    """(key, h) → full Merkle tree as rows (level, idx, n_rows, digest).
    Leaves are key-hash buckets (count + order-insensitive xor folded
    into an md5 digest); each parent digests its two children. The leaf
    build is ONE partial-aggregable groupBy over the manifest; the six
    fold levels run over ≤ 64 rows — free at any SF."""
    depth = MERKLE_LEAVES.bit_length() - 1  # 6
    leaf = (
        df.groupBy((F.col("hk") % MERKLE_LEAVES).alias("idx"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h60)").alias("xorh"),
        )
        .select(
            F.lit(depth).alias("level"),
            F.col("idx").cast("bigint").alias("idx"),
            "n_rows",
            F.md5(
                F.concat_ws(":", F.col("n_rows"), F.col("xorh"))
            ).alias("digest"),
        )
    )
    levels = [leaf]
    cur = leaf
    for lvl in range(depth - 1, -1, -1):
        child = lambda par: F.max(  # noqa: E731
            F.when(F.col("idx") % 2 == par, F.col("digest"))
        )
        cur = (
            cur.groupBy((F.col("idx") / 2).cast("bigint").alias("idx"))
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.md5(
                    F.concat_ws(
                        ":",
                        F.coalesce(child(0), F.lit("")),
                        F.coalesce(child(1), F.lit("")),
                    )
                ).alias("digest"),
            )
            .select(F.lit(lvl).alias("level"), "idx", "n_rows", "digest")
        )
        levels.append(cur)
    out = levels[0]
    for frame in levels[1:]:
        out = out.unionByName(frame)
    return out


def snap_verify_merkle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-tree verify between source and backup: compare the two
    trees node-by-node so corruption is LOCATED in log time — root
    mismatch ⇒ follow the mismatching child down {MERKLE_LEAVES.bit_length() - 1}
    levels to the exact leaf bucket(s), instead of re-diffing the whole
    table. In the exchange-with-a-remote-site deployment only the root
    (32 bytes) moves when clean, and one path of digests when not —
    the reference's verify contract at courier cost.

    Output is the joined tree: every (level, idx) with both digests and
    a match flag (full outer join keeps one-sided nodes visible)."""

    def tree(df: DataFrame) -> DataFrame:
        keyed = df.select(
            hash60(F.md5(F.col("o_orderkey").cast("string"))).alias("hk"),
            row_hash_int(*_ORDERS_COLS).alias("h60"),
        )
        return _merkle_levels(keyed)

    src = tree(load_table(spark, sf_dir, "orders"))
    bkp = tree(_perturbed_orders(spark, sf_dir))
    j = src.select(
        "level",
        "idx",
        F.col("n_rows").alias("n_src"),
        F.col("digest").alias("digest_src"),
    ).join(
        bkp.select(
            "level",
            "idx",
            F.col("n_rows").alias("n_bkp"),
            F.col("digest").alias("digest_bkp"),
        ),
        ["level", "idx"],
        "full_outer",
    )
    return j.select(
        F.col("level").cast("int").alias("level"),
        "idx",
        "n_src",
        "n_bkp",
        "digest_src",
        "digest_bkp",
        (
            F.col("digest_src").isNotNull()
            & F.col("digest_bkp").isNotNull()
            & (F.col("digest_src") == F.col("digest_bkp"))
        ).alias("match"),
    )


def _merkle_sql(src_expr: str, hash_expr: str, tag: str) -> str:
    """CTE chain building one side's Merkle tree (mirrors _merkle_levels)."""
    depth = MERKLE_LEAVES.bit_length() - 1
    h60 = sql_hash60(hash_expr)
    hk = sql_md5_int60("CAST(o_orderkey AS VARCHAR)")
    ctes = [
        f"""{tag}_l{depth} AS (
  SELECT {depth} AS level, CAST({hk} % {MERKLE_LEAVES} AS BIGINT) AS idx,
         COUNT(*) AS n_rows,
         md5(concat_ws(':', COUNT(*), BIT_XOR({h60}))) AS digest
  FROM {src_expr} GROUP BY idx)"""
    ]
    for lvl in range(depth - 1, -1, -1):
        ctes.append(
            f"""{tag}_l{lvl} AS (
  SELECT {lvl} AS level, CAST(idx // 2 AS BIGINT) AS idx,
         CAST(SUM(n_rows) AS BIGINT) AS n_rows,
         md5(concat_ws(':',
           COALESCE(MAX(CASE WHEN idx % 2 = 0 THEN digest END), ''),
           COALESCE(MAX(CASE WHEN idx % 2 = 1 THEN digest END), '')))
           AS digest
  FROM {tag}_l{lvl + 1} GROUP BY CAST(idx // 2 AS BIGINT))"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM {tag}_l{lvl}" for lvl in range(depth + 1)
    )
    ctes.append(f"{tag}_tree AS ({union})")
    return ",\n".join(ctes)


_SNAP_MERKLE_SQL = f"""
WITH b_rows AS ({_PERTURBED_SQL}),
{_merkle_sql("orders", sql_row_hash(ORDERS_COLS_SQL), "s")},
{_merkle_sql("b_rows", sql_row_hash(ORDERS_COLS_SQL), "b")}
SELECT CAST(level AS INT) AS level, idx,
       s.n_rows AS n_src, b.n_rows AS n_bkp,
       s.digest AS digest_src, b.digest AS digest_bkp,
       (s.digest IS NOT NULL AND b.digest IS NOT NULL
        AND s.digest = b.digest) AS match
FROM s_tree s FULL OUTER JOIN b_tree b USING (level, idx)
"""


_PAYLOAD = _ORDERS_FIELDS[1:]


def _cdc_pair(prev: DataFrame, curr: DataFrame, version: int) -> DataFrame:
    """Typed change feed between two snapshot states: insert / delete /
    update_preimage / update_postimage (Delta change-data-feed
    vocabulary), from one full_outer ``diff`` carrying both sides'
    payload. Each changed key emits its images in place (``inline``): a
    removed key its old row, an added key its new row, a changed key
    both."""
    d = diff(
        hashed(prev, _ORDERS_COLS),
        hashed(curr, _ORDERS_COLS),
        K,
        _PAYLOAD,
        _PAYLOAD,
    )
    change = F.col("change")

    def image(change_type: Column, prefix: str) -> Column:
        return F.struct(
            K,
            *[F.col(prefix + c).alias(c) for c in _PAYLOAD],
            change_type.alias("change_type"),
        )

    pre = F.when(change == "removed", "delete").when(
        change == "changed", "update_preimage"
    )
    post = F.when(change == "added", "insert").when(
        change == "changed", "update_postimage"
    )
    return (
        d.filter(change != "same")
        .select(F.inline(F.array(image(pre, "_old_"), image(post, ""))))
        .filter(F.col("change_type").isNotNull())
        .withColumn("version", F.lit(version))
    )


def _cdc_feed(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The v0 and v2 states of the demo chain and its v0→v1→v2 feed."""
    base = load_table(spark, sf_dir, "orders")
    # v1 feeds both pairs and v2 a pair and the caller's certificate; lazy
    # checkpoints derive each state once
    v1 = _perturbed_orders(spark, sf_dir).localCheckpoint(eager=False)
    v2 = _perturbed_orders_v2(spark, sf_dir).localCheckpoint(eager=False)
    return base, v2, _cdc_pair(base, v1, 1).unionByName(_cdc_pair(v1, v2, 2))


def _ivm_delta_aggs() -> list[Column]:
    """The feed's per-group (dn, drev): insert/update_postimage rows count
    +1, delete/update_preimage rows −1, revenue summed as a decimal."""
    sign = F.when(
        F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    return [F.sum(sign).alias("dn"), F.sum(sign * dec).alias("drev")]


def _ivm_certificate(
    base: DataFrame, delta: DataFrame, final: DataFrame
) -> DataFrame:
    """The per-priority (count, revenue) view maintained as `base`'s
    aggregate plus the (dn, drev) `delta`, certified row by row against
    the aggregate of the `final` state."""
    dec = F.col("o_totalprice").cast("decimal(12,2)")

    def agg_of(df: DataFrame, n: str, rev: str) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias(n), F.sum(dec).alias(rev)
        )

    m = (
        agg_of(base, "n_base", "rev_base")
        .join(delta, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("dn", F.lit(0)).alias("dn"),
            (
                F.coalesce("n_base", F.lit(0)) + F.coalesce("dn", F.lit(0))
            ).alias("n_maintained"),
            (
                F.coalesce(F.col("rev_base"), F.lit(0))
                + F.coalesce(F.col("drev"), F.lit(0))
            ).alias("rev_m"),
        )
        .join(agg_of(final, "n_direct", "rev_direct"), "o_orderpriority")
    )
    return m.select(
        "o_orderpriority",
        "n_base",
        "dn",
        "n_maintained",
        "n_direct",
        F.col("rev_m").cast("double").alias("rev_maintained"),
        F.col("rev_direct").cast("double").alias("rev_direct"),
        (
            (F.col("n_maintained") == F.col("n_direct"))
            & (F.col("rev_m") == F.col("rev_direct"))
        ).alias("is_consistent"),
    )


def snap_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed across the backup chain: the ordered, typed
    row-change stream (insert / delete / update_preimage /
    update_postimage per version) that downstream consumers replay
    instead of re-diffing snapshots — Delta CDF semantics derived
    purely from snapshot states, covering v0→v1→v2 of the demo chain.
    Both images of an update ship, so an auditor sees exactly what a
    value changed FROM; the feed is the incremental-consumer
    counterpart of ``snap_chain_rebase``'s fold."""
    _, _, feed = _cdc_feed(spark, sf_dir)
    return feed.select(
        F.col("version").cast("int").alias("version"),
        "change_type",
        *_ORDERS_FIELDS,
    )


def snap_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance from the CDC feed: a per-priority
    (count, revenue) aggregate view is maintained by folding ONLY the
    change feed into the v0 aggregate — insert/update_postimage rows
    count +1, delete/update_preimage rows −1 (the update pair nets to
    the value delta) — and the result is certified row-by-row against
    the aggregate recomputed directly on the final state. This is why
    the CDC feed exists at 100 TB: two days of changes re-aggregate in
    change-volume time instead of a full corpus re-scan, and decimal
    sums make the maintained view EXACTLY equal, not approximately.
    Shuffle weight is |feed| + |groups|; the base table is touched only
    by its (already maintained) aggregate."""
    base, v2, feed = _cdc_feed(spark, sf_dir)
    delta = feed.groupBy("o_orderpriority").agg(*_ivm_delta_aggs())
    return _ivm_certificate(base, delta, v2)


def _cdc_pair_sql(prev: str, curr: str, version: int) -> str:
    """Mirror of ``_cdc_pair``, as the CTEs ``d<version>`` (the diff) and
    ``img<version>`` (the two images of each changed key)."""
    d = sql_diff(
        f"({sql_hashed(prev, ORDERS_COLS_SQL)})",
        f"({sql_hashed(curr, ORDERS_COLS_SQL)})",
        K,
        _PAYLOAD,
        _PAYLOAD,
    )
    old = ", ".join(f"_old_{c} AS {c}" for c in _PAYLOAD)
    return f"""d{version} AS ({d}),
img{version} AS (
  SELECT CAST({version} AS INT) AS version,
         CASE change WHEN 'removed' THEN 'delete'
                     ELSE 'update_preimage' END AS change_type,
         o_orderkey, {old}
  FROM d{version} WHERE change IN ('removed', 'changed')
  UNION ALL
  SELECT CAST({version} AS INT),
         CASE change WHEN 'added' THEN 'insert'
                     ELSE 'update_postimage' END,
         o_orderkey, {", ".join(_PAYLOAD)}
  FROM d{version} WHERE change IN ('added', 'changed')
)"""


# the CTEs of the v0→v1→v2 change feed, shared by the cdc and ivm oracles
_CDC_FEED_CTES = f"""v1 AS ({_PERTURBED_SQL}),
v2 AS ({_PERTURBED_V2_SQL}),
{_cdc_pair_sql("orders", "v1", 1)},
{_cdc_pair_sql("v1", "v2", 2)},
feed AS (SELECT * FROM img1 UNION ALL SELECT * FROM img2)"""

_SNAP_CDC_SQL = f"""
WITH {_CDC_FEED_CTES}
SELECT version, change_type, {", ".join(_ORDERS_FIELDS)} FROM feed
"""


_SNAP_IVM_SQL = f"""
WITH {_CDC_FEED_CTES},
delta AS (
  SELECT o_orderpriority,
         CAST(SUM(CASE WHEN change_type IN ('insert', 'update_postimage')
                       THEN 1 ELSE -1 END) AS BIGINT) AS dn,
         SUM((CASE WHEN change_type IN ('insert', 'update_postimage')
                   THEN 1 ELSE -1 END)
             * CAST(o_totalprice AS DECIMAL(12,2))) AS drev
  FROM feed GROUP BY o_orderpriority
),
base_agg AS (
  SELECT o_orderpriority, COUNT(*) AS n_base,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_base
  FROM orders GROUP BY o_orderpriority
),
direct AS (
  SELECT o_orderpriority, COUNT(*) AS n_direct,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_direct
  FROM v2 GROUP BY o_orderpriority
),
m AS (
  SELECT o_orderpriority,
         COALESCE(n_base, 0) AS n_base,
         COALESCE(dn, 0) AS dn,
         COALESCE(n_base, 0) + COALESCE(dn, 0) AS n_maintained,
         COALESCE(rev_base, 0) + COALESCE(drev, 0) AS rev_m
  FROM base_agg FULL OUTER JOIN delta USING (o_orderpriority)
)
SELECT m.o_orderpriority, n_base, dn, n_maintained, n_direct,
       CAST(rev_m AS DOUBLE) AS rev_maintained,
       CAST(rev_direct AS DOUBLE) AS rev_direct,
       (n_maintained = n_direct AND rev_m = rev_direct) AS is_consistent
FROM m JOIN direct ON m.o_orderpriority = direct.o_orderpriority
"""


def snap_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history built from the snapshot chain (v0 → v1 → v2):
    per key, consecutive versions with identical row content collapse
    into one history interval [valid_from, valid_to]; a content change
    OR a version gap (the key was deleted and later a key re-appeared)
    opens a new interval; is_current marks intervals alive at HEAD.
    This is the warehouse-dimension answer to "what did this row look
    like on day N" — the query-side complement of snap_restore_asof's
    state materialization and snap_cdc's change feed.

    Shape: the three states union (tagged by version), one window walk
    per key (lag over ≤3 rows/key), then interval aggregation — all
    linear, one hash shuffle on the key. Returned as the compact
    certificate a migration would log: one row per (valid_from,
    valid_to, is_current) bucket with the interval count and an
    order-insensitive xor of member keys — small enough to eyeball,
    strong enough that a single misplaced interval flips the hash."""
    states = None
    for ver, df in enumerate(
        (
            load_table(spark, sf_dir, "orders"),
            _perturbed_orders(spark, sf_dir),
            _perturbed_orders_v2(spark, sf_dir),
        )
    ):
        s = df.select(
            F.lit(ver).alias("version"),
            F.col("o_orderkey").alias("key"),
            row_hash(*_ORDERS_COLS).alias("h"),
        )
        states = s if states is None else states.unionByName(s)
    w = Window.partitionBy("key").orderBy("version")
    marked = states.select(
        "key",
        "version",
        "h",
        (
            F.col("h") != F.coalesce(F.lag("h").over(w), F.lit(""))
        ).alias("h_changed"),
        (
            F.col("version")
            != F.coalesce(F.lag("version").over(w), F.lit(-99)) + 1
        ).alias("gap"),
    ).select(
        "key",
        "version",
        (F.col("h_changed") | F.col("gap")).cast("bigint").alias("new_run"),
    )
    runs = marked.withColumn(
        "run_id",
        F.sum("new_run").over(
            Window.partitionBy("key")
            .orderBy("version")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    intervals = runs.groupBy("key", "run_id").agg(
        F.min("version").alias("valid_from"),
        F.max("version").alias("valid_to"),
    )
    return (
        intervals.select(
            "key",
            "valid_from",
            "valid_to",
            (F.col("valid_to") == 2).alias("is_current"),
        )
        .groupBy("valid_from", "valid_to", "is_current")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.expr("bit_xor(key)").alias("xor_keys"),
        )
    )


_SCD2_SQL = f"""
WITH v1 AS ({_PERTURBED_SQL}),
v2 AS ({_PERTURBED_V2_SQL}),
states AS (
  SELECT 0 AS version, o_orderkey AS key, {sql_row_hash(ORDERS_COLS_SQL)} AS h
  FROM orders
  UNION ALL
  SELECT 1, o_orderkey, {sql_row_hash(ORDERS_COLS_SQL)} FROM v1
  UNION ALL
  SELECT 2, o_orderkey, {sql_row_hash(ORDERS_COLS_SQL)} FROM v2
), marked AS (
  SELECT key, version,
         CAST(h <> COALESCE(LAG(h) OVER w, '')
              OR version <> COALESCE(LAG(version) OVER w, -99) + 1
              AS BIGINT) AS new_run
  FROM states
  WINDOW w AS (PARTITION BY key ORDER BY version)
), runs AS (
  SELECT key, version,
         CAST(SUM(new_run) OVER (PARTITION BY key ORDER BY version
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS run_id
  FROM marked
), intervals AS (
  SELECT key, run_id, MIN(version) AS valid_from, MAX(version) AS valid_to
  FROM runs GROUP BY key, run_id
)
SELECT valid_from, valid_to, valid_to = 2 AS is_current,
       COUNT(*) AS n_intervals, BIT_XOR(key) AS xor_keys
FROM intervals GROUP BY valid_from, valid_to, valid_to = 2
"""


_ASOF_D1, _ASOF_D2 = "1997-01-01", "1999-01-01"
_ASOF_LO, _ASOF_HI = "1990-01-01", "2005-01-01"


def snap_scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) dimension join — the query SCD2 history
    exists FOR: each order joins the customer-dimension version that
    was valid on its order date, so facts are attributed to the
    attributes of their time, not today's. Dimension = three dated
    versions per customer (validity ranges tile the timeline; the
    version attribute is a deterministic tier). Plan shape: dimension
    equi-join on the customer key with the validity range as a
    RESIDUAL filter — the dim side is catalog-sized ×versions, so AQE
    broadcasts it and the fact table never shuffles (the q_range_join
    discipline: equi-key first, range as residual — never a
    range-condition join, which plans a per-key cross product).
    Output: per (version, tier) order counts + decimal-exact revenue,
    i.e. the time-correct attribution report."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ver = F.col("version")
    dim = cust.select(
        "c_custkey",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("version"),
    ).select(
        "c_custkey",
        "version",
        F.when(ver == 0, F.lit(_ASOF_LO).cast("date"))
        .when(ver == 1, F.lit(_ASOF_D1).cast("date"))
        .otherwise(F.lit(_ASOF_D2).cast("date"))
        .alias("valid_from"),
        F.when(ver == 0, F.lit(_ASOF_D1).cast("date"))
        .when(ver == 1, F.lit(_ASOF_D2).cast("date"))
        .otherwise(F.lit(_ASOF_HI).cast("date"))
        .alias("valid_to"),
        ((F.col("c_custkey") + ver) % 3).cast("int").alias("tier"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    j = o.join(dim, o.o_custkey == dim.c_custkey).filter(
        (F.col("od") >= F.col("valid_from"))
        & (F.col("od") < F.col("valid_to"))
    )
    return j.groupBy("version", "tier").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("price"), 2).cast("double").alias("revenue"),
    )


_SCD2_ASOF_SQL = f"""
WITH dim AS (
  SELECT c_custkey, version,
         CASE version WHEN 0 THEN DATE '{_ASOF_LO}'
                      WHEN 1 THEN DATE '{_ASOF_D1}'
                      ELSE DATE '{_ASOF_D2}' END AS valid_from,
         CASE version WHEN 0 THEN DATE '{_ASOF_D1}'
                      WHEN 1 THEN DATE '{_ASOF_D2}'
                      ELSE DATE '{_ASOF_HI}' END AS valid_to,
         CAST((c_custkey + version) % 3 AS INT) AS tier
  FROM customer, (SELECT unnest([0, 1, 2]) AS version)
),
o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
             CAST(o_totalprice AS DECIMAL(12,2)) AS price
      FROM orders)
SELECT CAST(version AS INT) AS version, tier, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(price), 2) AS DOUBLE) AS revenue
FROM o JOIN dim ON c_custkey = o_custkey
                AND od >= valid_from AND od < valid_to
GROUP BY version, tier
"""


# ---------------------------------------------------------------------------
# MERGE INTO (upsert + delete in one pass)
# ---------------------------------------------------------------------------

_MERGE_NEW_KEY_OFFSET = 100_000_000


def snap_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics — the lakehouse upsert primitive (Delta/
    Iceberg `MERGE`): one change feed carrying upserts AND deletes is
    applied to the target in a single full-outer hash join, with
    whenMatched-update / whenNotMatched-insert / whenMatchedDelete
    branches expressed as CASE over the join sides. The output is the
    merged state's row manifest plus the per-key `action` — so the
    merge is itself audit-able data (insert/update/carry counts, and
    deletes visible by absence). Exactly one shuffle of (key, payload);
    at 100 TB the change feed is the small side and AQE picks the
    broadcast automatically — no forced hint (SURVEY §6 audit rule).

    Change feed (deterministic demo construction): every 97th key
    upserts with a bumped price, 50 synthetic new keys insert, every
    89th ≡ 3 key deletes — the same perturbation family as snap_diff,
    but delivered as an op-tagged feed rather than a full next-day
    state, which is the MERGE contract. Real MERGE INTO rejects a
    source with multiple matches per target key, so the feed is
    deduplicated up front with an explicit DELETE-WINS precedence:
    keys hit by both rules (every lcm(97,89)·q + r id, one per ~8633)
    carry only the delete — the conservative choice for a purge-class
    op, and the one Delta's `whenMatchedDelete`-first ordering gives."""
    target = load_table(spark, sf_dir, "orders")
    upd = target.filter(
        (F.col("o_orderkey") % 97 == 0) & (F.col("o_orderkey") % 89 != 3)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
    new = (
        target.filter(F.col("o_orderkey") % 101 == 7)
        .orderBy("o_orderkey")
        .limit(50)
        .withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(_MERGE_NEW_KEY_OFFSET)
        )
    )
    dels = target.filter(F.col("o_orderkey") % 89 == 3).select(
        "o_orderkey",
        *[
            F.lit(None).cast(dict(target.dtypes)[c]).alias(c)
            for c in target.columns
            if c != "o_orderkey"
        ],
    )
    changes = (
        upd.unionByName(new)
        .withColumn("op", F.lit("upsert"))
        .unionByName(dels.withColumn("op", F.lit("delete")))
    )
    payload = [c for c in target.columns if c != "o_orderkey"]
    j = target.alias("t").join(
        changes.alias("c"),
        F.col("t.o_orderkey") == F.col("c.o_orderkey"),
        "full_outer",
    )
    merged = (
        j.filter(
            F.col("c.op").isNull() | (F.col("c.op") == "upsert")
        )
        .select(
            F.coalesce(F.col("c.o_orderkey"), F.col("t.o_orderkey")).alias(
                "o_orderkey"
            ),
            *[
                F.when(F.col("c.op") == "upsert", F.col(f"c.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in payload
            ],
            F.when(F.col("c.op").isNull(), F.lit("carry"))
            .when(F.col("t.o_orderkey").isNull(), F.lit("insert"))
            .otherwise(F.lit("update"))
            .alias("action"),
        )
    )
    return merged.select(
        "o_orderkey", "action", row_hash(*_ORDERS_COLS).alias("row_md5")
    )


_SNAP_MERGE_UPSERT_SQL = f"""
WITH changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority,
         'upsert' AS op
  FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 89 <> 3
  UNION ALL
  SELECT o_orderkey + {_MERGE_NEW_KEY_OFFSET}, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority, 'upsert'
  FROM (SELECT * FROM orders WHERE o_orderkey % 101 = 7
        ORDER BY o_orderkey LIMIT 50)
  UNION ALL
  SELECT o_orderkey, NULL, NULL, NULL, NULL, NULL, 'delete'
  FROM orders WHERE o_orderkey % 89 = 3
), merged AS (
  SELECT COALESCE(c.o_orderkey, t.o_orderkey) AS o_orderkey,
         CASE WHEN c.op = 'upsert' THEN c.o_custkey
              ELSE t.o_custkey END AS o_custkey,
         CASE WHEN c.op = 'upsert' THEN c.o_orderstatus
              ELSE t.o_orderstatus END AS o_orderstatus,
         CASE WHEN c.op = 'upsert' THEN c.o_totalprice
              ELSE t.o_totalprice END AS o_totalprice,
         CASE WHEN c.op = 'upsert' THEN c.o_orderdate
              ELSE t.o_orderdate END AS o_orderdate,
         CASE WHEN c.op = 'upsert' THEN c.o_orderpriority
              ELSE t.o_orderpriority END AS o_orderpriority,
         CASE WHEN c.op IS NULL THEN 'carry'
              WHEN t.o_orderkey IS NULL THEN 'insert'
              ELSE 'update' END AS action
  FROM orders t FULL OUTER JOIN changes c ON t.o_orderkey = c.o_orderkey
  WHERE c.op IS NULL OR c.op = 'upsert'
)
SELECT o_orderkey, action, {sql_row_hash(ORDERS_COLS_SQL)} AS row_md5 FROM merged
"""


# ---------------------------------------------------------------------------
# three-way branch merge (lakeFS / Nessie branch semantics)
# ---------------------------------------------------------------------------


def _branch_b_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic second branch diverging from the same base as
    `_perturbed_orders` (branch A), touching a DIFFERENT but
    overlapping key set: every 91st key's price changes (some keys are
    0 mod both 97 and 91 → true concurrent edits), every 83rd ≡ 2 key
    is deleted, and 50 new keys appear at a disjoint offset."""
    orders = load_table(spark, sf_dir, "orders")
    changed = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 91 == 0, F.col("o_totalprice") + 20.0
        ).otherwise(F.col("o_totalprice")),
    )
    kept = changed.filter(F.col("o_orderkey") % 83 != 2)
    added = (
        orders.filter(F.col("o_orderkey") % 103 == 11)
        .orderBy("o_orderkey")
        .limit(50)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(200_000_000))
    )
    return kept.unionByName(added)


_BRANCH_B_SQL = """
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 91 = 0 THEN o_totalprice + 20.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 83 <> 2
  UNION ALL
  SELECT o_orderkey + 200000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM (SELECT * FROM orders WHERE o_orderkey % 103 = 11
        ORDER BY o_orderkey LIMIT 50)
"""


def snap_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way branch merge — the lakeFS/Nessie/git-for-data shape:
    two branches diverge from a common base snapshot; the merge
    classifies every key by (branch A state, branch B state) against
    the base and folds both change sets back into one state. A key
    both branches touched with DIFFERENT results is a CONFLICT,
    resolved deterministically (branch A — "ours" — wins) and COUNTED,
    so the conflict surface is audit-able data rather than a merge-tool
    popup. Output: one row per (state_a, state_b, outcome) class with
    key count plus an order-insensitive xor checksum of the merged
    rows' hashes — the merged state's identity without materializing
    it.

    Scale: three manifest scans (key, 60-bit row hash) and full-outer
    joins on key — only fingerprints shuffle, payloads never move; the
    certificate is the same "compare 100 TB with four numbers" contract
    as snap_table_checksum."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        row_hash_int(*_ORDERS_COLS).alias("h0"),
    )
    br_a = _perturbed_orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("key"),
        row_hash_int(*_ORDERS_COLS).alias("ha"),
    )
    br_b = _branch_b_orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("key"),
        row_hash_int(*_ORDERS_COLS).alias("hb"),
    )
    j = (
        base.withColumn("in0", F.lit(True))
        .join(br_a.withColumn("ina", F.lit(True)), "key", "full_outer")
        .join(br_b.withColumn("inb", F.lit(True)), "key", "full_outer")
    )

    def _state(inx: str, hx: str) -> F.Column:
        return (
            F.when(F.col("in0") & F.col(inx) & (F.col(hx) == F.col("h0")),
                   F.lit("same"))
            .when(F.col("in0") & F.col(inx), F.lit("changed"))
            .when(F.col("in0") & F.col(inx).isNull(), F.lit("deleted"))
            .when(F.col("in0").isNull() & F.col(inx), F.lit("added"))
            .otherwise(F.lit("absent"))
        )

    classified = j.select(
        "key", "h0", "ha", "hb",
        _state("ina", "ha").alias("state_a"),
        _state("inb", "hb").alias("state_b"),
    )
    touched = lambda s: ~F.col(s).isin("same", "absent")  # noqa: E731
    conflict = (
        touched("state_a") & touched("state_b")
        & ~F.col("ha").eqNullSafe(F.col("hb"))
    )
    merged = classified.select(
        "state_a",
        "state_b",
        F.when(conflict, F.lit("conflict_a_wins"))
        .otherwise(F.lit("clean"))
        .alias("outcome"),
        F.when(conflict, F.col("ha"))
        .when(touched("state_a"), F.col("ha"))
        .when(touched("state_b"), F.col("hb"))
        .otherwise(F.col("h0"))
        .alias("mh"),
    )
    return (
        merged.groupBy("state_a", "state_b", "outcome")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.count("mh").alias("n_merged_rows"),
            F.expr("bit_xor(mh)").alias("xor_merged"),
        )
    )


_SNAP_BRANCH_MERGE_SQL = f"""
WITH a_rows AS ({_PERTURBED_SQL}),
b_rows AS ({_BRANCH_B_SQL}),
m0 AS (SELECT o_orderkey AS key, {sql_row_hash_int(ORDERS_COLS_SQL)} AS h0, TRUE AS in0 FROM orders),
ma AS (SELECT o_orderkey AS key, {sql_row_hash_int(ORDERS_COLS_SQL)} AS ha, TRUE AS ina FROM a_rows),
mb AS (SELECT o_orderkey AS key, {sql_row_hash_int(ORDERS_COLS_SQL)} AS hb, TRUE AS inb FROM b_rows),
j AS (
  SELECT COALESCE(m0.key, ma.key, mb.key) AS key, h0, ha, hb, in0, ina, inb
  FROM m0 FULL OUTER JOIN ma ON m0.key = ma.key
          FULL OUTER JOIN mb ON COALESCE(m0.key, ma.key) = mb.key
),
classified AS (
  SELECT key, h0, ha, hb,
    CASE WHEN in0 AND ina AND ha = h0 THEN 'same'
         WHEN in0 AND ina THEN 'changed'
         WHEN in0 AND ina IS NULL THEN 'deleted'
         WHEN in0 IS NULL AND ina THEN 'added'
         ELSE 'absent' END AS state_a,
    CASE WHEN in0 AND inb AND hb = h0 THEN 'same'
         WHEN in0 AND inb THEN 'changed'
         WHEN in0 AND inb IS NULL THEN 'deleted'
         WHEN in0 IS NULL AND inb THEN 'added'
         ELSE 'absent' END AS state_b
  FROM j
),
merged AS (
  SELECT state_a, state_b,
    CASE WHEN state_a NOT IN ('same','absent')
          AND state_b NOT IN ('same','absent')
          AND ha IS DISTINCT FROM hb
         THEN 'conflict_a_wins' ELSE 'clean' END AS outcome,
    CASE WHEN state_a NOT IN ('same','absent')
          AND state_b NOT IN ('same','absent')
          AND ha IS DISTINCT FROM hb THEN ha
         WHEN state_a NOT IN ('same','absent') THEN ha
         WHEN state_b NOT IN ('same','absent') THEN hb
         ELSE h0 END AS mh
  FROM classified
)
SELECT state_a, state_b, outcome,
       COUNT(*) AS n_keys, COUNT(mh) AS n_merged_rows,
       BIT_XOR(mh) AS xor_merged
FROM merged GROUP BY state_a, state_b, outcome
"""


# per-class row TTLs (days): hot interaction events expire fast, audit
# classes live longer. The CASE rule is the policy — shared with the oracle.
_TTL_DAYS = {"click": 30, "view": 60}
_TTL_DEFAULT_DAYS = 90
_DAY_US = 86_400 * 1_000_000


def snap_ttl_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level TTL enforcement plan — the third retention granularity
    next to version-level ``snap_retention`` and file-level
    ``snap_vacuum``: each event CLASS carries its own time-to-live
    (clicks 30 d, views 60 d, default 90 d), measured back from the
    lake's own max event time (so the plan is deterministic and
    re-runnable, not wall-clock-dependent). Emits the per-class purge
    certificate: totals, purged/kept counts, the cutoff applied, and
    the oldest surviving timestamp (must be ≥ cutoff — the invariant a
    GDPR/retention audit checks). Two linear scans: one row for the
    global max (broadcast back as a one-row join), one counting pass;
    nothing row-count-sized crosses the wire. At 100 TB the same plan
    prunes day-partitions wholesale before touching row groups."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("ts div 1000").alias("ts_us")
    )
    gmax = ev.groupBy().agg(F.max("ts_us").alias("gmax_us"))
    ttl_days = F.when(
        F.col("event_type") == "click", F.lit(_TTL_DAYS["click"])
    ).when(
        F.col("event_type") == "view", F.lit(_TTL_DAYS["view"])
    ).otherwise(F.lit(_TTL_DEFAULT_DAYS))
    with_cut = ev.crossJoin(F.broadcast(gmax)).select(
        "event_type",
        "ts_us",
        ttl_days.cast("int").alias("ttl_days"),
        (
            F.col("gmax_us") - ttl_days.cast("bigint") * _DAY_US
        ).alias("cutoff_us"),
    )
    return with_cut.groupBy("event_type", "ttl_days", "cutoff_us").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum((F.col("ts_us") < F.col("cutoff_us")).cast("long")).alias(
            "n_purged"
        ),
        F.sum((F.col("ts_us") >= F.col("cutoff_us")).cast("long")).alias(
            "n_kept"
        ),
        F.min(
            F.when(F.col("ts_us") >= F.col("cutoff_us"), F.col("ts_us"))
        ).alias("min_kept_ts_us"),
    )


_SNAP_TTL_SQL = f"""
WITH ev AS (
  SELECT event_type, epoch_ns(ts) // 1000 AS ts_us FROM events
),
g AS (SELECT MAX(ts_us) AS gmax_us FROM ev),
w AS (
  SELECT event_type, ts_us,
         CASE WHEN event_type = 'click' THEN {_TTL_DAYS["click"]}
              WHEN event_type = 'view' THEN {_TTL_DAYS["view"]}
              ELSE {_TTL_DEFAULT_DAYS} END AS ttl_days,
         gmax_us - CASE WHEN event_type = 'click' THEN {_TTL_DAYS["click"]}
                        WHEN event_type = 'view' THEN {_TTL_DAYS["view"]}
                        ELSE {_TTL_DEFAULT_DAYS} END * {_DAY_US}
           AS cutoff_us
  FROM ev, g
)
SELECT event_type, CAST(ttl_days AS INT) AS ttl_days, cutoff_us,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN ts_us < cutoff_us THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purged,
       CAST(SUM(CASE WHEN ts_us >= cutoff_us THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       MIN(CASE WHEN ts_us >= cutoff_us THEN ts_us END) AS min_kept_ts_us
FROM w GROUP BY event_type, ttl_days, cutoff_us
"""


def snap_cross_region_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-region replication-lag report — the monitoring view a
    geo-replicated backup (the reference's cross-datacenter copy story)
    needs: per order-month partition, primary row count vs replica row
    count, rows behind, and the replica's max arrived order key (the
    replication watermark). The replica is a deterministic subset
    (latest month's rows with o_orderkey % 17 == 0 have not arrived —
    a tail-partition lag, the realistic failure mode). Both manifests
    are count/max aggregates per partition: only (month, count, max)
    triples move, never rows — manifest-sized like snap_diff."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
    )
    max_month = orders.agg(F.max("month").alias("mm"))
    replica = (
        orders.crossJoin(F.broadcast(max_month))
        .filter(
            (F.col("month") != F.col("mm"))
            | (F.col("o_orderkey") % 17 == 0)
        )
        .select("o_orderkey", "month")
    )
    p = orders.groupBy("month").agg(
        F.count(F.lit(1)).alias("rows_primary"),
        F.max("o_orderkey").alias("max_key_primary"),
    )
    r = replica.groupBy("month").agg(
        F.count(F.lit(1)).alias("rows_replica"),
        F.max("o_orderkey").alias("max_key_replica"),
    )
    return (
        p.join(r, "month", "left")
        .select(
            "month",
            F.col("rows_primary").cast("bigint").alias("rows_primary"),
            F.coalesce(F.col("rows_replica"), F.lit(0))
            .cast("bigint")
            .alias("rows_replica"),
            (
                F.col("rows_primary")
                - F.coalesce(F.col("rows_replica"), F.lit(0))
            )
            .cast("bigint")
            .alias("rows_behind"),
            F.col("max_key_replica").cast("bigint").alias(
                "replica_watermark"
            ),
            (
                F.coalesce(F.col("rows_replica"), F.lit(0))
                == F.col("rows_primary")
            ).alias("in_sync"),
        )
    )


_CROSS_REGION_LAG_SQL = """
WITH orders_m AS (
  SELECT o_orderkey, date_trunc('month', o_orderdate) AS month
  FROM orders
), mm AS (SELECT MAX(month) AS mm FROM orders_m),
replica AS (
  SELECT o_orderkey, month FROM orders_m CROSS JOIN mm
  WHERE month <> mm OR o_orderkey % 17 = 0
), p AS (
  SELECT month, COUNT(*) AS rows_primary,
         MAX(o_orderkey) AS max_key_primary
  FROM orders_m GROUP BY month
), r AS (
  SELECT month, COUNT(*) AS rows_replica,
         MAX(o_orderkey) AS max_key_replica
  FROM replica GROUP BY month
)
SELECT p.month,
       CAST(rows_primary AS BIGINT) AS rows_primary,
       CAST(COALESCE(rows_replica, 0) AS BIGINT) AS rows_replica,
       CAST(rows_primary - COALESCE(rows_replica, 0) AS BIGINT)
         AS rows_behind,
       CAST(max_key_replica AS BIGINT) AS replica_watermark,
       COALESCE(rows_replica, 0) = rows_primary AS in_sync
FROM p LEFT JOIN r ON p.month = r.month
"""


# ---------------------------------------------------------------------------
# deletion vectors (merge-on-read): read-path stats per file
# ---------------------------------------------------------------------------

DV_FILE_SPAN = 4096  # orderkeys per synthetic base file
DV_DELETE_MOD = 37  # hash gate: ~1/37 of rows carry a deletion-vector bit


def snap_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletion vectors (the Delta/Iceberg v2 read path):
    a base snapshot's rows live in immutable files; deletes don't
    rewrite files, they record (file, row-key) tombstones, and every
    reader anti-joins the tombstone set at scan time. Base files are
    modeled as orderkey spans of lineitem ({DV_FILE_SPAN} keys/file —
    the same synthetic-file device as snap_partition_stats); the DV is
    a deterministic md5 gate over (orderkey, linenumber) standing in
    for an arbitrary predicate delete. The report is the table each
    compactor works from: per-file row count, tombstone count, live
    count, and deleted share in ppm — files past a rewrite threshold
    are exactly the ones a maintenance job would rewrite. Both sides
    compute the file id in the scan projection, so the anti-join is
    co-partitioned on file_id+key with NO extra shuffle beyond the one
    the join itself needs; tombstones are (file_id, 2 bigints) — the
    100 TB read overhead is the DV's size, not the table's."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr(f"l_orderkey div {DV_FILE_SPAN}").alias("file_id"),
        "l_orderkey",
        "l_linenumber",
    )
    gate = (
        hash60(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            )
        )
        % DV_DELETE_MOD
        == 0
    )
    dv = li.filter(gate)
    live = li.join(
        dv.select("l_orderkey", "l_linenumber"),
        ["l_orderkey", "l_linenumber"],
        "left_anti",
    )
    base_stats = li.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    dv_stats = dv.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_deleted")
    )
    live_stats = live.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_live")
    )
    return (
        base_stats.join(dv_stats, "file_id", "left")
        .join(live_stats, "file_id", "left")
        .select(
            "file_id",
            "n_rows",
            F.coalesce("n_deleted", F.lit(0)).alias("n_deleted"),
            F.coalesce("n_live", F.lit(0)).alias("n_live"),
            F.expr(
                "coalesce(n_deleted, 0L) * 1000000L div n_rows"
            ).alias("deleted_ppm"),
        )
    )


_DV_SQL = f"""
WITH li AS (
  SELECT CAST(l_orderkey // {DV_FILE_SPAN} AS BIGINT) AS file_id,
         l_orderkey, l_linenumber,
         {sql_md5_int60("concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))")}
           % {DV_DELETE_MOD} = 0 AS deleted
  FROM lineitem
)
SELECT file_id,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deleted,
       CAST(SUM(CASE WHEN deleted THEN 0 ELSE 1 END) AS BIGINT) AS n_live,
       CAST(SUM(CASE WHEN deleted THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS deleted_ppm
FROM li GROUP BY file_id
"""


QUERIES = {
    "snap_deletion_vectors": snap_deletion_vectors,
    "snap_cross_region_lag": snap_cross_region_lag,
    "snap_ttl_enforce": snap_ttl_enforce,
    "snap_branch_merge": snap_branch_merge,
    "snap_merge_upsert": snap_merge_upsert,
    "snap_scd2_history": snap_scd2_history,
    "snap_scd2_asof_join": snap_scd2_asof_join,
    "snap_cdc": snap_cdc,
    "snap_ivm": snap_ivm,
    "snap_row_manifest": snap_row_manifest,
    "snap_verify_merkle": snap_verify_merkle,
    "snap_chain_rebase": snap_chain_rebase,
    "snap_apply_incremental": snap_apply_incremental,
    "snap_verify_sampled": snap_verify_sampled,
    "snap_table_checksum": snap_table_checksum,
    "snap_incr_watermark": snap_incr_watermark,
    "snap_diff": snap_diff,
    "snap_incr_antijoin": snap_incr_antijoin,
    "snap_retention": snap_retention,
    "snap_restore_asof": snap_restore_asof,
    "snap_partition_stats": snap_partition_stats,
    "snap_bloom_prefilter": snap_bloom_prefilter,
}

ORACLES = {
    "snap_deletion_vectors": _DV_SQL,
    "snap_cross_region_lag": _CROSS_REGION_LAG_SQL,
    "snap_ttl_enforce": _SNAP_TTL_SQL,
    "snap_branch_merge": _SNAP_BRANCH_MERGE_SQL,
    "snap_merge_upsert": _SNAP_MERGE_UPSERT_SQL,
    "snap_scd2_history": _SCD2_SQL,
    "snap_scd2_asof_join": _SCD2_ASOF_SQL,
    "snap_cdc": _SNAP_CDC_SQL,
    "snap_ivm": _SNAP_IVM_SQL,
    "snap_row_manifest": _SNAP_ROW_MANIFEST_SQL,
    "snap_chain_rebase": _SNAP_CHAIN_REBASE_SQL,
    "snap_verify_merkle": _SNAP_MERKLE_SQL,
    "snap_apply_incremental": _SNAP_APPLY_INCR_SQL,
    "snap_verify_sampled": _SNAP_VERIFY_SAMPLED_SQL,
    "snap_table_checksum": _SNAP_TABLE_CHECKSUM_SQL,
    "snap_incr_watermark": _SNAP_INCR_WATERMARK_SQL,
    "snap_diff": _SNAP_DIFF_SQL,
    "snap_incr_antijoin": _SNAP_INCR_ANTIJOIN_SQL,
    "snap_retention": _SNAP_RETENTION_SQL,
    "snap_restore_asof": _SNAP_RESTORE_ASOF_SQL,
    "snap_partition_stats": _SNAP_PARTITION_STATS_SQL,
    "snap_bloom_prefilter": _SNAP_BLOOM_SQL,
}
