"""Cardinality sketches (SURVEY.md §2C adjunct) — a fully deterministic
HyperLogLog built from the portable md5 hash (SURVEY.md §4), so the SAME
register values come out of Spark, DuckDB, or any engine with md5.

Why not ``approx_count_distinct``: its HLL++ implementation (and its
hash) is engine-private, so results can't be cross-checked — and a
backup/verify engine needs its estimates to be *reproducible* across
reruns and engines, not just approximately right. This one is exact
arithmetic end-to-end: 52-bit md5-derived hash → 256 registers
(bucket = low 8 bits, rho = leading-zero rank of the remaining 44
bits), register sum kept as a power-of-two-scaled BIGINT (≤ 2^53, no
float rounding), and one final double division for the estimate. No
libm calls (no ln/pow), so there is no last-ulp drift anywhere.

At scale the whole sketch is one partial-aggregable groupBy on a
256-value key: every executor collapses its partitions to ≤256 rows
before the shuffle, the same profile as the reference's checksum
verify. The estimate lands within ~1.04/√256 ≈ 6.5 % of exact, which
the test asserts against the exact distinct count computed alongside.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    hash60,
    sql_md5_int60,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import load_table

M_BUCKETS = 256  # 2^8 registers
REST_BITS = 44  # 52-bit hash minus the 8 bucket bits
_SCALE = 1 << (REST_BITS + 1)  # 2^45: makes Σ 2^-rho an exact BIGINT

# Small-range (linear counting) correction needs ln(m/zeros). Runtime ln
# would tie the result to each engine's libm (1-ulp drift breaks the
# hash gate), so the 255 possible values are precomputed HERE and
# embedded as identical double literals in both the Spark plan and the
# SQL oracle. repr() round-trips doubles exactly in both parsers.
_LN_TABLE = [math.log(M_BUCKETS / z) for z in range(1, M_BUCKETS)]

# targets: (table, column) pairs whose distinct cardinality is sketched
_TARGETS = [("orders", "o_custkey"), ("lineitem", "l_partkey"), ("events", "user_id")]


def _hll_one(spark: SparkSession, sf_dir: str, table: str, col: str) -> DataFrame:
    h = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 13), 16, 10
    ).cast("bigint")
    src = load_table(spark, sf_dir, table).select(
        F.col(col).alias("v"), h.alias("h")
    )
    rest = F.shiftright(F.col("h"), 8)
    rho = (
        F.when(rest == 0, F.lit(REST_BITS + 1))
        .otherwise(F.lit(REST_BITS + 1) - F.length(F.bin(rest)))
        .cast("int")
    )
    regs = (
        src.select(
            F.col("h").bitwiseAND(F.lit(M_BUCKETS - 1)).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("m"))
    )
    reg_agg = regs.agg(
        # python wrapper F.shiftleft only takes a literal shift; the SQL
        # function itself accepts a column
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {REST_BITS + 1} - m)")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("nb"),
    )
    exact = src.agg(F.countDistinct("v").alias("n_exact"))
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
    denom = (
        F.col("s_present")
        + (F.lit(M_BUCKETS).cast("bigint") - F.col("nb")) * F.lit(_SCALE)
    ).cast("double")
    est_raw = (
        alpha
        * F.lit(float(M_BUCKETS * M_BUCKETS))
        * F.lit(float(_SCALE))
        / denom
    )
    zeros = (F.lit(M_BUCKETS) - F.col("nb")).cast("int")
    est_linear = F.lit(float(M_BUCKETS)) * F.element_at(
        F.array(*[F.lit(v) for v in _LN_TABLE]), zeros
    )
    est = F.when(
        (est_raw <= F.lit(2.5 * M_BUCKETS)) & (zeros > 0), est_linear
    ).otherwise(est_raw)
    return exact.crossJoin(reg_agg).select(
        F.lit(f"{table}.{col}").alias("col_name"),
        "n_exact",
        est.alias("n_hll"),
    )


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per sketched column: exact distinct count next to the
    engine-portable HLL estimate."""
    out = None
    for table, col in _TARGETS:
        part = _hll_one(spark, sf_dir, table, col)
        out = part if out is None else out.unionByName(part)
    return out


def _hll_one_sql(table: str, col: str) -> str:
    # 'e0' suffix forces DOUBLE literals in DuckDB — bare decimals parse
    # as DECIMAL and the decimal→double re-round drifts a ulp
    ln_list = ", ".join(
        repr(v) if "e" in repr(v) else repr(v) + "e0" for v in _LN_TABLE
    )
    return f"""
SELECT '{table}.{col}' AS col_name,
       (SELECT COUNT(DISTINCT {col}) FROM {table}) AS n_exact,
       CASE WHEN est_raw <= {2.5 * M_BUCKETS!r} AND (256 - nb) > 0
            THEN CAST({float(M_BUCKETS)!r} AS DOUBLE)
                   * list_extract([{ln_list}], 256 - nb)
            ELSE est_raw END AS n_hll
FROM (
  SELECT nb,
         (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
           * CAST(65536.0 AS DOUBLE) * CAST({float(_SCALE)!r} AS DOUBLE)
           / CAST(s_present + (256 - nb) * {_SCALE} AS DOUBLE) AS est_raw
  FROM (
    SELECT SUM(1::BIGINT << ({REST_BITS + 1} - m)) AS s_present,
           COUNT(*) AS nb
    FROM (
      SELECT h & {M_BUCKETS - 1} AS bucket,
             MAX(CASE WHEN h >> 8 = 0 THEN {REST_BITS + 1}
                      ELSE {REST_BITS + 1} - length(bin(h >> 8)) END) AS m
      FROM (SELECT CAST(concat('0x', substr(md5(CAST({col} AS VARCHAR)), 1, 13))
                     AS BIGINT) AS h
            FROM {table})
      GROUP BY bucket
    )
  )
)
"""


_HLL_SQL = "\nUNION ALL\n".join(_hll_one_sql(t, c) for t, c in _TARGETS)


def hll_registers(ev: DataFrame) -> DataFrame:
    """(event_type, v) → (event_type, bucket, m) HLL registers. A plain
    max-aggregate, so it works identically on a bounded frame or a
    STREAMING one — the register table is merge-able state hard-capped
    at 256·|groups| rows no matter how long the stream runs."""
    h = F.conv(
        F.substring(F.md5(F.col("v").cast("string")), 1, 13), 16, 10
    ).cast("bigint")
    src = ev.select("event_type", h.alias("h"))
    rest = F.shiftright(F.col("h"), 8)
    rho = (
        F.when(rest == 0, F.lit(REST_BITS + 1))
        .otherwise(F.lit(REST_BITS + 1) - F.length(F.bin(rest)))
        .cast("int")
    )
    return (
        src.select(
            "event_type",
            F.col("h").bitwiseAND(F.lit(M_BUCKETS - 1)).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m"))
    )


def hll_grouped_estimate(regs: DataFrame) -> DataFrame:
    """(event_type, bucket, m) registers → (event_type, n_hll)
    estimates — the read-off step, shared by the batch and streaming
    forms."""
    reg_agg = regs.groupBy("event_type").agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {REST_BITS + 1} - m)")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("nb"),
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
    denom = (
        F.col("s_present")
        + (F.lit(M_BUCKETS).cast("bigint") - F.col("nb")) * F.lit(_SCALE)
    ).cast("double")
    est_raw = (
        alpha
        * F.lit(float(M_BUCKETS * M_BUCKETS))
        * F.lit(float(_SCALE))
        / denom
    )
    zeros = (F.lit(M_BUCKETS) - F.col("nb")).cast("int")
    est_linear = F.lit(float(M_BUCKETS)) * F.element_at(
        F.array(*[F.lit(v) for v in _LN_TABLE]), zeros
    )
    est = F.when(
        (est_raw <= F.lit(2.5 * M_BUCKETS)) & (zeros > 0), est_linear
    ).otherwise(est_raw)
    return reg_agg.select("event_type", est.alias("n_hll"))


def sketch_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL: distinct users per event type, one 256-register
    sketch PER KEY — the per-key form every rollup dashboard needs
    (distinct users per day/type/country) where a global sketch can't
    answer. Registers key on (event_type, bucket): partial aggregation
    collapses each executor to ≤ 256·|groups| rows pre-shuffle, so at
    100 TB the wire carries sketch cells, not users. The exact count
    rides alongside for the oracle's ±6.5 % certification (and because
    groups are merge-able, rolling these sketches further up — type →
    all — is a max over registers, never a rescan)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").alias("v")
    )
    regs = hll_registers(ev)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("v").alias("n_exact")
    )
    return exact.join(
        F.broadcast(hll_grouped_estimate(regs)), "event_type"
    ).select("event_type", "n_exact", "n_hll")


def _hll_grouped_sql() -> str:
    ln_list = ", ".join(
        repr(v) if "e" in repr(v) else repr(v) + "e0" for v in _LN_TABLE
    )
    return f"""
WITH src AS (
  SELECT event_type, user_id AS v,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
              AS BIGINT) AS h
  FROM events
), regs AS (
  SELECT event_type, h & {M_BUCKETS - 1} AS bucket,
         MAX(CASE WHEN h >> 8 = 0 THEN {REST_BITS + 1}
                  ELSE {REST_BITS + 1} - length(bin(h >> 8)) END) AS m
  FROM src GROUP BY event_type, bucket
), reg_agg AS (
  SELECT event_type, SUM(1::BIGINT << ({REST_BITS + 1} - m)) AS s_present,
         COUNT(*) AS nb
  FROM regs GROUP BY event_type
), exact AS (
  SELECT event_type, COUNT(DISTINCT v) AS n_exact FROM src GROUP BY event_type
), est AS (
  SELECT event_type, nb,
         (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
           * CAST(65536.0 AS DOUBLE) * CAST({float(_SCALE)!r} AS DOUBLE)
           / CAST(s_present + (256 - nb) * {_SCALE} AS DOUBLE) AS est_raw
  FROM reg_agg
)
SELECT exact.event_type, n_exact,
       CASE WHEN est_raw <= {2.5 * M_BUCKETS!r} AND (256 - nb) > 0
            THEN CAST({float(M_BUCKETS)!r} AS DOUBLE)
                   * list_extract([{ln_list}], 256 - nb)
            ELSE est_raw END AS n_hll
FROM exact JOIN est USING (event_type)
"""


# ---------------------------------------------------------------------------
# Count-Min heavy hitters
# ---------------------------------------------------------------------------

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 256  # buckets per row — 4×256 bigint cells ≈ 8 KB total
CMS_TOPK = 10


def _cms_bucket(j: int, v) -> "F.Column":
    return hash60(F.md5(F.concat_ws(":", F.lit(str(j)), v))) % CMS_WIDTH


def sketch_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a deterministic Count-Min sketch (Cormode &
    Muthukrishnan): depth-{CMS_DEPTH} md5-derived hash rows ×
    {CMS_WIDTH} buckets, estimate = min over rows of the bucket sum,
    reported for the top-{CMS_TOPK} users next to their exact counts
    (CMS only ever over-counts; the test asserts that invariant).

    Scale shape: the sketch build is one partial-aggregable groupBy on
    (row, bucket) — every executor collapses to ≤{CMS_DEPTH}×{CMS_WIDTH}
    cells before the shuffle, and the finished ~8 KB sketch broadcasts
    back onto the (much smaller) distinct-key side for the estimate
    join. Frequency estimation over 100 TB of events therefore moves
    kilobytes, not rows — same engineering profile as
    ``snap_bloom_prefilter``. Exact counts ride along here only because
    the oracle certifies est ≥ exact; a production probe drops them."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("v"), "user_id"
    )
    return cms_rank_heavy_hitters(cms_cells(ev), ev)


def _cms_cell_structs(v) -> "F.Column":
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), _cms_bucket(j, v).alias("bucket")
            )
            for j in range(CMS_DEPTH)
        ]
    )


def cms_cells(ev: DataFrame) -> DataFrame:
    """(v, …) → (j, bucket, cnt) sketch cells. Works identically on a
    bounded frame or a streaming one (streaming groupBy keeps the
    running cell counts — the sketch IS the state)."""
    return (
        ev.select(F.explode_outer(_cms_cell_structs(F.col("v"))).alias("c"))
        .groupBy(F.col("c.j").alias("j"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_rank_heavy_hitters(cells: DataFrame, ev: DataFrame) -> DataFrame:
    """Probe the (possibly stream-built) cell table with the distinct
    keys of ``ev`` and rank the top-{CMS_TOPK} by CMS estimate."""
    keys = ev.groupBy("user_id", "v").agg(F.count(F.lit(1)).alias("n_exact"))
    probes = keys.select(
        "user_id",
        "n_exact",
        F.explode_outer(_cms_cell_structs(F.col("v"))).alias("c"),
    ).select("user_id", "n_exact", "c.j", "c.bucket")
    est = (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("n_cms"))
    )
    from pyspark.sql import Window

    # round 10: single global window kept — planned as
    # TakeOrderedAndProject by Spark 4.1's rank-limit pushdown
    w = Window.orderBy(F.desc("n_cms"), F.asc("user_id"))
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CMS_TOPK)
        .select(
            "rank",
            "user_id",
            "n_exact",
            "n_cms",
            (F.col("n_cms") - F.col("n_exact")).alias("overcount"),
        )
    )


def _cms_sql() -> str:
    def bucket(j: int, v: str) -> str:
        key = f"concat('{j}', ':', {v})"
        return f"{sql_md5_int60(key)} % {CMS_WIDTH}"

    cell_selects = "\nUNION ALL\n".join(
        f"SELECT {j} AS j, {bucket(j, 'v')} AS bucket FROM ev"
        for j in range(CMS_DEPTH)
    )
    probe_selects = "\nUNION ALL\n".join(
        f"SELECT user_id, n_exact, {j} AS j, {bucket(j, 'v')} AS bucket"
        " FROM keys"
        for j in range(CMS_DEPTH)
    )
    return f"""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS v, user_id FROM events),
cells AS (
  SELECT j, bucket, COUNT(*) AS cnt
  FROM ({cell_selects})
  GROUP BY j, bucket
),
keys AS (SELECT user_id, v, COUNT(*) AS n_exact FROM ev GROUP BY user_id, v),
probes AS ({probe_selects}),
est AS (
  SELECT user_id, n_exact, MIN(cnt) AS n_cms
  FROM probes JOIN cells USING (j, bucket)
  GROUP BY user_id, n_exact
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_cms DESC, user_id) AS INT) AS rank,
       user_id, n_exact, n_cms, n_cms - n_exact AS overcount
FROM est
QUALIFY rank <= {CMS_TOPK}
"""


# ---------------------------------------------------------------------------
# histogram quantiles
# ---------------------------------------------------------------------------

HIST_BUCKETS = 256
QUANTILES = [0.5, 0.9, 0.99]


def sketch_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantile estimation without a global sort: two cheap
    passes — (min, max, count), then a {HIST_BUCKETS}-bucket equi-width
    histogram — and the p50/p90/p99 of ``events.value`` read off the
    cumulative histogram (estimate = bucket upper edge where the
    running count first reaches ceil(q·n)). The exact rank-statistic
    value rides alongside so the oracle certifies the bound
    |est − exact| ≤ one bucket width.

    Why not ``approx_percentile``: like approx_count_distinct, its
    sketch is engine-private and irreproducible across engines. This
    one is the same partial-aggregable profile (every executor
    collapses to ≤{HIST_BUCKETS} cells pre-shuffle; the exact-rank
    column exists only for certification — a production probe drops it
    and with it the only sort)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("value").cast("double").alias("v")
    )
    stats = ev.agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.count(F.lit(1)).alias("n"),
    )
    bucket = F.least(
        F.floor(
            ((F.col("v") - F.col("vmin")) / (F.col("vmax") - F.col("vmin")))
            * F.lit(float(HIST_BUCKETS))
        ).cast("bigint"),
        F.lit(HIST_BUCKETS - 1).cast("bigint"),
    )
    hist = (
        ev.crossJoin(F.broadcast(stats))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    cum = hist.select(
        "bucket",
        F.sum("cnt").over(Window.orderBy("bucket")).alias("c"),
    )
    targets = (
        stats.select(
            "vmin",
            "vmax",
            "n",
            F.explode_outer(
                F.array(*[F.lit(q) for q in QUANTILES])
            ).alias("q"),
        )
        .withColumn("tgt", F.ceil(F.col("q") * F.col("n")).cast("bigint"))
    )
    est = (
        targets.join(F.broadcast(cum), F.col("c") >= F.col("tgt"))
        .groupBy("q", "tgt", "n", "vmin", "vmax")
        .agg(F.min("bucket").alias("est_bucket"))
    )
    ranked = ev.select(
        "v",
        F.row_number()
        .over(Window.orderBy("v", "event_id"))
        .alias("rn"),
    )
    return (
        est.join(ranked, F.col("rn") == F.col("tgt"))
        .select(
            "q",
            "n",
            F.col("v").alias("exact_value"),
            (
                F.col("vmin")
                + (F.col("est_bucket") + 1).cast("double")
                * ((F.col("vmax") - F.col("vmin")) / F.lit(float(HIST_BUCKETS)))
            ).alias("est_value"),
            F.col("est_bucket").cast("int").alias("est_bucket"),
        )
    )


_HIST_QUANTILE_SQL = f"""
WITH ev AS (SELECT event_id, CAST(value AS DOUBLE) AS v FROM events),
stats AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax, COUNT(*) AS n FROM ev),
hist AS (
  SELECT LEAST(CAST(floor(((v - vmin) / (vmax - vmin))
                          * {float(HIST_BUCKETS)!r}) AS BIGINT),
               {HIST_BUCKETS - 1}) AS bucket,
         COUNT(*) AS cnt
  FROM ev, stats GROUP BY 1
),
cum AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS c FROM hist),
targets AS (
  SELECT q, CAST(ceil(q * n) AS BIGINT) AS tgt, n, vmin, vmax
  FROM stats, (SELECT UNNEST([{", ".join(f"CAST({q} AS DOUBLE)" for q in QUANTILES)}]) AS q)
),
est AS (
  SELECT q, tgt, n, vmin, vmax, MIN(bucket) AS est_bucket
  FROM targets JOIN cum ON c >= tgt
  GROUP BY q, tgt, n, vmin, vmax
),
ranked AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v, event_id) AS rn FROM ev)
SELECT q, n, r.v AS exact_value,
       vmin + CAST(est_bucket + 1 AS DOUBLE)
              * ((vmax - vmin) / {float(HIST_BUCKETS)!r}) AS est_value,
       CAST(est_bucket AS INT) AS est_bucket
FROM est JOIN ranked r ON r.rn = est.tgt
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) set-operation sketch
# ---------------------------------------------------------------------------

KMV_K = 64  # sketch size; relative error ~ 1/sqrt(K-2) ≈ 13 %
KMV_SPACE = float(1 << 60)  # md5_int60 hash space


def _kmv_sketch(df: DataFrame, k: int = KMV_K) -> DataFrame:
    """Distinct md5-hash values, k smallest — ORDER BY h LIMIT k runs
    as TakeOrdered (per-partition top-k, then top-k of the k·P
    candidates), so the sketch of 100 TB never sorts globally."""
    return df.orderBy("h").limit(k)


def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation cardinality from KMV sketches (Beyer et al.):
    estimate |A|, |B|, and |A∩B| for A = users who clicked, B = users
    who purchased, from two {KMV_K}-minimum-value sketches — the
    audience-overlap / cross-snapshot-drift question answered by
    exchanging ~1 KB per side instead of re-shuffling user sets.

    Estimators: |S| ≈ (k−1)·H/h_k when the sketch is full (else the
    sketch IS the set and the count is exact); the union sketch is the
    k smallest of the merged sketches; |A∩B| ≈ (matches in union
    sketch / |union sketch|) · |A∪B|-estimate. Everything up to the
    final division is exact integer arithmetic on md5 hashes, so both
    engines land on identical doubles. Exact counts ride along as the
    oracle's certificate (the test asserts ≤ 35 % relative error)."""
    ev = load_table(spark, sf_dir, "events")

    def side(t: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == t)
            .select(hash60(F.md5(F.col("user_id").cast("string"))).alias("h"))
            .distinct()
        )

    a, b = side("click"), side("purchase")
    ka, kb = _kmv_sketch(a), _kmv_sketch(b)
    ku = _kmv_sketch(ka.unionByName(kb).distinct())

    def est(sk: DataFrame, tag: str) -> DataFrame:
        return sk.agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.max("h").alias(f"hk_{tag}"),
        ).select(
            F.col(f"n_{tag}"),
            F.when(
                F.col(f"n_{tag}") < KMV_K,
                F.col(f"n_{tag}").cast("double"),
            )
            .otherwise(
                F.lit(float(KMV_K - 1))
                * F.lit(KMV_SPACE)
                / F.col(f"hk_{tag}").cast("double")
            )
            .alias(f"est_{tag}"),
        )

    inter_matches = ku.join(ka, "h").join(kb, "h").agg(
        F.count(F.lit(1)).alias("n_match")
    )
    exact = (
        a.agg(F.count(F.lit(1)).alias("exact_a"))
        .crossJoin(b.agg(F.count(F.lit(1)).alias("exact_b")))
        .crossJoin(a.join(b, "h").agg(F.count(F.lit(1)).alias("exact_inter")))
    )
    return (
        est(ka, "a")
        .crossJoin(est(kb, "b"))
        .crossJoin(est(ku, "u"))
        .crossJoin(inter_matches)
        .crossJoin(exact)
        .select(
            "exact_a",
            "exact_b",
            "exact_inter",
            "est_a",
            "est_b",
            (
                F.col("n_match").cast("double")
                / F.col("n_u").cast("double")
                * F.col("est_u")
            ).alias("est_inter"),
            F.col("n_match"),
        )
    )


def _kmv_sql() -> str:
    h = sql_md5_int60("CAST(user_id AS VARCHAR)")
    return f"""
WITH a AS (SELECT DISTINCT {h} AS h FROM events WHERE event_type = 'click'),
b AS (SELECT DISTINCT {h} AS h FROM events WHERE event_type = 'purchase'),
ka AS (SELECT h FROM a ORDER BY h LIMIT {KMV_K}),
kb AS (SELECT h FROM b ORDER BY h LIMIT {KMV_K}),
ku AS (SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb))
       ORDER BY h LIMIT {KMV_K}),
ea AS (SELECT COUNT(*) AS n_a, MAX(h) AS hk_a FROM ka),
eb AS (SELECT COUNT(*) AS n_b, MAX(h) AS hk_b FROM kb),
eu AS (SELECT COUNT(*) AS n_u, MAX(h) AS hk_u FROM ku),
m AS (SELECT COUNT(*) AS n_match
      FROM ku JOIN ka USING (h) JOIN kb USING (h)),
ex AS (SELECT (SELECT COUNT(*) FROM a) AS exact_a,
              (SELECT COUNT(*) FROM b) AS exact_b,
              (SELECT COUNT(*) FROM a JOIN b USING (h)) AS exact_inter)
SELECT exact_a, exact_b, exact_inter,
       CASE WHEN n_a < {KMV_K} THEN CAST(n_a AS DOUBLE)
            ELSE {float(KMV_K - 1)!r} * {KMV_SPACE!r} / CAST(hk_a AS DOUBLE)
       END AS est_a,
       CASE WHEN n_b < {KMV_K} THEN CAST(n_b AS DOUBLE)
            ELSE {float(KMV_K - 1)!r} * {KMV_SPACE!r} / CAST(hk_b AS DOUBLE)
       END AS est_b,
       CAST(n_match AS DOUBLE) / CAST(n_u AS DOUBLE)
         * (CASE WHEN n_u < {KMV_K} THEN CAST(n_u AS DOUBLE)
                 ELSE {float(KMV_K - 1)!r} * {KMV_SPACE!r} / CAST(hk_u AS DOUBLE)
            END) AS est_inter,
       n_match
FROM ea, eb, eu, m, ex
"""


QUERIES = {
    "sketch_kmv_intersection": sketch_kmv_intersection,
    "sketch_hll_distinct": sketch_hll_distinct,
    "sketch_hll_grouped": sketch_hll_grouped,
    "sketch_cms_topk": sketch_cms_topk,
    "sketch_hist_quantile": sketch_hist_quantile,
}
ORACLES = {
    "sketch_kmv_intersection": _kmv_sql(),
    "sketch_hll_distinct": _HLL_SQL,
    "sketch_hll_grouped": _hll_grouped_sql(),
    "sketch_cms_topk": _cms_sql(),
    "sketch_hist_quantile": _HIST_QUANTILE_SQL,
}
