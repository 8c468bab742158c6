"""Operational diagnostics (SURVEY.md §2B adjunct): the two questions a
pipeline operator asks before a big run — "is my join key skewed?" and
"are these values sane?" — as oracle-checked plans.

Both follow the engine's numeric rules (SURVEY.md §4): counts and sums
aggregate exactly (bigint / decimal), doubles appear only as final casts
of identical expressions on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
    load_table,
    local_frame,
)

TOP_HEAVY = 5


def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report for lineitem.l_suppkey: per-key counts
    reduced to the distribution facts that decide a salting/AQE
    strategy — key cardinality, mean and max per-key count, and the
    share held by the TOP_HEAVY heaviest keys. Two aggregations, the
    second over one row per distinct key."""
    from pyspark.sql import Window

    line = load_table(spark, sf_dir, "lineitem")
    per_key = line.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # Round 10: the old form ranked EVERY distinct key in a
    # partition-less window (the rank fed aggregate CASE conditions,
    # so the rank-limit pushdown could not fire — a one-task sort of
    # the whole key set). Restructured: the distribution totals ride a
    # map-side-combined 1-row aggregate, and the top-{TOP_HEAVY} sum
    # is a plain rank ≤ k pick that Spark 4.1 now plans as
    # TakeOrderedAndProject (map-side local top-k per task).
    totals = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("l_suppkey"))
    topsum = (
        per_key.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_HEAVY)
        .agg(F.sum("cnt").alias("top_cnt"))
    )
    return totals.crossJoin(F.broadcast(topsum)).select(
        "n_keys",
        "n_rows",
        "max_cnt",
        (F.col("n_rows").cast("double") / F.col("n_keys")).alias("avg_cnt"),
        (
            F.col("top_cnt").cast("double") / F.col("n_rows").cast("double")
        ).alias("top5_share"),
        (
            F.col("max_cnt").cast("double")
            / (F.col("n_rows").cast("double") / F.col("n_keys"))
        ).alias("skew_factor"),
    )


_DIAG_SKEW_SQL = f"""
WITH per_key AS (
  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
), ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, l_suppkey) AS rnk
  FROM per_key
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       MAX(cnt) AS max_cnt,
       CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS avg_cnt,
       CAST(SUM(CASE WHEN rnk <= {TOP_HEAVY} THEN cnt ELSE 0 END) AS DOUBLE)
         / CAST(SUM(cnt) AS DOUBLE) AS top5_share,
       CAST(MAX(cnt) AS DOUBLE)
         / (CAST(SUM(cnt) AS DOUBLE) / COUNT(*)) AS skew_factor
FROM ranked
"""


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 3-sigma outlier counts. Mean and variance derive
    from EXACT decimal Σx and Σx² (shuffle-order independent), so the
    double-precision mean/std — and therefore each row's outlier
    verdict — are bit-identical on every engine and every cluster
    layout. One scan for moments, one broadcast-back scan to flag."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # scale 3, not 6: Σx² at scale 12 exceeds 2^53 unscaled by sf0.01 and
    # DuckDB's decimal→double then double-rounds (1-ulp mismatch); at
    # scale 6 the sum stays exactly double-representable through sf1+
    xd = F.col("value").cast("decimal(18,3)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(xd).alias("sum_x"),
        F.sum(xd * xd).alias("sum_x2"),
    )
    mean = F.col("sum_x").cast("double") / F.col("n_events")
    var = F.greatest(
        F.col("sum_x2").cast("double") / F.col("n_events") - mean * mean,
        F.lit(0.0),
    )
    moments = stats.select(
        "event_type",
        "n_events",
        mean.alias("mean_value"),
        F.sqrt(var).alias("std_value"),
    )
    flagged = ev.join(F.broadcast(moments), "event_type").filter(
        F.abs(F.col("value") - F.col("mean_value"))
        > F.lit(3.0) * F.col("std_value")
    )
    anomalies = flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_anomalies")
    )
    return (
        moments.join(anomalies, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            "mean_value",
            "std_value",
            F.coalesce(F.col("n_anomalies"), F.lit(0).cast("bigint")).alias(
                "n_anomalies"
            ),
        )
    )


_ANOMALY_SQL = """
WITH stats AS (
  SELECT event_type, COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(18,3))) AS sum_x,
         SUM(CAST(value AS DECIMAL(18,3)) * CAST(value AS DECIMAL(18,3)))
           AS sum_x2
  FROM events GROUP BY event_type
), moments AS (
  SELECT event_type, n_events,
         CAST(sum_x AS DOUBLE) / n_events AS mean_value,
         sqrt(greatest(
           CAST(sum_x2 AS DOUBLE) / n_events
             - (CAST(sum_x AS DOUBLE) / n_events)
               * (CAST(sum_x AS DOUBLE) / n_events),
           0.0)) AS std_value
  FROM stats
), anomalies AS (
  SELECT e.event_type, COUNT(*) AS n_anomalies
  FROM events e JOIN moments m USING (event_type)
  WHERE abs(e.value - m.mean_value) > 3.0 * m.std_value
  GROUP BY e.event_type
)
SELECT event_type, n_events, mean_value, std_value,
       CAST(coalesce(n_anomalies, 0) AS BIGINT) AS n_anomalies
FROM moments LEFT JOIN anomalies USING (event_type)
"""


def diag_plan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-audit of optimizer-visible plan properties on headline
    queries — the checks a perf reviewer makes with .explain, as data:
    did the filter reach the parquet scan, did the dims broadcast, did
    any join degrade to a nested loop. The same assertions run as CI
    plan guards (tests/test_plans.py); this entry makes them
    driver-visible. Rows-only: plans are engine-specific by nature."""
    import io
    from contextlib import redirect_stdout

    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        snap_incr_watermark,
    )
    from blog_snapshotbackup_azuredatalake_spark.plans.analytics import (
        q3_shipping_priority,
        q6_forecast_revenue,
    )

    def plan_of(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    checks = []
    p6 = plan_of(q6_forecast_revenue(spark, sf_dir))
    checks.append(
        ("q6_forecast_revenue", "filter_pushed_to_scan",
         "PushedFilters: [" in p6 and "GreaterThan" in p6)
    )
    p3 = plan_of(q3_shipping_priority(spark, sf_dir))
    checks.append(
        ("q3_shipping_priority", "dims_broadcast",
         "BroadcastHashJoin" in p3)
    )
    checks.append(
        ("q3_shipping_priority", "no_nested_loop_join",
         "BroadcastNestedLoopJoin" not in p3)
    )
    pw = plan_of(snap_incr_watermark(spark, sf_dir))
    checks.append(
        ("snap_incr_watermark", "watermark_bound_pushed",
         "GreaterThan(ts" in pw)
    )
    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        ann_topk_ivf,
        emb_pq_adc,
    )
    from blog_snapshotbackup_azuredatalake_spark.operators.text import (
        text_ngram_lm,
    )

    pivf = plan_of(ann_topk_ivf(spark, sf_dir))
    checks.append(
        ("ann_topk_ivf", "coarse_assign_is_map_only",
         "MapInArrow" in pivf and "SortMergeJoin" not in pivf)
    )
    # the encode, the ADC sums and the shortlist run in one Arrow batch
    # scan of the corpus, with the query tables in its closure: no
    # cartesian product and no join of any kind
    ppq = plan_of(emb_pq_adc(spark, sf_dir))
    checks.append(
        ("emb_pq_adc", "pq_scan_arrow_batches",
         "MapInArrow" in ppq and "CartesianProduct" not in ppq
         and "Join" not in ppq)
    )
    # the score pass scans Arrow batches of the text with the collected
    # model in its closure: no exploded token stream, no join
    plm = plan_of(text_ngram_lm(spark, sf_dir))
    checks.append(
        ("text_ngram_lm", "lm_scores_scan_arrow_batches",
         "MapInArrow" in plm and "Generate" not in plm
         and "SortMergeJoin" not in plm)
    )
    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        ann_topk_ivfpq,
    )

    pvq = plan_of(ann_topk_ivfpq(spark, sf_dir))
    checks.append(
        ("ann_topk_ivfpq", "probe_scan_arrow_batches",
         "MapInArrow" in pvq and "CartesianProduct" not in pvq
         and "Join" not in pvq)
    )
    from blog_snapshotbackup_azuredatalake_spark.plans.analytics_ext import (
        q_forecast_seasonal_naive,
    )

    # one scan NODE: "Scan parquet" prints once in the plan tree and
    # once in the per-node detail section, so a single-scan plan
    # contains the string exactly twice.
    psn = plan_of(q_forecast_seasonal_naive(spark, sf_dir))
    checks.append(
        ("q_forecast_seasonal_naive", "single_events_scan",
         psn.count("Scan parquet") == 2)
    )
    return local_frame(
        spark,
        checks, "query string, plan_property string, ok boolean"
    )


def diag_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observation-API piggyback metrics: attach input-side counters
    (row count, decimal-exact quantity mass, filter survivors) to a
    production aggregation and harvest them from the SAME action — at
    100 TB the difference between `df.observe(...)` and a separate
    audit query is a second full scan of the lake. The returned row
    carries both the query result and its observed input metrics, so
    the oracle cross-checks that the observed numbers equal what SQL
    computes from the source — i.e. the metrics really describe the
    pass that produced the answer."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("decimal(12,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
        F.col("l_discount").cast("decimal(12,2)").alias("disc"),
    )
    obs = Observation("input_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_input_rows"),
        F.sum("qty").alias("qty_mass"),
        F.sum((F.col("disc") > 0.05).cast("long")).alias("n_discounted"),
    )
    result = observed.groupBy().agg(
        F.round(F.sum(F.expr("price * (1 - disc)")), 2)
        .cast("double")
        .alias("net_revenue")
    )
    row = result.collect()[0]  # the ONE action both result and metrics ride
    m = obs.get
    return local_frame(
        spark,
        [
            (
                m["n_input_rows"],
                float(m["qty_mass"]),
                m["n_discounted"],
                row["net_revenue"],
            )
        ],
        "n_input_rows bigint, qty_mass double, n_discounted bigint,"
        " net_revenue double",
    )


_DIAG_OBSERVE_SQL = """
SELECT COUNT(*) AS n_input_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_mass,
       CAST(SUM(CASE WHEN CAST(l_discount AS DECIMAL(12,2)) > 0.05
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2)
            AS DOUBLE) AS net_revenue
FROM lineitem
"""


QUERIES = {
    "diag_plan_audit": diag_plan_audit,
    "diag_key_skew": diag_key_skew,
    "diag_observe_metrics": diag_observe_metrics,
    "q_events_anomaly": q_events_anomaly,
}

ORACLES = {
    "diag_key_skew": _DIAG_SKEW_SQL,
    "diag_observe_metrics": _DIAG_OBSERVE_SQL,
    "q_events_anomaly": _ANOMALY_SQL,
}
