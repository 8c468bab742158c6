"""Driver-facing wrappers for the streaming operators (SURVEY.md §2A/§2D).

Each wrapper drives a real Structured Streaming query to completion
against the sf-dir's tables and returns the drained result as a bounded
DataFrame whose content is deterministic for a given sf dir. Because
the drains are bounded and deterministic, most entries carry full SQL
oracles (see the ORACLES note below) — the driver gate value-checks
real streaming semantics (watermark eviction, sketch-state merges,
sessionization timeouts), not just row counts. Only entries whose
result is filesystem state remain rows-only.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.scratch import scratch_dir
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
    load_table,
    local_frame,
)
from blog_snapshotbackup_azuredatalake_spark.streaming.incremental import (
    dedup_events_stream,
    incremental_sync,
    run_windowed_stream,
)
from blog_snapshotbackup_azuredatalake_spark.streaming.sessions import (
    sessionize_stream,
)


DEMO_STATE_PARTITIONS = 8
# one state partition per this many input rows (capped at the session's
# shuffle parallelism): per-partition fixed cost dominates small drains,
# Python-stage parallelism dominates big ones
_ROWS_PER_STATE_PARTITION = 50_000


@contextmanager
def demo_state_partitions(
    spark: SparkSession,
    n: int = DEMO_STATE_PARTITIONS,
    rows: int | None = None,
):
    """Scope a stateful demo stream to a right-sized state-store
    partition count.

    A streaming state store spins up shuffle-partition-many state tasks
    (each a checkpoint dir + an Arrow/Python round trip for
    applyInPandasWithState) EVERY micro-batch, and the count is frozen
    into the checkpoint at first start. For bounded single-node drains
    the per-partition fixed cost dominates (measured 11 s → 4 s on
    sessionize at sf0.1 going 32 → 8) — but a large drain starves on
    too-few Python workers, so when ``rows`` is passed the count scales
    with input size up to the session's parallelism. A real deployment
    sizes this to its key cardinality ONCE at stream birth — it cannot
    be changed later without a checkpoint migration, which is why it's
    a scoped conf here and not a session-wide setting."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    if rows is not None:
        n = max(n, rows // _ROWS_PER_STATE_PARTITION)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(min(int(old), n))
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def stream_incr_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once file-source incremental sync of `events` into a
    scratch backup dir; returns the synced rows (count must equal the
    source count — the rows-only invariant)."""
    events = load_table(spark, sf_dir, "events")
    work = scratch_dir("stream_incr_sync_")
    src, dst, ckpt = f"{work}/landing", f"{work}/backup", f"{work}/ckpt"
    events.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    incremental_sync(spark, src, dst, ckpt, events.schema)
    # idempotence: a second catch-up run appends nothing
    incremental_sync(spark, src, dst, ckpt, events.schema)
    return spark.read.parquet(dst)


def stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window event counts, driven as a real stream
    into an in-memory sink."""
    events = load_table(spark, sf_dir, "events")
    work = scratch_dir("stream_windowed_")
    src = f"{work}/events_src"
    events.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    name = f"wc_{uuid.uuid4().hex[:8]}"
    with demo_state_partitions(spark):
        sink = run_windowed_stream(
            spark, src, f"{work}/ckpt", events.schema, name
        )
    # window bounds as epoch-micros BIGINTs: integer-exact on both
    # engines (a raw timestamp column would compare at different
    # precisions — Spark micros vs DuckDB nanos)
    return sink.select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "event_type",
        "n_events",
        "total_value",
    )


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization via applyInPandasWithState; emits every
    session closed within the drained stream (open sessions stay in
    state — deterministic for a bounded input)."""
    from blog_snapshotbackup_azuredatalake_spark.session import (
        ensure_package_on_workers,
    )

    ensure_package_on_workers(spark)  # sessionizer UDF unpickles on workers
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("ts_us")
    )
    work = scratch_dir("stream_sessionize_")
    src = f"{work}/events_src"
    n_rows = events.count()
    events.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    # no availableNow: stateful timeouts keep scheduling batches under it
    # and awaitTermination never returns; drain + stop instead.
    with demo_state_partitions(spark, rows=n_rows):
        q = (
            sessionize_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name)


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup: feed every event TWICE (an
    at-least-once upstream), drain, and return the deduped rows — the
    rows-only invariant is count == distinct event count."""
    events = load_table(spark, sf_dir, "events")
    doubled = events.unionAll(events)
    work = scratch_dir("stream_dedup_")
    src = f"{work}/events_src"
    doubled.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    stream = spark.readStream.schema(doubled.schema).parquet(src)
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    with demo_state_partitions(spark):
        q = (
            dedup_events_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name)


def stream_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch maintained BY the stream: the running cell
    counts are the streaming aggregation state (hard-capped at
    CMS_DEPTH×CMS_WIDTH cells — sketch-sized state no matter how long
    the stream runs), drained in complete mode, then probed with the
    same ranking as the batch ``sketch_cms_topk``. The test asserts the
    drained-stream sketch is IDENTICAL to the batch sketch — the
    mergeability property that makes CMS safe to maintain
    incrementally."""
    from blog_snapshotbackup_azuredatalake_spark.operators.sketch import (
        cms_cells,
        cms_rank_heavy_hitters,
    )

    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("v"), "user_id"
    )
    work = scratch_dir("stream_cms_")
    src = f"{work}/events_src"
    events.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    name = f"cms_{uuid.uuid4().hex[:8]}"
    with demo_state_partitions(spark):
        q = (
            cms_cells(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return cms_rank_heavy_hitters(spark.table(name), events)


def stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream broadcast-joins a
    static dimension (first-seen timestamp per user, computed batch-side)
    inside every micro-batch — the standard pattern for decorating a
    CDC/event stream with slowly-changing reference data. The static
    side broadcasts, so the stream is never shuffled and no streaming
    state is kept (unlike stream-stream joins). Rows-only invariant:
    every event survives with a non-negative age."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.expr("ts div 1000").alias("ts_us"),
        "event_type",
    )
    dim = events.groupBy("user_id").agg(
        F.min("ts_us").alias("first_seen_us")
    )
    work = scratch_dir("stream_enrich_")
    src = f"{work}/events_src"
    events.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("ts_us") - F.col("first_seen_us")).alias("age_us"),
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_enrich_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static SCD2 enrichment: each event joins the dimension
    VERSION valid at its event time (user_id equality + validity-window
    range predicate), not the latest version — the correctness
    difference between an as-of join and stream_enrich_static's plain
    lookup. The SCD2 dim is deterministic (two versions per user,
    split at the midpoint of the user's activity span; bronze→silver
    tier change). The dim broadcasts, so the range predicate is
    evaluated map-side inside each micro-batch and the stream never
    shuffles; no streaming state (stream-static joins keep none).
    SQL-oracled: availableNow drain ≡ the batch as-of join."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.expr("ts div 1000").alias("ts_us")
    )
    # integer div, not /2-then-cast: Spark's double->bigint cast
    # truncates while DuckDB's CAST rounds (SURVEY #4)
    span = events.groupBy("user_id").agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2")
        .cast("bigint")
        .alias("mid_us")
    )
    big = F.lit(1 << 62).cast("bigint")
    dim = span.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("dim_version"),
                    F.lit("bronze").alias("tier"),
                    F.lit(0).cast("bigint").alias("valid_from"),
                    F.col("mid_us").alias("valid_to"),
                ),
                F.struct(
                    F.lit(2).alias("dim_version"),
                    F.lit("silver").alias("tier"),
                    F.col("mid_us").alias("valid_from"),
                    big.alias("valid_to"),
                ),
            )
        ).alias("v"),
    ).select("user_id", "v.dim_version", "v.tier", "v.valid_from", "v.valid_to")
    work = scratch_dir("stream_scd2_")
    src = f"{work}/events_src"
    events.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    enriched = stream.join(
        F.broadcast(dim),
        (stream.user_id == dim.user_id)
        & (F.col("ts_us") >= F.col("valid_from"))
        & (F.col("ts_us") < F.col("valid_to")),
    ).select(
        "event_id",
        stream.user_id.alias("user_id"),
        F.col("dim_version").cast("int").alias("dim_version"),
        "tier",
    )
    name = f"scd2_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_STREAM_SCD2_SQL = """
WITH ev AS (
  SELECT event_id, user_id,
         CAST(epoch_ns(ts) // 1000 AS BIGINT) AS ts_us
  FROM events
), span AS (
  SELECT user_id,
         CAST((MIN(ts_us) + MAX(ts_us)) // 2 AS BIGINT) AS mid_us
  FROM ev GROUP BY user_id
), dim AS (
  SELECT user_id, 1 AS dim_version, 'bronze' AS tier,
         CAST(0 AS BIGINT) AS valid_from, mid_us AS valid_to FROM span
  UNION ALL
  SELECT user_id, 2, 'silver', mid_us,
         CAST(1 AS BIGINT) << 62 FROM span
)
SELECT e.event_id, e.user_id,
       CAST(d.dim_version AS INT) AS dim_version, d.tier
FROM ev e JOIN dim d
  ON e.user_id = d.user_id
 AND e.ts_us >= d.valid_from AND e.ts_us < d.valid_to
"""


def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-user HLL maintained BY the stream: the
    256-register-per-type table IS the streaming aggregation state
    (max-merge-able, hard-capped at 256·|types| cells for any stream
    length — the O(1)-state alternative to streaming countDistinct,
    whose state grows with the user set). Drained in complete mode,
    read off batch-side with the shared estimator; the test asserts the
    drained registers produce IDENTICAL estimates to the batch
    ``sketch_hll_grouped`` — the mergeability property that makes the
    sketch safe to maintain incrementally."""
    from blog_snapshotbackup_azuredatalake_spark.operators.sketch import (
        hll_grouped_estimate,
        hll_registers,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").alias("v")
    )
    work = scratch_dir("stream_hll_")
    src = f"{work}/events_src"
    events.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    name = f"hll_{uuid.uuid4().hex[:8]}"
    with demo_state_partitions(spark):
        q = (
            hll_registers(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    exact = events.groupBy("event_type").agg(
        F.count_distinct("v").alias("n_exact")
    )
    return exact.join(
        F.broadcast(hll_grouped_estimate(spark.table(name))), "event_type"
    ).select("event_type", "n_exact", "n_hll")


def stream_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile estimation: the {HIST_BUCKETS}-bucket
    equi-width histogram of `sketch_hist_quantile` maintained BY the
    stream — per-bucket counts are the ENTIRE aggregation state
    (≤{HIST_BUCKETS} cells for any stream length, sum-mergeable, the
    O(1)-state alternative to a streaming sort), complete mode, bucket
    edges fixed up front from calibration stats (here the batch
    min/max of the same table; in deployment, yesterday's — the
    standard streaming-histogram contract). The drained histogram is
    bit-identical to the batch one, so the p50/p90/p99 readoff —
    including the |est − exact| ≤ bucket-width certificate — reuses the
    batch oracle verbatim (the stream-maintained state certifying equal
    to the batch sketch, same policy as stream_hll/cms)."""
    from blog_snapshotbackup_azuredatalake_spark.operators.sketch import (
        HIST_BUCKETS,
        QUANTILES,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("value").cast("double").alias("v")
    )
    srow = ev.agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    ).collect()[0]
    vmin, vmax = float(srow["vmin"]), float(srow["vmax"])

    work = scratch_dir("stream_histq_")
    src = f"{work}/events_src"
    ev.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    # same arithmetic shape as the batch op, stats bound as literals
    bucket = F.least(
        F.floor(
            ((F.col("v") - F.lit(vmin)) / (F.lit(vmax) - F.lit(vmin)))
            * F.lit(float(HIST_BUCKETS))
        ).cast("bigint"),
        F.lit(HIST_BUCKETS - 1).cast("bigint"),
    )
    name = f"histq_{uuid.uuid4().hex[:8]}"
    with demo_state_partitions(spark):
        q = (
            stream.select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    hist = spark.table(name)

    from pyspark.sql import Window

    stats = ev.agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.count(F.lit(1)).alias("n"),
    )
    cum = hist.select(
        "bucket", F.sum("cnt").over(Window.orderBy("bucket")).alias("c")
    )
    targets = stats.select(
        "vmin",
        "vmax",
        "n",
        F.explode_outer(F.array(*[F.lit(qq) for qq in QUANTILES])).alias(
            "q"
        ),
    ).withColumn("tgt", F.ceil(F.col("q") * F.col("n")).cast("bigint"))
    est = (
        targets.join(F.broadcast(cum), F.col("c") >= F.col("tgt"))
        .groupBy("q", "tgt", "n", "vmin", "vmax")
        .agg(F.min("bucket").alias("est_bucket"))
    )
    ranked = ev.select(
        "v",
        F.row_number().over(Window.orderBy("v", "event_id")).alias("rn"),
    )
    return est.join(ranked, F.col("rn") == F.col("tgt")).select(
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


def stream_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental view maintenance: the CDC feed (snap_cdc's
    typed change stream) arrives as an unbounded stream and the
    per-priority (count, revenue) view is THE streaming aggregation
    state — |groups| cells of signed integer/decimal sums, complete
    mode, regardless of how long the feed runs. Drained, the maintained
    view is certified exactly equal to the aggregate recomputed
    directly on the final snapshot state — the streaming counterpart of
    the batch ``snap_ivm``, and the deployment shape where the backup
    pipeline keeps analytics views warm between snapshots instead of
    re-scanning the lake."""
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _cdc_feed,
        _ivm_certificate,
        _ivm_delta_aggs,
    )

    base, v2, feed = _cdc_feed(spark, sf_dir)
    feed = feed.select("change_type", "o_orderpriority", "o_totalprice")
    work = scratch_dir("stream_ivm_")
    src = f"{work}/feed_src"
    feed.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)

    stream = spark.readStream.schema(feed.schema).parquet(src)
    name = f"ivm_{uuid.uuid4().hex[:8]}"
    with demo_state_partitions(spark):
        q = (
            stream.groupBy("o_orderpriority")
            .agg(*_ivm_delta_aggs())
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return _ivm_certificate(base, spark.table(name), v2)


LATE_DELAY_US = 30 * 60 * 1_000_000  # watermark delay
LATE_WINDOW_US = 10 * 60 * 1_000_000  # tumbling window


def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, driven for real and certified:
    feed the event stream as THREE ordered micro-batches — the on-time
    prefix (ts ≤ t_split at the 3/4 point of the span), the fresh
    remainder, then a replay of clearly-old events (ts ≤ t_split −
    2·delay) — into a watermarked tumbling-window count in APPEND
    mode. By the replay batch the late windows' state has already been
    finalized and evicted, so Spark MUST drop the replays (re-emitting
    a finalized window would violate append mode); the entry asserts
    the drop really happened via the progress metrics
    (numRowsDroppedByWatermark > 0). Measured nuance that shaped this
    design: a late row arriving while its window state still lives is
    MERGED, not dropped (a two-batch feed showed replays counted,
    drops = 0) — lateness alone doesn't drop a row, eviction does.

    Batch order is deterministic: one file per batch
    (maxFilesPerTrigger=1), mtimes pinned with os.utime so the file
    source's (mtime, path) ordering cannot tie. That makes the
    emission SQL-derivable — dropped replays never count, and a window
    is emitted iff its end clears the final watermark (ms-floored
    global max minus the delay) — so the driver gate checks real
    streaming semantics, not just row counts."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.expr("ts div 1000").alias("ts_us")
    )
    lo, hi = events.agg(F.min("ts_us"), F.max("ts_us")).first()
    t_split = lo + (hi - lo) * 3 // 4
    on_time = events.filter(F.col("ts_us") <= t_split)
    fresh = events.filter(F.col("ts_us") > t_split)
    replay = events.filter(
        F.col("ts_us") <= t_split - 2 * LATE_DELAY_US
    ).withColumn("event_id", F.col("event_id") + F.lit(1_000_000_000))

    work = scratch_dir("stream_late_")
    src = f"{work}/src"
    os.makedirs(src)
    now = time.time()
    for sub, df, mtime in (
        ("b0", on_time, now - 180),
        ("b1", fresh, now - 120),
        ("b2", replay, now - 60),
    ):
        df.coalesce(1).write.parquet(f"{work}/{sub}")
        for f in os.listdir(f"{work}/{sub}"):
            if f.endswith(".parquet"):
                dst = f"{src}/{sub}_{f}"
                os.rename(f"{work}/{sub}/{f}", dst)
                os.utime(dst, (mtime, mtime))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withColumn(
            "event_time", F.timestamp_micros(F.col("ts_us"))
        )
        .withWatermark("event_time", "30 minutes")
        .groupBy(
            F.window("event_time", "10 minutes"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros("window.start").alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    with demo_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.processAllAvailable()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        q.stop()
    n_replay = replay.count()
    if n_replay and dropped == 0:
        raise AssertionError(
            f"late replays were not dropped ({n_replay} fed, 0 dropped)"
        )
    return spark.table(name)


# the oracle re-derives the drain, pinning the EXACT eviction-based
# drop rule (measured, not the folk "older than watermark" rule): a
# replay is dropped iff its window was already evicted when the replay
# arrived — eviction at the end of the fresh batch removes windows
# whose end ≤ wm1 (ms-floored max ON-TIME event time minus the delay).
# A replay whose window end > wm1 merges into the still-live state and
# counts (observed on sparse sf0.001 data, where the last on-time
# event sits well before t_split). Emission: window end ≤ the final
# watermark. Verified against the drained stream at sf0.001 and
# sf0.01.
_STREAM_LATE_DROP_SQL = f"""
WITH ev AS (
  SELECT event_type, (epoch_ns(ts) // 1000) AS ts_us FROM events
), bounds AS (
  SELECT MIN(ts_us) + (MAX(ts_us) - MIN(ts_us)) * 3 // 4 AS t_split
  FROM ev
), wm AS (
  SELECT (SELECT MAX(ts_us) FROM ev, bounds
          WHERE ts_us <= t_split) // 1000
           - {LATE_DELAY_US // 1000} AS wm1_ms,
         (SELECT MAX(ts_us) FROM ev) // 1000
           - {LATE_DELAY_US // 1000} AS wm_final_ms
), kept AS (
  SELECT ts_us, event_type FROM ev
  UNION ALL
  SELECT ts_us, event_type FROM ev, bounds, wm
  WHERE ts_us <= t_split - {2 * LATE_DELAY_US}
    AND ((ts_us // {LATE_WINDOW_US}) * {LATE_WINDOW_US}
         + {LATE_WINDOW_US}) // 1000 > wm1_ms
)
SELECT (ts_us // {LATE_WINDOW_US}) * {LATE_WINDOW_US} AS window_start_us,
       event_type, COUNT(*) AS n_events
FROM kept, wm
GROUP BY 1, 2, wm_final_ms
HAVING (window_start_us + {LATE_WINDOW_US}) // 1000 <= wm_final_ms
"""


STREAM_TOPK_K = 3


def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-K event types per tumbling window: the stateful
    windowed count/sum runs as a REAL stream (watermarked, complete-mode
    drain — all the heavy lifting and all the state), then one batch
    rank window over the drained sink picks the K heads per window,
    deterministic on (n_events DESC, event_type ASC). The rank is
    post-drain by design: per-window top-K inside a live stream churns
    with every late row, so the production shape is exactly this —
    stream maintains the aggregate, the dashboard query ranks the
    sink. Sink is window-count-sized, so the rank window is trivially
    bounded."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    work = scratch_dir("stream_topk_")
    src = f"{work}/events_src"
    events.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    name = f"topk_{uuid.uuid4().hex[:8]}"
    with demo_state_partitions(spark):
        sink = run_windowed_stream(
            spark, src, f"{work}/ckpt", events.schema, name
        )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        sink.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= STREAM_TOPK_K)
        .select(
            F.unix_micros("window_start").alias("window_start_us"),
            F.unix_micros("window_end").alias("window_end_us"),
            F.col("rank").cast("int").alias("rank"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars: tumbling 10-minute open/high/low/close per
    event type, maintained by the state store as the stream drains —
    the continuously-materialized twin of ``q_events_ohlc``'s hourly
    batch rollup. open/close are ``min_by``/``max_by`` argmax AGGREGATES
    over a (ts, event_id) struct key, which matters doubly in
    streaming: an argmax aggregate has an incremental merge (new batch
    folds into per-window state in O(1) per row), whereas a rank-window
    formulation is not a streaming aggregate at all. Watermarked,
    complete-mode, availableNow drain ⇒ result ≡ the batch answer over
    the same input (the exactly-once contract the oracle checks)."""
    events = load_table(spark, sf_dir, "events")
    work = scratch_dir("stream_ohlc_")
    src = f"{work}/events_src"
    events.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    with_ts = stream.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts div 1000"))
    )
    agg = (
        with_ts.withWatermark("event_time", "30 minutes")
        .groupBy(F.window("event_time", "10 minutes"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min_by("value", F.struct("ts", "event_id")).alias("open_val"),
            F.max_by("value", F.struct("ts", "event_id")).alias("close_val"),
            F.max("value").alias("high_val"),
            F.min("value").alias("low_val"),
        )
    )
    name = f"ohlc_{uuid.uuid4().hex[:8]}"
    with demo_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        F.unix_micros("window.start").alias("window_start_us"),
        F.unix_micros("window.end").alias("window_end_us"),
        "event_type",
        "n_events",
        "open_val",
        "close_val",
        "high_val",
        "low_val",
    )


ALERT_MIN_EVENTS = 2  # burst threshold per (user, 10-min window)


def stream_threshold_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming burst alerts: per (user, 10-minute tumbling window),
    raise when the event count reaches {ALERT_MIN_EVENTS} — the
    rate-limit / abuse-detection shape. The stream maintains plain
    windowed counts; the threshold filter runs on the drained sink
    (the ``stream_topk_per_window`` discipline — filtering inside the
    stream makes every late row a retraction problem, filtering the
    state-store output does not). Alert volume is bounded by active
    (user, window) pairs over threshold, so the emitted relation is
    tiny even when the input is not."""
    events = load_table(spark, sf_dir, "events")
    work = scratch_dir("stream_alert_")
    src = f"{work}/events_src"
    events.coalesce(DEMO_STATE_PARTITIONS).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    with_ts = stream.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts div 1000"))
    )
    agg = (
        with_ts.withWatermark("event_time", "30 minutes")
        .groupBy(F.window("event_time", "10 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = f"alert_{uuid.uuid4().hex[:8]}"
    with demo_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .filter(F.col("n_events") >= ALERT_MIN_EVENTS)
        .select(
            F.unix_micros("window.start").alias("window_start_us"),
            F.unix_micros("window.end").alias("window_end_us"),
            "user_id",
            "n_events",
        )
    )


QUERIES = {
    "stream_threshold_alert": stream_threshold_alert,
    "stream_ohlc": stream_ohlc,
    "stream_topk_per_window": stream_topk_per_window,
    "stream_late_drop": stream_late_drop,
    "stream_ivm": stream_ivm,
    "stream_hist_quantile": stream_hist_quantile,
    "stream_hll_distinct": stream_hll_distinct,
    "stream_incr_sync": stream_incr_sync,
    "stream_enrich_static": stream_enrich_static,
    "stream_enrich_scd2": stream_enrich_scd2,
    "stream_windowed_agg": stream_windowed_agg,
    "stream_sessionize": stream_sessionize,
    "stream_cms_topk": stream_cms_topk,
    "stream_dedup": stream_dedup,
}

# A bounded availableNow drain is deterministic, so most stream entries
# ARE SQL-expressible: the drained result must equal the batch answer
# over the same input (the exactly-once contract, checked by the driver
# gate, not just by local tests). stream_ivm / stream_cms_topk /
# stream_hll_distinct reuse their batch counterparts' oracles verbatim
# — the stream-maintained state certifying equal to the batch
# computation is precisely the mergeability property those operators
# claim. Only stream_incr_sync stays rows-only (its result is
# filesystem state, not a SQL-visible table).

_WINDOW_US = 10 * 60 * 1_000_000  # 10-minute tumbling window

_STREAM_WINDOWED_SQL = f"""
WITH ev AS (
  SELECT (epoch_ns(ts) // 1000) AS ts_us, event_type,
         CAST(value AS DECIMAL(18,6)) AS val_dec
  FROM events
)
SELECT (ts_us // {_WINDOW_US}) * {_WINDOW_US} AS window_start_us,
       (ts_us // {_WINDOW_US}) * {_WINDOW_US} + {_WINDOW_US}
         AS window_end_us,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(val_dec) AS DOUBLE) AS total_value
FROM ev GROUP BY 1, 2, 3
"""

# stream_sessionize's emission set for a bounded single-batch drain:
# every gap-closed session, plus final open sessions whose event-time
# timeout ((last_seen + gap) in ms) fell below the final watermark
# (global max event time, ms-floored, minus the 30-min delay). The gap
# split itself is q_events_sessionize's logic; only the emission filter
# is streaming-specific. Boundary semantics (`<` on ms-floored values)
# verified empirically against the drained stream at sf0.001 and
# sf0.01 — the driver's gate SF.
_SESSION_GAP_US = 30 * 60 * 1_000_000

_STREAM_SESSIONIZE_SQL = f"""
WITH ev AS (
  SELECT user_id, (epoch_ns(ts) // 1000) AS ts_us FROM events
), lagged AS (
  SELECT *, LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev
  FROM ev
), marked AS (
  SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > {_SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS is_new
  FROM lagged
), sess AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS sid
  FROM marked
), agg AS (
  SELECT user_id, sid,
         MIN(ts_us) AS session_start_us,
         MAX(ts_us) AS session_end_us,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
), mx AS (
  SELECT user_id, MAX(sid) AS max_sid FROM agg GROUP BY user_id
), wm AS (
  SELECT MAX(ts_us) AS max_us FROM ev
)
SELECT a.user_id, session_start_us, session_end_us, n_events
FROM agg a JOIN mx USING (user_id), wm
WHERE a.sid < mx.max_sid
   OR (session_end_us + {_SESSION_GAP_US}) // 1000
      < max_us // 1000 - {30 * 60 * 1000}
"""

_STREAM_DEDUP_SQL = """
SELECT event_id, user_id, event_type, (epoch_ns(ts) // 1000) AS ts_us
FROM events
"""

_STREAM_ENRICH_SQL = """
WITH ev AS (
  SELECT event_id, user_id, (epoch_ns(ts) // 1000) AS ts_us, event_type
  FROM events
), dim AS (
  SELECT user_id, MIN(ts_us) AS first_seen_us FROM ev GROUP BY user_id
)
SELECT event_id, user_id, event_type, ts_us - first_seen_us AS age_us
FROM ev JOIN dim USING (user_id)
"""


# stream_ohlc: same drained-≡-batch contract as stream_windowed_agg.
# O/H/L/C carry raw parquet doubles (no arithmetic), ties on the argmax
# key broken by event_id — bit-portable without any fixed-point step.
_STREAM_OHLC_SQL = f"""
WITH ev AS (
  SELECT (epoch_ns(ts) // 1000) AS ts_us, event_type, value AS val,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, epoch_ns(ts) // 1000 // {_WINDOW_US}
           ORDER BY epoch_ns(ts), event_id) AS rn_a,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, epoch_ns(ts) // 1000 // {_WINDOW_US}
           ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT (ts_us // {_WINDOW_US}) * {_WINDOW_US} AS window_start_us,
       (ts_us // {_WINDOW_US}) * {_WINDOW_US} + {_WINDOW_US}
         AS window_end_us,
       event_type, COUNT(*) AS n_events,
       MAX(CASE WHEN rn_a = 1 THEN val END) AS open_val,
       MAX(CASE WHEN rn_d = 1 THEN val END) AS close_val,
       MAX(val) AS high_val,
       MIN(val) AS low_val
FROM ev GROUP BY 1, 2, 3
"""


def _oracles() -> dict[str, str]:
    from blog_snapshotbackup_azuredatalake_spark.operators.sketch import (
        _HIST_QUANTILE_SQL,
        _cms_sql,
        _hll_grouped_sql,
    )
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _SNAP_IVM_SQL,
    )

    return {
        "stream_threshold_alert": f"""
WITH ev AS (
  SELECT user_id, (epoch_ns(ts) // 1000) AS ts_us FROM events
)
SELECT (ts_us // {_WINDOW_US}) * {_WINDOW_US} AS window_start_us,
       (ts_us // {_WINDOW_US}) * {_WINDOW_US} + {_WINDOW_US}
         AS window_end_us,
       user_id, COUNT(*) AS n_events
FROM ev GROUP BY 1, 2, 3
HAVING COUNT(*) >= {ALERT_MIN_EVENTS}
""",
        "stream_ohlc": _STREAM_OHLC_SQL,
        "stream_windowed_agg": _STREAM_WINDOWED_SQL,
        "stream_topk_per_window": f"""
WITH agg AS ({_STREAM_WINDOWED_SQL})
SELECT window_start_us, window_end_us,
       CAST(ROW_NUMBER() OVER (PARTITION BY window_start_us
              ORDER BY n_events DESC, event_type) AS INT) AS rank,
       event_type, CAST(n_events AS BIGINT) AS n_events, total_value
FROM agg
QUALIFY rank <= {STREAM_TOPK_K}
""",
        "stream_late_drop": _STREAM_LATE_DROP_SQL,
        "stream_sessionize": _STREAM_SESSIONIZE_SQL,
        "stream_dedup": _STREAM_DEDUP_SQL,
        "stream_enrich_static": _STREAM_ENRICH_SQL,
        "stream_enrich_scd2": _STREAM_SCD2_SQL,
        "stream_ivm": _SNAP_IVM_SQL,
        "stream_cms_topk": _cms_sql(),
        "stream_hll_distinct": _hll_grouped_sql(),
        "stream_hist_quantile": _HIST_QUANTILE_SQL,
    }


ORACLES: dict[str, str] = _oracles()


def stream_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's continuous-sync loop closed end-to-end: a CDC
    feed (snap_cdc's typed change stream, one file per source version)
    arrives as a STREAM, and foreachBatch applies each micro-batch
    TRANSACTIONALLY to the backup store. The batch IS the delta, so
    the apply is O(|changes|): change rows map straight to upserts +
    tombstones and commit as a CHAINED delta snapshot
    (SnapshotManager.commit_delta) — the current state is never
    restored, joined, or rewritten per batch (the round-2 force_full
    path rewrote the full table per micro-batch: O(k·|table|) write
    volume over k batches). Restore folds the chain; a periodic
    rebase() compacts it back to one full snapshot. Exactly-once comes
    from the pairing the Delta docs prescribe: the streaming
    checkpoint dedupes batch REPLAY, the store's transactional commit
    makes each apply atomic. Rows-only certificate: after the drain,
    the restored head state must equal the directly-computed final
    state (count + order-insensitive key-hash xor), the log must show
    one commit per change batch in order, each delta's data dir must
    hold exactly the batch's change rows (write volume ∝ |changes|),
    and the post-rebase full snapshot must still equal that state."""
    from blog_snapshotbackup_azuredatalake_spark.functions.changeset import (
        digest,
    )
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _cdc_pair,
        _perturbed_orders,
        _perturbed_orders_v2,
    )
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot_manager import (
        SnapshotManager,
    )

    keyed = F.col("o_orderkey") % 10 == 0  # lifecycle demo slice
    # each state feeds several differently-shaped consumers (both CDC
    # pair sides + the certificate) — materialize once (§6 trap:
    # ReusedExchange only dedupes identical subtrees)
    base = load_table(spark, sf_dir, "orders").filter(keyed)
    v1_full = _perturbed_orders(spark, sf_dir).localCheckpoint(eager=False)
    v1 = v1_full.filter(keyed)
    v2 = (
        _perturbed_orders_v2(spark, sf_dir, v1_full)
        .filter(keyed)
        .localCheckpoint(eager=False)
    )

    work = scratch_dir("stream_apply_cdc_")
    src = f"{work}/feed"
    os.makedirs(src)
    now = time.time()
    for i, (prev, curr) in enumerate(((base, v1), (v1, v2))):
        batch = _cdc_pair(prev, curr, i + 1).filter(
            F.col("change_type") != "update_preimage"
        )
        batch.coalesce(1).write.parquet(f"{work}/b{i}")
        for f in os.listdir(f"{work}/b{i}"):
            if f.endswith(".parquet"):
                dst = f"{src}/b{i}_{f}"
                os.rename(f"{work}/b{i}/{f}", dst)
                os.utime(dst, (now - 120 + 60 * i, now - 120 + 60 * i))
        if i == 0:
            feed_schema = batch.schema

    mgr = SnapshotManager(spark, f"{work}/store")
    mgr.snapshot(base, "orders", "o_orderkey")

    def _apply(batch_df, batch_id):
        changes = batch_df.localCheckpoint(eager=True)
        data_cols = [
            c for c in changes.columns if c not in ("version", "change_type")
        ]
        delta = changes.select(
            *data_cols,
            (F.col("change_type") == "delete").alias("_tombstone"),
        )
        mgr.commit_delta(delta, "orders", "o_orderkey")

    stream = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", f"{work}/ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    head = mgr.restore("orders", mgr.snapshot_ids("orders")[-1])
    key_md5 = F.md5(F.col("o_orderkey").cast("string"))
    hx = lambda df: df.agg(*digest(key_md5, "n", "x"))  # noqa: E731
    got = hx(head).first()
    want = hx(v2).first()
    ops = [h["op"] for h in mgr.log.history()]
    kinds = [
        mgr._read_meta("orders", i)["kind"]
        for i in mgr.snapshot_ids("orders")
    ]
    # write-volume certificate: each delta dir holds exactly its
    # batch's change rows, not a table copy
    full_rows = base.count()
    d_rows = [
        spark.read.parquet(f"{work}/store/orders/snap_{i:06d}/data").count()
        for i in (1, 2)
    ]
    feed_rows = spark.read.parquet(src).count()
    # periodic compaction: fold the chain into a fresh full snapshot
    rid = mgr.rebase("orders")
    post = hx(mgr.restore("orders", rid)).first()
    checks = [
        ("head_equals_direct_final_state",
         (got["n"], got["x"]) == (want["n"], want["x"])),
        ("one_commit_per_change_batch",
         ops[:3] == ["snapshot", "snapshot", "snapshot"]),
        ("applied_both_batches_as_deltas",
         kinds[:3] == ["full", "delta", "delta"]),
        ("delta_write_volume_is_change_sized",
         sum(d_rows) == feed_rows and max(d_rows) < full_rows),
        ("rebase_compacts_to_full_same_state",
         mgr._read_meta("orders", rid)["kind"] == "full"
         and (post["n"], post["x"]) == (want["n"], want["x"])),
    ]
    return local_frame(spark, checks, "check string, ok boolean")


# defined below the registry block, so registered here
QUERIES["stream_apply_cdc"] = stream_apply_cdc
