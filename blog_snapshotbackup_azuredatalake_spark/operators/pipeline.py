"""End-to-end corpus curation pipeline (SURVEY.md §2C flagship).

``curate_corpus`` chains the individual operators the way a production
training-data job would: quality-filter → near-dup removal (MinHash-LSH
star edges on the survivors — anchor-linking, the linear shape; see
dedup.star_pairs) → deterministic train/val/test split → per-(source,
split) stats. Every stage is the already-oracle-checked building block
(text.with_quality_stats, dedup.star_pairs, curation's hash split);
this query proves they COMPOSE — the DuckDB oracle recomputes the whole
funnel in one statement from the same CTE builders.

Scale shape: one documents scan feeds the quality filter; the dedup
stage shuffles gram fingerprints of *survivors only*; the split and
final stats are a pure projection plus one small group-by. No stage is
quadratic, no stage moves document text after the first projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.operators.curation import (
    TRAIN_PCT,
    VAL_PCT,
)
from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    hash60,
    sql_md5_int60,
)
from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
    grams_for,
    sql_star_pair_ctes,
    star_pairs,
)
from blog_snapshotbackup_azuredatalake_spark.operators.text import (
    sql_quality_ctes,
    with_quality_stats,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import load_table

QUALITY_THRESHOLD = 0.43  # ≈ drops the worst decile of the synthetic corpus


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    kept = with_quality_stats(docs).filter(
        F.col("quality_score") >= QUALITY_THRESHOLD
    )
    # near-dup removal among survivors: drop every verified non-anchor
    # bucket member (canonical = the bucket-min anchor) — star edges,
    # O(Σ bucket) instead of the all-pairs self-join
    drops = (
        # the narrow (doc_id, sh) fingerprint frame is consumed by the
        # band index and both verify sides — materialize it once (the
        # wide `kept` frame itself stays lazy: checkpointing text-bearing
        # rows measurably regresses)
        star_pairs(grams_for(kept).localCheckpoint(eager=True))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    unique_docs = kept.join(drops, "doc_id", "left_anti")
    slot = hash60(F.md5(F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(slot < TRAIN_PCT, F.lit("train"))
        .when(slot < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        unique_docs.select(
            "source", split.alias("split"), "n_chars", "quality_score"
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.col("quality_score").cast("decimal(18,12)"))
            .cast("double")
            .alias("sum_quality"),
        )
    )


_SLOT_SQL = f"{sql_md5_int60('CAST(doc_id AS VARCHAR)')} % 100"

_CURATE_SQL = f"""
WITH {sql_quality_ctes("(SELECT doc_id, text, source, n_chars FROM documents)")},
kept AS (
  SELECT * FROM qscored WHERE quality_score >= {QUALITY_THRESHOLD}
),
{sql_star_pair_ctes("kept")},
drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
unique_docs AS (
  SELECT * FROM kept
  WHERE doc_id NOT IN (SELECT doc_id FROM drops)
),
assigned AS (
  SELECT source, n_chars, quality_score,
         CASE
           WHEN {_SLOT_SQL} < {TRAIN_PCT} THEN 'train'
           WHEN {_SLOT_SQL} < {TRAIN_PCT + VAL_PCT} THEN 'val'
           ELSE 'test'
         END AS split
  FROM unique_docs
)
SELECT source, split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CAST(quality_score AS DECIMAL(18,12))) AS DOUBLE)
         AS sum_quality
FROM assigned GROUP BY source, split
"""


def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attrition report for the curation funnel — per stage (raw →
    quality gate → near-dup removal), how many documents survive and
    what each gate dropped, in absolute counts and ppm of the raw
    corpus. ``curate_corpus`` produces the curated OUTPUT; this emits
    the funnel's OBSERVABILITY (the numbers a pipeline dashboard plots
    per snapshot, and the first thing to diff when a filter change
    tanks corpus size). Same staged plan: the dedup stage fingerprints
    quality survivors only; all three counts fold in one pass each —
    output is 3 rows regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    kept = with_quality_stats(docs).filter(
        F.col("quality_score") >= QUALITY_THRESHOLD
    )
    drops = (
        star_pairs(grams_for(kept).localCheckpoint(eager=True))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    n_raw = docs.groupBy().agg(F.count(F.lit(1)).alias("n_raw"))
    n_kept = kept.groupBy().agg(F.count(F.lit(1)).alias("n_kept"))
    n_drop = drops.groupBy().agg(F.count(F.lit(1)).alias("n_drop"))
    wide = n_raw.crossJoin(n_kept).crossJoin(n_drop)
    stages = wide.select(
        F.expr(
            """stack(3,
              0, 'raw',            n_raw,          CAST(0 AS BIGINT),
              1, 'quality_gate',   n_kept,         n_raw - n_kept,
              2, 'near_dup_removal', n_kept - n_drop, n_drop
            ) AS (stage_idx, stage, n_surviving, n_dropped)"""
        ),
        F.col("n_raw"),
    )
    return stages.select(
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "stage",
        "n_surviving",
        "n_dropped",
        # greatest(·,1): empty corpus → n_raw 0; Spark div would NULL,
        # DuckDB // would raise — ppm is 0 on an empty funnel anyway
        F.expr("n_dropped * 1000000 div greatest(n_raw, 1L)").alias(
            "dropped_ppm"
        ),
    )


_FILTER_FUNNEL_SQL = f"""
WITH {sql_quality_ctes("(SELECT doc_id, text, source, n_chars FROM documents)")},
kept AS (
  SELECT * FROM qscored WHERE quality_score >= {QUALITY_THRESHOLD}
),
{sql_star_pair_ctes("kept")},
drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
wide AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_raw,
         (SELECT COUNT(*) FROM kept) AS n_kept,
         (SELECT COUNT(*) FROM drops) AS n_drop
),
stages AS (
  SELECT 0 AS stage_idx, 'raw' AS stage, n_raw AS n_surviving,
         CAST(0 AS BIGINT) AS n_dropped, n_raw FROM wide
  UNION ALL
  SELECT 1, 'quality_gate', n_kept, n_raw - n_kept, n_raw FROM wide
  UNION ALL
  SELECT 2, 'near_dup_removal', n_kept - n_drop, n_drop, n_raw FROM wide
)
SELECT CAST(stage_idx AS INT) AS stage_idx, stage, n_surviving, n_dropped,
       CAST(n_dropped * 1000000 // GREATEST(n_raw, 1) AS BIGINT)
         AS dropped_ppm
FROM stages
"""


QUERIES = {
    "curate_corpus": curate_corpus,
    "corpus_filter_funnel": corpus_filter_funnel,
}
ORACLES = {
    "curate_corpus": _CURATE_SQL,
    "corpus_filter_funnel": _FILTER_FUNNEL_SQL,
}
