"""Corpus-curation operators for training-data pipelines (SURVEY.md §2C).

Three pipeline staples beyond dedup/similarity/text-analysis:

- ``corpus_split`` — deterministic hash-based train/val/test assignment
  with per-(source, split) stats. Hash-of-key splitting (not random) is
  what a reproducible 100 TB pipeline needs: stable under reruns,
  re-partitioning, and incremental appends.
- ``doc_chunk`` — fixed-size token chunking with overlap (the context-
  window packing step before tokenization), emitted as one row per chunk
  with its own content hash for downstream chunk-level dedup.
- ``emb_centroid_assign`` — nearest-centroid assignment of every
  embedding against a fixed centroid set (one Lloyd/k-means assignment
  step, the building block of clustering-based data curation). The
  centroid set rides in the assign scan's closure; the corpus side never
  shuffles.

All three are single-pass, shuffle only for their final group-by stats,
and mirror bit-for-bit in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions.hints import (
    broadcast_if_bounded as bcast,
)
from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    hash60,
    sql_md5_int60,
)
from blog_snapshotbackup_azuredatalake_spark.functions.centroids import (
    Centroids,
    sql_centroid_ctes,
    sql_neg_cosine,
)
from blog_snapshotbackup_azuredatalake_spark.functions import pairscore
from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
    sql_cosine,
)
from blog_snapshotbackup_azuredatalake_spark.session import (
    ensure_package_on_workers,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import load_table

TRAIN_PCT = 80
VAL_PCT = 10  # test gets the remainder

CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP

N_CENTROIDS = 8


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each document to train/val/test by md5(doc_id) mod 100 and
    report per-(source, split) document/char counts. The split column is
    a pure function of the stable key — adding documents later never
    reshuffles existing assignments."""
    docs = load_table(spark, sf_dir, "documents")
    slot = hash60(F.md5(F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(slot < TRAIN_PCT, F.lit("train"))
        .when(slot < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("source", "n_chars", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_DOC_SLOT_SQL = f"{sql_md5_int60('CAST(doc_id AS VARCHAR)')} % 100"

_CORPUS_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT source, n_chars,
         CASE
           WHEN {_DOC_SLOT_SQL} < {TRAIN_PCT} THEN 'train'
           WHEN {_DOC_SLOT_SQL} < {TRAIN_PCT + VAL_PCT} THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents
)
SELECT source, split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY source, split
"""


def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into {CHUNK_TOKENS}-token chunks with
    {CHUNK_OVERLAP}-token overlap; one output row per chunk with token
    count and chunk md5. Token array is bound as a column before the
    chunk lambda slices it (SURVEY.md §6 inlining trap), and the chunk
    array explodes with explode_outer to dodge the inferred-filter
    trap."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    toks = F.col("toks")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - CHUNK_OVERLAP) / CHUNK_STRIDE).cast("int"), F.lit(1)
    )
    chunk_text = lambda i: F.array_join(  # noqa: E731
        F.slice(toks, i * CHUNK_STRIDE + 1, CHUNK_TOKENS), " "
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"), chunk_text(i).alias("chunk")
        ),
    )
    return (
        toked.select(
            "doc_id", F.explode_outer(chunks).alias("c")
        )
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size(F.split(F.col("c.chunk"), " ")).cast("bigint").alias(
                "chunk_tokens"
            ),
            F.md5(F.col("c.chunk")).alias("chunk_md5"),
        )
    )


_DOC_CHUNK_SQL = f"""
WITH toked AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), spans AS (
  SELECT doc_id, toks,
         range(0, greatest(CAST(ceil((len(toks) - {CHUNK_OVERLAP})
              / {CHUNK_STRIDE}.0) AS INT), 1)) AS ids
  FROM toked
), ids AS (
  SELECT doc_id, toks, unnest(ids) AS chunk_id FROM spans
), exploded AS (
  SELECT doc_id, chunk_id,
         array_to_string(list_slice(toks,
             chunk_id * {CHUNK_STRIDE} + 1,
             chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ') AS chunk
  FROM ids
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(string_split(chunk, ' ')) AS BIGINT) AS chunk_tokens,
       md5(chunk) AS chunk_md5
FROM exploded
"""


def emb_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment: centroids are the embeddings of
    vec_id < N_CENTROIDS (a deterministic seed set — in a real pipeline,
    the previous Lloyd iteration's output). The centroids ride in the
    scan's closure; the corpus scans once with no shuffle until the final
    stats group-by."""
    emb = load_table(spark, sf_dir, "embeddings")
    # MAP-ONLY argmax (functions/centroids.py): one Arrow batch scan
    # picks each row's best centroid as the argmin of (-cos,
    # centroid_id) ≡ the oracle's ORDER BY cos DESC, centroid_id. No
    # crossJoin, no per-vector groupBy: the corpus meets its ONLY
    # shuffle at the k-row stats aggregation.
    cents = Centroids.first(emb, N_CENTROIDS, "neg_cosine")
    best = cents.assign(emb.select("vec_id", "label", "embedding")).select(
        "vec_id", "label", "centroid_id", (-F.col("d2")).alias("best_cos")
    )
    return best.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        # fixed-point pre-agg: exact, order-independent, AND portable —
        # a decimal cast of an arbitrary cosine double rounds
        # differently in Spark vs DuckDB at the scale boundary
        # (SURVEY.md §4)
        (
            F.sum(F.floor(F.col("best_cos") * (1 << 30)).cast("bigint"))
            .cast("double")
            / F.lit(float(1 << 30))
        ).alias("sum_cos"),
        F.count_distinct("label").alias("n_labels"),
    )


# purity fixed point: 2^16 keeps n²·FP < 2^63 for clusters up to ~12 M
# members (a 2^20 scale would overflow BIGINT at ~3 M — measured bound,
# not a guess; DuckDB would widen to HUGEINT but Spark wraps)
PURITY_FP = 1 << 16
# isqrt((2^63-1) / PURITY_FP): past this member count sum(cnt)²·FP wraps
# BIGINT in non-ANSI Spark while DuckDB silently widens to HUGEINT —
# the same engine-divergence class DIVERSITY_MAX_CHARS guards in
# _simpson_expr. Both sides emit NULL past the bound instead.
PURITY_MAX_MEMBERS = 11_863_283


def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster label purity — the clustering-quality certificate that
    consumes LABELS (emb_silhouette_lite consumes geometry): per
    centroid, the majority label, its share, and the Gini-Simpson
    label impurity FP·(n² − Σcnt²) div n² — integer-exact (never
    Shannon entropy: log() isn't bit-portable, §4). High-impurity
    clusters mark label noise or genuinely mixed regions — the
    relabel/split decision as data. Same map-only nearest-centroid
    assignment as emb_centroid_assign (``functions/centroids.py``: the
    corpus never shuffles for the argmax); the (centroid, label)
    count relation is k·|labels| rows, everything after is k-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = Centroids.first(emb, N_CENTROIDS, "neg_cosine")
    assigned = cents.assign(emb.select("label", "embedding")).select(
        "label", "centroid_id"
    )
    per = assigned.groupBy("centroid_id", "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per.groupBy("centroid_id").agg(
        F.sum("cnt").alias("n_members"),
        F.count(F.lit(1)).alias("n_labels"),
        F.expr("max_by(label, struct(cnt, -label))")
        .cast("int")
        .alias("majority_label"),
        F.expr(f"max(cnt) * {PURITY_FP} div sum(cnt)").alias(
            "majority_share_fp"
        ),
        F.expr(
            f"CASE WHEN sum(cnt) > {PURITY_MAX_MEMBERS} THEN NULL"
            f" ELSE (sum(cnt) * sum(cnt) - sum(cnt * cnt)) * {PURITY_FP}"
            " div (sum(cnt) * sum(cnt)) END"
        ).alias("impurity_fp"),
    )


_EMB_PURITY_SQL = f"""
WITH {sql_centroid_ctes(N_CENTROIDS, fold=sql_neg_cosine)}, per AS (
  SELECT list_id AS centroid_id, label, COUNT(*) AS cnt
  FROM assigned GROUP BY list_id, label
), maj AS (
  SELECT centroid_id, label AS majority_label
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY centroid_id
                                     ORDER BY cnt DESC, label) AS rn
        FROM per)
  WHERE rn = 1
)
SELECT p.centroid_id,
       CAST(SUM(cnt) AS BIGINT) AS n_members,
       COUNT(*) AS n_labels,
       CAST(ANY_VALUE(majority_label) AS INT) AS majority_label,
       CAST(MAX(cnt) * {PURITY_FP} // SUM(cnt) AS BIGINT)
         AS majority_share_fp,
       CAST(CASE WHEN SUM(cnt) > {PURITY_MAX_MEMBERS}
                 THEN NULL
                 ELSE (SUM(cnt) * SUM(cnt) - SUM(cnt * cnt)) * {PURITY_FP}
                      // (SUM(cnt) * SUM(cnt)) END AS BIGINT) AS impurity_fp
FROM per p JOIN maj USING (centroid_id)
GROUP BY p.centroid_id
"""


_EMB_CENTROID_SQL = f"""
WITH {sql_centroid_ctes(N_CENTROIDS, fold=sql_neg_cosine)}, best AS (
  SELECT vec_id, label, list_id AS centroid_id, -d AS best_cos FROM assigned
)
SELECT centroid_id, COUNT(*) AS n_members,
       CAST(SUM(CAST(floor(best_cos * 1073741824) AS BIGINT)) AS DOUBLE)
         / 1073741824.0 AS sum_cos,
       COUNT(DISTINCT label) AS n_labels
FROM best GROUP BY centroid_id
"""


def emb_silhouette_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette — the clustering-quality
    certificate at O(n·k) instead of the O(n²) pairwise definition
    (the only formulation that exists at 100 TB): per vector,
    a = cosine distance to its best centroid, b = distance to the
    runner-up; s = (b − a) / max(a, b) ∈ [0, 1] is the separation
    margin (s → 0: the vector sits on a cluster boundary — candidate
    for re-clustering or mixture reweighting). Same deterministic seed
    centroids as `emb_centroid_assign`; MAP-ONLY top-2 in one Arrow
    batch scan (no crossJoin, no per-vector shuffle — the corpus meets
    its only shuffle at the k-row summary). Fixed-point floor sums keep
    the certificate bit-portable (SURVEY §4)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = Centroids.first(emb, N_CENTROIDS, "neg_cosine")
    top2 = cents.assign(emb.select("vec_id", "embedding"), n=2).select(
        "vec_id",
        "centroid_id",
        (-F.col("d2")).alias("c1"),
        (-F.col("d2_2")).alias("c2"),
    )
    sil = top2.select(
        "centroid_id",
        (
            ((F.lit(1.0) - F.col("c2")) - (F.lit(1.0) - F.col("c1")))
            / F.greatest(F.lit(1.0) - F.col("c1"), F.lit(1.0) - F.col("c2"))
        ).alias("s"),
    )
    return (
        sil.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.floor(F.col("s") * (1 << 30)).cast("bigint")).alias(
                "sil_fp"
            ),
        )
        .select(
            "centroid_id",
            "n_members",
            (F.col("sil_fp").cast("double") / F.lit(float(1 << 30))).alias(
                "sum_sil"
            ),
            (
                F.col("sil_fp").cast("double")
                / F.lit(float(1 << 30))
                / F.col("n_members")
            ).alias("avg_sil"),
        )
    )


_EMB_SILHOUETTE_SQL = f"""
WITH {sql_centroid_ctes(N_CENTROIDS, "TRUE", 2, sql_neg_cosine)}, top2 AS (
  SELECT q_id AS vec_id,
         MAX(CASE WHEN p = 1 THEN list_id END) AS centroid_id,
         MAX(CASE WHEN p = 1 THEN -d END) AS c1,
         MAX(CASE WHEN p = 2 THEN -d END) AS c2
  FROM probes GROUP BY q_id
), sil AS (
  SELECT centroid_id,
         ((1.0 - c2) - (1.0 - c1))
           / greatest(1.0 - c1, 1.0 - c2) AS s
  FROM top2
)
SELECT centroid_id, COUNT(*) AS n_members,
       CAST(CAST(SUM(CAST(floor(s * 1073741824) AS BIGINT)) AS BIGINT)
            AS DOUBLE) / 1073741824.0 AS sum_sil,
       CAST(CAST(SUM(CAST(floor(s * 1073741824) AS BIGINT)) AS BIGINT)
            AS DOUBLE) / 1073741824.0 / COUNT(*) AS avg_sil
FROM sil GROUP BY centroid_id
"""


BENCH_MOD = 13  # doc_id % 13 == 0 plays the held-out benchmark set


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share ANY
    token-5-gram fingerprint with the held-out set (doc_id % 13 == 0
    stands in for the eval benchmark). The benchmark's distinct shingle
    set is small at any corpus size — it broadcasts into a semi-join
    against the exploded train shingles, so the train corpus never
    shuffles for the overlap test; only the final per-source stats
    group-by does. Reports contamination counts per source."""
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        grams_cached,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the near-dup family's cached gram sets: both branches (and the
    # dedup entries) read one Arrow gram scan per session
    grams = grams_cached(spark, sf_dir)  # (doc_id, sh: array<bigint>)
    bench_g = (
        grams.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    train_g = (
        grams.filter(F.col("doc_id") % BENCH_MOD != 0)
        .select("doc_id", F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    # the bench shingle set is bounded by the EVAL SUITE's size, not in
    # principle (here it's derived as a corpus slice) — so the hint is
    # guarded: past the bound it degrades to an AQE-planned join
    # (§6 broadcast-hint audit). Checkpoint so the guard's bounded
    # probe and the join share one materialization.
    bench_g = bench_g.localCheckpoint(eager=False)
    contaminated = (
        train_g.join(bcast(bench_g), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(True))
    )
    return (
        docs.filter(F.col("doc_id") % BENCH_MOD != 0)
        .select("doc_id", "source")
        .join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("is_cont").alias("n_contaminated"),
        )
    )


_DECONTAMINATE_SQL = f"""
WITH toked AS (
  SELECT doc_id, {{tokh}} AS th FROM documents
), grams AS (
  SELECT doc_id, {{gramh}} AS sh FROM toked
), bench AS (
  SELECT DISTINCT unnest(sh) AS g FROM grams WHERE doc_id % {BENCH_MOD} = 0
), contaminated AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(sh) AS g FROM grams
        WHERE doc_id % {BENCH_MOD} <> 0)
  WHERE g IN (SELECT g FROM bench)
)
SELECT source, COUNT(*) AS n_docs,
       COUNT(CASE WHEN doc_id IN (SELECT doc_id FROM contaminated)
             THEN 1 END) AS n_contaminated
FROM documents
WHERE doc_id % {BENCH_MOD} <> 0
GROUP BY source
"""

from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (  # noqa: E402
    SQL_GRAM_HASHES,
    SQL_TOKH,
)

_DECONTAMINATE_SQL = _DECONTAMINATE_SQL.format(
    tokh=SQL_TOKH, gramh=SQL_GRAM_HASHES
)


def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: each source gets its own
    keep-rate (a stable function of the source name), each document
    keeps or drops by md5(doc_id) mod 100 — reproducible under reruns,
    appends, and re-partitioning, unlike rand()-based sampling. Returns
    per-source totals, kept counts, and the applied rate."""
    docs = load_table(spark, sf_dir, "documents")
    rate = (hash60(F.md5(F.col("source"))) % 60 + 20).cast("int")  # 20..79 pct
    slot = hash60(F.md5(F.col("doc_id").cast("string"))) % 100
    return (
        docs.select(
            "source",
            rate.alias("rate_pct"),
            (slot < rate).cast("int").alias("kept"),
        )
        .groupBy("source", "rate_pct")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
        )
    )


_SAMPLE_STRATIFIED_SQL = f"""
SELECT source,
       CAST({sql_md5_int60("source")} % 60 + 20 AS INT) AS rate_pct,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN {sql_md5_int60("CAST(doc_id AS VARCHAR)")} % 100
                          < {sql_md5_int60("source")} % 60 + 20
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents
GROUP BY source
"""


MIX_SCALE = 1000  # fixed-point scale for the sqrt weight
MIX_SLOTS = 1_000_000  # hash-slot resolution for the keep rule


def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resampled source mix (alpha = 0.5): target share of
    each source ∝ sqrt(its doc count), the standard flattening used to
    up-weight small sources in multilingual/multi-domain training
    mixes, with a half-corpus token budget. Document keep/drop is the
    same stable md5-slot rule as ``corpus_sample_stratified`` — rerun-
    and append-stable, no rand().

    Numeric portability: sqrt is IEEE-754 correctly-rounded in every
    engine, and it is immediately fixed-pointed (`floor(sqrt(n)·1000)`)
    so all cross-source totals are exact BIGINT sums — no double
    accumulation whose association order could differ between engines.
    The only doubles are per-source ratios computed with an identical
    operation sequence on both sides.

    Scale shape: two tiny aggregations (per-source counts, then window
    totals over ≤ thousands of sources) and one broadcast join of the
    per-source thresholds back onto the corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = per_src.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * MIX_SCALE)
        .cast("bigint")
        .alias("weight"),
    )
    from pyspark.sql import Window

    everything = Window.partitionBy()
    tot = w.select(
        "source",
        "n_docs",
        "weight",
        F.sum("n_docs").over(everything).alias("n_total"),
        F.sum("weight").over(everything).alias("w_total"),
    )
    budget = F.expr("n_total div 2").cast("double")
    target = F.least(
        F.col("n_docs"),
        F.floor(
            (F.col("weight").cast("double") / F.col("w_total").cast("double"))
            * budget
        ).cast("bigint"),
    )
    thr = tot.select(
        "source",
        "n_docs",
        "weight",
        target.alias("target_n"),
    ).withColumn(
        "thresh",
        F.floor(
            F.col("target_n").cast("double")
            * float(MIX_SLOTS)
            / F.col("n_docs").cast("double")
        ).cast("bigint"),
    )
    slot = hash60(F.md5(F.col("doc_id").cast("string"))) % MIX_SLOTS
    return (
        docs.select("doc_id", "source", slot.alias("slot"))
        .join(F.broadcast(thr), "source")
        .groupBy("source", "n_docs", "weight", "target_n")
        .agg(
            F.sum((F.col("slot") < F.col("thresh")).cast("bigint")).alias(
                "n_kept"
            )
        )
    )


_MIX_TEMPERATURE_SQL = f"""
WITH per_src AS (SELECT source, COUNT(*) AS n_docs FROM documents
                 GROUP BY source),
w AS (SELECT source, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * {MIX_SCALE}) AS BIGINT)
               AS weight
      FROM per_src),
tot AS (SELECT source, n_docs, weight,
               SUM(n_docs) OVER () AS n_total,
               SUM(weight) OVER () AS w_total
        FROM w),
thr AS (SELECT source, n_docs, weight,
               LEAST(n_docs,
                     CAST(floor((CAST(weight AS DOUBLE)
                                 / CAST(w_total AS DOUBLE))
                                * CAST(n_total // 2 AS DOUBLE)) AS BIGINT))
                 AS target_n
        FROM tot),
thr2 AS (SELECT *,
                CAST(floor(CAST(target_n AS DOUBLE) * {float(MIX_SLOTS)!r}
                           / CAST(n_docs AS DOUBLE)) AS BIGINT) AS thresh
         FROM thr)
SELECT t.source, t.n_docs, t.weight, t.target_n,
       CAST(SUM(CASE WHEN {sql_md5_int60("CAST(doc_id AS VARCHAR)")}
                          % {MIX_SLOTS} < t.thresh
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d JOIN thr2 t ON d.source = t.source
GROUP BY t.source, t.n_docs, t.weight, t.target_n
"""


PACK_TOKENS = 128  # context-window length in tokens
PACK_SHARDS = 16  # independent packing streams per source


def doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan (concat-and-split): documents are laid
    end-to-end in {PACK_TOKENS}-token context windows and the report
    shows, per source, how many sequences come out and how many docs
    straddle a window boundary (the cross-document-attention leakage a
    packing-aware loss has to mask).

    Docs pack within (source, shard) streams, shard = md5(doc_id) mod
    {PACK_SHARDS}: the running-sum window then partitions by
    (source, shard), so no single window partition ever holds a whole
    source — the unbounded-preceding sum that would serialize a 100 TB
    source onto one task is sharded into {PACK_SHARDS} independent
    streams per source (raise the constant for real clusters; packing
    order inside a stream is arbitrary anyway, so the semantics don't
    change)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        (hash60(F.md5(F.col("doc_id").cast("string"))) % PACK_SHARDS).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pos = toks.withColumn(
        "start", F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("bigint"))
    )
    per_shard = pos.groupBy("source", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("shard_tokens"),
        F.sum(
            F.when(
                F.expr(
                    f"(start div {PACK_TOKENS}) !="
                    f" ((start + n_tok - 1) div {PACK_TOKENS})"
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
        ).alias("n_boundary_docs"),
    )
    return per_shard.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("shard_tokens").alias("total_tokens"),
        F.sum(
            F.expr(f"(shard_tokens + {PACK_TOKENS - 1}) div {PACK_TOKENS}")
        ).alias("n_seqs"),
        F.sum("n_boundary_docs").alias("n_boundary_docs"),
    )


_DOC_PACK_SQL = f"""
WITH toks AS (
  SELECT source, doc_id,
         {sql_md5_int60("CAST(doc_id AS VARCHAR)")} % {PACK_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
), pos AS (
  SELECT source, shard, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start
  FROM toks
), per_shard AS (
  SELECT source, shard, COUNT(*) AS n_docs, SUM(n_tok) AS shard_tokens,
         SUM(CASE WHEN start // {PACK_TOKENS}
                       <> (start + n_tok - 1) // {PACK_TOKENS}
                  THEN 1 ELSE 0 END) AS n_boundary_docs
  FROM pos GROUP BY source, shard
)
SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(shard_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM((shard_tokens + {PACK_TOKENS - 1}) // {PACK_TOKENS})
            AS BIGINT) AS n_seqs,
       CAST(SUM(n_boundary_docs) AS BIGINT) AS n_boundary_docs
FROM per_shard GROUP BY source
"""


EMB_DIM_TOPK = 8


def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics: mean and variance for every
    dimension, top-{EMB_DIM_TOPK} by variance — the dead-dimension /
    dominant-dimension audit run before trusting cosine distances on a
    new embedding model. Scale shape: posexplode keys the shuffle by
    dim, so the reduce state is d cells regardless of corpus size
    (partial aggs collapse map-side). Moments are fixed-point floor
    sums (floor(x·2³⁰) BIGINTs): exact, order-independent, and — unlike
    a decimal cast of an arbitrary double — rounded identically by
    both engines (SURVEY.md §4); the variance arithmetic then runs in
    doubles with identical association both sides."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    # fixed-point floors, not decimal casts (SURVEY.md §4): exact
    # integer sums that round identically in both engines even for
    # arbitrary doubles; ≤2⁻³⁰ bias is noise for a variance audit
    mfp = 1 << 30
    per_dim = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * mfp).cast("bigint")).alias("sx_fp"),
        F.sum(
            F.floor(F.col("x") * F.col("x") * mfp).cast("bigint")
        ).alias("sx2_fp"),
    )
    nfp = (F.col("n") * mfp).cast("double")
    mean_c = F.col("sx_fp").cast("double") / nfp
    stats = per_dim.select(
        "dim",
        "n",
        mean_c.alias("mean"),
        (
            F.col("sx2_fp").cast("double") / nfp - mean_c * mean_c
        ).alias("variance"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("variance"), F.asc("dim"))
    return (
        stats.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= EMB_DIM_TOPK)
        .select("rank", "dim", "n", "mean", "variance")
    )


_EMB_DIM_STATS_SQL = f"""
WITH dims AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), per_dim AS (
  SELECT dim, COUNT(*) AS n,
         SUM(CAST(floor(x * 1073741824) AS BIGINT)) AS sx_fp,
         SUM(CAST(floor(x * x * 1073741824) AS BIGINT)) AS sx2_fp
  FROM dims GROUP BY dim
), stats AS (
  SELECT dim, n,
         CAST(sx_fp AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE) AS mean,
         CAST(sx2_fp AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE)
           - (CAST(sx_fp AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE))
             * (CAST(sx_fp AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE))
           AS variance
  FROM per_dim
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY variance DESC, dim) AS INT) AS rank,
       dim, n, mean, variance
FROM stats
QUALIFY rank <= {EMB_DIM_TOPK}
"""


def emb_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension whitening (standardization) of the embedding
    corpus — the preprocessing that makes cosine/L2 comparable across
    dims when a model ships anisotropic embeddings (the condition
    emb_dim_stats diagnoses; this op fixes it). Two corpus passes: one
    d-cell moment aggregation (mean/σ per dim), then a map-side
    standardize against the broadcast 64-row stats table, re-aggregated
    into a self-certifying report — whitened mean ≡ 0 and variance ≡ 1
    per dim to double precision. Dead dims (σ=0) pass through
    unscaled rather than dividing by zero. Decimal-exact sums keep the
    certificate layout-independent (SURVEY.md §4)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    # moments via fixed-point floors, not decimal casts: double→decimal
    # of arbitrary doubles rounds differently in Spark (shortest-string)
    # vs DuckDB (exact expansion); floor(x·2³⁰) of identical doubles is
    # identical everywhere, and the ≤2⁻³⁰ bias is irrelevant to a
    # whitening transform
    mfp = 1 << 30
    per_dim = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * mfp).cast("bigint")).alias("sx_fp"),
        F.sum(
            F.floor(F.col("x") * F.col("x") * mfp).cast("bigint")
        ).alias("sx2_fp"),
    )
    mnfp = (F.col("n") * mfp).cast("double")
    mu_c = F.col("sx_fp").cast("double") / mnfp
    stats = per_dim.select(
        "dim",
        "n",
        mu_c.alias("mu"),
        # clamp before the root: floor-quantized variance can be a hair
        # negative for constant dims — Spark sqrt would give NaN (and
        # NaN > 0 is true here, taking the wrong branch) while the
        # DuckDB oracle would throw Out of Range
        F.sqrt(
            F.greatest(
                F.col("sx2_fp").cast("double") / mnfp - mu_c * mu_c,
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    safe_sigma = F.when(F.col("sigma") > 0, F.col("sigma")).otherwise(
        F.lit(1.0)
    )
    whitened = dims.join(F.broadcast(stats), "dim").select(
        "dim", ((F.col("x") - F.col("mu")) / safe_sigma).alias("wx")
    )
    # certificate sums are fixed-point floors, NOT decimal casts: a
    # double→decimal cast of an arbitrary quotient rounds differently
    # in Spark (shortest-string) vs DuckDB (exact expansion) at the
    # scale boundary, while floor(x·2²⁰) of identical doubles is
    # identical everywhere — the LM/PQ quantization pattern
    fp = 1 << 20
    wagg = whitened.groupBy("dim").agg(
        F.sum(F.floor(F.col("wx") * fp).cast("bigint")).alias("swx_fp"),
        F.sum(
            F.floor(F.col("wx") * F.col("wx") * fp).cast("bigint")
        ).alias("swx2_fp"),
    )
    nfp = (F.col("n") * fp).cast("double")
    mean_w = F.col("swx_fp").cast("double") / nfp
    var_w = F.col("swx2_fp").cast("double") / nfp - mean_w * mean_w
    return (
        stats.join(wagg, "dim")
        .select(
            "dim",
            "n",
            "mu",
            "sigma",
            mean_w.alias("mean_w"),
            var_w.alias("var_w"),
        )
        .select(
            "*",
            (
                (F.abs(F.col("mean_w")) < 1e-4)
                & (
                    (F.abs(F.col("var_w") - 1.0) < 1e-3)
                    | (F.col("sigma") <= 0)
                )
            ).alias("well_conditioned"),
        )
    )


_EMB_WHITEN_SQL = """
WITH dims AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), per_dim AS (
  SELECT dim, COUNT(*) AS n,
         SUM(CAST(floor(x * 1073741824) AS BIGINT)) AS sx_fp,
         SUM(CAST(floor(x * x * 1073741824) AS BIGINT)) AS sx2_fp
  FROM dims GROUP BY dim
), stats AS (
  SELECT dim, n,
         CAST(sx_fp AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE) AS mu,
         sqrt(GREATEST(
              CAST(sx2_fp AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE)
              - (CAST(sx_fp AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE))
                * (CAST(sx_fp AS DOUBLE) / CAST(n * 1073741824 AS DOUBLE)),
              0))
           AS sigma
  FROM per_dim
), whitened AS (
  SELECT d.dim,
         (x - mu) / (CASE WHEN sigma > 0 THEN sigma ELSE 1.0 END) AS wx
  FROM dims d JOIN stats USING (dim)
), wagg AS (
  SELECT dim,
         SUM(CAST(floor(wx * 1048576) AS BIGINT)) AS swx_fp,
         SUM(CAST(floor(wx * wx * 1048576) AS BIGINT)) AS swx2_fp
  FROM whitened GROUP BY dim
)
SELECT s.dim, n, mu, sigma,
       CAST(swx_fp AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) AS mean_w,
       CAST(swx2_fp AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)
         - (CAST(swx_fp AS DOUBLE) / CAST(n * 1048576 AS DOUBLE))
           * (CAST(swx_fp AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)) AS var_w,
       (abs(CAST(swx_fp AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)) < 1e-4
        AND (abs(CAST(swx2_fp AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)
                 - (CAST(swx_fp AS DOUBLE) / CAST(n * 1048576 AS DOUBLE))
                   * (CAST(swx_fp AS DOUBLE) / CAST(n * 1048576 AS DOUBLE))
                 - 1.0) < 1e-3
             OR sigma <= 0)) AS well_conditioned
FROM stats s JOIN wagg w ON s.dim = w.dim
"""


QUOTA_N = 16  # max docs kept per source


def corpus_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping: keep at most {QUOTA_N} documents per
    source, priority = (md5(doc_id), doc_id) — a deterministic uniform
    "random" order, so reruns and appends keep the SAME winners (new
    docs displace losers only if their hash sorts earlier; no rand()).
    Output certifies the kept set per source: counts plus an
    order-insensitive xor checksum of the kept doc hashes.

    Scale (round 10): the old single-pass form ranked EVERY doc per
    source (the rank fed aggregate CASE conditions, so Spark's
    rank-limit pushdown could not fire — no WindowGroupLimit in the
    before plan) and aggregated the full ranking in |sources| sort
    tasks. Restructured: the per-source doc COUNT rides a
    map-side-combined groupBy, and the kept set is a plain
    rank ≤ {QUOTA_N} window that Spark 4.1 now CAN plan with a
    map-side partial WindowGroupLimit (each task ships only its local
    top-{QUOTA_N} per source). Identical kept set, counts and xor
    checksum — same oracle hash."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        hash60(F.md5(F.col("doc_id").cast("string"))).alias("h"),
    )
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    kept = docs.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= QUOTA_N
    )
    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr("bit_xor(h)").alias("xor_kept"),
    )
    return counts.join(kept_agg, "source").select(
        "source",
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
        "xor_kept",
    )


_QUOTA_CAP_SQL = f"""
WITH ranked AS (
  SELECT source, doc_id,
         {sql_md5_int60("CAST(doc_id AS VARCHAR)")} AS h,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {sql_md5_int60("CAST(doc_id AS VARCHAR)")}, doc_id
         ) AS rk
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rk <= {QUOTA_N} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN rk > {QUOTA_N} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       BIT_XOR(CASE WHEN rk <= {QUOTA_N} THEN h END) AS xor_kept
FROM ranked GROUP BY source
"""


PAD_BUCKET = 64  # pad-to-multiple granularity for bucketed batching


def corpus_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-padding efficiency audit: how many pad tokens a trainer
    burns per source if sequences are padded to the per-source max
    (naive batching) vs padded to the next PAD_BUCKET multiple
    (length-bucketed batching) — the number that justifies building a
    length-bucketed loader. One aggregation per source computes both:
    waste_bucketed = PAD_BUCKET·Σceil(n/PAD_BUCKET) − Σn and
    waste_global = n_docs·max(n) − Σn, all integer-exact (ceil as
    (n+B−1) div B, no doubles until the final saving ratio)."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.sum(
            F.expr(f"(n + {PAD_BUCKET - 1}) div {PAD_BUCKET}")
        ).alias("sum_buckets"),
        F.max("n").alias("max_tokens"),
    )
    wb = F.lit(PAD_BUCKET) * F.col("sum_buckets") - F.col("total_tokens")
    wg = F.col("n_docs") * F.col("max_tokens") - F.col("total_tokens")
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        "max_tokens",
        wg.alias("waste_global"),
        wb.alias("waste_bucketed"),
        F.when(wg > 0, (wg - wb).cast("double") / wg.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("saving_frac"),
    )


_PADDING_WASTE_SQL = f"""
WITH per_doc AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
), agg AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS total_tokens,
         CAST(SUM((n + {PAD_BUCKET - 1}) // {PAD_BUCKET}) AS BIGINT)
           AS sum_buckets,
         MAX(n) AS max_tokens
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, total_tokens, max_tokens,
       n_docs * max_tokens - total_tokens AS waste_global,
       {PAD_BUCKET} * sum_buckets - total_tokens AS waste_bucketed,
       CASE WHEN n_docs * max_tokens - total_tokens > 0
            THEN CAST((n_docs * max_tokens - total_tokens)
                      - ({PAD_BUCKET} * sum_buckets - total_tokens)
                      AS DOUBLE)
                 / CAST(n_docs * max_tokens - total_tokens AS DOUBLE)
            ELSE 0.0 END AS saving_frac
FROM agg
"""


def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: the numbers a released corpus documents —
    size (docs / sources / chars / whitespace tokens), exact-duplicate
    rate, labeled-language breadth, and the train/val/test sizes the
    hash split produces. Composes the split rule and the exact-dedup
    hash group into a single statement (two scans: one doc-level pass,
    one 16-byte-hash group), so the card is always consistent with the
    operators it summarizes — no drift between documentation and
    pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    slot = hash60(F.md5(F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(slot < TRAIN_PCT, F.lit("train"))
        .when(slot < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    per_doc = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_toks"),
        F.md5("text").alias("content_md5"),
        split.alias("split"),
    )
    dup_docs = (
        per_doc.groupBy("content_md5")
        .agg(F.count(F.lit(1)).alias("copies"))
        .agg(
            F.sum(F.col("copies") - 1).alias("exact_dup_docs"),
        )
    )
    card = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_toks").alias("total_ws_tokens"),
        F.sum((F.col("split") == "train").cast("long")).alias("train_docs"),
        F.sum((F.col("split") == "val").cast("long")).alias("val_docs"),
        F.sum((F.col("split") == "test").cast("long")).alias("test_docs"),
    )
    return card.crossJoin(dup_docs).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_chars",
        "total_ws_tokens",
        "train_docs",
        "val_docs",
        "test_docs",
        "exact_dup_docs",
        (
            F.col("exact_dup_docs").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("exact_dup_rate"),
    )


def _dataset_card_sql() -> str:
    return f"""
WITH per_doc AS (
  SELECT doc_id, source, lang, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         md5(text) AS content_md5,
         CASE WHEN {_DOC_SLOT_SQL} < {TRAIN_PCT} THEN 'train'
              WHEN {_DOC_SLOT_SQL} < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), dup AS (
  SELECT CAST(SUM(copies - 1) AS BIGINT) AS exact_dup_docs
  FROM (SELECT COUNT(*) AS copies FROM per_doc GROUP BY content_md5)
), card AS (
  SELECT COUNT(*) AS n_docs,
         COUNT(DISTINCT source) AS n_sources,
         COUNT(DISTINCT lang) AS n_langs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(n_toks) AS BIGINT) AS total_ws_tokens,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS train_docs,
         CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
           AS val_docs,
         CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
           AS test_docs
  FROM per_doc
)
SELECT n_docs, n_sources, n_langs, total_chars, total_ws_tokens,
       train_docs, val_docs, test_docs, exact_dup_docs,
       CAST(exact_dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)
         AS exact_dup_rate
FROM card, dup
"""


SEM_BENCH_MOD = 20  # every 20th vector plays the held-out benchmark...
# ...capped at a FIXED count: real eval suites don't grow with the
# corpus, and an uncapped demo bench made the demo n·|bench| fold
# quadratic (measured 31 s at sf1 — the op's only super-linear term,
# and an artifact of the demo INPUT, not the plan)
SEM_BENCH_MAX_ID = SEM_BENCH_MOD * 500  # ≤500 bench vectors, fixed
SEM_TAU = 0.9  # cosine threshold for "semantically contaminated"
SEM_FP = 1 << 20  # fixed-point scale for the max-cos aggregate


def corpus_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination: flag corpus vectors whose
    best cosine against the held-out set reaches {SEM_TAU} — the
    embedding-space complement of `corpus_decontaminate`'s exact
    n-gram overlap, catching paraphrased/translated eval leakage that
    shares no shingles.

    Plan shape is the one this problem actually has at 100 TB: the
    bench side is an eval suite (thousands of vectors, KBs–MBs), so it
    is collected once and rides in the closure of one Arrow batch scan
    of the corpus (``pairscore.panel_max``): n·|bench| dot products,
    no pair relation and no corpus shuffle, and the per-vector max
    folds in the same pass. If the bench set ever outgrows the driver,
    the escalation is the sign-bucket LSH prefilter already shipped for
    `dedup_embedding`. Cosine is the sequential double fold — the same
    left-associative reduction DuckDB's list_reduce performs, so the
    comparison against {SEM_TAU} and the floor-quantized aggregate are
    bit-identical to the oracle."""
    ensure_package_on_workers(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    _, bench = pairscore.stack(
        emb.filter(
            (F.col("vec_id") % SEM_BENCH_MOD == 0)
            & (F.col("vec_id") < SEM_BENCH_MAX_ID)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    corpus = emb.filter(
        (F.col("vec_id") % SEM_BENCH_MOD != 0)
        | (F.col("vec_id") >= SEM_BENCH_MAX_ID)
    ).select("vec_id", "label", "embedding")
    # vec_id is a key, so a row's max is its (vec_id, label) group's max
    per_vec = corpus.mapInArrow(
        lambda batches: (
            pairscore.panel_max(b, bench, ["vec_id", "label"]) for b in batches
        ),
        "vec_id bigint, label int, max_cos double",
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.sum((F.col("max_cos") >= SEM_TAU).cast("bigint")).alias(
            "n_contaminated"
        ),
        F.sum(
            F.floor(F.col("max_cos") * SEM_FP).cast("bigint")
        ).alias("sum_maxcos_fp"),
        F.max("max_cos").alias("top_cos"),
    )


def _decontaminate_semantic_sql() -> str:
    return f"""
WITH b AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {SEM_BENCH_MOD} = 0 AND vec_id < {SEM_BENCH_MAX_ID}
), a AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE vec_id % {SEM_BENCH_MOD} <> 0 OR vec_id >= {SEM_BENCH_MAX_ID}
), per_vec AS (
  SELECT a.vec_id, a.label, MAX({sql_cosine("a.embedding", "b.embedding")}) AS max_cos
  FROM a, b GROUP BY a.vec_id, a.label
)
SELECT label, COUNT(*) AS n_corpus,
       CAST(SUM(CASE WHEN max_cos >= {SEM_TAU} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       CAST(SUM(CAST(floor(max_cos * {SEM_FP}) AS BIGINT)) AS BIGINT)
         AS sum_maxcos_fp,
       MAX(max_cos) AS top_cos
FROM per_vec GROUP BY label
"""


BUDGET_MULT = 3  # plan a training run of 3× the corpus token count
BUDGET_FP = 1 << 20  # fixed-point scale for repeat factors
BUDGET_MAX_EPOCHS_FP = 4 * BUDGET_FP  # >4 epochs ⇒ data-constrained


def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixing plan: given each source's available tokens
    and its temperature weight (α = 0.5, the corpus_mix_temperature
    rule), allocate a {BUDGET_MULT}× -corpus-tokens training budget
    across sources and report the REPEAT FACTOR each source would run
    at — the planning table a data-constrained training run reads to
    see which sources exceed the ~4-epoch repetition ceiling and need
    either down-weighting or new data. sqrt flattening boosts small
    sources' shares above their token shares, so THEY are the ones
    that trip the ceiling — exactly the over-repetition the table
    exists to surface.

    One aggregation over the corpus (per-source token counts), then
    source-cardinality arithmetic: weights are floor-quantized sqrt
    (exact both engines), allocations and repeat factors are
    fixed-point integers from exact division — every column the oracle
    hashes is integer-exact or a double derived from one exact ratio."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select(
            "source",
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
        )
        .groupBy("source")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    w = per_src.select(
        "source",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * MIX_SCALE)
        .cast("bigint")
        .alias("weight"),
    )
    tot = w.select(
        "*",
        F.sum("n_tokens").over(Window.partitionBy()).alias("tok_total"),
        F.sum("weight").over(Window.partitionBy()).alias("w_total"),
    )
    budget = F.col("tok_total") * BUDGET_MULT
    target = F.floor(
        F.col("weight").cast("double")
        / F.col("w_total").cast("double")
        * budget.cast("double")
    ).cast("bigint")
    out = tot.select(
        "source",
        "n_tokens",
        "weight",
        target.alias("target_tokens"),
    ).select(
        "*",
        F.expr(f"CAST(target_tokens * {BUDGET_FP} DIV n_tokens AS BIGINT)")
        .alias("repeat_fp"),
    )
    return out.select(
        "*",
        (F.col("repeat_fp") > BUDGET_MAX_EPOCHS_FP).alias(
            "data_constrained"
        ),
        (
            F.col("repeat_fp").cast("double") / BUDGET_FP
        ).alias("repeat_factor"),
    )


_TOKEN_BUDGET_SQL = f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), w AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * {MIX_SCALE}) AS BIGINT)
           AS weight
  FROM per_src
), tot AS (
  SELECT source, n_tokens, weight,
         CAST(SUM(n_tokens) OVER () AS BIGINT) AS tok_total,
         CAST(SUM(weight) OVER () AS BIGINT) AS w_total
  FROM w
), planned AS (
  SELECT source, n_tokens, weight,
         CAST(floor(CAST(weight AS DOUBLE) / CAST(w_total AS DOUBLE)
                    * CAST(tok_total * {BUDGET_MULT} AS DOUBLE))
              AS BIGINT) AS target_tokens
  FROM tot
)
SELECT source, n_tokens, weight, target_tokens,
       CAST(target_tokens * {BUDGET_FP} // n_tokens AS BIGINT) AS repeat_fp,
       CAST(target_tokens * {BUDGET_FP} // n_tokens AS BIGINT)
         > {BUDGET_MAX_EPOCHS_FP} AS data_constrained,
       CAST(CAST(target_tokens * {BUDGET_FP} // n_tokens AS BIGINT)
            AS DOUBLE) / {BUDGET_FP} AS repeat_factor
FROM planned
"""


PARETO_BANDS = 20  # equal-width quality bands in the cutoff ROI table
PARETO_QFP = 1 << 20  # fixed-point scale for quality scores


def corpus_quality_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-cutoff ROI curve: the table a filtering decision reads
    BEFORE picking a threshold — for each of {PARETO_BANDS}
    equal-width quality bands (band {PARETO_BANDS - 1} = best), how
    many docs/tokens the band holds, the cumulative tokens KEPT if the
    cutoff is set at the band's floor (everything at or above it), the
    fraction of the corpus that keeps, and the band's quality range.
    C4/Gopher-style pipelines publish exactly this tradeoff ("dropping
    the bottom 30% costs X% of tokens"); `corpus_filter_funnel` prices
    a FIXED rule chain — this prices EVERY cutoff at once. Scores
    reuse text.with_quality_stats verbatim (already hash-verified
    engine-identical), so the curve composes with the quality gate it
    would configure.

    Banding is deliberately equal-width, NOT ntile deciles: an exact
    global ntile needs a single-partition total-order sort of the
    corpus (fine for dimension tables — see q_balance_deciles'
    boundary note — fatal for a 100 TB documents scan). Here the band
    id is pure integer arithmetic on the fixed-point score against a
    broadcast 1-row (min, max) aggregate — map-only over the corpus,
    then a ≤{PARETO_BANDS}-row aggregate; the running totals are
    windows over those {PARETO_BANDS} rows, never the corpus. All
    hashed doubles derive from exact BIGINTs (band means from summed
    fixed-point scores; band min/max are order-independent over
    bit-identical doubles)."""
    from blog_snapshotbackup_azuredatalake_spark.operators.text import (
        with_quality_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_stats(docs.select("doc_id", "text")).select(
        "doc_id",
        "n_tokens",
        "quality_score",
        F.floor(F.col("quality_score") * PARETO_QFP)
        .cast("bigint")
        .alias("q_fp"),
    )
    rng = scored.agg(
        F.min("q_fp").alias("mn_fp"), F.max("q_fp").alias("mx_fp")
    )
    banded = scored.crossJoin(F.broadcast(rng)).select(
        "n_tokens",
        "quality_score",
        "q_fp",
        F.expr(
            f"CAST(least((q_fp - mn_fp) * {PARETO_BANDS}"
            f" DIV (mx_fp - mn_fp + 1), {PARETO_BANDS - 1}) AS INT)"
        ).alias("band"),
        F.expr(
            f"mn_fp + (mx_fp - mn_fp + 1) * ((q_fp - mn_fp)"
            f" * {PARETO_BANDS} DIV (mx_fp - mn_fp + 1))"
            f" DIV {PARETO_BANDS}"
        ).alias("band_lo_fp"),
    )
    per_band = banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("q_fp").alias("sum_q_fp"),
        F.min("band_lo_fp").alias("band_lo_fp"),
        F.min("quality_score").alias("min_quality"),
        F.max("quality_score").alias("max_quality"),
    )
    wc = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    return per_band.select(
        "band",
        "n_docs",
        "n_tokens",
        (F.col("band_lo_fp").cast("double") / F.lit(float(PARETO_QFP)))
        .alias("band_floor"),
        F.sum("n_tokens").over(wc).alias("cum_tokens_kept"),
        (
            F.sum("n_tokens").over(wc).cast("double")
            / F.sum("n_tokens").over(wt).cast("double")
        ).alias("token_frac_kept"),
        (
            F.col("sum_q_fp").cast("double")
            / F.col("n_docs").cast("double")
            / F.lit(float(PARETO_QFP))
        ).alias("mean_quality"),
        "min_quality",
        "max_quality",
    )


_QUALITY_PARETO_SQL_TMPL = """
WITH {qctes},
scored AS (
  SELECT doc_id, n_tokens, quality_score,
         CAST(floor(quality_score * {qfp}) AS BIGINT) AS q_fp
  FROM qscored
),
rng AS (
  SELECT MIN(q_fp) AS mn_fp, MAX(q_fp) AS mx_fp FROM scored
),
banded AS (
  SELECT n_tokens, quality_score, q_fp,
         CAST(LEAST((q_fp - mn_fp) * {bands} // (mx_fp - mn_fp + 1),
                    {bands} - 1) AS INT) AS band,
         mn_fp + (mx_fp - mn_fp + 1)
           * ((q_fp - mn_fp) * {bands} // (mx_fp - mn_fp + 1))
           // {bands} AS band_lo_fp
  FROM scored CROSS JOIN rng
),
per_band AS (
  SELECT band, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(q_fp) AS BIGINT) AS sum_q_fp,
         CAST(MIN(band_lo_fp) AS BIGINT) AS band_lo_fp,
         MIN(quality_score) AS min_quality,
         MAX(quality_score) AS max_quality
  FROM banded GROUP BY band
)
SELECT band, n_docs, n_tokens,
       CAST(band_lo_fp AS DOUBLE) / {qfp} AS band_floor,
       CAST(SUM(n_tokens) OVER (ORDER BY band DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT)
         AS cum_tokens_kept,
       CAST(SUM(n_tokens) OVER (ORDER BY band DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS DOUBLE)
         / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_frac_kept,
       CAST(sum_q_fp AS DOUBLE) / CAST(n_docs AS DOUBLE) / {qfp}
         AS mean_quality,
       min_quality, max_quality
FROM per_band
"""


def _quality_pareto_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.text import (
        sql_quality_ctes,
    )

    return _QUALITY_PARETO_SQL_TMPL.format(
        qctes=sql_quality_ctes("(SELECT doc_id, text FROM documents)"),
        qfp=PARETO_QFP,
        bands=PARETO_BANDS,
    )


ANNEAL_PCT = 10  # final-phase share of the training budget, percent


def corpus_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase training-mix schedule with a quality-weighted anneal
    tail — the "midtraining" pattern public model reports describe
    (e.g. MiniCPM / Llama-3 style decay-phase upsampling of
    high-quality sources): the MAIN phase ({100 - ANNEAL_PCT}% of a
    1×-corpus token budget) allocates by the house α = 0.5
    temperature rule (sqrt-flattened token shares, exactly
    corpus_mix_temperature), while the ANNEAL phase (the last
    {ANNEAL_PCT}%) re-weights sources by their MEAN QUALITY SCORE
    (text.with_quality_stats, fixed-point mean per source) so the
    budget tail concentrates on the cleanest sources. Output is one
    row per (source, phase) with the phase weight, allocated tokens,
    and the per-source repeat factor the allocation implies — the
    anneal rows answer "which sources does the tail actually
    upsample, and do they over-repeat" (the same {BUDGET_FP}
    fixed-point repeat convention as corpus_token_budget_plan).

    One corpus pass (per-source token + quality-sum aggregate), then
    source-cardinality arithmetic: weights are integer (sqrt
    floor-quantized / BIGINT mean-quality fixed point, floored at 1
    so a degenerate all-negative-quality source still draws), and
    every allocation is floor(double-of-exact-ints) — the pattern the
    budget-plan oracle already hash-verifies."""
    from blog_snapshotbackup_azuredatalake_spark.operators.text import (
        with_quality_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_stats(docs.select("doc_id", "source", "text"))
    per_src = scored.select(
        "source",
        "n_tokens",
        F.floor(F.col("quality_score") * PARETO_QFP)
        .cast("bigint")
        .alias("q_fp"),
    ).groupBy("source").agg(
        F.sum("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("q_fp").alias("sum_q_fp"),
    )
    base = per_src.select(
        "*",
        F.sum("n_tokens").over(Window.partitionBy()).alias("tok_total"),
    )
    main_w = (
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * MIX_SCALE)
        .cast("bigint")
    )
    ann_w = F.greatest(
        F.expr("sum_q_fp DIV n_docs"), F.lit(1).cast("bigint")
    )
    phased = base.select(
        "source", "n_tokens", "tok_total",
        F.lit("main").alias("phase"), main_w.alias("weight"),
    ).unionByName(
        base.select(
            "source", "n_tokens", "tok_total",
            F.lit("anneal").alias("phase"), ann_w.alias("weight"),
        )
    )
    wp = Window.partitionBy("phase")
    ann_budget = F.expr(f"tok_total * {ANNEAL_PCT} DIV 100")
    budget = F.when(F.col("phase") == "anneal", ann_budget).otherwise(
        F.col("tok_total") - ann_budget
    )
    alloc = F.floor(
        F.col("weight").cast("double")
        / F.sum("weight").over(wp).cast("double")
        * budget.cast("double")
    ).cast("bigint")
    return phased.select(
        "source",
        "phase",
        "n_tokens",
        "weight",
        alloc.alias("alloc_tokens"),
    ).select(
        "*",
        F.expr(f"CAST(alloc_tokens * {BUDGET_FP} DIV n_tokens AS BIGINT)")
        .alias("repeat_fp"),
    )


_ANNEAL_SQL_TMPL = """
WITH {qctes},
per_src AS (
  SELECT source,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_docs,
         CAST(SUM(CAST(floor(quality_score * {qfp}) AS BIGINT))
              AS BIGINT) AS sum_q_fp
  FROM qscored GROUP BY source
),
base AS (
  SELECT *, CAST(SUM(n_tokens) OVER () AS BIGINT) AS tok_total
  FROM per_src
),
phased AS (
  SELECT source, n_tokens, tok_total, 'main' AS phase,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * {mix_scale})
              AS BIGINT) AS weight
  FROM base
  UNION ALL
  SELECT source, n_tokens, tok_total, 'anneal' AS phase,
         GREATEST(sum_q_fp // n_docs, 1) AS weight
  FROM base
),
alloced AS (
  SELECT source, phase, n_tokens, weight,
         CAST(floor(CAST(weight AS DOUBLE)
                    / CAST(SUM(weight) OVER (PARTITION BY phase)
                           AS DOUBLE)
                    * CAST(CASE WHEN phase = 'anneal'
                                THEN tok_total * {pct} // 100
                                ELSE tok_total
                                     - tok_total * {pct} // 100
                           END AS DOUBLE))
              AS BIGINT) AS alloc_tokens
  FROM phased
)
SELECT source, phase, n_tokens, weight, alloc_tokens,
       CAST(alloc_tokens * {bfp} // n_tokens AS BIGINT) AS repeat_fp
FROM alloced
"""


def _anneal_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.text import (
        sql_quality_ctes,
    )

    return _ANNEAL_SQL_TMPL.format(
        qctes=sql_quality_ctes(
            "(SELECT doc_id, source, text FROM documents)"
        ),
        qfp=PARETO_QFP,
        mix_scale=MIX_SCALE,
        pct=ANNEAL_PCT,
        bfp=BUDGET_FP,
    )


EPOCH_MAX = 8  # epochs tabulated per source in the ROI table
EPOCH_FP = 1 << 20  # fixed-point scale for effective-token columns


def corpus_epoch_roi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-epoch ROI table: the planning surface for
    data-constrained training (Muennighoff et al., "Scaling
    Data-Constrained Language Models" — repeating data has rapidly
    diminishing value; their fitted R* decays roughly geometrically).
    For every (source, epochs e ≤ {EPOCH_MAX}) this tabulates the
    EFFECTIVE token count under a binary-exact geometric reuse
    discount δ = 1/2 (a proxy chosen so every engine computes it
    exactly with integer shifts, stated as such — the paper's fit is
    a calibration away): eff(e) = n_tokens · Σ_{{i<e}} δ^i
    = n_tokens · (2^e − 1) / 2^(e−1), plus the marginal value of the
    e-th epoch (δ^(e−1), an exact power of two) and the fraction of
    the 2·n_tokens asymptotic value captured (1 − 2^−e). A training
    planner joins this against its token budget to pick per-source
    epoch counts — `corpus_token_budget_plan` answers "what repeat
    factor does the α = 0.5 mix imply"; THIS table answers "what is
    each marginal epoch still worth".

    Plan shape at 100 TB: one map-side-combined groupBy(source) over
    the corpus (token counts — the same whitespace convention as the
    budget plan), then a constant ×{EPOCH_MAX} generator fan-out on a
    source-cardinality relation. No joins against the corpus, no
    driver arithmetic; every hashed column is either an exact BIGINT
    (fixed-point effective tokens, integer shifts both engines) or a
    double derived from one exact power-of-two ratio."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select(
            "source",
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias(
                "n_tok"
            ),
        )
        .groupBy("source")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    epochs = per_src.select(
        "source",
        "n_tokens",
        F.explode(F.sequence(F.lit(1), F.lit(EPOCH_MAX))).alias("epoch"),
    )
    # 2^(epoch-1) divides EPOCH_FP = 2^20 exactly (epoch ≤ EPOCH_MAX
    # = 8 ≤ 21), so the ·EPOCH_FP ÷ 2^(epoch-1) pair folds into one
    # power-of-two factor 2^(21-epoch): bit-identical results with
    # ~128× more integer headroom. The unfolded form computed
    # n_tokens·(2^epoch−1)·2^20 BEFORE dividing, which wraps int64 for
    # sources above ~3.4e10 tokens at epoch 8 — Spark (non-ANSI) wraps
    # silently while the DuckDB oracle errors, an engine divergence at
    # exactly the 100 TB scale this table is for (round-10 ADVICE fix;
    # oracle SQL folded in lockstep).
    eff_fp = F.expr(
        "CAST(n_tokens * (shiftleft(CAST(1 AS BIGINT), epoch) - 1)"
        " * shiftleft(CAST(1 AS BIGINT), 21 - epoch) AS BIGINT)"
    )
    return epochs.select(
        "source",
        "n_tokens",
        "epoch",
        eff_fp.alias("eff_tokens_fp"),
        (eff_fp.cast("double") / F.lit(float(EPOCH_FP))).alias(
            "eff_tokens"
        ),
        F.expr(
            "CAST(1.0 AS DOUBLE)"
            " / shiftleft(CAST(1 AS BIGINT), epoch - 1)"
        ).alias("marginal_value"),
        F.expr(
            "CAST(1.0 AS DOUBLE)"
            " - CAST(1.0 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), epoch)"
        ).alias("value_captured_frac"),
    )


_EPOCH_ROI_SQL = f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), epochs AS (
  SELECT source, n_tokens, CAST(e AS INT) AS epoch
  FROM per_src, UNNEST(range(1, {EPOCH_MAX + 1})) AS t(e)
)
SELECT source, n_tokens, epoch,
       CAST(n_tokens * ((CAST(1 AS BIGINT) << epoch) - 1)
            * (CAST(1 AS BIGINT) << (21 - epoch)) AS BIGINT)
         AS eff_tokens_fp,
       CAST(CAST(n_tokens * ((CAST(1 AS BIGINT) << epoch) - 1)
                 * (CAST(1 AS BIGINT) << (21 - epoch)) AS BIGINT)
            AS DOUBLE) / {EPOCH_FP} AS eff_tokens,
       CAST(1.0 AS DOUBLE) / (CAST(1 AS BIGINT) << (epoch - 1))
         AS marginal_value,
       CAST(1.0 AS DOUBLE)
         - CAST(1.0 AS DOUBLE) / (CAST(1 AS BIGINT) << epoch)
         AS value_captured_frac
FROM epochs
"""


OUT_MFP = 1 << 30  # fixed-point scale for the moment sums
OUT_SFP = 1 << 20  # fixed-point scale for the per-dim z² terms
OUT_TAU = 2.0  # mean squared z-score above this ⇒ outlier


def emb_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier gate: per-vector diagonal Mahalanobis score —
    the mean squared per-dimension z-score against the corpus — and
    per-label outlier counts at mean-z² > {OUT_TAU}. The curation step
    that drops corrupt/degenerate vectors (encoder NaN-adjacent
    outputs, wrong-model embeddings, truncation artifacts) before
    clustering or ANN indexing amplifies them.

    Two linear passes, the emb_whiten shape: pass 1 reduces to d
    per-dimension moment cells (fixed-point floor sums — exact,
    order-free); the d-row stats table broadcasts back onto pass 2,
    where each vector's score is an integer sum of floor-quantized
    per-dim z² terms — order-free again, so the aggregate is
    bit-identical in the DuckDB oracle. Nothing vector-count-sized is
    ever shuffled."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "xf"),
    ).select("vec_id", "label", "dim", F.col("xf").cast("double").alias("x"))
    per_dim = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * OUT_MFP).cast("bigint")).alias("sx_fp"),
        F.sum(
            F.floor(F.col("x") * F.col("x") * OUT_MFP).cast("bigint")
        ).alias("sx2_fp"),
    )
    mnfp = (F.col("n") * OUT_MFP).cast("double")
    mu = F.col("sx_fp").cast("double") / mnfp
    stats = per_dim.select(
        "dim",
        mu.alias("mu"),
        F.sqrt(
            F.greatest(
                F.col("sx2_fp").cast("double") / mnfp - mu * mu,
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    safe_sigma = F.when(F.col("sigma") > 0, F.col("sigma")).otherwise(
        F.lit(1.0)
    )
    z = (F.col("x") - F.col("mu")) / safe_sigma
    per_vec = (
        dims.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            "label",
            F.floor(z * z * OUT_SFP).cast("bigint").alias("z2_fp"),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.sum("z2_fp").alias("score_fp"),
            F.count(F.lit(1)).alias("d"),
        )
    )
    is_out = (
        F.col("score_fp").cast("double")
        > OUT_TAU * OUT_SFP * F.col("d").cast("double")
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(is_out.cast("bigint")).alias("n_outliers"),
        F.max("score_fp").alias("max_score_fp"),
        F.sum("score_fp").alias("sum_score_fp"),
    )


_EMB_OUTLIER_SQL = f"""
WITH dims AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), per_dim AS (
  SELECT dim, COUNT(*) AS n,
         SUM(CAST(floor(x * {OUT_MFP}) AS BIGINT)) AS sx_fp,
         SUM(CAST(floor(x * x * {OUT_MFP}) AS BIGINT)) AS sx2_fp
  FROM dims GROUP BY dim
), stats AS (
  SELECT dim,
         CAST(sx_fp AS DOUBLE) / CAST(n * {OUT_MFP} AS DOUBLE) AS mu,
         sqrt(GREATEST(
           CAST(sx2_fp AS DOUBLE) / CAST(n * {OUT_MFP} AS DOUBLE)
           - (CAST(sx_fp AS DOUBLE) / CAST(n * {OUT_MFP} AS DOUBLE))
             * (CAST(sx_fp AS DOUBLE) / CAST(n * {OUT_MFP} AS DOUBLE)),
           0)) AS sigma
  FROM per_dim
), per_vec AS (
  SELECT vec_id, label,
         CAST(SUM(CAST(floor(
           ((x - mu) / (CASE WHEN sigma > 0 THEN sigma ELSE 1.0 END))
           * ((x - mu) / (CASE WHEN sigma > 0 THEN sigma ELSE 1.0 END))
           * {OUT_SFP}) AS BIGINT)) AS BIGINT) AS score_fp,
         COUNT(*) AS d
  FROM dims JOIN stats USING (dim)
  GROUP BY vec_id, label
)
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN CAST(score_fp AS DOUBLE)
                          > {OUT_TAU} * {OUT_SFP} * CAST(d AS DOUBLE)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       MAX(score_fp) AS max_score_fp,
       CAST(SUM(score_fp) AS BIGINT) AS sum_score_fp
FROM per_vec GROUP BY label
"""


SHUFFLE_SHARDS = 16  # training shard count for the shuffle certificate


def corpus_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc gets a
    hash-derived shuffle key, `shard = key mod {SHUFFLE_SHARDS}` picks
    its training shard, and ordering by key within the shard is the
    write order. This is the step a 100 TB pipeline runs right before
    writing tokenized shards: reproducible (pure function of doc_id, no
    RNG state), balanced (hash-uniform shard sizes), and
    source-interleaved (hash order breaks up source runs so a training
    epoch doesn't read one source for an hour).

    Returns the per-shard certificate a writer would log instead of
    the shards themselves: size, source coverage, an order-sensitive
    adjacency count (how many consecutive pairs in write order share a
    source — the interleaving metric; windowed lag over the exact write
    order), and an order-insensitive XOR content checksum.

    Plan shape: ONE hash shuffle keyed by shard (exactly the exchange
    `df.repartition(shard).sortWithinPartitions(key)` would do for the
    real write), a window walk inside each shard, and a
    shard-cardinality aggregate. No driver-side state."""
    from pyspark.sql import Window

    from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
        md5_int60,
    )

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        md5_int60(F.col("doc_id").cast("string")).alias("key"),
    ).withColumn("shard", F.col("key") % SHUFFLE_SHARDS)
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    ordered = keyed.withColumn("prev_source", F.lag("source").over(w))
    return (
        ordered.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum(
                (F.col("prev_source") == F.col("source")).cast("bigint")
            ).alias("n_adjacent_same_source"),
            F.expr("bit_xor(key)").alias("xor_keys"),
        )
        .select(
            "*",
            (
                F.col("n_adjacent_same_source").cast("double")
                / F.greatest(F.col("n_docs") - 1, F.lit(1)).cast("double")
            ).alias("adjacent_same_source_frac"),
        )
    )


_SHARD_SHUFFLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source,
         {sql_md5_int60("CAST(doc_id AS VARCHAR)")} AS key
  FROM documents
), sharded AS (
  SELECT doc_id, source, key, key % {SHUFFLE_SHARDS} AS shard
  FROM keyed
), ordered AS (
  SELECT shard, source, key,
         LAG(source) OVER (PARTITION BY shard ORDER BY key, doc_id)
           AS prev_source
  FROM sharded
)
SELECT shard, COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(CASE WHEN prev_source = source THEN 1 ELSE 0 END)
            AS BIGINT) AS n_adjacent_same_source,
       BIT_XOR(key) AS xor_keys,
       CAST(SUM(CASE WHEN prev_source = source THEN 1 ELSE 0 END)
            AS DOUBLE)
         / CAST(GREATEST(COUNT(*) - 1, 1) AS DOUBLE)
           AS adjacent_same_source_frac
FROM ordered GROUP BY shard
"""


# ---------------------------------------------------------------------------
# cross-source n-gram overlap matrix
# ---------------------------------------------------------------------------


def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE overlap matrix — the mixture-design question every
    multi-source corpus asks before weighting (how much of source B is
    already inside source A? double-counted mass inflates effective
    epochs): per ordered source pair, the shared distinct-5-gram count
    plus asymmetric containment |A∩B| / |A| and symmetric Jaccard.
    Aggregate-level (set sizes), not pair-level — the complement of the
    doc-pair dedup family.

    Scale: distinct (source, gram) pairs (one shuffle, map-side
    combine), then a self-join ON GRAM whose output is ≤ |sources|² per
    gram — |S| is a catalog-sized constant, so the join is linear in
    distinct grams. Totals are |S| rows and ride a broadcast."""
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        grams_for,
    )

    docs = load_table(spark, sf_dir, "documents")
    # checkpoint before explode + self-join: both join branches read
    # the one materialized gram set, so the Arrow gram scan runs once
    # (as in text_gram_novelty)
    pairs = (
        grams_for(docs, keep=("source",))
        .localCheckpoint(eager=True)
        .select("source", F.explode("sh").alias("gram"))
        .distinct()
    )
    tot = pairs.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    joint = (
        pairs.alias("a")
        .join(pairs.alias("b"), "gram")
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        joint.join(
            F.broadcast(
                tot.select(
                    F.col("source").alias("source_a"),
                    F.col("n_grams").alias("ta"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                tot.select(
                    F.col("source").alias("source_b"),
                    F.col("n_grams").alias("tb"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("ta")).alias(
                "containment_a"
            ),
            (
                F.col("n_shared").cast("double")
                / (F.col("ta") + F.col("tb") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


_SOURCE_OVERLAP_SQL = """
WITH sh AS (
  SELECT doc_id, source, {grams} AS sh
  FROM (SELECT doc_id, source, {tokh} AS th FROM documents)
),
pairs AS (
  SELECT DISTINCT source, unnest(sh) AS gram FROM sh
),
tot AS (SELECT source, COUNT(*) AS n_grams FROM pairs GROUP BY source),
joint AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM pairs a JOIN pairs b USING (gram)
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, n_shared,
       CAST(n_shared AS DOUBLE) / ta.n_grams AS containment_a,
       CAST(n_shared AS DOUBLE)
         / (ta.n_grams + tb.n_grams - n_shared) AS jaccard
FROM joint
JOIN tot ta ON ta.source = joint.source_a
JOIN tot tb ON tb.source = joint.source_b
"""


def _source_overlap_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        SQL_GRAM_HASHES,
        SQL_TOKH,
    )

    return _SOURCE_OVERLAP_SQL.format(
        grams=SQL_GRAM_HASHES, tokh=SQL_TOKH
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling toward a target distribution
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 64  # hashed unigram feature buckets
DSIR_TARGET = "src0"  # the demo's target-domain slice
DSIR_FP = 1 << 20  # fixed-point scale for per-bucket importance ratios
RESAMPLE_N = 40  # docs drawn from the raw pool


def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resample the raw pool toward a target domain — the
    DSIR recipe (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling"): hashed-unigram bag features, per-bucket
    importance ratio between the target distribution (source =
    {DSIR_TARGET}) and the raw pool (every other source), per-document
    score from its own gram counts, deterministic top-{RESAMPLE_N} draw.

    Portability adaptation, per SURVEY §4's correctly-rounded-only
    rule: the standard per-bucket LOG ratio needs ln(), which neither
    engine guarantees correctly rounded, so the score is the linear
    fixed-point form Σ_b c_b·floor(2²⁰·p_t(b)/p_r(b)) — Laplace-
    smoothed probabilities, two IEEE divisions and one multiply, floor
    exact in both engines, every comparison thereafter BIGINT. Ranking
    is by per-gram average ratio (score // n_grams), which de-biases
    doc length the way DSIR's per-token log-likelihood ratio does.

    Scale shape: the per-doc-bucket count shuffle carries ≤{DSIR_BUCKETS}
    rows per doc (map-side combine collapses gram occurrences first);
    bucket stats are a {DSIR_BUCKETS}-row aggregate joined back as a
    broadcast; the final draw is two-phase top-N — per-source windows
    prune to {RESAMPLE_N} rows each before one tiny global window, so
    no corpus-sized single-partition sort exists at any size."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    per_db = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            "source",
            (hash60(F.md5(F.col("tok"))) % DSIR_BUCKETS).alias("bucket"),
        )
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_t = F.col("source") == DSIR_TARGET
    stats = per_db.groupBy("bucket").agg(
        F.coalesce(F.sum(F.when(is_t, F.col("c"))), F.lit(0)).alias("cnt_t"),
        F.coalesce(F.sum(F.when(~is_t, F.col("c"))), F.lit(0)).alias("cnt_r"),
    )
    totals = stats.agg(
        F.sum("cnt_t").alias("tot_t"), F.sum("cnt_r").alias("tot_r")
    )
    # one-row totals ride a crossJoin onto the 64-row stats (certificate-
    # merge pattern); p_t/p_r are IEEE divisions of exact-integer doubles
    ratios = stats.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor(
            (
                F.col("cnt_t").cast("double")
                + F.lit(1.0)
            )
            / (F.col("tot_t").cast("double") + F.lit(float(DSIR_BUCKETS)))
            / (
                (F.col("cnt_r").cast("double") + F.lit(1.0))
                / (F.col("tot_r").cast("double") + F.lit(float(DSIR_BUCKETS)))
            )
            * F.lit(float(DSIR_FP))
        )
        .cast("bigint")
        .alias("ratio_fp"),
    )
    scored = (
        per_db.filter(~is_t)
        .join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("c") * F.col("ratio_fp")).alias("score_fp"),
            F.sum("c").alias("n_grams"),
        )
        .withColumn(
            "avg_ratio_fp", F.expr("score_fp div n_grams").cast("bigint")
        )
    )
    # round 10: single window kept — Spark 4.1's WindowGroupLimit does
    # the map-side top-k per source before the exchange
    per_src = Window.partitionBy("source").orderBy(
        F.desc("avg_ratio_fp"), F.asc("doc_id")
    )
    pruned = scored.withColumn("srnk", F.row_number().over(per_src)).filter(
        F.col("srnk") <= RESAMPLE_N
    )
    w = Window.orderBy(F.desc("avg_ratio_fp"), F.asc("doc_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= RESAMPLE_N)
        .select(
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "source",
            "n_grams",
            "score_fp",
            "avg_ratio_fp",
        )
    )


_IMPORTANCE_SQL = f"""
WITH per_db AS (
  SELECT doc_id, source,
         {sql_md5_int60("tok")} % {DSIR_BUCKETS} AS bucket,
         COUNT(*) AS c
  FROM (SELECT doc_id, source,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, source, bucket
), stats AS (
  SELECT bucket,
         COALESCE(SUM(CASE WHEN source = '{DSIR_TARGET}' THEN c END), 0)
           AS cnt_t,
         COALESCE(SUM(CASE WHEN source <> '{DSIR_TARGET}' THEN c END), 0)
           AS cnt_r
  FROM per_db GROUP BY bucket
), totals AS (
  SELECT SUM(cnt_t) AS tot_t, SUM(cnt_r) AS tot_r FROM stats
), ratios AS (
  SELECT bucket,
         CAST(floor((CAST(cnt_t AS DOUBLE) + 1.0)
                    / (CAST(tot_t AS DOUBLE) + {DSIR_BUCKETS}.0)
                    / ((CAST(cnt_r AS DOUBLE) + 1.0)
                       / (CAST(tot_r AS DOUBLE) + {DSIR_BUCKETS}.0))
                    * {DSIR_FP}.0) AS BIGINT) AS ratio_fp
  FROM stats CROSS JOIN totals
), scored AS (
  SELECT doc_id, source,
         CAST(SUM(c * ratio_fp) AS BIGINT) AS score_fp,
         CAST(SUM(c) AS BIGINT) AS n_grams,
         CAST(SUM(c * ratio_fp) // SUM(c) AS BIGINT) AS avg_ratio_fp
  FROM per_db JOIN ratios USING (bucket)
  WHERE source <> '{DSIR_TARGET}'
  GROUP BY doc_id, source
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY avg_ratio_fp DESC, doc_id) AS INT)
         AS rank,
       doc_id, source, n_grams, score_fp, avg_ratio_fp
FROM scored
QUALIFY rank <= {RESAMPLE_N}
"""


# ---------------------------------------------------------------------------
# per-label embedding-distribution drift
# ---------------------------------------------------------------------------

LDRIFT_FP = 1 << 20  # fixed-point scale for per-dim means


def emb_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice embedding drift monitor: for every label slice, the
    squared distance between the slice's per-dim mean vector and the
    corpus mean, plus the single most-drifting dimension — the check
    that catches a slice whose embedding distribution silently shifted
    (re-embedded with a different model revision, corrupted preproc,
    adversarial injection) before it poisons retrieval or dedup.

    Portability: per-dim sums are order-independent BIGINT sums of
    floor(x·2²⁰) (the emb_dim_stats pattern); means divide those exact
    integers as doubles (IEEE division, bit-identical both engines) and
    re-floor, so every emitted number is a BIGINT certificate. Plan:
    one posexplode → (label, dim)-cell aggregate (cells, not rows,
    cross the wire), corpus row derived from the same cells and joined
    back as a {LDRIFT_FP}-broadcast; argmax dim via one max(struct) —
    no second scan, no window over the corpus."""
    emb = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    cells = emb.select(
        "label", F.posexplode("embedding").alias("p", "x")
    ).select(
        "label",
        (F.col("p") + 1).cast("bigint").alias("i"),  # 1-based like the oracle
        F.floor(F.col("x").cast("double") * LDRIFT_FP)
        .cast("bigint")
        .alias("xf"),
    )
    per = cells.groupBy("label", "i").agg(
        F.sum("xf").alias("s"), F.count(F.lit(1)).alias("n")
    )
    corpus = per.groupBy("i").agg(
        F.sum("s").alias("cs"), F.sum("n").alias("cn")
    )
    diff = (
        per.join(F.broadcast(corpus), "i")
        .select(
            "label",
            "i",
            "n",
            F.floor(
                F.col("s").cast("double") / F.col("n").cast("double")
                - F.col("cs").cast("double") / F.col("cn").cast("double")
            )
            .cast("bigint")
            .alias("diff_fp"),
        )
    )
    return (
        diff.groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            F.sum(F.col("diff_fp") * F.col("diff_fp")).alias("drift_sq_fp2"),
            F.max(
                F.struct(
                    F.abs("diff_fp").alias("a"),
                    (-F.col("i")).alias("ni"),
                    F.col("diff_fp").alias("d"),
                )
            ).alias("top"),
        )
        .select(
            "label",
            "n_vectors",
            "drift_sq_fp2",
            (-F.col("top.ni")).cast("int").alias("top_dim"),
            F.col("top.d").alias("top_dim_drift_fp"),
        )
    )


_LABEL_DRIFT_SQL = f"""
WITH cells AS (
  -- fixed 64-dim corpus (the emb_quantize_sq8 oracle's literal-range
  -- pattern; DuckDB's range() can't lateral-join len(embedding))
  SELECT label, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {LDRIFT_FP}) AS BIGINT)
           AS xf
  FROM embeddings, range(1, 65) t(i)
), per AS (
  SELECT label, i, SUM(xf) AS s, COUNT(*) AS n
  FROM cells GROUP BY label, i
), corpus AS (
  SELECT i, SUM(s) AS cs, SUM(n) AS cn FROM per GROUP BY i
), diff AS (
  SELECT label, per.i, n,
         CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                    - CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE)) AS BIGINT)
           AS diff_fp
  FROM per JOIN corpus ON per.i = corpus.i
), ranked AS (
  SELECT label, i, n, diff_fp,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY abs(diff_fp) DESC, i) AS rn
  FROM diff
)
SELECT d.label, CAST(MAX(d.n) AS BIGINT) AS n_vectors,
       CAST(SUM(d.diff_fp * d.diff_fp) AS BIGINT) AS drift_sq_fp2,
       CAST(MAX(CASE WHEN r.rn = 1 THEN r.i END) AS INT) AS top_dim,
       CAST(MAX(CASE WHEN r.rn = 1 THEN r.diff_fp END) AS BIGINT)
         AS top_dim_drift_fp
FROM diff d JOIN ranked r ON d.label = r.label AND d.i = r.i
GROUP BY d.label
"""


# corpus_version_diff's deterministic v2 mutation (the snap_diff pattern
# applied to the corpus): these three integer rules ARE the spec, shared
# verbatim with the oracle.
_CVD_REMOVE_MOD, _CVD_CHANGE_MOD, _CVD_ADD_MOD = 17, 11, 13
_CVD_ADD_OFFSET = 10_000_000


def _documents_v2(docs: DataFrame) -> DataFrame:
    """Next corpus version: drop ids ≡0 (mod {remove}), append ' edited'
    to ids ≡3 (mod {change}), and add a shortened copy of ids ≡1
    (mod {add}) under id+offset — adds, removes, AND changes, per
    source, so the diff exercises every branch."""
    kept = docs.filter(F.col("doc_id") % _CVD_REMOVE_MOD != 0)
    changed = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % _CVD_CHANGE_MOD == 3,
            F.concat(F.col("text"), F.lit(" edited")),
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % _CVD_ADD_MOD == 1).select(
        (F.col("doc_id") + _CVD_ADD_OFFSET).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return changed.unionByName(added)


def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version report — what changed between corpus v1 and v2,
    at the grain a training-data owner reviews before re-training: per
    source, docs added / removed / changed / unchanged plus the
    whitespace-token mass delta. The diff is a full-outer join of
    (doc_id, text-hash, token-count) manifests — hashes and counts
    shuffle, the text never does (the snap_diff discipline applied to
    the corpus); everything downstream of the join is one per-source
    agg. At 100 TB the wire cost is |catalog|, not |corpus|."""
    docs = load_table(spark, sf_dir, "documents")

    def manifest(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            "source",
            F.md5("text").alias("h"),
            F.size(F.split("text", " ")).cast("bigint").alias("toks"),
        )

    a = manifest(docs).alias("a")
    b = manifest(_documents_v2(docs)).alias("b")
    j = a.join(b, "doc_id", "full_outer").select(
        F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
        F.when(F.col("a.h").isNull(), F.lit("added"))
        .when(F.col("b.h").isNull(), F.lit("removed"))
        .when(F.col("a.h") != F.col("b.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
        (
            F.coalesce(F.col("b.toks"), F.lit(0))
            - F.coalesce(F.col("a.toks"), F.lit(0))
        ).alias("tok_delta"),
    )
    return j.groupBy("source").agg(
        F.sum((F.col("change_type") == "added").cast("long")).alias(
            "n_added"
        ),
        F.sum((F.col("change_type") == "removed").cast("long")).alias(
            "n_removed"
        ),
        F.sum((F.col("change_type") == "changed").cast("long")).alias(
            "n_changed"
        ),
        F.sum((F.col("change_type") == "unchanged").cast("long")).alias(
            "n_unchanged"
        ),
        F.sum("tok_delta").alias("token_delta"),
    )


_VERSION_DIFF_SQL = f"""
WITH v2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % {_CVD_CHANGE_MOD} = 3
              THEN text || ' edited' ELSE text END AS text
  FROM documents WHERE doc_id % {_CVD_REMOVE_MOD} <> 0
  UNION ALL
  SELECT doc_id + {_CVD_ADD_OFFSET}, source, substr(text, 1, 200)
  FROM documents WHERE doc_id % {_CVD_ADD_MOD} = 1
),
a AS (SELECT doc_id, source, md5(text) AS h,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents),
b AS (SELECT doc_id, source, md5(text) AS h,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM v2),
j AS (
  SELECT COALESCE(a.source, b.source) AS source,
         CASE WHEN a.h IS NULL THEN 'added'
              WHEN b.h IS NULL THEN 'removed'
              WHEN a.h <> b.h THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         COALESCE(b.toks, 0) - COALESCE(a.toks, 0) AS tok_delta
  FROM a FULL OUTER JOIN b USING (doc_id)
)
SELECT source,
       CAST(SUM(CASE WHEN change_type = 'added' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_added,
       CAST(SUM(CASE WHEN change_type = 'removed' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN change_type = 'changed' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_changed,
       CAST(SUM(CASE WHEN change_type = 'unchanged' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unchanged,
       CAST(SUM(tok_delta) AS BIGINT) AS token_delta
FROM j GROUP BY source
"""


def corpus_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI report: how many tokens each source wastes on exact
    copies. Exact-dup groups key on md5(text); the canonical holder is
    the min doc_id ACROSS sources (a copy of another source's document
    is still a copy), every other member's whitespace tokens count as
    waste, attributed to the copy's own source. Two shuffles total
    (hash groupBy for canonicals, source groupBy for the report); the
    join back is on the same hash key, so AQE co-partitions it with
    the first shuffle's output. inflation_ppm = wasted·10^6 div total
    (floor fixed-point, SURVEY §4)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("h"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("toks"),
    )
    canon = docs.groupBy("h").agg(F.min("doc_id").alias("canon_id"))
    marked = docs.join(canon, "h").select(
        "source",
        "toks",
        (F.col("doc_id") != F.col("canon_id")).alias("is_copy"),
    )
    agg = marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("is_copy"), 1).otherwise(0)).alias("dup_docs"),
        F.sum("toks").alias("tokens_total"),
        F.sum(F.when(F.col("is_copy"), F.col("toks")).otherwise(0)).alias(
            "tokens_wasted"
        ),
    )
    return agg.select(
        "source",
        F.col("docs").cast("bigint").alias("docs"),
        F.col("dup_docs").cast("bigint").alias("dup_docs"),
        F.col("tokens_total").cast("bigint").alias("tokens_total"),
        F.col("tokens_wasted").cast("bigint").alias("tokens_wasted"),
        F.expr(
            "tokens_wasted * 1000000 div greatest(tokens_total, 1)"
        ).cast("bigint").alias("inflation_ppm"),
    )


_DUP_INFLATION_SQL = """
WITH docs AS (
  SELECT doc_id, source, md5(text) AS h,
         len(string_split(text, ' ')) AS toks
  FROM documents
), canon AS (
  SELECT h, MIN(doc_id) AS canon_id FROM docs GROUP BY h
), marked AS (
  SELECT source, toks, doc_id <> canon_id AS is_copy
  FROM docs JOIN canon USING (h)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(CASE WHEN is_copy THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_docs,
       CAST(SUM(toks) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN is_copy THEN toks ELSE 0 END) AS BIGINT)
         AS tokens_wasted,
       CAST(SUM(CASE WHEN is_copy THEN toks ELSE 0 END) * 1000000
            // GREATEST(SUM(toks), 1) AS BIGINT) AS inflation_ppm
FROM marked GROUP BY source
"""


def corpus_near_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_dup_inflation's near-dup sibling: wasted-token ROI of a
    MINHASH dedup pass, per source. Cluster fold comes from the session
    substrate cache (grams → bands → verified pairs → CC labels built
    once per session, dedup.cc_labels_cached — the round-5 cache), the
    canonical member is the cluster's min doc_id (= cluster_id under
    min-label propagation), and every other member's whitespace tokens
    count as removable. Only the clustered MINORITY ever joins; the
    corpus meets one source groupBy."""
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        cc_labels_cached,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("toks"),
    )
    comp = cc_labels_cached(spark, sf_dir)
    marked = docs.join(comp, "doc_id", "left").select(
        "source",
        "toks",
        F.col("cluster_id").isNotNull().alias("clustered"),
        (
            F.col("cluster_id").isNotNull()
            & (F.col("doc_id") != F.col("cluster_id"))
        ).alias("removed"),
    )
    agg = marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("clustered"), 1).otherwise(0)).alias(
            "clustered_docs"
        ),
        F.sum(F.when(F.col("removed"), 1).otherwise(0)).alias(
            "removed_docs"
        ),
        F.sum("toks").alias("tokens_total"),
        F.sum(F.when(F.col("removed"), F.col("toks")).otherwise(0)).alias(
            "tokens_removed"
        ),
    )
    return agg.select(
        "source",
        F.col("docs").cast("bigint").alias("docs"),
        F.col("clustered_docs").cast("bigint").alias("clustered_docs"),
        F.col("removed_docs").cast("bigint").alias("removed_docs"),
        F.col("tokens_total").cast("bigint").alias("tokens_total"),
        F.col("tokens_removed").cast("bigint").alias("tokens_removed"),
        F.expr(
            "tokens_removed * 1000000 div greatest(tokens_total, 1)"
        ).cast("bigint").alias("near_inflation_ppm"),
    )


def _near_dup_inflation_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        sql_star_pair_ctes,
    )

    return f"""
WITH RECURSIVE {sql_star_pair_ctes()},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         FROM reach GROUP BY src),
marked AS (
  SELECT d.source, len(string_split(d.text, ' ')) AS toks,
         c.cluster_id IS NOT NULL AS clustered,
         c.cluster_id IS NOT NULL AND d.doc_id <> c.cluster_id AS removed
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
         AS clustered_docs,
       CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
         AS removed_docs,
       CAST(SUM(toks) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN removed THEN toks ELSE 0 END) AS BIGINT)
         AS tokens_removed,
       CAST(SUM(CASE WHEN removed THEN toks ELSE 0 END) * 1000000
            // GREATEST(SUM(toks), 1) AS BIGINT) AS near_inflation_ppm
FROM marked GROUP BY source
"""


def emb_diversity_moment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding diversity: EXACT average pairwise cosine in
    O(n·d) via the moment identity ``Σ_{i≠j} u_i·u_j = ||Σu||² −
    Σ||u_i||²`` — the 100 TB replacement for the O(n²) pairwise pass
    (SemDeDup-style cluster-tightness audits need exactly this number,
    and a million-vector label would cost 5·10¹¹ pairs naively; here
    the corpus is touched once).

    Parity: elements quantize to floor(x·2¹⁴) BIGINT (embeddings are
    unit-norm, so bias ≈ 2⁻¹³ on a cosine), per-(label,dim) sums are
    exact integers, ||Σq||² folds those 64 values in DECIMAL(38,0)
    (order-free), and the one decimal→double conversion goes through a
    string cast (DuckDB's direct cast double-rounds past 2^53 —
    q_autocorr_daily's sf1 lesson). Also emits the centroid norm (mean
    resultant length — the label's internal coherence).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * F.lit(16384)).cast("bigint").alias("q"),
    )
    per_ld = dims.groupBy("label", "dim").agg(F.sum("q").alias("s"))
    dec = F.col("s").cast("decimal(19,0)")
    sumsq = per_ld.groupBy("label").agg(
        F.sum(dec * dec).alias("ssq"),
    )
    # qq sums ~2^28 per unit-norm vector; a BIGINT sum wraps past
    # ~3.4e10 vectors per label — reachable at the 100 TB design point
    # (~4e11 vectors), so it gets the same DECIMAL headroom as ssq.
    qdec = F.col("q").cast("decimal(19,0)")
    norms = dims.groupBy("label").agg(
        F.sum(qdec * qdec).alias("qq"),
        (F.count(F.lit(1)) / F.lit(64)).cast("bigint").alias("n"),
    )
    j = sumsq.join(norms, "label")
    ssq_d = F.col("ssq").cast("string").cast("double")
    qq_d = F.col("qq").cast("string").cast("double")
    dn = F.col("n").cast("double")
    q2 = F.lit(float(16384 * 16384))
    return j.select(
        "label",
        F.col("n").alias("n_vectors"),
        # a single-vector label has no pairs: dn·(dn−1)=0 would emit
        # 0/0 → NaN; degenerate labels emit NULL instead (the
        # q_discount_elasticity convention).
        F.when(
            F.col("n") > 1,
            (ssq_d - qq_d) / (dn * (dn - F.lit(1.0)) * q2),
        ).alias("avg_pairwise_cosine"),
        (F.sqrt(ssq_d) / (dn * F.lit(16384.0))).alias("centroid_norm"),
    )


_EMB_DIVERSITY_SQL = """
WITH dims AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 16384) AS BIGINT) AS q
  FROM embeddings
), per_ld AS (
  SELECT label, dim, CAST(SUM(q) AS BIGINT) AS s
  FROM dims GROUP BY 1, 2
), sumsq AS (
  SELECT label,
         SUM(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS ssq
  FROM per_ld GROUP BY 1
), norms AS (
  SELECT label,
         SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))) AS qq,
         CAST(COUNT(*) // 64 AS BIGINT) AS n
  FROM dims GROUP BY 1
)
SELECT label, n AS n_vectors,
       CASE WHEN n > 1 THEN
         (CAST(CAST(ssq AS VARCHAR) AS DOUBLE)
            - CAST(CAST(qq AS VARCHAR) AS DOUBLE))
         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) * 268435456.0)
       END AS avg_pairwise_cosine,
       sqrt(CAST(CAST(ssq AS VARCHAR) AS DOUBLE))
         / (CAST(n AS DOUBLE) * 16384.0) AS centroid_norm
FROM sumsq JOIN norms USING (label)
"""


QUERIES = {
    "emb_diversity_moment": emb_diversity_moment,
    "corpus_dup_inflation": corpus_dup_inflation,
    "corpus_near_dup_inflation": corpus_near_dup_inflation,
    "corpus_version_diff": corpus_version_diff,
    "corpus_token_budget_plan": corpus_token_budget_plan,
    "corpus_epoch_roi": corpus_epoch_roi,
    "corpus_quality_pareto": corpus_quality_pareto,
    "corpus_anneal_schedule": corpus_anneal_schedule,
    "emb_label_drift": emb_label_drift,
    "emb_outlier_zscore": emb_outlier_zscore,
    "corpus_decontaminate_semantic": corpus_decontaminate_semantic,
    "corpus_shard_shuffle": corpus_shard_shuffle,
    "corpus_dataset_card": corpus_dataset_card,
    "emb_whiten": emb_whiten,
    "corpus_padding_waste": corpus_padding_waste,
    "corpus_quota_cap": corpus_quota_cap,
    "emb_dim_stats": emb_dim_stats,
    "corpus_split": corpus_split,
    "doc_chunk": doc_chunk,
    "emb_centroid_assign": emb_centroid_assign,
    "emb_cluster_purity": emb_cluster_purity,
    "emb_silhouette_lite": emb_silhouette_lite,
    "corpus_source_overlap": corpus_source_overlap,
    "corpus_importance_resample": corpus_importance_resample,
    "corpus_decontaminate": corpus_decontaminate,
    "corpus_sample_stratified": corpus_sample_stratified,
    "corpus_mix_temperature": corpus_mix_temperature,
    "doc_pack": doc_pack,
}

ORACLES = {
    "emb_diversity_moment": _EMB_DIVERSITY_SQL,
    "corpus_dup_inflation": _DUP_INFLATION_SQL,
    "corpus_near_dup_inflation": _near_dup_inflation_sql(),
    "corpus_version_diff": _VERSION_DIFF_SQL,
    "corpus_token_budget_plan": _TOKEN_BUDGET_SQL,
    "corpus_epoch_roi": _EPOCH_ROI_SQL,
    "corpus_quality_pareto": _quality_pareto_sql(),
    "corpus_anneal_schedule": _anneal_sql(),
    "emb_outlier_zscore": _EMB_OUTLIER_SQL,
    "corpus_decontaminate_semantic": _decontaminate_semantic_sql(),
    "corpus_shard_shuffle": _SHARD_SHUFFLE_SQL,
    "corpus_dataset_card": _dataset_card_sql(),
    "emb_whiten": _EMB_WHITEN_SQL,
    "corpus_padding_waste": _PADDING_WASTE_SQL,
    "corpus_quota_cap": _QUOTA_CAP_SQL,
    "emb_dim_stats": _EMB_DIM_STATS_SQL,
    "corpus_split": _CORPUS_SPLIT_SQL,
    "doc_chunk": _DOC_CHUNK_SQL,
    "emb_centroid_assign": _EMB_CENTROID_SQL,
    "emb_cluster_purity": _EMB_PURITY_SQL,
    "emb_silhouette_lite": _EMB_SILHOUETTE_SQL,
    "corpus_source_overlap": _source_overlap_sql(),
    "corpus_importance_resample": _IMPORTANCE_SQL,
    "emb_label_drift": _LABEL_DRIFT_SQL,
    "corpus_decontaminate": _DECONTAMINATE_SQL,
    "corpus_sample_stratified": _SAMPLE_STRATIFIED_SQL,
    "corpus_mix_temperature": _MIX_TEMPERATURE_SQL,
    "doc_pack": _DOC_PACK_SQL,
}
