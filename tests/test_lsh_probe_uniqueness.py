"""Round-10 optimization invariant: the multi-probe LSH join can never
produce a duplicate (q_id, vec_id) pair, so the `.distinct()` that
ann_topk_lsh / ann_range_search used to pay (a full corpus-sized
Exchange + hash aggregate) was a no-op and was removed.

The argument being pinned: a corpus vector carries exactly ONE bucket
string, and one query's 1 + LSH_DIMS probe buckets are pairwise
DISTINCT (probe i toggles character i; two different toggles differ at
two positions, and every toggle differs from the original at one), so
at most one probe row of a query can equi-join any corpus vector. If a
future probe scheme breaks that (e.g. Hamming-2 probing or duplicate
flips), these tests go red BEFORE the missing distinct can corrupt
rank/top-k results.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
    sign_bucket,
)
from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
    LSH_DIMS,
    N_QUERIES,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import load_table

from tests.conftest import SF_DIR


def _probe_rows(spark):
    """Rebuild the exact probe relation ann_topk_lsh joins on."""
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        "embedding",
        sign_bucket(F.col("embedding"), LSH_DIMS).alias("bucket"),
    )
    base_q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "bucket"
    )
    flip = F.expr(
        "CASE WHEN i = 0 THEN bucket ELSE concat(substring(bucket, 1, i - 1),"
        " CASE WHEN substring(bucket, i, 1) = '1' THEN '0' ELSE '1' END,"
        f" substring(bucket, i + 1, {LSH_DIMS})) END"
    )
    return base_q.select(
        "q_id",
        F.explode_outer(F.sequence(F.lit(0), F.lit(LSH_DIMS))).alias("i"),
        "bucket",
    ).select("q_id", flip.alias("bucket"))


def test_probe_buckets_pairwise_distinct_per_query(spark):
    """Each query's probe set has 1 + LSH_DIMS DISTINCT bucket strings —
    the precondition that makes the LSH join dup-free."""
    probes = _probe_rows(spark)
    per_q = probes.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("bucket").alias("n_distinct"),
    )
    bad = per_q.filter(F.col("n_rows") != F.col("n_distinct")).collect()
    assert bad == [], f"duplicate probe buckets within a query: {bad}"
    n = per_q.count()
    assert n == min(
        N_QUERIES,
        load_table(spark, SF_DIR, "embeddings").count(),
    )
    widths = per_q.filter(
        F.col("n_rows") != LSH_DIMS + 1
    ).collect()
    assert widths == [], f"probe fan-out is not 1+LSH_DIMS: {widths}"


def test_lsh_join_multiplicity_at_most_one(spark):
    """End to end on the real corpus: the probe join yields every
    (q_id, vec_id) pair at most once, so removing distinct cannot have
    changed row multiplicity."""
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        sign_bucket(F.col("embedding"), LSH_DIMS).alias("bucket"),
    )
    joined = emb.join(F.broadcast(_probe_rows(spark)), "bucket").filter(
        F.col("vec_id") != F.col("q_id")
    )
    dup = (
        joined.groupBy("q_id", "vec_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .collect()
    )
    assert dup == [], f"multi-matched pairs (distinct removal unsafe): {dup}"
