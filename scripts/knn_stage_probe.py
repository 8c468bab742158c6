"""Stage decomposition of the ann_knn_graph build — round-8 follow-up
after BOTH hypothesized fixes (per-row norm precompute, in-cell top-k
window) measured a WASH at sf30de/sf60de: time-alpha stayed ~1.2 while
exact pair counts grow at alpha 1.06, so the super-linear remainder is
in a stage, not the candidate count. This times the build cumulatively:

  cells    scan + sign pattern + oversize groupBy + sub assign (noop)
  emit     + LSH self-join emitting (src, dst) only — join/row cost
  cos      + the cosine projection — per-pair arithmetic cost
  full     + sort + WindowGroupLimit top-k — rank stage cost

    SPARK_DRIVER_MEM=48g python scripts/knn_stage_probe.py /tmp/sfbig/sf60de

One session per invocation (fresh-session rule); deltas between
consecutive lines attribute the cost.
"""
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from _guard import assert_no_spark_jvm  # noqa: E402


def main() -> None:
    assert_no_spark_jvm()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfbig/sf60de"

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
        md5_int60,
    )
    from blog_snapshotbackup_azuredatalake_spark.functions.hints import (
        broadcast_if_bounded,
    )
    from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
        dot_product,
        l2_norm,
    )
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        _sign_bucket,
    )
    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        KNN_BUCKET_CAP,
        KNN_GRAPH_K,
        _knn_graph_dims,
        load_table,
    )
    from blog_snapshotbackup_azuredatalake_spark.session import get_session

    spark = get_session("knn-stage-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()  # warm JVM

    base = load_table(spark, sf_dir, "embeddings")
    n = base.count()
    dims = _knn_graph_dims(n)
    patted = base.select(
        "vec_id",
        "embedding",
        _sign_bucket(F.col("embedding"), dims).alias("pat"),
        l2_norm("embedding").alias("nrm"),
    )
    oversize = (
        patted.groupBy("pat")
        .agg(F.count(F.lit(1)).alias("bc"))
        .filter(F.col("bc") > KNN_BUCKET_CAP)
    )
    emb = patted.join(broadcast_if_bounded(oversize), "pat", "left").select(
        "vec_id",
        "embedding",
        "nrm",
        "pat",
        F.coalesce(
            md5_int60(F.col("vec_id").cast("string"))
            % F.expr(f"(bc + {KNN_BUCKET_CAP} - 1) div {KNN_BUCKET_CAP}"),
            F.lit(0),
        ).alias("sub"),
    )
    joined = (
        emb.alias("x")
        .join(emb.alias("y"), ["pat", "sub"])
        .filter(F.col("x.vec_id") != F.col("y.vec_id"))
    )
    emit = joined.select(
        "pat",
        "sub",
        F.col("x.vec_id").alias("src"),
        F.col("y.vec_id").alias("dst"),
    )
    cos_pairs = joined.select(
        "pat",
        "sub",
        F.col("x.vec_id").alias("src"),
        F.col("y.vec_id").alias("dst"),
        (
            dot_product("x.embedding", "y.embedding")
            / (F.col("x.nrm") * F.col("y.nrm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("pat", "sub", "src").orderBy(
        F.desc("cos"), F.asc("dst")
    )
    full = (
        cos_pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_GRAPH_K)
        .select("src", "rank", "dst", "cos")
    )

    def timed(label, df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = round(time.perf_counter() - t0, 2)
        print(
            json.dumps({"stage": label, "sec": dt, "n": n, "sf": sf_dir}),
            flush=True,
        )

    timed("cells", emb)
    timed("emit", emit)
    timed("cos", cos_pairs)
    timed("full", full)


if __name__ == "__main__":
    main()
