"""Iterative k-means over the embeddings table (SURVEY.md §2C).

The canonical iterative algorithm expressed as a driver-side loop of
DataFrame plans — each Lloyd iteration is one assign (corpus ⋈ broadcast
centroids, no shuffle of the corpus) plus one recompute (posexplode →
per-(cluster, dim) mean → regroup). The loop is driver-side CONTROL, not
driver-side DATA: only the k×d centroid matrix ever reaches the driver,
so iterations cost the same at 100 TB as the single assignment step.

Deterministic: seeds are the first K embeddings, iteration count is
fixed, and means use decimal-exact sums — reruns produce identical
centroids. Rows-only correctness check (iterative loops aren't a single
SQL statement; `curation.emb_centroid_assign` oracle-checks one
assignment step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions.centroids import (
    Centroids,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
    load_table,
    local_frame,
)

K = 8
ITERATIONS = 3


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """``emb`` (vec_id, embedding) plus the nearest centroid by squared
    L2 and its distance ``d2`` — one map-only Arrow batch scan (the k×d
    centroid set is driver-known by contract; see
    ``functions/centroids.py``)."""
    return Centroids(centroids).assign(emb.select("vec_id", "embedding"))


def _recompute(spark: SparkSession, assigned: DataFrame) -> DataFrame:
    """New centroids = per-dimension member means, via posexplode so the
    shuffle key is (centroid, dim) — k×d reduce cells regardless of
    corpus size. The k×d cells (a few KB) come straight to the driver
    and the arrays are assembled there: a second groupBy/array_sort
    shuffle buys nothing over a 1 KB driver assembly, and the result
    must become a literal frame for the next round anyway. The mean is
    computed Spark-side in decimal so values are bit-stable across this
    refactor and across partition layouts."""
    dims = assigned.select(
        "centroid_id", F.posexplode_outer("embedding").alias("dim", "val")
    )
    per_dim = dims.groupBy("centroid_id", "dim").agg(
        (
            F.sum(F.col("val").cast("decimal(28,10)"))
            / F.count(F.lit(1))
        )
        .cast("double")
        .alias("mean_val")
    )
    by_centroid: dict[int, dict[int, float]] = {}
    for r in per_dim.collect():
        by_centroid.setdefault(r["centroid_id"], {})[r["dim"]] = r["mean_val"]
    data = [
        (cid, [dims_map[i] for i in range(len(dims_map))])
        for cid, dims_map in sorted(by_centroid.items())
    ]
    return local_frame(
        spark,
        data, "centroid_id bigint, c_emb array<double>"
    )


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means(k=8, 3 iterations) summary: per-cluster size and
    decimal-exact inertia (sum of squared distances)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = emb.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    assigned = _assign(emb, centroids)
    for _ in range(ITERATIONS - 1):
        # only the k×d centroid matrix returns to the driver; rebuilding
        # the next iteration's centroids as a literal frame keeps every
        # iteration a single corpus scan (lazy chaining would recompute
        # all prior iterations inside each new plan)
        centroids = _recompute(spark, assigned)
        assigned = _assign(emb, centroids)
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("d2").cast("decimal(28,10)"))
        .cast("double")
        .alias("inertia"),
    )


PCA_ITER = 8


def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus via MATRIX-FREE
    power iteration — the dead/dominant-direction audit behind
    whitening and anisotropy checks on LLM embedding spaces.

    Never materializes the d×d covariance: each iteration computes
    y = C·v as one corpus pass — per-row projection s = xᵀv against the
    bound literal v (map-only),
    then a posexplode reduce to d cells of Σ x·s. Driver work is O(d) per
    iteration; corpus work is one scan — so 8 iterations over 100 TB
    are 8 scans with d-cell shuffles, no vector ever re-shuffled.
    Decimal-exact sums make the result independent of partition layout
    (rows-only check: an 8-step iterative loop is not one SQL stmt).

    Output: the top-8 loading dims of v₁, with eigenvalue and explained
    variance share."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    dims = emb.select(F.posexplode_outer("embedding").alias("dim", "val"))
    dec = lambda c: c.cast("decimal(28,10)")  # noqa: E731
    # one scan yields both moments: per-dim Σx (→ mean) and Σx² (→ total
    # variance) come out of the same d-group aggregation
    mu_rows = (
        dims.groupBy("dim")
        .agg(
            (F.sum(dec(F.col("val"))) / F.lit(n)).cast("double").alias("m"),
            F.sum(dec(F.col("val")) * dec(F.col("val")))
            .cast("double")
            .alias("ss"),
        )
        .collect()
    )
    d = len(mu_rows)
    mu = [0.0] * d
    for r in mu_rows:
        mu[r["dim"]] = r["m"]
    ssq = sum(r["ss"] for r in sorted(mu_rows, key=lambda r: r["dim"]))
    total_var = ssq / n - sum(m * m for m in mu)

    v = [1.0 / d**0.5] * d
    lam = 0.0
    for _ in range(PCA_ITER):
        vlit = F.array(*[F.lit(float(x)) for x in v])
        mu_dot_v = sum(mi * vi for mi, vi in zip(mu, v))
        # bind the projection as a real column first (HOF-inlining trap)
        proj = emb.select(
            "embedding",
            (
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"),
                        vlit,
                        lambda x, y: x.cast("double") * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                - F.lit(float(mu_dot_v))
            ).alias("s"),
        )
        # every dim-row carries the same row-level s, so per-dim Σs IS the
        # global Σs — one d-group aggregation per iteration, not two jobs
        cell_rows = (
            proj.select(
                F.posexplode_outer("embedding").alias("dim", "val"), "s"
            )
            .groupBy("dim")
            .agg(
                F.sum(dec(F.col("val")) * dec(F.col("s")))
                .cast("double")
                .alias("xs"),
                F.sum(dec(F.col("s"))).cast("double").alias("ssum"),
            )
            .collect()
        )
        sum_s = cell_rows[0]["ssum"] if cell_rows else 0.0
        y = [0.0] * d
        for r in cell_rows:
            y[r["dim"]] = r["xs"]
        y = [
            (yi - mui * sum_s) / n for yi, mui in zip(y, mu)
        ]  # y = C·v, centered
        lam = sum(vi * yi for vi, yi in zip(v, y))
        norm = sum(yi * yi for yi in y) ** 0.5
        v = [yi / norm for yi in y]

    top = sorted(range(d), key=lambda i: (-abs(v[i]), i))[:8]
    rows = [
        (
            rank + 1,
            dim,
            float(v[dim]),
            float(lam),
            float(lam / total_var),
            PCA_ITER,
        )
        for rank, dim in enumerate(top)
    ]
    return local_frame(
        spark,
        rows,
        "rank int, dim int, loading double, eigenvalue double,"
        " var_explained double, n_iter int",
    )


QUERIES = {"emb_kmeans": emb_kmeans, "emb_pca_power": emb_pca_power}
ORACLES: dict[str, str] = {}  # rows-only: iterative algorithms
