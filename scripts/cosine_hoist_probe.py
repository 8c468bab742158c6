"""Round-10 probe: decompose the per-pair cosine cost in the ANN scan
family.

Every pair-scored entry computed `cosine_similarity(q_emb, embedding)` per
(corpus row, query) pair: one zip_with+aggregate dot PLUS two
aggregate norm folds — all HigherOrderFunction expressions, which are
CodegenFallback (interpreted, boxed per element) in Spark 4.x. With a
|Q|=20 broadcast panel the corpus-row norm is re-folded 20x and the
query norm |corpus|x, so 2/3 of the interpreted fold work per pair is
recomputation of row-constant values.

Variants (bruteforce top-k shape, full entry: score -> rank window ->
filter <= k -> noop):

  A current    cosine_similarity per pair
  B hoisted    per-row norms precomputed on BOTH sides of the
               crossJoin (same l2_norm expression -> identical doubles;
               the quotient divides the same two values -> cosine
               bit-identical), dot_product per pair
  C unrolled   B + dot unrolled over the constant 64 dims as
               element_at products summed in the SAME left-to-right
               fold order (0.0 + t1 + t2 + ...), which whole-stage
               codegen compiles — no interpreted lambda per pair

Bit-identity is asserted by exact comparison of fully collected
results (sorted) at the verify SF before any timing is trusted.

    python scripts/cosine_hoist_probe.py /tmp/sfbig/sf60de [n_runs]
    python scripts/cosine_hoist_probe.py /root/testdata/sf0.01 --check
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from _guard import assert_no_spark_jvm  # noqa: E402

DIMS = 64


def main() -> None:
    assert_no_spark_jvm()
    sf_dir = sys.argv[1]
    check_only = "--check" in sys.argv[2:]
    n_runs = 2
    for a in sys.argv[2:]:
        if a.isdigit():
            n_runs = int(a)

    from pyspark.sql import functions as F, Window

    from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
        cosine_similarity,
        dot_product,
        l2_norm,
    )
    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )
    from blog_snapshotbackup_azuredatalake_spark.session import get_session
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    spark = get_session("cosine-hoist-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def unrolled_dot(a, b):
        acc = F.lit(0.0)
        for i in range(1, DIMS + 1):
            acc = acc + F.element_at(a, i).cast("double") * F.element_at(
                b, i
            ).cast("double")
        return acc

    def pairs_base():
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
        )
        return emb, queries

    def variant_a():
        emb, queries = pairs_base()
        return (
            emb.crossJoin(F.broadcast(queries))
            .filter(F.col("vec_id") != F.col("q_id"))
            .select(
                "q_id",
                "vec_id",
                cosine_similarity("q_emb", "embedding").alias("cos"),
            )
        )

    def variant_b():
        emb, queries = pairs_base()
        emb = emb.select(
            "vec_id",
            "embedding",
            l2_norm("embedding").alias("e_nrm"),
        )
        queries = queries.select(
            "q_id", "q_emb", l2_norm("q_emb").alias("q_nrm")
        )
        return (
            emb.crossJoin(F.broadcast(queries))
            .filter(F.col("vec_id") != F.col("q_id"))
            .select(
                "q_id",
                "vec_id",
                (
                    dot_product("q_emb", "embedding")
                    / (F.col("q_nrm") * F.col("e_nrm"))
                ).alias("cos"),
            )
        )

    def variant_c():
        emb, queries = pairs_base()
        emb = emb.select(
            "vec_id",
            "embedding",
            l2_norm("embedding").alias("e_nrm"),
        )
        queries = queries.select(
            "q_id", "q_emb", l2_norm("q_emb").alias("q_nrm")
        )
        return (
            emb.crossJoin(F.broadcast(queries))
            .filter(F.col("vec_id") != F.col("q_id"))
            .select(
                "q_id",
                "vec_id",
                (
                    unrolled_dot(F.col("q_emb"), F.col("embedding"))
                    / (F.col("q_nrm") * F.col("e_nrm"))
                ).alias("cos"),
            )
        )

    def topk(df):
        w = Window.partitionBy("q_id").orderBy(
            F.col("cos").desc(), F.col("vec_id")
        )
        return (
            df.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("q_id", "vec_id", "cos", "rnk")
        )

    variants = {"A": variant_a, "B": variant_b, "C": variant_c}

    if check_only:
        ref = sorted(map(tuple, topk(variant_a()).collect()))
        for name in ("B", "C"):
            got = sorted(map(tuple, topk(variants[name]()).collect()))
            same = got == ref
            print(
                json.dumps(
                    {"variant": name, "bit_identical": same, "sf": sf_dir}
                ),
                flush=True,
            )
            if not same:
                diffs = [
                    (r, g) for r, g in zip(ref, got) if r != g
                ][:5]
                print("  first diffs:", diffs)
        return

    for name, fn in variants.items():
        times = []
        for i in range(n_runs):
            spark.sparkContext.setJobDescription(
                f"cosine-hoist {name} run {i}"
            )
            t0 = time.perf_counter()
            topk(fn()).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 2))
        print(
            json.dumps(
                {
                    "variant": name,
                    "min_sec": min(times),
                    "runs": times,
                    "sf_dir": sf_dir,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
