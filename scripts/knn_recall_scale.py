"""Recall pricing of the capped-LSH kNN graph in the saturated-cap
regime — the round-8 verdict's #1 directive: run ann_knn_graph_recall
at sf30de/sf60de/sf120de (where EVERY sign pattern is oversize and
every candidate passes the random md5 sub-split) and decide
hold / multi-probe escalation / fit-for-purpose boundary.

Reports THREE numbers per SF, because the sfbig corpora are built by
replication (scripts/make_sfbig.py copies embeddings verbatim under
shifted vec_ids), so each panel vector's true top-3 is drawn from a
factor-sized TIE SET of exact duplicates (cos = 1.0):

  - id_recall@3   — set intersection on neighbor IDs (ties make this
                    the harshest read)
  - dist_recall@3 — tie-aware: fraction of the graph's kept neighbors
                    whose cos >= the query's TRUE 3rd-best cos. Both
                    sides compute cos with the identical left-to-right
                    fold (bit-equal, SCALING.md round 8), so >= is an
                    exact comparison, not a tolerance. This is the
                    number that prices "are the graph's neighbors AS
                    CLOSE as the true ones", which is what the 5
                    graph consumers actually ride on.
  - sub-split diagnostics — per panel query: pattern occupancy and
    n_sub = ceil(occ/512), so the recall number is attributable to
    the split arithmetic on sight.

Both recall columns come from the registry entry itself since round 9
(ann_knn_graph_recall returns hits/recall/dist_hits/dist_recall, SQL
oracle in lockstep) — this runner adds the fresh-session timing and
the occupancy diagnostics.

    SPARK_DRIVER_MEM=48g python scripts/knn_recall_scale.py /tmp/sfbig/sf30de
"""
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from _guard import assert_no_spark_jvm  # noqa: E402


def main() -> None:
    assert_no_spark_jvm()
    sf_dir = sys.argv[1]

    import time

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
        sign_bucket,
    )
    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        KNN_BUCKET_CAP,
        N_QUERIES,
        _knn_graph_dims,
    )
    from blog_snapshotbackup_azuredatalake_spark.session import get_session
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    spark = get_session("knn-recall-scale")
    spark.sparkContext.setLogLevel("ERROR")

    # 1) the registry entry verbatim (id + tie-aware recall)
    t0 = time.perf_counter()
    rows = entrymod.queries()["ann_knn_graph_recall"](spark, sf_dir).collect()
    entry_sec = round(time.perf_counter() - t0, 2)
    id_recall = {int(r["src"]): float(r["recall"]) for r in rows}
    dist_recall = {int(r["src"]): float(r["dist_recall"]) for r in rows}

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )

    # 2) split diagnostics for the panel's patterns
    n = emb.count()
    dims = _knn_graph_dims(n)
    patted = emb.select(
        "vec_id", sign_bucket(F.col("embedding"), dims).alias("pat")
    )
    occ = patted.groupBy("pat").agg(F.count(F.lit(1)).alias("occ"))
    diag = (
        patted.filter(F.col("vec_id") < N_QUERIES)
        .join(occ, "pat")
        .select("vec_id", "occ")
        .collect()
    )
    occ_by_q = {int(r["vec_id"]): int(r["occ"]) for r in diag}

    per_q = []
    for q in sorted(id_recall):
        o = occ_by_q.get(q, 0)
        nsub = (o + KNN_BUCKET_CAP - 1) // KNN_BUCKET_CAP
        per_q.append(
            {
                "q": q,
                "id_recall": id_recall[q],
                "dist_recall": dist_recall.get(q, 0.0),
                "pat_occ": o,
                "n_sub": nsub,
            }
        )
    mean = lambda xs: round(sum(xs) / max(len(xs), 1), 4)  # noqa: E731
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_vectors": n,
                "dims": dims,
                "entry_sec": entry_sec,
                "mean_id_recall": mean([p["id_recall"] for p in per_q]),
                "mean_dist_recall": mean([p["dist_recall"] for p in per_q]),
                "per_q": per_q,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
