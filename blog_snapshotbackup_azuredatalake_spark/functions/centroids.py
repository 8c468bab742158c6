"""Nearest-centroid search against a small driver-held centroid set —
the coarse step of every IVF index, the k-means assignment and the
centroid-curation entries — in Spark (``Centroids``) and DuckDB
(``sql_centroid_ctes``) forms.

Spark: the k×d centroid set is collected once and searched with the
numpy kernel ``pairscore.nearest``. Assignment is ONE ``mapInArrow``
scan that appends each row's nearest centroid and its distance to the
caller's columns: map-only, with no literal column, no join and no
interpreted per-element lambda (a Spark fold over the centroid set is
CodegenFallback, one boxed call per element). Probe lists of a collected
query panel are searched on the driver, where the panel already is.

The kernel ranks ``(d, centroid_id)`` ascending — the oracle's ``ORDER
BY d, centroid_id`` — so ties go to the lower id and NaN, the greatest
double in both engines, comes last. The fold is ``l2_sq`` (squared L2)
or ``neg_cosine``: negating a cosine is exact, so ascending (-cos, id)
is the descending-cosine order with the same tiebreak. ``d2`` holds the
fold's value for either fold, with the engines' fold order, so it is the
same double the oracle computes.
"""

from __future__ import annotations

from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from blog_snapshotbackup_azuredatalake_spark.functions import pairscore
from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
    sql_cosine,
    sql_l2_sq,
)
from blog_snapshotbackup_azuredatalake_spark.session import (
    ensure_package_on_workers,
)


def sql_neg_cosine(a: str, b: str) -> str:
    return f"-{sql_cosine(a, b)}"


class Centroids:
    """A driver-held centroid set for nearest-centroid search.

    ``frame`` has columns (centroid_id, c_emb). Its rows are collected
    into ``ids`` (ascending) and the float64 matrix ``vecs``; ``fold`` is
    a ``pairscore.FOLDS`` name, ``"l2_sq"`` or ``"neg_cosine"``."""

    def __init__(self, frame: DataFrame, fold: str = "l2_sq") -> None:
        rows = frame.select("centroid_id", "c_emb").collect()
        self.ids, self.vecs = pairscore.stack(sorted(rows))
        self.fold = fold

    @classmethod
    def first(cls, emb: DataFrame, n: int, fold: str = "l2_sq") -> Centroids:
        """The deterministic seed set: the corpus vectors vec_id < n."""
        return cls(
            emb.filter(F.col("vec_id") < n).select(
                F.col("vec_id").alias("centroid_id"),
                F.col("embedding").alias("c_emb"),
            ),
            fold,
        )

    def search(self, x, n: int = 1):
        """(rows × n) centroid ids and distances of the rows of ``x``,
        nearest first."""
        return pairscore.nearest(x, self.ids, self.vecs, n, self.fold)

    def assign(self, df: DataFrame, n: int = 1) -> DataFrame:
        """``df`` plus ``centroid_id`` and ``d2`` of each row's nearest
        centroid to its ``embedding``, and ``d2_2`` … ``d2_n`` of the
        next ones (NULL past the last centroid): one ``mapInArrow`` scan.
        Select the columns to carry first; none is pruned below it."""
        ensure_package_on_workers(df.sparkSession)
        width = self.vecs.shape[1]
        names = ["centroid_id", "d2", *[f"d2_{r}" for r in range(2, n + 1)]]

        def scan(batches):
            for b in batches:
                ids, d = self.search(pairscore.matrix(b.column("embedding"), width), n)
                dists = [
                    pa.array(d[:, r]) if r < d.shape[1] else pa.nulls(len(d), "double")
                    for r in range(n)
                ]
                yield pa.RecordBatch.from_arrays(
                    [*b.columns, pa.array(ids[:, 0]), *dists],
                    [*b.schema.names, *names],
                )

        types = [LongType()] + [DoubleType()] * n
        schema = StructType(
            df.schema.fields + [StructField(c, t) for c, t in zip(names, types)]
        )
        return df.mapInArrow(scan, schema)


def sql_centroid_ctes(
    n_seeds: int,
    probe_where: str | None = None,
    nprobe: int = 1,
    fold: Callable[[str, str], str] = sql_l2_sq,
) -> str:
    """DuckDB mirror of ``Centroids.first`` plus its searches, as CTEs:

    - ``cent(centroid_id, c_emb)``: embeddings with vec_id < n_seeds;
    - ``assigned``: every embeddings column plus ``list_id`` (the
      nearest centroid) and its distance ``d``;
    - ``probes`` (when ``probe_where`` is given): ``q_id``, ``q_emb``,
      ``list_id``, ``d`` and the 1-based probe rank ``p`` of the
      ``nprobe`` nearest centroids of each embeddings row that matches
      ``probe_where`` (a predicate over alias ``q``).

    Both rank by ``ORDER BY d, centroid_id``."""
    ctes = f"""cent AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
  WHERE vec_id < {n_seeds}
), assigned AS (
  SELECT e.*, c.centroid_id AS list_id, {fold("e.embedding", "c.c_emb")} AS d
  FROM embeddings e CROSS JOIN cent c
  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                             ORDER BY d, c.centroid_id) = 1
)"""
    if probe_where is None:
        return ctes
    return f"""{ctes}, probes AS (
  SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.centroid_id AS list_id,
         {fold("q.embedding", "c.c_emb")} AS d,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY d, c.centroid_id) AS p
  FROM embeddings q CROSS JOIN cent c
  WHERE {probe_where}
  QUALIFY p <= {nprobe}
)"""
