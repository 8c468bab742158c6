"""Nearest-centroid search against a small driver-held centroid set —
the coarse step of every IVF index, the k-means assignment and the
centroid-curation entries — in Spark (``Centroids``) and DuckDB
(``sql_centroid_ctes``) forms.

Spark: the k×d centroid set is collected once and bound as ONE literal
``array<struct<centroid_id, c_emb>>`` column named ``cents``
(constant-folded once and referenced by name; inlining the k×d literal
tree into every consumer measurably bloats planning/eval). Each row
scores every centroid as ``struct(d2, centroid_id)`` under a distance
fold and takes ``array_min`` (its nearest centroid) or the first n of
``array_sort`` (its probe list) in place. Assignment is therefore
MAP-ONLY: the crossJoin+groupBy alternative re-shuffles the whole
corpus by row id just to collapse k candidate rows born in the same
task.

Struct order is lexicographic, (d2, centroid_id) — the oracle's
``ORDER BY d, centroid_id``, so ties go to the lower id in both
engines. The fold is ``l2_sq`` (squared L2) or ``neg_cosine``: negating
a cosine is exact, so ascending (-cos, id) is the descending-cosine
order with the same tiebreak. ``d2`` holds the fold's value for either
fold.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
    cosine_similarity,
    l2_sq,
    sql_cosine,
    sql_l2_sq,
)


def neg_cosine(a: Column | str, b: Column | str) -> Column:
    return -cosine_similarity(a, b)


def sql_neg_cosine(a: str, b: str) -> str:
    return f"-{sql_cosine(a, b)}"


class Centroids:
    """A driver-held centroid set bound for nearest-centroid search.

    ``frame`` has columns (centroid_id, c_emb). Its rows are collected,
    sorted by id and kept in ``rows`` for driver-side use; ``lit`` is
    the literal column ``bind`` attaches to a frame as ``cents``. The
    ``nearest``/``probes`` columns are valid on a bound frame only."""

    def __init__(
        self, frame: DataFrame, fold: Callable[..., Column] = l2_sq
    ) -> None:
        self.rows = sorted(frame.collect(), key=lambda r: r["centroid_id"])
        self.fold = fold
        self.lit = F.array(
            *[
                F.struct(
                    F.lit(int(c["centroid_id"]))
                    .cast("bigint")
                    .alias("centroid_id"),
                    F.array(*[F.lit(float(v)) for v in c["c_emb"]]).alias(
                        "c_emb"
                    ),
                )
                for c in self.rows
            ]
        )

    @classmethod
    def first(
        cls, emb: DataFrame, n: int, fold: Callable[..., Column] = l2_sq
    ) -> Centroids:
        """The deterministic seed set: the corpus vectors vec_id < n."""
        return cls(
            emb.filter(F.col("vec_id") < n).select(
                F.col("vec_id").alias("centroid_id"),
                F.col("embedding").alias("c_emb"),
            ),
            fold,
        )

    def bind(self, df: DataFrame) -> DataFrame:
        """``df`` plus the ``cents`` column that ``nearest``/``probes``
        read; an unbound frame fails analysis on the missing column."""
        return df.withColumn("cents", self.lit)

    def _ranked(self, emb: Column) -> Column:
        # d2 is the fold's value: the squared L2 distance for l2_sq, the
        # negated cosine for neg_cosine (so -best.d2 is the cosine).
        return F.transform(
            F.col("cents"),
            lambda c: F.struct(
                self.fold(emb, c["c_emb"]).alias("d2"),
                c["centroid_id"].alias("centroid_id"),
            ),
        )

    def nearest(self, emb: Column) -> Column:
        """struct(d2, centroid_id) of the nearest centroid."""
        return F.array_min(self._ranked(emb))

    def probes(self, emb: Column, n: int) -> Column:
        """The n nearest centroids as struct(d2, centroid_id), nearest
        first."""
        return F.slice(F.array_sort(self._ranked(emb)), 1, n)


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
