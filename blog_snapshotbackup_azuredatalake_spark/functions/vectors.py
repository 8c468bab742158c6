"""Vector math over ``array<float>`` columns — JVM built-ins only.

The one definition of the cosine fold, in Spark (``dot_product``,
``l2_norm``, ``cosine_similarity``, ``cosine_with_norms``) and in DuckDB
(``sql_cosine``), of the DuckDB squared-L2 fold (``sql_l2_sq``; its
Spark-side form is ``pairscore.l2_sq``), and of the sign-pattern LSH
bucket (``sign_bucket``/``sql_sign_bucket``). The folds run left to
right in double regardless of the array element type, so the two
engines agree bit-for-bit on float32 inputs.

``F.zip_with`` + ``F.aggregate`` avoid any Python round-trip per row,
but note they are CodegenFallback in Spark 4.x (interpreted lambda
evaluation, NOT whole-stage codegen) — which is why the probe-join
scorers hoist row-constant norms out of the per-pair expression
(``cosine_with_norms``). ``functions/pairscore.py`` is the same fold in
numpy, for every scorer against the small query panel, the kNN cells
and every nearest-centroid or codeword search.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Left-to-right fold dot product — the numerator of every cosine."""
    return F.aggregate(
        F.zip_with(
            _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _col(a),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_with_norms(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """``cosine_similarity`` with PRE-COMPUTED norms: na/nb must be the
    ``l2_norm`` of a/b materialized as columns on each join side, so the
    quotient divides the SAME doubles — bit-identical cosines. Its users
    are the probe-join scorers (IVF, filtered, nprobe, hybrid, LSH and
    range entries, which join a broadcast probe list per candidate pair)
    and ``dedup_embedding``: the inline form re-folds both norms once per
    PAIR, and zip_with/aggregate are CodegenFallback (interpreted, boxed
    per element), so hoisting the norms below the join evaluates them once
    per ROW. Measured on the corpus × panel shape before it moved to
    ``functions/pairscore.py``: sf60de A/B (SCALING.md, "Round 10,
    session 3 — per-pair interpreted-fold sweep", 1.2 M vectors) 3.71 →
    2.29 s min, with the warm-run spread down from 3.7–13.1 to 2.3–3.1 s.
    The probe also rejected the unrolled-element_at dot (15.0 s, 4× WORSE:
    the 64-term chain blows past codegen limits into a worse
    interpreter)."""
    return dot_product(a, b) / (_col(na) * _col(nb))


def sign_bucket(col: Column | str, dims: int) -> Column:
    """Sign pattern of the first ``dims`` elements as a '0'/'1' string —
    the random-hyperplane LSH bucket with the axes as hyperplanes."""
    return F.concat_ws(
        "",
        *[
            F.when(F.element_at(_col(col), i + 1) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for i in range(dims)
        ],
    )


def sql_sign_bucket(dims: int | str) -> str:
    """DuckDB mirror of ``sign_bucket`` over the ``embedding`` column;
    ``dims`` may be a SQL expression, e.g. a scalar subquery."""
    return (
        f"list_aggregate(list_transform(embedding[1:{dims}],"
        " x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), 'string_agg', '')"
    )


def sql_l2_sq(a: str, b: str) -> str:
    """Σ (aᵢ-bᵢ)² as a left-to-right double fold in DuckDB SQL — the
    distance of every IVF/k-means centroid search and every L2 re-rank
    of the oracles; ``pairscore.l2_sq`` folds in the same order."""
    return f"""list_reduce(list_transform(range(1, 1 + len({a})),
  i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
     * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))),
  (x, y) -> x + y)"""


def sql_cosine(a: str, b: str) -> str:
    """DuckDB SQL mirroring ``cosine_similarity`` between list columns
    ``a`` and ``b`` — same association order as the Spark fold, so the
    doubles are bit-identical across engines (SURVEY §4)."""
    return f"""(
  list_reduce(list_transform(range(1, 1 + len({a})),
    i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),
    (x, y) -> x + y)
  / (sqrt(list_reduce(list_transform({a},
       v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
   * sqrt(list_reduce(list_transform({b},
       v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y)))
)"""
