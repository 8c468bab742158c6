"""Vector math over ``array<float>`` columns — JVM built-ins only.

The one definition of the cosine fold, in Spark (``dot_product``,
``l2_norm``, ``cosine_similarity``, ``cosine_with_norms``) and in DuckDB
(``sql_cosine``). Both fold left to right in double regardless of the
array element type, so the two engines agree bit-for-bit on float32
inputs.

``F.zip_with`` + ``F.aggregate`` avoid any Python round-trip per row,
but note they are CodegenFallback in Spark 4.x (interpreted lambda
evaluation, NOT whole-stage codegen) — which is exactly why pair-heavy
scorers hoist row-constant norms out of the per-pair expression
(``cosine_with_norms``, round 10).
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
    quotient divides the SAME doubles — bit-identical cosines. Why it
    exists (round 10): in a pair scorer (corpus × broadcast query panel)
    the inline form re-folds both norms once per PAIR; zip_with/aggregate
    are CodegenFallback (interpreted, boxed per element), so 2/3 of the
    per-pair fold work is recomputing row-constant values. Hoisting the
    norms below the join evaluates them once per ROW: sf60de A/B
    (SCALING.md, "Round 10, session 3 — per-pair interpreted-fold
    sweep", 1.2 M vectors) measured the bruteforce shape 3.71 → 2.29 s
    min AND collapsed the warm-run spread (3.7–13.1 → 2.3–3.1 s — less
    per-pair garbage). The probe
    also rejected the unrolled-element_at dot (15.0 s, 4× WORSE: the
    64-term chain blows past codegen limits into a worse interpreter),
    so the lambda fold stays for the dot itself."""
    return dot_product(a, b) / (_col(na) * _col(nb))


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
