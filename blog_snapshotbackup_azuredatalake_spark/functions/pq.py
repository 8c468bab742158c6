"""Product quantization with asymmetric-distance (ADC) search and exact
refine — the IVFADC recipe of Jégou et al., *Product Quantization for
Nearest Neighbor Search* (TPAMI 2011) — in Spark (``ProductQuantizer``,
``refine``) and DuckDB SQL (``sql_pq_ctes``, ``sql_adc_refine``) forms.
The five PQ entries (``emb_pq_adc``, ``emb_pq_residual_audit``,
``ann_topk_ivfpq``, ``ann_topk_ivfpq_residual``, ``ann_ivfpq_recall``)
and their oracles use these definitions.

A vector of PQ_M·PQ_SUBDIM dims is PQ_M subvectors of PQ_SUBDIM dims.
The codebook is the first PQ_K rows (vec_id < PQ_K) of a frame's vector
column, deterministic and KBs at any corpus size: codeword j of subspace
s is the j-th of those rows by vec_id, cut to subspace s. A vector's
code in subspace s is the codeword at the least squared L2 distance,
ties to the lower j; its quantization error is that distance.

- Encode: ONE literal SQL string for the whole PQ_M×PQ_K codebook, an
  ``array_min`` over ``(d2, j)`` structs per subspace, so the code
  (``.j``) and the error (``floor(.d2·2³⁰)``) come from the same struct
  in both forms. Map-only: the corpus is never shuffled to get coded.
- ADC table: for one driver-held vector (a query, or a query minus its
  probed centroid) ``floor(d²·2²⁰)`` per (subspace, codeword) as
  BIGINTs, so a scan's per-pair sum is integer-exact, order-independent
  and engine-portable.
- ADC scan: a code row paired with a table row sums PQ_M lookups; each
  query keeps its PQ_SHORTLIST least sums (ties by vec_id).
- Refine: the shortlist rejoins its float vectors for the exact L2
  top-k (ties by vec_id) — the only float math after the scan.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
    l2_sq,
    sql_l2_sq,
)

PQ_M = 32  # subspaces (64-dim → 2 dims each)
PQ_SUBDIM = 2
PQ_K = 16  # codes per subspace → one byte-nibble per subspace
PQ_FP = 1 << 20  # fixed-point scale for ADC table entries
PQERR_FP = 1 << 30  # fixed-point scale for per-subspace min-d2 errors
PQ_SHORTLIST = 20  # ADC candidates per query kept for exact re-rank


def py_l2_sq(a: list, b: list) -> float:
    """``l2_sq`` on the driver: the same left-to-right double fold as
    both engines."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def subvector(v: list, s: int) -> list:
    return v[s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]


class ProductQuantizer:
    """A quantizer of the vector column ``col``, with the codebook of
    ``frame``'s rows vec_id < PQ_K held on the driver: ``codebook`` maps
    vec_id to the vector, ``ks`` is the sorted vec_ids, so codeword j is
    ``codebook[ks[j]]``. The residual entry passes its engine-computed
    residuals, so the codebook holds the same doubles as the oracle's.
    The encode reads ``col`` of whatever frame it is applied to."""

    def __init__(self, frame: DataFrame, col: str = "embedding") -> None:
        self.col = col
        rows = frame.filter(F.col("vec_id") < PQ_K).collect()
        self.codebook = {
            int(r["vec_id"]): [float(x) for x in r[col]] for r in rows
        }
        self.ks = sorted(self.codebook)

    def _argmin_sql(self, pick) -> str:
        """``array(pick(m_0), ..., pick(m_{PQ_M-1}))`` where m_s is the
        subspace-s ``array_min`` over ``named_struct('d2', ·, 'j', j)``.

        One SQL string parsed in a single ``F.expr`` call: building it
        through the Column API costs one Py4J round trip per operator
        node (~8k trips ≈ 20 s of driver latency, flat at every SF).

        The ~128 KB expression FAILS whole-stage codegen (janino method
        size; Spark logs a codegen ERROR) and runs interpreted. Measured
        NOT worth fixing (round 7, 600 k vectors, warm min-of-2): this
        unrolled form 6.5 s vs a nested higher-order-function loop (tiny
        expression tree, codebook as array literal) 18.0 s and an
        Arrow/numpy pandas-UDF encode 18.9 s, all three bit-identical on
        2 000 checked rows. The interpreted unrolled tree evaluates
        constant-folded literals with no per-element lambda dispatch and
        no Arrow transfer."""

        def d2_sql(s: int, vals: list) -> str:
            terms = []
            for i, v in enumerate(vals):
                at = s * PQ_SUBDIM + i + 1
                x = f"cast(element_at({self.col}, {at}) as double)"
                c = f"cast('{float(v)!r}' as double)"
                terms.append(f"({x} - {c}) * ({x} - {c})")
            return " + ".join(terms)

        def best(s: int) -> str:
            structs = ", ".join(
                "named_struct('d2', "
                f"{d2_sql(s, subvector(self.codebook[k], s))}, 'j', {j})"
                for j, k in enumerate(self.ks)
            )
            return pick(f"array_min(array({structs}))")

        return "array(" + ", ".join(best(s) for s in range(PQ_M)) + ")"

    def encode_sql(self) -> str:
        """The codes: array<int> of PQ_M codeword indexes."""
        return self._argmin_sql(lambda m: f"{m}.j")

    def error_sql(self) -> str:
        """The quantization errors: array<bigint> of floor(min-d²·2³⁰)
        per subspace."""
        return self._argmin_sql(
            lambda m: f"cast(floor({m}.d2 * {PQERR_FP}) as bigint)"
        )

    def table(self, v: list) -> list[int]:
        """The ADC table of the driver-held vector ``v``: floor(d²·2²⁰)
        of subspace s against codeword j at index s·len(ks) + j."""
        return [
            int(
                math.floor(
                    py_l2_sq(subvector(v, s), subvector(self.codebook[k], s))
                    * PQ_FP
                )
            )
            for s in range(PQ_M)
            for k in self.ks
        ]

    def coded_index(self, frame: DataFrame, *keep: str | Column) -> DataFrame:
        """``keep`` plus ``codes`` (the encode of ``frame``), materialized
        once behind a ``localCheckpoint`` — the PQ-coded index a faiss
        pipeline builds once and then scans.

        The barrier is the derived-array-under-join fix: without it the
        interpreted encode re-evaluates per JOIN-OUTPUT row of the scan
        joins. Measured (SCALING.md rounds 8 and 9): residual IVFPQ's
        scored stage 190.7 s → 1.7 s at 1.2 M vectors (~NPROBE·|Q|/NLIST
        ≈ 5 evaluations per corpus row); shared-codebook IVFPQ fresh
        min-of-2 55.3/165.3 s → 34.8/50.9 s at 2.4 M/4.8 M vectors
        (alpha 1.58 → 0.55); ``emb_pq_adc``'s |Q|-way crossJoin fresh
        min-of-N 37.8/35.6 s → 18.9/32.8 s at 1.2 M/2.4 M vectors. The
        barrier belongs on the codes: round 7's wash A/B checkpointed
        the float residuals, which leaves the encode under the join."""
        coded = frame.select(
            *keep, F.expr(self.encode_sql()).alias("codes")
        ).localCheckpoint(eager=False)
        return coded

    def adc_shortlist(self, pairs: DataFrame) -> DataFrame:
        """(q_id, vec_id, adc_fp): the ADC scan of ``pairs`` (code rows
        joined to table rows ``t``, self-pairs dropped) cut to each
        query's PQ_SHORTLIST least sums, ties by vec_id.

        Round-10 decision (plans/r10/emb_pq_adc_before.txt): the rank
        window is not salted. Spark 4.1's rank-limit pushdown
        (SPARK-37099) plans it as `Sort → WindowGroupLimit(Partial) →
        Exchange(q_id) → WindowGroupLimit(Final) → Window`: every map
        task keeps its own top-PQ_SHORTLIST per query, so the exchange
        carries ≤ maptasks·|Q|·PQ_SHORTLIST rows — the two-phase partial
        top-k, engine-side, with one exchange. A salted rewrite was
        measured to add a second exchange and TOPK_SALT× more shuffled
        survivors for the same local sort work."""
        scored = pairs.filter(F.col("vec_id") != F.col("q_id")).select(
            "q_id",
            "vec_id",
            F.expr(
                "aggregate(transform(codes, (c, s) -> "
                f"t[s * {len(self.ks)} + c]), 0L, (acc, x) -> acc + x)"
            ).alias("adc_fp"),
        )
        ws = Window.partitionBy("q_id").orderBy("adc_fp", "vec_id")
        return (
            scored.withColumn("srnk", F.row_number().over(ws))
            .filter(F.col("srnk") <= PQ_SHORTLIST)
            .select("q_id", "vec_id", "adc_fp")
        )


def l2_top(pairs: DataFrame, k: int) -> DataFrame:
    """Rows of (q_id, vec_id, d2) ``pairs`` ranked ``rnk`` by (d2,
    vec_id) within each query, kept to rank ≤ k."""
    w = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    return pairs.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def refine(
    shortlist: DataFrame, emb: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """(q_id, vec_id, adc_fp, d2, rnk): the exact L2 top-k of each
    query's shortlist. ``emb`` is (vec_id, embedding); ``queries`` is
    (q_id, q_emb) and broadcasts."""
    reranked = (
        shortlist.join(emb, "vec_id")
        .join(F.broadcast(queries), "q_id")
        .select(
            "q_id",
            "vec_id",
            "adc_fp",
            l2_sq(F.col("q_emb"), F.col("embedding")).alias("d2"),
        )
    )
    return l2_top(reranked, k).select(
        "q_id", "vec_id", "adc_fp", "d2", F.col("rnk").cast("int").alias("rnk")
    )


def _sql_sub(rel: str, col: str, keys: list[str]) -> str:
    return f"""SELECT {", ".join(keys)}, s,
         {col}[s * {PQ_SUBDIM} + 1 : s * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sv
  FROM {rel}, UNNEST(range(0, {PQ_M})) AS t(s)"""


def sql_pq_ctes(
    rel: str = "embeddings",
    col: str = "embedding",
    queries: tuple[str, str] | None = None,
    by_list: bool = False,
) -> str:
    """DuckDB mirror of ``ProductQuantizer`` over relation ``rel`` (with
    vec_id, and list_id when ``by_list``) and its vector column ``col``,
    as CTEs:

    - ``sub(vec_id[, list_id], s, sv)``: the subvectors;
    - ``cbi(s, sv, j)``: the codebook, rows vec_id < PQ_K by vec_id;
    - ``encoded(vec_id[, list_id], s, code, d2)``: each subvector's
      nearest codeword (``ORDER BY d2, j``) and its distance;
    - when ``queries = (qrel, qcol)`` is given, ``qsub`` and
      ``qtab(q_id[, list_id], s, j, dfp)``: the ADC table of each
      ``qrel`` row (q_id, and list_id when ``by_list``)."""
    keys = ["vec_id", "list_id"] if by_list else ["vec_id"]
    ctes = f"""sub AS (
  {_sql_sub(rel, col, keys)}
), cbi AS (
  SELECT s, sv, ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS j
  FROM sub WHERE vec_id < {PQ_K}
), encoded AS (
  SELECT {", ".join(f"v.{c}" for c in keys)}, v.s, c.j AS code,
         {sql_l2_sq("v.sv", "c.sv")} AS d2
  FROM sub v JOIN cbi c ON v.s = c.s
  QUALIFY ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s ORDER BY d2, c.j) = 1
)"""
    if queries is None:
        return ctes
    qrel, qcol = queries
    qkeys = ["q_id"] + keys[1:]
    return f"""{ctes}, qsub AS (
  {_sql_sub(qrel, qcol, qkeys)}
), qtab AS (
  SELECT {", ".join(f"q.{c}" for c in qkeys)}, q.s, c.j,
         CAST(floor({sql_l2_sq("q.sv", "c.sv")} * {PQ_FP}) AS BIGINT) AS dfp
  FROM qsub q JOIN cbi c ON q.s = c.s
)"""


def sql_adc_refine(k: int, by_list: bool = False) -> str:
    """DuckDB mirror of ``adc_shortlist`` plus ``refine`` over
    ``sql_pq_ctes``' ``encoded`` and ``qtab`` (joined on list_id too when
    ``by_list``): the ``adc``, ``shortlist`` and ``reranked`` CTEs and
    the final (q_id, vec_id, adc_fp, d2, rnk) SELECT of the top k."""
    on = "t.list_id = e.list_id AND " if by_list else ""
    return f"""adc AS (
  SELECT t.q_id, e.vec_id, SUM(t.dfp) AS adc_fp
  FROM encoded e JOIN qtab t ON {on}t.s = e.s AND t.j = e.code
  WHERE e.vec_id <> t.q_id
  GROUP BY t.q_id, e.vec_id
), shortlist AS (
  SELECT q_id, vec_id, adc_fp FROM adc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                             ORDER BY adc_fp, vec_id) <= {PQ_SHORTLIST}
), reranked AS (
  SELECT s.q_id, s.vec_id, CAST(s.adc_fp AS BIGINT) AS adc_fp,
         {sql_l2_sq("q.embedding", "b.embedding")} AS d2
  FROM shortlist s
  JOIN embeddings b ON b.vec_id = s.vec_id
  JOIN embeddings q ON q.vec_id = s.q_id
)
SELECT q_id, vec_id, adc_fp, d2, CAST(rnk AS INT) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY d2, vec_id) AS rnk
      FROM reranked)
WHERE rnk <= {k}
"""
