"""Product quantization with asymmetric-distance (ADC) search and exact
refine — the IVFADC recipe of Jégou et al., *Product Quantization for
Nearest Neighbor Search* (TPAMI 2011) — in numpy (``ProductQuantizer``,
run on Arrow batches of a scan) and DuckDB SQL (``sql_pq_ctes``,
``sql_adc_refine``) forms. The five PQ entries (``emb_pq_adc``,
``emb_pq_residual_audit``, ``ann_topk_ivfpq``,
``ann_topk_ivfpq_residual``, ``ann_ivfpq_recall``) and their oracles use
these definitions.

A vector of PQ_M·PQ_SUBDIM dims is PQ_M subvectors of PQ_SUBDIM dims.
The codebook is the first PQ_K rows (vec_id < PQ_K) of a vector column,
deterministic and KBs at any corpus size: codeword j of subspace s is
the j-th of those rows by vec_id, cut to subspace s. A vector's code in
subspace s is the codeword at the least squared L2 distance, ties to the
lower j; its quantization error is that distance.

- Encode: ``pairscore.nearest`` per subspace against the PQ_K
  codewords, so the code and the error ``floor(d2·2³⁰)`` come from the
  same search, in the Arrow batch scan that also sums the ADC tables.
  Measured against the unrolled literal ``array_min`` expression it
  replaced (a ~128 KB SQL string Janino could not compile, which then
  ran interpreted; SCALING.md, "One nearest-codeword kernel"):
  ``emb_pq_adc`` 30.4 → 5.9 s on a 200,000-vector corpus and 5.84 →
  0.66 s warm at sf0.1, medians of interleaved cold sessions on a
  4-vCPU host.
- ADC table: for one driver-held vector (a query, or a query minus its
  probed centroid) ``floor(d²·2²⁰)`` per (subspace, codeword) as
  BIGINTs, so a scan's per-pair sum is integer-exact, order-independent
  and engine-portable.
- ADC scan (``shortlist``): a batch row's sum of PQ_M lookups per query;
  each query keeps the batch's PQ_SHORTLIST least sums (ties by vec_id).
  A row in a query's global shortlist is in its batch's, so a window over
  the candidates gives the oracle's shortlist exactly.
- Refine: the exact L2 of each shortlisted pair (``pairscore.l2_sq``),
  then the top-k by (d2, vec_id) — the only float math after the scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions import pairscore
from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
    sql_l2_sq,
)

PQ_M = 32  # subspaces (64-dim → 2 dims each)
PQ_SUBDIM = 2
PQ_K = 16  # codes per subspace → one byte-nibble per subspace
PQ_FP = 1 << 20  # fixed-point scale for ADC table entries
PQERR_FP = 1 << 30  # fixed-point scale for per-subspace min-d2 errors
PQ_SHORTLIST = 20  # ADC candidates per query kept for exact re-rank


def seeds(frame: DataFrame, col: str = "embedding") -> np.ndarray:
    """The ``col`` vectors of ``frame``'s rows vec_id < PQ_K, by vec_id,
    collected as a float64 matrix: the codebook (as residuals, the
    residual quantizer's)."""
    rows = frame.filter(F.col("vec_id") < PQ_K).select("vec_id", col).collect()
    return pairscore.stack(sorted(rows))[1]


class ProductQuantizer:
    """A quantizer with the driver-held ``codebook``: a (k, PQ_M·PQ_SUBDIM)
    float64 matrix whose row j is codeword j, k ≤ PQ_K."""

    def __init__(self, codebook: np.ndarray) -> None:
        self.codebook = codebook
        self.j = np.arange(len(codebook))

    def _subspaces(self):
        for s in range(PQ_M):
            yield s, slice(s * PQ_SUBDIM, (s + 1) * PQ_SUBDIM)

    def encode(self, x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(rows × PQ_M) codes and errors ``floor(d2·2³⁰)`` of the rows of
        ``x``: the nearest codeword of each subvector, ties to the lower
        j."""
        codes = np.empty((len(x), PQ_M), np.int64)
        errs = np.empty((len(x), PQ_M), np.int64)
        xt = np.ascontiguousarray(x.T)  # a subspace's columns, contiguous
        for s, sub in self._subspaces():
            j, d2 = pairscore.nearest(xt[sub].T, self.j, self.codebook[:, sub])
            codes[:, s] = j[:, 0]
            errs[:, s] = np.floor(d2[:, 0] * PQERR_FP)
        return codes, errs

    def tables(self, v: np.ndarray) -> np.ndarray:
        """The ADC tables of the rows of ``v``: (rows × PQ_M × k)
        ``floor(d²·2²⁰)`` of subvector s against codeword j."""
        out = np.empty((len(v), PQ_M, len(self.codebook)), np.int64)
        for s, sub in self._subspaces():
            d2 = pairscore.l2_sq(v[:, None, sub], self.codebook[None, :, sub])
            out[:, s] = np.floor(d2 * PQ_FP)
        return out

    def shortlist(self, ids, codes, tables, at, exclude):
        """``(row, col, adc)``: each query's PQ_SHORTLIST batch rows by
        least ADC sum, ties by ``ids``, leaving out the (rows × queries)
        ``exclude`` pairs. ``tables`` is (sets × queries × PQ_M × k) and
        row i sums set ``at[i]``'s tables over its ``codes``."""
        adc = np.zeros(exclude.shape, np.int64)
        for s in range(PQ_M):
            adc += tables[at, :, s, codes[:, s]]
        row, col, _ = pairscore.top_k(
            adc, ids, exclude, PQ_SHORTLIST, ascending=True
        )
        return row, col, adc[row, col]


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
    """DuckDB mirror of ``shortlist`` plus the refine over
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
