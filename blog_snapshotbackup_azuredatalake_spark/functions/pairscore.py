"""Exact cosine pair scoring in numpy, with no Spark in it.

The registry's cosine (``functions/vectors.py``) is a left-to-right double
fold: Spark's ``F.aggregate`` over ``zip_with`` and DuckDB's ``list_reduce``
add one product at a time. numpy's ``dot``, ``sum`` and BLAS ``@`` add
pairwise or in blocks, so they differ in the last ulp and near-tied ranks
flip. This kernel keeps the fold: it adds one dimension at a time across a
whole block of pairs, so every dot product and squared norm is the same
sequence of double additions the engines make, and the quotient is
``dot / (|a|·|b|)``, multiplied first. Ranking is the engines'
``ORDER BY cos DESC, id``: NaN (a zero-norm vector) is the greatest double
and sorts first, and ties go to the smaller id.

Two drivers run it. ``cell_topk`` scores all pairs within one group of
rows (``applyInArrow`` in ``ann_knn_graph``). ``panel_topk`` and
``panel_max`` pick from one Arrow batch of a corpus scan (``mapInArrow``)
scored against a small panel collected on the driver (``stack``): each
query's top-k rows of the batch under each score and exclusion mask, or
each row's best cosine. A row in a query's global top-k is in its batch's
top-k, so a window over the per-batch candidates picks the global top-k
exactly. ``sign_hamming`` is the other score a panel scan picks by: the
count of sign bits two vectors differ in.

``nearest`` is the search against a small codeword panel (IVF and k-means
centroids, a product quantizer's codewords): each row's first ``n`` panel
rows under the squared-L2 fold ``l2_sq`` or the negated cosine, ascending
as the engines' ``ORDER BY d, id`` sorts, so ties go to the lower id and
NaN, the greatest double, comes last.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK = 1 << 16  # pairs scored together: one block's arrays stay in cache


def stack(rows) -> tuple[np.ndarray, np.ndarray]:
    """``(ids, vectors)`` of ``(id, vector)`` rows: int64 ids and an
    (n, d) float64 matrix. Vectors of unequal length raise."""
    rows = list(rows)
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    vecs = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, vecs.reshape(len(rows), -1 if rows else 0)


def matrix(values: pa.Array, width: int | None = None) -> np.ndarray:
    """An Arrow list column as an (n, width) float64 matrix, through one
    ``flatten()``; ``width`` defaults to the first vector's. A null or a
    vector of another length raises: a reshape would pair the wrong
    elements."""
    if width is None:
        width = len(values[0]) if len(values) else 0
    lengths = np.diff(values.offsets.to_numpy())
    if values.null_count or (lengths != width).any():
        raise ValueError(f"expected vectors of {width} elements")
    flat = values.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(values), width)


def cosines(a: np.ndarray, b: np.ndarray, widths=(None,)) -> list[np.ndarray]:
    """``cos[i, j]`` of rows ``a[i]`` and ``b[j]`` over their first ``w``
    elements, one matrix per ``w`` in ``widths`` (None: all of them). One
    fold serves every width: a prefix's cosine is the fold read early."""
    if a.shape[1] != b.shape[1]:
        raise ValueError(f"vectors of {a.shape[1]} and {b.shape[1]} elements")
    d = a.shape[1]
    stops = [d if w is None else min(w, d) for w in widths]
    # norms after each prefix: cumsum adds in order, as the fold does
    na, nb = (
        np.sqrt(np.cumsum(np.pad(v * v, ((0, 0), (1, 0))), axis=1)) for v in (a, b)
    )
    at, bt = np.ascontiguousarray(a.T), np.ascontiguousarray(b.T)
    out = [np.empty((len(a), len(b))) for _ in stops]
    rows = max(1, BLOCK // max(len(b), 1))
    tmp = np.empty((rows, len(b)))
    for lo in range(0, len(a), rows):
        blk = slice(lo, lo + rows)
        dot = np.zeros((min(rows, len(a) - lo), len(b)))
        t = tmp[: len(dot)]
        done = 0
        for j in sorted(range(len(stops)), key=stops.__getitem__):
            for i in range(done, stops[j]):
                dot += np.multiply.outer(at[i, blk], bt[i], out=t)
            done = stops[j]
            with np.errstate(divide="ignore", invalid="ignore"):
                out[j][blk] = dot / np.multiply.outer(
                    na[blk, done], nb[:, done]
                )
    return out


def l2_sq(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Σ (a - b)² over the last axis, one element at a time from the left
    as the engines fold it; the other axes of ``a`` and ``b`` broadcast
    (``a[:, None]`` against ``b[None]`` gives every pair)."""
    if a.shape[-1] != b.shape[-1]:
        raise ValueError(f"vectors of {a.shape[-1]} and {b.shape[-1]} elements")
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    t = np.empty_like(acc)
    for i in range(a.shape[-1]):
        np.subtract(a[..., i], b[..., i], out=t)
        t *= t
        acc += t
    return acc


# (rows × panel) distances; the L2 fold runs panel-major, so each step's
# inner loop is over the rows, not over the few panel vectors
FOLDS = {
    "l2_sq": lambda x, panel: l2_sq(panel[:, None], x[None]).T,
    "neg_cosine": lambda x, panel: -cosines(x, panel)[0],
}


def nearest(
    x: np.ndarray, ids: np.ndarray, panel: np.ndarray, n: int = 1, fold="l2_sq"
) -> tuple[np.ndarray, np.ndarray]:
    """The ``n`` rows of ``panel`` nearest to each row of ``x`` under the
    ``FOLDS`` entry ``fold``, as (rows × n) arrays of their ``ids`` and
    distances, nearest first: ascending distance, ties to the lower id,
    NaN last (the greatest double in both engines). Fewer than ``n``
    panel rows give fewer columns."""
    if not len(x):
        return np.zeros((0, n), np.int64), np.zeros((0, n))
    order = np.argsort(ids, kind="stable")
    ids, d = ids[order], FOLDS[fold](x, panel[order])
    if n == 1 and not np.isnan(d).any():  # argmin keeps the first minimum
        pick = d.argmin(axis=1)[:, None]
    else:  # a stable sort keeps id order in a tie and puts NaN last
        pick = np.argsort(d, axis=1, kind="stable")[:, :n]
    return ids[pick], np.take_along_axis(d, pick, axis=1)


def sign_hamming(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``ham[i, j]``: the elements whose sign bits differ between rows
    ``a[i]`` and ``b[j]``. An element's bit is ``x >= 0``, and NaN's bit is
    set: Spark and DuckDB order NaN above every number, numpy does not."""
    sa, sb = (((v >= 0) | np.isnan(v)).astype(np.int64) for v in (a, b))
    return sa @ (1 - sb).T + (1 - sa) @ sb.T


def top_k(
    score: np.ndarray,
    ids: np.ndarray,
    exclude: np.ndarray,
    k: int,
    ascending: bool = False,
):
    """The best ``k`` rows of each column j of ``score`` (rows × queries)
    by score descending, NaN first (``ascending``: ascending, NaN last),
    then ``ids`` ascending, leaving out the rows where ``exclude`` (rows ×
    queries) is true. Returns ``(row, col, rank)`` arrays, column by
    column in rank order."""
    tie = np.broadcast_to(ids[:, None], score.shape)
    nan = np.isnan(score)
    key = (score, nan) if ascending else (-score, ~nan)
    row = np.lexsort((tie, *key, exclude), axis=0)[:k].T
    col = np.broadcast_to(np.arange(row.shape[0])[:, None], row.shape)
    rank = np.broadcast_to(np.arange(1, row.shape[1] + 1), row.shape)
    keep = ~exclude[row, col]
    return row[keep], col[keep], rank[keep]


def split_masks(own: np.ndarray, by: np.ndarray, q_by: np.ndarray) -> list:
    """Two exclusion masks (rows × queries) that pick each query's rows
    whose ``by`` equals the query's ``q_by``, then its rows whose ``by``
    differs, the ``own`` pairs left out of both. NaN stands for NULL: it
    is neither equal nor unequal to anything, so its pairs are in neither
    pick, as in SQL."""
    by = by[:, None]
    return [own | ~(by == q_by), own | ~((by < q_by) | (by > q_by))]


def cell_topk(cell: pa.Table, k: int) -> pa.Table:
    """Every row's ``k`` nearest other rows within one cell of
    ``(vec_id, embedding)`` rows, as ``(src, rank, dst, cos)``."""
    ids = cell.column("vec_id").to_numpy()
    x = matrix(cell.column("embedding").combine_chunks())
    cos = cosines(x, x)[0]
    dst, src, rank = top_k(cos, ids, ids[:, None] == ids, k)
    return pa.table(
        {
            "src": ids[src],
            "rank": rank.astype(np.int32),
            "dst": ids[dst],
            "cos": cos[dst, src],
        }
    )


def panel_topk(
    batch: pa.RecordBatch,
    queries: dict,
    scores: dict,
    excludes: list,
    k: int,
    carry: list[str],
    ascending: bool = False,
) -> pa.RecordBatch:
    """Each panel query's top-``k`` rows of one batch under each score of
    ``scores`` ({column: rows × queries matrix}) and each exclusion mask
    of ``excludes``, ranked by ``top_k`` (``ascending`` or not) with
    ``vec_id`` breaking ties.
    Emits the ``queries`` columns ({column: one value per query}), the
    batch's ``carry`` columns and every score for the union of the top-k
    sets, one row per picked (query, row) pair."""
    n = batch.num_rows
    ids = batch.column("vec_id").to_numpy()
    tops = [
        top_k(s, ids, m, k, ascending) for s in scores.values() for m in excludes
    ]
    picked = np.unique(np.concatenate([c * n + r for r, c, _ in tops]))
    row, col = (picked % n, picked // n) if n else (picked, picked)
    return pa.RecordBatch.from_arrays(
        [pa.array(v[col]) for v in queries.values()]
        + batch.select(carry).take(pa.array(row)).columns
        + [pa.array(s[row, col]) for s in scores.values()],
        names=[*queries, *carry, *scores],
    )


def panel_max(batch: pa.RecordBatch, vectors, keep: list[str]):
    """Each row's greatest cosine over the panel ``vectors`` as
    ``max_cos``, next to the batch's ``keep`` columns. NaN is the greatest
    double, as in both engines' MAX. An empty panel pairs with nothing, so
    no row is emitted."""
    if not len(vectors):
        batch = batch.slice(0, 0)
    x = matrix(batch.column("embedding"), vectors.shape[1])
    best = cosines(x, vectors)[0].max(axis=1, initial=-np.inf)
    return batch.select(keep).append_column("max_cos", pa.array(best))
