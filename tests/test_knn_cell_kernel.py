"""Edge-case unit tests for the vectorized kNN cell kernel
(_knn_cell_topk, the cell driver of functions/pairscore.py) — pure
pyarrow/numpy, no Spark session.

The kernel must reproduce the SQL oracle's window semantics exactly:
ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC),
rank <= KNN_GRAPH_K, self excluded, NaN-cosine sorts FIRST on the
descending key (Spark/DuckDB NaN-is-greatest double ordering).
"""
import math

import numpy as np
import pyarrow as pa

from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
    KNN_GRAPH_K,
    _knn_cell_topk,
)


def _cell(ids, vecs):
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(
                [np.array(v, dtype=np.float32) for v in vecs],
                pa.list_(pa.float32()),
            ),
        }
    )


def _col(res, name):
    return res.column(name).to_pylist()


def _oracle(ids, vecs):
    """Row-at-a-time reference: same fold order, same window."""
    def cos(a, b):
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        for x in a:
            na += float(x) * float(x)
        for y in b:
            nb += float(y) * float(y)
        # IEEE division (0/0 -> NaN), not python's ZeroDivisionError
        return float(np.float64(dot) / np.float64(math.sqrt(na) * math.sqrt(nb)))

    out = []
    for i, src in enumerate(ids):
        cands = []
        for j, dst in enumerate(ids):
            if i == j:
                continue
            c = cos(vecs[i], vecs[j])
            # NaN sorts first on DESC in Spark/DuckDB
            k = math.inf if math.isnan(c) else c
            cands.append((-k, dst, c))
        cands.sort()
        for rank, (_, dst, c) in enumerate(cands[:KNN_GRAPH_K], start=1):
            out.append((src, rank, dst, c))
    return out


def _kernel_rows(cell):
    res = _knn_cell_topk(cell)
    return list(zip(*(_col(res, c) for c in ("src", "rank", "dst", "cos"))))


def _assert_matches(ids, vecs):
    got = sorted(_kernel_rows(_cell(ids, vecs)))
    # the kernel (like the engine) sees float32-rounded inputs — round
    # the reference through float32 too before the float64 arithmetic
    f32 = [
        [float(np.float32(x)) for x in v] for v in vecs
    ]
    want = sorted(_oracle(ids, f32))
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3], (g, w)
        assert (
            (math.isnan(g[3]) and math.isnan(w[3])) or g[3] == w[3]
        ), (g, w)


def test_single_vector_cell_emits_nothing():
    res = _knn_cell_topk(_cell([7], [[1.0, 2.0]]))
    assert res.num_rows == 0
    assert res.column_names == ["src", "rank", "dst", "cos"]
    assert res.schema.field("rank").type == pa.int32()


def test_two_vector_cell_emits_one_edge_each():
    res = _knn_cell_topk(_cell([1, 2], [[1.0, 0.0], [0.5, 0.5]]))
    assert res.num_rows == 2
    assert set(_col(res, "rank")) == {1}


def test_small_cell_caps_rank_at_m_minus_1():
    ids = [10, 11, 12]
    vecs = [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]]
    res = _knn_cell_topk(_cell(ids, vecs))
    assert res.num_rows == 3 * 2  # m-1 = 2 < KNN_GRAPH_K
    _assert_matches(ids, vecs)


def test_exact_match_vs_reference_fold():
    rng = np.random.RandomState(8)
    ids = list(range(100, 120))
    vecs = rng.randn(20, 16).astype(np.float32)
    _assert_matches(ids, list(vecs))


def test_cosine_ties_break_by_ascending_dst():
    # dst 3 and 4 are IDENTICAL vectors -> identical cos to src
    ids = [1, 3, 4, 9]
    vecs = [[1.0, 0.0], [0.6, 0.8], [0.6, 0.8], [0.0, 1.0]]
    rows = sorted(r[1:3] for r in _kernel_rows(_cell(ids, vecs)) if r[0] == 1)
    assert [dst for _, dst in rows] == [3, 4, 9]


def test_zero_norm_vector_nan_sorts_first_desc():
    # vec 5 is all-zero: cos(src, 5) = NaN, which Spark's DESC puts FIRST
    ids = [1, 2, 5]
    vecs = [[1.0, 0.0], [0.9, 0.1], [0.0, 0.0]]
    rows = sorted(r[1:] for r in _kernel_rows(_cell(ids, vecs)) if r[0] == 1)
    assert rows[0][1] == 5
    assert math.isnan(rows[0][2])
    _assert_matches(ids, vecs)


def test_self_never_emitted():
    rng = np.random.RandomState(42)
    ids = list(range(50))
    vecs = rng.randn(50, 8).astype(np.float32)
    rows = _kernel_rows(_cell(ids, list(vecs)))
    assert not any(src == dst for src, _, dst, _ in rows)
    best = {}
    for src, rank, _, _ in rows:
        best[src] = max(best.get(src, 0), rank)
    assert set(best.values()) == {KNN_GRAPH_K} and len(best) == 50
