"""The panel drivers of the exact pair-scorer kernel (functions/pairscore.py)
against a pure-Python left fold: numpy and pyarrow only, no Spark session.

A batch's output must be what the engines' window computes over that
batch: ORDER BY cos DESC (NaN first), vec_id ASC, the query's own row
left out; ``panel_max`` must be the engines' MAX over the panel.
"""

import math

import numpy as np
import pyarrow as pa
import pytest

from blog_snapshotbackup_azuredatalake_spark.functions import pairscore


def _fold_cos(a, b):
    """Spark's aggregate(zip_with) cosine: left-to-right double folds."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    return float(np.float64(dot) / np.float64(math.sqrt(na) * math.sqrt(nb)))


def _batch(ids, vecs):
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids, type=pa.int64()),
            pa.array([list(v) for v in vecs], type=pa.list_(pa.float32())),
        ],
        names=["vec_id", "embedding"],
    )


def _f32(vecs):
    return [[float(np.float32(x)) for x in v] for v in vecs]


def _reference(ids, vecs, q_ids, q_vecs, k, width=None):
    """Each query's top-k rows as {(q_id, vec_id): cos}, row at a time."""
    out = {}
    for q, qv in zip(q_ids, q_vecs):
        cands = []
        for i, v in zip(ids, vecs):
            if i == q:
                continue
            c = _fold_cos(qv[:width], v[:width])
            cands.append((-math.inf if math.isnan(c) else -c, i, c))
        cands.sort()
        out.update({(q, i): c for _, i, c in cands[:k]})
    return out


def _same(x, y):
    return (math.isnan(x) and math.isnan(y)) or x == y


def _rows(rb, col="cos"):
    d = rb.to_pydict()
    return {(q, v): c for q, v, c in zip(d["q_id"], d["vec_id"], d[col])}


def _panel(ids, vecs):
    return pairscore.stack(zip(ids, _f32(vecs)))


def test_panel_topk_is_bit_equal_to_the_left_fold():
    rng = np.random.RandomState(3)
    ids = list(rng.permutation(1000)[:200])
    vecs = _f32(rng.randn(200, 48).astype(np.float32))
    q_ids, q_vecs = ids[:7] + [5000], vecs[:7] + [vecs[9]]
    batch, panel = _batch(ids, vecs), _panel(q_ids, q_vecs)
    got = _rows(pairscore.panel_topk(batch, *panel, 5, {"cos": None}))
    want = _reference(ids, vecs, q_ids, q_vecs, 5)
    assert got.keys() == want.keys()
    assert all(_same(got[p], want[p]) for p in want)


def test_each_width_is_the_fold_of_the_truncated_vectors():
    rng = np.random.RandomState(4)
    ids = list(range(60))
    vecs = _f32(rng.randn(60, 16).astype(np.float32))
    rb = pairscore.panel_topk(
        _batch(ids, vecs), *_panel(ids[:4], vecs[:4]), 3, {"cf": None, "ct": 6}
    )
    full = _reference(ids, vecs, ids[:4], vecs[:4], 3)
    cut = _reference(ids, vecs, ids[:4], vecs[:4], 3, width=6)
    assert set(_rows(rb, "cf")) == full.keys() | cut.keys()
    d = rb.to_pydict()
    for q, v, cf, ct in zip(d["q_id"], d["vec_id"], d["cf"], d["ct"]):
        assert cf == _fold_cos(vecs[q], vecs[v])
        assert ct == _fold_cos(vecs[q][:6], vecs[v][:6])


def test_zero_norm_row_sorts_first():
    ids = [1, 2, 3, 4]
    vecs = [[1.0, 0.0], [0.9, 0.1], [0.0, 0.0], [0.8, 0.6]]
    rb = pairscore.panel_topk(
        _batch(ids, vecs), *_panel([1], [vecs[0]]), 1, {"cos": None}
    )
    d = rb.to_pydict()
    assert d["vec_id"] == [3] and math.isnan(d["cos"][0])


def test_ties_break_by_id():
    ids = [9, 4, 7, 1]
    vecs = [[0.6, 0.8]] * 3 + [[1.0, 0.0]]
    rb = pairscore.panel_topk(
        _batch(ids, vecs), *_panel([1], [vecs[3]]), 2, {"cos": None}
    )
    assert sorted(rb.column("vec_id").to_pylist()) == [4, 7]


def test_own_row_is_excluded():
    ids = [1, 2, 3]
    vecs = [[1.0, 0.0], [0.0, 1.0], [0.7, 0.7]]
    rb = pairscore.panel_topk(
        _batch(ids, vecs), *_panel(ids, vecs), 5, {"cos": None}
    )
    d = rb.to_pydict()
    assert len(d["q_id"]) == 3 * 2
    assert all(q != v for q, v in zip(d["q_id"], d["vec_id"]))


def test_batch_shorter_than_k_and_empty_batch():
    vecs = [[1.0, 0.0], [0.0, 1.0]]
    short = pairscore.panel_topk(
        _batch([1, 2], vecs), *_panel([7], [vecs[0]]), 5, {"cos": None}
    )
    assert sorted(short.column("vec_id").to_pylist()) == [1, 2]
    empty = pairscore.panel_topk(
        _batch([1, 2], vecs).slice(0, 0), *_panel([7], [vecs[0]]), 5, {"cos": None}
    )
    assert empty.num_rows == 0
    assert empty.schema.names == ["q_id", "vec_id", "cos"]


def test_unequal_lengths_raise():
    batch = _batch([1, 2], [[1.0, 0.0], [1.0, 0.0, 0.0]])
    with pytest.raises(ValueError):
        pairscore.panel_topk(batch, *_panel([7], [[1.0, 0.0]]), 5, {"cos": None})
    batch = _batch([1, 2], [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    with pytest.raises(ValueError):
        pairscore.panel_max(batch, _panel([7], [[1.0, 0.0]])[1], ["vec_id"])
    with pytest.raises(ValueError):
        pairscore.stack([(1, [1.0, 0.0]), (2, [1.0])])


def test_panel_max_is_the_engines_max():
    rng = np.random.RandomState(5)
    ids = list(range(40))
    vecs = _f32(rng.randn(40, 12).astype(np.float32))
    vecs[3] = [0.0] * 12
    _, bench = _panel(ids[:6], vecs[:6])
    rb = pairscore.panel_max(_batch(ids, vecs), bench, ["vec_id"])
    d = rb.to_pydict()
    assert d["vec_id"] == ids
    for v, got in zip(ids, d["max_cos"]):
        cos = [_fold_cos(vecs[v], b) for b in vecs[:6]]
        # NaN is the greatest double in both engines' MAX
        want = math.nan if any(map(math.isnan, cos)) else max(cos)
        assert _same(got, want), (v, got, want)
    empty = pairscore.panel_max(_batch(ids, vecs), _panel([], [])[1], ["vec_id"])
    assert empty.num_rows == 0
    assert empty.schema.names == ["vec_id", "max_cos"]
