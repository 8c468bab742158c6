"""The panel drivers of the exact pair-scorer kernel (functions/pairscore.py)
against a pure-Python left fold and DuckDB: no Spark session.

A batch's output must be what the engines' window computes over that
batch: ORDER BY cos DESC (NaN first), vec_id ASC, the masked pairs (the
query's own row) left out; ``panel_max`` must be the engines' MAX over
the panel, and ``sign_hamming`` the oracle's packed-bit count.
"""

import math

import duckdb
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


def _batch(ids, vecs, **extra):
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids, type=pa.int64()),
            pa.array([list(v) for v in vecs], type=pa.list_(pa.float32())),
            *extra.values(),
        ],
        names=["vec_id", "embedding", *extra],
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


def _pick(batch, panel, k, widths={"cos": None}, carry=("vec_id",)):
    """The panel scan's pick: cosines at each width, own row masked."""
    ids, vecs = panel
    x = pairscore.matrix(batch.column("embedding"), vecs.shape[1])
    own = batch.column("vec_id").to_numpy()[:, None] == ids
    scores = dict(zip(widths, pairscore.cosines(x, vecs, widths.values())))
    return pairscore.panel_topk(batch, {"q_id": ids}, scores, [own], k, list(carry))


def test_panel_topk_is_bit_equal_to_the_left_fold():
    rng = np.random.RandomState(3)
    ids = list(rng.permutation(1000)[:200])
    vecs = _f32(rng.randn(200, 48).astype(np.float32))
    q_ids, q_vecs = ids[:7] + [5000], vecs[:7] + [vecs[9]]
    batch, panel = _batch(ids, vecs), _panel(q_ids, q_vecs)
    rb = _pick(batch, panel, 5, carry=("vec_id", "embedding"))
    got = _rows(rb)
    want = _reference(ids, vecs, q_ids, q_vecs, 5)
    assert got.keys() == want.keys()
    assert all(_same(got[p], want[p]) for p in want)
    # carried columns come back row-aligned with the picked vec_id
    by_id = dict(zip(ids, vecs))
    d = rb.to_pydict()
    assert all(by_id[v] == e for v, e in zip(d["vec_id"], d["embedding"]))


def test_each_width_is_the_fold_of_the_truncated_vectors():
    rng = np.random.RandomState(4)
    ids = list(range(60))
    vecs = _f32(rng.randn(60, 16).astype(np.float32))
    rb = _pick(_batch(ids, vecs), _panel(ids[:4], vecs[:4]), 3, {"cf": None, "ct": 6})
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
    rb = _pick(_batch(ids, vecs), _panel([1], [vecs[0]]), 1)
    d = rb.to_pydict()
    assert d["vec_id"] == [3] and math.isnan(d["cos"][0])


def test_ties_break_by_id():
    ids = [9, 4, 7, 1]
    vecs = [[0.6, 0.8]] * 3 + [[1.0, 0.0]]
    rb = _pick(_batch(ids, vecs), _panel([1], [vecs[3]]), 2)
    assert sorted(rb.column("vec_id").to_pylist()) == [4, 7]


def test_own_row_is_excluded():
    ids = [1, 2, 3]
    vecs = [[1.0, 0.0], [0.0, 1.0], [0.7, 0.7]]
    rb = _pick(_batch(ids, vecs), _panel(ids, vecs), 5)
    d = rb.to_pydict()
    assert len(d["q_id"]) == 3 * 2
    assert all(q != v for q, v in zip(d["q_id"], d["vec_id"]))


def test_masked_pairs_are_never_picked():
    rng = np.random.RandomState(6)
    ids = np.arange(50)
    score = rng.randint(0, 4, size=(50, 3)).astype(float)  # many ties
    score[::7] = np.nan
    mask = rng.rand(50, 3) < 0.5
    mask[:48, 2] = True  # fewer unmasked rows than k
    row, col, rank = pairscore.top_k(score, ids, mask, 4)
    assert not mask[row, col].any()
    for j in range(3):
        free = [i for i in ids if not mask[i, j]]
        free.sort(key=lambda i: (not math.isnan(score[i, j]), -score[i, j], i))
        assert list(row[col == j]) == free[:4]
        assert list(rank[col == j]) == list(range(1, len(free[:4]) + 1))


def test_label_masks_cover_the_hard_negative_partition():
    """Picked under ``split_masks``, each query's candidates are its
    top-k same-label rows (own row out) plus its top-k other-label rows;
    a null label (NaN) is in neither, as in the SQL window."""
    rng = np.random.RandomState(7)
    ids = list(range(80))
    vecs = _f32(rng.randn(80, 8).astype(np.float32))
    labels = rng.randint(0, 3, size=80).astype(float)
    labels[[5, 11, 40]] = np.nan
    batch = _batch(ids, vecs, label=pa.array(labels, from_pandas=True))
    q = [0, 1, 2, 5]  # query 5 has no label: it picks nothing
    q_ids, qv = _panel(q, [vecs[i] for i in q])
    x = pairscore.matrix(batch.column("embedding"), 8)
    own = np.array(ids)[:, None] == q_ids
    masks = pairscore.split_masks(own, labels, labels[q])
    rb = pairscore.panel_topk(
        batch,
        {"q_id": q_ids, "q_label": labels[q]},
        {"cos": pairscore.cosines(x, qv)[0]},
        masks,
        3,
        ["vec_id", "label"],
    )
    got = set(zip(rb.column("q_id").to_pylist(), rb.column("vec_id").to_pylist()))
    want = set()
    for qi in q:
        for same in (True, False):
            part = [
                i for i in ids
                if i != qi and not math.isnan(labels[i]) and not math.isnan(labels[qi])
                and (labels[i] == labels[qi]) == same
            ]
            best = _reference(part, [vecs[i] for i in part], [qi], [vecs[qi]], 3)
            want |= best.keys()
    assert got == want
    d = rb.to_pydict()
    for qi, v, lab, ql in zip(d["q_id"], d["vec_id"], d["label"], d["q_label"]):
        assert v != qi and lab == labels[v] and ql == labels[qi]


def test_second_vector_column_is_the_left_fold():
    """A second vector column (the reconstructed vectors of the int8
    audit, doubles) scored against the same panel."""
    rng = np.random.RandomState(8)
    ids = list(range(30))
    vecs = _f32(rng.randn(30, 10).astype(np.float32))
    recon = [[round(x, 2) / 3 for x in v] for v in vecs]
    batch = _batch(ids, vecs, rembedding=pa.array(recon, pa.list_(pa.float64())))
    q_ids, qv = _panel(ids[:3], vecs[:3])
    x = pairscore.matrix(batch.column("embedding"), 10)
    r = pairscore.matrix(batch.column("rembedding"), 10)
    rb = pairscore.panel_topk(
        batch,
        {"q_id": q_ids},
        {"cx": pairscore.cosines(x, qv)[0], "cr": pairscore.cosines(r, qv)[0]},
        [np.array(ids)[:, None] == q_ids],
        4,
        ["vec_id"],
    )
    want = _reference(ids, recon, ids[:3], vecs[:3], 4)
    d = rb.to_pydict()
    assert want.keys() <= set(zip(d["q_id"], d["vec_id"]))
    for q, v, cr in zip(d["q_id"], d["vec_id"], d["cr"]):
        assert cr == _fold_cos(vecs[q], recon[v])


def test_sign_hamming_is_the_oracles_packed_bit_count():
    """``sign_hamming`` against DuckDB's ``_pack_bits_sql`` halves and
    bit_count(xor), on vectors with NaN, -0.0 and 0.0 elements."""
    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        _HAM_HALF,
        _pack_bits_sql,
    )

    rng = np.random.RandomState(9)
    vecs = rng.randn(12, 2 * _HAM_HALF).astype(np.float32)
    vecs[0, :8] = np.nan
    vecs[1, ::3] = -0.0
    vecs[2, ::2] = 0.0
    vecs[3] = -vecs[4]
    tbl = pa.table(
        {"id": range(12), "e": pa.array(list(vecs), pa.list_(pa.float32()))}
    )
    packed = f"""SELECT id, {_pack_bits_sql("e", 0)} AS lo,
                 {_pack_bits_sql("e", _HAM_HALF)} AS hi FROM tbl"""
    con = duckdb.connect()
    con.register("tbl", tbl)
    ham = con.execute(f"""
        WITH p AS ({packed})
        SELECT a.id, b.id, bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
        FROM p a, p b ORDER BY 1, 2""").fetchall()
    got = pairscore.sign_hamming(vecs.astype(np.float64), vecs.astype(np.float64))
    assert [(i, j, int(got[i, j])) for i in range(12) for j in range(12)] == ham


def test_batch_shorter_than_k_and_empty_batch():
    vecs = [[1.0, 0.0], [0.0, 1.0]]
    short = _pick(_batch([1, 2], vecs), _panel([7], [vecs[0]]), 5)
    assert sorted(short.column("vec_id").to_pylist()) == [1, 2]
    empty = _pick(_batch([1, 2], vecs).slice(0, 0), _panel([7], [vecs[0]]), 5)
    assert empty.num_rows == 0
    assert empty.schema.names == ["q_id", "vec_id", "cos"]


def test_unequal_lengths_raise():
    batch = _batch([1, 2], [[1.0, 0.0], [1.0, 0.0, 0.0]])
    with pytest.raises(ValueError):
        _pick(batch, _panel([7], [[1.0, 0.0]]), 5)
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
