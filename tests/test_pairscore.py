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


# ---------------------------------------------------------------------------
# nearest: the centroid and codeword search (functions/centroids.py, pq.py)
# ---------------------------------------------------------------------------


def _ddb_embeddings(vecs):
    """A DuckDB connection with ``embeddings(vec_id, embedding FLOAT[])``."""
    con = duckdb.connect()
    con.register(
        "emb_t",
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        ),
    )
    con.execute("CREATE TABLE embeddings AS SELECT * FROM emb_t")
    return con


@pytest.mark.parametrize("fold", ["l2_sq", "neg_cosine"])
def test_nearest_is_the_oracles_centroid_search(fold):
    """``nearest`` against ``sql_centroid_ctes``: the assignment and the
    first-n probe lists, ids and distances, over seeds with an exact tie
    (seeds 0 and 1 are equal), a zero-norm seed and row (NaN cosines), a
    row with a NaN element and rows nearer to no seed in particular."""
    from blog_snapshotbackup_azuredatalake_spark.functions.centroids import (
        sql_centroid_ctes,
        sql_neg_cosine,
    )
    from blog_snapshotbackup_azuredatalake_spark.functions.vectors import sql_l2_sq

    rng = np.random.RandomState(11)
    vecs = _f32(rng.randint(-2, 3, size=(40, 6)).astype(np.float32) / 2)
    vecs[1] = vecs[0]
    vecs[3] = [0.0] * 6  # a zero-norm seed: its cosines are NaN
    vecs[7] = [0.0] * 6  # a zero-norm row: NaN against every seed
    vecs[9][2] = math.nan
    n_seeds, n = 5, 4
    con = _ddb_embeddings(vecs)
    sql_fold = sql_l2_sq if fold == "l2_sq" else sql_neg_cosine
    want = con.execute(
        f"""WITH {sql_centroid_ctes(n_seeds, "TRUE", n, sql_fold)}
        SELECT q_id, list(list_id ORDER BY p), list(d ORDER BY p)
        FROM probes GROUP BY q_id ORDER BY q_id"""
    ).fetchall()
    assigned = con.execute(
        f"""WITH {sql_centroid_ctes(n_seeds, fold=sql_fold)}
        SELECT list_id, d FROM assigned ORDER BY vec_id"""
    ).fetchall()
    x = np.array(vecs)
    ids = np.arange(n_seeds)[::-1].copy()  # any order: the kernel sorts
    got_ids, got_d = pairscore.nearest(x, ids, x[ids], n, fold)
    # DuckDB's 0/0 is NULL where the kernel's is NaN; both order last
    nan = lambda ds: [math.nan if d is None else d for d in ds]  # noqa: E731
    for (q, w_ids, w_d), g_ids, g_d in zip(want, got_ids, got_d):
        assert list(g_ids) == w_ids, q
        assert all(map(_same, g_d, nan(w_d))), (q, g_d, w_d)
    one_ids, one_d = pairscore.nearest(x, ids, x[ids], 1, fold)
    assert one_ids[:, 0].tolist() == [i for i, _ in assigned]
    assert all(map(_same, one_d[:, 0], nan(d for _, d in assigned)))
    # the tie goes to the lower id, and NaN comes last: a row with a NaN
    # element is NaN against every seed and picks them in id order
    assert got_ids[0][:2].tolist() == [0, 1]
    assert got_ids[9].tolist() == [0, 1, 2, 3]
    assert all(math.isnan(d) for d in got_d[9])
    if fold == "neg_cosine":  # zero norms: NaN cosines
        assert got_ids[7].tolist() == [0, 1, 2, 3]
        assert 3 not in got_ids[10].tolist()  # four numbers rank first


def test_nearest_takes_fewer_columns_than_panel_rows_and_no_rows():
    x = np.array([[0.0, 1.0], [1.0, 0.0]])
    ids, d = pairscore.nearest(x, np.array([4, 2]), x, 3)
    assert ids.tolist() == [[4, 2], [2, 4]] and d.tolist() == [[0, 2], [0, 2]]
    ids, d = pairscore.nearest(x[:0], np.array([4, 2]), x, 2)
    assert ids.shape == (0, 2) and d.shape == (0, 2)


def test_ascending_l2_top_k_puts_nan_last():
    """The exact side of ann_ivfpq_recall: ORDER BY d2, vec_id keeps the
    least distances and puts NaN after every number."""
    rng = np.random.RandomState(12)
    ids = np.arange(60)[::-1].copy()
    x = rng.randint(0, 3, size=(60, 4)).astype(float)  # many ties
    x[[5, 17]] = np.nan
    q = x[[0, 1, 2]]
    d2 = pairscore.l2_sq(x[:, None], q[None])
    row, col, rank = pairscore.top_k(d2, ids, np.zeros(d2.shape, bool), 59, True)
    for j in range(3):
        want = sorted(
            range(60),
            key=lambda i: (math.isnan(d2[i, j]), np.nan_to_num(d2[i, j]), ids[i]),
        )[:59]
        assert list(row[col == j]) == want
        assert list(rank[col == j]) == list(range(1, 60))
    # the fold is the engines': one element at a time, from the left
    a, b = x[3], q[1]
    acc = 0.0
    for u, v in zip(a, b):
        acc += (u - v) * (u - v)
    assert d2[3, 1] == acc


def _pq_vectors(n, seed):
    """float32 vectors of PQ_M·PQ_SUBDIM dims with few distinct values,
    so equal subvectors (exact codeword ties) are common."""
    from blog_snapshotbackup_azuredatalake_spark.functions.pq import PQ_M, PQ_SUBDIM

    rng = np.random.RandomState(seed)
    return _f32(rng.randint(-2, 3, size=(n, PQ_M * PQ_SUBDIM)) / 2 + 0.1)


def test_pq_codes_errors_and_tables_are_the_oracles():
    """``ProductQuantizer.encode`` against ``sql_pq_ctes``' ``encoded``
    (codes and floor(d2·2³⁰) errors, ties to the lower code), its
    ``tables`` against ``qtab`` and its ADC sums against the oracle's
    ``adc`` join, for a codebook of the first PQ_K rows."""
    from blog_snapshotbackup_azuredatalake_spark.functions.pq import (
        PQ_K,
        PQERR_FP,
        ProductQuantizer,
        sql_pq_ctes,
    )

    vecs = _pq_vectors(50, 13)
    vecs[1] = vecs[0]  # two equal codewords: every tie goes to code 0
    con = _ddb_embeddings(vecs)
    con.execute(
        "CREATE TABLE queries AS SELECT vec_id AS q_id, embedding AS q_emb "
        "FROM embeddings WHERE vec_id < 7"
    )
    ctes = sql_pq_ctes(queries=("queries", "q_emb"))
    x = np.array(vecs)
    pq = ProductQuantizer(x[:PQ_K])
    codes, errs = pq.encode(x)
    assert not (codes == 1).any()
    want = con.execute(
        f"""WITH {ctes}
        SELECT list(code ORDER BY s),
               list(CAST(floor(d2 * {PQERR_FP}) AS BIGINT) ORDER BY s)
        FROM encoded GROUP BY vec_id ORDER BY vec_id"""
    ).fetchall()
    assert [(c.tolist(), e.tolist()) for c, e in zip(codes, errs)] == want
    tables = pq.tables(x[:7])
    assert con.execute(
        f"""WITH {ctes} SELECT list(dfp ORDER BY s, j) FROM qtab
        GROUP BY q_id ORDER BY q_id"""
    ).fetchall() == [(t.ravel().tolist(),) for t in tables]
    adc = con.execute(
        f"""WITH {ctes} SELECT t.q_id, e.vec_id, SUM(t.dfp)
        FROM encoded e JOIN qtab t ON t.s = e.s AND t.j = e.code
        GROUP BY ALL"""
    ).fetchall()
    ids = np.arange(len(x))
    row, col, got = pq.shortlist(
        ids, codes, tables[None], np.zeros(len(x), np.int64),
        np.zeros((len(x), 7), bool),
    )
    sums = {(q, v): s for q, v, s in adc}
    assert all(sums[(c, r)] == s for r, c, s in zip(row, col, got))
    # each query's shortlist is its least sums, ties by vec_id
    for q in range(7):
        best = sorted((s, v) for (qq, v), s in sums.items() if qq == q)
        assert list(row[col == q]) == [v for _, v in best[: len(row[col == q])]]


def test_arrow_kernel_modules_do_not_import_pandas():
    """A Python worker that runs only Arrow kernels imports these modules
    and no pandas (about half a second of CPU per worker)."""
    import os
    import subprocess
    import sys

    mods = [
        "functions.pairscore",
        "functions.tokens",
        "operators.dedup",
        "operators.text",
        "operators.similarity",
        "operators.curation",
    ]
    code = (
        "import sys\n"
        + "".join(
            f"import blog_snapshotbackup_azuredatalake_spark.{m}\n" for m in mods
        )
        + "print('pandas' in sys.modules)"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=root,
    )
    assert out.stdout.strip() == "False", out.stdout
