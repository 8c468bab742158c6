"""Property tests (hypothesis) for the portable hash/vector helpers.

These run the Spark expressions against a python/duckdb model over
generated inputs — the helpers are the trust anchor for every manifest
and oracle comparison, so they get adversarial inputs, not just the
testdata distributions.
"""

import hashlib
import math

import duckdb
import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    SEP,
    hash60,
    md5_int60,
    row_hash,
    row_hash_int,
    sql_hash60,
    sql_md5_int60,
    sql_row_hash,
    sql_row_hash_int,
)
from blog_snapshotbackup_azuredatalake_spark.functions.changeset import (
    HASH,
    delta,
    diff,
    digest,
    fold_latest,
    hashed,
    manifest,
    sql_delta,
    sql_diff,
    sql_digest,
    sql_fold_latest,
    sql_hashed,
    sql_manifest,
)
from blog_snapshotbackup_azuredatalake_spark.functions.centroids import (
    Centroids,
    sql_centroid_ctes,
    sql_neg_cosine,
)
from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
    cosine_similarity,
    cosine_with_norms,
    dot_product,
    l2_norm,
    sql_cosine,
    sql_l2_sq,
)
from blog_snapshotbackup_azuredatalake_spark.functions import pairscore
from blog_snapshotbackup_azuredatalake_spark.functions.pq import (
    PQ_K,
    PQ_M,
    PQ_SHORTLIST,
    PQ_SUBDIM,
    PQERR_FP,
    ProductQuantizer,
    seeds,
    sql_adc_refine,
    sql_pq_ctes,
)


def py_l2_sq(a: list, b: list) -> float:
    """The engines' squared-L2 fold, one element at a time from the
    left, in Python doubles."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def subvector(v: list, s: int) -> list:
    return v[s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]

# no control chars (SEP itself excluded by design contract), ASCII-ish
_txt = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    max_size=20,
)
_SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(vals=st.lists(st.tuples(_txt, _txt), min_size=1, max_size=8))
@_SLOW
def test_row_hash_matches_python_model(spark, vals):
    df = spark.createDataFrame(
        vals,
        StructType(
            [StructField("a", StringType()), StructField("b", StringType())]
        ),
    )
    got = [r["h"] for r in df.select(row_hash("a", "b").alias("h")).collect()]
    want = [
        hashlib.md5(f"{a}{SEP}{b}".encode()).hexdigest() for a, b in vals
    ]
    assert got == want


@given(
    vals=st.lists(
        st.tuples(
            st.none() | _txt,
            st.none() | st.integers(min_value=-(2**63), max_value=2**63 - 1),
        ),
        min_size=1,
        max_size=8,
    )
)
@_SLOW
def test_row_hash_expression_matches_python_and_duckdb(spark, vals):
    """The one-expression row hash over SQL-expression strings: a column
    named by a reserved word (quoted with backticks), a bigint column and
    a computed expression, with NULLs, against the Python model and
    DuckDB's ``sql_row_hash``/``sql_row_hash_int``."""
    df = spark.createDataFrame(
        vals,
        StructType(
            [StructField("select", StringType()), StructField("n", LongType())]
        ),
    )
    cols = ["select", "n", "length(`select`)"]
    got = df.select(
        row_hash(*cols).alias("h"), row_hash_int(*cols).alias("h60")
    ).collect()
    ddb_cols = ['"select"', "n", 'length("select")']
    for (s, n), row in zip(vals, got):
        length = None if s is None else len(s)
        enc = ["" if v is None else str(v) for v in (s, n, length)]
        md5 = hashlib.md5(SEP.join(enc).encode()).hexdigest()
        want = duckdb.execute(
            f"SELECT {sql_row_hash(ddb_cols)}, {sql_row_hash_int(ddb_cols)}"
            ' FROM (SELECT ?::VARCHAR AS "select", ?::BIGINT AS n)',
            [s, n],
        ).fetchone()
        assert (row["h"], row["h60"]) == (md5, int(md5[:15], 16)) == want


@given(s=_txt)
@_SLOW
def test_md5_int60_matches_duckdb(spark, s):
    df = spark.createDataFrame(
        [(s,)], StructType([StructField("x", StringType())])
    )
    row = df.select(
        md5_int60("x").alias("h"), hash60(F.md5("x")).alias("h60")
    ).collect()[0]
    want = duckdb.execute(
        f"SELECT {sql_md5_int60('?')} AS h, {sql_hash60('md5(?)')} AS h60",
        [s, s],
    ).fetchone()
    assert (row["h"], row["h60"]) == want
    # the 60-bit truncation the operators run, against Python's md5
    assert row["h60"] == int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    assert 0 <= row["h"] < 2**60


# change-set core: a keyed table k -> (a, b) with NULL-able payload
_CS_COLS = ["k", "a", "b"]
_CS_SCHEMA = "k bigint, a string, b bigint"
_CS_DDL = "k BIGINT, a VARCHAR, b BIGINT"
_payload = st.tuples(st.none() | _txt, st.none() | st.integers(-3, 3))
_state = st.dictionaries(st.integers(0, 7), _payload, max_size=6)


def _cs_md5(k, payload):
    enc = ["" if v is None else str(v) for v in (k, *payload)]
    return hashlib.md5(SEP.join(enc).encode()).hexdigest()


def _cs_digest(state):
    if not state:
        return (0, None)
    x = 0
    for k, p in state.items():
        x ^= int(_cs_md5(k, p)[:15], 16)
    return (len(state), x)


def _cs_table(con, name, rows, ddl=_CS_DDL):
    con.execute(f"CREATE TABLE {name} ({ddl})")
    if rows:
        marks = ", ".join("?" * len(rows[0]))
        con.executemany(f"INSERT INTO {name} VALUES ({marks})", rows)


def _by_key(rows):
    return sorted((tuple(r) for r in rows), key=lambda r: r[0])


@given(old=_state, new=_state)
@example(old={0: (None, None), 1: ("x", 1)}, new={0: ("", None), 2: ("y", None)})
@_SLOW
def test_changeset_diff_delta_digest_match_python_and_duckdb(spark, old, new):
    """``diff``, ``delta`` and ``digest`` in Spark and DuckDB against a
    Python model, on generated states: keys on one side only, changed
    payloads, NULL payload columns and empty sides; and replaying the
    delta onto the old state with ``fold_latest`` gives the new one."""
    o = spark.createDataFrame([(k, *p) for k, p in old.items()], _CS_SCHEMA)
    n = spark.createDataFrame([(k, *p) for k, p in new.items()], _CS_SCHEMA)
    con = duckdb.connect()
    _cs_table(con, "o", [(k, *p) for k, p in old.items()])
    _cs_table(con, "n", [(k, *p) for k, p in new.items()])

    def change(k):
        if k not in new:
            return "removed"
        if k not in old:
            return "added"
        # rows compare by their hash, whose encoding reads NULL as ''
        same = _cs_md5(k, old[k]) == _cs_md5(k, new[k])
        return "same" if same else "changed"

    nulls = (None, None)
    keys = sorted(old.keys() | new.keys())
    want = [(k, change(k), *old.get(k, nulls), *new.get(k, nulls)) for k in keys]
    got = diff(hashed(o, _CS_COLS), hashed(n, _CS_COLS), "k", ["a", "b"], ["a", "b"])
    sql = sql_diff(
        f"({sql_hashed('o', _CS_COLS)})",
        f"({sql_hashed('n', _CS_COLS)})",
        "k",
        ["a", "b"],
        ["a", "b"],
    )
    assert _by_key(got.collect()) == want == _by_key(con.execute(sql).fetchall())

    want = [(k, *new.get(k, nulls), k not in new) for k in keys if change(k) != "same"]
    got = delta(manifest(o, "k", _CS_COLS), hashed(n, _CS_COLS), "k")
    sql = sql_delta(
        f"({sql_manifest('o', 'k', _CS_COLS)})",
        f"({sql_hashed('n', _CS_COLS)})",
        "k",
        _CS_COLS,
    )
    assert _by_key(got.collect()) == want == _by_key(con.execute(sql).fetchall())
    replayed = fold_latest([o, got], "k").collect()
    assert {r["k"]: _cs_md5(r["k"], r[1:]) for r in replayed} == {
        k: _cs_md5(k, p) for k, p in new.items()
    }

    for state, df, rel in ((old, o, "o"), (new, n, "n")):
        h = hashed(df, _CS_COLS).agg(*digest(HASH)).collect()[0]
        sql = f"SELECT {sql_digest(HASH)} FROM ({sql_hashed(rel, _CS_COLS)})"
        assert tuple(h) == _cs_digest(state) == con.execute(sql).fetchone()


# a delta maps a key to a new payload, or to None: a tombstone
_deltas = st.lists(
    st.dictionaries(st.integers(0, 7), st.none() | _payload, max_size=4),
    min_size=1,
    max_size=3,
)


@given(base=_state, deltas=_deltas)
@example(base={1: ("x", 1), 2: (None, None)}, deltas=[{1: None}, {1: ("y", None)}])
@_SLOW
def test_changeset_fold_latest_matches_python_and_duckdb(spark, base, deltas):
    """``fold_latest`` of a base and a delta chain, in Spark and DuckDB,
    against replaying the chain in Python: the newest version of a key
    wins, a tombstone removes it, and a later delta can add it again."""
    con = duckdb.connect()
    rows = [[(k, *p) for k, p in base.items()]]
    rows += [
        [(k, *(p or (None, None)), p is None) for k, p in d.items()]
        for d in deltas
    ]
    parts = [spark.createDataFrame(rows[0], _CS_SCHEMA)]
    _cs_table(con, "p0", rows[0])
    for i, r in enumerate(rows[1:], 1):
        parts.append(spark.createDataFrame(r, f"{_CS_SCHEMA}, _tombstone boolean"))
        _cs_table(con, f"p{i}", r, f"{_CS_DDL}, _tombstone BOOLEAN")
    state = dict(base)
    for d in deltas:
        for k, p in d.items():
            if p is None:
                state.pop(k, None)
            else:
                state[k] = p
    want = [(k, *state[k]) for k in sorted(state)]
    sql = sql_fold_latest([f"p{i}" for i in range(len(rows))], "k", _CS_COLS)
    assert _by_key(fold_latest(parts, "k").collect()) == want
    assert _by_key(con.execute(sql).fetchall()) == want


def _nonzero(v):  # zero-norm → ANSI divide-by-zero; real embeddings aren't
    return any(abs(x) > 0.01 for x in v)


_vec = st.lists(
    st.floats(
        min_value=-10, max_value=10, allow_nan=False, width=32
    ),
    min_size=1,
    max_size=8,
).filter(_nonzero)


@given(ab=st.tuples(_vec, _vec).filter(lambda t: len(t[0]) == len(t[1])))
@_SLOW
def test_dot_and_cosine_match_python(spark, ab):
    a, b = ab
    df = spark.createDataFrame(
        [(a, b)],
        StructType(
            [
                StructField("a", ArrayType(FloatType())),
                StructField("b", ArrayType(FloatType())),
            ]
        ),
    )
    row = df.select(
        dot_product("a", "b").alias("dot"),
        cosine_similarity("a", "b").alias("cos"),
        cosine_with_norms("a", "b", l2_norm("a"), l2_norm("b")).alias("pre"),
    ).collect()[0]
    # identical fold: left-to-right double accumulation over float32 values
    import struct

    f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]  # noqa: E731
    dot = 0.0
    for x, y in zip(a, b):
        dot += f32(x) * f32(y)
    assert row["dot"] == dot
    # the squared-L2 fold: the numpy kernel the Spark side runs, DuckDB
    # and a Python left fold are the same double
    l2 = py_l2_sq([f32(x) for x in a], [f32(y) for y in b])
    assert pairscore.l2_sq(
        np.array([f32(x) for x in a]), np.array([f32(y) for y in b])
    ) == l2
    ddb_l2 = duckdb.execute(
        f"SELECT {sql_l2_sq('a', 'b')} FROM "
        "(SELECT CAST(? AS FLOAT[]) AS a, CAST(? AS FLOAT[]) AS b)",
        [a, b],
    ).fetchone()[0]
    assert ddb_l2 == l2
    na = math.sqrt(sum(f32(x) * f32(x) for x in a))
    nb = math.sqrt(sum(f32(y) * f32(y) for y in b))
    if na * nb != 0.0:
        assert row["cos"] == dot / (na * nb)
        # the hoisted-norm form the pair scorers run is the same double
        assert row["pre"] == row["cos"]
        # and so is the DuckDB oracle's fold over the same float32 lists
        ddb_cos = duckdb.execute(
            f"SELECT {sql_cosine('a', 'b')} FROM "
            "(SELECT CAST(? AS FLOAT[]) AS a, CAST(? AS FLOAT[]) AS b)",
            [a, b],
        ).fetchone()[0]
        assert ddb_cos == row["cos"]


@pytest.mark.parametrize(
    "fold,sql_fold", [("l2_sq", sql_l2_sq), ("neg_cosine", sql_neg_cosine)]
)
def test_centroid_ties_go_to_the_lower_id(spark, fold, sql_fold):
    """Seeds 0 and 1 are the same vector: every row nearer to it than to
    seed 2 assigns to centroid 0 (the Spark assign scan) and probes 0
    before 1 (the driver-side search), with the same distances, in both
    engines."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [0.9, 0.1]),
        (4, [0.2, 0.7]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = Centroids.first(emb, 3, fold)
    assigned = sorted(
        (r["vec_id"], r["centroid_id"], r["d2"])
        for r in cents.assign(emb).collect()
    )
    ids, d = cents.search(
        np.array([[float(np.float32(x)) for x in v] for _, v in rows]), 3
    )
    got = [
        (i, best, list(zip(dd.tolist(), ii.tolist())))
        for (i, best, _), ii, dd in zip(assigned, ids, d)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT v.* FROM (VALUES "
        + ", ".join(f"({i}, {e}::FLOAT[])" for i, e in rows)
        + ") v(vec_id, embedding)"
    )
    want = con.execute(
        f"""WITH {sql_centroid_ctes(3, "TRUE", 3, sql_fold)}
        SELECT a.vec_id, a.list_id,
               list({{'d': p.d, 'id': p.list_id}} ORDER BY p.p), a.d
        FROM assigned a JOIN probes p ON p.q_id = a.vec_id
        GROUP BY a.vec_id, a.list_id, a.d ORDER BY a.vec_id"""
    ).fetchall()
    assert got == [(i, best, [tuple(p.values()) for p in ps])
                   for i, best, ps, _ in want]
    assert [d2 for _, _, d2 in assigned] == [dd for *_, dd in want]
    assert [(i, best) for i, best, _ in got] == [
        (0, 0), (1, 0), (2, 2), (3, 0), (4, 2)
    ]
    assert [c for _, c in got[3][2]] == [0, 1, 2]


_PQ_DIMS = PQ_M * PQ_SUBDIM
# few distinct values, so equal subvectors (exact codeword ties) are common
_pq_corpus = st.lists(
    st.lists(
        st.sampled_from([-1.0, -0.5, 0.0, 0.5, 1.0]),
        min_size=_PQ_DIMS,
        max_size=_PQ_DIMS,
    ),
    min_size=2,
    max_size=PQ_SHORTLIST,
)


@pytest.mark.parametrize("resid", [False, True])
@given(vecs=_pq_corpus)
# codewords 0 and 1 are equal, and vector 3 is as near to codeword 2
# as to them in every subspace: its codes are all 0
@example(vecs=[[0.0] * _PQ_DIMS, [0.0] * _PQ_DIMS, [1.0] * _PQ_DIMS,
               [0.5] * _PQ_DIMS, [-1.0] * _PQ_DIMS])
@_SLOW
def test_pq_forms_agree_and_ties_go_to_the_lower_code(spark, resid, vecs):
    """The numpy encode, errors and ADC tables, the Spark panel scan
    (``_pq_search``) and the DuckDB CTEs agree with a Python model on
    codes (ties to the lower j), errors, tables, ADC sums and the
    refined top-k. ``resid`` quantizes residuals against vector 0 as the
    one list's centroid, as the residual IVFPQ entry does."""
    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        TOP_K,
        _pq_search,
    )

    n = len(vecs)
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id bigint, embedding array<float>"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT v.* FROM (VALUES "
        + ", ".join(f"({i}, {v}::FLOAT[])" for i, v in enumerate(vecs))
        + ") v(vec_id, embedding)"
    )
    x = np.array(vecs, dtype=np.float32).astype(np.float64)
    cents = None
    if resid:
        c = vecs[0]
        for name, key in (("resid", "vec_id"), ("qres", "q_id")):
            con.execute(
                f"CREATE TABLE {name} AS SELECT vec_id AS {key}, "
                "0::BIGINT AS list_id, list_transform(range(1, "
                f"{_PQ_DIMS + 1}), i -> CAST(embedding[i] AS DOUBLE)"
                f" - CAST(({c}::FLOAT[])[i] AS DOUBLE)) AS r FROM embeddings"
            )
        ctes = sql_pq_ctes("resid", "r", ("qres", "r"), by_list=True)
        cents = Centroids.first(emb, 1)
        coded = x - x[0]
    else:
        con.execute(
            "CREATE TABLE queries AS "
            "SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings"
        )
        ctes = sql_pq_ctes(queries=("queries", "q_emb"))
        coded = x
    pq = ProductQuantizer(coded[:PQ_K])
    assert (seeds(emb) == x[:PQ_K]).all()
    got_codes, got_errs = pq.encode(coded)

    # the model: nearest codeword by (d2, j), over the engine's doubles
    cb = [list(r) for r in coded[:PQ_K]]
    codes, errs = [], []
    for r in coded.tolist():
        best = [
            min(
                (py_l2_sq(subvector(r, s), subvector(w, s)), j)
                for j, w in enumerate(cb)
            )
            for s in range(PQ_M)
        ]
        codes.append([j for _, j in best])
        errs.append([math.floor(d * PQERR_FP) for d, _ in best])
    assert got_codes.tolist() == codes
    assert got_errs.tolist() == errs
    assert con.execute(
        f"""WITH {ctes}
        SELECT list(code ORDER BY s),
               list(CAST(floor(d2 * {PQERR_FP}) AS BIGINT) ORDER BY s)
        FROM encoded GROUP BY vec_id ORDER BY vec_id"""
    ).fetchall() == list(zip(codes, errs))

    tables = pq.tables(coded).reshape(n, -1).tolist()
    assert con.execute(
        f"""WITH {ctes}
        SELECT list(dfp ORDER BY s, j) FROM qtab
        GROUP BY q_id ORDER BY q_id"""
    ).fetchall() == [(t,) for t in tables]

    # with n ≤ PQ_SHORTLIST every pair survives the shortlist, so the
    # refine's top-TOP_K holds each pair's ADC sum and exact distance
    want = []
    for q in range(n):
        pairs = sorted(
            (py_l2_sq(vecs[q], vecs[v]), v) for v in range(n) if v != q
        )
        for rnk, (d2, v) in enumerate(pairs[:TOP_K], start=1):
            adc = sum(
                tables[q][s * len(cb) + codes[v][s]] for s in range(PQ_M)
            )
            want.append((q, v, adc, d2, rnk))
    want.sort()
    out = _pq_search(spark, emb, cents, resid)
    assert sorted(map(tuple, out.collect())) == want
    assert sorted(
        con.execute(f"WITH {ctes}, {sql_adc_refine(TOP_K, resid)}").fetchall()
    ) == want


def test_grams_of_short_docs_are_empty(spark):
    """< 5 tokens ⇒ no 5-grams, a NULL text included."""
    from blog_snapshotbackup_azuredatalake_spark.operators import dedup

    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c d e f"), (2, ""), (3, None)],
        "doc_id bigint, text string",
    )
    sizes = [
        r["n"]
        for r in dedup.grams_for(df)
        .select("doc_id", F.size("sh").alias("n"))
        .orderBy("doc_id")
        .collect()
    ]
    assert sizes == [0, 2, 0, 0]


# -- transaction log: fold(state) must equal a reference dict model -------

_paths = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=12
)


@given(ops=_paths, removes=st.lists(st.booleans(), min_size=12, max_size=12))
@settings(max_examples=25, deadline=None)
def test_txnlog_state_fold_matches_model(tmp_path_factory, ops, removes):
    from blog_snapshotbackup_azuredatalake_spark.operators.txnlog import (
        TransactionLog,
    )

    root = tmp_path_factory.mktemp("txn")
    log = TransactionLog(str(root))
    model: dict[str, int] = {}
    for i, (path, do_remove) in enumerate(zip(ops, removes)):
        if do_remove and path in model:
            v = log.commit("op", [{"remove": {"path": path}}])
            model.pop(path)
        else:
            v = log.commit("op", [{"add": {"path": path}}])
            model[path] = v
        assert v == i  # versions are dense and ordered
        got = log.state()
        assert set(got) == set(model)
        for p, meta in got.items():
            assert meta["version"] == model[p]
    # time travel at every prefix replays to the same fold
    replay: dict[str, int] = {}
    for i, (path, do_remove) in enumerate(zip(ops, removes)):
        if do_remove and path in replay:
            replay.pop(path)
        else:
            replay[path] = i
        assert set(log.state(as_of=i)) == set(replay)


@given(
    st.integers(min_value=0, max_value=65535),
    st.integers(min_value=0, max_value=65535),
    st.integers(min_value=0, max_value=65535),
    st.integers(min_value=0, max_value=65535),
)
@settings(max_examples=200, deadline=None)
def test_zorder_interleave_bijective_and_axis_monotone(x1, y1, x2, y2):
    """The generated interleave SQL (shared verbatim by the Spark plan
    and the DuckDB oracle) must be a bijection on 16-bit pairs and
    strictly monotone along each axis — the properties that make
    z-value ranges prune on both dimensions."""
    import duckdb

    from blog_snapshotbackup_azuredatalake_spark.operators.quality import (
        _interleave_sql,
    )

    con = duckdb.connect()
    expr = _interleave_sql("x", "y")
    rows = con.execute(
        f"SELECT {expr} FROM (SELECT CAST(a AS BIGINT) x, CAST(b AS BIGINT) y"
        f" FROM (VALUES ({x1}, {y1}), ({x2}, {y2})) t(a, b))"
    ).fetchall()
    z1, z2 = rows[0][0], rows[1][0]
    assert (z1 == z2) == ((x1, y1) == (x2, y2))
    if y1 == y2 and x1 < x2:
        assert z1 < z2
    if x1 == x2 and y1 < y2:
        assert z1 < z2


def test_knn_graph_dims_formula_matches_duckdb():
    """The adaptive bucket-width formula runs in Python (operator) and
    SQL (oracle); they must agree for every corpus size, including the
    exact power-of-two boundaries where a sloppy log2 would diverge."""
    import duckdb

    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        KNN_GRAPH_DIMS,
        KNN_TARGET_BUCKET,
        _knn_graph_dims,
    )

    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        KNN_BUCKET_CAP,
        _knn_subsplits,
    )

    con = duckdb.connect()
    sizes = [1, 2, 255, 256, 257, 511, 512, 16384, 16385, 32768, 65536,
             131072, 131073, 1 << 20, (1 << 20) + 1, 10**9]
    for n in sizes:
        sql_dims = con.sql(
            f"SELECT GREATEST({KNN_GRAPH_DIMS}, CAST(CEIL(LOG2("
            f"GREATEST({n}, 1) / {KNN_TARGET_BUCKET}.0)) AS INT))"
        ).fetchone()[0]
        assert sql_dims == _knn_graph_dims(n), (n, sql_dims)
        # occupancy-cap sub-split count: integer ceil must agree too
        sql_ns = con.sql(
            f"SELECT ({n} + {KNN_BUCKET_CAP} - 1) // {KNN_BUCKET_CAP}"
        ).fetchone()[0]
        assert sql_ns == _knn_subsplits(n), (n, sql_ns)
