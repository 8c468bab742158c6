"""The token kernels (functions/tokens.py) against the DuckDB oracle's SQL
forms of the same integers, with no Spark: token hashes (``SQL_TOKH``),
gram sets (``SQL_GRAM_HASHES``), band keys (``_sql_mh_band_ctes``) and the
two bigram LMs (``_NGRAM_LM_SQL``, ``_PERPLEXITY_FILTER_SQL``)."""

import hashlib
import random

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from blog_snapshotbackup_azuredatalake_spark.functions import tokens
from blog_snapshotbackup_azuredatalake_spark.functions.tokens import K_POLY, P31
from blog_snapshotbackup_azuredatalake_spark.operators import dedup, text

# the edge cases: NULL and '' text, leading, trailing and doubled spaces,
# fewer than five tokens, repeated grams, non-ASCII tokens
EDGE_TEXTS = [
    "a b c d e f",
    None,
    "",
    " a b  c d e f g ",
    "a b c d e a b c d e a b c d e",
    "x y z x y z x y z x y",
    "é ü ñ 日本 語 é ü ñ",
    "x y",
    "one",
    "  ",
    "a a a a a a a a",
]


def _docs(texts, sources=None, langs=None) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "source": pa.array(sources or ["s"] * n, pa.string()),
            "lang": pa.array(langs or ["en"] * n, pa.string()),
        }
    )


def _corpus(n=300, seed=7) -> pa.Table:
    """Random short texts over a small vocabulary with '' and non-ASCII
    words, NULL texts, sources and languages among them."""
    rng = random.Random(seed)
    vocab = ["a", "b", "c", "d", "", "é", "日本", "zz"]
    texts = [
        None
        if rng.random() < 0.05
        else " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14)))
        for _ in range(n)
    ]
    sources = [rng.choice(["s0", "s1", None]) for _ in range(n)]
    langs = [rng.choice(["en", "en", "de", None]) for _ in range(n)]
    return _docs(texts, sources, langs)


def _con(docs: pa.Table):
    con = duckdb.connect()
    con.register("documents", docs)
    return con


def _batches(docs: pa.Table, size: int = 4) -> list:
    return docs.to_batches(max_chunksize=size)


def _ref_grams(t):
    """A document's distinct 5-gram fingerprints in first-occurrence
    order, one Python int at a time."""
    if t is None:
        return []
    h = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % P31 for w in t.split(" ")]
    grams = []
    for i in range(len(h) - 4):
        acc = h[i]
        for off in range(1, 5):
            acc = (acc * K_POLY + h[i + off]) % P31
        grams.append(acc)
    return list(dict.fromkeys(grams))


@pytest.mark.parametrize("docs", [_docs(EDGE_TEXTS), _corpus()])
def test_token_hashes_are_the_oracles(docs):
    con = _con(docs)
    want = [
        h
        for (th,) in con.execute(
            f"SELECT {dedup.SQL_TOKH} FROM documents ORDER BY doc_id"
        ).fetchall()
        for h in th or []
    ]
    flat = pc.split_pattern(docs.column("text").combine_chunks(), " ").flatten()
    assert tokens.token_hashes(flat).tolist() == want


@pytest.mark.parametrize("docs", [_docs(EDGE_TEXTS), _corpus()])
def test_gram_sets_are_the_oracles_in_first_occurrence_order(docs):
    """The oracle's list_distinct keeps no order, so the sets are compared
    with it and the order with the first-occurrence reference."""
    con = _con(docs)
    want = con.execute(
        f"SELECT {dedup.SQL_GRAM_HASHES} FROM "
        f"(SELECT doc_id, {dedup.SQL_TOKH} AS th FROM documents) ORDER BY doc_id"
    ).fetchall()
    got = [
        sh
        for b in _batches(docs)
        for sh in tokens.grams(b, ["doc_id"]).column("sh").to_pylist()
    ]
    assert [sorted(s) for s in got] == [sorted(w or []) for (w,) in want]
    assert got == [_ref_grams(t) for t in docs.column("text").to_pylist()]


def test_repeated_grams_keep_their_first_occurrence():
    a, b, c = _ref_grams("x y z x y z x y z x y")[:3]
    (got,) = tokens.gram_sets(pa.array(["x y z x y z x y z x y"])).to_pylist()
    assert got == [a, b, c] and len({a, b, c}) == 3


@pytest.mark.parametrize("docs", [_docs(EDGE_TEXTS), _corpus()])
def test_band_keys_are_the_oracles(docs):
    """Band keys of every document, NULL keys for a document with no
    grams (fewer than five tokens, '' and NULL text)."""
    con = _con(docs)
    want = con.execute(
        f"WITH {dedup._sql_mh_band_ctes()} SELECT doc_id, band_id, band_hash "
        "FROM bands"
    ).fetchall()
    got = []
    for b in _batches(docs):
        out = tokens.bands(tokens.grams(b, ["doc_id"]), dedup._MINHASH_AB)
        got += list(zip(*(out.column(c).to_pylist() for c in out.schema.names)))
    key = lambda r: (r[0], r[1])  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)
    nulls = {d for d, _, h in got if h is None}
    assert nulls == {
        i for i, t in enumerate(docs.column("text").to_pylist())
        if not _ref_grams(t)
    } and nulls


def _summed(batches) -> pa.Table:
    """The Spark aggregate over ``bigram_counts`` rows: the sum of ``c``
    per (w1, w2), a NULL w2 its own group."""
    counts = pa.Table.from_batches(
        [tokens.bigram_counts(b) for b in batches],
        pa.schema([("w1", pa.string()), ("w2", pa.string()), ("c", pa.int64())]),
    )
    g = counts.group_by(["w1", "w2"]).aggregate([("c", "sum")])
    return pa.table({"w1": g["w1"], "w2": g["w2"], "c": g["c_sum"]})


def _per_doc(docs: pa.Table, train: pa.Table, by: str) -> dict:
    """{doc_id: (by, n_bigrams, score_fp)} of the score kernel under the
    model counted from ``train``."""
    model = tokens.BigramModel(_summed(_batches(train, 7)))
    out = {}
    for b in _batches(docs):
        rows = model.scores(b, ["doc_id", by]).to_pylist()
        out.update({r["doc_id"]: (r[by], r["n_bigrams"], r["score_fp"]) for r in rows})
    return out


def _flagged(fp, nb):
    if fp is None:
        return None
    return fp * text.LM_LOWQ_DEN < text.LM_LOWQ_NUM * tokens.LM_SCALE * nb


@pytest.mark.parametrize("docs", [_docs(EDGE_TEXTS), _corpus()])
def test_ngram_lm_sums_are_the_oracles(docs):
    per_doc = _per_doc(docs, docs, "source")
    by_source = {}
    for src, nb, fp in per_doc.values():
        s = by_source.setdefault(src, [0, 0, 0, 0])
        s[0] += 1
        s[1] += nb
        s[2] += fp
        s[3] += _flagged(fp, nb)
    got = [
        (k, n, nb, fp, float(fp) / float(tokens.LM_SCALE * nb), low)
        for k, (n, nb, fp, low) in by_source.items()
    ]
    want = _con(docs).execute(text._NGRAM_LM_SQL).fetchall()
    key = lambda r: (r[0] is None, r[0] or "")  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)


def _perplexity_rows(docs: pa.Table) -> list:
    trusted = docs.filter(pc.equal(docs["lang"], text.LM_TRUSTED_LANG))
    return sorted(
        (
            d,
            lang,
            nb,
            fp,
            None if fp is None else float(fp) / float(tokens.LM_SCALE * nb),
            _flagged(fp, nb),
        )
        for d, (lang, nb, fp) in _per_doc(docs, trusted, "lang").items()
    )


@pytest.mark.parametrize(
    "docs",
    [
        _docs(EDGE_TEXTS, langs=["en", "de", None, "en", "de", "en"] + ["de"] * 5),
        _corpus(),
        # no trusted document: every bucket divides by 0 and is NULL
        _docs(EDGE_TEXTS, langs=["de"] * len(EDGE_TEXTS)),
    ],
)
def test_perplexity_filter_rows_are_the_oracles(docs):
    """Scored under a model of the 'en' slice only: unseen pairs and
    heads count 0, a NULL lang is scored but not trained on, and a
    document with no bigram has no row."""
    want = sorted(_con(docs).execute(text._PERPLEXITY_FILTER_SQL).fetchall())
    assert _perplexity_rows(docs) == want


def test_unseen_word_never_takes_another_pairs_count():
    """Pair keys are ``i1 * G + i2``: an unseen second word (index -1)
    after head ``c`` must not read as the pair (b, c) one key lower."""
    docs = _docs(["a b c", "c q", "q c"], langs=["en", "de", "de"])
    want = sorted(_con(docs).execute(text._PERPLEXITY_FILTER_SQL).fetchall())
    assert _perplexity_rows(docs) == want
    # (c12 + 1) * 256 div (c1 + v), v = 3: c q is unseen, not (b, c)
    assert [r[3] for r in want] == [2 * (2 * 256 // 4), 256 // 3, 256 // 3]


def test_empty_batch():
    batch = pa.RecordBatch.from_pylist([], schema=_docs([]).schema)
    sh = tokens.grams(batch, ["doc_id"])
    assert sh.num_rows == 0 and sh.schema.field("sh").type == pa.list_(pa.int64())
    assert tokens.bands(sh, dedup._MINHASH_AB).num_rows == 0
    assert tokens.bigram_counts(batch).num_rows == 0
    model = tokens.BigramModel(_summed([batch]))
    assert model.v == 0
    assert model.scores(batch, ["doc_id", "lang"]).num_rows == 0


@pytest.mark.parametrize("texts", [EDGE_TEXTS, None], ids=["edges", "corpus"])
def test_span_grams_are_the_oracles_positional_grams(texts):
    """``span_grams`` at SPAN_K tokens against ``dedup_substring``'s
    DuckDB form: every window in token order, repeats kept, documents of
    fewer than SPAN_K tokens (and NULL text) with none."""
    docs = _docs(texts) if texts else _corpus()
    con = _con(docs)
    want = con.execute(
        f"""WITH th_t AS (SELECT doc_id, {dedup.SQL_TOKH} AS th FROM documents)
        SELECT doc_id, {dedup._span_gram_sql()} AS g FROM th_t ORDER BY doc_id"""
    ).fetchall()
    got = {i: [] for i in range(docs.num_rows)}
    for b in _batches(docs):
        g, doc = tokens.span_grams(b.column("text"), dedup.SPAN_K)
        ids = b.column("doc_id").to_pylist()
        for v, d in zip(g.tolist(), doc.tolist()):
            got[ids[d]].append(v)
    assert [(i, got[i]) for i in range(docs.num_rows)] == [
        (i, g or []) for i, g in want
    ]
    if texts:  # "a b c d e" three times over: its windows repeat, kept
        assert any(len(g) > len(set(g)) for g in got.values())
