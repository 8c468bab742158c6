"""Token kernels over an Arrow batch of text, in numpy, with no Spark in it.

The near-dup and LM-filter entries read ``documents.text`` as tokens: the
text split on single spaces (``pc.split_pattern``), the same tokens as
Spark's ``split(text, ' ')`` and DuckDB's ``string_split``, the empty
token included; a NULL text has none. The kernels below run on one batch
of a scan (``mapInArrow``) and do integer work on token ids, where the
Spark forms they replace ran higher-order lambdas one boxed call per
element:

- ``grams``: each document's distinct token 5-gram fingerprints, in
  first-occurrence order (what ``array_distinct`` keeps). A token hashes
  to ``hash60(md5(utf8)) % P31``, once per distinct token of the batch;
  a gram folds its five hashes with the rolling polynomial
  ``(acc * K_POLY + h) % P31``. A document of fewer than five tokens has
  no grams. ``span_grams`` is the positional form at any width: every
  window, repeats kept (``dedup_substring``'s spans).
- ``bands``: the MinHash band index of those sets. For each affine map
  ``(v * a + b) % P31`` the minimum over a set, two minima packed into one
  bigint key per band. A set with no grams has NULL keys, as
  ``array_min([])`` is NULL.
- ``bigram_counts`` and ``BigramModel.scores``: the two passes of the
  Laplace-smoothed bigram LM. The first counts a batch's bigrams (pairs of
  adjacent tokens) and lists its non-empty tokens; the second scores each
  bigram under the summed counts as ``(c12 + 1) * LM_SCALE div (c1 + v)``,
  an unseen pair or head counting 0, and emits each document's bigram
  count and bucket sum. A document with no bigram emits nothing.

Every value below P31 < 2^31 and every multiplier below 2^31, so products
stay below 2^62 and int64 never wraps: the DuckDB oracle recomputes the
same integers.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

P31 = 2_147_483_647  # 2^31 - 1 (prime); all fingerprints live in [0, P31)
K_POLY = 1_000_003  # rolling-hash base, < 2^31 so products stay < 2^62
GRAM = 5  # tokens per shingle
LM_SCALE = 256  # fixed-point denominator of a bigram's bucket


def _tokens(text: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """The batch's tokens, flat, and each document's ``[start, end)``
    offsets into them (n + 1 of them; a NULL text has no tokens)."""
    toks = pc.split_pattern(text, " ")
    lengths = pc.list_value_length(toks).fill_null(0).to_numpy()
    offsets = np.zeros(len(lengths) + 1, np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return toks.flatten(), offsets


def _doc_of(offsets: np.ndarray) -> np.ndarray:
    """The document of each flat token."""
    return np.repeat(np.arange(len(offsets) - 1), np.diff(offsets))


def token_hashes(flat: pa.Array) -> np.ndarray:
    """``hash60(md5(token)) % P31`` of each token, one md5 per distinct
    token."""
    enc = pc.dictionary_encode(flat)
    words = enc.dictionary.to_pylist()
    h = np.fromiter(
        (int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % P31 for w in words),
        np.int64,
        len(words),
    )
    return h[enc.indices.to_numpy(zero_copy_only=False)]


def span_grams(text: pa.Array, k: int = GRAM) -> tuple[np.ndarray, np.ndarray]:
    """Every ``k``-token gram fingerprint of each document, one per span
    start in token order, and the document of each: ``(grams, doc)``."""
    flat, offsets = _tokens(text)
    h = token_hashes(flat)
    m = max(len(h) - k + 1, 0)  # windows over the flat tokens
    g = h[:m]
    for off in range(1, k):
        g = (g * K_POLY + h[off : off + m]) % P31
    doc = _doc_of(offsets)[:m]
    inside = np.arange(m) + k <= offsets[1:][doc]  # not across documents
    return g[inside], doc[inside]


def gram_sets(text: pa.Array) -> pa.ListArray:
    """Each document's distinct 5-gram fingerprints, first occurrence
    first; an empty list below five tokens."""
    g, doc = span_grams(text)
    # np.unique's index is each key's first occurrence; sorted, it keeps
    # the documents in order and each one's grams in first-seen order
    _, first = np.unique(doc * P31 + g, return_index=True)
    first.sort()
    counts = np.bincount(doc[first], minlength=len(text))
    list_offsets = np.zeros(len(counts) + 1, np.int32)
    np.cumsum(counts, out=list_offsets[1:])
    return pa.ListArray.from_arrays(list_offsets, pa.array(g[first], pa.int64()))


def grams(batch: pa.RecordBatch, carry: list[str]) -> pa.RecordBatch:
    """The ``carry`` columns and ``sh``, the gram set of ``text``."""
    cols = [batch.column(c) for c in carry]
    return pa.RecordBatch.from_arrays(
        [*cols, gram_sets(batch.column("text"))], [*carry, "sh"]
    )


def band_keys(sh: pa.ListArray, ab: list[tuple[int, int]]) -> pa.Array:
    """Each set's ``len(ab) // 2`` band keys, row-major: the minimum of
    ``(v * a + b) % P31`` for each ``(a, b)`` of ``ab``, consecutive pairs
    packed as ``mh0 * P31 + mh1``. NULL keys for an empty set."""
    lengths = pc.list_value_length(sh).fill_null(0).to_numpy()
    v = sh.flatten().to_numpy()
    has = lengths > 0
    starts = (np.cumsum(lengths) - lengths)[has]
    mh = np.zeros((len(lengths), len(ab)), np.int64)
    if has.any():
        for j, (a, b) in enumerate(ab):
            mh[has, j] = np.minimum.reduceat((v * a + b) % P31, starts)
    keys = mh[:, 0::2] * P31 + mh[:, 1::2]
    return pa.array(keys.ravel(), mask=np.repeat(~has, keys.shape[1]))


def bands(batch: pa.RecordBatch, ab: list[tuple[int, int]]) -> pa.RecordBatch:
    """``(doc_id, band_id, band_hash)``: the band keys of ``sh``, one row
    per document and band."""
    keys = band_keys(batch.column("sh"), ab)
    nb = len(ab) // 2
    ids = batch.column("doc_id").take(np.repeat(np.arange(batch.num_rows), nb))
    band = pa.array(np.tile(np.arange(nb, dtype=np.int32), batch.num_rows))
    return pa.RecordBatch.from_arrays(
        [ids, band, keys], ["doc_id", "band_id", "band_hash"]
    )


def _bigrams(text: pa.Array) -> tuple[pa.Array, np.ndarray, np.ndarray, int]:
    """The flat tokens, the flat position of each bigram's first token,
    the document of each bigram, and the number of documents."""
    flat, offsets = _tokens(text)
    doc = _doc_of(offsets)
    left = np.flatnonzero(np.arange(len(flat)) + 1 < offsets[1:][doc])
    return flat, left, doc[left], len(offsets) - 1


def bigram_counts(batch: pa.RecordBatch) -> pa.RecordBatch:
    """``(w1, w2, c)``: the count of each bigram of ``text`` in the batch,
    then one ``(token, NULL, 0)`` row per distinct non-empty token (the
    batch's part of the vocabulary)."""
    flat, left, _, _ = _bigrams(batch.column("text"))
    enc = pc.dictionary_encode(flat)
    words = enc.dictionary.cast(pa.string())
    code = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    d = len(words)
    pairs, c = np.unique(code[left] * d + code[left + 1], return_counts=True)
    vocab = words.filter(pc.not_equal(words, ""))
    nv = len(vocab)
    return pa.RecordBatch.from_arrays(
        [
            pa.concat_arrays([words.take(pairs // d), vocab]),
            pa.concat_arrays([words.take(pairs % d), pa.nulls(nv, pa.string())]),
            pa.array(np.concatenate([c, np.zeros(nv, np.int64)])),
        ],
        ["w1", "w2", "c"],
    )


class BigramModel:
    """The bigram LM of summed ``bigram_counts`` rows (``w1, w2, c``, each
    bigram once; a row with no ``w2`` lists one vocabulary token): pair
    counts ``c12``, head counts ``c1`` (the sum of ``c12`` over ``w2``)
    and the vocabulary size ``v``."""

    def __init__(self, counts: pa.Table):
        w1, w2, c = (counts.column(n).combine_chunks() for n in ("w1", "w2", "c"))
        self.v = w2.null_count
        is_pair = w2.is_valid()
        w1, w2, c = w1.filter(is_pair), w2.filter(is_pair), c.filter(is_pair)
        self.words = pc.unique(pa.concat_arrays([w1, w2])).cast(pa.string())
        g = len(self.words)
        i1 = pc.index_in(w1, value_set=self.words).to_numpy().astype(np.int64)
        i2 = pc.index_in(w2, value_set=self.words).to_numpy().astype(np.int64)
        c12 = c.to_numpy().astype(np.int64)
        order = np.argsort(i1 * g + i2)
        # a last key no pair reaches, so every lookup lands in range
        self.keys = np.append((i1 * g + i2)[order], np.iinfo(np.int64).max)
        self.c12 = np.append(c12[order], 0)
        # c1 of an unseen head (index -1) is the appended 0
        self.c1 = np.zeros(g + 1, np.int64)
        np.add.at(self.c1, i1, c12)

    def scores(self, batch: pa.RecordBatch, carry: list[str]) -> pa.RecordBatch:
        """The ``carry`` columns, ``n_bigrams`` and ``score_fp`` (the sum of
        the buckets) of each document of ``text`` that has a bigram. A
        bucket whose denominator is 0 is NULL, as ``div`` by 0 is, and is
        left out of the sum; with no other bucket ``score_fp`` is NULL."""
        flat, left, doc, n = _bigrams(batch.column("text"))
        i = pc.index_in(flat, value_set=self.words).fill_null(-1)
        i = i.to_numpy().astype(np.int64)
        i1, i2 = i[left], i[left + 1]
        key = i1 * len(self.words) + i2
        at = np.searchsorted(self.keys, key)
        hit = (i1 >= 0) & (i2 >= 0) & (self.keys[at] == key)
        c12 = np.where(hit, self.c12[at], 0)
        den = self.c1[i1] + self.v
        ok = den > 0
        bucket = np.where(ok, (c12 + 1) * LM_SCALE // np.maximum(den, 1), 0)
        n_bigrams = np.bincount(doc, minlength=n)
        n_ok = np.bincount(doc[ok], minlength=n)
        score = np.zeros(n, np.int64)
        np.add.at(score, doc, bucket)
        rows = np.flatnonzero(n_bigrams)
        return pa.RecordBatch.from_arrays(
            [
                *[batch.column(c).take(rows) for c in carry],
                pa.array(n_bigrams[rows].astype(np.int64)),
                pa.array(score[rows], mask=n_ok[rows] == 0),
            ],
            [*carry, "n_bigrams", "score_fp"],
        )
