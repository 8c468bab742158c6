"""Text-analysis operators for training-data curation (SURVEY.md §2C).

The operators run in JVM built-ins (split / filter / aggregate /
transform over the token array), embarrassingly parallel over
documents, except the two bigram LMs (``text_ngram_lm``,
``text_perplexity_filter``) and the gram-set callers of
``dedup.grams_for``: their token work is one Arrow batch scan each
(``functions/tokens.py``, numpy under ``mapInArrow``). Ratios are
double divisions of exact integer counts so Spark and the DuckDB oracle
agree bit-for-bit (SURVEY.md §4).

The driver's synthetic corpus is lowercase `[a-z ]` text over a 31-word
vocabulary, so tokenization is a literal space split and the language-ID
"stopword" sets are disjoint slices of that vocabulary. With a real corpus
you would swap `_STOP_SETS` for per-language function-word lists and the
tokenizer for a unicode-aware regexp — the plans are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions import tokens
from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    hash60,
    sql_md5_int60,
)
from blog_snapshotbackup_azuredatalake_spark.functions.skew import (
    two_phase_rank,
)
from blog_snapshotbackup_azuredatalake_spark.functions.tokens import LM_SCALE
from blog_snapshotbackup_azuredatalake_spark.session import (
    ensure_package_on_workers,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import load_table

# Deterministic per-language marker-word sets (disjoint vocab slices).
_STOP_SETS = {
    "de": ["order", "group", "window", "hash"],
    "en": ["the", "a", "fast", "big"],
    "es": ["table", "row", "line", "data"],
    "fr": ["join", "merge", "sort", "filter"],
    "zh": ["scan", "batch", "stream", "vector"],
}

_GENERIC_STOPWORDS = ["the", "a", "of", "and", "in"]


def _tokens() -> F.Column:
    return F.split(F.col("text"), " ")


def _count_in(tokens: F.Column, words: list[str]) -> F.Column:
    """Duplicate-inclusive count of tokens that appear in `words`."""
    return F.size(
        F.filter(tokens, lambda t: t.isin(words))
    ).cast("bigint")


def _sql_count_in(words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, t -> list_contains([{lst}], t)))"


def text_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per source: whitespace tokens plus a
    BPE-ish estimate (ceil(len/4) subword units per word)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    per_doc = docs.select(
        "source",
        F.size(toks).cast("bigint").alias("ws_tokens"),
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc
            + F.ceil(F.length(t) / F.lit(4.0)).cast("bigint"),
        ).alias("bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        F.sum("n_chars").alias("total_chars"),
        (
            F.sum("ws_tokens").cast("double") / F.count(F.lit(1))
        ).alias("avg_tokens_per_doc"),
    )


_TOKENCOUNT_SQL = """
WITH per_doc AS (
  SELECT source,
         len(string_split(text, ' ')) AS ws_tokens,
         CAST(list_sum(list_transform(string_split(text, ' '),
              t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT)
           AS bpe_tokens,
         length(text) AS n_chars
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(ws_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens_per_doc
FROM per_doc GROUP BY source
"""


def with_quality_stats(docs: DataFrame) -> DataFrame:
    """Append (n_tokens, distinct_ratio, stopword_ratio, mean_word_len,
    quality_score) to any relation with a `text` column. Pure arithmetic
    on counts; no logs or other non-correctly-rounded functions, so the
    score is reproducible bit-for-bit on any engine."""
    toks = _tokens()
    base = docs.select(
        "*",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("_nd"),
        _count_in(toks, _GENERIC_STOPWORDS).alias("_ns"),
        F.length("text").cast("bigint").alias("_nc"),
    )
    n = F.col("n_tokens").cast("double")
    distinct_ratio = F.col("_nd").cast("double") / n
    stop_ratio = F.col("_ns").cast("double") / n
    mean_word_len = (
        F.col("_nc") - (F.col("n_tokens") - 1)
    ).cast("double") / n
    length_score = F.least(F.col("n_tokens"), F.lit(64)).cast("double") / 64.0
    len_norm = F.least(mean_word_len, F.lit(8.0)) / 8.0
    return base.select(
        *docs.columns,
        "n_tokens",
        distinct_ratio.alias("distinct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_word_len.alias("mean_word_len"),
        (
            0.4 * distinct_ratio
            - 0.2 * stop_ratio
            + 0.3 * length_score
            + 0.1 * len_norm
        ).alias("quality_score"),
    )


def sql_quality_ctes(src: str = "documents") -> str:
    """CTE chain `qbase, qscored` mirroring with_quality_stats over any
    relation with a `text` column (keeps the source's columns)."""
    return f"""qbase AS (
  SELECT *,
         len(string_split(text, ' ')) AS _nt,
         len(list_distinct(string_split(text, ' '))) AS _nd,
         (SELECT {_sql_count_in(_GENERIC_STOPWORDS)}
          FROM (SELECT string_split(text, ' ') AS toks)) AS _ns,
         length(text) AS _nc
  FROM {src}
),
qscored AS (
  SELECT * EXCLUDE (_nt, _nd, _ns, _nc),
         CAST(_nt AS BIGINT) AS n_tokens,
         CAST(_nd AS DOUBLE) / _nt AS distinct_ratio,
         CAST(_ns AS DOUBLE) / _nt AS stopword_ratio,
         CAST(_nc - (_nt - 1) AS DOUBLE) / _nt AS mean_word_len,
         0.4 * (CAST(_nd AS DOUBLE) / _nt)
       - 0.2 * (CAST(_ns AS DOUBLE) / _nt)
       + 0.3 * (CAST(least(_nt, 64) AS DOUBLE) / 64.0)
       + 0.1 * (least(CAST(_nc - (_nt - 1) AS DOUBLE) / _nt, 8.0) / 8.0)
         AS quality_score
  FROM qbase
)"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score — see with_quality_stats."""
    docs = load_table(spark, sf_dir, "documents")
    return with_quality_stats(docs.select("doc_id", "text")).select(
        "doc_id",
        "n_tokens",
        "distinct_ratio",
        "stopword_ratio",
        "mean_word_len",
        "quality_score",
    )


_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         (SELECT {_sql_count_in(_GENERIC_STOPWORDS)}
          FROM (SELECT string_split(text, ' ') AS toks)) AS n_stop,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_word_len,
       0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
     - 0.2 * (CAST(n_stop AS DOUBLE) / n_tokens)
     + 0.3 * (CAST(least(n_tokens, 64) AS DOUBLE) / 64.0)
     + 0.1 * (least(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens, 8.0)
              / 8.0)
       AS quality_score
FROM base
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word-ratio language ID: score each language's word set,
    argmax with alphabetical tiebreak. One narrow projection, no
    shuffle; the marker arrays live in the closure (broadcast-free)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("double").alias("n"),
        *[
            _count_in(toks, words).alias(f"c_{lang}")
            for lang, words in sorted(_STOP_SETS.items())
        ],
    )
    scores = {
        lang: (F.col(f"c_{lang}") / F.col("n")) for lang in _STOP_SETS
    }
    langs = sorted(_STOP_SETS)
    best = F.greatest(*[scores[lg] for lg in langs])
    pred = F.coalesce(
        *[F.when(scores[lg] == best, F.lit(lg)) for lg in langs]
    )
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.alias("best_score"),
        (
            F.coalesce(
                *[F.when(F.lit(lg) == F.col("lang"), scores[lg]) for lg in langs]
            )
        ).alias("labeled_score"),
    )


def _langid_sql() -> str:
    langs = sorted(_STOP_SETS)
    score_exprs = ",\n         ".join(
        f"CAST({_sql_count_in(_STOP_SETS[lg])} AS DOUBLE) / len(toks) AS s_{lg}"
        for lg in langs
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    pred = (
        "CASE "
        + " ".join(f"WHEN s_{lg} = best THEN '{lg}'" for lg in langs)
        + " END"
    )
    labeled = (
        "CASE "
        + " ".join(f"WHEN lang = '{lg}' THEN s_{lg}" for lg in langs)
        + " END"
    )
    return f"""
WITH toked AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), scored AS (
  SELECT doc_id, lang,
         {score_exprs}
  FROM toked
), best AS (
  SELECT *, {best} AS best FROM scored
)
SELECT doc_id, lang AS labeled_lang, {pred} AS predicted_lang,
       best AS best_score, {labeled} AS labeled_score
FROM best
"""


def dq_langid_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-vs-label agreement audit: the confusion matrix
    between the heuristic language ID and the corpus's labeled ``lang``
    column, each cell with its within-label share (ppm) and match flag
    — the audit you run before TRUSTING either side (a label pipeline
    regression and a classifier drift look identical until you see
    which rows of the matrix smeared). One narrow scan + one
    |langs|²-cell groupBy; the share window runs on the matrix, not
    the corpus."""
    pred = text_langid(spark, sf_dir)
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.expr(
            "n_docs * 1000000 div sum(n_docs)"
            " over (partition by labeled_lang)"
        ).alias("label_share_ppm"),
        (F.col("labeled_lang") == F.col("predicted_lang")).alias(
            "is_match"
        ),
    )


def _langid_agreement_sql() -> str:
    return f"""
WITH pred AS ({_langid_sql()}),
cells AS (SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs
          FROM pred GROUP BY labeled_lang, predicted_lang)
SELECT labeled_lang, predicted_lang, n_docs,
       CAST(n_docs * 1000000 // SUM(n_docs)
              OVER (PARTITION BY labeled_lang) AS BIGINT)
         AS label_share_ppm,
       labeled_lang = predicted_lang AS is_match
FROM cells
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact content md5 plus a winnowing-style
    minimum over token-5-gram hashes (robust to local edits — two docs
    sharing the min shingle hash are near-dup candidates)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    with_toks = docs.select("doc_id", F.md5("text").alias("content_md5"), toks.alias("toks"))
    n = F.size("toks")
    shingle_hashes = F.transform(
        F.sequence(F.lit(0), n - 5),
        lambda i: hash60(
            F.md5(
                F.concat_ws(
                    " ",
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                    F.element_at("toks", i + 3),
                    F.element_at("toks", i + 4),
                    F.element_at("toks", i + 5),
                )
            )
        ),
    )
    return with_toks.select(
        "doc_id",
        "content_md5",
        (n - 4).cast("bigint").alias("n_shingles"),
        F.array_min(shingle_hashes).alias("winnow_min_hash"),
    )


_SHINGLE_SQL = "concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])"
_FINGERPRINT_SQL = f"""
WITH toked AS (
  SELECT doc_id, md5(text) AS content_md5,
         string_split(text, ' ') AS toks
  FROM documents
)
SELECT doc_id, content_md5,
       CAST(len(toks) - 4 AS BIGINT) AS n_shingles,
       list_min(list_transform(range(1, len(toks) - 3),
         i -> {sql_md5_int60(_SHINGLE_SQL)}))
         AS winnow_min_hash
FROM toked
"""


# Portable regex subset: char classes, +, {n}, alternation — identical
# semantics in Java regex (Spark) and RE2 (DuckDB). No lookarounds, no
# \b (RE2 and Java disagree on unicode word chars at boundaries).
_EMAIL_RE = "[A-Za-z0-9_.]+@[A-Za-z0-9.]+[A-Za-z0-9]"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents: redact emails and phone numbers,
    report per-source match counts and an order-insensitive checksum of
    the REDACTED text (proving both engines rewrote identical bytes).
    The synthetic corpus has no PII, so a deterministic planting step
    (doc_id-derived emails on every 7th doc, phones on every 11th)
    stands in for the dirty input; the regex pipeline itself is what a
    real corpus would run unchanged. Single scan, all JVM built-ins."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    staged = docs.select("doc_id", "source", planted.alias("ptext"))
    n_emails = F.size(
        F.regexp_extract_all(F.col("ptext"), F.lit(_EMAIL_RE), F.lit(0))
    ).cast("bigint")
    n_phones = F.size(
        F.regexp_extract_all(F.col("ptext"), F.lit(_PHONE_RE), F.lit(0))
    ).cast("bigint")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("ptext"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    h60 = hash60(F.md5(redacted))
    per_doc = staged.select(
        "source",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        h60.alias("h"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_emails") + F.col("n_phones") > 0).cast("bigint"))
        .alias("n_docs_with_pii"),
        F.sum("n_emails").alias("n_emails"),
        F.sum("n_phones").alias("n_phones"),
        F.expr("bit_xor(h)").alias("redacted_checksum"),
    )


_REDACTED_SQL = (
    f"regexp_replace(regexp_replace(ptext, '{_EMAIL_RE}', '<EMAIL>', 'g'),"
    f" '{_PHONE_RE}', '<PHONE>', 'g')"
)
_REDACT_SQL = f"""
WITH staged AS (
  SELECT doc_id, source,
         concat(text,
           CASE WHEN doc_id % 7 = 0
                THEN concat(' contact user', CAST(doc_id AS VARCHAR),
                            '@example.com') ELSE '' END,
           CASE WHEN doc_id % 11 = 0
                THEN concat(' call 555-',
                            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
                ELSE '' END) AS ptext
  FROM documents
), per_doc AS (
  SELECT source,
         CAST(len(regexp_extract_all(ptext, '{_EMAIL_RE}')) AS BIGINT)
           AS n_emails,
         CAST(len(regexp_extract_all(ptext, '{_PHONE_RE}')) AS BIGINT)
           AS n_phones,
         {sql_md5_int60(_REDACTED_SQL)} AS h
  FROM staged
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_emails + n_phones > 0 AS BIGINT)) AS BIGINT)
         AS n_docs_with_pii,
       CAST(SUM(n_emails) AS BIGINT) AS n_emails,
       CAST(SUM(n_phones) AS BIGINT) AS n_phones,
       bit_xor(h) AS redacted_checksum
FROM per_doc GROUP BY source
"""


VOCAB_TOPK = 20


def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-{VOCAB_TOPK} tokens by term
    frequency, with document frequency alongside — the
    stopword-discovery / vocabulary-audit pass a tokenizer build starts
    from. The token explode is the classic map-side-combine shape:
    partial aggregation collapses each executor's tokens to its local
    vocabulary before the shuffle, so the wire carries vocab-sized
    partials, not one row per token occurrence; the final top-k window
    runs over the aggregated vocabulary only."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode_outer(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    agg = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct("doc_id").alias("df"),
    )
    # round 10: single global window kept — Spark 4.1 plans this
    # rank+filter shape as TakeOrderedAndProject (map-side local top-k
    # per task, merge of |tasks|·k rows), NOT a single-partition sort
    # (plans/r10/text_vocab_topk_before.txt)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("tf"), F.asc("tok"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= VOCAB_TOPK)
        .select("rank", "tok", "tf", "df")
    )


_VOCAB_TOPK_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), agg AS (
  SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
  FROM toks WHERE tok <> '' GROUP BY tok
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, tok) AS INT) AS rank,
       tok, tf, df
FROM agg
QUALIFY rank <= {VOCAB_TOPK}
"""


# the driver's synthetic corpus draws from a 31-word vocabulary, so the
# head must be smaller than that for the OOV tail to be non-empty (a
# real tokenizer build uses 32k-100k here — only the constant changes)
OOV_VOCAB_K = 16


def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage: build the top-{OOV_VOCAB_K}
    corpus vocabulary, then measure each source's out-of-vocabulary
    token rate — the coverage audit run before freezing a tokenizer on
    a mixed-source corpus. Two passes over the token stream: the vocab
    pass collapses map-side to vocabulary-sized partials, the scoring
    pass joins the BROADCAST vocab (map-side, no shuffle of the token
    stream) and aggregates per source. OOV rate is a double division of
    exact bigints — bit-stable in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode_outer(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    # round 10: single global window kept — planned as
    # TakeOrderedAndProject by Spark 4.1's rank-limit pushdown
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("tf"), F.asc("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= OOV_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias(
                "oov_rate"
            ),
        )
    )


_OOV_RATE_SQL = f"""
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), toks_nz AS (
  SELECT source, tok FROM toks WHERE tok <> ''
), vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS tf FROM toks_nz GROUP BY tok
  )
  QUALIFY ROW_NUMBER() OVER (ORDER BY tf DESC, tok) <= {OOV_VOCAB_K}
)
SELECT source, COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS oov_rate
FROM toks_nz t LEFT JOIN vocab v USING (tok)
GROUP BY source
"""


BM25_QUERY_TERMS = ["join", "vector", "the"]  # fixed demo query
BM25_TOPK = 20
_BM25_K1 = 1.2
_BM25_B = 0.75


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-scored retrieval of the top-{BM25_TOPK} documents for a
    fixed query term set — the relevance-ranking pass a corpus search /
    quality-weighted sampling pipeline runs. One codegen scan computes
    per-doc term frequencies and length; corpus stats (N, avg doc len,
    per-term document frequencies) collapse to ONE broadcast row, so at
    100 TB the only shuffle is the single-row stats aggregate and the
    final top-k window over scored docs.

    Numeric parity: idf is the rational (N - df + 0.5)/(df + 0.5) —
    monotone in the classic log idf but free of `ln`, which is not
    bit-portable between Spark and DuckDB (SURVEY.md §4). Every double
    op is written in the same parenthesized order in both engines, so
    IEEE-754 correctly-rounded +,-,*,/ make the scores bit-identical."""

    docs = load_table(spark, sf_dir, "documents")
    # bind the token array once (two-step select, SURVEY.md §6 trap
    # notes) so the split runs once per doc, not once per referencing
    # expression
    per_doc = docs.select("doc_id", _tokens().alias("toks")).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[
            _count_in(F.col("toks"), [t]).alias(f"tf_{i}")
            for i, t in enumerate(BM25_QUERY_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    ratio = F.col("dl").cast("double") / (
        F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    )
    norm = F.lit(1.0) - F.lit(_BM25_B) + F.lit(_BM25_B) * ratio
    score = F.lit(0.0)
    for i in range(len(BM25_QUERY_TERMS)):
        idf = (
            (F.col("n_docs") - F.col(f"df_{i}")).cast("double") + F.lit(0.5)
        ) / (F.col(f"df_{i}").cast("double") + F.lit(0.5))
        tf = F.col(f"tf_{i}").cast("double")
        score = score + idf * (
            (tf * F.lit(_BM25_K1 + 1.0))
            / (tf + F.lit(_BM25_K1) * norm)
        )
    # round 10: single global window kept — planned as
    # TakeOrderedAndProject by Spark 4.1's rank-limit pushdown
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.select("doc_id", score.alias("score"))
        .filter(F.col("score") > 0.0)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("rank", "doc_id", "score")
    )


def _bm25_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(string_split(text, ' '), t -> t = '{t}')) AS tf_{i}"
        for i, t in enumerate(BM25_QUERY_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CAST(tf_{i} > 0 AS BIGINT)) AS df_{i}"
        for i in range(len(BM25_QUERY_TERMS))
    )
    score_terms = " + ".join(
        f"(((CAST(n_docs - df_{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{i} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf_{i} AS DOUBLE) * {_BM25_K1 + 1.0})"
        f" / (CAST(tf_{i} AS DOUBLE) + {_BM25_K1}"
        f" * (1.0 - {_BM25_B} + {_BM25_B}"
        f" * (CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))"
        for i in range(len(BM25_QUERY_TERMS))
    )
    return f"""
WITH per_doc AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl, {tf_cols}
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {df_cols} FROM per_doc
), scored AS (
  SELECT doc_id, 0.0 + {score_terms} AS score
  FROM per_doc CROSS JOIN stats
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
       doc_id, score
FROM scored WHERE score > 0.0
QUALIFY rank <= {BM25_TOPK}
"""


TFIDF_TOPK = 5


def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keyword extraction: top-{TFIDF_TOPK} terms by
    source-level tf·idf — the "what is this slice of the corpus about"
    summary used for source labeling and mixture design. idf is the
    same ln-free rational as BM25's ((N − df + 0.5)/(df + 0.5)):
    monotone in the classic log idf and bit-portable (SURVEY.md §4).

    Shape: token explode collapses map-side to per-(source, term)
    partials; document frequency is a distinct-(doc, term) aggregate
    joined back on term (both sides vocab-sized after aggregation); the
    rank window runs over |sources|·|vocab| rows — nothing downstream
    of the explode scales with corpus size."""

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode_outer(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tf_s = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_t = (
        toks.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = (
        (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    scored = (
        tf_s.join(df_t, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "source",
            "tok",
            "tf",
            "df",
            (F.col("tf").cast("double") * idf).alias("tfidf"),
        )
    )
    # round 10: single window kept — Spark 4.1's WindowGroupLimit does
    # the map-side top-k per source before the exchange, so the sort
    # parallelism is not bounded by |sources|
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.desc("tfidf"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("source", "rank", "tok", "tf", "df", "tfidf")
    )


_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), tf_s AS (
  SELECT source, tok, COUNT(*) AS tf
  FROM toks WHERE tok <> '' GROUP BY source, tok
), df_t AS (
  SELECT tok, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, tok FROM toks WHERE tok <> '')
  GROUP BY tok
), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT source, tok, tf, df,
         CAST(tf AS DOUBLE)
           * ((CAST(n_docs - df AS DOUBLE) + 0.5)
              / (CAST(df AS DOUBLE) + 0.5)) AS tfidf
  FROM tf_s JOIN df_t USING (tok), nd
)
SELECT source, CAST(rank AS INT) AS rank, tok, tf, df, tfidf
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY tfidf DESC, tok) AS rank
      FROM scored)
WHERE rank <= {TFIDF_TOPK}
"""


LM_LOWQ_NUM, LM_LOWQ_DEN = 3, 10  # "low quality" = avg prob < 3/10


def _bigram_counts(docs: DataFrame) -> DataFrame:
    """(w1, w2, c): the bigram LM counts of ``docs``' text, the rows of
    ``tokens.BigramModel``. Each Arrow batch emits its partial pair
    counts and vocabulary (``tokens.bigram_counts``); one small aggregate
    sums them. Vocab²-bounded, as the model is, so it is collected."""
    ensure_package_on_workers(docs.sparkSession)
    return (
        docs.select("text")
        .mapInArrow(
            lambda batches: map(tokens.bigram_counts, batches),
            "w1 string, w2 string, c bigint",
        )
        .groupBy("w1", "w2")
        .agg(F.sum("c").alias("c"))
    )


def _bigram_scores(
    docs: DataFrame, model: tokens.BigramModel, by: str
) -> DataFrame:
    """(doc_id, by, n_bigrams, score_fp) per document: its bigram count
    and the exact BIGINT sum of its buckets under ``model``, summed over
    the rows of a doc_id. One Arrow batch scan (``model.scores``, the
    model in its closure); a document with no bigram has no row."""
    ensure_package_on_workers(docs.sparkSession)
    cols = ["doc_id", by]
    per_row = docs.select(*cols, "text").mapInArrow(
        lambda batches: (model.scores(b, cols) for b in batches),
        f"doc_id bigint, {by} string, n_bigrams bigint, score_fp bigint",
    )
    return per_row.groupBy(*cols).agg(
        F.sum("n_bigrams").alias("n_bigrams"), F.sum("score_fp").alias("score_fp")
    )


def text_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring — the KenLM-style fluency
    filter of production data pipelines, with the LM trained on the
    corpus itself in the same job. Per-bigram Laplace-smoothed
    conditional probability p(w2|w1) = (c12+1)/(c1+V) is quantized to
    an integer bucket floor(p·256) while still a pure function of
    integer counts, so every per-doc and per-source aggregate is an
    exact BIGINT sum — order-independent, bit-identical on any engine
    (SURVEY.md §4: never hash a raw double sum).

    Scale: two Arrow batch scans of the text (``functions/tokens.py``).
    The first counts bigrams per batch; one small aggregate sums the
    vocab²-bounded model (KBs even for real vocabularies) onto the
    driver. The second scores each document under that model in the
    scan's closure and emits one row per document, so only per-document
    rows shuffle. Output: per-source doc counts, exact fixed-point mass,
    avg bigram probability, and the would-be-filtered doc count (avg
    prob < 0.3, integer cross-multiply compare)."""
    docs = load_table(spark, sf_dir, "documents")
    model = tokens.BigramModel(_bigram_counts(docs).toArrow())
    per_doc = _bigram_scores(docs, model, "source")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("total_bigrams"),
            F.sum("score_fp").alias("total_score_fp"),
            (
                F.sum("score_fp").cast("double")
                / (F.lit(LM_SCALE) * F.sum("n_bigrams")).cast("double")
            ).alias("avg_bigram_prob"),
            F.sum(
                (
                    F.col("score_fp") * LM_LOWQ_DEN
                    < F.lit(LM_LOWQ_NUM * LM_SCALE) * F.col("n_bigrams")
                ).cast("long")
            ).alias("low_quality_docs"),
        )
    )


_NGRAM_LM_SQL = f"""
WITH toked AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), bigr AS (
  SELECT doc_id, source, toks[i] AS w1, toks[i + 1] AS w2
  FROM toked, UNNEST(range(1, len(toks))) AS r(i)
), model AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY w1, w2
), heads AS (
  SELECT w1, SUM(c12) AS c1 FROM model GROUP BY w1
), vocab AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT unnest(toks) AS tok FROM toked) WHERE tok <> ''
), model_p AS (
  SELECT w1, w2, (c12 + 1) * {LM_SCALE} // (c1 + v) AS bucket
  FROM model JOIN heads USING (w1), vocab
), per_doc AS (
  SELECT b.doc_id, b.source, COUNT(*) AS n_bigrams,
         SUM(m.bucket) AS score_fp
  FROM bigr b JOIN model_p m ON b.w1 = m.w1 AND b.w2 = m.w2
  GROUP BY b.doc_id, b.source
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
       CAST(SUM(score_fp) AS BIGINT) AS total_score_fp,
       CAST(SUM(score_fp) AS DOUBLE)
         / CAST({LM_SCALE} * SUM(n_bigrams) AS DOUBLE) AS avg_bigram_prob,
       CAST(SUM(CASE WHEN score_fp * {LM_LOWQ_DEN}
                          < {LM_LOWQ_NUM * LM_SCALE} * n_bigrams
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_quality_docs
FROM per_doc GROUP BY source
"""


BPE_MERGES = 16
_BPE_EOW = "</w>"


def _bpe_train(freqs: list[tuple[str, int]], n_merges: int):
    """Classic BPE merge training on a (word, freq) table — fastBPE's
    architecture: the corpus-scale work is aggregating the frequency
    table; training itself runs on that table, whose size is the
    VOCABULARY, not the corpus. Ties break on the lexicographically
    smallest pair so the merge sequence is fully deterministic."""
    seqs = {w: tuple(list(w) + [_BPE_EOW]) for w, _ in freqs}
    freq = dict(freqs)
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, seq in seqs.items():
            f = freq[w]
            for a, b in zip(seq, seq[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        merges.append(best)
        merged = best[0] + best[1]
        for w, seq in seqs.items():
            out = []
            i = 0
            while i < len(seq):
                if i + 1 < len(seq) and (seq[i], seq[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seqs[w] = tuple(out)
    return merges, seqs


BPE_HEAD_K = 65_536  # driver-side vocab cap: ≈2× a production target vocab


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE tokenizer on the corpus and measure what it buys:
    the Spark-shaped version of fastBPE/GPT-2 tokenizer training. The
    corpus contributes ONE aggregation (the word-frequency table — the
    only step whose cost grows with data size; its output is
    vocabulary-sized); the merge loop runs driver-side on the top-K
    frequency HEAD only (iterative, so rows-only); the learned merge
    list (tiny) broadcasts back and is re-applied distributively to
    every distinct word, so per-source stats cover the full vocabulary.

    Output per source: whitespace tokens, chars, BPE tokens under the
    learned merges, and the chars-per-BPE-token compression — the
    number a tokenizer bake-off actually compares. Scale contract: at
    100 TB the distinct-"word" set (typos, URLs, code) is 10⁸–10⁹ rows
    — far beyond driver memory — so ONLY the top-{BPE_HEAD_K} rows by
    frequency ever reach the driver (a distributed sort-limit;
    standard vocab pruning — low-frequency words contribute ~0 pair
    mass to merge selection). Tail words never leave the cluster:
    their segmentation length comes from re-applying the merge list in
    learned order (bit-identical to the training segmentation, since
    training applies merges the same way) via an Arrow-batched pandas
    UDF over the vocabulary-sized distinct-word table, never the token
    stream."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "source", F.explode_outer(_tokens()).alias("w")
    ).filter(F.col("w") != "")
    words = toked.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    head = words.orderBy(F.desc("f"), "w").limit(BPE_HEAD_K)
    freqs = [(r["w"], r["f"]) for r in head.collect()]
    freqs.sort()
    merges, _ = _bpe_train(freqs, BPE_MERGES)

    merges_b = spark.sparkContext.broadcast(merges)

    @F.pandas_udf("int")
    def _n_bpe(ws):
        ms = merges_b.value

        def seg_len(w: str) -> int:
            seq: list = list(w)
            for a, b in ms:
                m = a + b
                out = []
                i = 0
                while i < len(seq):
                    if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                        out.append(m)
                        i += 2
                    else:
                        out.append(seq[i])
                        i += 1
                seq = out
            return len(seq)

        return ws.map(seg_len)

    # merge hint, not a broadcast decision: seg is vocabulary-sized
    # (could be 10⁹ rows at 100 TB) and toked's STATIC size estimate is
    # the pre-explode scan size, so leaving the choice to the static
    # planner risks broadcasting the exploded token stream (the
    # text_cooccurrence crash class). SMJ on w is the safe default;
    # AQE still upgrades to broadcast at runtime when seg is truly
    # small.
    seg = words.select("w", _n_bpe("w").alias("n_bpe"))
    return (
        toked.hint("merge").join(seg, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_ws_tokens"),
            F.sum(F.length("w")).alias("total_chars"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
        )
        .select(
            "source",
            "total_ws_tokens",
            "total_chars",
            "total_bpe_tokens",
            F.lit(len(merges)).alias("n_merges"),
            (
                F.col("total_chars").cast("double")
                / F.col("total_bpe_tokens").cast("double")
            ).alias("chars_per_bpe_token"),
        )
    )


COMPRESS_FP = 10_000  # fixed-point scale for compression ratios
COMPRESS_BOILERPLATE_FP = 3_000  # ratio < 0.30 ⇒ highly repetitive


def text_compress_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (the Gopher/CCNet heuristic):
    highly compressible text is repetitive boilerplate, nearly
    incompressible text is noise — the cheap single-number filter
    production pipelines run beside the stopword/length heuristics.
    zlib runs in an Arrow-batched pandas UDF (the documented slow-path
    pattern: no SQL equivalent exists, so this is exactly the kind of
    kernel that belongs in Python); each doc yields an integer
    fixed-point ratio so every aggregate is an exact BIGINT sum —
    layout-independent like the LM scores. Rows-only: no zlib in SQL
    engines."""
    import zlib

    import pandas as pd

    @F.pandas_udf("long")
    def zratio_fp(texts):
        def one(t: str) -> int:
            raw = t.encode("utf-8")
            if not raw:
                return COMPRESS_FP
            return len(zlib.compress(raw, 6)) * COMPRESS_FP // len(raw)

        return texts.map(one)

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source", zratio_fp(F.col("text")).alias("ratio_fp")
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ratio_fp").alias("sum_ratio_fp"),
        (
            F.sum("ratio_fp").cast("double")
            / (F.lit(COMPRESS_FP) * F.count(F.lit(1))).cast("double")
        ).alias("avg_compress_ratio"),
        F.sum(
            (F.col("ratio_fp") < COMPRESS_BOILERPLATE_FP).cast("long")
        ).alias("boilerplate_docs"),
        F.min("ratio_fp").alias("min_ratio_fp"),
        F.max("ratio_fp").alias("max_ratio_fp"),
    )


REP_FP = 1 << 20  # fixed-point scale for repetition fractions
REP_TOP_BIGRAM_FP = int(0.18 * REP_FP)  # Gopher-style top-2-gram cap
REP_DUP_TRIGRAM_FP = int(0.30 * REP_FP)  # duplicate-3-gram mass cap


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters per source: the fraction of a
    doc's bigram mass held by its single most frequent bigram, and the
    fraction of its trigram occurrences whose trigram repeats — the two
    signals that catch boilerplate loops and degenerate generations
    that plain length/stopword quality scores miss.

    Plan shape (scale contract): one explode of tagged (n, gram) rows —
    bigrams and trigrams concatenated BEFORE the explode so the corpus
    shuffles once, not twice — then two hash aggregations keyed by
    (doc_id, n, gram) and (doc_id, n). Both keys extend doc_id, so the
    second agg reuses the first's partitioning (no extra exchange), and
    map-side partial aggregation absorbs the per-doc gram skew. All JVM
    built-ins; per-doc work is local, output is source-cardinality.

    Fractions are fixed-point `(count · 2^20) div n_grams` BIGINTs (the
    floor-quantization pattern from SURVEY §4) so Spark and the DuckDB
    oracle agree bit-for-bit; doubles are derived from the exact sums
    only at the end."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        "source",
        F.filter(_tokens(), lambda t: t != "").alias("t"),
    )
    # tagged n-gram structs; sequence() is guarded because Spark's
    # sequence(0, -1) counts DOWN instead of returning empty
    grams = toked.select(
        "doc_id",
        "source",
        F.explode(
            F.concat(
                F.when(
                    F.size("t") >= 2,
                    F.expr(
                        "transform(sequence(0, size(t)-2),"
                        " i -> struct(2 AS n,"
                        " concat(t[i], ' ', t[i+1]) AS g))"
                    ),
                ).otherwise(F.expr("array()")),
                F.when(
                    F.size("t") >= 3,
                    F.expr(
                        "transform(sequence(0, size(t)-3),"
                        " i -> struct(3 AS n,"
                        " concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS g))"
                    ),
                ).otherwise(F.expr("array()")),
            )
        ).alias("gr"),
    ).select("doc_id", "source", F.col("gr.n").alias("n"), F.col("gr.g").alias("g"))
    per_gram = grams.groupBy("doc_id", "source", "n", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc_n = per_gram.groupBy("doc_id", "source", "n").agg(
        F.sum("cnt").alias("n_grams"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
            "dup_cnt"
        ),
    )
    per_doc = (
        per_doc_n.groupBy("doc_id", "source")
        .agg(
            F.max(F.when(F.col("n") == 2, F.col("n_grams"))).alias("b_n"),
            F.max(F.when(F.col("n") == 2, F.col("top_cnt"))).alias("b_top"),
            F.max(F.when(F.col("n") == 3, F.col("n_grams"))).alias("t_n"),
            F.max(F.when(F.col("n") == 3, F.col("dup_cnt"))).alias("t_dup"),
        )
        .select(
            "source",
            F.coalesce(
                F.expr(f"CAST(b_top * {REP_FP} DIV b_n AS BIGINT)"), F.lit(0)
            ).alias("top_bigram_fp"),
            F.coalesce(
                F.expr(f"CAST(t_dup * {REP_FP} DIV t_n AS BIGINT)"), F.lit(0)
            ).alias("dup_trigram_fp"),
        )
    )
    flagged = per_doc.withColumn(
        "repetitive",
        (F.col("top_bigram_fp") > REP_TOP_BIGRAM_FP)
        | (F.col("dup_trigram_fp") > REP_DUP_TRIGRAM_FP),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("repetitive").cast("bigint")).alias("n_repetitive"),
            F.sum("top_bigram_fp").alias("sum_top_bigram_fp"),
            F.sum("dup_trigram_fp").alias("sum_dup_trigram_fp"),
            F.max("top_bigram_fp").alias("max_top_bigram_fp"),
            F.max("dup_trigram_fp").alias("max_dup_trigram_fp"),
        )
        .select(
            "*",
            (
                F.col("sum_top_bigram_fp").cast("double")
                / (F.col("n_docs") * REP_FP).cast("double")
            ).alias("avg_top_bigram_frac"),
            (
                F.col("sum_dup_trigram_fp").cast("double")
                / (F.col("n_docs") * REP_FP).cast("double")
            ).alias("avg_dup_trigram_frac"),
        )
    )


_REPETITION_SQL = f"""
WITH toked AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, source, 2 AS n,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1])) AS g
  FROM toked WHERE len(t) >= 2
  UNION ALL
  SELECT doc_id, source, 3 AS n,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM toked WHERE len(t) >= 3
), per_gram AS (
  SELECT doc_id, source, n, g, COUNT(*) AS cnt
  FROM grams GROUP BY doc_id, source, n, g
), per_doc_n AS (
  SELECT doc_id, source, n, SUM(cnt) AS n_grams, MAX(cnt) AS top_cnt,
         SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
  FROM per_gram GROUP BY doc_id, source, n
), per_doc AS (
  SELECT doc_id, source,
         COALESCE(CAST(MAX(CASE WHEN n = 2 THEN top_cnt END) * {REP_FP}
                       // MAX(CASE WHEN n = 2 THEN n_grams END) AS BIGINT),
                  0) AS top_bigram_fp,
         COALESCE(CAST(MAX(CASE WHEN n = 3 THEN dup_cnt END) * {REP_FP}
                       // MAX(CASE WHEN n = 3 THEN n_grams END) AS BIGINT),
                  0) AS dup_trigram_fp
  FROM per_doc_n GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN top_bigram_fp > {REP_TOP_BIGRAM_FP}
                       OR dup_trigram_fp > {REP_DUP_TRIGRAM_FP}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       CAST(SUM(top_bigram_fp) AS BIGINT) AS sum_top_bigram_fp,
       CAST(SUM(dup_trigram_fp) AS BIGINT) AS sum_dup_trigram_fp,
       MAX(top_bigram_fp) AS max_top_bigram_fp,
       MAX(dup_trigram_fp) AS max_dup_trigram_fp,
       CAST(SUM(top_bigram_fp) AS DOUBLE)
         / CAST(COUNT(*) * {REP_FP} AS DOUBLE) AS avg_top_bigram_frac,
       CAST(SUM(dup_trigram_fp) AS DOUBLE)
         / CAST(COUNT(*) * {REP_FP} AS DOUBLE) AS avg_dup_trigram_frac
FROM per_doc GROUP BY source
"""


# ---------------------------------------------------------------------------
# cross-source LM transfer scoring (the CCNet quality-filter shape)
# ---------------------------------------------------------------------------

LM_TRUSTED_LANG = "en"  # train slice: the corpus's majority language


def text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain LM quality filter — the CCNet recipe: train a
    bigram LM on a TRUSTED slice only (here ``lang = 'en'``, the
    majority language; in production, Wikipedia), then score EVERY
    document under that model, so out-of-domain / damaged text surfaces
    as low fluency *relative to the reference distribution* rather
    than relative to itself (which is what ``text_ngram_lm``'s
    self-trained corpus model measures). Per-doc output, so the filter
    decision is row-level data.

    Unseen mass is handled by Laplace smoothing evaluated with missing
    counts as zero: bucket = (c12+1)·S div (c1+v), an unseen pair or
    head counting 0 — a pure integer function, so every aggregate is an
    exact BIGINT sum (SURVEY.md §4, no raw double sums). Scale: the
    model is counted from the trusted slice's scan (the lang filter
    reaches the parquet reader) and collected to the driver —
    vocab²-bounded by construction for function-word-sized
    vocabularies; for open web vocab, cap the model to the top-k pairs
    and the same plan holds. Scoring is one Arrow batch scan of every
    document with the model in its closure (``functions/tokens.py``)."""
    docs = load_table(spark, sf_dir, "documents")
    trusted = docs.filter(F.col("lang") == LM_TRUSTED_LANG)
    model = tokens.BigramModel(_bigram_counts(trusted).toArrow())
    return _bigram_scores(docs, model, "lang").select(
        "doc_id",
        "lang",
        "n_bigrams",
        "score_fp",
        (
            F.col("score_fp").cast("double")
            / (F.lit(LM_SCALE) * F.col("n_bigrams")).cast("double")
        ).alias("avg_bigram_prob"),
        (
            F.col("score_fp") * LM_LOWQ_DEN
            < F.lit(LM_LOWQ_NUM * LM_SCALE) * F.col("n_bigrams")
        ).alias("flagged"),
    )


_PERPLEXITY_FILTER_SQL = f"""
WITH toked AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), bigr AS (
  SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
  FROM toked, UNNEST(range(1, len(toks))) AS r(i)
), model AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bigr
  WHERE lang = '{LM_TRUSTED_LANG}' GROUP BY w1, w2
), heads AS (
  SELECT w1, SUM(c12) AS c1 FROM model GROUP BY w1
), vocab AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT unnest(toks) AS tok FROM toked
        WHERE lang = '{LM_TRUSTED_LANG}')
  WHERE tok <> ''
), scored AS (
  SELECT b.doc_id, b.lang,
         (COALESCE(m.c12, 0) + 1) * {LM_SCALE}
           // (COALESCE(h.c1, 0) + v) AS bucket
  FROM bigr b
  LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
  LEFT JOIN heads h ON b.w1 = h.w1, vocab
)
SELECT doc_id, lang, COUNT(*) AS n_bigrams,
       CAST(SUM(bucket) AS BIGINT) AS score_fp,
       CAST(SUM(bucket) AS DOUBLE)
         / CAST({LM_SCALE} * COUNT(*) AS DOUBLE) AS avg_bigram_prob,
       SUM(bucket) * {LM_LOWQ_DEN} < {LM_LOWQ_NUM * LM_SCALE} * COUNT(*)
         AS flagged
FROM scored GROUP BY doc_id, lang
"""


# ---------------------------------------------------------------------------
# per-source gram novelty (marginal-contribution curve)
# ---------------------------------------------------------------------------


def text_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-contribution / novelty audit: for each document, the
    fraction of its distinct 5-grams whose FIRST corpus occurrence
    (min doc_id) is this document — the "what does adding this doc
    actually add" curve data-selection pipelines rank by (a doc whose
    grams all appeared earlier contributes nothing to coverage; pure
    boilerplate scores 0). Summarized per source: docs, novel-gram
    mass, and a fixed-point mean novelty — which SOURCES are additive
    vs redundant under the ingestion order.

    Scale: one explode → gram-keyed min (map-side combine), one join
    back on gram, two small aggs — every stage linear, no pair
    enumeration anywhere. The doc_id-order definition is deterministic
    by construction, so the whole curve is SQL-oracle-able."""
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        grams_for,
    )

    docs = load_table(spark, sf_dir, "documents")
    # checkpoint BEFORE the explode+join: both join branches read the
    # one materialized gram set, so the Arrow gram scan runs once
    g = (
        grams_for(docs, keep=("source",))
        .localCheckpoint(eager=True)
        .select("doc_id", "source", F.explode("sh").alias("gram"))
    )
    first = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    # merge hint: g's static size estimate is the checkpoint's
    # COMPRESSED storage (explode expansion invisible), so the planner
    # broadcast the 12.1 GiB exploded gram stream at sf30 — the
    # text_cooccurrence crash class. Both sides are gram-scale; SMJ
    # shuffles on gram and spills gracefully (AQE still upgrades to
    # broadcast at runtime if a side is truly small).
    per_doc = (
        g.hint("merge").join(first, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("doc_id") == F.col("first_doc")).cast("long")
            ).alias("n_novel"),
        )
    )
    return (
        per_doc.select(
            "source",
            "n_grams",
            "n_novel",
            (
                F.floor(
                    F.col("n_novel").cast("double")
                    / F.col("n_grams")
                    * (1 << 30)
                ).cast("bigint")
            ).alias("nov_fp"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_novel").alias("novel_grams"),
            (
                F.sum("nov_fp").cast("double")
                / F.lit(float(1 << 30))
                / F.count(F.lit(1))
            ).alias("avg_novelty"),
        )
    )


_GRAM_NOVELTY_SQL_T = """
WITH sh AS (
  SELECT doc_id, source, {grams} AS sh
  FROM (SELECT doc_id, source, {tokh} AS th FROM documents)
),
g AS (SELECT doc_id, source, unnest(sh) AS gram FROM sh),
first AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
per_doc AS (
  SELECT doc_id, source, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM g JOIN first USING (gram)
  GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       CAST(SUM(n_novel) AS BIGINT) AS novel_grams,
       CAST(SUM(CAST(floor(CAST(n_novel AS DOUBLE) / n_grams * 1073741824)
                     AS BIGINT)) AS DOUBLE)
         / 1073741824.0 / COUNT(*) AS avg_novelty
FROM per_doc GROUP BY source
"""


def _gram_novelty_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        SQL_GRAM_HASHES,
        SQL_TOKH,
    )

    return _GRAM_NOVELTY_SQL_T.format(grams=SQL_GRAM_HASHES, tokh=SQL_TOKH)


# ---------------------------------------------------------------------------
# boilerplate detection (document-frequency-common phrases, C4-style)
# ---------------------------------------------------------------------------

BOILER_MIN_DF = 4  # absolute floor for the df threshold
BOILER_DF_DIVISOR = 50  # threshold scales as n_docs // divisor


def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-phrase audit, the C4/RefinedWeb cleanup step that is
    NOT deduplication: a 5-gram appearing in ≥ max({BOILER_MIN_DF},
    n_docs // {BOILER_DF_DIVISOR}) distinct documents is boilerplate
    (nav bars, license footers, template headers), regardless of
    whether any two documents are near-duplicates of each other. Per
    source: docs, gram mass, boilerplate gram mass, and a fixed-point
    mean per-doc boilerplate ratio — the score a filtering pipeline
    thresholds on before training.

    Distinct from ``text_gram_novelty`` (first-occurrence marginal
    contribution, ingestion-order-dependent) — df-threshold boilerplate
    is order-free and catches phrases that are common WITHOUT any pair
    of docs being near-dups. Scale: one explode → gram-keyed count
    (map-side combine), one join back on gram, two small aggs — all
    linear, threshold is a scalar derived from the corpus itself, no
    pair enumeration. Checkpoint before explode+join per §6
    (CollapseProject re-inlining trap)."""
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        grams_for,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    k = max(BOILER_MIN_DF, n_docs // BOILER_DF_DIVISOR)
    g = (
        grams_for(docs, keep=("source",))
        .localCheckpoint(eager=True)
        .select("doc_id", "source", F.explode("sh").alias("gram"))
    )
    dfreq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    # merge hint: same estimate-blindness crash class as
    # text_gram_novelty / text_cooccurrence (see those comments)
    per_doc = (
        g.hint("merge").join(dfreq, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") >= k).cast("long")).alias("n_boiler"),
        )
    )
    return (
        per_doc.select(
            "source",
            "n_grams",
            "n_boiler",
            F.floor(
                F.col("n_boiler").cast("double")
                / F.col("n_grams")
                * (1 << 30)
            )
            .cast("bigint")
            .alias("br_fp"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_boiler").alias("boiler_grams"),
            (
                F.sum("br_fp").cast("double")
                / F.lit(float(1 << 30))
                / F.count(F.lit(1))
            ).alias("avg_boiler_ratio"),
        )
    )


_BOILER_SQL_T = """
WITH sh AS (
  SELECT doc_id, source, {grams} AS sh
  FROM (SELECT doc_id, source, {tokh} AS th FROM documents)
),
g AS (SELECT doc_id, source, unnest(sh) AS gram FROM sh),
dfreq AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
thr AS (SELECT GREATEST({min_df}, COUNT(*) // {divisor}) AS k
        FROM documents),
per_doc AS (
  SELECT doc_id, source, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN df >= (SELECT k FROM thr) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_boiler
  FROM g JOIN dfreq USING (gram)
  GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       CAST(SUM(n_boiler) AS BIGINT) AS boiler_grams,
       CAST(SUM(CAST(floor(CAST(n_boiler AS DOUBLE) / n_grams * 1073741824)
                     AS BIGINT)) AS DOUBLE)
         / 1073741824.0 / COUNT(*) AS avg_boiler_ratio
FROM per_doc GROUP BY source
"""


def _boilerplate_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        SQL_GRAM_HASHES,
        SQL_TOKH,
    )

    return _BOILER_SQL_T.format(
        grams=SQL_GRAM_HASHES,
        tokh=SQL_TOKH,
        min_df=BOILER_MIN_DF,
        divisor=BOILER_DF_DIVISOR,
    )


# ---------------------------------------------------------------------------
# windowed token co-occurrence (the GloVe matrix build)
# ---------------------------------------------------------------------------

COOC_WINDOW = 4  # symmetric context window, in tokens
COOC_TOP_N = 30


def text_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence counts — the matrix build under
    GloVe-family static embeddings and PMI keyword mining: unordered
    token pairs within a {COOC_WINDOW}-token window, corpus-aggregated,
    top-{COOC_TOP_N}. Pair generation is PER-DOC ARRAY LAMBDAS
    (transform + slice over the token array) — no join at all: the
    first cut was an equi-join of two exploded position streams, which
    (a) crashed at sf10 because the planner's size estimate for an
    exploded stream is the pre-explode scan size, so it broadcast a
    12.1 GiB build side, and (b) once merge-hinted, was SORT-bound
    (SMJ over n·window rows measured alpha ≈ 1.4 sf30→sf60). The array
    form stays in whole-stage codegen, emits the same n·window pairs
    with zero shuffle before the vocabulary²-bounded pair count, and
    map-side combine collapses executor-local counts first. Final
    top-N is two-phase (per-w1 prune, then a tiny global window)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # slice() is 1-based: lambda index i is 0-based, so the window
    # after token i starts at slice position i+2. Empty tokens pair
    # with nothing but still occupy positions — identical to the
    # oracle's filter-after-position semantics.
    pair_arr = F.expr(
        f"""flatten(transform(toks, (x, i) ->
              transform(
                filter(slice(toks, i + 2, {COOC_WINDOW}),
                       y -> x != '' and y != ''),
                y -> struct(least(x, y) as w1, greatest(x, y) as w2))))"""
    )
    pairs = (
        docs.select(F.split(F.lower(F.col("text")), " ").alias("toks"))
        .select(F.explode(pair_arr).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
    )
    per_w1 = Window.partitionBy("w1").orderBy(
        F.desc("n_cooc"), F.asc("w2")
    )
    pruned = pairs.withColumn("prnk", F.row_number().over(per_w1)).filter(
        F.col("prnk") <= COOC_TOP_N
    )
    # round 10: single global window kept — planned as
    # TakeOrderedAndProject by Spark 4.1's rank-limit pushdown
    w = Window.orderBy(F.desc("n_cooc"), F.asc("w1"), F.asc("w2"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= COOC_TOP_N)
        .select(
            F.col("rank").cast("int").alias("rank"), "w1", "w2", "n_cooc"
        )
    )


_COOC_SQL = f"""
WITH raw AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
         unnest(toks) AS tok
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents)
), pos AS (
  SELECT doc_id, pos, tok FROM raw WHERE tok <> ''
), pairs AS (
  SELECT LEAST(a.tok, b.tok) AS w1, GREATEST(a.tok, b.tok) AS w2,
         COUNT(*) AS n_cooc
  FROM pos a
  JOIN range(1, {COOC_WINDOW + 1}) o(off) ON TRUE
  JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + o.off
  GROUP BY 1, 2
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_cooc DESC, w1, w2) AS INT)
         AS rank,
       w1, w2, n_cooc
FROM pairs
QUALIFY rank <= {COOC_TOP_N}
"""


# ---------------------------------------------------------------------------
# character-diversity quality gate (Gini-Simpson, integer-exact)
# ---------------------------------------------------------------------------

DIVERSITY_ALPHABET = "abcdefghijklmnopqrstuvwxyz "
DIVERSITY_FP = 1 << 20
# Gini-Simpson of uniform 27 symbols is 1-1/27 ≈ .963; natural word-soup
# English sits ~.92-.94. Below .80 the doc is dominated by few symbols —
# encoding damage, char floods, single-word spam.
DIVERSITY_LOW_FP = int(0.80 * DIVERSITY_FP)
# BIGINT ceiling for the fixed-point numerator: (total² − Σcnt²)·2²⁰
# needs total² · 2²⁰ < 2⁶³, i.e. total < 2^21.5 ≈ 2.96M chars. Docs
# beyond the guard get NULL (flagged, not silently wrapped) — both
# engines skip NULLs in the aggregates identically.
DIVERSITY_MAX_CHARS = 2_900_000


def _simpson_expr(intdiv: str) -> str:
    """Per-doc Gini-Simpson char-diversity as ONE generated SQL string
    (emitting 27 Column nodes via Py4J costs driver round-trips — the
    emb_pq_adc lesson), integer-exact so Spark and DuckDB agree bitwise:
    FP·(total² − Σcnt²) div total², where cnt is per-symbol occurrence
    via length-minus-replaced-length (no explode — the corpus never
    multiplies by its character count). Every count term is CAST to
    BIGINT before squaring (INT cnt² silently wraps past 46,341
    occurrences of one char in non-ANSI Spark while DuckDB widens —
    an engine-divergence class, not just an overflow); docs longer
    than {DIVERSITY_MAX_CHARS} (the total²·2²⁰ < 2⁶³ BIGINT bound)
    emit NULL rather than wrapping. `intdiv` is the engine's
    integer-division token."""
    terms = [
        f"CAST(length(text) - length(replace(text, '{c}', '')) AS BIGINT)"
        for c in DIVERSITY_ALPHABET
    ]
    sumsq = " + ".join(f"{t} * {t}" for t in terms)
    total2 = "(CAST(length(text) AS BIGINT) * length(text))"
    return (
        f"CAST(CASE WHEN length(text) = 0 THEN 0"
        f" WHEN length(text) > {DIVERSITY_MAX_CHARS} THEN NULL ELSE"
        f" (({total2} - ({sumsq})) * {DIVERSITY_FP}) {intdiv} {total2}"
        f" END AS BIGINT)"
    )


def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-diversity quality gate per source: the Gini-Simpson
    index 1 − Σ p_c² over the a-z/space alphabet, in integer fixed
    point (Σ cnt² is exact arithmetic, so there is NO float anywhere —
    unlike Shannon entropy, whose log() differs across libm builds and
    would poison the oracle hash). Catches what token-level quality
    scoring misses: encoding damage, character floods, single-symbol
    spam. One projection over the corpus (27 in-register replace scans
    per doc, whole-stage codegen, no explode) then one groupBy(source)
    — partial-aggregable, shuffle carries one row per source."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source", F.expr(_simpson_expr("div")).alias("simpson_fp")
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(f"sum(simpson_fp) div count(1)").alias("avg_simpson_fp"),
        F.min("simpson_fp").alias("min_simpson_fp"),
        F.max("simpson_fp").alias("max_simpson_fp"),
        F.sum(
            (F.col("simpson_fp") < DIVERSITY_LOW_FP).cast("long")
        ).alias("n_low_diversity"),
    )


_CHAR_DIVERSITY_SQL = f"""
WITH scored AS (
  SELECT source, {_simpson_expr("//")} AS simpson_fp FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(simpson_fp) // COUNT(*) AS BIGINT) AS avg_simpson_fp,
       CAST(MIN(simpson_fp) AS BIGINT) AS min_simpson_fp,
       CAST(MAX(simpson_fp) AS BIGINT) AS max_simpson_fp,
       CAST(SUM(CASE WHEN simpson_fp < {DIVERSITY_LOW_FP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low_diversity
FROM scored GROUP BY source
"""


ZIPF_TIERS = [10, 100, 1000]
ZIPF_FP = 1_000_000  # mass shares in parts-per-million


def text_zipf_topmass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head-mass profile: what share of all token occurrences the
    top-10/100/1000 ranked tokens carry — the distribution-shape audit
    behind every vocab-size / stopword-list decision (natural language
    ≈ 40-50% in the top-100; a flat profile means synthetic or
    templated text, a spiked one means boilerplate). Deliberately NOT
    a fitted Zipf exponent: the fit needs log() whose libm rounding
    differs across engines (§4) — cumulative mass shares in integer
    ppm answer the same question bit-portably.

    Plan shape: the token explode collapses map-side to vocab-sized
    partials (the text_vocab_topk shape), the rank window and the tier
    sums run over the aggregated vocabulary only — the corpus is
    touched once, nothing vocabulary-squared exists."""

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode_outer(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    agg = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    # Round 10: the rank window was partition-LESS — the whole
    # vocabulary sorted in ONE task — and the tier crossJoin then
    # aggregated |vocab|·|tiers| rows. Only the top max(ZIPF_TIERS)
    # tokens can ever contribute to a tier sum, so: vocab totals ride a
    # map-side-combined 1-row aggregate, the head comes from the exact
    # salted two-phase top-k, and the tier fan-out touches
    # max(ZIPF_TIERS)·|tiers| rows. Identical output columns.
    totals = agg.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("tf").alias("total_tokens"),
    )
    top = two_phase_rank(
        agg,
        (F.desc("tf"), F.asc("tok")),
        max(ZIPF_TIERS),
        part_cols=(),
        salt_col="tok",
        rank_name="rank",
    )
    tiers = ", ".join(str(t) for t in ZIPF_TIERS)
    return (
        top.crossJoin(
            spark.range(1).select(
                F.explode(F.expr(f"array({tiers})")).alias("tier")
            )
        )
        .groupBy("tier")
        .agg(
            F.sum(F.when(F.col("rank") <= F.col("tier"), 1).otherwise(0))
            .alias("tier_tokens"),
            F.sum(
                F.when(F.col("rank") <= F.col("tier"), F.col("tf")).otherwise(
                    F.lit(0)
                )
            ).alias("tier_mass"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("tier").cast("int").alias("tier"),
            "tier_tokens",
            "tier_mass",
            F.expr(f"tier_mass * {ZIPF_FP} div total_tokens").alias(
                "mass_ppm"
            ),
            "vocab_size",
            "total_tokens",
        )
    )


_ZIPF_TOPMASS_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
), agg AS (
  SELECT tok, COUNT(*) AS tf FROM toks WHERE tok <> '' GROUP BY tok
), ranked AS (
  SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, tok) AS rank FROM agg
)
SELECT CAST(tier AS INT) AS tier,
       CAST(SUM(CASE WHEN rank <= tier THEN 1 ELSE 0 END) AS BIGINT)
         AS tier_tokens,
       CAST(SUM(CASE WHEN rank <= tier THEN tf ELSE 0 END) AS BIGINT)
         AS tier_mass,
       CAST(SUM(CASE WHEN rank <= tier THEN tf ELSE 0 END) * {ZIPF_FP}
            // SUM(tf) AS BIGINT) AS mass_ppm,
       COUNT(*) AS vocab_size,
       CAST(SUM(tf) AS BIGINT) AS total_tokens
FROM ranked CROSS JOIN (SELECT unnest([{", ".join(str(t) for t in ZIPF_TIERS)}]) AS tier)
GROUP BY tier
"""


TV_PPM = 1_000_000


def text_source_tv_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise total-variation distance between source unigram
    distributions: TV(a, b) = ½ Σ_tok |p_a − p_b|, with probabilities
    as floor-ppm INTEGERS — TV is the divergence you can compute
    bit-portably (Jensen-Shannon/KL need log, and libm log diverges
    across engines — the Gini-vs-Shannon lesson, SURVEY §4). The mix
    audit a corpus owner runs before reweighting sources.

    Plan: the corpus meets ONE (source, token) count shuffle; the
    (sources × vocab) grid, the zero-fill, and the 190-pair self-join
    are all vocabulary × source-count bounded — independent of corpus
    row count."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(_tokens()).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.groupBy("source").agg(F.sum("cnt").alias("tot"))
    vocab = counts.select("tok").distinct()
    sources = totals.select("source")
    grid = (
        sources.crossJoin(vocab)
        .join(counts, ["source", "tok"], "left")
        .join(totals, "source")
        .select(
            "source",
            "tok",
            F.expr(f"coalesce(cnt, 0) * {TV_PPM} div tot")
            .cast("bigint")
            .alias("ppm"),
        )
    )
    a = grid.select(
        F.col("source").alias("source_a"),
        "tok",
        F.col("ppm").alias("ppm_a"),
    )
    b = grid.select(
        F.col("source").alias("source_b"),
        "tok",
        F.col("ppm").alias("ppm_b"),
    )
    return (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.expr("sum(abs(ppm_a - ppm_b)) div 2")
            .cast("bigint")
            .alias("tv_ppm")
        )
    )


_TV_DIVERGENCE_SQL = f"""
WITH counts AS (
  SELECT source, tok, COUNT(*) AS cnt
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY source, tok
),
totals AS (SELECT source, SUM(cnt) AS tot FROM counts GROUP BY source),
grid AS (
  SELECT s.source, v.tok,
         CAST(COALESCE(c.cnt, 0) * {TV_PPM} // t.tot AS BIGINT) AS ppm
  FROM (SELECT source FROM totals) s
  CROSS JOIN (SELECT DISTINCT tok FROM counts) v
  LEFT JOIN counts c ON c.source = s.source AND c.tok = v.tok
  JOIN totals t ON t.source = s.source
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(SUM(abs(a.ppm - b.ppm)) // 2 AS BIGINT) AS tv_ppm
FROM grid a JOIN grid b ON a.tok = b.tok AND a.source < b.source
GROUP BY a.source, b.source
"""


# ---------------------------------------------------------------------------
# hashed linear quality classifier (the fastText-filter shape)
# ---------------------------------------------------------------------------

CLS_WEIGHT_MOD = 2001  # token weight ∈ [0, 2000] milli-units
CLS_KEEP_MILLI = 1000  # keep if mean token weight ≥ 1.0 (the prior mean)


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear text-quality classifier over hashed unigram features —
    the production corpus-filter shape (fastText / CCNet quality
    models): weight(token) = md5-hash-bucketed lookup, doc score =
    mean token weight, keep iff score ≥ threshold. The weights here
    are derived from the hash itself (a deterministic stand-in for a
    trained table; swapping in real weights is a broadcast-map join
    with identical shape/cost), which keeps the entry oracle-checkable
    on any engine. Scoring is `F.aggregate` over the split-token
    array — per-row JVM arithmetic, NO explode and NO shuffle of the
    corpus; the only shuffle is the final ≤|sources| groupBy, so at
    100 TB the classifier runs as a pure map stage. Weights and scores
    stay in integer milli-units end-to-end (nonnegative, so integral
    `div` is floor on every engine); keep-rate is ppm fixed-point."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        F.expr(
            f"aggregate(split(text, ' '), 0L, (acc, t) -> acc + "
            f"cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint) "
            f"% {CLS_WEIGHT_MOD}) div size(split(text, ' '))"
        ).alias("milli_score"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("milli_score") >= CLS_KEEP_MILLI).cast("bigint")
            ).alias("n_keep"),
            F.sum("milli_score").alias("sum_milli"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep",
            F.expr("n_keep * 1000000L div n_docs").alias("keep_ppm"),
            F.expr("sum_milli div n_docs").alias("mean_milli_score"),
        )
    )


_CLS_SQL = f"""
WITH scored AS (
  SELECT source,
         list_sum(list_transform(string_split(text, ' '),
           t -> {sql_md5_int60("t")} % {CLS_WEIGHT_MOD}))
           // len(string_split(text, ' ')) AS milli_score
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN milli_score >= {CLS_KEEP_MILLI} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_keep,
       CAST(SUM(CASE WHEN milli_score >= {CLS_KEEP_MILLI} THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm,
       CAST(SUM(milli_score) // COUNT(*) AS BIGINT) AS mean_milli_score
FROM scored GROUP BY source
"""


QUERIES = {
    "text_source_tv_divergence": text_source_tv_divergence,
    "text_quality_classifier": text_quality_classifier,
    "text_zipf_topmass": text_zipf_topmass,
    "text_char_diversity": text_char_diversity,
    "text_cooccurrence": text_cooccurrence,
    "text_gram_novelty": text_gram_novelty,
    "text_boilerplate": text_boilerplate,
    "dq_langid_agreement": dq_langid_agreement,
    "text_perplexity_filter": text_perplexity_filter,
    "text_repetition": text_repetition,
    "text_compress_quality": text_compress_quality,
    "text_bpe_train": text_bpe_train,
    "text_ngram_lm": text_ngram_lm,
    "text_tfidf_keywords": text_tfidf_keywords,
    "text_tokencount": text_tokencount,
    "text_bm25_search": text_bm25_search,
    "text_vocab_topk": text_vocab_topk,
    "text_oov_rate": text_oov_rate,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_redact_pii": text_redact_pii,
}

ORACLES = {
    "text_source_tv_divergence": _TV_DIVERGENCE_SQL,
    "text_quality_classifier": _CLS_SQL,
    "text_zipf_topmass": _ZIPF_TOPMASS_SQL,
    "text_char_diversity": _CHAR_DIVERSITY_SQL,
    "text_cooccurrence": _COOC_SQL,
    "text_gram_novelty": _gram_novelty_sql(),
    "text_boilerplate": _boilerplate_sql(),
    "dq_langid_agreement": _langid_agreement_sql(),
    "text_perplexity_filter": _PERPLEXITY_FILTER_SQL,
    "text_repetition": _REPETITION_SQL,
    "text_ngram_lm": _NGRAM_LM_SQL,
    "text_tfidf_keywords": _TFIDF_SQL,
    "text_tokencount": _TOKENCOUNT_SQL,
    "text_bm25_search": _bm25_sql(),
    "text_vocab_topk": _VOCAB_TOPK_SQL,
    "text_oov_rate": _OOV_RATE_SQL,
    "text_quality": _QUALITY_SQL,
    "text_langid": _langid_sql(),
    "text_fingerprint": _FINGERPRINT_SQL,
    "text_redact_pii": _REDACT_SQL,
}
