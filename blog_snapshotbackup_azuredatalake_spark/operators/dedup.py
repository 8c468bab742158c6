"""Deduplication operators for training-data curation (SURVEY.md §2C).

Four strategies, all expressed so the scale path is a *blocked join*
(inverted index / LSH band buckets / sign buckets) rather than an O(n²)
crossJoin — candidate-pair cost is bounded by bucket sizes, which is what
survives 100 TB. Exact verification (true Jaccard / Hamming / cosine)
runs only on candidates.

Shingles are token 5-grams: the driver corpus is a 31-word vocabulary, so
unigrams saturate (every long doc shares most of the vocab) while 5-grams
isolate the planted near-duplicates (25 pairs with J≥0.5 at sf0.01).

Shingles are carried as NUMERIC rolling hashes, never as strings: one
md5 per distinct token (the only md5 in the whole pipeline — SURVEY.md
§4's portable primitive), then 5-gram fingerprints by polynomial
combination mod a 31-bit prime, minhash permutations as affine maps over
those fingerprints, and band keys as packed bigints. The gram sets, the
band index and ``dedup_substring``'s positional spans are integer work on
token ids in one Arrow batch scan each (``functions/tokens.py``, numpy
under ``mapInArrow``), not Spark
higher-order lambdas, which run interpreted (CodegenFallback), one
boxed call per element. Pair generation and verification downstream are
Spark joins and array built-ins; the DuckDB oracle recomputes the
identical integers. (An earlier revision built 5-gram *strings* and
re-md5'd them 16× for minhash — 3× slower end-to-end.) 31-bit
fingerprints keep every product below 2^62: Spark would wrap silently on
bigint overflow while DuckDB throws, so staying overflow-free is what
keeps the two engines bit-identical.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from blog_snapshotbackup_azuredatalake_spark import substrate
from blog_snapshotbackup_azuredatalake_spark.functions import tokens
from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    sql_md5_int60,
)
from blog_snapshotbackup_azuredatalake_spark.functions.tokens import K_POLY, P31
from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
    cosine_with_norms,
    l2_norm,
    sign_bucket,
    sql_cosine,
    sql_sign_bucket,
)
from blog_snapshotbackup_azuredatalake_spark.session import (
    ensure_package_on_workers,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
    load_table,
    local_frame,
)

JACCARD_THRESHOLD = 0.5
# stop-shingle cap: grams in more docs than this are excluded from the
# ngram candidate index (L-doc posting list → L² candidate pairs)
MAX_GRAM_DF = 64
MINHASH_PERMS = 16  # 8 bands × 2 rows: P(candidate | J=0.5) ≈ 0.90
MINHASH_BANDS = 8
SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 4 bands of 8 bits ⇒ hamming ≤ 3 always shares a band
HAMMING_THRESHOLD = 3
EMB_COS_THRESHOLD = 0.3
# anchor blocking uses more sign dims than the (retired) 8-dim
# pair-emission blocking: the anchor relation is bounded BY
# CONSTRUCTION at 2^dims rows (the broadcast-hint audit rule, SURVEY
# §6), so a finer pattern costs nothing and resolves clusters that
# collide at 8 dims.
EMB_ANCHOR_DIMS = 16
# pair-report cap, twice: each doc meets only its MATCH_CAP doc_id-order
# SUCCESSORS per bucket (candidate generation is linear in bucket size —
# no bucket self-join anywhere), and each doc REPORTS only its MATCH_CAP
# best verified matches. Without both, a corpus whose duplicate-cluster
# size grows with the corpus (a mirrored crawl; the sfbig generator)
# makes pair output Θ(Σ cluster²) — measured alpha ≈ 2.1 at sf30→sf60.
# Recall cost of the cap is MEASURED by dedup_lsh_calibration.
MATCH_CAP = 8


def _affine_consts(tag: str, n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for affine hashes mod P31, derived
    from md5 so Spark and the DuckDB oracle embed identical literals."""
    out = []
    for j in range(n):
        h = hashlib.md5(f"{tag}{j}".encode()).hexdigest()
        out.append((int(h[:8], 16) % (P31 - 1) + 1, int(h[8:16], 16) % P31))
    return out


_MINHASH_AB = _affine_consts("perm", MINHASH_PERMS)
_SIMHASH_AB = _affine_consts("sim", 2)


def grams_for(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, text, …) → (doc_id, *keep, sh: array<bigint>) — distinct
    token-5-gram fingerprints in [0, P31), in first-occurrence order:
    md5-hash each distinct token once, then fold 5-token windows with the
    rolling polynomial (acc * K + tok) mod P. One Arrow batch scan
    (``tokens.grams``); no gram strings are materialized."""
    ensure_package_on_workers(docs.sparkSession)
    cols = ["doc_id", *keep]
    schema = StructType(
        [*(docs.schema[c] for c in cols), StructField("sh", ArrayType(LongType()))]
    )
    return docs.select(*cols, "text").mapInArrow(
        lambda batches: (tokens.grams(b, cols) for b in batches), schema
    )


def _docs_with_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grams_for(load_table(spark, sf_dir, "documents"))


SQL_TOKH = (
    f"list_transform(string_split(text, ' '), t -> {sql_md5_int60('t')} % {P31})"
)

SQL_GRAM_HASHES = f"""list_distinct(list_transform(
    range(1, greatest(len(th) - 3, 1)),
    i -> ((((((((th[i] * {K_POLY} + th[i+1]) % {P31}) * {K_POLY} + th[i+2])
         % {P31}) * {K_POLY} + th[i+3]) % {P31}) * {K_POLY} + th[i+4]) % {P31})
))"""
# NB: range(1, x) is already empty for x < 2 in DuckDB; the greatest() only
# guards the Spark side, where sequence(1, n) runs DESCENDING for n < 1.


def _jaccard(sa: Column, sb: Column) -> Column:
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    return inter / (F.size(sa) + F.size(sb) - F.size(F.array_intersect(sa, sb)))


_SQL_JACCARD = (
    "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"
)

def sql_sh_cte(src: str = "documents") -> str:
    """The gram-fingerprint CTE over any (doc_id, text) relation."""
    return f"""sh AS (
  SELECT doc_id, {SQL_GRAM_HASHES} AS sh
  FROM (SELECT doc_id, {SQL_TOKH} AS th FROM {src})
)"""


_SQL_SH_CTE = sql_sh_cte()


def _sql_mh_band_ctes(src: str = "documents") -> str:
    """Shared CTE prefix `sh, mh, bands` — the LSH band index over any
    (doc_id, text) relation."""
    mh_exprs = ",\n       ".join(
        f"list_min(list_transform(sh, v -> (v * {a} + {b}) % {P31}))"
        f" AS mh{j}"
        for j, (a, b) in enumerate(_MINHASH_AB)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"mh{2 * b} * {P31} + mh{2 * b + 1} AS band_hash FROM mh"
        for b in range(MINHASH_BANDS)
    )
    return f"""{sql_sh_cte(src)},
mh AS (SELECT doc_id,
       {mh_exprs}
       FROM sh),
bands AS ({band_selects})"""


def sql_star_pair_ctes(src: str = "documents") -> str:
    """CTE chain `sh, mh, bands, anch, cand, pairs` computing verified
    per-bucket STAR edges — the SQL mirror of ``star_pairs`` (the CC
    feed): each LSH band bucket contributes (bucket-min → member)
    edges only, O(Σ bucket) instead of O(Σ bucket²), with identical
    bucket connectivity (every member links to the same anchor)."""
    return f"""{_sql_mh_band_ctes(src)},
anch AS (SELECT band_id, band_hash, MIN(doc_id) AS anchor
         FROM bands GROUP BY band_id, band_hash),
cand AS (SELECT DISTINCT anchor AS doc_a, doc_id AS doc_b
         FROM bands JOIN anch USING (band_id, band_hash)
         WHERE doc_id > anchor),
pairs AS (
  SELECT doc_a, doc_b, {_SQL_JACCARD} AS jaccard
  FROM cand
  JOIN sh a ON a.doc_id = doc_a
  JOIN sh b ON b.doc_id = doc_b
  WHERE {_SQL_JACCARD} >= {JACCARD_THRESHOLD}
)"""


def _sql_lead_succ_cte(bucket_cols: str, rel: str) -> str:
    """CTE body pairing each doc with its ≤ MATCH_CAP successors in
    doc_id order within a bucket — the capped candidate generator
    (lead() per offset; no self-join, so candidate cost is linear in
    bucket size, never Σ bucket²)."""
    leads = ", ".join(
        f"lead(doc_id, {i}) OVER w" for i in range(1, MATCH_CAP + 1)
    )
    return f"""(
  SELECT doc_a, unnest(ss) AS doc_b FROM (
    SELECT doc_id AS doc_a,
           list_filter([{leads}], x -> x IS NOT NULL) AS ss
    FROM {rel}
    WINDOW w AS (PARTITION BY {bucket_cols} ORDER BY doc_id)
  )
)"""


def sql_capped_minhash_pair_ctes(src: str = "documents") -> str:
    """CTE chain `sh, mh, bands, succ, cand, verified, pairs` — the SQL
    mirror of ``capped_minhash_pairs``: successor-capped candidates
    (each doc meets its ≤ {MATCH_CAP} doc_id-order successors per band
    bucket), Jaccard-verified, then each doc reports its ≤ {MATCH_CAP}
    best matches. Both caps make the pair REPORT linear in corpus size
    even when duplicate-cluster size grows with the corpus (a mirrored
    crawl) — the uncapped contract's output is Θ(Σ cluster²)."""
    return f"""{_sql_mh_band_ctes(src)},
succ AS {_sql_lead_succ_cte("band_id, band_hash", "bands")},
cand AS (SELECT DISTINCT doc_a, doc_b FROM succ),
verified AS (
  SELECT doc_a, doc_b, {_SQL_JACCARD} AS jaccard
  FROM cand
  JOIN sh a ON a.doc_id = doc_a
  JOIN sh b ON b.doc_id = doc_b
  WHERE {_SQL_JACCARD} >= {JACCARD_THRESHOLD}
),
pairs AS (
  SELECT doc_a, doc_b, jaccard FROM verified
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_a
                             ORDER BY jaccard DESC, doc_b) <= {MATCH_CAP}
)"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on content md5, canonical = min doc_id. One
    shuffle on the 16-byte hash; at 100 TB the hash groupBy moves only
    (hash, id) pairs and AQE splits any pathological hash skew."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select("doc_id", F.md5("text").alias("content_md5"))
    canon = hashed.groupBy("content_md5").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return (
        hashed.join(canon, "content_md5")
        .select(
            "doc_id",
            "canonical_id",
            "n_copies",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
        )
    )


_DEDUP_EXACT_SQL = """
WITH hashed AS (SELECT doc_id, md5(text) AS content_md5 FROM documents),
canon AS (SELECT content_md5, MIN(doc_id) AS canonical_id,
                 COUNT(*) AS n_copies
          FROM hashed GROUP BY content_md5)
SELECT doc_id, canonical_id, n_copies,
       doc_id <> canonical_id AS is_dup
FROM hashed JOIN canon USING (content_md5)
"""


# ---------------------------------------------------------------------------
# n-gram jaccard via inverted index
# ---------------------------------------------------------------------------


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc best near-dup matches by exact shingle Jaccard,
    candidates from an inverted shingle index. Three caps keep it
    linear at any corpus shape: STOP-SHINGLES — grams appearing in
    more than MAX_GRAM_DF docs are dropped from the candidate index
    (not from verification; a gram shared by L docs carries near-zero
    signal); SUCCESSOR capping — each doc meets only its ≤ MATCH_CAP
    doc_id-order successors per posting list (lead() over the posting
    sort, no posting self-join, so candidate cost is linear in posting
    length); and the REPORT cap — each doc emits its ≤ MATCH_CAP best
    verified matches. The uncapped all-pairs contract was measured
    output-quadratic (alpha ≈ 2 at sf30→sf60) on replicated-cluster
    corpora — the mirrored-crawl shape. Near-dup pairs share many rare
    grams, so recall loss from the df cap is confined to pairs whose
    ONLY common grams are corpus-wide boilerplate — precisely the
    pairs the Jaccard gate rejects.

    The fingerprint table is materialized once (substrate cache):
    index and both verify sides consume it, and it is narrow — doc_id
    + gram array, no text — exactly the table a production pipeline
    persists beside the corpus."""
    docs = grams_cached(spark, sf_dir)
    # explode_OUTER + post-filter, not plain explode: explode makes
    # Catalyst infer `size(sh) > 0` and push it below the projections
    # with the whole gram expression inlined — re-evaluated per row in an
    # interpreted Filter (measured 120s vs 2s for this scan at sf0.1).
    postings = docs.select("doc_id", F.explode_outer("sh").alias("g")).filter(
        F.col("g").isNotNull()
    )
    # df as a WINDOW over g, not a separate aggregate branch anti-joined
    # back: the window's shuffle-by-g is the exact partitioning the
    # candidate self-join needs, so Catalyst reuses one exchange for
    # both sides — and there is no hot-gram side table to move at all.
    # (The previous F.broadcast(hot) anti-join was a scale bug found at
    # sf30: the hot set GROWS with the corpus — 1.5 M docs pushed it
    # past broadcastable and the query died with "not enough memory to
    # broadcast". A df-capped set is only small when the corpus is.)
    wg = Window.partitionBy("g")
    idx = (
        postings.withColumn("df", F.count(F.lit(1)).over(wg))
        .filter(F.col("df") <= MAX_GRAM_DF)
        .drop("df")
    )
    # successor-capped candidates + per-doc best-K report (same double
    # cap as capped_minhash_pairs — the posting-list self-join's output
    # was Θ(Σ cluster²) on replicated-cluster corpora)
    cand = _successor_cands(idx, ["g"])
    verified = _verify_jaccard(cand, docs)
    return _cap_per_doc(verified, [F.desc("jaccard"), F.asc("doc_b")])


def _ngram_sql() -> str:
    return f"""
WITH {_SQL_SH_CTE},
postings AS (SELECT doc_id, unnest(sh) AS g FROM sh),
idx AS (SELECT doc_id, g FROM postings
        QUALIFY COUNT(*) OVER (PARTITION BY g) <= {MAX_GRAM_DF}),
succ AS {_sql_lead_succ_cte("g", "idx")},
cand AS (SELECT DISTINCT doc_a, doc_b FROM succ),
verified AS (
  SELECT doc_a, doc_b, {_SQL_JACCARD} AS jaccard
  FROM cand
  JOIN sh a ON a.doc_id = doc_a
  JOIN sh b ON b.doc_id = doc_b
  WHERE {_SQL_JACCARD} >= {JACCARD_THRESHOLD}
)
SELECT doc_a, doc_b, jaccard FROM verified
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_a
                           ORDER BY jaccard DESC, doc_b) <= {MATCH_CAP}
"""


# ---------------------------------------------------------------------------
# containment near-dup (doc-in-doc)
# ---------------------------------------------------------------------------


CONTAINMENT_THRESHOLD = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup: C(A,B) = |A∩B| / min(|A|,|B|) over the
    distinct shingle sets — Broder's containment coefficient, the
    score that catches DOC-IN-DOC duplication (one document quoted,
    wrapped, or concatenated inside a larger one). Symmetric Jaccard
    structurally misses it: a small doc fully embedded in one 100×
    its size has C = 1.0 but J ≈ 0.01, and training corpora are full
    of exactly that shape (article + boilerplate shell, quoted posts,
    licence headers). Candidates come from the same df-capped,
    successor-capped inverted shingle index as ``dedup_ngram_jaccard``
    (lead() over the posting sort — no posting self-join), each doc
    reports its ≤ MATCH_CAP best matches by containment, and
    verification scores the full distinct gram sets. Output carries
    BOTH scores so the pairs only containment finds are visible as
    data (jaccard below its own gate)."""
    docs = grams_cached(spark, sf_dir)
    postings = docs.select(
        "doc_id", F.explode_outer("sh").alias("g")
    ).filter(F.col("g").isNotNull())
    wg = Window.partitionBy("g")
    idx = (
        postings.withColumn("df", F.count(F.lit(1)).over(wg))
        .filter(F.col("df") <= MAX_GRAM_DF)
        .drop("df")
    )
    cand = _successor_cands(idx, ["g"])
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast(
        "double"
    )
    containment = inter / F.least(
        F.size(F.col("sh_a")), F.size(F.col("sh_b"))
    ).cast("double")
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            containment.alias("containment"),
            _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )
    return _cap_per_doc(
        verified, [F.desc("containment"), F.asc("doc_b")]
    )


_SQL_CONTAINMENT = (
    "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE)"
)


def _containment_sql() -> str:
    return f"""
WITH {_SQL_SH_CTE},
postings AS (SELECT doc_id, unnest(sh) AS g FROM sh),
idx AS (SELECT doc_id, g FROM postings
        QUALIFY COUNT(*) OVER (PARTITION BY g) <= {MAX_GRAM_DF}),
succ AS {_sql_lead_succ_cte("g", "idx")},
cand AS (SELECT DISTINCT doc_a, doc_b FROM succ),
verified AS (
  SELECT doc_a, doc_b, {_SQL_CONTAINMENT} AS containment,
         {_SQL_JACCARD} AS jaccard
  FROM cand
  JOIN sh a ON a.doc_id = doc_a
  JOIN sh b ON b.doc_id = doc_b
  WHERE {_SQL_CONTAINMENT} >= {CONTAINMENT_THRESHOLD}
)
SELECT doc_a, doc_b, containment, jaccard FROM verified
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_a
                           ORDER BY containment DESC, doc_b) <= {MATCH_CAP}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def mh_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) → the LSH band index (doc_id, band_id, band_hash):
    MinHash(16 affine perms over gram fingerprints) packed into 8 bands
    of 2, one Arrow batch scan (``tokens.bands``); a doc with no grams
    has 8 NULL keys. This is the thing a production pipeline PERSISTS —
    incremental dedup probes it instead of re-banding the corpus."""
    ensure_package_on_workers(docs.sparkSession)
    schema = StructType(
        [
            docs.schema["doc_id"],
            StructField("band_id", IntegerType()),
            StructField("band_hash", LongType()),
        ]
    )
    return docs.select("doc_id", "sh").mapInArrow(
        lambda batches: (tokens.bands(b, _MINHASH_AB) for b in batches), schema
    )


def _verify_jaccard(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidates → rows with exact Jaccard ≥ threshold."""
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _successor_cands(rel: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """Bucketed relation (doc_id, *bucket_cols) → distinct candidate
    pairs (doc_a, doc_b) pairing each doc with its ≤ MATCH_CAP doc_id-
    order successors inside its bucket. lead() over a per-bucket sort —
    NO bucket self-join, so candidate cost is Σ bucket·log(bucket)
    (the sort) + Σ bucket·MATCH_CAP (the output), linear in corpus
    size even when bucket size grows with it."""
    w = Window.partitionBy(*bucket_cols).orderBy("doc_id")
    # bind the lead columns in their own projection first: a window
    # expression can't live inside the generator
    leaded = rel.select(
        F.col("doc_id").alias("doc_a"),
        *[
            F.lead("doc_id", i).over(w).alias(f"_s{i}")
            for i in range(1, MATCH_CAP + 1)
        ],
    )
    succ = F.array(*[F.col(f"_s{i}") for i in range(1, MATCH_CAP + 1)])
    return (
        leaded.select("doc_a", F.explode_outer(succ).alias("doc_b"))
        .filter(F.col("doc_b").isNotNull())
        .distinct()
    )


def _cap_per_doc(
    verified: DataFrame, order_cols: list[Column]
) -> DataFrame:
    """Keep each doc_a's MATCH_CAP best matches (deterministic order)."""
    wd = Window.partitionBy("doc_a").orderBy(*order_cols)
    return (
        verified.withColumn("_rn", F.row_number().over(wd))
        .filter(F.col("_rn") <= MATCH_CAP)
        .drop("_rn")
    )


def star_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) → verified per-bucket STAR edges (doc_a = bucket
    anchor < doc_b, jaccard) — the CC FEED. Each LSH band bucket elects
    its min doc_id as anchor and contributes only (anchor → member)
    edges: O(Σ bucket) edges and verifications with bucket connectivity
    identical to the all-pairs bucket graph, so downstream connected
    components are the same clusters at linear cost. The full pair
    self-join was measured output-quadratic (alpha ≈ 2.1 sf30→sf60)
    when duplicate-cluster size grows with the corpus."""
    bands = mh_bands(docs)
    anch = bands.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("doc_a")
    )
    cand = (
        bands.join(anch, ["band_id", "band_hash"])
        .filter(F.col("doc_id") > F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(cand, docs)


def capped_minhash_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) → the capped near-dup pair REPORT (doc_a, doc_b,
    jaccard): successor-capped candidates (≤ MATCH_CAP per band
    bucket, see _successor_cands), Jaccard-verified, then each doc
    keeps its ≤ MATCH_CAP best matches (jaccard DESC, doc_b ASC —
    bit-portable: the Jaccard double divides identical integers in
    both engines). Output is ≤ MATCH_CAP rows per doc BY CONSTRUCTION
    — the linear re-contract of the retired all-pairs report."""
    cand = _successor_cands(mh_bands(docs), ["band_id", "band_hash"])
    verified = _verify_jaccard(cand, docs)
    return _cap_per_doc(verified, [F.desc("jaccard"), F.asc("doc_b")])


# ---------------------------------------------------------------------------
# session-scoped substrate cache: the near-dup family shares its bases
# ---------------------------------------------------------------------------
# Seven entries (minhash / lsh_calibration / incremental / cluster_cc /
# cluster_sizes / keep_best / split_leakage_safe) consume the same
# grams → band-index → verified-pairs → CC-labels chain, built once per
# session through the package substrate cache (substrate.py).

# names the benchmark harness (perfbench/) reads
_DEDUP_CACHE = substrate.CACHE
dedup_cache_clear = substrate.clear


def grams_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-if-absent (doc_id, sh) fingerprint frame over the full
    documents table, cached COLUMNAR (persist MEMORY_AND_DISK + count
    — compressed, spillable; the §6 recipe for corpus-sized bases), so
    the Arrow gram scan runs once per session for every consumer."""
    return substrate.cached(
        spark,
        sf_dir,
        "grams",
        lambda: substrate.persisted(_docs_with_grams(spark, sf_dir)),
    )


def mh_bands_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-if-absent LSH band index (doc_id, band_id, band_hash) —
    the thing a production pipeline PERSISTS. Banding is per-doc, so
    subset consumers (dedup_incremental's new/corpus split) FILTER
    this one index instead of re-banding their slices. 8 small rows
    per doc: columnar persist."""
    return substrate.cached(
        spark,
        sf_dir,
        "mh_bands",
        lambda: substrate.persisted(mh_bands(grams_cached(spark, sf_dir))),
    )


def minhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-if-absent capped near-dup pair REPORT (doc_a, doc_b,
    jaccard) over the documents table — see capped_minhash_pairs. The
    report is ≤ MATCH_CAP rows per doc BY CONSTRUCTION, so
    localCheckpoint (row-blocks) is the right materialization and it
    cuts the band-window lineage for downstream consumers."""

    def build() -> DataFrame:
        cand = _successor_cands(
            mh_bands_cached(spark, sf_dir), ["band_id", "band_hash"]
        )
        verified = _verify_jaccard(cand, grams_cached(spark, sf_dir))
        return _cap_per_doc(
            verified, [F.desc("jaccard"), F.asc("doc_b")]
        ).localCheckpoint(eager=True)

    return substrate.cached(spark, sf_dir, "minhash_pairs", build)


def star_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-if-absent verified STAR edges (doc_a, doc_b, jaccard) —
    see star_pairs; the CC feed. ≤ 1 edge per (doc, band) BY
    CONSTRUCTION: localCheckpoint to cut lineage under the CC loop."""

    def build() -> DataFrame:
        bands = mh_bands_cached(spark, sf_dir)
        anch = bands.groupBy("band_id", "band_hash").agg(
            F.min("doc_id").alias("doc_a")
        )
        cand = (
            bands.join(anch, ["band_id", "band_hash"])
            .filter(F.col("doc_id") > F.col("doc_a"))
            .select("doc_a", F.col("doc_id").alias("doc_b"))
            .distinct()
        )
        return _verify_jaccard(
            cand, grams_cached(spark, sf_dir)
        ).localCheckpoint(eager=True)

    return substrate.cached(spark, sf_dir, "star_pairs", build)


def cc_labels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-if-absent connected-component labels (doc_id, cluster_id)
    over the near-dup STAR-edge graph (star_pairs_cached — bucket
    connectivity at linear edge count) — the fold consumed by
    cluster_cc / cluster_sizes / keep_best / split_leakage_safe /
    near_dup_inflation. connected_components (MAX_CC_ITERS rounds)
    already returns a checkpointed node-sized frame; the cache just
    stores it."""
    from blog_snapshotbackup_azuredatalake_spark.operators.graph import (
        connected_components,
    )

    return substrate.cached(
        spark,
        sf_dir,
        "cc_labels",
        lambda: connected_components(star_pairs_cached(spark, sf_dir)),
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See capped_minhash_pairs — this is it over the documents table,
    served from the session substrate cache (grams + band index are
    shared with six sibling entries)."""
    return minhash_pairs_cached(spark, sf_dir)


def _minhash_sql() -> str:
    return f"""
WITH {sql_capped_minhash_pair_ctes()}
SELECT doc_a, doc_b, jaccard FROM pairs
"""


INCR_BATCH_MOD = 10  # doc_id % 10 == 0 plays the freshly-arrived batch


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: probe a NEW batch (every 10th doc) against
    the existing corpus's MinHash band index instead of re-pairing the
    whole corpus — the nightly-ingest dedup shape. The batch's band
    index broadcasts (a day's intake is tiny next to the corpus), so
    the corpus side streams map-only through the probe with ZERO
    corpus-side shuffle; a production run reads the persisted corpus
    index (``mh_bands`` output) rather than recomputing it. Each new
    doc reports its best corpus match (highest Jaccard, ties to the
    lowest doc_id) or is_dup=false."""
    from pyspark.sql import Window

    # grams and the band index come from the session substrate cache:
    # banding is per-doc, so the new/corpus split is a FILTER over the
    # one cached index — no re-shingling, no re-banding of either slice
    is_new = F.col("doc_id") % INCR_BATCH_MOD == 0
    new = grams_cached(spark, sf_dir).filter(is_new)
    corpus = grams_cached(spark, sf_dir).filter(~is_new)
    cand = (
        mh_bands_cached(spark, sf_dir)
        .filter(~is_new)
        .alias("c")
        .join(
            F.broadcast(
                mh_bands_cached(spark, sf_dir).filter(is_new).alias("n")
            ),
            ["band_id", "band_hash"],
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    verified = (
        cand.join(
            new.select(
                F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_n")
            ),
            "new_id",
        )
        .join(
            corpus.select(
                F.col("doc_id").alias("corpus_id"), F.col("sh").alias("sh_c")
            ),
            "corpus_id",
        )
        .select(
            "new_id",
            "corpus_id",
            _jaccard(F.col("sh_n"), F.col("sh_c")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    w = Window.partitionBy("new_id").orderBy(
        F.desc("jaccard"), F.asc("corpus_id")
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "new_id",
            F.col("corpus_id").alias("match_id"),
            F.col("jaccard").alias("match_jaccard"),
        )
    )
    return (
        new.select(F.col("doc_id").alias("new_id"))
        .join(best, "new_id", "left")
        .select(
            F.col("new_id").alias("doc_id"),
            "match_id",
            "match_jaccard",
            F.col("match_id").isNotNull().alias("is_dup"),
        )
    )


def _incremental_sql() -> str:
    def mh_cte(src: str) -> str:
        exprs = ",\n       ".join(
            f"list_min(list_transform(sh, v -> (v * {a} + {b}) % {P31}))"
            f" AS mh{j}"
            for j, (a, b) in enumerate(_MINHASH_AB)
        )
        return f"SELECT doc_id,\n       {exprs}\n       FROM {src}"

    def band_cte(src: str) -> str:
        return "\nUNION ALL\n".join(
            f"SELECT doc_id, {b} AS band_id, "
            f"mh{2 * b} * {P31} + mh{2 * b + 1} AS band_hash FROM {src}"
            for b in range(MINHASH_BANDS)
        )

    return f"""
WITH newsrc AS (SELECT doc_id, text FROM documents
                WHERE doc_id % {INCR_BATCH_MOD} = 0),
corpsrc AS (SELECT doc_id, text FROM documents
            WHERE doc_id % {INCR_BATCH_MOD} <> 0),
shn AS (SELECT doc_id, {SQL_GRAM_HASHES} AS sh
        FROM (SELECT doc_id, {SQL_TOKH} AS th FROM newsrc)),
shc AS (SELECT doc_id, {SQL_GRAM_HASHES} AS sh
        FROM (SELECT doc_id, {SQL_TOKH} AS th FROM corpsrc)),
mhn AS ({mh_cte('shn')}),
mhc AS ({mh_cte('shc')}),
bandsn AS ({band_cte('mhn')}),
bandsc AS ({band_cte('mhc')}),
cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         FROM bandsn n JOIN bandsc c USING (band_id, band_hash)),
verified AS (
  SELECT new_id, corpus_id, {_SQL_JACCARD} AS jaccard
  FROM cand
  JOIN shn a ON a.doc_id = new_id
  JOIN shc b ON b.doc_id = corpus_id
  WHERE {_SQL_JACCARD} >= {JACCARD_THRESHOLD}
),
best AS (
  SELECT new_id, corpus_id AS match_id, jaccard AS match_jaccard,
         ROW_NUMBER() OVER (PARTITION BY new_id
                            ORDER BY jaccard DESC, corpus_id) AS rn
  FROM verified
)
SELECT shn.doc_id, match_id, match_jaccard,
       match_id IS NOT NULL AS is_dup
FROM shn LEFT JOIN (SELECT * FROM best WHERE rn = 1) b2
  ON b2.new_id = shn.doc_id
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _mix32(v: Column) -> Column:
    """Spread a 31-bit gram fingerprint over 32 well-mixed bits: two
    independent affine maps mod P31 supply 16 bits each."""
    (a1, b1), (a2, b2) = _SIMHASH_AB
    hi = ((v * a1 + b1) % P31).bitwiseAND(F.lit(65535))
    lo = ((v * a2 + b2) % P31).bitwiseAND(F.lit(65535))
    return hi * 65536 + lo


_SQL_MIX32 = (
    f"((v * {_SIMHASH_AB[0][0]} + {_SIMHASH_AB[0][1]}) % {P31} & 65535)"
    f" * 65536 + ((v * {_SIMHASH_AB[1][0]} + {_SIMHASH_AB[1][1]})"
    f" % {P31} & 65535)"
)


# (hamming, anchor_id) packed into one BIGINT so "best match" is a
# plain min() in BOTH engines (DuckDB arg_min cannot take a composite
# key): hamming ≤ 32 needs 6 bits, doc ids stay far below 2^44 (a
# trillion-doc corpus is 2^40).
SIMHASH_ID_BITS = 44


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash near-dup, per-doc band-anchor contract: each of
    the {SIMHASH_BANDS} 8-bit bands elects the min-doc_id holder of
    each band value as its anchor, every doc scores against its ≤ 4
    anchors (bit_count(xor)), and the best (min (hamming, anchor_id))
    is emitted — one row per doc: (doc_id, simhash, match_id, hamming,
    is_dup = hamming ≤ {HAMMING_THRESHOLD}).

    Pair emission retired round 5 for the same measured reason as
    dedup_embedding: with cluster-structured text, "all pairs at
    hamming ≤ 3" is OUTPUT-quadratic (3 996 pairs at sf1 → 254 987 at
    sf10 → ~2.3 M at sf30; 359 s of the 479 s cold sf30 dedup suite),
    and the banded self-join's Σbucket² over 256 fixed band values is
    plan-quadratic on top (SURVEY §6 "quadratic ANSWER" trap).

    Scale shape: anchors are bounded BY CONSTRUCTION at
    {SIMHASH_BANDS}·256 rows (map-side-combinable min/min_by agg), so
    the probe side is {SIMHASH_BANDS} broadcast hash joins — after the
    one per-doc majority aggregation the corpus never shuffles. Bit
    majorities come from explode + 32 codegen'd `sum((v>>b)&1)`
    aggregates: higher-order `aggregate` lambdas are interpreted per
    element (32 passes/doc), while the groupBy stays in whole-stage
    codegen and partial-aggregates to 33 longs per doc before the
    shuffle (measured 1.4× on the sim stage at sf0.1). The grams come
    from the session substrate cache: the plan reads them in five
    branches, and the cache runs the Arrow gram scan once."""
    docs = grams_cached(spark, sf_dir)
    ex = docs.select("doc_id", F.explode_outer("sh").alias("g")).select(
        "doc_id", _mix32(F.col("g")).alias("v")
    )
    per = ex.groupBy("doc_id").agg(
        F.count(F.col("v")).alias("n"),  # null-skipping: empty docs → 0
        *[
            F.sum(F.shiftright(F.col("v"), b).bitwiseAND(F.lit(1))).alias(
                f"b{b}"
            )
            for b in range(SIMHASH_BITS)
        ],
    )
    simhash = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        simhash = simhash + F.when(
            F.coalesce(F.col(f"b{b}"), F.lit(0)) * 2 > F.col("n"),
            F.shiftleft(F.lit(1).cast("bigint"), b),
        ).otherwise(F.lit(0).cast("bigint"))
    sim = per.select("doc_id", simhash.alias("simhash"))
    bands = sim.select(
        "doc_id",
        "simhash",
        # explode_outer: constant-size array; avoids the inferred
        # size()>0 filter inlining the simhash fold below this project
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_id"),
                        F.shiftright(F.col("simhash"), 8 * k)
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for k in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.band_val")
    anchors = bands.groupBy("band_id", "band_val").agg(
        F.min("doc_id").alias("anchor_id"),
        F.min_by("simhash", "doc_id").alias("anchor_sim"),
    )
    probe = sim
    for k in range(SIMHASH_BANDS):
        a_k = anchors.filter(F.col("band_id") == k).select(
            F.col("band_val").alias(f"bv{k}"),
            F.col("anchor_id").alias(f"aid{k}"),
            F.col("anchor_sim").alias(f"asim{k}"),
        )
        probe = probe.join(
            F.broadcast(a_k),
            F.shiftright(F.col("simhash"), 8 * k).bitwiseAND(F.lit(255))
            == F.col(f"bv{k}"),
            "left",
        )
    cands = [
        F.when(
            F.col(f"aid{k}") != F.col("doc_id"),
            F.shiftleft(
                F.bit_count(
                    F.col("simhash").bitwiseXOR(F.col(f"asim{k}"))
                ).cast("bigint"),
                SIMHASH_ID_BITS,
            ).bitwiseOR(F.col(f"aid{k}")),
        )
        for k in range(SIMHASH_BANDS)
    ]
    best = F.least(*cands)  # least() skips NULLs (self-only buckets)
    hamming = F.shiftright(best, SIMHASH_ID_BITS).cast("int")
    return probe.select(
        "doc_id",
        "simhash",
        best.bitwiseAND(
            F.lit((1 << SIMHASH_ID_BITS) - 1).cast("bigint")
        ).alias("match_id"),
        hamming.alias("hamming"),
        F.coalesce(
            hamming <= HAMMING_THRESHOLD, F.lit(False)
        ).alias("is_dup"),
    )


def _simhash_sql() -> str:
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {k} AS band_id,"
        f" (simhash >> {8 * k}) & 255 AS band_val FROM sim"
        for k in range(SIMHASH_BANDS)
    )
    bit_terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, v -> (v >> {b}) & 1 = 1)) > n"
        f" THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH {_SQL_SH_CTE},
hashed AS (SELECT doc_id, list_transform(sh, v -> {_SQL_MIX32}) AS hs,
                  len(sh) AS n FROM sh),
sim AS (SELECT doc_id, {bit_terms} AS simhash FROM hashed),
bands AS ({band_selects}),
anchors AS (SELECT band_id, band_val, min(doc_id) AS anchor_id,
                   arg_min(simhash, doc_id) AS anchor_sim
            FROM bands GROUP BY band_id, band_val),
cand AS (SELECT b.doc_id,
                (CAST(bit_count(xor(b.simhash, a.anchor_sim)) AS BIGINT)
                 << {SIMHASH_ID_BITS}) | a.anchor_id AS key
         FROM bands b JOIN anchors a USING (band_id, band_val)
         WHERE a.anchor_id <> b.doc_id),
best AS (SELECT doc_id, min(key) AS key FROM cand GROUP BY doc_id)
SELECT s.doc_id, s.simhash,
       b.key & ((CAST(1 AS BIGINT) << {SIMHASH_ID_BITS}) - 1)
         AS match_id,
       CAST(b.key >> {SIMHASH_ID_BITS} AS INT) AS hamming,
       COALESCE((b.key >> {SIMHASH_ID_BITS}) <= {HAMMING_THRESHOLD},
                FALSE) AS is_dup
FROM sim s LEFT JOIN best b USING (doc_id)
"""


# ---------------------------------------------------------------------------
# embedding near-dup (cosine + sign-LSH blocking)
# ---------------------------------------------------------------------------


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via canonical bucket anchors (the SemDeDup
    shape, Abbas et al. 2023): block on the sign pattern of the first
    {EMB_ANCHOR_DIMS} dims, elect the min-vec_id member of each bucket
    as its anchor, and score every vector against its anchor ONLY —
    one cosine per vector, one output row per vector
    (vec_id, anchor_id, cos, is_dup).

    Why not emit pairs: the round-5 cold sf10 suite run measured the
    previous within-bucket pair contract as OUTPUT-quadratic, not just
    plan-quadratic — the corpus is cluster-structured (2 000 sign
    patterns at every SF, each bucket growing linearly with n), so
    "all pairs with cos ≥ 0.3" is itself Θ(n²/|clusters|): 118 400
    pairs at sf1 → ~11.8 M at sf10, 243 s of the 334 s suite. No
    blocking scheme fixes an operator whose ANSWER grows quadratically;
    the contract has to be the linear one (SURVEY §6).

    Scale shape: the anchor agg is map-side combinable (min/min_by
    partial-aggregates to ≤ 2^{EMB_ANCHOR_DIMS} rows per task) and the
    anchor relation is bounded BY CONSTRUCTION at 2^{EMB_ANCHOR_DIMS}
    rows, so it broadcasts back and the corpus itself never shuffles —
    a single map-side pass at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        sign_bucket(F.col("embedding"), EMB_ANCHOR_DIMS).alias("bucket"),
    )
    anchors = emb.groupBy("bucket").agg(
        F.min("vec_id").alias("anchor_id"),
        F.min_by("embedding", "vec_id").alias("anchor_emb"),
    ).withColumn("a_nrm", l2_norm("anchor_emb"))
    # anchor norm hoisted to the ≤ 2^{dims}-row broadcast side
    # (round 10, `cosine_with_norms`): every corpus row re-folded it; the
    # row's own norm stays inline — one pair per row, so inline IS
    # once-per-row
    cos = cosine_with_norms(
        "embedding", "anchor_emb", l2_norm("embedding"), "a_nrm"
    )
    return (
        emb.join(F.broadcast(anchors), "bucket")
        .select("vec_id", "anchor_id", cos.alias("cos"))
        .select(
            "vec_id",
            "anchor_id",
            "cos",
            (
                (F.col("vec_id") != F.col("anchor_id"))
                & (F.col("cos") >= EMB_COS_THRESHOLD)
            ).alias("is_dup"),
        )
    )


_DEDUP_EMBEDDING_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding,
         {sql_sign_bucket(EMB_ANCHOR_DIMS)} AS bucket FROM embeddings
),
anchors AS (
  SELECT bucket, arg_min(vec_id, vec_id) AS anchor_id,
         arg_min(embedding, vec_id) AS anchor_emb
  FROM emb GROUP BY bucket
),
scored AS (
  SELECT e.vec_id, a.anchor_id,
         {sql_cosine('e.embedding', 'a.anchor_emb')} AS cos
  FROM emb e JOIN anchors a USING (bucket)
)
SELECT vec_id, anchor_id, cos,
       (vec_id <> anchor_id AND cos >= {EMB_COS_THRESHOLD}) AS is_dup
FROM scored
"""

# calibration sample: fixed-size prefix, so the exact all-pairs ground
# truth is CONSTANT cost at every SF (same policy as the capped exact
# index in dedup_lsh_calibration). 512 vectors ≈ 262k pairs; the first
# 2000-vector cut measured 60 s at ANY sf (3 interpreted HOF folds ×
# 4M pairs), fixed by pre-normalizing once (single-fold dot per pair —
# the norms were being recomputed 2·|sample| times each) + this cap.
ANCHOR_CAL_N = 512


# the certificate is a τ-CURVE: sign-anchor blocking is a NEAR-dup
# (high-τ) instrument — collision probability per sign dim is
# 1 − θ/π, so an 0.3-cosine "partner" (θ ≈ 73°) almost never shares a
# 16-dim pattern while a 0.99-cosine replica almost always does. The
# curve states the fit-for-purpose boundary instead of hiding it.
ANCHOR_CAL_TAUS = (0.3, 0.6, 0.9)


def dedup_anchor_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall certificate for the round-5 anchor contract, as a τ-curve:
    on the first-{ANCHOR_CAL_N} vector sample, exact all-pairs ground
    truth ("has ANY partner with cos ≥ τ") vs the SemDeDup anchor pass
    run within the same sample, one row per τ. Flagged ⊆ true by
    construction (an anchor match IS a true partner), so recall is the
    number that matters.

    Measured reading (driver testdata): at τ=0.3 truth is near-total
    (every vector has a ~73°-apart "partner") and blocking recall is
    ~0 — that regime is similarity SEARCH (ann_topk_*), not dedup; at
    τ≥0.9 the truth set is the replica/near-copy set, which shares full
    sign patterns and is caught via its bucket anchor (17 742/20 000
    replicas at cos̄ 0.986 flagged at sfbig sf1). The all-pairs side is
    bounded by the constant sample, NOT the corpus — flat at every SF
    (the uncapped version of this comparison was the 243 s sf10
    regression this certificate now guards against)."""
    # pre-normalize ONCE, with the norm bound as a real column BEFORE
    # the transform lambda references it (CollapseProject would inline
    # the norm fold per element otherwise — SURVEY §6); pair cosine is
    # then a single zip_with/aggregate fold instead of three.
    norm = l2_norm("embedding")
    sample = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < ANCHOR_CAL_N)
        .select(
            "vec_id",
            "embedding",
            sign_bucket(F.col("embedding"), EMB_ANCHOR_DIMS).alias(
                "bucket"
            ),
            norm.alias("nrm"),
        )
        .select(
            "vec_id",
            "bucket",
            F.transform(
                F.col("embedding"),
                lambda x: x.cast("double") / F.col("nrm"),
            ).alias("nv"),
        )
        .localCheckpoint(eager=True)  # sample-sized; bind the projection
    )
    # single zip_with/aggregate fold per pair: measured FASTER than an
    # unrolled 64-term element_at sum (the long Add chain bails out of
    # whole-stage codegen and interpreted element_at loses to the fold,
    # 23 s vs 10 s at 1M pairs) — keep the fold, bound the sample.
    def dot(a: str, b: str) -> Column:
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    other = sample.select(
        F.col("vec_id").alias("b_id"), F.col("nv").alias("b_nv")
    )
    truth = (
        sample.crossJoin(F.broadcast(other))
        .filter(F.col("vec_id") != F.col("b_id"))
        .select("vec_id", dot("nv", "b_nv").alias("cos"))
        .agg(
            *[
                F.count_distinct(
                    F.when(F.col("cos") >= t, F.col("vec_id"))
                ).alias(f"true_{int(t * 100)}")
                for t in ANCHOR_CAL_TAUS
            ]
        )
    )
    anchors = sample.groupBy("bucket").agg(
        F.min("vec_id").alias("anchor_id"),
        F.min_by("nv", "vec_id").alias("anchor_nv"),
    )
    flagged = (
        sample.join(F.broadcast(anchors), "bucket")
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(dot("nv", "anchor_nv").alias("acos"))
        .agg(
            *[
                F.sum(
                    F.when(F.col("acos") >= t, 1).otherwise(0)
                ).alias(f"flag_{int(t * 100)}")
                for t in ANCHOR_CAL_TAUS
            ]
        )
    )
    n = sample.agg(F.count(F.lit(1)).alias("sample_n"))
    base = n.crossJoin(truth).crossJoin(flagged)
    rows = [
        base.select(
            F.lit(int(t * 100)).cast("int").alias("tau_pct"),
            F.col("sample_n").cast("bigint").alias("sample_n"),
            F.col(f"true_{int(t * 100)}").cast("bigint").alias(
                "true_dups"
            ),
            F.coalesce(F.col(f"flag_{int(t * 100)}"), F.lit(0))
            .cast("bigint")
            .alias("flagged_dups"),
            F.expr(
                f"CASE WHEN true_{int(t * 100)} = 0 THEN 1000000"
                f" ELSE coalesce(flag_{int(t * 100)}, 0) * 1000000"
                f" div true_{int(t * 100)} END"
            ).cast("bigint").alias("recall_ppm"),
        )
        for t in ANCHOR_CAL_TAUS
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def _anchor_cal_sql() -> str:
    tau_rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({int(t * 100)} AS INT) AS tau_pct,
       CAST(sample_n AS BIGINT) AS sample_n,
       CAST(true_{int(t * 100)} AS BIGINT) AS true_dups,
       CAST(COALESCE(flag_{int(t * 100)}, 0) AS BIGINT) AS flagged_dups,
       CAST(CASE WHEN true_{int(t * 100)} = 0 THEN 1000000
                 ELSE COALESCE(flag_{int(t * 100)}, 0) * 1000000
                      // true_{int(t * 100)} END AS BIGINT)
         AS recall_ppm
FROM base"""
        for t in ANCHOR_CAL_TAUS
    )
    true_aggs = ",\n         ".join(
        f"COUNT(DISTINCT CASE WHEN cos >= {t} THEN vec_id END)"
        f" AS true_{int(t * 100)}"
        for t in ANCHOR_CAL_TAUS
    )
    flag_aggs = ",\n         ".join(
        f"SUM(CASE WHEN acos >= {t} THEN 1 ELSE 0 END)"
        f" AS flag_{int(t * 100)}"
        for t in ANCHOR_CAL_TAUS
    )
    ndot = (
        "list_reduce(list_transform(range(1, 1 + len({a})),"
        " i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )
    return f"""
WITH sample AS (
  SELECT vec_id, bucket,
         list_transform(embedding, v -> CAST(v AS DOUBLE) / nrm) AS nv
  FROM (SELECT vec_id, embedding,
               {sql_sign_bucket(EMB_ANCHOR_DIMS)} AS bucket,
               sqrt(list_reduce(list_transform(embedding,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
                 (x, y) -> x + y)) AS nrm
        FROM embeddings WHERE vec_id < {ANCHOR_CAL_N})
),
truth AS (
  SELECT {true_aggs}
  FROM (SELECT a.vec_id, {ndot.format(a='a.nv', b='b.nv')} AS cos
        FROM sample a JOIN sample b ON a.vec_id <> b.vec_id)
),
anchors AS (
  SELECT bucket, MIN(vec_id) AS anchor_id,
         arg_min(nv, vec_id) AS anchor_nv
  FROM sample GROUP BY bucket
),
flagged AS (
  SELECT {flag_aggs}
  FROM (SELECT {ndot.format(a='s.nv', b='a.anchor_nv')} AS acos
        FROM sample s JOIN anchors a USING (bucket)
        WHERE s.vec_id <> a.anchor_id)
),
n AS (SELECT COUNT(*) AS sample_n FROM sample),
base AS (SELECT * FROM n, truth, flagged)
{tau_rows}
"""


_ANCHOR_CAL_SQL = _anchor_cal_sql()


# ---------------------------------------------------------------------------
# exact repeated-substring (span) detection
# ---------------------------------------------------------------------------

SPAN_K = 8  # span length in tokens (Lee et al. use 50 BPE tokens; the
# 31-word driver vocabulary needs a shorter window to discriminate)


def _span_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, source, text) → (doc_id, source, gram): one row per
    POSITIONAL (non-distinct) rolling {SPAN_K}-token-gram hash, one per
    span start, so span *coverage* can be measured — one Arrow batch scan
    (``tokens.span_grams``)."""
    ensure_package_on_workers(docs.sparkSession)

    def spans(batch):
        g, doc = tokens.span_grams(batch.column("text"), SPAN_K)
        keep = batch.select(["doc_id", "source"]).take(pa.array(doc))
        return keep.append_column("gram", pa.array(g))

    return docs.select("doc_id", "source", "text").mapInArrow(
        lambda batches: map(spans, batches),
        "doc_id bigint, source string, gram bigint",
    )


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication audit (the span-level companion to
    document-level dedup, after Lee et al. 2022): a {SPAN_K}-token span
    is *repeated* if it occurs in ≥ 2 distinct documents; per source,
    report span totals, repeated-span coverage, and how many documents
    are majority-duplicated (≥ half their spans repeated — the docs a
    span-level dedup pass would rewrite).

    Scale shape: cost is Σ tokens. The span stream shuffles once to
    build the (gram → doc-count) index with map-side partial distinct,
    and once more to join the repeated-gram set back — both keyed on a
    31-bit hash, uniformly distributed by construction, so no skew.
    The majority test is integer (2·n_rep ≥ n_spans): no doubles
    anywhere near the group boundary."""
    docs = load_table(spark, sf_dir, "documents")
    ex = _span_grams(docs)
    gram_docs = (
        ex.select("gram", "doc_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs_g"))
    )
    rep = gram_docs.filter(F.col("n_docs_g") >= 2).select("gram")
    tot = ex.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    repc = ex.join(rep, "gram").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rep")
    )
    per_doc = tot.join(repc, "doc_id", "left").withColumn(
        "n_rep", F.coalesce(F.col("n_rep"), F.lit(0)).cast("bigint")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_spans").alias("n_spans"),
        F.sum("n_rep").alias("n_rep_spans"),
        (
            F.sum("n_rep").cast("double")
            / F.sum("n_spans").cast("double")
        ).alias("dup_span_share"),
        F.sum(
            (F.col("n_rep") * 2 >= F.col("n_spans")).cast("bigint")
        ).alias("n_docs_majority_dup"),
    )


def _span_gram_sql() -> str:
    acc = "th[i]"
    for off in range(1, SPAN_K):
        acc = f"(({acc}) * {K_POLY} + th[i+{off}]) % {P31}"
    return (
        f"list_transform(range(1, greatest(len(th) - {SPAN_K - 2}, 1)),"
        f" i -> {acc})"
    )


_DEDUP_SUBSTRING_SQL = f"""
WITH th_t AS (SELECT doc_id, source, {SQL_TOKH} AS th FROM documents),
g_t AS (SELECT doc_id, source, {_span_gram_sql()} AS g FROM th_t),
ex AS (SELECT doc_id, source, UNNEST(g) AS gram FROM g_t),
rep AS (SELECT gram
        FROM (SELECT gram, COUNT(DISTINCT doc_id) AS n
              FROM ex GROUP BY gram)
        WHERE n >= 2),
tot AS (SELECT doc_id, source, COUNT(*) AS n_spans
        FROM ex GROUP BY doc_id, source),
repc AS (SELECT doc_id, COUNT(*) AS n_rep
         FROM ex JOIN rep USING (gram) GROUP BY doc_id),
per_doc AS (SELECT t.doc_id, t.source, t.n_spans,
                   COALESCE(r.n_rep, 0) AS n_rep
            FROM tot t LEFT JOIN repc r USING (doc_id))
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_spans) AS BIGINT) AS n_spans,
       CAST(SUM(n_rep) AS BIGINT) AS n_rep_spans,
       CAST(SUM(n_rep) AS DOUBLE) / CAST(SUM(n_spans) AS DOUBLE)
         AS dup_span_share,
       CAST(SUM(CASE WHEN n_rep * 2 >= n_spans THEN 1 ELSE 0 END)
            AS BIGINT) AS n_docs_majority_dup
FROM per_doc GROUP BY source
"""


DEDUP_TAUS = [0.5, 0.6, 0.7, 0.8, 0.9]


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold ROI curve: how many docs (and how much token
    mass) a keep-anchor near-dup pass removes at each Jaccard
    threshold τ ∈ {DEDUP_TAUS} — the number a curation owner looks at
    before picking the production τ. Each candidate doc's BEST star-
    edge Jaccard (max over its ≤8 verified anchor links, from the
    session substrate cache) decides the highest τ that still removes
    it; the 5-row τ relation broadcast-nested-loop joins the removed
    MINORITY only, and the corpus total rides in as a broadcast
    scalar. Linear: no pair enumeration beyond the cached star edges."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc_b"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("toks"),
    )
    best = (
        star_pairs_cached(spark, sf_dir)
        .groupBy("doc_b")
        .agg(F.max("jaccard").alias("best_j"))
    )
    joined = best.join(docs, "doc_b")
    total = docs.groupBy().agg(F.sum("toks").alias("tok_total"))
    taus = local_frame(
        spark,
        [(t,) for t in DEDUP_TAUS], "tau double"
    )
    return (
        F.broadcast(taus)
        .join(joined, F.col("best_j") >= F.col("tau"), "left")
        .groupBy("tau")
        .agg(
            F.count("doc_b").alias("n_removed_docs"),
            F.coalesce(F.sum("toks"), F.lit(0))
            .cast("bigint")
            .alias("tokens_removed"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "tau",
            "n_removed_docs",
            "tokens_removed",
            F.expr(
                "tokens_removed * 1000000 div greatest(tok_total, 1L)"
            ).alias("removed_token_ppm"),
        )
    )


def _threshold_curve_sql() -> str:
    tau_list = ", ".join(str(t) for t in DEDUP_TAUS)
    return f"""
WITH {sql_star_pair_ctes()},
best AS (SELECT doc_b, MAX(jaccard) AS best_j FROM pairs GROUP BY doc_b),
toks AS (SELECT doc_id AS doc_b,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         FROM documents),
total AS (SELECT CAST(SUM(toks) AS BIGINT) AS tok_total FROM toks),
taus AS (SELECT unnest(CAST([{tau_list}] AS DOUBLE[])) AS tau),
joined AS (SELECT b.doc_b, b.best_j, t.toks
           FROM best b JOIN toks t USING (doc_b))
SELECT tau,
       CAST(COUNT(doc_b) AS BIGINT) AS n_removed_docs,
       CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS tokens_removed,
       CAST(COALESCE(SUM(toks), 0) * 1000000
            // GREATEST((SELECT tok_total FROM total), 1) AS BIGINT)
         AS removed_token_ppm
FROM taus LEFT JOIN joined ON best_j >= tau
GROUP BY tau
"""


PARA_TOKENS = 32  # aligned block size standing in for '\n' paragraphs
# pack (doc_id, block_pos) into one BIGINT so "first occurrence" is a
# plain MIN in both engines; guarded loudly below — a doc past 2^20
# blocks (33M tokens) would alias packs
PARA_POS_STRIDE = 1 << 20


def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PARAGRAPH-level dedup — the C4 move (Raffel et al. 2020:
    discard every repeated three-sentence span) as engine built-ins,
    no Python anywhere: hash each paragraph, keep the first occurrence
    (min (doc_id, pos)), report per-source removed-paragraph mass.
    This corpus carries no newlines, so "paragraph" is the aligned
    {PARA_TOKENS}-token block — same contract shape, deterministic and
    oracle-able. Plan: split → explode block index → slice+md5 (all
    whole-stage codegen) → one groupBy(ph) min (map-side combinable)
    → hash join back → per-source fold. Linear in corpus tokens BY
    CONSTRUCTION: no self-join, no pair emission — each paragraph
    occurrence is one row and meets only its canonical min. This is
    the span-level REMOVAL primitive next to dedup_substring's span
    AUDIT (which counts repeated spans but doesn't pick survivors)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("tk")
    )
    nblk = F.expr(
        f"greatest(CAST(ceil(size(tk) / {PARA_TOKENS}.0) AS INT), 1)"
    )
    e = docs.select(
        "doc_id",
        "source",
        "tk",
        F.explode_outer(F.sequence(F.lit(0), nblk - 1)).alias("pos"),
    )
    paras = e.select(
        "source",
        F.md5(
            F.expr(
                f"array_join(slice(tk, pos * {PARA_TOKENS} + 1,"
                f" {PARA_TOKENS}), ' ')"
            )
        ).alias("ph"),
        F.expr(f"CAST(size(slice(tk, pos * {PARA_TOKENS} + 1,"
               f" {PARA_TOKENS})) AS BIGINT)").alias("ptoks"),
        F.expr(
            f"CASE WHEN pos >= {PARA_POS_STRIDE} THEN"
            f" CAST(raise_error('dedup_paragraph: block pos >="
            f" PARA_POS_STRIDE; pack would alias — raise the stride')"
            f" AS BIGINT)"
            f" ELSE doc_id * {PARA_POS_STRIDE}L + pos END"
        ).alias("pk"),
    )
    # merge hint: paras is explode-derived, so its static size
    # estimate is the pre-explode scan bytes — the planner broadcast
    # the full paragraph stream (the text_cooccurrence crash class;
    # here it stayed under the 8 GiB limit and showed up as alpha ≈ 3
    # sf30→sf60 instead: isolated 27.5 s at sf60, hint-fixed 5.5 s
    # with warm sf30 at 3.0 s — alpha ≈ 0.9, linear again). A
    # localCheckpoint A/B lost: materializing the 72 M paragraph rows
    # costs more than recomputing the narrow explode+md5 branch twice.
    canon = paras.groupBy("ph").agg(F.min("pk").alias("first_pk"))
    marked = paras.hint("merge").join(canon, "ph").select(
        "source",
        "ptoks",
        (F.col("pk") != F.col("first_pk")).alias("removed"),
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.when(F.col("removed"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_paras"),
        F.sum("ptoks").alias("tokens_total"),
        F.coalesce(
            F.sum(F.when(F.col("removed"), F.col("ptoks"))), F.lit(0)
        )
        .cast("bigint")
        .alias("tokens_removed"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN removed THEN ptoks END), 0)"
            " * 1000000 div greatest(sum(ptoks), 1) AS BIGINT)"
        ).alias("removed_token_ppm"),
    )


_DEDUP_PARAGRAPH_SQL = f"""
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS tk
           FROM documents),
e AS (SELECT doc_id, source, tk,
             unnest(range(0, greatest(CAST(ceil(len(tk) / {PARA_TOKENS}.0)
                                           AS BIGINT), 1))) AS pos
      FROM d),
paras AS (
  SELECT source,
         md5(array_to_string(list_slice(tk, pos * {PARA_TOKENS} + 1,
                                        pos * {PARA_TOKENS}
                                        + {PARA_TOKENS}), ' ')) AS ph,
         CAST(len(list_slice(tk, pos * {PARA_TOKENS} + 1,
                             pos * {PARA_TOKENS} + {PARA_TOKENS}))
              AS BIGINT) AS ptoks,
         doc_id * {PARA_POS_STRIDE} + pos AS pk
  FROM e),
canon AS (SELECT ph, MIN(pk) AS first_pk FROM paras GROUP BY ph)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(CASE WHEN pk <> first_pk THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_paras,
       CAST(SUM(ptoks) AS BIGINT) AS tokens_total,
       CAST(COALESCE(SUM(CASE WHEN pk <> first_pk THEN ptoks END), 0)
            AS BIGINT) AS tokens_removed,
       CAST(COALESCE(SUM(CASE WHEN pk <> first_pk THEN ptoks END), 0)
            * 1000000 // GREATEST(SUM(ptoks), 1) AS BIGINT)
         AS removed_token_ppm
FROM paras JOIN canon USING (ph)
GROUP BY source
"""


def dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-configuration calibration: measure, as data, what the
    16-perm/8-band MinHash index actually buys — candidate volume,
    recall, and precision against EXACT ground truth. The candidate and
    verified sides are exactly the production operators, so the audited
    numbers are the deployed numbers. One row out: recall is the
    escalate-or-not signal (more bands) and precision prices the
    verify join.

    Ground truth is exact without an all-pairs scan: any pair with
    Jaccard ≥ {JACCARD_THRESHOLD} > 0 shares at least one shingle, so
    the inverted-index self-join enumerates a superset of the truth
    set, the per-pair group count over DEDUPED postings IS the
    set-intersection size (gram arrays can carry in-doc repeats, so
    the explode goes through array_distinct — a raw count would
    overcount Σ cnt_a·cnt_b and can even drive the union-size formula
    negative), and the denominator |sh_a|+|sh_b|−|A∩B| reproduces
    `_jaccard`'s exact semantics (distinct intersection over RAW sizes
    — what array_intersect/size and the DuckDB oracle's
    list_intersect/len both compute). Cost is Σ_g df(g)² over shared
    shingles — the same shape as dedup_ngram_jaccard but UNcapped,
    because a calibration certificate must not drop the high-df
    shingles that production caps. (The naive n²·|sh| array-intersect
    version measured 156 s at sf0.1 vs ~3 s for this plan — same row,
    same values.)"""
    docs = grams_cached(spark, sf_dir)
    # the PRODUCTION candidate set — successor-capped, exactly what the
    # deployed report verifies (recall below prices BOTH the banding
    # and the caps against exact truth)
    cand = _successor_cands(
        mh_bands_cached(spark, sf_dir), ["band_id", "band_hash"]
    )
    # candidates that verify ≥ threshold — the cached production report
    hits = minhash_pairs_cached(spark, sf_dir)
    ex = docs.select(
        "doc_id", F.explode(F.array_distinct("sh")).alias("g")
    )
    sizes = docs.select("doc_id", F.size("sh").alias("n_sh"))
    inter = (
        ex.alias("x")
        .join(ex.alias("y"), "g")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_int"))
    )
    truth = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
            ),
            "doc_b",
        )
        .filter(
            F.col("n_int").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_int"))
            >= JACCARD_THRESHOLD
        )
    )
    counts = (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_true_pairs")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
    )
    h, t, c = (
        F.col("n_hits").cast("double"),
        F.col("n_true_pairs"),
        F.col("n_candidates"),
    )
    return counts.select(
        "n_docs",
        "n_candidates",
        "n_true_pairs",
        "n_hits",
        F.when(t > 0, h / t.cast("double")).otherwise(F.lit(1.0)).alias(
            "recall"
        ),
        F.when(c > 0, h / c.cast("double")).otherwise(F.lit(1.0)).alias(
            "precision"
        ),
    )


_LSH_CALIBRATION_SQL = f"""
WITH {sql_capped_minhash_pair_ctes()},
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {_SQL_JACCARD} >= {JACCARD_THRESHOLD}
)
SELECT (SELECT COUNT(*) FROM sh) AS n_docs,
       (SELECT COUNT(*) FROM cand) AS n_candidates,
       (SELECT COUNT(*) FROM truth) AS n_true_pairs,
       (SELECT COUNT(*) FROM pairs) AS n_hits,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0
            THEN CAST((SELECT COUNT(*) FROM pairs) AS DOUBLE)
                 / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE)
            ELSE 1.0 END AS recall,
       CASE WHEN (SELECT COUNT(*) FROM cand) > 0
            THEN CAST((SELECT COUNT(*) FROM pairs) AS DOUBLE)
                 / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE)
            ELSE 1.0 END AS precision
"""


QUERIES = {
    "dedup_lsh_calibration": dedup_lsh_calibration,
    "dedup_substring": dedup_substring,
    "dedup_paragraph": dedup_paragraph,
    "dedup_threshold_curve": dedup_threshold_curve,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_minhash": dedup_minhash,
    "dedup_incremental": dedup_incremental,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_anchor_calibration": dedup_anchor_calibration,
}

ORACLES = {
    "dedup_lsh_calibration": _LSH_CALIBRATION_SQL,
    "dedup_substring": _DEDUP_SUBSTRING_SQL,
    "dedup_paragraph": _DEDUP_PARAGRAPH_SQL,
    "dedup_threshold_curve": _threshold_curve_sql(),
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": _ngram_sql(),
    "dedup_containment": _containment_sql(),
    "dedup_minhash": _minhash_sql(),
    "dedup_incremental": _incremental_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_embedding": _DEDUP_EMBEDDING_SQL,
    "dedup_anchor_calibration": _ANCHOR_CAL_SQL,
}
