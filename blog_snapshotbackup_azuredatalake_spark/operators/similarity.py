"""Similarity search over embedding columns (SURVEY.md §2C).

Three plans for top-k cosine neighbors:

- ``ann_topk_bruteforce`` — the exact baseline: the query panel is
  collected and each Arrow batch of the corpus scan keeps its per-query
  top-k, so the corpus is scanned once with no shuffle of the big side;
  cost is |Q|·|corpus|, fine for small query batches at any corpus size.
- ``ann_topk_lsh`` — sign-pattern buckets (random-hyperplane LSH
  degenerate form) restrict candidates to the query's bucket, making
  cost Σ bucket² — linear-ish in corpus size. Recall is traded for
  that, as usual with ANN.
- ``ann_topk_ivf`` — IVF coarse+fine: assign every corpus vector to its
  nearest of NLIST coarse centroids (one Arrow batch scan against the
  collected centroid set, ``functions/centroids.py`` — no corpus
  shuffle), then each query probes its NPROBE nearest
  lists and re-ranks exactly within them. Candidate cost is
  |Q|·NPROBE/NLIST of the corpus — the standard inverted-file ANN
  trade, and unlike the sign-LSH it degrades gracefully (more probes →
  more recall) without re-bucketing.

Every scorer against the small query panel (``_panel_topk``), the kNN
graph's cells, every nearest-centroid search and the product quantizer
run the engines' left-to-right double fold in numpy
(``functions/pairscore.py``): bit-identical to the DuckDB oracle's
list_reduce fold, with no interpreted lambda per element. The probe-join
entries still fold each candidate pair in Spark (zip_with/aggregate,
``functions/vectors.py``), with the row norms hoisted out of the pair
(``cosine_with_norms``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions import pairscore
from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    hash60,
    sql_md5_int60,
)
from blog_snapshotbackup_azuredatalake_spark.functions.centroids import (
    Centroids,
    sql_centroid_ctes,
)
from blog_snapshotbackup_azuredatalake_spark.functions.vectors import (
    cosine_similarity,
    cosine_with_norms,
    l2_norm,
    sign_bucket,
    sql_cosine,
    sql_l2_sq,
    sql_sign_bucket,
)
from blog_snapshotbackup_azuredatalake_spark.functions.pq import (
    PQ_M,
    PQERR_FP,
    PQ_SHORTLIST,
    ProductQuantizer,
    seeds,
    sql_adc_refine,
    sql_pq_ctes,
)
from blog_snapshotbackup_azuredatalake_spark.session import (
    ensure_package_on_workers,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
    load_table,
    local_frame,
)

N_QUERIES = 20
TOP_K = 5
LSH_DIMS = 6
IVF_NLIST = 16
IVF_NPROBE = 4

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_FP = 1 << 20
HYBRID_QUERY_ID = 0  # pinned demo query: doc/vec 0's text terms + vector
HYBRID_TOPK = 10


def ann_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — BM25 lexical ranks fused with vector-cosine
    ranks by Reciprocal Rank Fusion (Cormack et al.: score =
    Σ 1/(k+rank), k={RRF_K}), the standard two-tower search recipe
    (lexical catches exact terms, vectors catch paraphrase; RRF needs
    no score calibration because it only consumes RANKS). Both lists
    are the already-oracle-checked building blocks: `text_bm25_search`
    (one corpus scan + one-row stats broadcast) and the pinned query's
    IVF probe/re-rank shortlist (`ann_topk_ivf`'s plan shape — the
    100 TB path: map-only coarse assign, probe {IVF_NPROBE} lists,
    exact cosine only inside them; RRF consumes RANKS, so swapping the
    shortlist never changes the fusion arithmetic).
    Fusion arithmetic is integer fixed point ({RRF_FP} div (k+rank)),
    so the certificate hashes bit-identically; the full-outer join of
    two ≤{BM25_TOPK}-row lists is driver-trivial at any corpus size."""
    from blog_snapshotbackup_azuredatalake_spark.operators.text import (
        text_bm25_search,
    )

    lex = text_bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    # the vector list IS the IVF shortlist (the shipped 100 TB path —
    # ann_topk_ivf's probe/re-rank, restricted to the pinned query):
    # coarse assign is one Arrow batch scan against the collected
    # centroid set, the query probes its IVF_NPROBE nearest lists, exact
    # re-rank runs inside the probed lists only. No corpus-wide
    # crossJoin anywhere in this entry; the brute-force scorer stays in
    # ann_topk_bruteforce as the labeled baseline.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = Centroids.first(emb, IVF_NLIST)
    assigned = cents.assign(emb).select(
        "vec_id", F.col("centroid_id").alias("list_id"), "embedding"
    )
    # PARTIAL norm hoist (round 10): q_nrm was re-folded per matched
    # corpus row; it now rides the tiny probe side. The corpus norm
    # stays inline — ONE query probes IVF_NPROBE/IVF_NLIST lists, so
    # most corpus rows never match and a corpus-side norm column would
    # cost more rows than it saves (the ann_topk_lsh selective-join
    # argument).
    probes = _probes(
        emb, cents, IVF_NPROBE, F.col("vec_id") == HYBRID_QUERY_ID
    )
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != HYBRID_QUERY_ID)
        .select(
            "vec_id",
            cosine_with_norms(
                "q_emb", "embedding", "q_nrm", l2_norm("embedding")
            ).alias("cos"),
        )
    )
    wv = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    from blog_snapshotbackup_azuredatalake_spark.operators.text import (
        BM25_TOPK,
    )

    # round 10: single global window kept — Spark 4.1 plans this
    # rank+filter shape as TakeOrderedAndProject (map-side local top-k,
    # merge of |tasks|·k rows), NOT a single-partition sort
    vec = (
        scored.withColumn("vec_rank", F.row_number().over(wv))
        .filter(F.col("vec_rank") <= BM25_TOPK)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
        )
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.col("lex_rank").cast("int").alias("lex_rank"),
        "vec_rank",
        (
            F.coalesce(
                F.expr(f"{RRF_FP} div ({RRF_K} + lex_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{RRF_FP} div ({RRF_K} + vec_rank)"), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("rrf_fp"),
    )
    wf = Window.orderBy(F.desc("rrf_fp"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= HYBRID_TOPK)
        .select(
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "lex_rank",
            "vec_rank",
            "rrf_fp",
        )
    )


def _hybrid_rrf_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.text import (
        BM25_TOPK,
        _bm25_sql,
    )

    cos = sql_cosine("q_emb", "b.embedding")
    # the vec list mirrors the Spark side's IVF shortlist: coarse
    # assign, probe the query's IVF_NPROBE nearest lists, exact cosine
    # re-rank inside them
    ivf = sql_centroid_ctes(
        IVF_NLIST, f"q.vec_id = {HYBRID_QUERY_ID}", IVF_NPROBE
    )
    return f"""
WITH lex AS ({_bm25_sql()}),
{ivf}, pairs AS (SELECT b.vec_id AS doc_id, {cos} AS cos
             FROM probes JOIN assigned b USING (list_id)
             WHERE b.vec_id <> {HYBRID_QUERY_ID}),
vec AS (SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT)
                 AS vec_rank
        FROM pairs QUALIFY vec_rank <= {BM25_TOPK}),
fused AS (
  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         CAST(lex.rank AS INT) AS lex_rank, vec.vec_rank,
         CAST(COALESCE({RRF_FP} // ({RRF_K} + lex.rank), 0)
              + COALESCE({RRF_FP} // ({RRF_K} + vec.vec_rank), 0)
              AS BIGINT) AS rrf_fp
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_fp DESC, doc_id) AS INT)
         AS rank,
       doc_id, lex_rank, vec_rank, rrf_fp
FROM fused QUALIFY rank <= {HYBRID_TOPK}
"""


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the first N_QUERIES vectors: a
    window over the few per-batch candidates of ``_panel_topk``."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scored = _panel_topk(spark, emb, TOP_K, _cosine, "vec_id bigint, cos double")
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "vec_id", "cos", F.col("rnk").cast("int").alias("rnk"))
    )


def _cosine(batch, x, panel) -> dict:
    """The ``cos`` of each batch row (``x``) with each panel vector."""
    return {"cos": pairscore.cosines(x, panel)[0]}


def _l2(batch, x, panel) -> dict:
    """The squared L2 distance ``d2`` of each batch row to each panel
    vector."""
    return {"d2": pairscore.l2_sq(x[:, None], panel[None])}


def _panel_topk(
    spark: SparkSession,
    corpus: DataFrame,
    k: int,
    score,
    schema: str,
    carry: tuple = ("vec_id",),
    split: str | None = None,
    ascending: bool = False,
) -> DataFrame:
    """Per-batch top-``k`` candidates of each of the first N_QUERIES rows
    of ``corpus`` (``vec_id``, ``embedding`` and the ``carry`` columns),
    its own row left out: one Arrow batch scan (``pairscore.panel_topk``),
    with no pair relation and no corpus shuffle. The query panel is
    collected once and rides in the closure. ``score(batch, x, panel)``
    gives the batch's score matrices ({column: rows × queries}) from its
    ``embedding`` matrix ``x`` and the panel's. With ``split``, a column,
    each query is picked twice: among rows whose ``split`` equals the
    query's (``q_<split>``) and among rows whose ``split`` differs, a null
    in neither. Every global top-k row is in its batch's top-k, so a
    window over the candidates is exact. ``schema`` names the carry and
    score columns after ``q_id`` (and ``q_<split>``); ``ascending`` picks
    the least scores, NaN last."""
    ensure_package_on_workers(spark)
    cols = ["vec_id", "embedding", *([split] if split else [])]
    panel = corpus.filter(F.col("vec_id") < N_QUERIES).select(cols).collect()
    ids, vecs = pairscore.stack(panel)
    queries = {"q_id": ids}
    if split:  # as double, a null as NaN (``pairscore.split_masks``)
        queries[f"q_{split}"] = np.array([r[2] for r in panel], dtype=float)

    def pick(batch):
        x = pairscore.matrix(batch.column("embedding"), vecs.shape[1])
        own = batch.column("vec_id").to_numpy()[:, None] == ids
        excludes = [own]
        if split:
            by = batch.column(split).to_numpy(zero_copy_only=False)
            excludes = pairscore.split_masks(
                own, by.astype(float), queries[f"q_{split}"]
            )
        return pairscore.panel_topk(
            batch,
            queries,
            score(batch, x, vecs),
            excludes,
            k,
            list(carry),
            ascending,
        )

    if not len(ids):  # no query: nothing to pick
        corpus = corpus.limit(0)
    return corpus.mapInArrow(
        lambda batches: map(pick, batches), f"q_id bigint, {schema}"
    )


_ANN_BRUTE_SQL = f"""
WITH queries AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {N_QUERIES}
), pairs AS (
  SELECT q_id, b.vec_id AS vec_id, {sql_cosine("q_emb", "b.embedding")} AS cos
  FROM queries JOIN embeddings b ON b.vec_id <> q_id
)
SELECT q_id, vec_id, cos, CAST(rnk AS INT) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, vec_id) AS rnk
      FROM pairs)
WHERE rnk <= {TOP_K}
"""


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via MULTI-PROBE sign-bucket LSH: each query probes its
    own bucket plus the LSH_DIMS Hamming-1 neighbors (a near neighbor
    that disagrees on one hyperplane sign lands one flip away —
    single-bucket probing measured only 0.03–0.08 recall@5, multi-probe
    recovers most of it for a 7× blowup of the TINY query side only;
    the corpus is still touched once per matching bucket)."""
    # PARTIAL norm hoist (round 10): only the broadcast query side's
    # norm is precomputed. The bucket join is SELECTIVE — most corpus
    # rows match no probe bucket — so a corpus-side norm column would
    # fold once per corpus ROW while saving only per matched PAIR: the
    # full hoist measured a regression here (sf60de 1.44 → 2.00 s min)
    # where the crossJoin scorers of the time gained 1.5–3.5×. The
    # corpus norm stays inline (evaluated on matched pairs only); q_nrm
    # rides the tiny probe side for free.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        sign_bucket(F.col("embedding"), LSH_DIMS).alias("bucket"),
    )
    base_q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        "bucket",
        l2_norm("embedding").alias("q_nrm"),
    )
    flip = F.expr(
        "CASE WHEN i = 0 THEN bucket ELSE concat(substring(bucket, 1, i - 1),"
        " CASE WHEN substring(bucket, i, 1) = '1' THEN '0' ELSE '1' END,"
        f" substring(bucket, i + 1, {LSH_DIMS})) END"
    )
    queries = (
        base_q.select(
            "q_id",
            "q_emb",
            "q_nrm",
            "bucket",
            F.explode_outer(F.sequence(F.lit(0), F.lit(LSH_DIMS))).alias("i"),
        )
        .select("q_id", "q_emb", "q_nrm", flip.alias("bucket"))
    )
    pairs = (
        emb.join(F.broadcast(queries), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_with_norms(
                "q_emb", "embedding", "q_nrm", l2_norm("embedding")
            ).alias("cos"),
        )
        # round 10: the `.distinct()` here was a NO-OP paying a full
        # corpus-sized Exchange + hash aggregate (guide §2.4: distinct
        # on data that is already unique). A (q_id, vec_id) pair can
        # never repeat: a corpus vector has exactly ONE bucket string,
        # and a query's 1 + LSH_DIMS probe buckets are pairwise
        # DISTINCT (each flip toggles a different character), so at
        # most one probe row of a query joins any vector
        # (tests/test_lsh_probe_uniqueness.py pins the invariant; the
        # oracle keeps its DISTINCT — identity on dup-free input).
    )
    # round 10: left as a single window — Spark 4.1 plans this
    # rank+filter shape with WindowGroupLimit(Partial) before the
    # exchange (map-side top-k per query), so the sort parallelism is
    # NOT bounded by |Q| (rank-limit pushdown, SPARK-37099)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "vec_id", "cos", F.col("rnk").cast("int").alias("rnk"))
    )


_ANN_LSH_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding, {sql_sign_bucket(LSH_DIMS)} AS bucket FROM embeddings
), base_q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM emb
  WHERE vec_id < {N_QUERIES}
), queries AS (
  -- multi-probe: own bucket + all {LSH_DIMS} Hamming-1 neighbors
  SELECT q_id, q_emb,
         CASE WHEN i = 0 THEN bucket
              ELSE substr(bucket, 1, CAST(i - 1 AS INT))
                   || (CASE WHEN substr(bucket, CAST(i AS INT), 1) = '1'
                            THEN '0' ELSE '1' END)
                   || substr(bucket, CAST(i + 1 AS INT), {LSH_DIMS})
         END AS bucket
  FROM base_q, range(0, {LSH_DIMS + 1}) t(i)
), pairs AS (
  SELECT DISTINCT q_id, b.vec_id AS vec_id, {sql_cosine("q_emb", "b.embedding")} AS cos
  FROM queries JOIN emb b USING (bucket)
  WHERE b.vec_id <> q_id
)
SELECT q_id, vec_id, cos, CAST(rnk AS INT) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, vec_id) AS rnk
      FROM pairs)
WHERE rnk <= {TOP_K}
"""


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: NLIST deterministic coarse centroids (the first NLIST
    corpus vectors), corpus assigned to its nearest list by the map-only
    nearest-centroid primitive (``functions/centroids.py``; the corpus
    never shuffles), queries probe their IVF_NPROBE nearest lists and
    re-rank exactly inside them."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _ivf_search(emb, Centroids.first(emb, IVF_NLIST))


def _ivf_search(emb: DataFrame, cents: Centroids) -> DataFrame:
    """Probe-and-rerank against any coarse list set; the IVF plan shape
    is independent of how the lists were built."""
    # coarse assignment is MAP-ONLY (functions/centroids.py): the
    # corpus reaches the bucket join with NO exchange at all
    assigned = cents.assign(emb).select(
        "vec_id",
        F.col("centroid_id").alias("list_id"),
        "embedding",
        # per-row norm hoisted below the probe join (round 10,
        # `cosine_with_norms`): folded once per row, not once per pair
        l2_norm("embedding").alias("nrm"),
    )
    probes = _probes(emb, cents, IVF_NPROBE)
    pairs = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_with_norms("q_emb", "embedding", "q_nrm", "nrm").alias("cos"),
        )
    )
    # round 10: left as a single window — Spark 4.1 plans this
    # rank+filter shape with WindowGroupLimit(Partial) before the
    # exchange (map-side top-k per query), so the sort parallelism is
    # NOT bounded by |Q| (rank-limit pushdown, SPARK-37099)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "vec_id", "cos", F.col("rnk").cast("int").alias("rnk"))
    )


def _probes(
    emb: DataFrame,
    cents: Centroids,
    nprobe: int,
    where: Column | None = None,
) -> DataFrame:
    """(q_id, q_emb, p, list_id, q_nrm): the ``nprobe`` nearest lists of
    each query row of ``emb`` (the rows ``where`` holds, by default
    vec_id < N_QUERIES), ``p`` the 1-based probe rank. The queries are
    collected and searched on the driver, so the probe list is a local
    table."""
    if where is None:
        where = F.col("vec_id") < N_QUERIES
    rows = emb.filter(where).select("vec_id", "embedding").collect()
    lists = cents.search(pairscore.stack(rows)[1], nprobe)[0]
    return local_frame(
        emb.sparkSession,
        [
            (r[0], r[1], p, int(c))
            for r, ls in zip(rows, lists)
            for p, c in enumerate(ls, start=1)
        ],
        "q_id bigint, q_emb array<float>, p int, list_id bigint",
    ).withColumn("q_nrm", l2_norm("q_emb"))


# the oracle's coarse assign + the N_QUERIES queries' probe lists
_IVF_CTES = sql_centroid_ctes(IVF_NLIST, f"q.vec_id < {N_QUERIES}", IVF_NPROBE)

_ANN_IVF_SQL = f"""
WITH {_IVF_CTES}, pairs AS (
  SELECT q_id, b.vec_id AS vec_id,
         {sql_cosine("q_emb", "b.embedding")} AS cos
  FROM probes JOIN assigned b USING (list_id)
  WHERE b.vec_id <> q_id
)
SELECT q_id, vec_id, cos, CAST(rnk AS INT) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, vec_id) AS rnk
      FROM pairs)
WHERE rnk <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# filtered ANN (metadata predicate + IVF probe)
# ---------------------------------------------------------------------------

FILTER_LABEL = 3  # the demo predicate: ~1/10 of the corpus qualifies
FILTER_NPROBE = 8  # 2× the unfiltered nprobe: post-filtering thins each
# probed list by the predicate's selectivity, so probing more lists is
# how filtered search recovers candidate count (the standard trade)


def ann_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN — top-k under a metadata predicate (`label = 3`),
    the retrieval shape every real vector deployment needs (search
    within a language / license / source slice): the IVF index is
    built ONCE on the FULL corpus (indexes are not rebuilt per
    predicate), the predicate is applied to candidates INSIDE the
    probed lists (post-filtering), and {FILTER_NPROBE} lists are probed
    — double the unfiltered {IVF_NPROBE} — to recover the candidate
    mass the filter removes. Map-only coarse assign of the rows the
    predicate keeps, and a driver-side probe list
    (`functions/centroids.py`: the corpus never shuffles before the
    bucket join); the predicate reaches the scan as a pushable filter."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.col("label").cast("int").alias("label")
    )
    cents = Centroids.first(emb, IVF_NLIST)
    # the filter goes below the assign scan, which it cannot cross
    assigned = cents.assign(emb.filter(F.col("label") == FILTER_LABEL)).select(
        "vec_id",
        "embedding",
        "label",
        F.col("centroid_id").alias("list_id"),
        # per-row norm hoisted below the probe join (round 10,
        # `cosine_with_norms`): folded once per row, not once per pair
        l2_norm("embedding").alias("nrm"),
    )
    probes = _probes(emb, cents, FILTER_NPROBE)
    pairs = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            cosine_with_norms("q_emb", "embedding", "q_nrm", "nrm").alias("cos"),
        )
    )
    # round 10: single window kept — WindowGroupLimit(Partial) already
    # does the map-side top-k here (SPARK-37099)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "q_id",
            "vec_id",
            "label",
            "cos",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


_ANN_FILTERED_SQL = f"""
WITH {sql_centroid_ctes(IVF_NLIST, f"q.vec_id < {N_QUERIES}", FILTER_NPROBE)},
pairs AS (
  SELECT q_id, b.vec_id AS vec_id, b.label AS label,
         {sql_cosine("q_emb", "b.embedding")} AS cos
  FROM probes JOIN assigned b USING (list_id)
  WHERE b.vec_id <> q_id AND b.label = {FILTER_LABEL}
)
SELECT q_id, vec_id, label, cos, CAST(rnk AS INT) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, vec_id) AS rnk
      FROM pairs)
WHERE rnk <= {TOP_K}
"""


IVF_TRAIN_ITERS = 2


def ann_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with TRAINED coarse lists: {IVF_TRAIN_ITERS} Lloyd iterations
    (reusing clustering's assign/recompute stages, k = IVF_NLIST) move
    the centroids onto the data manifold before the same probe-and-
    rerank as ``ann_topk_ivf`` — the standard faiss-style recipe, here
    as a composition of two existing operators. Training cost is
    {IVF_TRAIN_ITERS} corpus scans with k×d-cell shuffles; only the
    k×d centroid matrix ever reaches the driver. Rows-only entry: the
    iterative training isn't one SQL statement (recall measured in
    scripts/ann_quality.py — 0.93 vs 0.89 untrained at sf0.1; at tiny
    SFs training is a wash because every list is near-empty)."""
    from blog_snapshotbackup_azuredatalake_spark.operators.clustering import (
        _assign,
        _recompute,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # faiss-style: train the coarse quantizer on a deterministic sample
    # sized to the centroid count (~64 points per list), not the corpus —
    # at 100 TB the Lloyd loop touches a cacheable sliver while only the
    # single final assignment scans everything. Below the target size the
    # modulus degenerates to 1 (train on all; sampling 200 vectors onto
    # 16 lists measurably hurts recall). Checkpointed so iterations
    # don't re-read parquet.
    modulus = max(1, emb.count() // (64 * IVF_NLIST))
    train = emb.filter(F.col("vec_id") % modulus == 0).localCheckpoint(
        eager=True
    )
    centroids = emb.filter(F.col("vec_id") < IVF_NLIST).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    for _ in range(IVF_TRAIN_ITERS):
        centroids = _recompute(spark, _assign(train, centroids))
    return _ivf_search(emb, Centroids(centroids))


KNN_GRAPH_K = 3
KNN_GRAPH_DIMS = 6  # minimum sign dims (64 buckets)
KNN_TARGET_BUCKET = 256  # target vectors per bucket at scale


def _knn_graph_dims(n: int) -> int:
    """Scale-adaptive sign-LSH width: enough bucket bits that the
    expected bucket holds ~{KNN_TARGET_BUCKET} vectors, never fewer
    than {KNN_GRAPH_DIMS}. Fixed bucket count means Σ bucket² ∝ n²;
    constant expected occupancy makes the candidate join ∝ n — the
    documented log(n)-bucket escalation, as code. The oracle computes
    the identical formula in SQL (exact for the clamped range at gate
    SFs; log2 of a power of two is exact in both engines)."""
    import math

    return max(
        KNN_GRAPH_DIMS, math.ceil(math.log2(max(n, 1) / KNN_TARGET_BUCKET))
    )


KNN_BUCKET_CAP = 512  # hard per-bucket occupancy cap (2× the target)


def _knn_subsplits(bucket_count: int) -> int:
    """Sub-buckets an oversize pattern bucket splits into —
    ceil(count/cap) by integer arithmetic, exact in Python, Spark
    (`div`), and DuckDB (`//`) alike (parity property-tested)."""
    return (bucket_count + KNN_BUCKET_CAP - 1) // KNN_BUCKET_CAP


def ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus k-NN GRAPH construction (every vector's top-{KNN_GRAPH_K}
    in-corpus neighbors) — the substrate for graph-based curation:
    near-dup clustering seeds, label propagation, diversity sampling.

    Unlike the query-set ANN ops, BOTH sides are the whole corpus, so
    blocking is what makes it feasible: a sign-pattern LSH self-join
    with a HARD per-bucket occupancy cap. Adaptive pattern width
    (``_knn_graph_dims``) keeps expected occupancy near the target,
    and any bucket that still exceeds {KNN_BUCKET_CAP} vectors —
    skewed sign patterns: mega-groups of near-identical vectors, where
    measurement (sf10→sf30, SCALING.md) showed the pattern space
    SATURATES so no amount of extra bits splits them — is sub-split by
    md5(vec_id) mod ceil(count/{KNN_BUCKET_CAP}). That bounds
    candidate pairs to ≤ n·{KNN_BUCKET_CAP} AT ANY n by construction,
    trading only recall WITHIN capped mega-buckets, whose members are
    near-interchangeable as neighbors. Round-8 instrumentation
    (SCALING.md, "Round 8: ann_knn_graph width-step DECIDED") measured
    the bound live: at 600 k→1.2 M vectors the pattern space
    saturates at ~1.6–1.8 k patterns, EVERY pattern is oversize at
    1.2 M, and candidate pairs grow 186.6 M→389.6 M — 2.09× for 2× n, pair-alpha 1.06. (The
    round-7 "trigger the width step earlier" idea is REFUTED by the
    same probe: one extra pattern bit removes only ~4% of pairs,
    because the saturated mega-patterns, not expected occupancy, carry
    the mass.)

    The pair stage is VECTORIZED per cell (round 8): the capped cells
    make every group <= {KNN_BUCKET_CAP} vectors, so the all-pairs
    cosine + top-k inside a cell is a bounded dense-matrix problem --
    groupBy(pat, sub).applyInArrow computes it with numpy instead of
    expanding a candidate-pair RELATION. The round-8 stage probe
    (SCALING.md) showed the old self-join's per-pair interpreted
    higher-order-function cosine was ~80% of the build (72 s of 94
    warm at 600 k vectors) and the 390 M-row pair sort the rest; both
    hypothesized micro-fixes (per-row norm precompute, in-cell rank
    window) measured a WASH because expression evaluation over the
    pair relation itself was the floor. The UDF path never
    materializes pairs engine-side: ONE corpus shuffle by (pat, sub)
    -- explicitly repartitioned proportional to n so AQE's
    map-size-based coalescing (blind to the ~325x in-cell pair
    expansion) can't serialize the compute onto a handful of tasks --
    then per-cell O(m^2 d) float64 arithmetic at numpy speed, emitting
    only the {KNN_GRAPH_K} kept edges per vector.

    ORACLE PARITY IS BIT-EXACT BY FOLD ORDER: the cell kernel is
    ``pairscore.cell_topk``, the engines' fold and ordering in numpy.

    Recall follows the LSH trade (same-bucket neighbors only; more
    bits = finer buckets = lower recall per bucket) -- the recall
    escalation is multi-probe or IVF blocking, both shipped for the
    query-set case."""
    import math

    from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
        md5_int60,
    )
    from blog_snapshotbackup_azuredatalake_spark.functions.hints import (
        broadcast_if_bounded,
    )

    ensure_package_on_workers(spark)
    base = load_table(spark, sf_dir, "embeddings")
    n = base.count()
    dims = _knn_graph_dims(n)
    patted = base.select(
        "vec_id",
        "embedding",
        sign_bucket(F.col("embedding"), dims).alias("pat"),
    )
    # Oversize-pattern counts via groupBy (map-side combine -- skew-safe:
    # a 10M-row mega-bucket partial-aggregates to one cell per map task,
    # no hot partition) instead of a window by `pat`, which would shuffle
    # AND sort the full embedding payload with every mega-bucket pinned
    # to one task. Only patterns PAST the cap survive the filter -- the
    # skew set, small by nature (<= n/cap worst case) -- and ride a
    # GUARDED broadcast back; everything else defaults to sub 0. The
    # corpus payload therefore shuffles exactly once: by (pat, sub) for
    # the per-cell kernel.
    oversize = (
        patted.groupBy("pat")
        .agg(F.count(F.lit(1)).alias("bc"))
        .filter(F.col("bc") > KNN_BUCKET_CAP)
    )
    emb = (
        patted.join(broadcast_if_bounded(oversize), "pat", "left")
        .select(
            "vec_id",
            "embedding",
            "pat",
            F.coalesce(
                md5_int60(F.col("vec_id").cast("string"))
                % F.expr(f"(bc + {KNN_BUCKET_CAP} - 1) div {KNN_BUCKET_CAP}"),
                F.lit(0),
            ).alias("sub"),
        )
    )
    # explicit partition count proportional to n: the corpus shuffle is
    # ~230 B/row, so AQE would coalesce it to a handful of
    # map-size-right tasks -- each then owning MILLIONS of in-cell
    # pairs (the same estimate-blind class as the explode-broadcast
    # lint). ~20 k rows per task bounds per-task pair work at
    # ~20 k * CAP.
    nparts = max(
        spark.sparkContext.defaultParallelism, math.ceil(n / 20_000)
    )
    return (
        emb.repartition(nparts, "pat", "sub")
        .groupBy("pat", "sub")
        .applyInArrow(
            _knn_cell_topk, "src bigint, rank int, dst bigint, cos double"
        )
    )


def _knn_cell_topk(cell: pa.Table) -> pa.Table:
    """Per-cell all-pairs cosine + top-{KNN_GRAPH_K}, fold-order exact
    (``pairscore.cell_topk``)."""
    return pairscore.cell_topk(cell, KNN_GRAPH_K)


# the capped-LSH graph as a reusable CTE chain — the graph entry and
# the recall audit share it verbatim, so the two oracles can never
# drift apart
_KNN_GRAPH_CTES = f"""nd AS (
  SELECT GREATEST({KNN_GRAPH_DIMS},
                  CAST(CEIL(LOG2(GREATEST(COUNT(*), 1)
                                 / {KNN_TARGET_BUCKET}.0)) AS INT)) AS dims
  FROM embeddings
),
patted AS (
  SELECT vec_id, embedding, {sql_sign_bucket("(SELECT dims FROM nd)")} AS pat FROM embeddings
),
emb AS (
  SELECT vec_id, embedding, pat,
         {sql_md5_int60("CAST(vec_id AS VARCHAR)")}
           % ((COUNT(*) OVER (PARTITION BY pat) + {KNN_BUCKET_CAP} - 1)
              // {KNN_BUCKET_CAP}) AS sub
  FROM patted
),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, {sql_cosine("a.embedding", "b.embedding")} AS cos
  FROM emb a JOIN emb b USING (pat, sub)
  WHERE a.vec_id <> b.vec_id
),
knn_graph AS (
  SELECT src, CAST(rank AS INT) AS rank, dst, cos
  FROM (SELECT src, dst, cos,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY cos DESC, dst) AS rank
        FROM pairs)
  WHERE rank <= {KNN_GRAPH_K}
)"""

_ANN_KNN_GRAPH_SQL = f"""
WITH {_KNN_GRAPH_CTES}
SELECT src, rank, dst, cos FROM knn_graph
"""


def ann_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the capped-LSH kNN graph: for the bounded
    {N_QUERIES}-vector panel, how many of each vector's TRUE
    top-{KNN_GRAPH_K} cosine neighbors (exact, whole-corpus brute force:
    the Arrow batch scan of ``_panel_topk``) does the graph contain? This
    is the permanent "recall pricing" for the blocked substrate the
    round-7 verdict asked about: the LSH trade (same-bucket candidates
    only + the occupancy-cap sub-split) is priced per panel vector as
    hits/{KNN_GRAPH_K}, and any future change to the blocking
    (pattern width, cap, sub-split) re-prices automatically. Both
    sides break cosine ties by ascending neighbor id over bit-identical
    doubles, so the set intersection is engine-exact; queries whose
    graph neighbors were all pruned report 0 hits via the left join
    (a groupBy alone would silently drop them).

    Round 9 adds the TIE-AWARE column pair (dist_hits, dist_recall):
    how many of the graph's kept neighbors are AT LEAST AS CLOSE as
    the true {KNN_GRAPH_K}th neighbor (graph cos >= exact kth cos —
    an exact double comparison, both sides computed by the same
    left-to-right fold, not a tolerance). The round-9 saturated-cap
    measurement (scripts/knn_recall_scale.py, SCALING.md) showed why
    both numbers are needed: at 600 k / 1.2 M / 2.4 M vectors the
    id-recall decays exactly as the md5 sub-split arithmetic predicts
    (0.83 / 0.40 / 0.35 ~ mean 1/n_sub) while dist-recall stays 1.00
    on every panel query — the loss is entirely WITHIN the cos-tie
    set of near-identical mega-bucket members, so the substrate's
    "cap trades which tied neighbor you keep, not how close" claim is
    measured, not asserted. A future corpus where capped buckets are
    NOT near-interchangeable would show up here as dist_recall < 1
    before any consumer silently degrades."""
    from blog_snapshotbackup_azuredatalake_spark.operators.graph import (
        knn_graph_cached,
    )

    graph = knn_graph_cached(spark, sf_dir).filter(
        F.col("src") < N_QUERIES
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scored = _panel_topk(
        spark, emb, KNN_GRAPH_K, _cosine, "vec_id bigint, cos double"
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    # one window gives the exact set (rnk <= K) and the tie bar (rnk = K);
    # the barrier lets both read it without a second Python scan
    topk = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_GRAPH_K)
        .localCheckpoint(eager=False)
    )
    exact = topk.select(
        F.col("q_id").alias("src"), F.col("vec_id").alias("dst")
    )
    # the exact kth-best cosine is the tie-aware bar: any graph
    # neighbor at or above it is as close as a "true" neighbor
    kth = topk.filter(F.col("rnk") == KNN_GRAPH_K).select(
        F.col("q_id").alias("src"), F.col("cos").alias("kth_cos")
    )
    hits = (
        exact.join(graph.select("src", "dst"), ["src", "dst"], "left_semi")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    dhits = (
        graph.select("src", "cos")
        .join(kth, "src")
        .filter(F.col("cos") >= F.col("kth_cos"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("dist_hits"))
    )
    return (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("src"))
        .join(hits, "src", "left")
        .join(dhits, "src", "left")
        .select(
            "src",
            F.coalesce(F.col("hits"), F.lit(0)).cast("int").alias("hits"),
            (
                F.coalesce(F.col("hits"), F.lit(0))
                / F.lit(float(KNN_GRAPH_K))
            ).alias("recall"),
            F.coalesce(F.col("dist_hits"), F.lit(0))
            .cast("int")
            .alias("dist_hits"),
            (
                F.coalesce(F.col("dist_hits"), F.lit(0))
                / F.lit(float(KNN_GRAPH_K))
            ).alias("dist_recall"),
        )
    )


_ANN_KNN_RECALL_SQL = f"""
WITH {_KNN_GRAPH_CTES},
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {N_QUERIES}
),
rk AS (
  SELECT q_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos DESC, vec_id) AS rn
  FROM (SELECT q_id, b.vec_id,
               {sql_cosine("q_emb", "b.embedding")} AS cos
        FROM q JOIN embeddings b ON b.vec_id <> q_id)
),
ex AS (
  SELECT q_id AS src, vec_id AS dst FROM rk WHERE rn <= {KNN_GRAPH_K}
),
kth AS (
  SELECT q_id AS src, cos AS kth_cos FROM rk WHERE rn = {KNN_GRAPH_K}
),
hits AS (
  SELECT ex.src, COUNT(*) AS hits
  FROM ex JOIN knn_graph g ON g.src = ex.src AND g.dst = ex.dst
  GROUP BY ex.src
),
dhits AS (
  SELECT g.src, COUNT(*) AS dist_hits
  FROM knn_graph g JOIN kth ON kth.src = g.src
  WHERE g.cos >= kth.kth_cos
  GROUP BY g.src
)
SELECT q.q_id AS src, CAST(COALESCE(h.hits, 0) AS INT) AS hits,
       COALESCE(h.hits, 0) / {KNN_GRAPH_K}.0 AS recall,
       CAST(COALESCE(d.dist_hits, 0) AS INT) AS dist_hits,
       COALESCE(d.dist_hits, 0) / {KNN_GRAPH_K}.0 AS dist_recall
FROM q LEFT JOIN hits h ON h.src = q.q_id
       LEFT JOIN dhits d ON d.src = q.q_id
"""


def _pq_search(
    spark: SparkSession,
    emb: DataFrame,
    cents: Centroids | None = None,
    residual: bool = False,
) -> DataFrame:
    """(q_id, vec_id, adc_fp, d2, rnk): each of the first N_QUERIES
    vectors' exact L2 top-TOP_K among its PQ_SHORTLIST least ADC sums,
    from one Arrow batch scan of ``emb`` (vec_id, embedding) with the
    quantizer, the query panel and its tables in the closure.

    With ``cents``, each row is coarse-assigned in the scan and counts
    only for the queries whose IVF_NPROBE probe lists (searched on the
    driver) hold its list. With ``residual``, a row is encoded as its
    residual to its list's centroid against a codebook of the seeds'
    residuals, and each (list, query) pair has its own tables. Each
    batch keeps its shortlist per query with the exact d2; two windows
    over those candidates give the global shortlist and its top-k."""
    ensure_package_on_workers(spark)
    q_ids, q_vecs = pairscore.stack(
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    codebook = seeds(emb)
    if residual:
        at = np.searchsorted(cents.ids, cents.search(codebook)[0][:, 0])
        pq = ProductQuantizer(codebook - cents.vecs[at])
        tables = np.stack([pq.tables(q_vecs - c) for c in cents.vecs])
    else:
        pq = ProductQuantizer(codebook)
        tables = pq.tables(q_vecs)[None]
    if cents is not None:
        probes = cents.search(q_vecs, IVF_NPROBE)[0]

    def scan(batch):
        ids = batch.column("vec_id").to_numpy()
        x = pairscore.matrix(batch.column("embedding"), q_vecs.shape[1])
        exclude = ids[:, None] == q_ids
        at, coded = np.zeros(len(ids), np.int64), x
        if cents is not None:
            lists = cents.search(x)[0][:, 0]
            exclude |= ~(lists[:, None, None] == probes).any(axis=2)
            if residual:
                at = np.searchsorted(cents.ids, lists)
                coded = x - cents.vecs[at]
        row, col, adc = pq.shortlist(
            ids, pq.encode(coded)[0], tables, at, exclude
        )
        return pa.RecordBatch.from_arrays(
            [
                pa.array(q_ids[col]),
                pa.array(ids[row]),
                pa.array(adc),
                pa.array(pairscore.l2_sq(x[row], q_vecs[col])),
            ],
            ["q_id", "vec_id", "adc_fp", "d2"],
        )

    if not len(q_ids):  # no query: nothing to pick
        emb = emb.limit(0)
    cands = emb.mapInArrow(
        lambda batches: map(scan, batches),
        "q_id bigint, vec_id bigint, adc_fp bigint, d2 double",
    )
    ws = Window.partitionBy("q_id").orderBy("adc_fp", "vec_id")
    wd = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    return (
        cands.withColumn("srnk", F.row_number().over(ws))
        .filter(F.col("srnk") <= PQ_SHORTLIST)
        .withColumn("rnk", F.row_number().over(wd))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "q_id", "vec_id", "adc_fp", "d2", F.col("rnk").cast("int").alias("rnk")
        )
    )


def emb_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scan + exact
    refine (faiss's IndexPQ + refine recipe, ``functions/pq.py``): the
    corpus compresses to PQ_M 4-bit sub-codes — 16 bytes instead of 256
    per 64-dim float vector, the 16× memory cut that lets a 100 TB
    embedding corpus live executor-resident — each query scans codes
    via a precomputed per-subspace distance table (PQ_M lookups/vector,
    no float math in the scan), and only the PQ_SHORTLIST quantized
    survivors per query are re-ranked by exact L2 (measured recall@5
    vs exact: 0.84 at sf0.01, on embeddings with no cluster structure —
    PQ's worst case).

    Spark shape (``_pq_search``): one Arrow batch scan encodes each row
    and sums its ADC tables against every query in the closure, keeping
    each batch's per-query shortlist with its exact d2; the corpus is
    never joined or shuffled, and only the |tasks|·|Q|·PQ_SHORTLIST
    candidates reach the two rank windows. Brute-force scan complexity,
    but integer lookups."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _pq_search(spark, emb)


_PQ_ADC_SQL = f"""
WITH queries AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {N_QUERIES}
), {sql_pq_ctes(queries=("queries", "q_emb"))},
{sql_adc_refine(TOP_K)}"""


# ---------------------------------------------------------------------------
# IVF inverted-list balance audit
# ---------------------------------------------------------------------------

BALANCE_FP = 1 << 20  # fixed-point scale for share/imbalance ratios
BALANCE_HOT = 2  # a list above 2× its fair share is flagged hot


def ann_index_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy certificate for the IVF index the ANN family deploys:
    per inverted list, vector count, corpus share, and the imbalance
    factor n·NLIST/total (1.0 = perfectly balanced). This is the audit
    run before trusting an IVF index at scale — a hot list is BOTH the
    straggler (its in-list scan dominates probe latency) and the recall
    risk (queries probing it drown in candidates while starved lists
    contribute none). All ratios are integer fixed-point (BIGINT `div`,
    exact in both engines); the plan is the map-only coarse assignment
    scan (``functions/centroids.py``) followed by a {IVF_NLIST}-cell
    count — nothing corpus-sized shuffles, and the one-row total rides
    the certificate-merge crossJoin."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = Centroids.first(emb, IVF_NLIST)
    assigned = cents.assign(emb).select(F.col("centroid_id").alias("list_id"))
    lists = assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    total = lists.agg(F.sum("n_vectors").alias("total"))
    return lists.crossJoin(F.broadcast(total)).select(
        "list_id",
        "n_vectors",
        F.expr(f"n_vectors * {BALANCE_FP}L div total")
        .cast("bigint")
        .alias("share_fp"),
        F.expr(f"n_vectors * {IVF_NLIST}L * {BALANCE_FP}L div total")
        .cast("bigint")
        .alias("imbalance_fp"),
        (
            F.expr(f"n_vectors * {IVF_NLIST}L * {BALANCE_FP}L div total")
            > BALANCE_HOT * BALANCE_FP
        ).alias("is_hot"),
    )


_INDEX_BALANCE_SQL = f"""
WITH {sql_centroid_ctes(IVF_NLIST)}, lists AS (
  SELECT list_id, COUNT(*) AS n_vectors FROM assigned GROUP BY list_id
), total AS (SELECT SUM(n_vectors) AS total FROM lists)
SELECT list_id, n_vectors,
       CAST(n_vectors * {BALANCE_FP} // total AS BIGINT) AS share_fp,
       CAST(n_vectors * {IVF_NLIST} * {BALANCE_FP} // total AS BIGINT)
         AS imbalance_fp,
       n_vectors * {IVF_NLIST} * {BALANCE_FP} // total
         > {BALANCE_HOT * BALANCE_FP} AS is_hot
FROM lists CROSS JOIN total
"""


# ---------------------------------------------------------------------------
# nprobe tuning curve (recall / candidate cost per probe budget)
# ---------------------------------------------------------------------------

NPROBE_GRID = (1, 2, 4, 8)


def ann_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF nprobe tuning curve as data: aggregate recall@{TOP_K}
    and candidate cost for every probe budget in {NPROBE_GRID}, from
    ONE pass — the recall-vs-latency trade every IVF deployment tunes,
    answered by a query instead of N redeployed runs. Each candidate
    pair is tagged with the probe rank `p` of the list it came from;
    budget v's candidate set is simply p ≤ v, so one scored-pair
    relation (computed at the LARGEST budget) serves every curve point
    via a {len(NPROBE_GRID)}-row broadcast values join, one window per
    (query, budget), and a join against the exact baseline. Corpus-side
    work is the map-only nearest-centroid assign scan
    (``functions/centroids.py``) + broadcast probe join of the
    driver-side probe list — at max(grid) probes — regardless of grid
    size; integer fixed-point recall (n_hit·2²⁰ div k)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = Centroids.first(emb, IVF_NLIST)
    assigned = cents.assign(emb).select(
        "vec_id",
        "embedding",
        F.col("centroid_id").alias("list_id"),
        # per-row norm hoisted below the probe join (round 10,
        # `cosine_with_norms`): folded once per row, not once per pair
        l2_norm("embedding").alias("nrm"),
    )
    probes = _probes(emb, cents, max(NPROBE_GRID))
    pairs = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "p",
            cosine_with_norms("q_emb", "embedding", "q_nrm", "nrm").alias("cos"),
        )
    )
    grid = local_frame(
        spark,
        [(int(v),) for v in NPROBE_GRID], "nprobe int"
    )
    cands = pairs.join(F.broadcast(grid), F.col("p") <= F.col("nprobe"))
    w = Window.partitionBy("q_id", "nprobe").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    topk = cands.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOP_K
    )
    exact = ann_topk_bruteforce(spark, sf_dir).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    )
    hits = topk.join(exact, ["q_id", "vec_id"], "left_outer")
    # round 10 NEGATIVE A/B, kept as-was by measurement: n_candidates
    # below re-references the corpus-sized `cands`, which plans as its
    # own full subtree — but Catalyst's COLUMN PRUNING already strips
    # the cosine from that counting copy (the committed before-plan's
    # count-side Project carried only the centroid assign, no zip_with
    # fold), so the "duplicated pass" costs one assign-only scan, not a
    # second cosine pass. A restructure that derived the
    # counts from 16-row list occupancies (occupancy minus one iff the
    # query's own vector lives in the probed list — same values, no
    # pair relation) measured SLOWER in three independent fresh-session
    # sf60de pairs (old/new warm min: 6.6/12.6, 7.3/8.2, 48.3/59.5 s):
    # it swapped the pruned scan for extra broadcast stages and an
    # exchange. Lesson recorded in OPTIMIZATION_r10.md — check what
    # pruning already removed before deduplicating a subtree.
    return (
        hits.groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).alias("k_total"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("bigint")).alias(
                "n_hits"
            ),
        )
        .join(
            cands.groupBy("nprobe").agg(
                F.count(F.lit(1)).alias("n_candidates")
            ),
            "nprobe",
        )
        .select(
            "nprobe",
            "n_candidates",
            "k_total",
            "n_hits",
            F.expr(f"n_hits * {BALANCE_FP}L div k_total")
            .cast("bigint")
            .alias("recall_fp"),
        )
    )


def _nprobe_curve_sql() -> str:
    grid_rows = ", ".join(f"({v})" for v in NPROBE_GRID)
    ivf = sql_centroid_ctes(
        IVF_NLIST, f"q.vec_id < {N_QUERIES}", max(NPROBE_GRID)
    )
    return f"""
WITH {ivf}, pairs AS (
  SELECT q_id, b.vec_id AS vec_id, p,
         {sql_cosine("q_emb", "b.embedding")} AS cos
  FROM probes JOIN assigned b USING (list_id)
  WHERE b.vec_id <> q_id
), grid(nprobe) AS (VALUES {grid_rows}),
cands AS (
  SELECT q_id, vec_id, cos, nprobe FROM pairs JOIN grid ON p <= nprobe
), topk AS (
  SELECT q_id, vec_id, nprobe FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id, nprobe
                                 ORDER BY cos DESC, vec_id) AS rnk
    FROM cands)
  WHERE rnk <= {TOP_K}
), ex AS ({_ANN_BRUTE_SQL}),
hits AS (
  SELECT t.nprobe, COUNT(*) AS k_total,
         CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits
  FROM topk t LEFT JOIN ex e ON e.q_id = t.q_id AND e.vec_id = t.vec_id
  GROUP BY t.nprobe
), ccount AS (
  SELECT nprobe, COUNT(*) AS n_candidates FROM cands GROUP BY nprobe
)
SELECT h.nprobe, c.n_candidates, h.k_total, h.n_hits,
       CAST(h.n_hits * {BALANCE_FP} // h.k_total AS BIGINT) AS recall_fp
FROM hits h JOIN ccount c ON h.nprobe = c.nprobe
"""


# ---------------------------------------------------------------------------
# incremental IVF maintenance (upsert a new vector batch into the index)
# ---------------------------------------------------------------------------

UPSERT_MOD = 10  # vec_id % 10 == 0 plays the newly-arriving batch


def ann_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — the vector-store upsert loop
    (the ANN analog of ``dedup_incremental``): a newly-arrived batch
    (vec_id % {UPSERT_MOD} == 0 plays it) is coarse-assigned with the
    SAME map-only nearest-centroid search the index was built with
    (``functions/centroids.py``), and
    the operator emits the per-list merge plan: size before, vectors
    added, size after, fixed-point growth, and the rebalance flag
    (n_after above 2× fair share ⇒ that list wants a split / the
    quantizer wants retraining). Only the BATCH is assigned fresh work
    in production — the `n_before` side is the index's stored list
    metadata, recomputed here from the base corpus only because this
    repo's snapshots are the storage layer; either way nothing shuffles
    but {IVF_NLIST}-cell count tables. Integer `div` arithmetic keeps
    every ratio engine-exact."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = Centroids.first(emb, IVF_NLIST)
    assigned = cents.assign(emb).select(
        "vec_id", F.col("centroid_id").alias("list_id")
    )
    is_new = F.col("vec_id") % UPSERT_MOD == 0
    lists = assigned.groupBy("list_id").agg(
        F.sum(F.when(~is_new, 1).otherwise(0)).alias("n_before"),
        F.sum(F.when(is_new, 1).otherwise(0)).alias("n_added"),
    )
    total = lists.agg(
        F.sum(F.col("n_before") + F.col("n_added")).alias("total")
    )
    return lists.crossJoin(F.broadcast(total)).select(
        "list_id",
        "n_before",
        "n_added",
        (F.col("n_before") + F.col("n_added")).alias("n_after"),
        F.expr(
            f"n_added * {BALANCE_FP}L div greatest(n_before, 1L)"
        )
        .cast("bigint")
        .alias("growth_fp"),
        (
            F.expr(
                f"(n_before + n_added) * {IVF_NLIST}L * {BALANCE_FP}L"
                " div total"
            )
            > BALANCE_HOT * BALANCE_FP
        ).alias("needs_rebalance"),
    )


_IVF_UPSERT_SQL = f"""
WITH {sql_centroid_ctes(IVF_NLIST)}, lists AS (
  SELECT list_id,
         CAST(SUM(CASE WHEN vec_id % {UPSERT_MOD} <> 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_before,
         CAST(SUM(CASE WHEN vec_id % {UPSERT_MOD} = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_added
  FROM assigned GROUP BY list_id
), total AS (SELECT SUM(n_before + n_added) AS total FROM lists)
SELECT list_id, n_before, n_added,
       n_before + n_added AS n_after,
       CAST(n_added * {BALANCE_FP} // GREATEST(n_before, 1) AS BIGINT)
         AS growth_fp,
       (n_before + n_added) * {IVF_NLIST} * {BALANCE_FP} // total
         > {BALANCE_HOT * BALANCE_FP} AS needs_rebalance
FROM lists CROSS JOIN total
"""


# ---------------------------------------------------------------------------
# PQ per-subspace residual-energy audit
# ---------------------------------------------------------------------------


def emb_pq_residual_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ quantization-error audit: mean and max
    floor-fixed-point residual d² per subspace, plus each subspace's
    share of the total error — the which-subspaces-need-more-codewords
    decision (a subspace carrying 10× the residual energy is where
    recall leaks; the fix is more bits there or an OPQ rotation). The
    encode's own Arrow batch scan emits each row's PQ_M errors (the
    achieved min-d² of the same search that picks the code), then one
    {PQ_M}-cell aggregate; integer `div` ratios keep the certificate
    engine-exact."""
    ensure_package_on_workers(spark)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pq = ProductQuantizer(seeds(emb))

    def scan(batch):
        errs = pq.encode(pairscore.matrix(batch.column("embedding")))[1]
        return pa.RecordBatch.from_arrays(
            [
                pa.array(np.tile(np.arange(PQ_M, dtype=np.int32), len(errs))),
                pa.array(errs.ravel()),
            ],
            ["s", "err_fp"],
        )

    errs = emb.mapInArrow(
        lambda batches: map(scan, batches), "s int, err_fp bigint"
    )
    # DECIMAL(38,0) accumulators (ADD-only, the q1 recipe): err_fp is
    # up to ~2³⁰·d², so a BIGINT Σ survives ~1 M vectors but the
    # ·2²⁰ share multiply overflowed int64 AT 1.2 M (found by the
    # round-7 sf60 cold suite as an ANSI ARITHMETIC_OVERFLOW crash) —
    # and at the 100 TB design point the Σ itself would too.
    per = errs.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.col("err_fp").cast("decimal(38,0)")).alias("sum_err_fp"),
        F.max("err_fp").alias("max_err_fp"),
    )
    # the total over the PQ_M cells rides a window over them, not a
    # crossJoin of a one-row aggregate
    tot = F.sum("sum_err_fp").over(Window.partitionBy())
    return per.withColumn("tot", tot).select(
        "s",
        "n_vectors",
        F.expr("sum_err_fp div n_vectors").cast("bigint").alias("mean_err_fp"),
        "max_err_fp",
        # greatest(·,1): tot is 0 when every vector reconstructs
        # exactly (all-zero residuals) — Spark div would NULL, DuckDB
        # // would raise; share is 0 there either way. All-integral
        # decimal arithmetic: div truncation == // floor on
        # non-negative operands, engine-exact.
        F.expr(
            f"(sum_err_fp * {BALANCE_FP}) div"
            " greatest(tot, cast(1 as decimal(38,0)))"
        )
        .cast("bigint")
        .alias("err_share_fp"),
    )


_PQ_RESIDUAL_SQL = f"""
WITH {sql_pq_ctes()}, per AS (
  SELECT s, COUNT(*) AS n_vectors, SUM(err_fp) AS sum_err_fp,
         MAX(err_fp) AS max_err_fp
  FROM (SELECT s, CAST(floor(d2 * {PQERR_FP}) AS BIGINT) AS err_fp
        FROM encoded)
  GROUP BY s
), total AS (SELECT SUM(sum_err_fp) AS tot FROM per)
SELECT CAST(s AS INT) AS s, n_vectors,
       CAST(sum_err_fp // n_vectors AS BIGINT) AS mean_err_fp,
       CAST(max_err_fp AS BIGINT) AS max_err_fp,
       CAST(sum_err_fp * {BALANCE_FP} // GREATEST(tot, 1) AS BIGINT)
         AS err_share_fp
FROM per CROSS JOIN total
"""
# oracle note: DuckDB's SUM(BIGINT) already promotes to exact HUGEINT
# (int128) and `//` on integers is exact floor division — the oracle
# never had the int64 overflow, only Spark did. DECIMAL // in DuckDB
# ROUNDS instead of truncating (measured off-by-one at sf0.01), so the
# oracle stays on native integer arithmetic; Spark's decimal `div` is
# BigDecimal divideToIntegralValue — exact truncation, which equals
# floor on these non-negative operands.


# ---------------------------------------------------------------------------
# IVF + PQ: the production ANN composition (coarse pruning × compression)
# ---------------------------------------------------------------------------


def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ ANN — the faiss IVFPQ recipe (shared-codebook variant,
    ``by_residual=false``): the corpus is coarse-assigned to IVF_NLIST
    inverted lists AND PQ-encoded to {PQ_M} 4-bit sub-codes in ONE
    map-only pass (both nearest-codeword searches run in the same Arrow
    batch scan — the corpus never shuffles to get indexed), queries
    probe their {IVF_NPROBE} nearest lists, and the ADC table scan
    counts a row ONLY for the queries that probe its list. That
    composition is the actual production win over the repo's two
    single-technique operators: `emb_pq_adc` scans |corpus|·|Q| code
    rows (compression without pruning), `ann_topk_ivf` re-ranks probed
    lists with full float vectors (pruning without compression) — here
    the scan cost drops to |corpus|·NPROBE/NLIST per query over
    16×-compressed codes, which is what lets a 100 TB corpus answer
    from executor-resident index shards. The {PQ_SHORTLIST}-candidate
    quantized shortlist per query is then re-ranked by exact L2, exactly
    as emb_pq_adc documents. Fixed-point ADC tables keep every score a
    BIGINT (order-independent, engine-portable); shuffles touch only
    the per-query candidate windows."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _pq_search(spark, emb, Centroids.first(emb, IVF_NLIST))


# the probes carry their query's table per probed list, so the scan joins
# codes to tables on the list id, as in the residual variant
_IVFPQ_SQL = f"""
WITH {_IVF_CTES},
{sql_pq_ctes("assigned", queries=("probes", "q_emb"), by_list=True)},
{sql_adc_refine(TOP_K, by_list=True)}"""


def ann_topk_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ with RESIDUAL encoding (faiss ``by_residual=true`` — its
    actual default, and the variant the shared-codebook
    `ann_topk_ivfpq` docstring leaves on the table): the PQ quantizes
    ``v − c_list(v)`` instead of ``v``, so the codebook only has to
    cover the residual ball around each centroid rather than the whole
    embedding space — same code budget, finer effective resolution
    (the classic IVFADC construction from Jégou et al.'s
    product-quantization paper, public). The price is that ADC tables
    become per-(query, probed-list) — ``||(q − c_l) − code||²`` —
    |Q|·NPROBE tables instead of |Q|, still KBs, held in the scan's
    closure.

    Plan shape matches ann_topk_ivfpq: ONE map-only Arrow batch scan
    does coarse assign + residual + PQ encode + probed-list ADC scan
    (the corpus never shuffles to get indexed), then the shortlist and
    top-k windows over the {PQ_SHORTLIST} candidates per query and
    batch. The residual codebook is the first {PQ_K} vectors' residuals,
    computed on the driver in the engines' double arithmetic (a float
    widened to double minus the centroid double), so it holds the
    oracle's doubles bit-for-bit; fixed-point BIGINT ADC scores keep the
    scan order-independent and engine-portable."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _pq_search(
        spark, emb, Centroids.first(emb, IVF_NLIST), residual=True
    )


_SQL_RESID = (
    "list_transform(range(1, 65),"
    " i -> CAST({v}[i] AS DOUBLE) - CAST({c}[i] AS DOUBLE))"
)

_IVFPQ_RESIDUAL_SQL = f"""
WITH {_IVF_CTES}, resid AS (
  SELECT e.vec_id, a.list_id,
         {_SQL_RESID.format(v="e.embedding", c="c.c_emb")} AS r
  FROM embeddings e
  JOIN assigned a ON a.vec_id = e.vec_id
  JOIN cent c ON c.centroid_id = a.list_id
), qres AS (
  SELECT p.q_id, p.list_id,
         {_SQL_RESID.format(v="q.embedding", c="c.c_emb")} AS r
  FROM probes p
  JOIN embeddings q ON q.vec_id = p.q_id
  JOIN cent c ON c.centroid_id = p.list_id
), {sql_pq_ctes("resid", "r", queries=("qres", "r"), by_list=True)},
{sql_adc_refine(TOP_K, by_list=True)}"""


def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the production IVF+PQ path vs the exact
    answer — the query-set counterpart of ann_knn_graph_recall
    (round 9), closing the PQ family's pricing: cost curves live in
    SCALING.md, and THIS entry makes the quality side
    oracle-gated data that re-prices automatically if NLIST/NPROBE/
    PQ_M or the shortlist ever change. The exact side ranks by the
    same metric the IVFPQ refine step uses (L2, ties by neighbor id),
    NOT cosine — recall against a different metric would
    under-report. Losses decompose into the two knobs the plan
    exposes: coarse pruning (true neighbor outside the {IVF_NPROBE}
    probed lists) and quantized shortlisting (inside a probed list
    but ADC-ranked below the {PQ_SHORTLIST}-candidate shortlist).
    Same recall-report shape as ann_recall_audit (q_id, k, n_hit,
    recall); the exact pass is the query panel's Arrow batch scan
    (``_panel_topk`` under the L2 fold, least first) plus a top-{TOP_K}
    window over the per-batch candidates — one brute-force scan at any
    SF, by design."""
    approx = ann_topk_ivfpq(spark, sf_dir).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    scored = _panel_topk(
        spark, emb, TOP_K, _l2, "vec_id bigint, d2 double", ascending=True
    )
    w = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "vec_id")
    )
    return (
        exact.join(approx, ["q_id", "vec_id"], "left_outer")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("bigint")).alias(
                "n_hit"
            ),
        )
        .select(
            "q_id",
            "k",
            "n_hit",
            (
                F.col("n_hit").cast("double") / F.col("k").cast("double")
            ).alias("recall"),
        )
    )


_IVFPQ_RECALL_SQL = f"""
WITH ap AS ({_IVFPQ_SQL}),
exq AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {N_QUERIES}
),
ex AS (
  SELECT q_id, vec_id
  FROM (SELECT q_id, b.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q_id
                 ORDER BY {sql_l2_sq("q_emb", "b.embedding")},
                          b.vec_id) AS rn
        FROM exq JOIN embeddings b ON b.vec_id <> q_id)
  WHERE rn <= {TOP_K}
)
SELECT ex.q_id, COUNT(*) AS k,
       CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM ex LEFT JOIN ap ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id
GROUP BY ex.q_id
"""


TRUNC_DIMS = 32


def emb_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: how much top-k retrieval
    quality survives if the index stores only the first TRUNC_DIMS of
    each embedding (a 2× index-size/bandwidth cut — the question every
    MRL-trained embedding deployment asks before truncating). Per
    query: overlap between the exact full-dim top-5 and the
    truncated-dim top-5, two windows over the union of each batch's two
    top-k sets (``_panel_topk``; the truncated cosine is the same fold
    read at TRUNC_DIMS). Offline-audit cost profile — the same |Q|·N
    scan as the brute-force baseline, run once per candidate dim."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def score(batch, x, panel):
        cf, ct = pairscore.cosines(x, panel, (None, TRUNC_DIMS))
        return {"cf": cf, "ct": ct}

    scored = _panel_topk(
        spark, emb, TOP_K, score, "vec_id bigint, cf double, ct double"
    )
    return _overlap(scored, "cf", "ct")


def _overlap(scored: DataFrame, a: str, b: str, **aggs) -> DataFrame:
    """Per query: how many candidates are in both its top-TOP_K by ``a``
    and its top-TOP_K by ``b`` (each descending, then ``vec_id``), from
    two windows over ``scored``, plus the named ``aggs`` over its columns
    and the ``in_<a>`` flag."""
    for c in (a, b):
        w = Window.partitionBy("q_id").orderBy(F.desc(c), F.asc("vec_id"))
        scored = scored.withColumn(f"in_{c}", F.row_number().over(w) <= TOP_K)
    both = (F.col(f"in_{a}") & F.col(f"in_{b}")).cast("long")
    return (
        scored.groupBy("q_id")
        .agg(
            F.sum(both).alias("n_overlap"),
            *[v.alias(k) for k, v in aggs.items()],
        )
        .select(
            "q_id",
            F.lit(TOP_K).alias("k"),
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.lit(float(TOP_K))).alias(
                "overlap_frac"
            ),
            *aggs,
        )
    )


_TRUNC_AUDIT_SQL = f"""
WITH queries AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, b.vec_id AS vec_id,
         {sql_cosine("q_emb", "b.embedding")} AS cf,
         {sql_cosine(f"q_emb[1:{TRUNC_DIMS}]", f"b.embedding[1:{TRUNC_DIMS}]")} AS ct
  FROM queries JOIN embeddings b ON b.vec_id <> q_id
), ranked AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cf DESC, vec_id) AS rf,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ct DESC, vec_id) AS rt
  FROM scored
)
SELECT q_id, {TOP_K} AS k,
       CAST(SUM(CASE WHEN rf <= {TOP_K} AND rt <= {TOP_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN rf <= {TOP_K} AND rt <= {TOP_K} THEN 1 ELSE 0 END)
            AS DOUBLE) / {float(TOP_K)} AS overlap_frac
FROM ranked GROUP BY q_id
"""


# ---------------------------------------------------------------------------
# k-NN label classification over the corpus graph
# ---------------------------------------------------------------------------


def emb_label_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification — the standard label-transfer /
    label-noise audit for embedding corpora (does a vector's
    neighborhood agree with its own label?): every vector is classified
    by the majority label of its `ann_knn_graph` top-{KNN_GRAPH_K}
    neighbors (ties → smaller label, deterministic) and the per-label
    accuracy lands as a 10-row certificate. High-disagreement labels
    mark annotation noise or genuinely overlapping classes — the
    relabel/merge decision as data.

    Scale: inherits the knn graph's occupancy-capped build; after it,
    everything is edge-list-sized — one (dst, label) join, one
    (src, nlabel) count, one |labels|-row summary. The corpus embedding
    payload is never touched again."""
    from blog_snapshotbackup_azuredatalake_spark.operators.graph import (
        knn_edges_cached,
    )

    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label")
    )
    knn = knn_edges_cached(spark, sf_dir)
    votes = knn.join(
        labels.select(
            F.col("vec_id").alias("dst"), F.col("label").alias("nlabel")
        ),
        "dst",
    )
    counts = votes.groupBy("src", "nlabel").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wv = Window.partitionBy("src").orderBy(F.desc("cnt"), F.asc("nlabel"))
    pred = (
        counts.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("src", F.col("nlabel").alias("predicted"))
    )
    joined = pred.join(
        labels.select(
            F.col("vec_id").alias("src"), F.col("label").alias("true_label")
        ),
        "src",
    )
    return (
        joined.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                (F.col("predicted") == F.col("true_label")).cast("long")
            ).alias("n_correct"),
        )
        .select(
            "true_label",
            "n_vectors",
            "n_correct",
            (
                F.col("n_correct").cast("double") / F.col("n_vectors")
            ).alias("accuracy"),
        )
    )


_KNN_CLASSIFY_SQL = f"""
WITH knn AS ({_ANN_KNN_GRAPH_SQL}),
labels AS (SELECT vec_id, CAST(label AS INT) AS label FROM embeddings),
votes AS (
  SELECT k.src, e.label AS nlabel
  FROM knn k JOIN labels e ON e.vec_id = k.dst
),
counts AS (SELECT src, nlabel, COUNT(*) AS cnt FROM votes
           GROUP BY src, nlabel),
pred AS (
  SELECT src, nlabel AS predicted
  FROM (SELECT src, nlabel,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY cnt DESC, nlabel) AS rn
        FROM counts)
  WHERE rn = 1
),
joined AS (
  SELECT e.label AS true_label, p.predicted
  FROM pred p JOIN labels e ON e.vec_id = p.src
)
SELECT true_label, COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
            AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS accuracy
FROM joined GROUP BY true_label
"""


# ---------------------------------------------------------------------------
# 1-bit (binary sign) quantization audit
# ---------------------------------------------------------------------------

_HAM_HALF = 32  # the oracle packs 64 sign bits as two 32-bit halves in
# BIGINTs: a shift by 63 reaches the sign bit; two halves keep every
# shift in safe range and cost one extra bit_count


def _pack_bits_sql(col: str, lo_bit: int) -> str:
    """DuckDB: pack {_HAM_HALF} sign bits of ``col`` starting at ``lo_bit``
    into one BIGINT (bit i set iff dim lo_bit+i >= 0, NaN included) —
    list_sum widens to HUGEINT, so cast back (SURVEY §4). The Spark side
    counts the same bits in numpy (``pairscore.sign_hamming``)."""
    return (
        f"CAST(list_sum(list_transform(range(0, {_HAM_HALF}), i -> "
        f"CASE WHEN {col}[i + {lo_bit + 1}] >= 0 "
        f"THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT)"
    )


def emb_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit-per-dim) quantization audit — the 32× compression
    point beyond PQ's 16× (`emb_pq_adc`): each 64-dim float32 vector
    collapses to 64 SIGN BITS, and candidate ranking becomes the count
    of differing bits — pure integer work, the cheapest possible scan
    kernel. Per query: overlap between the exact top-{TOP_K} by cosine
    and the top-{TOP_K} by Hamming distance, both picked in ONE Arrow
    batch scan (``_panel_topk``, ranking by the negated count) and ranked
    by two windows over the candidates (the `emb_truncation_audit`
    shape), so the keep-how-many-bits decision is oracle-gated data. At
    index time the bits are what you'd materialize — 8 bytes/vector."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bits = 2 * _HAM_HALF

    def score(batch, x, panel):
        ham = pairscore.sign_hamming(x[:, :bits], panel[:, :bits])
        return {"cos": pairscore.cosines(x, panel)[0], "nham": -ham}

    scored = _panel_topk(
        spark, emb, TOP_K, score, "vec_id bigint, cos double, nham bigint"
    )
    ham = F.when(F.col("in_cos"), -F.col("nham"))
    return _overlap(
        scored, "cos", "nham", min_ham_of_true=F.min(ham).cast("int")
    )


_BINARY_HAMMING_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding,
         {_pack_bits_sql("embedding", 0)} AS b_lo,
         {_pack_bits_sql("embedding", _HAM_HALF)} AS b_hi
  FROM embeddings
), queries AS (
  SELECT vec_id AS q_id, embedding AS q_emb, b_lo AS q_lo, b_hi AS q_hi
  FROM emb WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q_id, b.vec_id AS vec_id,
         {sql_cosine("q_emb", "b.embedding")} AS cos,
         bit_count(xor(b.b_lo, q_lo)) + bit_count(xor(b.b_hi, q_hi)) AS ham
  FROM queries JOIN emb b ON b.vec_id <> q_id
), ranked AS (
  SELECT q_id, vec_id, ham,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rc,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ham ASC, vec_id) AS rh
  FROM scored
)
SELECT q_id, {TOP_K} AS k,
       CAST(SUM(CASE WHEN rc <= {TOP_K} AND rh <= {TOP_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN rc <= {TOP_K} AND rh <= {TOP_K} THEN 1 ELSE 0 END)
            AS BIGINT) / CAST({TOP_K} AS DOUBLE) AS overlap_frac,
       CAST(MIN(CASE WHEN rc <= {TOP_K} THEN ham END) AS INT)
         AS min_ham_of_true
FROM ranked GROUP BY q_id
"""


# ---------------------------------------------------------------------------
# int8 scalar quantization audit
# ---------------------------------------------------------------------------

SQ8_DIMS = 64


def emb_quantize_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit — the 4× compression point
    completing the shipped family (PQ 16×: `emb_pq_adc`; binary 32×:
    `emb_binary_hamming`): each dim is affinely mapped to [0, 255] by
    per-dim corpus min/max (the faiss ScalarQuantizer QT_8bit recipe),
    and retrieval quality is measured as per-query overlap of the exact
    cosine top-{TOP_K} vs the top-{TOP_K} against RECONSTRUCTED corpus
    vectors (queries stay full-precision — the standard asymmetric
    setup). Per-dim stats are a {SQ8_DIMS}-cell aggregate collected to
    the driver (bounded by construction — the centroid-literal pattern)
    and ride into the scan as literals, so quantize+reconstruct is
    MAP-ONLY; the oracle recomputes identical stats from the data. One
    Arrow batch scan (``_panel_topk``) scores both the exact and the
    reconstructed vectors against the panel, and two windows over the
    per-batch candidates pick the two top-{TOP_K} sets."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    stats = sorted(
        emb.select(
            F.posexplode("embedding").alias("i", "x")
        )
        .groupBy("i")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .collect(),
        key=lambda r: r["i"],
    )
    mn_lit = F.array(*[F.lit(float(r["mn"])) for r in stats])
    mx_lit = F.array(*[F.lit(float(r["mx"])) for r in stats])

    def _recon(i: F.Column) -> F.Column:
        x = F.element_at(F.col("embedding"), i).cast("double")
        mn = F.element_at(F.col("mn_arr"), i)
        mx = F.element_at(F.col("mx_arr"), i)
        q = F.floor((x - mn) * 255 / (mx - mn) + 0.5)
        return F.when(mx == mn, mn).otherwise(mn + q * (mx - mn) / 255.0)

    recon = emb.withColumn("mn_arr", mn_lit).withColumn(
        "mx_arr", mx_lit
    ).select(
        "vec_id",
        "embedding",
        F.transform(
            F.sequence(F.lit(1), F.lit(len(stats))), _recon
        ).alias("rembedding"),
    )

    def score(batch, x, panel):
        r = pairscore.matrix(batch.column("rembedding"), panel.shape[1])
        return {
            "cx": pairscore.cosines(x, panel)[0],
            "cr": pairscore.cosines(r, panel)[0],
        }

    scored = _panel_topk(
        spark, recon, TOP_K, score, "vec_id bigint, cx double, cr double"
    )
    return _overlap(scored, "cx", "cr")


_SQ8_SQL = f"""
WITH dims AS (
  SELECT i, MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
         MAX(CAST(embedding[i] AS DOUBLE)) AS mx
  FROM embeddings, range(1, {SQ8_DIMS + 1}) t(i)
  GROUP BY i
),
cells AS (
  SELECT vec_id, i,
         CASE WHEN mx = mn THEN mn
              ELSE mn + floor((CAST(embedding[i] AS DOUBLE) - mn) * 255
                              / (mx - mn) + 0.5) * (mx - mn) / 255.0
         END AS r
  FROM embeddings JOIN dims ON TRUE
),
recon AS (
  SELECT vec_id, list(r ORDER BY i) AS rembedding
  FROM cells GROUP BY vec_id
),
queries AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q_id, b.vec_id AS vec_id,
         {sql_cosine("q_emb", "b.embedding")} AS cx,
         {sql_cosine("q_emb", "r.rembedding")} AS cr
  FROM queries
  JOIN embeddings b ON b.vec_id <> q_id
  JOIN recon r ON r.vec_id = b.vec_id
),
ranked AS (
  SELECT q_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cx DESC, vec_id) AS rx,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cr DESC, vec_id) AS rr
  FROM scored
)
SELECT q_id, {TOP_K} AS k,
       CAST(SUM(CASE WHEN rx <= {TOP_K} AND rr <= {TOP_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN rx <= {TOP_K} AND rr <= {TOP_K} THEN 1 ELSE 0 END)
            AS BIGINT) / CAST({TOP_K} AS DOUBLE) AS overlap_frac
FROM ranked GROUP BY q_id
"""


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall certificate for the scale ANN path: how many of
    the exact brute-force top-{TOP_K} the map-only IVF search actually
    returned — recall@{TOP_K} as DATA, per query, driver-checked. This
    promotes the repo's headline ANN quality claim (recall ≈ 0.87 at
    sf0.1, scripts/ann_quality.py) from a script readout to an
    oracle-gated operator: both sides are the deployed operators
    themselves, joined on (q_id, vec_id). Cost is the two searches plus
    a query-set-sized join — the brute-force side is the labeled audit
    companion, one corpus scan against the small query panel."""
    exact = ann_topk_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    approx = ann_topk_ivf(spark, sf_dir).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["q_id", "vec_id"], "left_outer")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("bigint")).alias(
                "n_hit"
            ),
        )
        .select(
            "q_id",
            "k",
            "n_hit",
            (
                F.col("n_hit").cast("double") / F.col("k").cast("double")
            ).alias("recall"),
        )
    )


_ANN_RECALL_SQL = f"""
WITH ex AS ({_ANN_BRUTE_SQL}),
ap AS ({_ANN_IVF_SQL})
SELECT ex.q_id, COUNT(*) AS k,
       CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id
GROUP BY ex.q_id
"""


# ---------------------------------------------------------------------------
# cosine range search (all neighbors above a similarity floor)
# ---------------------------------------------------------------------------

RANGE_TAU = 0.3  # data-informed: the driver corpus is near-orthogonal
# random vectors (max query cosine ≈ 0.5); with planted-dup embeddings
# the same plan runs at 0.9+


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range query over the embedding space: EVERY corpus vector with
    cosine ≥ {RANGE_TAU} to each query — the retrieval shape where the
    answer size is data-dependent (near-dup sweeps, wiki-linking,
    dedup-by-query), versus top-k's fixed k. Candidates come from the
    same multi-probe sign-LSH blocking as ``ann_topk_lsh`` (own bucket
    + Hamming-1 probes, query side broadcast, corpus scanned in place),
    then the exact cosine filter keeps qualifying pairs. The oracle
    mirrors the blocking, so recall is part of the verified contract,
    not a hidden property — same policy as dedup_embedding. A missing
    candidate is a τ-close vector that disagrees on ≥2 hyperplane
    signs — rarer the higher the cosine, because similar vectors agree
    on most signs (the LSH guarantee)."""
    # PARTIAL norm hoist — same selective-bucket-join argument as
    # ann_topk_lsh (the full corpus-side hoist regressed there; see
    # that entry's comment): q_nrm rides the probe side, the corpus
    # norm stays inline on matched pairs only.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        sign_bucket(F.col("embedding"), LSH_DIMS).alias("bucket"),
    )
    base_q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        "bucket",
        l2_norm("embedding").alias("q_nrm"),
    )
    flip = F.expr(
        "CASE WHEN i = 0 THEN bucket ELSE concat(substring(bucket, 1, i - 1),"
        " CASE WHEN substring(bucket, i, 1) = '1' THEN '0' ELSE '1' END,"
        f" substring(bucket, i + 1, {LSH_DIMS})) END"
    )
    queries = base_q.select(
        "q_id",
        "q_emb",
        "q_nrm",
        "bucket",
        F.explode_outer(F.sequence(F.lit(0), F.lit(LSH_DIMS))).alias("i"),
    ).select("q_id", "q_emb", "q_nrm", flip.alias("bucket"))
    return (
        emb.join(F.broadcast(queries), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_with_norms(
                "q_emb", "embedding", "q_nrm", l2_norm("embedding")
            ).alias("cos"),
        )
        # round 10: `.distinct()` removed — same no-op-dedup argument
        # as ann_topk_lsh (one bucket per vector, pairwise-distinct
        # probe buckets per query ⇒ no (q_id, vec_id) dup can exist;
        # tests/test_lsh_probe_uniqueness.py). The entry is now
        # map-only end to end: broadcast probe join + filter, ZERO
        # exchanges of the corpus-sized scored relation (guide §2.4).
        .filter(F.col("cos") >= RANGE_TAU)
    )


_ANN_RANGE_SQL = f"""
WITH emb AS (
  SELECT vec_id, embedding, {sql_sign_bucket(LSH_DIMS)} AS bucket FROM embeddings
), base_q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM emb
  WHERE vec_id < {N_QUERIES}
), queries AS (
  SELECT q_id, q_emb,
         CASE WHEN i = 0 THEN bucket
              ELSE substr(bucket, 1, CAST(i - 1 AS INT))
                   || (CASE WHEN substr(bucket, CAST(i AS INT), 1) = '1'
                            THEN '0' ELSE '1' END)
                   || substr(bucket, CAST(i + 1 AS INT), {LSH_DIMS})
         END AS bucket
  FROM base_q, range(0, {LSH_DIMS + 1}) t(i)
), pairs AS (
  SELECT DISTINCT q_id, b.vec_id AS vec_id, {sql_cosine("q_emb", "b.embedding")} AS cos
  FROM queries JOIN emb b USING (bucket)
  WHERE b.vec_id <> q_id
)
SELECT q_id, vec_id, cos FROM pairs WHERE cos >= {RANGE_TAU}
"""


# ---------------------------------------------------------------------------
# MMR diversified retrieval
# ---------------------------------------------------------------------------

MMR_SHORTLIST = 16
MMR_K = 5
MMR_LAMBDA = 0.7


def _mmr_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-query candidate shortlist for MMR: a rank window over
    the per-batch candidates of ``_panel_topk``, each with its
    embedding. Factored out so the test can replay the greedy loop in
    pure Python on the SAME Spark-computed relevance values."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cands = _panel_topk(
        spark,
        emb,
        MMR_SHORTLIST,
        lambda batch, x, panel: {"rel": pairscore.cosines(x, panel)[0]},
        "vec_id bigint, embedding array<float>, rel double",
        carry=("vec_id", "embedding"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("rel").desc(), F.col("vec_id"))
    return cands.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= MMR_SHORTLIST
    )


def emb_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k: after exact
    retrieval of a {MMR_SHORTLIST}-candidate shortlist per query, pick
    {MMR_K} results greedily maximizing λ·sim(q,d) − (1−λ)·max
    sim(d, already-picked) — the standard redundancy-suppressing
    re-rank for retrieval-augmented training-data selection (don't
    feed the model 5 copies of the same paragraph). The greedy loop is
    inherently sequential, but only WITHIN a query over ≤{MMR_SHORTLIST}
    rows — so it runs as applyInPandas per q_id group (Arrow-batched,
    bounded memory per group by construction) after the exact
    shortlist (``_mmr_shortlist``). Rows-only entry:
    the greedy argmax over numpy doubles is not expressible as one SQL
    fold; the pytest reimplements MMR in pure Python on the
    oracle-verified brute-force shortlist and the outputs must agree
    exactly."""
    shortlist = _mmr_shortlist(spark, sf_dir)

    lam = MMR_LAMBDA

    def mmr(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["rel", "vec_id"], ascending=[False, True])
        ids = pdf["vec_id"].to_numpy()
        rel = pdf["rel"].to_numpy()
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T  # shortlist × shortlist, ≤ 16×16
        chosen: list[int] = []
        penalties: list[float] = []
        avail = list(range(len(ids)))
        for _ in range(min(MMR_K, len(ids))):
            best, best_score, best_pen = None, None, 0.0
            for i in avail:
                pen = max((sims[i, j] for j in chosen), default=0.0)
                score = lam * rel[i] - (1.0 - lam) * pen
                # deterministic: strict improvement, ties to smaller id
                if best is None or score > best_score or (
                    score == best_score and ids[i] < ids[best]
                ):
                    best, best_score, best_pen = i, score, pen
            chosen.append(best)
            penalties.append(best_pen)
            avail.remove(best)
        return pd.DataFrame(
            {
                "q_id": pdf["q_id"].iloc[:1].repeat(len(chosen)).to_numpy(),
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
                "vec_id": ids[chosen],
                "relevance": rel[chosen],
                "diversity_penalty": np.array(penalties),
            }
        )

    return shortlist.groupBy("q_id").applyInPandas(
        mmr,
        "q_id long, mmr_rank int, vec_id long, relevance double,"
        " diversity_penalty double",
    )


HARD_NEG_K = 5


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each of the
    first {N_QUERIES} query vectors, the {HARD_NEG_K} most-similar
    vectors with a DIFFERENT label (the negatives a triplet loss
    learns most from), plus the query's best same-label positive and
    the triplet margin (cos_pos − cos_neg; negative margin ⇒ the
    negative out-scores every positive — a label-noise signal).

    Plan: one Arrow batch scan of the corpus against the collected
    20-query panel (``_panel_topk``, map-only, linear) picks each query's
    top-k per batch among same-label and among other-label rows; one
    window over those candidates ranks both, its rank-1 positive being
    the best positive. The margin is a subtraction of
    identically-computed doubles, so it is bit-portable across engines
    (SURVEY §4). At 100 TB the scorer
    swaps to the IVF shortlist exactly as ann_recall_audit composes
    it; the contract (per-query top-k with label exclusion) is
    unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    pairs = _panel_topk(
        spark,
        emb,
        HARD_NEG_K,
        _cosine,
        "q_label double, vec_id bigint, label int, cos double",
        carry=("vec_id", "label"),
        split="label",
    )
    # one window partitioned by (q_id, is_pos) ranks positives and
    # negatives — rank-1 positive cos IS max(cos) over positives (same
    # desc order, ties only tie on cos); the barrier lets both sides
    # read the survivors without a second Python scan
    w2 = Window.partitionBy(
        "q_id", F.col("label") == F.col("q_label")
    ).orderBy(F.col("cos").desc(), F.col("vec_id"))
    survivors = (
        pairs.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= HARD_NEG_K)
        .localCheckpoint(eager=False)
    )
    pos = (
        survivors.filter(
            (F.col("label") == F.col("q_label")) & (F.col("rnk") == 1)
        )
        .select("q_id", F.col("cos").alias("cos_pos"))
    )
    negs = survivors.filter(F.col("label") != F.col("q_label"))
    return negs.join(pos, "q_id", "left").select(
        "q_id",
        F.col("vec_id").alias("neg_id"),
        F.col("cos").alias("cos_neg"),
        F.col("rnk").cast("int").alias("rnk"),
        "cos_pos",
        (F.col("cos_pos") - F.col("cos")).alias("margin"),
    )


_HARD_NEG_SQL = f"""
WITH queries AS (
  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
  FROM embeddings WHERE vec_id < {N_QUERIES}
), pairs AS (
  SELECT q_id, q_label, b.vec_id AS vec_id, b.label AS label,
         {sql_cosine("q_emb", "b.embedding")} AS cos
  FROM queries JOIN embeddings b ON b.vec_id <> q_id
), pos AS (
  SELECT q_id, MAX(cos) AS cos_pos FROM pairs
  WHERE label = q_label GROUP BY q_id
), negs AS (
  SELECT q_id, vec_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY cos DESC, vec_id) AS INT)
           AS rnk
  FROM pairs WHERE label <> q_label
  QUALIFY rnk <= {HARD_NEG_K}
)
SELECT n.q_id, n.vec_id AS neg_id, n.cos AS cos_neg, n.rnk,
       p.cos_pos, p.cos_pos - n.cos AS margin
FROM negs n LEFT JOIN pos p USING (q_id)
"""


# ---------------------------------------------------------------------------
# random-pair cosine calibration (SemDeDup / dedup threshold grounding)
# ---------------------------------------------------------------------------

CAL_PAIR_MOD = 4  # hash gate: expected 1/4 of vectors enter the sample
CAL_PAIR_CAP = 1024  # hard cap on sampled vectors (512 pairs)
CAL_COS_BUCKETS = 20  # histogram over [-1, 1] in 0.1 steps


def emb_pair_cosine_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-distribution calibration for every cosine threshold in the
    repo (SemDeDup is_dup, ann_range_search radius, knn edges): cosine
    of ~{CAL_PAIR_CAP}/2 pseudo-random vector pairs, histogrammed over
    [-1, 1] in {CAL_COS_BUCKETS} buckets. A threshold is meaningful
    only relative to this background mass — if τ=0.92 sits above the
    histogram's support, near-dup hits at 0.92 are signal, not chance.

    Sampling is the audit-scale pattern of dedup_anchor_calibration:
    a stateless md5 gate (keeps ~1/{CAL_PAIR_MOD} of vectors, pure map
    filter, pushdown-friendly) followed by a HARD cap of
    {CAL_PAIR_CAP} — the only global sort ever sees the gated sample
    and the window is bounded by the cap, so cost is O(1) in corpus
    size at any SF. Pairing is lead() over the capped md5 order
    (consecutive ranks — md5 order decorrelates ids, so pairs are
    effectively random); cosine is the shared bit-identical double
    fold (`cosine_similarity` ↔ `sql_cosine`)."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    gated = vecs.filter(
        hash60(F.md5(F.col("vec_id").cast("string"))) % CAL_PAIR_MOD == 0
    ).select(
        "vec_id",
        "embedding",
        F.md5(F.col("vec_id").cast("string")).alias("h"),
    )
    # round 10: the partition-less cap window ranked the whole
    # md5-gated sample — corpus/CAL_PAIR_MOD rows CARRYING THE
    # EMBEDDING ARRAYS — in ONE task (k = 1024 > the rank-limit
    # pushdown threshold, so no WindowGroupLimit). Restructured as
    # orderBy+limit on the NARROW (vec_id, h) projection — planned as
    # TakeOrderedAndProject: each map task keeps its local top-1024,
    # no full exchange, and no array ever enters a sort — then the
    # ≤ CAL_PAIR_CAP picked ids broadcast-join their embeddings back.
    # (A salted two_phase_rank here was measured SLOWER at sf60de,
    # 2.4 → 7.4 s: it shipped the arrays through two exchanges.)
    # The pairing windows below stay global but run over
    # ≤ CAL_PAIR_CAP rows — bounded by constant, fine.
    picked = (
        gated.select("vec_id", "h")
        .orderBy("h", "vec_id")
        .limit(CAL_PAIR_CAP)
        .withColumn(
            "rn", F.row_number().over(Window.orderBy("h", "vec_id"))
        )
        .select("vec_id", "rn")
    )
    sample = (
        F.broadcast(picked)
        .join(vecs, "vec_id")
        .select("vec_id", "embedding", "rn")
    )
    paired = sample.select(
        "rn",
        "vec_id",
        "embedding",
        F.lead("vec_id").over(Window.orderBy("rn")).alias("b_id"),
        F.lead("embedding").over(Window.orderBy("rn")).alias("b_emb"),
    ).filter((F.col("rn") % 2 == 1) & F.col("b_id").isNotNull())
    cos = cosine_similarity(F.col("embedding"), F.col("b_emb"))
    bucketed = paired.select(
        F.least(
            F.floor((cos + 1.0) / 0.1).cast("int"),
            F.lit(CAL_COS_BUCKETS - 1),
        ).alias("bucket")
    )
    return (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bucket",
            (F.col("bucket") * 0.1 - 1.0).alias("cos_lo"),
            "n_pairs",
        )
    )


_CAL_PAIR_SQL = f"""
WITH gated AS (
  SELECT vec_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS h
  FROM embeddings
  WHERE {sql_md5_int60("CAST(vec_id AS VARCHAR)")} % {CAL_PAIR_MOD} = 0
), sample AS (
  SELECT vec_id, embedding,
         ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn
  FROM gated
  QUALIFY rn <= {CAL_PAIR_CAP}
), paired AS (
  SELECT rn, embedding AS a_emb,
         LEAD(vec_id) OVER (ORDER BY rn) AS b_id,
         LEAD(embedding) OVER (ORDER BY rn) AS b_emb
  FROM sample
  QUALIFY rn % 2 = 1 AND b_id IS NOT NULL
), buckets AS (
  SELECT LEAST(CAST(FLOOR(({sql_cosine("a_emb", "b_emb")} + 1.0) / 0.1)
                    AS INT), {CAL_COS_BUCKETS - 1}) AS bucket
  FROM paired
)
SELECT bucket, bucket * 0.1e0 - 1.0e0 AS cos_lo,
       COUNT(*) AS n_pairs
FROM buckets GROUP BY bucket
"""


def _ann_knn_graph_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for ann_knn_graph, served from the session graph
    cache: the LSH-bucketed self-join build is the priciest substrate
    in the family (66 s of the round-7 sf10 suite) and
    emb_label_knn_classify / graph_pagerank / graph_link_predict /
    graph_clustering_coefficient all consume it — one materialization,
    many riders (the dedup-substrate recipe)."""
    from blog_snapshotbackup_azuredatalake_spark.operators.graph import (
        knn_graph_cached,
    )

    return knn_graph_cached(spark, sf_dir)


QUERIES = {
    "emb_hard_negatives": emb_hard_negatives,
    "emb_pair_cosine_calibration": emb_pair_cosine_calibration,
    "ann_hybrid_rrf": ann_hybrid_rrf,
    "ann_range_search": ann_range_search,
    "emb_label_knn_classify": emb_label_knn_classify,
    "emb_binary_hamming": emb_binary_hamming,
    "emb_quantize_sq8": emb_quantize_sq8,
    "ann_filtered_search": ann_filtered_search,
    "emb_mmr_diversify": emb_mmr_diversify,
    "ann_recall_audit": ann_recall_audit,
    "emb_truncation_audit": emb_truncation_audit,
    "emb_pq_adc": emb_pq_adc,
    "ann_topk_ivfpq": ann_topk_ivfpq,
    "ann_topk_ivfpq_residual": ann_topk_ivfpq_residual,
    "ann_ivfpq_recall": ann_ivfpq_recall,
    "ann_index_balance": ann_index_balance,
    "ann_ivf_upsert": ann_ivf_upsert,
    "emb_pq_residual_audit": emb_pq_residual_audit,
    "ann_nprobe_curve": ann_nprobe_curve,
    "ann_knn_graph": _ann_knn_graph_cached,
    "ann_knn_graph_recall": ann_knn_graph_recall,
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "ann_topk_lsh": ann_topk_lsh,
    "ann_topk_ivf": ann_topk_ivf,
    "ann_topk_ivf_trained": ann_topk_ivf_trained,
}

ORACLES = {
    "emb_hard_negatives": _HARD_NEG_SQL,
    "emb_pair_cosine_calibration": _CAL_PAIR_SQL,
    "ann_hybrid_rrf": _hybrid_rrf_sql(),
    "ann_range_search": _ANN_RANGE_SQL,
    "emb_label_knn_classify": _KNN_CLASSIFY_SQL,
    "emb_binary_hamming": _BINARY_HAMMING_SQL,
    "emb_quantize_sq8": _SQ8_SQL,
    "ann_filtered_search": _ANN_FILTERED_SQL,
    # emb_mmr_diversify: rows-only — greedy numpy argmax ≠ SQL fold
    "ann_recall_audit": _ANN_RECALL_SQL,
    "emb_truncation_audit": _TRUNC_AUDIT_SQL,
    "emb_pq_adc": _PQ_ADC_SQL,
    "ann_topk_ivfpq": _IVFPQ_SQL,
    "ann_topk_ivfpq_residual": _IVFPQ_RESIDUAL_SQL,
    "ann_ivfpq_recall": _IVFPQ_RECALL_SQL,
    "ann_index_balance": _INDEX_BALANCE_SQL,
    "ann_ivf_upsert": _IVF_UPSERT_SQL,
    "emb_pq_residual_audit": _PQ_RESIDUAL_SQL,
    "ann_nprobe_curve": _nprobe_curve_sql(),
    "ann_knn_graph": _ANN_KNN_GRAPH_SQL,
    "ann_knn_graph_recall": _ANN_KNN_RECALL_SQL,
    "ann_topk_bruteforce": _ANN_BRUTE_SQL,
    "ann_topk_lsh": _ANN_LSH_SQL,
    "ann_topk_ivf": _ANN_IVF_SQL,
}
