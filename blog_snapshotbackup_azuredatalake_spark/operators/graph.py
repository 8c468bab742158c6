"""Duplicate-cluster graph operators (SURVEY.md §2C adjunct).

Pair-finding (minhash/simhash/ngram) emits EDGES; a curation pipeline
needs CLUSTERS — "these 7 docs are all the same article, keep exactly
one". That grouping is connected components over the near-dup pair
graph, with the canonical doc = min doc_id per component.

Spark-first shape: iterative min-label propagation entirely in
DataFrame ops. Each round is one `groupBy(node).min(label)` over the
symmetrized edge list joined to the current labels — a single shuffle
keyed on node id. Convergence is checked with a driver-side count of
changed labels (the same driver-control-loop pattern as
``clustering.emb_kmeans``), and each round's result is
``localCheckpoint``ed so lineage doesn't grow with iterations.

Scale notes (100 TB): rounds needed = graph diameter. Near-dup
clusters are dense (a duplicated article's copies all pair with each
other), so diameter is 1-2 and the loop exits in ~3 rounds; the edge
list — not the corpus — is the working set, carrying only (bigint,
bigint) pairs. For adversarial long-chain graphs the known fix is
alternating large-star/small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond"), which this loop structure
accommodates without changing the data contract.

Oracle: DuckDB recursive CTE computing the transitive closure of the
same pair set, component = min reachable node — SQL-checkable because
the driver corpus's pair graph is small at sf0.01 (closure is O(n·m)
and would NOT be the scale path; it exists only to certify the Spark
loop's output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark import substrate
from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    hash60,
    sql_md5_int60,
)
from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
    sql_star_pair_ctes,
)
from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
    load_table,
    local_frame,
)

MAX_CC_ITERS = 20


def connected_components(pairs: DataFrame, max_iters: int = MAX_CC_ITERS) -> DataFrame:
    """(doc_a, doc_b) undirected pairs → (doc_id, cluster_id) with
    cluster_id = min doc_id reachable. Min-label propagation PLUS a
    pointer-jumping shortcut per round (label ← label(label), the
    large-star/small-star move): propagation alone needs diameter
    rounds — a 1000-hop chain component would exhaust any fixed
    iteration budget and hard-fail — while composing each round with
    one shortcut doubles the effective reach per round, so convergence
    is O(log diameter) and the default budget covers diameters past
    2^20. Fixpoint correctness: labels only decrease, are node ids
    inside their own component, and a stable labeling is constant per
    component with label(c)=c — the only such constant is the
    component min. One min-agg shuffle plus one node-sized
    label-composition join per round, lineage cut per round."""
    from pyspark import StorageLevel

    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    )
    # edge-sized relation: columnar persist, NOT localCheckpoint —
    # row-object checkpoint blocks OOM'd at 120M edges on relations of
    # exactly this shape (§6 iterative-graph recipe); labels below stay
    # checkpointed (node-sized, needs the per-round lineage cut)
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    # Convergence via a monotone potential: labels only ever decrease, so
    # the total label sum strictly decreases until the fixpoint. Tracking
    # it costs one cheap agg over the already-checkpointed round result —
    # no join-back against the previous labels just to count changes.
    prev_sum = None
    converged = False
    for _ in range(max_iters):
        # move each node's label across its out-edges, then fold the
        # node's own label in via union — ONE shuffle (the min agg) per
        # round instead of a neighbor-agg plus a join-back
        # hash-build on the node-sized label side; the edge stream is
        # probed, never sorted (SMJ sort buffers OOM'd at sf10 — §6)
        arriving = edges.join(
            labels.hint("shuffle_hash"), edges.src == labels.doc_id
        ).select(F.col("dst").alias("doc_id"), "cluster_id")
        propagated = (
            arriving.unionByName(labels)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        # pointer-jumping shortcut: label ← label(label). Node-sized
        # self-join (every label value is a node id present in the
        # relation, so the left join always matches; coalesce guards
        # the theoretical miss). This is what turns O(diameter) rounds
        # into O(log diameter).
        ptr = propagated.select(
            F.col("doc_id").alias("_p"), F.col("cluster_id").alias("_pl")
        )
        updated = (
            propagated.join(
                ptr.hint("shuffle_hash"),
                propagated.cluster_id == ptr._p,
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("_pl", "cluster_id").alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = updated.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels = updated
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    edges.unpersist()  # labels is checkpointed — lineage already cut
    if not converged:
        # with pointer jumping each round roughly doubles reach, so
        # max_iters=20 covers component diameters past 2^20; running
        # out anyway means something pathological — loud-fail rather
        # than return a silently split census.
        raise RuntimeError(
            "connected_components did not converge within "
            f"{max_iters} rounds (label sum still decreasing); "
            "raise max_iters (MAX_CC_ITERS for the substrate-cached "
            "callers) — the result would be a wrong census"
        )
    return labels


def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: minhash pairs → connected components →
    (doc_id, cluster_id, cluster_size, is_canonical). The keep-list a
    dedup pipeline actually applies is `is_canonical`."""
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        cc_labels_cached,
    )

    comp = cc_labels_cached(spark, sf_dir)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


_CLUSTER_CC_SQL = f"""
WITH RECURSIVE {sql_star_pair_ctes()},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         FROM reach GROUP BY src),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
          FROM comp GROUP BY cluster_id)
SELECT doc_id, cluster_id, cluster_size,
       doc_id = cluster_id AS is_canonical
FROM comp JOIN sizes USING (cluster_id)
"""


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size census over the near-dup graph — the one-page
    answer to "how much of my corpus is duplicates, and in what
    shape": for each cluster size, how many clusters, how many docs
    they hold, and how many are redundant (removable by keep-one
    dedup). Size-1 row = the unclustered remainder, derived from the
    corpus count minus the clustered mass (CC only materializes nodes
    that have edges). Everything after the CC fold runs on
    cluster-count-sized data; the census itself is ≤ max-cluster-size
    rows."""
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        cc_labels_cached,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = cc_labels_cached(spark, sf_dir)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    census = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    tot = docs.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    cl_sum = census.groupBy().agg(
        F.coalesce(
            F.sum(F.expr("cluster_size * n_clusters")), F.lit(0)
        ).alias("n_clustered")
    )
    singles = tot.crossJoin(cl_sum).select(
        F.lit(1).cast("bigint").alias("cluster_size"),
        (F.col("n_total") - F.col("n_clustered")).alias("n_clusters"),
    )
    return (
        census.unionByName(singles)
        .groupBy("cluster_size")
        .agg(F.sum("n_clusters").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            F.expr("cluster_size * n_clusters").alias("n_docs"),
            F.expr("(cluster_size - 1) * n_clusters").alias("n_redundant"),
        )
    )


_CLUSTER_SIZES_SQL = f"""
WITH RECURSIVE {sql_star_pair_ctes()},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         FROM reach GROUP BY src),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
          FROM comp GROUP BY cluster_id),
census AS (SELECT cluster_size, COUNT(*) AS n_clusters
           FROM sizes GROUP BY cluster_size
           UNION ALL
           SELECT 1, (SELECT COUNT(*) FROM documents)
                     - (SELECT COALESCE(SUM(cluster_size), 0) FROM sizes))
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size * n_clusters) AS BIGINT) AS n_docs,
       CAST(SUM((cluster_size - 1) * n_clusters) AS BIGINT) AS n_redundant
FROM census GROUP BY cluster_size
"""


def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the unit of assignment is the
    NEAR-DUP CLUSTER, not the document. A doc-keyed hash split
    (``corpus_split``) puts two copies of the same article on opposite
    sides of the train/test wall — the classic eval-contamination bug.
    Here every doc inherits its connected-component id (singletons:
    themselves) and the split is a pure hash of that group id, so a
    cluster moves as a block and adding documents later never
    reshuffles existing groups.

    Output per split: doc/group counts plus the leakage audit — pairs
    crossing splits under this assignment (0 by construction) next to
    the count the naive doc-hash split would have leaked. The pair list
    is the working set (bigint pairs), reused across the CC loop and
    both audits via one localCheckpoint."""
    from blog_snapshotbackup_azuredatalake_spark.operators.curation import (
        TRAIN_PCT,
        VAL_PCT,
    )

    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        cc_labels_cached,
        star_pairs_cached,
    )

    full = load_table(spark, sf_dir, "documents")
    # the audited pair set = the CC feed (verified star edges): every
    # audited link is inside one cluster, so cross_pairs_safe is 0 by
    # construction and the naive column counts the links a doc-hash
    # split would cut
    pairs = star_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    comp = cc_labels_cached(spark, sf_dir)

    def split_of(col: F.Column) -> F.Column:
        slot = hash60(F.md5(col.cast("string"))) % 100
        return (
            F.when(slot < TRAIN_PCT, F.lit("train"))
            .when(slot < TRAIN_PCT + VAL_PCT, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    assigned = (
        full.select("doc_id", "source")
        .join(comp.select("doc_id", "cluster_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("group_id"),
        )
        .select(
            "doc_id",
            "group_id",
            split_of(F.col("group_id")).alias("split"),
            split_of(F.col("doc_id")).alias("naive_split"),
        )
    )
    a = assigned.select(
        F.col("doc_id").alias("doc_a"),
        F.col("split").alias("split_a"),
        F.col("naive_split").alias("nsplit_a"),
    )
    b = assigned.select(
        F.col("doc_id").alias("doc_b"),
        F.col("split").alias("split_b"),
        F.col("naive_split").alias("nsplit_b"),
    )
    cross = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(F.col("split_a").alias("split"))
        .agg(
            F.sum((F.col("split_a") != F.col("split_b")).cast("long")).alias(
                "cross_pairs_safe"
            ),
            F.sum(
                (F.col("nsplit_a") != F.col("nsplit_b")).cast("long")
            ).alias("cross_pairs_naive"),
        )
    )
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("group_id").alias("n_groups"),
    )
    zero = F.lit(0).cast("bigint")
    return per_split.join(cross, "split", "left").select(
        "split",
        "n_docs",
        "n_groups",
        F.coalesce("cross_pairs_safe", zero).alias("cross_pairs_safe"),
        F.coalesce("cross_pairs_naive", zero).alias("cross_pairs_naive"),
    )


def _leakage_safe_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.curation import (
        TRAIN_PCT,
        VAL_PCT,
    )

    def split_case(key: str) -> str:
        h = f"{sql_md5_int60(f'CAST({key} AS VARCHAR)')} % 100"
        return (
            f"CASE WHEN {h} < {TRAIN_PCT} THEN 'train'"
            f" WHEN {h} < {TRAIN_PCT + VAL_PCT} THEN 'val'"
            " ELSE 'test' END"
        )

    return f"""
WITH RECURSIVE {sql_star_pair_ctes()},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         FROM reach GROUP BY src),
splits AS (
  SELECT d.doc_id,
         COALESCE(c.cluster_id, d.doc_id) AS group_id,
         {split_case("COALESCE(c.cluster_id, d.doc_id)")} AS split,
         {split_case("d.doc_id")} AS naive_split
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
per_split AS (
  SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT group_id) AS n_groups
  FROM splits GROUP BY split
),
crossing AS (
  SELECT sa.split AS split,
         SUM(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END)
           AS cross_pairs_safe,
         SUM(CASE WHEN sa.naive_split <> sb.naive_split THEN 1 ELSE 0 END)
           AS cross_pairs_naive
  FROM pairs p
  JOIN splits sa ON p.doc_a = sa.doc_id
  JOIN splits sb ON p.doc_b = sb.doc_id
  GROUP BY sa.split
)
SELECT p.split, p.n_docs, p.n_groups,
       CAST(COALESCE(c.cross_pairs_safe, 0) AS BIGINT) AS cross_pairs_safe,
       CAST(COALESCE(c.cross_pairs_naive, 0) AS BIGINT) AS cross_pairs_naive
FROM per_split p LEFT JOIN crossing c ON p.split = c.split
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup: each near-dup cluster keeps its highest-QUALITY
    member, not its smallest id. Min-id canonicalization (what
    ``dedup_cluster_cc`` emits) keeps whichever copy happened to be
    crawled first; production curation keeps the cleanest copy — the
    one without the truncation, the ad injection, the encoding damage.
    Pipeline: minhash near-dup pairs → connected components (edge-list
    sized, never corpus-sized) → join the clustered docs against the
    deterministic quality score (``text.with_quality_stats``, pure
    count arithmetic so the double ordering is bit-identical in the
    oracle) → per-cluster argmax via first_value over (quality DESC,
    doc_id). The rank window partitions by cluster — bounded by dup
    clique size, not corpus size — and only CLUSTERED docs (the near-dup
    minority) ever reach the join or the window."""
    from pyspark.sql import Window
    from blog_snapshotbackup_azuredatalake_spark.operators.text import (
        with_quality_stats,
    )

    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        cc_labels_cached,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = cc_labels_cached(spark, sf_dir)
    q = with_quality_stats(docs.select("doc_id", "text")).select(
        "doc_id", "quality_score"
    )
    scored = comp.join(q, "doc_id")
    wf = (
        Window.partitionBy("cluster_id")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        scored.select(
            "doc_id",
            "cluster_id",
            "quality_score",
            F.first("doc_id").over(wf).alias("kept_doc_id"),
        )
        .withColumn("is_kept", F.col("doc_id") == F.col("kept_doc_id"))
    )


def _keep_best_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.text import (
        sql_quality_ctes,
    )

    return f"""
WITH RECURSIVE {sql_star_pair_ctes()},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         FROM reach GROUP BY src),
{sql_quality_ctes()},
scored AS (SELECT comp.doc_id, comp.cluster_id, q.quality_score
           FROM comp JOIN qscored q ON q.doc_id = comp.doc_id)
SELECT doc_id, cluster_id, quality_score, kept_doc_id,
       doc_id = kept_doc_id AS is_kept
FROM (SELECT doc_id, cluster_id, quality_score,
             FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
                 ORDER BY quality_score DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                 AND UNBOUNDED FOLLOWING) AS kept_doc_id
      FROM scored)
"""


PAGERANK_ITERS = 6
PAGERANK_DAMPING = 0.85


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the corpus k-NN similarity graph — the
    graph-centrality representativeness score used by graph-based data
    selection (a vector many neighborhoods point into is a dense
    region's exemplar; isolated spokes are outliers). Edges are
    ``ann_knn_graph``'s top-k lists (edge list ∝ n·k, never n²); the
    power iteration is {PAGERANK_ITERS} fixed rounds of one edge-keyed
    join + one dst-keyed sum — per-round cost is edge-list-sized, the
    corpus embedding payload is never touched after graph build, and
    lineage is cut per round (the CC-loop pattern). Dangling mass (sink
    nodes) leaks per the simplified formulation, so Σ rank ≤ 1 — the
    test pins that invariant plus determinism-insensitive shape checks.
    Rows-only entry: iterated double sums are fold-order-dependent, so
    no portable SQL hash exists (same class as emb_kmeans)."""
    edges = knn_edges_cached(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    d = PAGERANK_DAMPING
    ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"))
    for _ in range(PAGERANK_ITERS):
        contrib = ed.join(ranks, ed.src == ranks.id).select(
            F.col("dst").alias("id"),
            (F.col("rank") / F.col("out_deg")).alias("c"),
        )
        ranks = (
            nodes.join(
                contrib.groupBy("id").agg(F.sum("c").alias("s")), "id", "left"
            )
            .select(
                "id",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d) * F.coalesce("s", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    in_deg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        ranks.join(in_deg, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            "rank",
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


PPR_SEEDS = 16
PPR_ITERS = 6


def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) over the kNN
    similarity graph from a deterministic seed set — the retrieval-
    expansion / semantic-neighborhood score that global PageRank can't
    give: teleport mass returns to the SEEDS, so rank measures
    proximity to the seed community rather than global centrality.

    Seeds are the {PPR_SEEDS} lowest node ids in the edge list
    (deterministic across engines and runs; the fixture convention for
    "the query's cluster"). Same fixed-iteration shape as
    graph_pagerank: per round one edge-keyed join + one dst-keyed sum,
    edge-list-sized, lineage cut per round; the restart vector is a
    broadcast-joined seed relation, never a driver-side loop. At 100 TB
    the per-round cost is one shuffle of the n·k edge list — the
    embedding payload is never touched after graph build. Rows-only
    entry: iterated double sums are fold-order-dependent (same class
    as graph_pagerank / emb_kmeans)."""
    edges = knn_edges_cached(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seeds = (
        nodes.orderBy("id")
        .limit(PPR_SEEDS)
        .select("id", F.lit(True).alias("is_seed"))
        .localCheckpoint(eager=True)
    )
    n_seeds = seeds.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    d = PAGERANK_DAMPING
    restart = F.when(F.col("is_seed"), F.lit((1.0 - d) / n_seeds)).otherwise(
        F.lit(0.0)
    )
    base = nodes.join(F.broadcast(seeds), "id", "left").select(
        "id", F.coalesce("is_seed", F.lit(False)).alias("is_seed")
    )
    ranks = base.select(
        "id",
        "is_seed",
        F.when(F.col("is_seed"), F.lit(1.0 / n_seeds))
        .otherwise(F.lit(0.0))
        .alias("rank"),
    )
    for _ in range(PPR_ITERS):
        contrib = ed.join(ranks, ed.src == ranks.id).select(
            F.col("dst").alias("id"),
            (F.col("rank") / F.col("out_deg")).alias("c"),
        )
        ranks = (
            base.join(
                contrib.groupBy("id").agg(F.sum("c").alias("s")), "id", "left"
            )
            .select(
                "id",
                "is_seed",
                (restart + F.lit(d) * F.coalesce("s", F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        F.col("id").alias("vec_id"), "is_seed", "rank"
    )


# ---------------------------------------------------------------------------
# link prediction on the k-NN graph (common out-neighbors)
# ---------------------------------------------------------------------------

LINK_TOP_N = 50
LINK_FP = 1 << 20  # fixed-point scale for the Jaccard score


def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the corpus k-NN graph: for
    node pairs NOT already adjacent, count shared out-neighbors and
    rank by (count, fixed-point Jaccard of the out-neighbor sets) — the
    classic second-pass that recovers near-dup / near-neighbor pairs
    the LSH blocking missed (two vectors bucketed apart still surface
    if they agree on whom they are close to). Candidate generation is
    one self-join of the edge list ON THE SHARED NEIGHBOR — cost
    Σ_n indeg(n)², bounded because indegree concentrates around k on
    kNN graphs (documented, not assumed: the knn build caps bucket
    occupancy, which caps how many nodes can point at one hub) — never
    an all-pairs scan. Degrees are k-bounded by construction, so the
    Jaccard denominator is exact integer arithmetic; the final top-N is
    two-phase (per-src window prunes before one tiny global window)."""
    from pyspark.sql import Window

    edges = knn_edges_cached(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    cand = (
        edges.alias("e1")
        .join(edges.alias("e2"), "dst")
        .filter(F.col("e1.src") < F.col("e2.src"))
        .groupBy(
            F.col("e1.src").alias("a"), F.col("e2.src").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    linked = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).unionByName(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    fresh = cand.join(linked, ["a", "b"], "left_anti")
    scored = (
        fresh.join(deg.select(F.col("src").alias("a"),
                              F.col("deg").alias("dega")), "a")
        .join(deg.select(F.col("src").alias("b"),
                         F.col("deg").alias("degb")), "b")
        .select(
            "a",
            "b",
            "cn",
            F.expr(f"cn * {LINK_FP}L div (dega + degb - cn)")
            .cast("bigint")
            .alias("jaccard_fp"),
        )
    )
    per_a = Window.partitionBy("a").orderBy(
        F.desc("cn"), F.desc("jaccard_fp"), F.asc("b")
    )
    pruned = scored.withColumn("prnk", F.row_number().over(per_a)).filter(
        F.col("prnk") <= LINK_TOP_N
    )
    # round 10: single global window kept — planned as
    # TakeOrderedAndProject by Spark 4.1's rank-limit pushdown
    w = Window.orderBy(F.desc("cn"), F.desc("jaccard_fp"),
                       F.asc("a"), F.asc("b"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= LINK_TOP_N)
        .select(F.col("rank").cast("int").alias("rank"),
                "a", "b", "cn", "jaccard_fp")
    )


def _link_predict_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        _ANN_KNN_GRAPH_SQL,
    )

    return f"""
WITH graph AS ({_ANN_KNN_GRAPH_SQL}),
edges AS (SELECT src, dst FROM graph),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
cand AS (
  SELECT e1.src AS a, e2.src AS b, COUNT(*) AS cn
  FROM edges e1 JOIN edges e2 USING (dst)
  WHERE e1.src < e2.src
  GROUP BY e1.src, e2.src
),
linked AS (SELECT src AS a, dst AS b FROM edges
           UNION ALL SELECT dst, src FROM edges),
fresh AS (
  SELECT c.a, c.b, c.cn FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM linked l
                    WHERE l.a = c.a AND l.b = c.b)
),
scored AS (
  SELECT f.a, f.b, f.cn,
         CAST(f.cn * {LINK_FP} // (da.deg + db.deg - f.cn) AS BIGINT)
           AS jaccard_fp
  FROM fresh f
  JOIN deg da ON da.src = f.a
  JOIN deg db ON db.src = f.b
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cn DESC, jaccard_fp DESC, a, b)
            AS INT) AS rank,
       a, b, cn, jaccard_fp
FROM scored
QUALIFY rank <= {LINK_TOP_N}
"""


# ---------------------------------------------------------------------------
# co-purchase graph: triangle counting and community detection
# ---------------------------------------------------------------------------

TRI_FP = 1 << 20  # fixed-point scale for the clustering coefficient
LPA_ROUNDS = 2


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase edge list over parts: (u, v) with u < v
    iff the two parts appear in the same order. One equi-self-join on
    the order key (per-order fanout is bounded by order size — ≤7 items
    in this schema, so the pair blowup is a small constant) followed by
    one distinct shuffle on the pair. The edge list — part-catalog
    sized, not lineitem sized — is the working set for everything
    downstream."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


# ---------------------------------------------------------------------------
# session-scoped substrate cache: the graph suite shares its bases
# ---------------------------------------------------------------------------
# Six entries consume the co-purchase edge base and two more consume
# the kNN edge list; graph_modularity also reuses the LPA labels. Each
# base is built once per session through the package substrate cache
# (substrate.py).

# names the benchmark harness (perfbench/) reads
_GRAPH_CACHE = substrate.CACHE
graph_cache_clear = substrate.clear


def copurchase_edges_cached(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Build-if-absent co-purchase edge base, cached COLUMNAR
    (persist MEMORY_AND_DISK + count — compressed, spillable, lineage
    kept; the §6 recipe. localCheckpoint row-blocks OOM'd at 120 M
    edges on relations of exactly this shape)."""
    return substrate.cached(
        spark,
        sf_dir,
        "copurchase_edges",
        lambda: substrate.persisted(_copurchase_edges(spark, sf_dir)),
    )


def knn_graph_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-if-absent FULL kNN graph (src, rank, dst, cos) — the
    ann_knn_graph registry entry serves from here so its LSH-bucketed
    self-join build is paid once per session. Before this existed,
    emb_label_knn_classify (via knn_edges_cached) rebuilt the whole
    graph its sibling entry had just computed — the round-7 sf10 suite
    measured the rebuild at 66 of its 88 s. n·k rows, node-scale:
    localCheckpoint."""
    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (  # noqa: E501
        ann_knn_graph,
    )

    return substrate.cached(
        spark,
        sf_dir,
        "knn_graph_full",
        lambda: ann_knn_graph(spark, sf_dir).localCheckpoint(eager=True),
    )


def knn_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-if-absent kNN similarity edge list (src, dst) — the
    substrate of graph_pagerank and graph_link_predict, previously
    rebuilt (full LSH bucketing + top-k) by each. A projection of the
    checkpointed full graph (knn_graph_cached), so no second
    materialization is needed."""
    return substrate.cached(
        spark,
        sf_dir,
        "knn_edges",
        lambda: knn_graph_cached(spark, sf_dir).select("src", "dst"),
    )


# adjacency broadcast budget for the triangle intersect plan. The
# oriented adjacency is exactly m longs, but ESTIMATED bytes are not
# JVM build cost: a broadcast builds a HashedRelation (UnsafeRow per
# node + array headers, measured ~3-4× the payload) and BOTH
# projections (nu, nv) build their own broadcast — the round-5 sf30
# run proved an 8 GB budget fatal (360 M edges ≈ 2.9 GB estimated
# killed a 48 GB driver: "Not enough memory to build and broadcast").
# 1 GB ≈ 128 M edges is the empirically-validated bound (round-4 sf10,
# 120 M edges, measured fine); past it the probe's shuffle-hash
# fallback takes over — a runtime-verified decision, not a blind hint
# (§6 broadcast-audit rule).
TRI_ADJ_MAX_BYTES = 1 << 30
TRI_ADJ_MAX_ROWS = (1 << 31) - 2  # JVM limit() is int-bounded


def _oriented_intersect(
    spark: SparkSession, sf_dir: str, edges: DataFrame, name: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The degree-oriented adjacency-intersect plan over an undirected
    (u, v) edge base, shared by the exact and the sampled triangle
    census. Returns (deg, o, common): node degrees, the oriented edges
    (src → dst, lower (degree, id) endpoint first) and one row per
    oriented edge with c = |N⁺(src) ∩ N⁺(dst)|. o and the adjacency
    are edge-scale persists owned by the substrate cache (keys
    ``{name}_oriented`` / ``{name}_adjacency``), so repeat calls in one
    session — bench.py's min-of-2 never clears the cache — reuse ONE
    materialization instead of stacking duplicate persisted edge-sized
    relations in storage."""
    from pyspark import StorageLevel

    from blog_snapshotbackup_azuredatalake_spark.functions.hints import (
        would_broadcast,
    )

    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )

    def orient() -> DataFrame:
        du = deg.select(
            F.col("node").alias("u"), F.col("deg").alias("deg_u")
        )
        dv = deg.select(
            F.col("node").alias("v"), F.col("deg").alias("deg_v")
        )
        lower_first = (F.col("deg_u") < F.col("deg_v")) | (
            (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
        )
        return substrate.persisted(
            edges.join(du, "u")
            .join(dv, "v")
            .select(
                F.when(lower_first, F.col("u"))
                .otherwise(F.col("v"))
                .alias("src"),
                F.when(lower_first, F.col("v"))
                .otherwise(F.col("u"))
                .alias("dst"),
            ),
            StorageLevel.MEMORY_AND_DISK_DESER,
        )

    o = substrate.cached(spark, sf_dir, f"{name}_oriented", orient)
    # node-sized rows, m payload — the broadcast probe hits the cache
    adj = substrate.cached(
        spark,
        sf_dir,
        f"{name}_adjacency",
        lambda: substrate.persisted(
            o.groupBy("src").agg(
                F.sort_array(F.collect_list("dst")).alias("nbrs")
            ),
            StorageLevel.MEMORY_AND_DISK_DESER,
        ),
    )
    # ONE probe decides for both projections (each probe scans adj;
    # two separate byte probes over a 120M-entry adjacency measurably
    # doubled the pre-join cost at sf10)
    hint = (
        F.broadcast
        if would_broadcast(
            adj, max_rows=TRI_ADJ_MAX_ROWS, max_bytes=TRI_ADJ_MAX_BYTES
        )
        # past the budget: explicit shuffle-hash, never sort-merge —
        # an SMJ here would sort the 2m-row edge stream (§6 recipe)
        else (lambda d: d.hint("shuffle_hash"))
    )
    nu = hint(adj.select("src", F.col("nbrs").alias("nu")))
    nv = hint(
        adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nv"))
    )
    common = (
        o.join(nu, "src")
        .join(nv, "dst")
        .select(F.size(F.array_intersect("nu", "nv")).alias("c"))
    )
    return deg, o, common


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph, degree-oriented — the
    MapReduce-classic mitigation for "the curse of the last reducer"
    (Suri & Vassilvitskii, WWW'11): orient every undirected edge from
    the lower-(degree, id) endpoint to the higher, so per-node out-
    degree is bounded by O(√m) regardless of hub skew (measured here:
    max out-degree 97 at 120 M edges).

    Closure is an ADJACENCY INTERSECT, not a wedge enumeration: each
    triangle has exactly one apex with two out-edges inside it, so
    n_triangles = Σ over oriented edges (u,v) of |N⁺(u) ∩ N⁺(v)| —
    per-edge `array_intersect` of two ≤O(√m) sorted lists, whole-stage
    codegen. The previous wedge-stream formulation (explode C(odeg,2)
    wedge rows, join back against the edge set) shuffled Σ C(odeg,2)
    ROWS — measured 4.1 B wedges ≈ 66 GB at 120 M edges, which
    exceeded this sandbox's entire local disk in sort spill. The
    intersect plan moves the adjacency (exactly m longs, ~1 GB at
    120 M edges) instead of the wedge stream, broadcast when it proves
    itself under TRI_ADJ_MAX_BYTES (probed, with shuffle-hash
    fallback) — the same certificate, shuffle ∝ m instead of ∝ Σdeg².
    Wedge counts come from the degree relations alone (Σ C(deg,2) —
    no enumeration needed for a count). Edge-sized relations cached
    COLUMNAR per the §6 recipe."""
    e0 = copurchase_edges_cached(spark, sf_dir)
    deg, o, common = _oriented_intersect(spark, sf_dir, e0, "tri")
    wedge_agg = common.groupBy().agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_triangles")
    )
    odeg_agg = (
        o.groupBy("src")
        .agg(F.count(F.lit(1)).alias("odeg"))
        .groupBy()
        .agg(
            F.coalesce(
                (F.sum(F.expr("odeg * (odeg - 1)")) / F.lit(2)).cast(
                    "bigint"
                ),
                F.lit(0),
            ).alias("n_wedges_oriented")
        )
    )
    summary = deg.groupBy().agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.expr("deg * (deg - 1)")) / F.lit(2))
        .cast("bigint")
        .alias("n_wedges_undirected"),
    )
    n_edges = e0.groupBy().agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        summary.crossJoin(n_edges)
        .crossJoin(odeg_agg)
        .crossJoin(wedge_agg)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges_undirected",
            "n_wedges_oriented",
            "n_triangles",
            F.expr(
                # greatest(·,1): a degenerate graph (no node of degree
                # ≥2) has 0 wedges — Spark `div` would yield NULL but
                # DuckDB `//` raises, so the guard keeps the oracle
                # comparable (clustering is 0 there either way)
                f"3 * n_triangles * {TRI_FP}L"
                " div greatest(n_wedges_undirected, 1L)"
            ).alias("clustering_fp"),
        )
    )


_COPURCHASE_SQL = """
e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       FROM lineitem a JOIN lineitem b USING (l_orderkey)
       WHERE a.l_partkey < b.l_partkey)
"""

_TRIANGLE_SQL = f"""
WITH {_COPURCHASE_SQL},
deg AS (SELECT node, COUNT(*) AS deg
        FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY node),
o AS (SELECT CASE WHEN (du.deg, u) < (dv.deg, v) THEN u ELSE v END AS src,
             CASE WHEN (du.deg, u) < (dv.deg, v) THEN v ELSE u END AS dst
      FROM e0 JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
w AS (SELECT o1.dst AS wu, o2.dst AS wv
      FROM o o1 JOIN o o2 USING (src) WHERE o1.dst < o2.dst),
tri AS (SELECT COUNT(*) AS n FROM w JOIN e0 ON e0.u = w.wu AND e0.v = w.wv)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e0) AS BIGINT) AS n_edges,
       CAST((SELECT SUM(deg * (deg - 1)) // 2 FROM deg) AS BIGINT)
         AS n_wedges_undirected,
       CAST((SELECT COUNT(*) FROM w) AS BIGINT) AS n_wedges_oriented,
       CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles,
       CAST(3 * (SELECT n FROM tri) * {TRI_FP}
            // GREATEST((SELECT SUM(deg * (deg - 1)) // 2 FROM deg), 1)
            AS BIGINT)
         AS clustering_fp
"""


# DOULION edge-sampling rate 1/TRI_SAMPLE_DEN (Tsourakakis et al.,
# KDD'09): count triangles exactly on a deterministically hash-sampled
# edge subset, scale by den³. p = 1/4 keeps the estimator's relative
# error low (each triangle survives with p³ = 1/64; the co-purchase
# graph has millions of triangles at bench SFs so the CV is tiny) while
# cutting the intersect plan's work 4× on edges and ~16-64× on
# adjacency intersections.
TRI_SAMPLE_DEN = 4


def graph_triangle_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled triangle ESTIMATE (DOULION shape) — the past-the-
    broadcast-line answer graph_triangle_count can't give on one box:
    exact closure at 360 M edges moves Θ(m·√m) ≈ 300 GB (SCALING.md
    round-5 triangle section) — routine across 1000 executors,
    disk-infeasible on one. Keep each edge iff md5(u‖'_'‖v) mod
    {TRI_SAMPLE_DEN} = 0 (DETERMINISTIC, so the DuckDB oracle applies
    the identical sample and the driver's hash gate holds), run the
    same degree-oriented adjacency-intersect census on the sampled
    subgraph, and report T̂ = T_s · {TRI_SAMPLE_DEN}³. Every triangle
    survives sampling with p³, so E[T̂] = T; the entry carries the
    sampled count alongside the estimate so the scale-up factor is
    auditable. Sampled-edge relations ride the session substrate cache."""
    e0 = copurchase_edges_cached(spark, sf_dir)
    keep = (
        hash60(F.md5(F.concat_ws("_", F.col("u"), F.col("v")))) % TRI_SAMPLE_DEN
        == 0
    )
    es = substrate.cached(
        spark,
        sf_dir,
        "tri_est_edges",
        lambda: substrate.persisted(e0.filter(keep)),
    )
    _, _, common = _oriented_intersect(spark, sf_dir, es, "tri_est")
    tri_s = common.groupBy().agg(
        F.coalesce(F.sum("c"), F.lit(0))
        .cast("bigint")
        .alias("n_triangles_sampled")
    )
    counts = (
        e0.groupBy()
        .agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(
            es.groupBy().agg(F.count(F.lit(1)).alias("n_edges_sampled"))
        )
        .crossJoin(tri_s)
    )
    den3 = TRI_SAMPLE_DEN**3
    return counts.select(
        "n_edges",
        "n_edges_sampled",
        F.lit(TRI_SAMPLE_DEN).cast("bigint").alias("sample_den"),
        "n_triangles_sampled",
        (F.col("n_triangles_sampled") * F.lit(den3))
        .cast("bigint")
        .alias("est_triangles"),
    )


_TRIANGLE_EST_SQL = f"""
WITH {_COPURCHASE_SQL},
es AS (SELECT u, v FROM e0
       WHERE {sql_md5_int60("u || '_' || v")} % {TRI_SAMPLE_DEN} = 0),
deg AS (SELECT node, COUNT(*) AS deg
        FROM (SELECT u AS node FROM es UNION ALL SELECT v FROM es)
        GROUP BY node),
o AS (SELECT CASE WHEN (du.deg, u) < (dv.deg, v) THEN u ELSE v END AS src,
             CASE WHEN (du.deg, u) < (dv.deg, v) THEN v ELSE u END AS dst
      FROM es JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
w AS (SELECT o1.dst AS wu, o2.dst AS wv
      FROM o o1 JOIN o o2 USING (src) WHERE o1.dst < o2.dst),
tri AS (SELECT COUNT(*) AS n FROM w JOIN es ON es.u = w.wu AND es.v = w.wv)
SELECT CAST((SELECT COUNT(*) FROM e0) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM es) AS BIGINT) AS n_edges_sampled,
       CAST({TRI_SAMPLE_DEN} AS BIGINT) AS sample_den,
       CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles_sampled,
       CAST((SELECT n FROM tri) * {TRI_SAMPLE_DEN ** 3} AS BIGINT)
         AS est_triangles
"""


BFS_HOPS = 3
BFS_SEED_MOD = 100  # seed set = parts whose id ≡ 0 mod this


def graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-hop BFS from a seed set over the co-purchase graph —
    the blast-radius / influence-reach primitive (recall expansion from
    labeled seeds, contamination spread from flagged nodes). Frontier
    expansion is {BFS_HOPS} unrolled rounds of one edge join + per-node
    min-distance fold (map-side combinable), lineage cut per round —
    the `connected_components` loop shape, every stage edge-list-sized.
    Output is the distance census (nodes at hop 0..{BFS_HOPS}, plus a
    dist=-1 row for the unreached remainder), so the result is
    O(hops) rows regardless of graph size. Oracle: recursive CTE with
    UNION-dedup on (node, dist) pairs, min-dist folded at the end.

    The edge base is cached COLUMNAR (persist+count), not
    localCheckpoint'ed — at sf10 (120 M edges) the checkpoint's
    deserialized row blocks exhausted execution memory mid-shuffle
    (§6 trap, same failure as graph_kcore); per-round node-sized
    states keep the cheap lineage cut."""
    e0 = copurchase_edges_cached(spark, sf_dir)
    sym = e0.select(
        F.col("u").alias("s"), F.col("v").alias("d")
    ).unionByName(e0.select(F.col("v").alias("s"), F.col("u").alias("d")))
    nodes = sym.select(F.col("s").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    labels = nodes.filter(F.col("node") % BFS_SEED_MOD == 0).select(
        "node", F.lit(0).cast("int").alias("dist")
    )
    for _ in range(BFS_HOPS):
        # shuffle_hash: build on the node-sized label side so the 2m-row
        # edge stream is never SORTED — SMJ's per-task sort buffers over
        # 240 M sym rows heap-OOM'd at sf10 (measured); a hash probe
        # streams the big side
        nxt = sym.join(
            labels.hint("shuffle_hash"), sym.s == labels.node
        ).select(
            F.col("d").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        labels = (
            labels.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("dist").cast("int").alias("dist"))
            .localCheckpoint(eager=True)
        )
    census = labels.groupBy("dist").agg(F.count(F.lit(1)).alias("n_nodes"))
    unreached = (
        nodes.join(labels, "node", "left_anti")
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.lit(-1).cast("int").alias("dist"), "n_nodes")
    )
    return census.unionByName(unreached).filter(F.col("n_nodes") > 0)


_BFS_REACH_SQL = f"""
WITH RECURSIVE {_COPURCHASE_SQL},
sym AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v, u FROM e0),
nodes AS (SELECT DISTINCT s AS node FROM sym),
reach(node, dist) AS (
  SELECT node, 0 FROM nodes WHERE node % {BFS_SEED_MOD} = 0
  UNION
  SELECT sym.d, r.dist + 1 FROM reach r JOIN sym ON sym.s = r.node
  WHERE r.dist < {BFS_HOPS}
),
best AS (SELECT node, MIN(dist) AS dist FROM reach GROUP BY node),
census AS (SELECT CAST(dist AS INT) AS dist, COUNT(*) AS n_nodes
           FROM best GROUP BY dist
           UNION ALL
           SELECT -1, (SELECT COUNT(*) FROM nodes)
                      - (SELECT COUNT(*) FROM best))
SELECT dist, n_nodes FROM census WHERE n_nodes > 0
"""


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution histogram of the co-purchase graph — the
    skew census you run BEFORE committing to any join strategy on a
    100 TB graph (it is the empirical input to the degree-orientation
    argument in ``graph_triangle_count``). One shuffle to build the
    degree relation; the histogram groupBy and the share window both
    run over bucket-count-sized data (≤ ~10 rows), so the edge list is
    touched exactly once. Bucket = decimal digit count of the degree
    (an integer order-of-magnitude that is bit-portable across engines,
    unlike floor(log2) whose libm rounding differs); share is integer
    fixed-point parts-per-million."""
    e0 = copurchase_edges_cached(spark, sf_dir)
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    agg = deg.groupBy(
        F.length(F.col("deg").cast("string")).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
        F.sum("deg").alias("sum_deg"),
    )
    return agg.select(
        "bucket",
        "n_nodes",
        "min_deg",
        "max_deg",
        "sum_deg",
        F.expr(
            "n_nodes * 1000000 div sum(n_nodes) over ()"
        ).alias("share_ppm"),
    )


_DEGREE_STATS_SQL = f"""
WITH {_COPURCHASE_SQL},
deg AS (SELECT node, COUNT(*) AS deg
        FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY node),
agg AS (SELECT CAST(LENGTH(CAST(deg AS VARCHAR)) AS INT) AS bucket,
               COUNT(*) AS n_nodes,
               MIN(deg) AS min_deg, MAX(deg) AS max_deg,
               CAST(SUM(deg) AS BIGINT) AS sum_deg
        FROM deg GROUP BY bucket)
SELECT bucket, n_nodes, min_deg, max_deg, sum_deg,
       CAST(n_nodes * 1000000 // SUM(n_nodes) OVER () AS BIGINT)
         AS share_ppm
FROM agg
"""


KCORE_K = 16
KCORE_ROUNDS = 3


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling ({KCORE_ROUNDS} rounds at k={KCORE_K}):
    repeatedly drop nodes whose CURRENT degree is below k — the
    standard densest-region extractor (spam/bot ring detection, the
    retention set for graph-based sampling). Each round is one degree
    count + two semi-joins, all edge-list-sized, lineage cut per round;
    emitted as the per-round shrink census (nodes, undirected edges
    surviving), which is what you watch to pick k on a real graph.
    Fixed round count makes the result well-defined data (full peeling
    to fixpoint is value-identical once the census stops moving).
    Oracle: the same rounds unrolled as SQL CTEs."""
    e0 = copurchase_edges_cached(spark, sf_dir)
    sym = e0.select(
        F.col("u").alias("s"), F.col("v").alias("d")
    ).unionByName(e0.select(F.col("v").alias("s"), F.col("u").alias("d")))
    # Delta peeling: the naive formulation (re-materialize the filtered
    # edge relation every round) shuffles the FULL 2m-row sym relation
    # 3× — measured 58.8 s / alpha 1.24 at sf3, after first OOMing the
    # driver via a Catalyst broadcast mis-estimate of the post-filter
    # survivor set (§6: never broadcast a set that grows with the
    # data). Instead: degrees are computed ONCE, then each round joins
    # sym only against the REMOVED set (bounded by peeling activity,
    # shuffle_hash-hinted all the same) and subtracts; the surviving
    # edge count falls out of Σdeg/2 with no edge relation ever
    # rebuilt. Every per-round relation is node-sized. The edge base is
    # cached COLUMNAR (persist + count), not localCheckpoint'ed:
    # checkpoint materializes row-object blocks whose footprint OOM'd
    # the heap at sf3 (measured — UnsafeRow.copy), while the columnar
    # cache is compressed and keeps lineage as the recompute safety
    # net. sym stays a lazy union over the cached e0.
    deg = (
        sym.groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    rows = []
    for rnd in range(1, KCORE_ROUNDS + 1):
        removed = (
            deg.filter(F.col("c") < KCORE_K)
            .select(F.col("s").alias("node"))
            .localCheckpoint(eager=True)
        )
        delta = (
            sym.join(
                removed.hint("shuffle_hash"),
                sym.d == F.col("node"),
            )
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("dc"))
        )
        deg = (
            deg.filter(F.col("c") >= KCORE_K)
            .join(delta, "s", "left")
            .select(
                "s",
                (F.col("c") - F.coalesce(F.col("dc"), F.lit(0))).alias("c"),
            )
            .localCheckpoint(eager=True)
        )
        stats = deg.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("c"), F.lit(0)).alias("s2"),
        ).collect()[0]
        rows.append((rnd, KCORE_K, stats["n"], stats["s2"] // 2))
    return local_frame(
        spark,
        rows, "round int, k int, n_nodes bigint, n_edges bigint"
    )


def _kcore_sql() -> str:
    ctes, selects = [], []
    prev = "sym0"
    for r in range(1, KCORE_ROUNDS + 1):
        ctes.append(f"""
deg{r} AS (SELECT s, COUNT(*) AS c FROM {prev} GROUP BY s),
keep{r} AS (SELECT s AS node FROM deg{r} WHERE c >= {KCORE_K}),
sym{r} AS (SELECT s, d FROM {prev}
           WHERE s IN (SELECT node FROM keep{r})
             AND d IN (SELECT node FROM keep{r}))""")
        selects.append(
            f"SELECT {r} AS round, {KCORE_K} AS k,"
            f" (SELECT COUNT(*) FROM keep{r}) AS n_nodes,"
            f" (SELECT COUNT(*) // 2 FROM sym{r}) AS n_edges"
        )
        prev = f"sym{r}"
    return f"""
WITH {_COPURCHASE_SQL},
sym0 AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v, u FROM e0),
{",".join(ctes)}
{" UNION ALL ".join(selects)}
"""


def graph_community_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation over the co-purchase
    graph: every node starts as its own label and, each round, adopts
    the most frequent label among its neighbors (ties broken by min
    label — the determinism knob plain LPA lacks). {LPA_ROUNDS} fixed
    synchronous rounds, so the output is well-defined even on graphs
    where free-running LPA oscillates; each round is one edge-keyed
    join + one (node, label) count + one per-node max_by argmax — all
    edge-list-sized, the corpus never reshuffles, lineage cut per round
    (the `connected_components` loop pattern). Oracle: the same
    {LPA_ROUNDS} rounds unrolled as SQL CTEs. Edge base cached
    columnar and the per-round join hash-built on the node-sized label
    side (§6 iterative-graph recipe — row-block checkpoints and big-
    side sorts both OOM'd at sf10 on ops of this shape)."""
    labels = lpa_labels_cached(spark, sf_dir)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return labels.join(sizes, "label").select(
        F.col("node").alias("part_id"),
        F.col("label").alias("community"),
        "community_size",
    )


def lpa_labels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-if-absent final LPA label relation (node, label) — shared
    by graph_community_lpa and graph_modularity (which previously
    re-ran the full propagation internally). Node-sized, so the
    per-round localCheckpoint of the last round IS the cache."""
    return substrate.cached(
        spark, sf_dir, "lpa_labels", lambda: _lpa_label_relation(spark, sf_dir)
    )


def _lpa_label_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE (measured, round 4): pre-partitioning sym on the join key
    # and caching it columnar — so each round's join could reuse the
    # partitioning instead of re-exchanging 2m rows — helped at sf3
    # (25.2 → 20.6 s) but REGRESSED at sf10 (66.5 → 89.6 s): the
    # per-round decompress-and-scan of the 4 GB cache costs more than
    # the exchange it replaces once the relation outgrows page cache.
    # Kept as the lazy union over the cached e0.
    e0 = copurchase_edges_cached(spark, sf_dir)
    sym = e0.select(
        F.col("u").alias("s"), F.col("v").alias("d")
    ).unionByName(e0.select(F.col("v").alias("s"), F.col("u").alias("d")))
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    # per-node argmax as a hash aggregate, NOT a rank window: a window
    # over (node) sorts the full (node, label, cnt) relation — measured
    # super-linear at sf3 (alpha 1.64, 90 s; sort + spill over 72 M
    # rows). max_by over a (cnt, -label) struct is the same
    # deterministic argmax but partial-aggregable map-side, and its
    # input is the already-reduced count relation.
    for _ in range(LPA_ROUNDS):
        labels = (
            sym.join(labels.hint("shuffle_hash"), sym.s == labels.node)
            .select(F.col("d").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("node")
            .agg(
                F.expr("max_by(label, struct(cnt, -label))").alias("label")
            )
            .localCheckpoint(eager=True)
        )
    return labels


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the number that says
    whether the clustering MEANS anything (Q ≈ 0: no better than random
    given the degree sequence). Q = Σ_c [e_c/m − (d_c/2m)²] computed as
    the exact integer rational num/den with num = 4m·intra − Σ_c d_c²
    and den = 4m²: both fit BIGINT, and the double division of two
    identically-cast integers is bit-identical across engines — no
    fixed-point machinery needed (§4). Everything after the LPA fold is
    community-count-sized; the certificate is one row. Both substrates
    come from the session cache — the edge base and the LPA labels are
    shared with the other graph entries instead of recomputed (the
    round-3 verdict's composition-cost finding: ~2/3 of this entry's
    time was re-running LPA + the edge build internally)."""
    comm = lpa_labels_cached(spark, sf_dir)
    e0 = copurchase_edges_cached(spark, sf_dir)
    m = e0.count()
    la = comm.select(F.col("node").alias("u"), F.col("label").alias("lu"))
    lb = comm.select(F.col("node").alias("v"), F.col("label").alias("lv"))
    intra = (
        e0.join(la.hint("shuffle_hash"), "u")
        .join(lb.hint("shuffle_hash"), "v")
        .filter(F.col("lu") == F.col("lv"))
        .count()
    )
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dsq = (
        deg.join(comm, "node")
        .groupBy("label")
        .agg(F.sum("deg").alias("d_c"))
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum(F.expr("d_c * d_c")).alias("sum_dsq"),
        )
        .collect()[0]
    )
    num = 4 * m * intra - dsq["sum_dsq"]
    den = 4 * m * m
    return local_frame(
        spark,
        [
            (
                m,
                int(intra),
                int(dsq["n_communities"]),
                num,
                den,
                float(num) / float(den),
            )
        ],
        "n_edges bigint, intra_edges bigint, n_communities bigint,"
        " q_num bigint, q_den bigint, modularity double",
    )


def _modularity_sql() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""
c{i} AS (SELECT sym.d AS node, l.label, COUNT(*) AS cnt
        FROM sym JOIN {prev} l ON l.node = sym.s
        GROUP BY sym.d, l.label),
l{i} AS (SELECT node, label FROM (
          SELECT node, label,
                 ROW_NUMBER() OVER (PARTITION BY node
                                    ORDER BY cnt DESC, label) AS rn
          FROM c{i}) WHERE rn = 1)""")
        prev = f"l{i}"
    return f"""
WITH {_COPURCHASE_SQL},
sym AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v, u FROM e0),
l0 AS (SELECT node, node AS label
       FROM (SELECT DISTINCT s AS node FROM sym)),
{",".join(rounds)},
lab AS (SELECT node, label FROM {prev}),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
intra AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
          FROM e0 JOIN lab a ON a.node = e0.u JOIN lab b ON b.node = e0.v
          WHERE a.label = b.label),
deg AS (SELECT node, COUNT(*) AS deg
        FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY node),
dc AS (SELECT l.label, CAST(SUM(deg) AS BIGINT) AS d_c
       FROM deg JOIN lab l USING (node) GROUP BY l.label),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
               CAST(SUM(d_c * d_c) AS BIGINT) AS sum_dsq
        FROM dc)
SELECT m AS n_edges, intra.n AS intra_edges, n_communities,
       CAST(4 * m * intra.n - sum_dsq AS BIGINT) AS q_num,
       CAST(4 * m * m AS BIGINT) AS q_den,
       CAST(CAST(4 * m * intra.n - sum_dsq AS BIGINT) AS DOUBLE)
         / CAST(CAST(4 * m * m AS BIGINT) AS DOUBLE) AS modularity
FROM mm, intra, agg
"""


def _lpa_sql() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""
c{i} AS (SELECT sym.d AS node, l.label, COUNT(*) AS cnt
        FROM sym JOIN {prev} l ON l.node = sym.s
        GROUP BY sym.d, l.label),
l{i} AS (SELECT node, label FROM (
          SELECT node, label,
                 ROW_NUMBER() OVER (PARTITION BY node
                                    ORDER BY cnt DESC, label) AS rn
          FROM c{i}) WHERE rn = 1)""")
        prev = f"l{i}"
    last = f"l{LPA_ROUNDS}"
    return f"""
WITH {_COPURCHASE_SQL},
sym AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v, u FROM e0),
l0 AS (SELECT node, node AS label
       FROM (SELECT DISTINCT s AS node FROM sym)),
{",".join(rounds)}
SELECT l.node AS part_id, l.label AS community,
       CAST(s.community_size AS BIGINT) AS community_size
FROM {last} l
JOIN (SELECT label, COUNT(*) AS community_size FROM {last} GROUP BY label) s
  USING (label)
"""


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — Pearson r of
    (deg_u, deg_v) over every edge end (both orientations, the Newman
    2002 definition): do hubs link to hubs (r>0, social-graph shape)
    or to spokes (r<0, tech/dependency shape)? The answer picks the
    skew strategy — disassortative graphs concentrate join load on
    hub keys and want salting/orientation; assortative ones spread it.

    Exact integer moments: n, Σx, Σx², Σxy accumulate as BIGINT over
    the end list (safe past 10⁸ edges with 10⁴-degree hubs); the
    final r = (nΣxy − (Σx)²) / (nΣx² − (Σx)²) needs products near
    10²⁵, so it folds driver-side in unbounded Python ints (oracle:
    HUGEINT) with both engines casting the SAME exact integers to
    double before one division — bit-portable like graph_modularity.
    Symmetric ends make Σy ≡ Σx, so one moment pass suffices: edge
    base from the session cache, two node-sized degree joins, one
    4-number fold. Certificate is one row."""
    e0 = copurchase_edges_cached(spark, sf_dir)
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    pairs = e0.join(du, "u").join(dv, "v")
    ends = pairs.select(
        F.col("deg_u").alias("x"), F.col("deg_v").alias("y")
    ).unionByName(
        pairs.select(F.col("deg_v").alias("x"), F.col("deg_u").alias("y"))
    )
    s = ends.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * y")).alias("sxy"),
    ).collect()[0]
    n, sx, sxx, sxy = int(s["n"]), int(s["sx"]), int(s["sxx"]), int(s["sxy"])
    num = n * sxy - sx * sx
    den = n * sxx - sx * sx
    r = 0.0 if den == 0 else float(num) / float(den)
    return local_frame(
        spark,
        [(n, sx, sxx, sxy, r)],
        "n_edge_ends bigint, sum_deg bigint, sum_deg_sq bigint,"
        " sum_deg_prod bigint, assortativity double",
    )


_ASSORTATIVITY_SQL = f"""
WITH {_COPURCHASE_SQL},
deg AS (SELECT node, COUNT(*) AS deg
        FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY node),
ends AS (
  SELECT du.deg AS x, dv.deg AS y
  FROM e0 JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
  UNION ALL
  SELECT dv.deg, du.deg
  FROM e0 JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
),
s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(x * y) AS HUGEINT) AS sxy
      FROM ends)
SELECT CAST(n AS BIGINT) AS n_edge_ends,
       CAST(sx AS BIGINT) AS sum_deg,
       CAST(sxx AS BIGINT) AS sum_deg_sq,
       CAST(sxy AS BIGINT) AS sum_deg_prod,
       CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
            ELSE CAST(n * sxy - sx * sx AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)
       END AS assortativity
FROM s
"""


def graph_cc_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component census of the co-purchase graph: min-label
    propagation to the fixpoint (the shared ``connected_components``
    loop — one shuffle per round, lineage cut per round, convergence
    via the monotone label-sum potential), then component sizes folded
    into a digit-bucket histogram (same bit-portable bucketing as
    ``graph_degree_stats``). The output answers the first question you
    ask of any 100 TB graph — is it one giant component or dust? —
    in O(log sizes) rows. Oracle: recursive-CTE reachability closure
    with the min label folded at the end (closure is |component|²
    pairs — oracle-scale only; the Spark side stays edge-list-sized
    per round)."""
    pairs = copurchase_edges_cached(spark, sf_dir).select(
        F.col("u").alias("doc_a"), F.col("v").alias("doc_b")
    )
    comp = connected_components(pairs)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz")
    )
    agg = sizes.groupBy(
        F.length(F.col("sz").cast("string")).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum("sz").alias("n_nodes"),
        F.min("sz").alias("min_size"),
        F.max("sz").alias("max_size"),
    )
    return agg


_CC_CENSUS_SQL = f"""
WITH RECURSIVE {_COPURCHASE_SQL},
sym AS (SELECT u AS s, v AS d FROM e0 UNION ALL SELECT v, u FROM e0),
reach(node, lab) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM sym)
  UNION
  SELECT sym.d, r.lab FROM reach r JOIN sym ON sym.s = r.node
),
comp AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY cluster_id)
SELECT CAST(LENGTH(CAST(sz AS VARCHAR)) AS INT) AS bucket,
       COUNT(*) AS n_components,
       CAST(SUM(sz) AS BIGINT) AS n_nodes,
       MIN(sz) AS min_size, MAX(sz) AS max_size
FROM sizes GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# local clustering coefficient (kNN graph — embedding-manifold quality)
# ---------------------------------------------------------------------------


def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient distribution of the corpus kNN
    graph, reported per degree: cc(v) = 2·T(v)/(deg(v)·(deg(v)−1)) in
    ppm fixed-point, averaged over nodes of equal degree. On a kNN
    graph this is the embedding-manifold quality signal — high cc
    means neighborhoods agree with each other (locally flat manifold),
    low cc at high degree flags hub vectors whose neighbor lists are
    semantic noise.

    Per-node triangle counts need each triangle credited to ALL THREE
    vertices, so unlike graph_triangle_count's pure census this plan
    must EXPLODE the per-edge common-neighbor intersections — output
    Θ(T) rows. That is affordable here BY CONSTRUCTION: knn edges are
    degree-capped (k out-edges, bucket-occupancy-capped in-degree), so
    T ≤ n·k² — linear in corpus size. On the unbounded co-purchase
    graph exact local cc would inherit the Θ(m·√m) wall SCALING.md
    documents for exact closure; there, the DOULION-style sampled
    estimate (graph_triangle_estimate) is the scale path. Orientation,
    adjacency, and intersect follow graph_triangle_count's
    degree-oriented plan, applied to the session-cached knn edge
    substrate (knn_edges_cached); deg<2 nodes are excluded (cc
    undefined), triangle-free nodes report 0."""
    e0 = knn_edges_cached(spark, sf_dir)
    und = (
        e0.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    lower_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    o = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias(
                "src"
            ),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias(
                "dst"
            ),
        )
    )
    adj = o.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )
    nu = adj.select("src", F.col("nbrs").alias("nu"))
    nv = adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nv"))
    tri = (
        o.join(nu, "src")
        .join(nv, "dst")
        .select(
            "src", "dst", F.explode(F.array_intersect("nu", "nv")).alias("w")
        )
    )
    credits = (
        tri.select(F.col("src").alias("node"))
        .unionByName(tri.select(F.col("dst").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    per_node = (
        deg.filter(F.col("deg") >= 2)
        .join(credits, "node", "left")
        .select(
            "deg",
            F.expr(
                "coalesce(t, 0L) * 2000000L div (deg * (deg - 1))"
            ).alias("cc_ppm"),
        )
    )
    return per_node.groupBy("deg").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("sum(cc_ppm) div count(1)").alias("mean_cc_ppm"),
        F.max("cc_ppm").alias("max_cc_ppm"),
    ).select(F.col("deg").cast("int").alias("deg"), "n_nodes",
             "mean_cc_ppm", "max_cc_ppm")


def _clustering_coefficient_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        _ANN_KNN_GRAPH_SQL,
    )

    return f"""
WITH graph AS ({_ANN_KNN_GRAPH_SQL}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM graph WHERE src <> dst
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und
  ) GROUP BY node
),
o AS (
  SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
              THEN u ELSE v END AS src,
         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
              THEN v ELSE u END AS dst
  FROM und JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
),
tri AS (
  SELECT euv.src, euv.dst, euw.dst AS w
  FROM o euv
  JOIN o euw ON euw.src = euv.src
  JOIN o evw ON evw.src = euv.dst AND evw.dst = euw.dst
),
credits AS (
  SELECT node, COUNT(*) AS t FROM (
    SELECT src AS node FROM tri
    UNION ALL SELECT dst FROM tri
    UNION ALL SELECT w FROM tri
  ) GROUP BY node
),
per_node AS (
  SELECT d.deg,
         COALESCE(c.t, 0) * 2000000 // (d.deg * (d.deg - 1)) AS cc_ppm
  FROM deg d LEFT JOIN credits c ON c.node = d.node
  WHERE d.deg >= 2
)
SELECT CAST(deg AS INT) AS deg,
       COUNT(*) AS n_nodes,
       CAST(SUM(cc_ppm) // COUNT(*) AS BIGINT) AS mean_cc_ppm,
       CAST(MAX(cc_ppm) AS BIGINT) AS max_cc_ppm
FROM per_node GROUP BY deg
"""


QUERIES = {
    "graph_assortativity": graph_assortativity,
    "graph_clustering_coefficient": graph_clustering_coefficient,
    "graph_cc_census": graph_cc_census,
    "dedup_cluster_cc": dedup_cluster_cc,
    "dedup_cluster_sizes": dedup_cluster_sizes,
    "corpus_split_leakage_safe": corpus_split_leakage_safe,
    "dedup_keep_best": dedup_keep_best,
    "graph_pagerank": graph_pagerank,
    "graph_ppr": graph_ppr,
    "graph_link_predict": graph_link_predict,
    "graph_triangle_count": graph_triangle_count,
    "graph_triangle_estimate": graph_triangle_estimate,
    "graph_degree_stats": graph_degree_stats,
    "graph_bfs_reach": graph_bfs_reach,
    "graph_kcore": graph_kcore,
    "graph_community_lpa": graph_community_lpa,
    "graph_modularity": graph_modularity,
}
ORACLES = {
    "graph_assortativity": _ASSORTATIVITY_SQL,
    "graph_clustering_coefficient": _clustering_coefficient_sql(),
    "graph_cc_census": _CC_CENSUS_SQL,
    "dedup_cluster_cc": _CLUSTER_CC_SQL,
    "dedup_cluster_sizes": _CLUSTER_SIZES_SQL,
    "corpus_split_leakage_safe": _leakage_safe_sql(),
    "dedup_keep_best": _keep_best_sql(),
    "graph_link_predict": _link_predict_sql(),
    "graph_triangle_count": _TRIANGLE_SQL,
    "graph_triangle_estimate": _TRIANGLE_EST_SQL,
    "graph_degree_stats": _DEGREE_STATS_SQL,
    "graph_bfs_reach": _BFS_REACH_SQL,
    "graph_kcore": _kcore_sql(),
    "graph_community_lpa": _lpa_sql(),
    "graph_modularity": _modularity_sql(),
}
