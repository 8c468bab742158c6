"""Plan-shape guards: the explain-audit findings as regression tests.

These assert optimizer-visible properties (pushdown reached the scan,
dims broadcast, no inlined heavy exprs below a Generate) so a refactor
that silently degrades the 100 TB story fails CI, not the benchmark.
"""

import io
import contextlib

import pyspark.sql.functions as F

from blog_snapshotbackup_azuredatalake_spark.operators import dedup, snapshot
from blog_snapshotbackup_azuredatalake_spark.plans import analytics
from tests.conftest import SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_filter_pushdown_reaches_scan(spark):
    plan = _plan(analytics.q6_forecast_revenue(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert any("l_shipdate" in line or "GreaterThan" in line for line in pushed)


def test_q6_scan_prunes_columns(spark):
    plan = _plan(analytics.q6_forecast_revenue(spark, SF_DIR))
    read = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    # 16-column lineitem must reach the scan as just the 4 used columns
    assert read.count(":") - 1 <= 4, read


def test_q3_dims_broadcast(spark):
    plan = _plan(analytics.q3_shipping_priority(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_q5_no_sort_merge_of_dims(spark):
    plan = _plan(analytics.q5_local_supplier(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_watermark_pushdown(spark):
    # the range bound itself must reach the scan (row-group pruning), not
    # just IsNotNull — filtering the derived epoch-micros expression
    # instead of the native ts column silently loses it
    plan = _plan(snapshot.snap_incr_watermark(spark, SF_DIR))
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert any("GreaterThan(ts" in line for line in pushed), pushed


def test_restore_asof_pushdown(spark):
    plan = _plan(snapshot.snap_restore_asof(spark, SF_DIR))
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert any("LessThanOrEqual(ts" in line for line in pushed), pushed


def test_no_heavy_expr_below_generate(spark):
    """The inferred-filter explode trap (SURVEY.md §6): no md5 may appear
    in a Filter node of the postings plan — gram hashing must stay in
    the projections."""
    docs = dedup._docs_with_grams(spark, SF_DIR)
    postings = docs.select(
        "doc_id", F.explode_outer("sh").alias("g")
    ).filter(F.col("g").isNotNull())
    plan = _plan(postings)
    for block in plan.split("\n\n"):
        if block.strip().startswith(("(3) Filter", "Condition")) or (
            "Filter" in block.splitlines()[0] if block.splitlines() else False
        ):
            assert "md5" not in block, block[:500]


def test_grams_and_bands_scan_arrow_batches(spark):
    """The gram sets and the band index grams_cached/mh_bands_cached
    persist are Arrow batch scans of the text (functions/tokens.py): no
    interpreted lambda, no Generate and no Exchange between the scan and
    the band keys."""
    grams = dedup._docs_with_grams(spark, SF_DIR)
    for plan in (_plan(grams), _plan(dedup.mh_bands(grams))):
        _scan_feeds_map_in_arrow(plan)
        assert "Generate" not in plan and "lambdafunction" not in plan, plan


def _plan_nodes(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_ivf_centroids_broadcast_corpus_never_shuffles_for_assign(
    spark, monkeypatch
):
    import __spark_entry__ as entrymod
    from blog_snapshotbackup_azuredatalake_spark.operators import similarity

    plan = _plan(similarity.ann_topk_ivf(spark, SF_DIR))
    # the probe join must be a broadcast hash join, the corpus must
    # never sort-merge, and no crossJoin/BNLJ anywhere
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "SortMergeJoin" not in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]
    assert "MapInArrow" in plan and "array_min" not in plan

    # every entry the nearest-centroid search serves assigns MAP-ONLY:
    # each Arrow batch scan (Centroids.assign, the PQ panel scan) reads
    # straight from the scan — no join, crossJoin or exchange below it —
    # and no plan sorts or takes the minimum of a literal centroid array
    # (the array_sort/array_min search it replaces). The
    # localCheckpoint barriers are lifted so every scan stays in the plan.
    monkeypatch.setattr(
        type(spark.range(1)), "localCheckpoint", lambda self, eager=True: self
    )
    qs = entrymod.queries()
    for name in (
        "ann_hybrid_rrf", "ann_topk_ivf", "ann_topk_ivf_trained",
        "ann_filtered_search", "ann_index_balance", "ann_nprobe_curve",
        "ann_ivf_upsert", "ann_topk_ivfpq", "ann_topk_ivfpq_residual",
        "emb_kmeans", "emb_centroid_assign", "emb_cluster_purity",
        "emb_silhouette_lite",
    ):
        df = qs[name](spark, SF_DIR)
        plan = _plan(df)
        assert "array_min(" not in plan and "array_sort(" not in plan, name
        root = df._jdf.queryExecution().executedPlan().executedPlan()
        searches = [n for n in _plan_nodes(root) if "MapInArrow" in n.nodeName()]
        assert searches, name
        for n in searches:
            below = [m.nodeName() for m in _plan_nodes(n)][1:]
            assert not any(
                bad in m
                for m in below
                for bad in ("Join", "CartesianProduct", "Exchange")
            ), (name, below)


def test_q21_decorrelation_produced_no_nested_loop(spark):
    from blog_snapshotbackup_azuredatalake_spark.plans import analytics_ext

    plan = _plan(analytics_ext.q21_waiting_suppliers(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_words_broadcast(spark):
    plan = _plan(snapshot.snap_bloom_prefilter(spark, SF_DIR))
    # the ~8 KB word array must broadcast into both probe joins
    assert plan.count("BroadcastHashJoin") >= 2, plan[:800]


def test_cms_sketch_broadcasts_onto_probe(spark):
    from blog_snapshotbackup_azuredatalake_spark.operators import sketch

    plan = _plan(sketch.sketch_cms_topk(spark, SF_DIR))
    # the ≤1024-cell sketch must broadcast into the estimate join; the
    # key side must never sort-merge against it
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "SortMergeJoin" not in plan, plan[:800]


def test_hist_quantile_has_no_corpus_sort(spark):
    from blog_snapshotbackup_azuredatalake_spark.operators import sketch

    plan = _plan(sketch.sketch_hist_quantile(spark, SF_DIR))
    # stats + cumulative histogram broadcast; the only Sort allowed is
    # the certification rank over `v` (windowed), never a join-driven
    # corpus SortMergeJoin
    assert "SortMergeJoin" not in plan, plan[:800]


def test_mix_temperature_thresholds_broadcast(spark):
    from blog_snapshotbackup_azuredatalake_spark.operators import curation

    plan = _plan(curation.corpus_mix_temperature(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "SortMergeJoin" not in plan, plan[:800]


def test_doc_pack_windows_are_sharded(spark):
    from blog_snapshotbackup_azuredatalake_spark.operators import curation

    plan = _plan(curation.doc_pack(spark, SF_DIR))
    # the running-sum window must partition by (source, shard), never by
    # source alone — one partition per source doesn't survive 100 TB
    win_blocks = [
        b
        for b in plan.split("\n(")
        if b.splitlines() and b.splitlines()[0].endswith("Window")
    ]
    assert win_blocks, plan[:800]
    for b in win_blocks:
        spec = [line for line in b.splitlines() if "windowspecdefinition" in line]
        assert spec and all("shard" in line for line in spec), b[:500]


def test_q9_part_filter_before_join(spark):
    from blog_snapshotbackup_azuredatalake_spark.plans import analytics_ext

    plan = _plan(analytics_ext.q9_product_profit(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the widget LIKE filter must sit under a scan, not above a join
    assert "PushedFilters: [IsNotNull(p_name)" in plan or (
        "Contains(p_name" in plan
    ), plan[:800]


def test_pq_entries_scan_arrow_batches(spark):
    """Each PQ entry encodes, sums its ADC tables and shortlists in one
    Arrow batch scan with the query tables in its closure: MapInArrow fed
    by the scan, and no pair relation (cartesian product or nested-loop
    join) anywhere in the plan."""
    from blog_snapshotbackup_azuredatalake_spark.operators import similarity

    for entry in (
        similarity.emb_pq_adc,
        similarity.emb_pq_residual_audit,
        similarity.ann_topk_ivfpq,
        similarity.ann_topk_ivfpq_residual,
        similarity.ann_ivfpq_recall,
    ):
        plan = _plan(entry(spark, SF_DIR))
        _scan_feeds_map_in_arrow(plan)
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lm_passes_scan_arrow_batches(spark):
    """Both passes of both bigram LMs read the text in Arrow batches: the
    count pass (summed by one small aggregate, then collected) and the
    score pass (the model in its closure, one row per document). No
    Generate over a token stream, no join to the model."""
    from blog_snapshotbackup_azuredatalake_spark.operators import text

    docs = text.load_table(spark, SF_DIR, "documents")
    for df in (
        text._bigram_counts(docs),
        text.text_ngram_lm(spark, SF_DIR),
        text.text_perplexity_filter(spark, SF_DIR),
    ):
        plan = _plan(df)
        _scan_feeds_map_in_arrow(plan)
        assert "Generate" not in plan and "SortMergeJoin" not in plan, plan
        assert "BroadcastHashJoin" not in plan, plan


def test_local_frames_scan_local_tables(spark):
    """A result built on the driver plans a LocalTableScan of an Arrow
    table (catalog.local_frame), never a scan of a pickled Python list,
    which runs a job in a Python worker. The package makes no other
    DataFrame from local data."""
    import os

    import __spark_entry__ as entrymod
    from blog_snapshotbackup_azuredatalake_spark.sources import catalog

    base = os.path.dirname(os.path.dirname(catalog.__file__))
    callers = [
        os.path.relpath(os.path.join(root, f), base)
        for root, _, files in os.walk(base)
        for f in files
        if f.endswith(".py")
        and "createDataFrame(" in open(os.path.join(root, f)).read()
    ]
    assert callers == [os.path.join("sources", "catalog.py")], callers
    qs = entrymod.queries()
    for name in ("diag_observe_metrics", "snap_schema_drift", "snap_txn_conflict"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_repetition_single_generate_no_python(spark):
    """text_repetition must explode the tagged (n, gram) union ONCE —
    two separate explodes would shuffle the corpus token stream twice —
    and stay entirely in JVM built-ins (no Python/Arrow eval nodes)."""
    from blog_snapshotbackup_azuredatalake_spark.operators import text

    plan = _plan(text.text_repetition(spark, SF_DIR))
    # formatted explain lists each node twice (tree + detail); count
    # the detail headers, which are unique per physical node
    import re

    generates = re.findall(r"^\(\d+\) Generate", plan, re.M)
    assert len(generates) == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_shard_shuffle_reads_only_needed_columns(spark):
    """corpus_shard_shuffle keys on doc_id/source only; the scan must
    not drag the text payload through the shard exchange."""
    from blog_snapshotbackup_azuredatalake_spark.operators import curation

    plan = _plan(curation.corpus_shard_shuffle(spark, SF_DIR))
    read = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "text" not in read, read


def _scan_feeds_map_in_arrow(plan: str) -> None:
    """The corpus scan feeds MapInArrow directly: no Exchange or join
    between them, and no pair join (nested loop or cartesian) at all."""
    assert "MapInArrow" in plan, plan
    tree = plan.split("\n\n")[0].splitlines()
    at = next(i for i, line in enumerate(tree) if "MapInArrow" in line)
    depth = tree[at].index("MapInArrow")
    below = []
    for line in tree[at + 1:]:
        if len(line) - len(line.lstrip(" :|+-")) <= depth:
            break
        below.append(line)
    assert any("Scan parquet" in line for line in below), tree
    assert not any(
        op in line for line in below for op in ("Exchange", "Join")
    ), tree
    assert "NestedLoopJoin" not in plan and "Cartesian" not in plan, tree


def test_semantic_decontamination_broadcasts_bench(spark):
    """The bench side rides to the corpus scan in the MapInArrow closure,
    and each vector's max folds in the same task: no Exchange or
    SortMergeJoin between the corpus scan and the per-vector max — a
    shuffled corpus here would be the 100 TB scale-killer."""
    from blog_snapshotbackup_azuredatalake_spark.operators import curation

    plan = _plan(curation.corpus_decontaminate_semantic(spark, SF_DIR))
    _scan_feeds_map_in_arrow(plan)
    assert "SortMergeJoin" not in plan


def test_panel_scorers_scan_arrow_batches(spark, monkeypatch):
    """The query-panel scorers build no pair relation: each Arrow batch
    of the corpus scan keeps its per-query top-k, and only those
    candidates are shuffled for the global window. The localCheckpoint
    barriers over the candidates are lifted so the scan stays in the
    plan; the kNN graph substrate is built (and checkpointed) first."""
    from blog_snapshotbackup_azuredatalake_spark.operators import graph, similarity

    graph.knn_graph_cached(spark, SF_DIR)
    monkeypatch.setattr(
        type(spark.range(1)), "localCheckpoint", lambda self, eager=True: self
    )
    for entry in (
        similarity.ann_topk_bruteforce,
        similarity.emb_truncation_audit,
        similarity.ann_knn_graph_recall,
        similarity.emb_binary_hamming,
        similarity.emb_quantize_sq8,
        similarity.emb_mmr_diversify,
        similarity.emb_hard_negatives,
    ):
        _scan_feeds_map_in_arrow(_plan(entry(spark, SF_DIR)))


def test_bucketed_join_has_no_join_key_exchange(spark):
    """q_bucketed_join's whole point: both sides are bucketed on the
    join key, so the sort-merge join runs with ZERO exchanges keyed on
    orderkey — the only allowed Exchange is the final groupBy on
    o_orderpriority."""
    from blog_snapshotbackup_azuredatalake_spark.operators import scale

    plan = _plan(scale.q_bucketed_join(spark, SF_DIR))
    assert "SortMergeJoin" in plan, plan[:800]
    exchanges = [
        line for line in plan.splitlines()
        if "hashpartitioning" in line
    ]
    assert exchanges and all(
        "orderkey" not in line for line in exchanges
    ), exchanges


def test_triangle_adjacency_broadcasts_not_sorted(spark):
    """The intersect closure must consume the adjacency via broadcast
    hash joins (the probed decision at demo scale) and must never sort
    the oriented edge stream — a SortMergeJoin here is the 66GB wedge
    regression's sibling."""
    from blog_snapshotbackup_azuredatalake_spark.operators import graph

    plan = _plan(graph.graph_triangle_count(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "array_intersect" in plan


def test_user_paths_window_is_user_partitioned(spark):
    """The trigram window must partition by user (per-user sorts, no
    global event sort below the lead() pass)."""
    from blog_snapshotbackup_azuredatalake_spark.plans import analytics_ext

    plan = _plan(analytics_ext.q_events_user_paths(spark, SF_DIR))
    assert "partitionBy=[user_id" in plan.replace(" ", "").replace(
        '"', ""
    ) or "hashpartitioning(user_id" in plan


def test_mm_shard_pack_window_is_block_sharded(spark):
    from blog_snapshotbackup_azuredatalake_spark.operators import multimodal

    plan = _plan(multimodal.mm_shard_pack(spark, SF_DIR))
    # the running-byte-sum window must partition FINER than source
    # alone (doc_pack rule): one giant source must not serialize its
    # whole asset manifest onto a single task
    win_blocks = [
        b
        for b in plan.split("\n(")
        if b.splitlines() and b.splitlines()[0].endswith("Window")
    ]
    assert win_blocks, plan[:800]
    for b in win_blocks:
        spec = [
            line
            for line in b.splitlines()
            if "windowspecdefinition" in line
        ]
        assert spec and all("block" in line for line in spec), b[:500]


def test_hybrid_rrf_fusion_stays_on_tiny_lists(spark):
    """The fusion is a full-outer of two rank-filtered (≤20-row) lists
    — full-outer can't broadcast, so SMJ of tiny inputs is the right
    plan; what must NEVER appear is an unkeyed corpus-sized join. The
    only cross joins allowed are the one-row stat/query broadcasts."""
    from blog_snapshotbackup_azuredatalake_spark.operators import similarity

    plan = _plan(similarity.ann_hybrid_rrf(spark, SF_DIR))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    # both modality lists are rank-pruned before the fusion join
    assert plan.count("row_number") >= 2


def test_dedup_embedding_anchor_contract_never_shuffles_corpus(spark):
    """The SemDeDup rewrite (round 5): anchors are bounded by
    construction (≤ 2^EMB_ANCHOR_DIMS rows) and must come back as a
    broadcast hash join; the old within-bucket self-join was
    OUTPUT-quadratic on cluster-structured data (243 s of the 334 s
    cold sf10 suite). A SortMergeJoin on the probe side means the
    corpus is being shuffled for the anchor lookup again."""
    plan = _plan(dedup.dedup_embedding(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_simhash_probe_is_broadcast_only(spark):
    """Per-doc band-anchor contract (round 5): the probe side is 4
    broadcast hash joins against the ≤ 4·256-row anchor relation; the
    retired banded self-join was output- AND plan-quadratic (359 s of
    the 479 s cold sf30 suite). The only shuffle below the result is
    the per-doc majority aggregation."""
    plan = _plan(dedup.dedup_simhash(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sliding_dau_range_join_broadcasts_day_grid(spark):
    """The DAU range join's build side is the |days| grid (calendar-
    bounded); a nested loop is fine ONLY because that side is tiny —
    assert it broadcasts and the corpus reduces to distinct pairs
    below it (one Exchange on (day, user))."""
    from blog_snapshotbackup_azuredatalake_spark.plans import analytics_ext

    plan = _plan(analytics_ext.q_events_sliding_dau(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_supplier_lead_time_dims_broadcast(spark):
    """supplier/nation must broadcast; the only real shuffle is the
    lineitem⋈orders fact join."""
    from blog_snapshotbackup_azuredatalake_spark.plans import analytics_ext

    plan = _plan(analytics_ext.q_supplier_lead_time(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
