"""§2C dedup + similarity suites vs DuckDB oracle at sf0.001."""

import pytest

from blog_snapshotbackup_azuredatalake_spark import substrate
from blog_snapshotbackup_azuredatalake_spark.functions.pq import PQ_M
from blog_snapshotbackup_azuredatalake_spark.operators import dedup, graph, similarity
from tests.conftest import SF_DIR, assert_matches_oracle


@pytest.mark.parametrize("name", sorted(dedup.QUERIES))
def test_dedup_matches_oracle(spark, ddb, name):
    df = dedup.QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, ddb, dedup.ORACLES[name])


@pytest.mark.parametrize("name", sorted(similarity.ORACLES))
def test_similarity_matches_oracle(spark, ddb, name):
    df = similarity.QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, ddb, similarity.ORACLES[name])


def test_mmr_matches_pure_python_reference(spark):
    # independent greedy MMR over Spark's own shortlist rel values —
    # must agree with the applyInPandas output exactly (same floats,
    # same tie rule)
    import numpy as np

    lam = similarity.MMR_LAMBDA
    short = similarity._mmr_shortlist(spark, SF_DIR).collect()
    by_q = {}
    for r in short:
        by_q.setdefault(r["q_id"], []).append(r)
    expected = {}
    for q_id, rows in by_q.items():
        rows = sorted(rows, key=lambda r: (-r["rel"], r["vec_id"]))
        ids = [r["vec_id"] for r in rows]
        rel = [r["rel"] for r in rows]
        mat = np.vstack([r["embedding"] for r in rows]).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        chosen, avail = [], list(range(len(ids)))
        for rank in range(1, min(similarity.MMR_K, len(ids)) + 1):
            best, best_score, best_pen = None, None, 0.0
            for i in avail:
                pen = max((sims[i, j] for j in chosen), default=0.0)
                score = lam * rel[i] - (1.0 - lam) * pen
                if best is None or score > best_score or (
                    score == best_score and ids[i] < ids[best]
                ):
                    best, best_score, best_pen = i, score, pen
            chosen.append(best)
            avail.remove(best)
            expected[(q_id, rank)] = (ids[best], rel[best], best_pen)

    got = {
        (r["q_id"], r["mmr_rank"]): (
            r["vec_id"], r["relevance"], r["diversity_penalty"]
        )
        for r in similarity.emb_mmr_diversify(spark, SF_DIR).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k][0] == expected[k][0], (k, got[k], expected[k])
        assert got[k][1] == pytest.approx(expected[k][1], abs=1e-12)
        assert got[k][2] == pytest.approx(expected[k][2], abs=1e-12)


def test_mmr_first_pick_is_most_relevant_and_diverse_after(spark):
    rows = similarity.emb_mmr_diversify(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q_id, members in by_q.items():
        members.sort(key=lambda r: r["mmr_rank"])
        # rank 1 = pure relevance (no penalty yet)
        assert members[0]["diversity_penalty"] == 0.0
        assert len(members) == min(similarity.MMR_K, len(members))
        # relevance of rank-1 is the max of the selected set
        assert members[0]["relevance"] == max(m["relevance"] for m in members)


def test_ngram_finds_planted_dups(spark):
    n = dedup.dedup_ngram_jaccard(spark, SF_DIR).count()
    assert n > 0, "expected planted near-duplicates at sf0.001"


def test_containment_scores_valid_and_superset_of_jaccard_gate(spark):
    rows = dedup.dedup_containment(spark, SF_DIR).collect()
    assert rows, "expected planted near-duplicates at sf0.001"
    for r in rows:
        # containment >= jaccard always (min-size denominator <= union)
        assert r["containment"] >= r["jaccard"] - 1e-12, r
        assert 0.0 <= r["containment"] <= 1.0 + 1e-12, r
        assert r["containment"] >= dedup.CONTAINMENT_THRESHOLD


def test_minhash_recall_vs_exact(spark):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    mh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash(spark, SF_DIR).collect()
    }
    assert mh <= exact, "minhash must not invent pairs (same verify filter)"
    if exact:
        assert len(mh) / len(exact) >= 0.5, (mh, exact)


def test_ivf_recall_vs_exact(spark):
    exact = {
        (r["q_id"], r["vec_id"])
        for r in similarity.ann_topk_bruteforce(spark, SF_DIR).collect()
    }
    ivf = {
        (r["q_id"], r["vec_id"])
        for r in similarity.ann_topk_ivf(spark, SF_DIR).collect()
    }
    assert len(ivf & exact) / len(exact) >= 0.3, (
        f"IVF recall collapsed: {len(ivf & exact)}/{len(exact)}"
    )


def test_brute_force_topk_shape(spark):
    rows = similarity.ann_topk_bruteforce(spark, SF_DIR).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r["rnk"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_ivf_trained_recall_and_shape(spark):
    exact = {
        (r["q_id"], r["vec_id"])
        for r in similarity.ann_topk_bruteforce(spark, SF_DIR).collect()
    }
    rows = similarity.ann_topk_ivf_trained(spark, SF_DIR).collect()
    got = {(r["q_id"], r["vec_id"]) for r in rows}
    # measured 0.83 at sf0.001; generous floor so data regen doesn't flake
    assert len(got & exact) / len(exact) >= 0.6
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r["rnk"])
    for q, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), (q, rnks)


def test_substring_spans_detect_planted_dups(spark):
    from tests.conftest import SF_DIR

    rows = dedup.dedup_substring(spark, SF_DIR).collect()
    # the corpus plants near-duplicate docs, so repeated spans must
    # exist somewhere, and coverage is a valid share everywhere
    assert sum(r["n_rep_spans"] for r in rows) > 0
    for r in rows:
        assert 0.0 <= r["dup_span_share"] <= 1.0
        assert r["n_rep_spans"] <= r["n_spans"]


def test_pq_adc_recall_and_shape(spark, ddb):
    got = similarity.emb_pq_adc(spark, SF_DIR).collect()
    assert got and all(1 <= r["rnk"] <= similarity.TOP_K for r in got)
    assert all(r["adc_fp"] >= 0 and r["d2"] >= 0.0 for r in got)
    pq_pairs = {(r["q_id"], r["vec_id"]) for r in got}
    # exact L2 top-k ground truth (PQ's metric is L2, not cosine)
    ex_pairs = set(
        (q, v)
        for q, v in ddb.execute(f"""
          WITH pairs AS (
            SELECT q.vec_id q_id, b.vec_id vec_id,
                   list_reduce(list_transform(range(1, 1 + len(q.embedding)),
                     i -> (CAST(q.embedding[i] AS DOUBLE)
                           - CAST(b.embedding[i] AS DOUBLE)) ^ 2),
                     (x, y) -> x + y) d2
            FROM embeddings q JOIN embeddings b ON b.vec_id <> q.vec_id
            WHERE q.vec_id < {similarity.N_QUERIES})
          SELECT q_id, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                         ORDER BY d2, vec_id) rnk FROM pairs)
          WHERE rnk <= {similarity.TOP_K}""").fetchall()
    )
    # quantize+refine keeps most true neighbors (0.80 measured here)
    assert len(pq_pairs & ex_pairs) / len(ex_pairs) > 0.6


def test_ann_recall_audit_quality_floor(spark):
    from blog_snapshotbackup_azuredatalake_spark.operators.similarity import (
        N_QUERIES,
        ann_recall_audit,
    )

    rows = ann_recall_audit(spark, SF_DIR).collect()
    assert len(rows) == N_QUERIES
    mean_recall = sum(r["recall"] for r in rows) / len(rows)
    # the IVF path's whole reason to exist: usable recall at map-only cost
    assert mean_recall >= 0.5, mean_recall
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)


def test_knn_classify_conservation(spark):
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    rows = similarity.emb_label_knn_classify(spark, SF_DIR).collect()
    n_emb = load_table(spark, SF_DIR, "embeddings").count()
    # every vector gets exactly one prediction (knn graph covers all)
    assert sum(r["n_vectors"] for r in rows) == n_emb
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n_vectors"]
        assert r["accuracy"] == r["n_correct"] / r["n_vectors"]


def test_sq8_quantization_near_lossless(spark):
    rows = similarity.emb_quantize_sq8(spark, SF_DIR).collect()
    # int8 reconstruction error (~(mx-mn)/510 per dim) must not disturb
    # top-5 retrieval on this corpus — measured 1.0 at sf0.001/sf0.01
    mean = sum(r["overlap_frac"] for r in rows) / len(rows)
    assert mean >= 0.9, mean


def test_filtered_search_respects_predicate_and_recall(spark):
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )
    from pyspark.sql import functions as F

    rows = similarity.ann_filtered_search(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["label"] == similarity.FILTER_LABEL
    # deterministic contiguous ranks per query
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r["rnk"])
    for q, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), (q, rnks)
    # every hit is genuinely in the filtered corpus
    valid = {
        r["vec_id"]
        for r in load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("label") == similarity.FILTER_LABEL)
        .select("vec_id")
        .collect()
    }
    assert {r["vec_id"] for r in rows} <= valid


def test_ivfpq_rank_contract_and_recall(spark):
    rows = similarity.ann_topk_ivfpq(spark, SF_DIR).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        # refine step orders by exact d2, so d2 is monotone in rank
        assert [r["d2"] for r in rs] == sorted(r["d2"] for r in rs)
        assert all(r["vec_id"] != q for r in rs)
    # composition sanity: IVF pruning caps recall at ann_topk_ivf's for
    # the same probed lists; require the PQ scan not to destroy it
    exact = {
        (r["q_id"], r["vec_id"])
        for r in similarity.ann_topk_bruteforce(spark, SF_DIR).collect()
    }
    got = {(r["q_id"], r["vec_id"]) for r in rows}
    assert len(got & exact) / len(exact) >= 0.2


def test_index_balance_covers_corpus(spark):
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    rows = similarity.ann_index_balance(spark, SF_DIR).collect()
    n = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_vectors"] for r in rows) == n  # every vector in a list
    assert len(rows) <= similarity.IVF_NLIST
    fp = similarity.BALANCE_FP
    for r in rows:
        assert r["share_fp"] == r["n_vectors"] * fp // n
        assert r["imbalance_fp"] == (
            r["n_vectors"] * similarity.IVF_NLIST * fp // n
        )
        assert r["is_hot"] == (
            r["imbalance_fp"] > similarity.BALANCE_HOT * fp
        )


def test_ivf_upsert_conserves_and_flags(spark):
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    rows = similarity.ann_ivf_upsert(spark, SF_DIR).collect()
    n = load_table(spark, SF_DIR, "embeddings").count()
    n_new = (n + similarity.UPSERT_MOD - 1) // similarity.UPSERT_MOD
    assert sum(r["n_before"] for r in rows) == n - n_new
    assert sum(r["n_added"] for r in rows) == n_new
    for r in rows:
        assert r["n_after"] == r["n_before"] + r["n_added"]
        assert r["growth_fp"] == (
            r["n_added"] * similarity.BALANCE_FP
            // max(r["n_before"], 1)
        )


def test_pq_residual_audit_shares_sum_to_one(spark):
    rows = similarity.emb_pq_residual_audit(spark, SF_DIR).collect()
    assert len(rows) == PQ_M
    assert {r["s"] for r in rows} == set(range(PQ_M))
    fp = similarity.BALANCE_FP
    # floor'd shares sum to ≤ 1.0 and within PQ_M ulps of it
    tot = sum(r["err_share_fp"] for r in rows)
    assert fp - PQ_M <= tot <= fp
    for r in rows:
        assert 0 <= r["mean_err_fp"] <= r["max_err_fp"]


def test_nprobe_curve_monotone(spark):
    rows = sorted(
        similarity.ann_nprobe_curve(spark, SF_DIR).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in rows] == sorted(similarity.NPROBE_GRID)
    # more probes -> monotonically more candidates and no recall loss
    for a, b in zip(rows, rows[1:]):
        assert b["n_candidates"] > a["n_candidates"]
        assert b["recall_fp"] >= a["recall_fp"]
        assert b["n_hits"] >= a["n_hits"]
    for r in rows:
        assert r["recall_fp"] == r["n_hits"] * similarity.BALANCE_FP // r["k_total"]


def test_dedup_substrate_cache_reuse_and_teardown(spark):
    """The near-dup family shares one build-if-absent substrate chain
    (grams → bands → pairs → CC labels) and the graph family its own
    bases, in ONE session cache: one clear() tears both down and the
    rebuilt substrates yield identical rows."""
    substrate.clear()

    def build():
        pairs = sorted(
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_pairs_cached(spark, SF_DIR).collect()
        )
        labels = sorted(
            tuple(r) for r in graph.lpa_labels_cached(spark, SF_DIR).collect()
        )
        return pairs, labels

    first = build()
    # both chains registered their entries, keyed by (app, sf_dir, name)
    names = {k[2] for k in substrate.CACHE}
    assert {"grams", "mh_bands", "minhash_pairs"} <= names
    assert {"copurchase_edges", "lpa_labels"} <= names
    # a second call returns the SAME cached frame (no rebuild)
    assert dedup.minhash_pairs_cached(spark, SF_DIR) is substrate.CACHE[
        substrate.key(spark, SF_DIR, "minhash_pairs")
    ]
    assert graph.lpa_labels_cached(spark, SF_DIR) is substrate.CACHE[
        substrate.key(spark, SF_DIR, "lpa_labels")
    ]
    # the family names are the one cache and the one clear
    assert dedup._DEDUP_CACHE is graph._GRAPH_CACHE is substrate.CACHE
    dedup.dedup_cache_clear()
    assert not substrate.CACHE
    assert first == build()


def test_cc_labels_cached_consistent_with_pairs(spark):
    """Every pair endpoint carries a label; both ends of a verified
    pair agree on the cluster; labels are ≤ their doc_id's min reach."""
    pairs = dedup.minhash_pairs_cached(spark, SF_DIR)
    labels = dedup.cc_labels_cached(spark, SF_DIR)
    lab = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    for r in pairs.collect():
        assert lab[r["doc_a"]] == lab[r["doc_b"]]
        assert lab[r["doc_a"]] <= min(r["doc_a"], r["doc_b"])


def test_persisted_fills_its_cache_in_one_job(spark):
    """``substrate.persisted`` materializes its base with one job (a
    ``noop`` write; ``count()`` ran three), and the next action reads the
    cache instead of the source."""
    from pyspark.sql import functions as F

    from tests.test_snapshot_jobs import _jobs

    base = dedup.load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.length("text").alias("n")
    )
    df, jobs = _jobs(spark, lambda: substrate.persisted(base))
    try:
        assert jobs == 1, jobs
        qe = df.groupBy("n").count()._jdf.queryExecution()
        assert "InMemoryTableScan" in qe.executedPlan().toString()
    finally:
        df.unpersist()
