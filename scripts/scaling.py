"""Per-operator scaling curves: run headline queries at several scale
factors and fit the growth exponent, to expose super-linear stages
before they matter at 100 TB.

    python scripts/scaling.py [sf_dir ...]   # default sf0.001 0.01 0.1

For each query: wall-clock per SF (noop sink, full plan execution) and
alpha = log(t_hi/t_lo) / log(sf_hi/sf_lo) between the two largest SFs.
alpha ≈ 0 → overhead-bound; ≈ 1 → linear (good); > 1.3 → super-linear
(flagged). Writes SCALING.md and prints one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q13_cust_order_distribution",
    "q_rollup_revenue",
    "q_events_sessionize",
    "q_range_join",
    "snap_row_manifest",
    "snap_diff",
    "snap_table_checksum",
    "dedup_exact",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "text_quality",
    "text_tokencount",
    "text_redact_pii",
    "sketch_hll_distinct",
    "snap_bloom_prefilter",
    "corpus_split",
    "corpus_decontaminate",
    "q_events_retention",
    "curate_corpus",
    "dedup_cluster_cc",
    "sketch_cms_topk",
    "sketch_hist_quantile",
    "corpus_mix_temperature",
    "doc_pack",
    "q21_waiting_suppliers",
    "dedup_incremental",
    "dq_profile",
    "dq_referential",
    "snap_compaction_plan",
    "snap_zorder_stats",
    "text_ngram_lm",
    "corpus_split_leakage_safe",
    "emb_pq_adc",
    "snap_cdc",
    "text_repetition",
    "corpus_shard_shuffle",
    "dedup_lsh_calibration",
]


def main() -> None:
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    sfs = [
        float(os.path.basename(d.rstrip("/")).replace("sf", ""))
        for d in sf_dirs
    ]

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entrymod
    from blog_snapshotbackup_azuredatalake_spark.session import get_session

    spark = get_session("scaling")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    times: dict[str, list[float]] = {name: [] for name in QUERIES}
    for sf_dir in sf_dirs:
        spark.read.parquet(f"{sf_dir}/region.parquet").count()  # warm
        for name in QUERIES:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times[name].append(round(time.perf_counter() - t0, 3))

    lines = [
        "# SCALING — per-operator growth curves",
        "",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}], noop sink, "
        "single warm session. alpha = log-time slope between the two "
        "largest SFs (1.0 = linear in data size; small times are "
        "overhead-bound so alpha underestimates there).",
        "",
        "| query | " + " | ".join(f"sf{sf} (s)" for sf in sfs)
        + " | alpha | flag |",
        "| --- | " + " | ".join("---" for _ in sfs) + " | --- | --- |",
    ]
    out: dict[str, dict] = {}
    for name in QUERIES:
        ts = times[name]
        alpha = (
            math.log(ts[-1] / ts[-2]) / math.log(sfs[-1] / sfs[-2])
            if len(ts) >= 2 and ts[-2] > 0
            else float("nan")
        )
        flag = "SUPER-LINEAR" if alpha > 1.3 else ""
        out[name] = {"times_s": ts, "alpha": round(alpha, 2), "flag": flag}
        lines.append(
            f"| {name} | "
            + " | ".join(f"{t:.2f}" for t in ts)
            + f" | {alpha:.2f} | {flag} |"
        )

    md_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    # the appendix tables (udf_bench, ann_quality, tokenizer_bench) live
    # after the first "## " heading — regenerating the curves must not
    # destroy them
    appendix = ""
    if os.path.exists(md_path):
        prev = open(md_path).read()
        idx = prev.find("\n## ")
        if idx != -1:
            appendix = prev[idx:]
    with open(md_path, "w") as f:
        f.write("\n".join(lines) + "\n" + appendix)
    print(json.dumps({"sfs": sfs, "queries": out}))


if __name__ == "__main__":
    main()
