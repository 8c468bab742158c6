"""ANN quality harness: recall@k of every approximate path against the
exact brute-force baseline, per scale factor.

    python scripts/ann_quality.py [sf_dir ...]

Appends the table to SCALING.md and prints one JSON line. Recall is the
fraction of exact top-k (q, neighbor) pairs the approximate method also
returns — the number that justifies (or indicts) each method's
candidate-pruning at scale.
"""

from __future__ import annotations

import json
import os
import sys

METHODS = [
    "ann_topk_lsh",
    "ann_topk_ivf",
    "ann_topk_ivf_trained",
]


def main() -> None:
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from blog_snapshotbackup_azuredatalake_spark.operators import similarity
    from blog_snapshotbackup_azuredatalake_spark.session import get_session

    spark = get_session("ann-quality")
    spark.sparkContext.setLogLevel("ERROR")

    def pairs(name: str, sf_dir: str) -> set:
        return {
            (r["q_id"], r["vec_id"])
            for r in similarity.QUERIES[name](spark, sf_dir).collect()
        }

    out: dict[str, dict[str, float]] = {}
    for sf_dir in sf_dirs:
        sf = os.path.basename(sf_dir.rstrip("/"))
        exact = pairs("ann_topk_bruteforce", sf_dir)
        out[sf] = {
            m: round(len(pairs(m, sf_dir) & exact) / len(exact), 3)
            for m in METHODS
        }
    print(json.dumps({"k": similarity.TOP_K, "recall": out}))

    md = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    sfs = list(out)
    # idempotent: drop any previous run's section before appending
    heading = f"## ANN recall@{similarity.TOP_K} vs exact brute force"
    if os.path.exists(md):
        text = open(md).read()
        idx = text.find(heading)
        if idx != -1:
            end = text.find("\n## ", idx)
            text = text[:idx].rstrip("\n") + (
                "\n" + text[end + 1:] if end != -1 else "\n"
            )
            open(md, "w").write(text)
    with open(md, "a") as f:
        f.write(
            f"\n## ANN recall@{similarity.TOP_K} vs exact brute force\n\n"
            "| method | " + " | ".join(sfs) + " |\n"
            "| --- | " + " | ".join("---" for _ in sfs) + " |\n"
        )
        for m in METHODS:
            f.write(
                f"| {m} | "
                + " | ".join(f"{out[sf][m]:.3f}" for sf in sfs)
                + " |\n"
            )


if __name__ == "__main__":
    main()
