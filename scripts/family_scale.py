"""Cold composed run of registry entries at one SF — the family-suite
measurement behind every "cold suite" section of SCALING.md: one fresh
session, substrate caches empty, entries run in the order given, so the
first consumer of a shared substrate (grams/bands/pairs/CC labels,
co-purchase edges, kNN graph, LPA labels) pays its build and the rest
reuse it, exactly as a production pipeline composes them.

    SPARK_DRIVER_MEM=48g python scripts/family_scale.py SF_DIR KEYS

KEYS is a comma list of registry keys or key prefixes. A key runs
itself; a prefix (e.g. ``graph_``) runs every registry key that starts
with it, in registry order. Prints one JSON line per entry
({"q", "sec", "sf_dir"}) and a closing {"suite_total_sec", "sf_dir"}.
"""
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from _guard import assert_no_spark_jvm  # noqa: E402


def expand(tokens: list[str], keys: list[str]) -> list[str]:
    """Registry keys for a list of keys and key prefixes, in the order
    given (a prefix expands in registry order)."""
    out = []
    for tok in tokens:
        hits = [tok] if tok in keys else [k for k in keys if k.startswith(tok)]
        if not hits:
            sys.exit(f"no registry key matches {tok!r}")
        out += hits
    return out


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit("usage: family_scale.py SF_DIR KEY_OR_PREFIX[,...]")
    assert_no_spark_jvm()
    sf_dir = sys.argv[1]
    import __spark_entry__ as entrymod
    from blog_snapshotbackup_azuredatalake_spark.session import get_session

    qs = entrymod.queries()
    entries = expand(sys.argv[2].split(","), list(qs))
    spark = get_session("family-scale")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()  # warm JVM
    total = 0.0
    for name in entries:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = round(time.perf_counter() - t0, 2)
        total += dt
        print(json.dumps({"q": name, "sec": dt, "sf_dir": sf_dir}),
              flush=True)
    print(json.dumps({"suite_total_sec": round(total, 2),
                      "sf_dir": sf_dir}), flush=True)


if __name__ == "__main__":
    main()
