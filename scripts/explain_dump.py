"""Dump ``.explain("formatted")`` for a list of registered query keys.

Plan claims are backed by committed ``plans/<dir>/<key>_{before,after}.txt``
files produced by this script (round 10's are in ``plans/r10/``).

    python scripts/explain_dump.py plans/r10 before emb_pq_adc ann_topk_ivfpq ...
    python scripts/explain_dump.py plans/r10 after  emb_pq_adc ...

Writes OUT_DIR/<key>_<tag>.txt for each key; a relative OUT_DIR is taken
from the repo root. For a "before" dump of an older commit, run this script
from a checkout of that commit. Plans are built (not
executed) — safe to run without contaminating timed measurements, but
the guard still refuses while another Spark JVM is alive.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
from _guard import assert_no_spark_jvm  # noqa: E402


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit("usage: explain_dump.py OUT_DIR TAG KEY [KEY ...]")
    out, tag, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    assert_no_spark_jvm()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod
    from blog_snapshotbackup_azuredatalake_spark.session import get_session

    spark = get_session("explain_dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    outdir = os.path.join(repo, out)
    os.makedirs(outdir, exist_ok=True)
    import contextlib
    import io

    for key in keys:
        df = qs[key](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        path = os.path.join(outdir, f"{key}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {key} — explain(formatted) at {sf_dir} [{tag}]\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
