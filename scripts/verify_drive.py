"""Oracle drive: run registry entries on a VANILLA SparkSession (none of
the session factory's SQL confs, the way an external caller imports
``__spark_entry__``) and compare each with its DuckDB oracle — columns
sorted by name, rows sorted null-safely, values exactly equal.

    python scripts/verify_drive.py [SF_DIR] [KEY_OR_PREFIX,...]

SF_DIR defaults to the sf0.01 test data, the oracle-gate scale; a
``make_sfbig.py`` output (directories of part files) works too. The
session takes the default driver heap; for a larger SF raise it from
outside with Spark's own launcher variable, e.g.
``PYSPARK_SUBMIT_ARGS='--driver-memory 8g pyspark-shell'``. Keys
default to the whole registry; a prefix expands as in
``family_scale.py``. Runs the ``entry()`` smoke first, prints one line
per key (an entry without an oracle reports its row count) and exits 1
on any mismatch.
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from blog_snapshotbackup_azuredatalake_spark.sources import catalog  # noqa
from family_scale import expand  # noqa: E402


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(row[i] for i in order) for row in rows]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    qs, oracles = E.queries(), E.oracle_sql()
    names = (
        expand(sys.argv[2].split(","), list(qs))
        if len(sys.argv) > 2
        else sorted(qs)
    )
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    print(f"t1 smoke: {len(E.entry(spark).collect())} rows", flush=True)
    con = duckdb.connect()
    for t in catalog.TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"create view {t} as select * from '{path}'")
    fail = []
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            if name not in oracles:
                print(f"{name}: rows-only, {len(rows)} rows", flush=True)
                continue
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            if sorted(df.columns) != sorted(ocols):
                fail.append(
                    (name, f"schema {sorted(df.columns)} vs {sorted(ocols)}")
                )
                continue
            a, b = norm(rows, df.columns), norm(cur.fetchall(), ocols)
            if a != b:
                i = next(
                    (i for i, (x, y) in enumerate(zip(a, b)) if x != y),
                    min(len(a), len(b)),
                )
                fail.append(
                    (name,
                     f"values differ: {len(a)} vs {len(b)} rows; idx {i}: "
                     f"{a[i] if i < len(a) else None} vs "
                     f"{b[i] if i < len(b) else None}")
                )
            else:
                print(f"{name}: OK {len(a)} rows", flush=True)
        except Exception as exc:
            fail.append((name, f"EXC {type(exc).__name__}: {str(exc)[:400]}"))
    print("=" * 40)
    for name, msg in fail:
        print("FAIL", name, msg)
    if fail:
        sys.exit(1)
    print("ALL OK at", sf_dir)


if __name__ == "__main__":
    main()
