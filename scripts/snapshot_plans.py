"""Dump ``explain("formatted")`` of the SnapshotManager plans on the
backup loop's hot path: the incremental snapshot's delta write,
``verify()`` of that snapshot, and ``restore()`` of a full snapshot.

    python scripts/snapshot_plans.py SF_DIR TAG OUT_DIR [PACKAGE_ROOT]

It builds a scratch store from ``SF_DIR/orders.parquet`` (a full
snapshot, then an incremental one of a perturbed next day) and writes
``OUT_DIR/snapshot_delta_write_TAG.txt``, ``verify_TAG.txt`` and
``restore_full_TAG.txt``. The plans are captured from the calls
themselves (the frame handed to the data writer, the frame verify
collects), so the script needs no knowledge of either revision's
internals. Each is explained at the moment of the call, so a cached
frame shows as the in-memory scan it is. ``PACKAGE_ROOT`` imports the
package from another checkout, to dump an older revision's plans with
the same script. Store and data paths are replaced by ``<store>`` and
``<sf>`` so before/after files diff cleanly.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import tempfile


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir, tag, out_dir = sys.argv[1:4]
    repo = sys.argv[4] if len(sys.argv) > 4 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    sys.path.insert(0, os.path.abspath(repo))
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot_manager import (
        SnapshotManager,
    )
    from blog_snapshotbackup_azuredatalake_spark.session import get_session
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    spark = get_session("snapshot_plans")
    spark.sparkContext.setLogLevel("ERROR")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    next_day = (
        orders.withColumn(
            "o_totalprice",
            F.when(key % 97 == 0, F.col("o_totalprice") + 10.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .filter(key % 89 != 3)
        .unionByName(
            orders.filter(key % 101 == 7).withColumn("o_orderkey", key + 100_000_000)
        )
    )
    store = tempfile.mkdtemp(prefix="snapshot_plans_")
    mgr = SnapshotManager(spark, store)
    full = mgr.snapshot(orders, "orders", "o_orderkey")

    seen: dict[str, str] = {}
    write, collect = DataFrameWriter.parquet, DataFrame.collect

    def parquet(self, path, *args, **kwargs):
        seen.setdefault(os.path.basename(path), _explain(self._df))
        return write(self, path, *args, **kwargs)

    def collect_(self):
        seen.setdefault("collect", _explain(self))
        return collect(self)

    DataFrameWriter.parquet, DataFrame.collect = parquet, collect_
    try:
        inc = mgr.snapshot(next_day, "orders", "o_orderkey")
        delta_write = seen["data"]
        seen.pop("collect", None)
        mgr.verify(next_day, "orders", inc)
        verify = seen["collect"]
    finally:
        DataFrameWriter.parquet, DataFrame.collect = write, collect
    plans = {
        "snapshot_delta_write": delta_write,
        "verify": verify,
        "restore_full": _explain(mgr.restore("orders", full)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, plan in plans.items():
        plan = plan.replace(store, "<store>").replace(
            os.path.abspath(sf_dir), "<sf>"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(
                f"# SnapshotManager {name} — explain(formatted) on orders"
                f" at {os.path.basename(sf_dir)} [{tag}]\n"
            )
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    shutil.rmtree(store)


if __name__ == "__main__":
    main()
