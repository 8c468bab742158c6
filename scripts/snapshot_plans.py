"""Dump ``explain("formatted")`` of the SnapshotManager plans on the
backup loop's hot path: the full snapshot's writes, the incremental
snapshot's delta write, ``verify()`` of that snapshot, and ``restore()``
of a full snapshot, of the incremental one and of a ``commit_delta``
chain.

    python scripts/snapshot_plans.py SF_DIR TAG OUT_DIR [PACKAGE_ROOT]

It builds a scratch store from ``SF_DIR/orders.parquet`` (a full
snapshot, an incremental one of a perturbed next day, then a
``commit_delta`` batch on top of it) and writes
``OUT_DIR/snapshot_full_write_TAG.txt``,
``snapshot_delta_write_TAG.txt``, ``verify_TAG.txt``,
``restore_full_TAG.txt``, ``restore_incremental_TAG.txt`` and
``restore_delta_TAG.txt``. The plans are captured from the calls
themselves (every frame handed to a parquet writer, in order, and the
frame verify runs, whether it collects it or writes it to a ``noop``
sink), so the script needs no knowledge of either revision's
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

    seen: list[tuple[str, str]] = []
    write, save, collect = (
        DataFrameWriter.parquet,
        DataFrameWriter.save,
        DataFrame.collect,
    )

    def parquet(self, path, *args, **kwargs):
        seen.append((f"{os.path.basename(path)}/", _explain(self._df)))
        return write(self, path, *args, **kwargs)

    def save_(self, *args, **kwargs):
        seen.append(("save", _explain(self._df)))
        return save(self, *args, **kwargs)

    def collect_(self):
        seen.append(("collect", _explain(self)))
        return collect(self)

    def captured(fn) -> list[tuple[str, str]]:
        seen.clear()
        fn()
        return list(seen)

    DataFrameWriter.parquet, DataFrameWriter.save = parquet, save_
    DataFrame.collect = collect_
    try:
        full_writes = captured(
            lambda: mgr.snapshot(orders, "orders", "o_orderkey")
        )
        delta_writes = captured(
            lambda: mgr.snapshot(next_day, "orders", "o_orderkey")
        )
        full, inc = mgr.snapshot_ids("orders")
        verify_action, verify_plan = captured(
            lambda: mgr.verify(next_day, "orders", inc)
        )[0]
    finally:
        DataFrameWriter.parquet, DataFrameWriter.save = write, save
        DataFrame.collect = collect
    batch = next_day.filter(key % 7 == 0).withColumn(
        "_tombstone", key % 14 == 0
    )
    chained = mgr.commit_delta(batch, "orders", "o_orderkey")
    plans = {
        "snapshot_full_write": "".join(
            f"## write to {target}\n{plan}" for target, plan in full_writes
        ),
        "snapshot_delta_write": dict(delta_writes)["data/"],
        "verify": f"## {verify_action}\n{verify_plan}",
        "restore_full": _explain(mgr.restore("orders", full)),
        "restore_incremental": _explain(mgr.restore("orders", inc)),
        "restore_delta": _explain(mgr.restore("orders", chained)),
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
