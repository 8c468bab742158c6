"""Seeded input generator for the benchmark.

Everything the program reads during a run is made here from the
``--seed``: the same seed gives byte-identical parquet files. Nothing is
read from outside the checkout.

Two kinds of input:

* ``make_registry_lake`` writes the ten tables the registry entries read
  (``region`` … ``embeddings``) with the same schemas and value shapes as
  the project's TPC-H-style test data, at a chosen scale factor.
* ``make_backup_lake`` writes the five-table lake that the ``lake_backup``
  workload backs up, plus one directory of full table states per day of
  seeded churn (about 1% of rows per table change per day, as updates,
  inserts and deletes skewed toward recent keys). ``events`` also gets
  each day's change batch as a CDC file for ``commit_delta``. The
  expected checksum of every table on every day is written to
  ``checksums.json``.
"""

from __future__ import annotations

import json
import os
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# key column of each backed-up table; lineitem gets a single-column key
BACKUP_KEYS = {
    "orders": "o_orderkey",
    "lineitem": "l_id",
    "customer": "c_custkey",
    "events": "event_id",
    "documents": "doc_id",
}
CDC_TABLE = "events"
CHURN = 0.01  # share of each table's rows that changes per day
# scale of the registry lake's documents and embeddings, the only tables
# the text and similarity entries read
TEXT_SF = 0.05


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _ts(days_from: str, offsets_s: np.ndarray) -> np.ndarray:
    base = np.datetime64(days_from, "us")
    return base + (offsets_s * 1_000_000).astype("int64").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    out = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # 5% near-duplicates: another document's text plus one marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        out[i] = out[int(rng.integers(0, n))] + " dup"
    return out


# -- table makers (key ranges start at ``start``) ---------------------------
def customers(rng, start: int, n: int) -> pd.DataFrame:
    keys = np.arange(start, start + n, dtype="int64")
    return pd.DataFrame(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )


def orders(rng, start: int, n: int, n_cust: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(start, start + n, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2555, n) * 86400.0),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
        }
    )


def lineitems(rng, orderkeys: np.ndarray, n_part: int, n_supp: int) -> pd.DataFrame:
    per = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, per)
    ln = (np.arange(len(ok)) - np.repeat(np.cumsum(per) - per, per) + 1).astype(
        "int32"
    )
    n = len(ok)
    return pd.DataFrame(
        {
            "l_orderkey": ok.astype("int64"),
            "l_partkey": rng.integers(0, n_part, n).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n).astype("int64"),
            "l_linenumber": ln,
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2555, n) * 86400.0),
        }
    )


def events(rng, start: int, n: int, n_users: int, t0_s: float) -> pd.DataFrame:
    gaps = rng.exponential(26.0, n)
    return pd.DataFrame(
        {
            "event_id": np.arange(start, start + n, dtype="int64"),
            "ts": _ts("2024-01-01", t0_s + np.cumsum(gaps)),
            "user_id": rng.integers(0, n_users, n).astype("int64"),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents(rng, start: int, n: int) -> pd.DataFrame:
    texts = _texts(rng, n)
    return pd.DataFrame(
        {
            "doc_id": np.arange(start, start + n, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype("int32")),
        }
    )


def _arrow(df: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(df, preserve_index=False)


def make_registry_lake(out: str, seed: int, sf: float) -> None:
    """Write the ten registry tables at scale ``sf`` (0.1 ≈ 600k lineitem
    rows); ``documents`` and ``embeddings`` at scale ``TEXT_SF``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(50, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(50, int(200_000 * sf)), max(100, int(1_500_000 * sf))
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype="int32")),
                "r_name": REGIONS,
            }
        ),
        f"{out}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype="int32")),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
            }
        ),
        f"{out}/nation.parquet",
    )
    _write(_arrow(customers(rng, 0, n_cust)), f"{out}/customer.parquet")
    _write(
        _arrow(
            pd.DataFrame(
                {
                    "s_suppkey": np.arange(n_supp, dtype="int64"),
                    "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                    "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                    "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
                }
            )
        ),
        f"{out}/supplier.parquet",
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(
        _arrow(
            pd.DataFrame(
                {
                    "p_partkey": np.arange(n_part, dtype="int64"),
                    "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
                    "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                    "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
                    "p_size": rng.integers(1, 51, n_part).astype("int32"),
                    "p_retailprice": np.round(
                        900.0 + (np.arange(n_part) % 1000) / 10.0, 2
                    ),
                }
            )
        ),
        f"{out}/part.parquet",
    )
    o = orders(rng, 0, n_ord, n_cust)
    _write(_arrow(o), f"{out}/orders.parquet")
    li = lineitems(rng, o["o_orderkey"].to_numpy(), n_part, n_supp)
    _write(_arrow(li), f"{out}/lineitem.parquet")
    _write(
        _arrow(events(rng, 0, max(100, int(1_000_000 * sf)), n_cust // 10 or 1, 0.0)),
        f"{out}/events.parquet",
    )
    _write(_arrow(documents(rng, 0, max(100, int(50_000 * TEXT_SF)))), f"{out}/documents.parquet")
    _write(embeddings(rng, max(100, int(20_000 * TEXT_SF))), f"{out}/embeddings.parquet")


# -- backup lake with daily churn -------------------------------------------
def checksum(table: pa.Table) -> dict:
    """Row count plus an order-insensitive content hash: the sum, mod
    2**64, of one 64-bit hash per row over the columns in name order.
    Timestamps are compared as epoch microseconds, so a table read back
    through Spark (which adds a time zone) hashes like the written one."""
    cols = sorted(table.column_names)
    df = pd.DataFrame(
        {
            c: (
                table[c].cast(pa.timestamp("us")).cast(pa.int64()).to_numpy(zero_copy_only=False)
                if pa.types.is_timestamp(table[c].type)
                else table[c].to_pandas()
            )
            for c in cols
        },
        columns=cols,
    )
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype="uint64")
    return {"rows": table.num_rows, "hash": f"{int(h.sum(dtype='uint64')):016x}"}


def _recent_keys(rng, keys: np.ndarray, k: int) -> np.ndarray:
    """``k`` distinct keys drawn with weight rising toward the newest."""
    k = min(k, len(keys))
    w = np.exp(np.linspace(-3.0, 0.0, len(keys)))
    return rng.choice(keys, size=k, replace=False, p=w / w.sum())


def _mutate(rng, table: str, rows: pd.DataFrame) -> pd.DataFrame:
    """An update changes one or two payload columns of existing rows."""
    rows = rows.copy()
    n = len(rows)
    if table == "orders":
        rows["o_orderstatus"] = np.array(["F", "O", "P"])[rng.integers(0, 3, n)]
        rows["o_totalprice"] = _money(rng, 1000.0, 500000.0, n)
    elif table == "lineitem":
        rows["l_quantity"] = rng.integers(1, 51, n).astype("float64")
        rows["l_linestatus"] = np.array(["F", "O"])[rng.integers(0, 2, n)]
    elif table == "customer":
        rows["c_acctbal"] = _money(rng, -999.99, 9999.99, n)
    elif table == "events":
        rows["value"] = np.round(rng.exponential(50.0, n), 2)
    elif table == "documents":
        rows["lang"] = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    return rows


def _fresh(rng, table: str, start: int, n: int, state: dict[str, pd.DataFrame], day: int) -> pd.DataFrame:
    if table == "orders":
        return orders(rng, start, n, len(state["customer"]))
    if table == "lineitem":
        # a run of new line ids; order keys point at recent orders
        li = lineitems(rng, np.zeros(n, dtype="int64"), 2000, 100).iloc[:n]
        li["l_orderkey"] = rng.integers(
            max(0, len(state["orders"]) - 1000), len(state["orders"]), len(li)
        ).astype("int64")
        li.insert(0, "l_id", np.arange(start, start + len(li), dtype="int64"))
        return li
    if table == "customer":
        return customers(rng, start, n)
    if table == "events":
        return events(rng, start, n, 1500, 31 * 86400.0 + day * 86400.0)
    return documents(rng, start, n)


def make_backup_lake(out: str, seed: int, sf: float, days: int) -> None:
    """Write ``day_000`` (the initial lake) through ``day_<days>`` under
    ``out``, one parquet per table per day, plus ``events_cdc.parquet``
    per churn day and ``checksums.json``: per day and table, the
    expected checksum and the number of rows that changed that day."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(50, int(150_000 * sf))
    state: dict[str, pd.DataFrame] = {"customer": customers(rng, 0, n_cust)}
    state["orders"] = orders(rng, 0, max(100, int(1_500_000 * sf)), n_cust)
    li = lineitems(rng, state["orders"]["o_orderkey"].to_numpy(), 2000, 100)
    li.insert(0, "l_id", np.arange(len(li), dtype="int64"))
    state["lineitem"] = li
    state["events"] = events(rng, 0, max(100, int(1_000_000 * sf)), 1500, 0.0)
    state["documents"] = documents(rng, 0, max(100, int(50_000 * sf)))
    sums: dict[str, dict[str, dict]] = {}
    for day in range(days + 1):
        changed = dict.fromkeys(BACKUP_KEYS, 0)
        if day:
            for t, key in BACKUP_KEYS.items():
                cur = state[t]
                n_chg = max(3, int(len(cur) * CHURN))
                n_upd, n_ins = int(n_chg * 0.6), int(n_chg * 0.25)
                n_del = n_chg - n_upd - n_ins
                changed[t] = n_chg
                picked = _recent_keys(rng, cur[key].to_numpy(), n_upd + n_del)
                upd_keys, del_keys = picked[:n_upd], picked[n_upd:]
                upd = _mutate(rng, t, cur[cur[key].isin(upd_keys).to_numpy()])
                ins = _fresh(rng, t, int(cur[key].max()) + 1, n_ins, state, day)
                same = cur[~cur[key].isin(picked).to_numpy()]
                state[t] = (
                    pd.concat([same, upd, ins], ignore_index=True)
                    .astype(cur.dtypes.to_dict())
                    .sort_values(key, ignore_index=True)
                )
                if t == CDC_TABLE:
                    live = _arrow(pd.concat([upd, ins], ignore_index=True).astype(cur.dtypes.to_dict()))
                    n_tomb = len(del_keys)
                    tomb = pa.table(
                        {
                            f.name: (
                                pa.array(np.sort(del_keys).astype("int64"))
                                if f.name == key
                                else pa.nulls(n_tomb, f.type)
                            )
                            for f in live.schema
                        },
                        schema=live.schema,
                    )
                    _write(
                        pa.concat_tables([live, tomb]).append_column(
                            "_tombstone",
                            pa.array([False] * live.num_rows + [True] * n_tomb),
                        ),
                        f"{out}/day_{day:03d}/{t}_cdc.parquet",
                    )
        sums[f"{day}"] = {}
        for t in BACKUP_KEYS:
            tbl = _arrow(state[t])
            _write(tbl, f"{out}/day_{day:03d}/{t}.parquet")
            sums[f"{day}"][t] = {**checksum(tbl), "changed": changed[t]}
    with open(f"{out}/checksums.json", "w") as f:
        json.dump(sums, f, indent=1, sort_keys=True)


