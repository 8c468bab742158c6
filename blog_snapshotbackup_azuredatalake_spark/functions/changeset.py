"""The change-set core of a keyed backup, in Spark and DuckDB SQL
(``sql_*``) forms: hash each row into a manifest, diff two states, fold a
base plus versioned deltas into a state, and certify a state by a digest.
``SnapshotManager`` writes, restores and verifies backups with these
definitions and the ``snap_*`` entries show them, so their DuckDB oracles
gate the code that writes backups. Keys are unique and non-null.

- A *hashed* frame is a keyed table plus its row hash in ``_row_md5``
  (``hashed``: ``row_hash`` of the row's encoded columns); a *manifest*
  is its ``(key, _row_md5)`` projection (``manifest``). A full
  snapshot's data is a hashed frame as written.
- ``diff(old, new, key)`` is ONE ``full_outer`` join of two hashed frames
  on the key. ``change`` classifies each key: ``added`` (in `new` only),
  ``removed`` (in `old` only), ``changed`` (hashes differ) or ``same``.
  The payload columns a caller names ride along: `old`'s prefixed
  ``_old_``, `new`'s under their own names; the other side's are NULL.
- ``delta(old, new, key)`` is the change batch turning `old` into `new`:
  `new`'s added and changed rows, plus a ``_tombstone`` row (payload
  NULL) for each removed key.
- ``fold_latest(parts, key)`` replays a base state and deltas, oldest
  first: the newest version of each key wins and tombstones drop out. It
  is one window over the union of all versions, so every version's
  payload, the base's included, is shuffled once by key.
- ``digest(md5)`` is the state fingerprint: the row count and the
  ``bit_xor`` of the 60-bit row hashes (``hash60``), order-insensitive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    hash60,
    row_hash,
    sql_hash60,
    sql_row_hash,
)

HASH = "_row_md5"  # the row hash column of a hashed frame
TOMBSTONE = "_tombstone"
CHANGES = ("added", "removed", "changed", "same")


def hashed(df: DataFrame, cols: list[str]) -> DataFrame:
    """`df` plus the row hash of the SQL expressions `cols`."""
    return df.withColumn(HASH, row_hash(*cols))


def manifest(df: DataFrame, key: str, cols: list[str]) -> DataFrame:
    """The (key, row hash) manifest of `df` over the expressions `cols`."""
    return df.select(key, row_hash(*cols).alias(HASH))


def diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    old_cols: list[str] = (),
    new_cols: list[str] = (),
) -> DataFrame:
    """(key, change, _old_<c> for `old_cols`, `new_cols`) of every key of
    either hashed frame, from one full_outer join on `key`."""
    o = old.select(
        F.col(key).alias("_old_key"),
        F.col(HASH).alias("_old_md5"),
        *[F.col(c).alias(f"_old_{c}") for c in old_cols],
    )
    n_md5, o_md5 = new[HASH], o["_old_md5"]
    change = (
        F.when(n_md5.isNull(), "removed")
        .when(o_md5.isNull(), "added")
        .when(n_md5 != o_md5, "changed")
        .otherwise("same")
    )
    return new.join(o, new[key] == o["_old_key"], "full_outer").select(
        F.coalesce(new[key], o["_old_key"]).alias(key),
        change.alias("change"),
        *[o[f"_old_{c}"] for c in old_cols],
        *[new[c] for c in new_cols],
    )


def delta(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """`new`'s columns (less its hash) and ``_tombstone`` for each key
    added, changed or removed between the hashed frames."""
    cols = [c for c in new.columns if c != HASH]
    change = F.col("change")
    return (
        diff(old, new, key, new_cols=[c for c in cols if c != key])
        .filter(change != "same")
        .select(*cols, (change == "removed").alias(TOMBSTONE))
    )


def count_changes() -> list[Column]:
    """Aggregates over a diff: its number of keys of each change class,
    named after the class."""
    return [F.count_if(F.col("change") == c).alias(c) for c in CHANGES]


def fold_latest(parts: list[DataFrame], key: str) -> DataFrame:
    """The state `parts` (a base, then deltas with ``_tombstone``, oldest
    first) replay to: the newest version per key, tombstones dropped."""
    rows = None
    for version, df in enumerate(parts):
        if TOMBSTONE not in df.columns:
            df = df.withColumn(TOMBSTONE, F.lit(False))
        df = df.withColumn("_version", F.lit(version))
        rows = df if rows is None else rows.unionByName(df)
    w = Window.partitionBy(key).orderBy(F.col("_version").desc())
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (~F.col(TOMBSTONE)))
        .drop("_rn", "_version", TOMBSTONE)
    )


def digest(md5: Column | str, rows: str = "rows", xor: str = "xor60") -> list[Column]:
    """Aggregates of the state digest over the row hash `md5`."""
    md5 = F.col(md5) if isinstance(md5, str) else md5
    return [F.count(F.lit(1)).alias(rows), F.bit_xor(hash60(md5)).alias(xor)]


# ---------------------------------------------------------------------------
# DuckDB SQL forms (for oracle queries); relations are names or (subqueries)
# ---------------------------------------------------------------------------


def sql_hashed(rel: str, cols: list[str]) -> str:
    return f"SELECT *, {sql_row_hash(cols)} AS {HASH} FROM {rel}"


def sql_manifest(rel: str, key: str, cols: list[str]) -> str:
    return f"SELECT {key}, {sql_row_hash(cols)} AS {HASH} FROM {rel}"


def sql_diff(
    old: str,
    new: str,
    key: str,
    old_cols: list[str] = (),
    new_cols: list[str] = (),
) -> str:
    carried = "".join(
        [f", o.{c} AS _old_{c}" for c in old_cols] + [f", n.{c}" for c in new_cols]
    )
    return f"""SELECT COALESCE(n.{key}, o.{key}) AS {key},
       CASE WHEN n.{HASH} IS NULL THEN 'removed'
            WHEN o.{HASH} IS NULL THEN 'added'
            WHEN n.{HASH} <> o.{HASH} THEN 'changed'
            ELSE 'same' END AS change{carried}
FROM {old} o FULL OUTER JOIN {new} n ON o.{key} = n.{key}"""


def sql_delta(old: str, new: str, key: str, cols: list[str]) -> str:
    """``delta`` of hashed relations whose data columns are `cols`."""
    d = sql_diff(old, new, key, new_cols=[c for c in cols if c != key])
    return f"""SELECT {", ".join(cols)}, change = 'removed' AS {TOMBSTONE}
FROM ({d}) WHERE change <> 'same'"""


def sql_count_changes() -> str:
    return ", ".join(
        f"COUNT(*) FILTER (WHERE change = '{c}') AS {c}" for c in CHANGES
    )


def sql_fold_latest(parts: list[str], key: str, cols: list[str]) -> str:
    """``fold_latest`` of a base relation and delta relations, all with
    data columns `cols`."""
    sel = ", ".join(cols)
    rows = [f"SELECT {sel}, FALSE AS {TOMBSTONE}, 0 AS _version FROM {parts[0]}"]
    rows += [
        f"SELECT {sel}, {TOMBSTONE}, {v} FROM {p}"
        for v, p in enumerate(parts[1:], 1)
    ]
    return f"""SELECT {sel} FROM ({" UNION ALL ".join(rows)})
QUALIFY ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY _version DESC) = 1
    AND NOT {TOMBSTONE}"""


def sql_digest(md5: str, rows: str = "rows", xor: str = "xor60") -> str:
    return f"COUNT(*) AS {rows}, BIT_XOR({sql_hash60(md5)}) AS {xor}"
