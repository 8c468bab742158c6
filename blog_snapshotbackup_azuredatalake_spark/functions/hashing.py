"""Portable hashing helpers (identical results in Spark and DuckDB).

Snapshot verification and near-dup candidate generation both hinge on
content hashes that any engine can recompute. Spark's ``xxhash64``/``hash``
are engine-specific, so everything oracle-checkable derives from md5 of an
explicit string encoding:

- ``row_hash``: md5 hex of columns joined by the ASCII unit separator
  (chr(31)) — a byte no testdata column contains, so the encoding is
  injective for these schemas.
- ``hash60``: first 15 hex chars of an md5 hex digest → non-negative
  int64 (60 bits). DuckDB equivalent (``sql_hash60``):
  ``cast(concat('0x', substr(hex, 1, 15)) as bigint)``. This is the one
  definition of the truncation; ``md5_int60`` and ``row_hash_int`` build
  on it, and operators call it directly (``hash60(F.md5(c))`` hashes a
  NULL ``c`` to NULL, where ``md5_int60`` hashes it as ``''``).

Engine-internal hashing (salting, non-oracle buckets) may use the faster
built-in ``xxhash64``; nothing comparable across engines does.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "\x1f"  # ASCII unit separator


def _str(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    # NULL-safe: encode null as empty string (concat_ws drops nulls, which
    # would alias ("a", null) with ("a", "") — coalesce keeps arity visible
    # because the separator count is preserved).
    return F.coalesce(col.cast("string"), F.lit(""))


def row_hash(*cols: Column | str) -> Column:
    """md5 hex digest of the unit-separator-joined string encoding."""
    return F.md5(F.concat_ws(SEP, *[_str(c) for c in cols]))


def hash60(hex_col: Column) -> Column:
    """First 15 hex digits of an md5 hex digest as a 60-bit int64."""
    return F.conv(F.substring(hex_col, 1, 15), 16, 10).cast("bigint")


def md5_int60(c: Column | str) -> Column:
    """Deterministic 60-bit non-negative int64 from any column."""
    return hash60(F.md5(_str(c)))


def row_hash_int(*cols: Column | str) -> Column:
    """60-bit int64 content hash of a row (for bit_xor checksums)."""
    return hash60(row_hash(*cols))


def sql_row_hash(cols: list[str]) -> str:
    """DuckDB SQL mirroring ``row_hash`` (for oracle queries)."""
    parts = ", ".join(f"coalesce(cast({c} as varchar), '')" for c in cols)
    return f"md5(concat_ws(chr(31), {parts}))"


def sql_hash60(hex_sql: str) -> str:
    """DuckDB SQL mirroring ``hash60`` of a hex-digest expression."""
    return f"cast(concat('0x', substr({hex_sql}, 1, 15)) as bigint)"


def sql_row_hash_int(cols: list[str]) -> str:
    """DuckDB SQL mirroring ``row_hash_int``."""
    return sql_hash60(sql_row_hash(cols))


def sql_md5_int60(expr: str) -> str:
    """DuckDB SQL mirroring ``hash60(F.md5(expr))`` of a string expression."""
    return sql_hash60(f"md5({expr})")
