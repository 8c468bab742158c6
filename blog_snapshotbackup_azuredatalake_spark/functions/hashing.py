"""Portable hashing helpers (identical results in Spark and DuckDB).

Snapshot verification and near-dup candidate generation both hinge on
content hashes that any engine can recompute. Spark's ``xxhash64``/``hash``
are engine-specific, so everything oracle-checkable derives from md5 of an
explicit string encoding:

- ``row_hash``: md5 hex of columns joined by the ASCII unit separator
  (chr(31)) — a byte no testdata column contains, so the encoding is
  injective for these schemas. Its arguments, and ``row_hash_int``'s,
  are Spark SQL expression strings built into one ``F.expr`` (one py4j
  call, where a ``Column`` chain costs about thirty per column, for the
  same optimized plan). A plain column name (letters, digits and
  underscores) is quoted with backticks; any other name must come quoted.
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

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "\x1f"  # ASCII unit separator


def _sql_str(c: str) -> str:
    """NULL-safe string encoding of the SQL expression or column name `c`:
    concat_ws drops nulls, which would alias ("a", null) with ("a", ""),
    so NULL encodes as '' and the separator count keeps the arity."""
    c = f"`{c}`" if re.fullmatch(r"\w+", c) else c
    return f"coalesce(cast({c} as string), '')"


def row_hash(*cols: str) -> Column:
    """md5 hex digest of the unit-separator-joined string encoding of the
    SQL expressions `cols`, built as one expression."""
    parts = ", ".join(_sql_str(c) for c in cols)
    return F.expr(f"md5(concat_ws('\\u{ord(SEP):04x}', {parts}))")


def hash60(hex_col: Column) -> Column:
    """First 15 hex digits of an md5 hex digest as a 60-bit int64."""
    return F.conv(F.substring(hex_col, 1, 15), 16, 10).cast("bigint")


def md5_int60(c: Column | str) -> Column:
    """Deterministic 60-bit non-negative int64 from any column."""
    col = F.col(c) if isinstance(c, str) else c
    return hash60(F.md5(F.coalesce(col.cast("string"), F.lit(""))))


def row_hash_int(*cols: str) -> Column:
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
