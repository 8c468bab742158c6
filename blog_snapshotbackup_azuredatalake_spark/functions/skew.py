"""Skew-mitigation utilities: salting and two-phase aggregation.

AQE's skew-join splitting handles most cases at runtime; these are the
explicit tools for the pathologies AQE can't fix — a single hot key in a
shuffle-heavy aggregation, or a join where one key holds a double-digit
percentage of the fact side.

Salt values derive from ``xxhash64`` of the fact row's own columns —
deterministic (same row → same salt on every run/retry, which keeps
speculative execution and task retries consistent) but effectively
uniform. xxhash64 is engine-internal only (SURVEY.md §4): salting never
changes query RESULTS, so it needs no oracle portability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salt_column(df: DataFrame, n_salt: int) -> Column:
    """Deterministic salt in [0, n_salt) from all of the row's columns."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt))


def salted_join(
    facts: DataFrame,
    dims: DataFrame,
    key: str,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Inner/left join `facts` ⋈ `dims` on `key`, with the dim side
    replicated n_salt× and the fact side salted, so one hot key spreads
    over n_salt reducers instead of one straggler task.

    Result rows are identical to ``facts.join(dims, key, how)`` — only
    the shuffle distribution changes. Use when a key's share of the fact
    side exceeds what one task should own and the dim side is too big to
    broadcast outright (else just broadcast)."""
    salted_facts = facts.withColumn("_salt", salt_column(facts, n_salt))
    # explode_outer: constant-size sequence, skip the inferred size()>0
    # filter plain explode would add (SURVEY.md §6)
    replicated = dims.withColumn(
        "_salt", F.explode_outer(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return salted_facts.join(replicated, [key, "_salt"], how).drop("_salt")


# Salt width for two-phase top-k rank windows (round 10). A row_number
# window partitioned by a CONSTANT-cardinality key (the 20-query ANN
# panel, a handful of corpus sources) over a data-sized relation bounds
# the sort's parallelism at that cardinality no matter how large the
# corpus or the cluster — measured as 97–150 s warm-run swings at 2.4 M
# vectors from heap churn on a 48 M-row 20-partition ADC sort
# (SCALING.md round 9). 64 keeps |parts|·TOPK_SALT ≫ any local core
# count while phase 2 stays trivially small.
TOPK_SALT = 64


def two_phase_rank(
    df: DataFrame,
    order_cols,
    k: int,
    part_cols=("q_id",),
    salt_col: str = "vec_id",
    rank_name: str = "rnk",
) -> DataFrame:
    """Salted two-phase top-k rank window — exact, not approximate.

    Phase 1 ranks within (part_cols..., pmod(xxhash64(salt_col),
    TOPK_SALT)) — |parts|·TOPK_SALT cells, each sorting ~1/TOPK_SALT of
    the rows — and keeps the top k per cell; phase 2 re-ranks the
    |parts|·TOPK_SALT·k survivors with the original window and filters
    to rank ≤ k.

    Equivalence: ``order_cols`` must end in a tiebreak column unique
    within a partition (every call site uses vec_id / doc_id / tok), so
    the order is total. Any row in the overall top-k of its partition
    under that total order is a fortiori in the top-k of its salt
    cell, so phase 1 never drops a winner, and phase 2 applies the
    identical deterministic order — same rows, same rank values, same
    oracle hash (the salting machinery above applied to a rank window;
    round-9 verdict item 1)."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(TOPK_SALT))
    )
    w1 = Window.partitionBy(*part_cols, "_salt").orderBy(*order_cols)
    survivors = (
        salted.withColumn("_cell_rnk", F.row_number().over(w1))
        .filter(F.col("_cell_rnk") <= k)
        .drop("_cell_rnk", "_salt")
    )
    w2 = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return survivors.withColumn(
        rank_name, F.row_number().over(w2)
    ).filter(F.col(rank_name) <= k)


def two_phase_agg(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    n_salt: int = 16,
) -> DataFrame:
    """Skew-proof sum/count aggregation: partial-aggregate on
    (keys + salt), then final-aggregate on keys. Each output column
    `c` becomes `sum_c`; a `n_rows` count is always included.

    Spark's hash aggregate already map-side combines, so this only wins
    when a hot key floods the merge side too — the salt bounds any one
    reducer's share of a key at 1/n_salt."""
    salted = df.withColumn("_salt", salt_column(df, n_salt))
    partial = salted.groupBy(*keys, "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(c).alias(f"_s_{c}") for c in sum_cols],
    )
    return partial.groupBy(*keys).agg(
        F.sum("_n").alias("n_rows"),
        *[F.sum(f"_s_{c}").alias(f"sum_{c}") for c in sum_cols],
    )
