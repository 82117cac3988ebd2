"""Skew mitigation: salted joins and two-phase distinct aggregation.

AQE's skew-join splitting (enabled in session.RUNTIME_CONF) handles
most runtime skew; these operators are the explicit fallback for
planned skew — a handful of hot keys known to dwarf the rest (the
'UNKNOWN' brand at 100 TB, a null-heavy join key, a celebrity user).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    num_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Inner equi join robust to hot keys: the fact side gets a deterministic
    salt in [0, num_salts); the dim side is replicated num_salts× so
    every (key, salt) bucket finds its dim row.  Hot fact keys spread
    over num_salts reducers instead of one.

    ``salt_source``: column whose hash picks the salt (defaults to a
    uniform spread via monotonically_increasing_id — deterministic
    within a run; pass a stable column for cross-run determinism).
    """
    salt_col = (
        F.pmod(F.hash(F.col(salt_source)), F.lit(num_salts))
        if salt_source
        else F.pmod(F.monotonically_increasing_id(), F.lit(num_salts))
    )
    f = fact.withColumn("__salt", salt_col.cast("int"))
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    out = f.join(d, on=[key, "__salt"])
    return out.drop("__salt")


def two_phase_count_distinct(
    df: DataFrame, group_key: str, distinct_col: str
) -> DataFrame:
    """count(DISTINCT x) per group without funnelling each group's full
    value set through one reducer: phase 1 dedups on (key, value) —
    spread across partitions — phase 2 counts per key.  NULL values are
    excluded, matching SQL ``count(DISTINCT x)`` (a NULL-counting
    variant would silently disagree with every SQL engine)."""
    return (
        df.select(group_key, distinct_col)
        .filter(F.col(distinct_col).isNotNull())
        .dropDuplicates([group_key, distinct_col])
        .groupBy(group_key)
        .agg(F.count("*").alias(f"n_distinct_{distinct_col}"))
    )


def key_skew_report(
    df: DataFrame, key_col: str, top_k: int = 10
) -> DataFrame:
    """Shuffle-skew diagnostic for a prospective join/group key: the
    ``top_k`` heaviest key values with their row share, plus the
    global key count and the share of a perfectly uniform key — the
    numbers that decide whether a key needs ``salted_join`` or an AQE
    skew hint BEFORE the 100 TB shuffle melts a reducer.

    One hash aggregate (map-side combined) + TakeOrderedAndProject;
    the global totals ride a broadcast scalar aggregate.  Determinism:
    ties order by key string ascending.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count("*").alias("n")
    )
    totals = counts.agg(
        F.sum("n").alias("__rows"), F.count("*").alias("__keys")
    )
    return (
        counts.orderBy(F.desc("n"), F.asc("key"))
        .limit(top_k)
        .crossJoin(F.broadcast(totals))
        .select(
            "key",
            F.col("n").cast("bigint").alias("n"),
            (F.col("n") / F.col("__rows")).alias("share"),
            (F.col("n") * F.col("__keys") / F.col("__rows")).alias(
                "x_uniform"
            ),
            F.col("__rows").cast("bigint").alias("total_rows"),
            F.col("__keys").cast("bigint").alias("n_keys"),
        )
    )
