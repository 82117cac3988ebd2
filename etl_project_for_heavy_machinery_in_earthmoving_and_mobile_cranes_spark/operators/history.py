"""History maintenance (O3 union + O5 schema check).

Reference: xlsx concat after a column-name set check (nb cells 77-83,
prog.py:450-468).  Engine shape: the union and the schema check are
DataFrame operators; the history itself is a Delta table
(``sources.delta_lite``): a batch lands as one ``write_delta`` append or
``upsert_delta`` commit, a retried batch is a no-op through its ``txn``,
and year slices prune on the log's partition values and file stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class SchemaMismatch(ValueError):
    pass


def check_col_names(a: DataFrame, b: DataFrame) -> None:
    """O5: symmetric difference of column-name sets must be empty."""
    diff = set(a.columns) ^ set(b.columns)
    if diff:
        raise SchemaMismatch(f"column sets differ: {sorted(diff)}")


def append_history(hist: DataFrame, batch: DataFrame) -> DataFrame:
    """O3: schema-checked union (order-independent by name)."""
    check_col_names(hist, batch)
    return hist.unionByName(batch)


def year_slice(
    df: DataFrame, date_col: str, year: int, fmt: str | None = None
) -> DataFrame:
    """F3: partition-prunable year filter.  ``fmt`` parses string dates
    (e.g. the reference's 'yyyy/MM/dd'); date/timestamp columns pass
    through untouched."""
    c = F.col(date_col)
    if fmt is not None:
        c = F.to_date(c, fmt)
    elif dict(df.dtypes).get(date_col) == "string":
        c = F.coalesce(F.to_date(c), F.to_date(c, "yyyy/MM/dd"))
    return df.filter(F.year(c) == year)


def merge_upsert(
    current: DataFrame, updates: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Key-based upsert: rows in ``updates`` replace same-key rows in
    ``current``; new keys append.  The MERGE-INTO shape without a table
    format: anti-join out the superseded rows, union the updates.  One
    shuffle on the key (both inputs hash-partition for the anti join).
    The persisted twin is ``delta_lite.upsert_delta``: the same
    semantics as one commit that rewrites only the key buckets the
    updates touch."""
    keep = current.join(
        updates.select(*key_cols).dropDuplicates(), on=key_cols, how="left_anti"
    )
    return keep.unionByName(updates)


def merge_rollups(
    parts: list[DataFrame],
    keys: list[str],
    sum_cols: tuple[str, ...] = (),
    count_col: str | None = None,
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Incremental rollup maintenance: combine PARTIAL rollups by
    re-aggregating their union.  sum / count / min / max are mergeable
    aggregates, so maintaining a rollup over an append-only history
    costs O(|new batch| + |existing rollup|) per refresh — the full
    history is never rescanned (the difference between a tolerable
    nightly job and a 100 TB rescan).  Non-mergeable stats (avg,
    stddev) must be DERIVED downstream from merged sums and counts;
    a count column in a partial rollup merges by SUM, which is why
    ``count_col`` is summed here, never re-counted.
    """
    if not parts:
        raise ValueError("merge_rollups needs at least one partial rollup")
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), parts)
    aggs = [F.sum(c).alias(c) for c in sum_cols]
    if count_col is not None:
        aggs.append(F.sum(count_col).alias(count_col))
    aggs += [F.min(c).alias(c) for c in min_cols]
    aggs += [F.max(c).alias(c) for c in max_cols]
    return u.groupBy(*keys).agg(*aggs)


def read_with_schema_evolution(spark, paths: list[str]) -> DataFrame:
    """Read history batches whose schemas drifted (columns added over
    time): mergeSchema unions the parquet footers; missing columns read
    as NULL.  Footer merging is driver-side metadata work — cheap even
    over 10^5 files."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: "list[str]",
    compare_cols: "list[str] | None" = None,
) -> DataFrame:
    """Change-data classification between two table snapshots: one row
    per key that was ``added`` (new only), ``removed`` (old only) or
    ``changed`` (present in both, any compare column differs; NULLs
    compared null-safely).  Unchanged keys are dropped.

    The batch twin of CDC when no log is available — one full outer
    join on the key (single co-partitioned shuffle each side) and a
    flat comparison predicate; at 100 TB pre-bucket both snapshots on
    the key and the exchange disappears entirely.
    """
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in keys]
    o = old.select(*keys, *[F.col(c).alias(f"__o_{c}") for c in compare_cols])
    n = new.select(*keys, *[F.col(c).alias(f"__n_{c}") for c in compare_cols])
    # presence markers survive the outer join even when all payload is NULL
    o = o.withColumn("__in_o", F.lit(1))
    n = n.withColumn("__in_n", F.lit(1))
    j = o.join(n, on=keys, how="full_outer")
    differs = None
    for c in compare_cols:
        d = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        differs = d if differs is None else (differs | d)
    change = (
        F.when(F.col("__in_o").isNull(), "added")
        .when(F.col("__in_n").isNull(), "removed")
        .when(differs, "changed")
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )
