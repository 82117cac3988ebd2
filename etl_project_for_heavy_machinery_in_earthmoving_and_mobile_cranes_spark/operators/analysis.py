"""Analysis/report operators (G1–G9, W1–W3, O1–O4).

Reference: ``key_players_table`` (prog.py:610-645), ``key_capacity_interval``
(prog.py:664-689), ``top3_players`` (prog.py:693-694), pivots/value_counts
in the notebook cells.

All aggregations are plain hash aggregates with map-side partial
aggregation; the grand total for proportions uses a window over the
(already tiny) grouped result, not a second scan of the fact table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def group_share(
    df: DataFrame,
    key: str,
    amount_col: str,
    qty_col: str | None = None,
) -> DataFrame:
    """G1+G2: per-key sums plus percentage shares of the grand total."""
    aggs = [F.sum(amount_col).alias("amount")]
    if qty_col is not None:
        aggs.append(F.sum(qty_col).alias("qty"))
    g = df.groupBy(key).agg(*aggs)
    w = Window.partitionBy()
    # proportions computed in double even when the measure is DECIMAL
    # (exact-decimal aggregation); the decimal→double cast is IEEE-exact
    # and engine-independent, unlike decimal division.
    g = g.withColumn(
        "amount_prop",
        F.col("amount").cast("double") / F.sum("amount").over(w).cast("double") * 100,
    )
    if qty_col is not None:
        g = g.withColumn(
            "qty_prop",
            F.col("qty").cast("double") / F.sum("qty").over(w).cast("double") * 100,
        )
    return g


def group_share_pre_agg(g: DataFrame, key: str) -> DataFrame:
    """Shares of ``amount`` over an already-grouped table (one row per key)."""
    w = Window.partitionBy()
    return g.withColumn(
        "amount_prop",
        F.col("amount").cast("double") / F.sum("amount").over(w).cast("double") * 100,
    )


def fold_others(
    shares: DataFrame,
    key: str,
    threshold: float = 20.0,
) -> DataFrame:
    """W1 (prog.py:622-630): ascending cumulative ``amount_prop``; keys
    whose running cumulative share stays under ``threshold`` fold into
    'OTHERS', then re-aggregate.  One window over the grouped (small) table."""
    w = (
        Window.orderBy(F.col("amount_prop").asc(), F.col(key).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    folded = shares.withColumn("__cum", F.sum("amount_prop").over(w)).withColumn(
        key, F.when(F.col("__cum") < threshold, "OTHERS").otherwise(F.col(key))
    )
    value_cols = [c for c in shares.columns if c != key]
    return folded.groupBy(key).agg(*[F.sum(c).alias(c) for c in value_cols])


def _report_rank(key: str) -> Column:
    return (
        F.when(F.col(key) == "OTHERS", 1)
        .when(F.col(key) == "UNKNOWN", 2)
        .otherwise(0)
    )


def report_order(df: DataFrame, key: str) -> DataFrame:
    """O4: OTHERS then UNKNOWN forced to the bottom, rest by amount desc."""
    return df.orderBy(_report_rank(key), F.col("amount").desc())


def report_position(df: DataFrame, key: str, amount_col: str = "amount") -> DataFrame:
    """O4 ordering materialized as a 1-based ``report_pos`` column — for
    order-insensitive compare layers (the driver gate canonicalizes row
    order, so ORDER BY alone is unobservable there).  Deterministic
    tie-break: report rank, amount desc, key asc.  Single-partition
    window: only ever applied to the final report table (10¹–10² rows
    after W1 folding), never to fact-sized data."""
    w = Window.orderBy(_report_rank(key), F.col(amount_col).desc(), F.col(key).asc())
    return df.withColumn("report_pos", F.row_number().over(w))


def top_k(df: DataFrame, order_col: str, k: int = 3) -> DataFrame:
    """W3: top-k by measure (reference top3_players, prog.py:693-694)."""
    return df.orderBy(F.col(order_col).desc()).limit(k)


def value_counts(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """G4: frequency table, most frequent first."""
    return df.groupBy(*cols).count().orderBy(F.col("count").desc(), *cols)


def pivot_sum(
    df: DataFrame, index: str, pivot_col: str, value_col: str, values: Sequence[str] | None = None
) -> DataFrame:
    """G7: pivot_table(index, columns, values, aggfunc='sum').

    Pass explicit ``values`` at scale — it removes the extra distinct-scan
    Spark otherwise runs to discover pivot labels."""
    p = df.groupBy(index).pivot(pivot_col, values) if values else df.groupBy(index).pivot(pivot_col)
    return p.sum(value_col)


def keyword_diagnostics(df: DataFrame, text_col: str, keywords: Sequence[str]) -> DataFrame:
    """G8 (check_parts, prog.py:279-284): one pass, one count per keyword."""
    import re as _re

    aggs = [
        F.count(F.when(F.upper(F.col(text_col)).rlike(_re.escape(k.upper())), 1)).alias(k)
        for k in keywords
    ]
    return df.agg(*aggs)


def mode_per_group(
    df: DataFrame, keys: Sequence[str], value_col: str, out_col: str = "mode"
) -> DataFrame:
    """Deterministic per-group mode: most frequent value, ties broken by
    the smallest value.  Two hash aggregates (count per (keys, value),
    then a ``min_by`` winner per keys) — no window shuffle, and unlike
    ``F.mode`` the tie-break is pinned, so results are reproducible
    across runs and engines.  Returns (keys…, out_col, n)."""
    g = df.groupBy(*keys, value_col).agg(F.count("*").alias("n"))
    picked = g.groupBy(*keys).agg(
        F.min_by(
            F.struct(F.col(value_col), F.col("n")),
            F.struct((-F.col("n")).alias("neg_n"), F.col(value_col)),
        ).alias("__m")
    )
    return picked.select(
        *keys,
        F.col(f"__m.{value_col}").alias(out_col),
        F.col("__m.n").alias("n"),
    )


def pareto_frontier_2d(
    df: DataFrame,
    minimize: str,
    maximize: str,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Two-dimensional Pareto frontier (skyline) under STRICT domination:
    a row survives unless some other row in the same partition is
    strictly better on BOTH axes (smaller ``minimize`` AND larger
    ``maximize``).  Ties survive together.

    The naive skyline is a quadratic NOT EXISTS self-join; for two
    dimensions it collapses to one sorted pass: group to the best
    ``maximize`` per distinct ``minimize`` value, take the running max
    of that over strictly-smaller ``minimize`` values (rows-frame
    window, distinct values so "1 preceding" IS "strictly smaller"),
    and join the per-value verdict back.  The grouped table is
    |distinct minimize| — vocabulary-sized, so the join-back broadcasts;
    the only full-data shuffles are the group-by and the join's
    partitioning, both on ``partition_by + minimize``.
    """
    keys = [*partition_by, minimize]
    g = df.groupBy(*keys).agg(F.max(maximize).alias("_pf_max"))
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(minimize)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    best = g.select(
        *keys, F.max("_pf_max").over(w).alias("_pf_best_below")
    )
    out = df.join(F.broadcast(best), keys)
    return out.filter(
        F.col("_pf_best_below").isNull()
        | (F.col(maximize) >= F.col("_pf_best_below"))
    ).drop("_pf_best_below")


def frequent_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Association-rule mining over (basket, item) rows — the frequent-
    PAIR slice of FP-growth that answers the canonical market-basket
    questions with plain relational algebra: for each co-occurring item
    pair, ``support`` (baskets containing both), per-item basket counts,
    ``confidence`` both directions (P(b|a), P(a|b)) and ``lift``
    (support·N / (n_a·n_b)).

    Scale shape: ONE distinct pass, one equi self-join on the basket id
    (fan-out bounded by basket size, the same bound as the co-order
    graph build), two hash aggregates, one broadcast of the |items|-
    sized count table, one 1-row basket-count broadcast.
    ``min_support`` prunes the pair tail BEFORE the join-backs.  All
    ratios are integer-count divisions — shared-IEEE, oracle-exact."""
    b = baskets.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    n_baskets = b.select("__b").distinct().agg(F.count("*").alias("__n"))
    item_counts = b.groupBy(F.col("__i").alias("__item")).agg(
        F.count("*").alias("__ic")
    )
    left = b.select(F.col("__b"), F.col("__i").alias("item_a"))
    right = b.select(F.col("__b"), F.col("__i").alias("item_b"))
    pairs = (
        left.join(right, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return (
        pairs.join(
            F.broadcast(item_counts.select(F.col("__item").alias("item_a"),
                                           F.col("__ic").alias("n_a"))), "item_a")
        .join(
            F.broadcast(item_counts.select(F.col("__item").alias("item_b"),
                                           F.col("__ic").alias("n_b"))), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a", "item_b", "support",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (F.col("support") / F.col("n_a")).alias("conf_a_to_b"),
            (F.col("support") / F.col("n_b")).alias("conf_b_to_a"),
            (F.col("support") * F.col("__n")
             / (F.col("n_a").cast("double") * F.col("n_b"))).alias("lift"),
        )
    )


def multi_grain_report(
    df: DataFrame,
    dims: Sequence[str],
    grouping_sets: Sequence[Sequence[str]],
    aggs: Sequence[Column],
) -> DataFrame:
    """SURVEY §2.11 nice-to-have (VERDICT r10 #6): the key-players
    tables at MULTIPLE granularities in one pass — GROUP BY GROUPING
    SETS instead of N separate scans+aggregates unioned together.

    Scale shape: Spark plans grouping sets as a single Expand node
    (one input row fans out to one row per set it participates in)
    feeding ONE partial-aggregate + ONE shuffle — at 100 TB that is
    |sets|× map-side rows but still a single pass over the fact table
    and a single exchange, strictly better than the union-of-N-scans
    a report module would otherwise run.

    Disambiguation contract: an output dim is ``'ALL'`` where the
    grouping set rolled it up and ``'UNKNOWN'`` where the DATA value
    was genuinely NULL — distinguished with GROUPING(dim), never by
    testing the dim for NULL (a NULL data value and a rolled-up level
    are different facts; conflating them is the classic rollup bug).
    A ``grain`` column (bit string of GROUPING() flags, e.g. '011')
    keys each output row to its set.

    ``aggs`` are the caller's aggregate columns (already aliased);
    dims must be string columns (cast/bin upstream)."""
    gd = df.groupingSets([list(s) for s in grouping_sets], *[F.col(d) for d in dims])
    out = gd.agg(
        *aggs,
        *[F.grouping(d).cast("int").alias(f"__g_{d}") for d in dims],
    )
    sel = []
    for d in dims:
        sel.append(
            F.when(F.col(f"__g_{d}") == 1, F.lit("ALL"))
            .otherwise(F.coalesce(F.col(d), F.lit("UNKNOWN")))
            .alias(d)
        )
    grain = F.concat(*[F.col(f"__g_{d}").cast("string") for d in dims]).alias(
        "grain"
    )
    # Aggregate output names are captured POSITIONALLY: groupingSets
    # output is [dims…, aggs…, grouping flags…] in call order, so the
    # agg columns are exactly the len(aggs) names after the dims.
    # Name-exclusion filtering (not '__g_'-prefixed, not a dim) would
    # silently drop an aggregate the caller aliased like a dim or with
    # a '__g_' prefix (ADVICE r11).
    agg_names = out.columns[len(dims) : len(dims) + len(aggs)]
    return out.select(*sel, grain, *[out[c] for c in agg_names])
