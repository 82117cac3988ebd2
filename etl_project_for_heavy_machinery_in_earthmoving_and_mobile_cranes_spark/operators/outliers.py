"""X1 — price-outlier marking vs per-group median (prog.py:287-316).

Spark shape of ``mark_outliers``: a window median over the group keys
→ one ``when`` cascade.  The window's exchange on the keys is the only
shuffle; there is no join back.

The reference's term-variant has asymmetric bounds (prog.py:303 filters
by term for the upper bound but not the lower) — documented intent
(symmetric) is implemented; divergence recorded in COMPAT.md.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mark_outliers(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lo: float = 0.8,
    hi: float = 1.2,
    unknown_if=None,
    unknown_label: str = "UNKNOWN",
) -> DataFrame:
    """Label each row 'yes' / 'no' / ``unknown_label`` vs its group
    median, in column ``outliers``.

    ``unknown_if``: optional Column marking rows that cannot be judged
    (reference: model unknown, capacity unknown, or used machine).
    ``unknown_label``: the reference pipeline's golden output uses
    lowercase 'unknown' for this column (unlike the 'UNKNOWN' sentinel
    of brand/model/type), so the compat pipeline overrides the default.
    """
    v = F.col(value_col)
    # a row with a NULL key has no group median (equi-key semantics: NULL
    # matches nothing), so it is judged unknown
    keyed = reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in keys])
    med = F.when(keyed, F.median(v).over(Window.partitionBy(*keys)))
    # output columns: the keys first, then the rest in input order
    out = df.select(*keys, *[c for c in df.columns if c not in keys])
    out = out.withColumn("__med", med)
    verdict = (
        F.when(F.col("__med").isNull() | v.isNull(), unknown_label)
        .when((v >= hi * F.col("__med")) | (v <= lo * F.col("__med")), "yes")
        .otherwise("no")
    )
    if unknown_if is not None:
        verdict = F.when(unknown_if, unknown_label).otherwise(verdict)
    return out.withColumn("outliers", verdict).drop("__med")


def iqr_outliers(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    k: float = 1.5,
) -> DataFrame:
    """Per-group Tukey fences: exact Q1/Q3, fences at ``Q1 - k·IQR`` /
    ``Q3 + k·IQR``, and the count of rows outside them.

    Complements ``mark_outliers`` (median-ratio rule from the
    reference, `data_processing_program_20240520.py:287-316`) with the
    distribution-aware rule an analyst expects.  Fences are rounded to
    4dp before comparison so the flag is stable across engines whose
    exact-percentile interpolation differs in the last ulp.  One
    grouped percentile pass + one broadcast join back — at scale the
    group-stats table is group-cardinality-sized, always the broadcast
    side.
    """
    stats = df.groupBy(*keys).agg(
        F.percentile(value_col, 0.25).alias("__q1"),
        F.percentile(value_col, 0.75).alias("__q3"),
    )
    fences = stats.select(
        *keys,
        F.round(F.col("__q1") - k * (F.col("__q3") - F.col("__q1")), 4).alias(
            "lo_fence"
        ),
        F.round(F.col("__q3") + k * (F.col("__q3") - F.col("__q1")), 4).alias(
            "hi_fence"
        ),
    )
    v = F.col(value_col)
    return (
        df.join(F.broadcast(fences), list(keys))
        .groupBy(*keys)
        .agg(
            F.first("lo_fence").alias("lo_fence"),
            F.first("hi_fence").alias("hi_fence"),
            F.count("*").alias("n"),
            F.count(
                F.when((v < F.col("lo_fence")) | (v > F.col("hi_fence")), 1)
            ).alias("n_outliers"),
        )
    )


# robust-z cut (Iglewicz-Hoban) and the MAD-to-sigma scale
_MAD_K, _MAD_CONSISTENCY = 3.5, 1.4826


def mad_outliers(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Per-group robust-z outliers via Median Absolute Deviation.

    MAD = median(|x − median(x)|); a row is an outlier when
    ``|x − med| > 3.5 · 1.4826 · MAD`` (1.4826 scales MAD to σ under
    normality; k=3.5 is the textbook Iglewicz-Hoban cut).  Unlike the
    reference's fixed ±20 %-of-median rule (mark_outliers,
    `data_processing_program_20240520.py:287-316`), the threshold adapts
    to each group's own spread, and unlike Tukey fences it is 50 %-
    breakdown robust.

    Shape: two grouped exact-median passes over the fact (each one
    shuffle on the group key, map-side partial agg) with broadcast
    join-backs of the group-cardinality-sized stats tables.  Both
    medians are rounded to 4dp before the comparison so the flag is
    stable across engines whose exact-percentile interpolation differs
    in the last ulp.  Returns one row per group:
    (keys…, med, mad, n, n_outliers).
    """
    v = F.col(value_col)
    med = df.groupBy(*keys).agg(F.round(F.median(v), 4).alias("med"))
    with_med = df.join(F.broadcast(med), list(keys))
    mad = with_med.groupBy(*keys).agg(
        F.first("med").alias("med"),
        F.round(F.median(F.abs(v - F.col("med"))), 4).alias("mad"),
    )
    return (
        df.join(F.broadcast(mad), list(keys))
        .groupBy(*keys)
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.count("*").alias("n"),
            F.count(
                F.when(F.abs(v - F.col("med")) > _MAD_K * _MAD_CONSISTENCY * F.col("mad"), 1)
            ).alias("n_outliers"),
        )
    )


def winsorize(
    df: DataFrame,
    keys: Sequence[str],
    val: str,
    lo: float = 0.05,
    hi: float = 0.95,
    round_bounds: int | None = None,
) -> DataFrame:
    """Clip ``val`` to its per-group [lo, hi] exact percentiles
    (winsorization), in column ``{val}_wins`` — the robust-mean
    companion of the IQR/MAD outlier markers: instead of flagging
    tails, pin them to the fence so downstream means aren't
    tail-dominated.

    ``round_bounds`` rounds the fences before clipping; cross-engine
    interpolated percentiles agree to ~4dp, so oracle-checked pipelines
    pin the fences at that precision.

    One percentile aggregate per group (grouped result is
    |groups|-sized → broadcast join-back; no second shuffle of the fact
    table) then a scalar ``least/greatest`` clip.  Exact percentiles
    sort each group's values; at 100 TB swap in approx_percentile and
    the same clip survives unchanged.
    """
    v = F.col(val)
    b = df.groupBy(*keys).agg(
        F.percentile(v, lo).alias("_w_lo"),
        F.percentile(v, hi).alias("_w_hi"),
    )
    if round_bounds is not None:
        b = b.select(
            *keys,
            F.round("_w_lo", round_bounds).alias("_w_lo"),
            F.round("_w_hi", round_bounds).alias("_w_hi"),
        )
    out = df.join(F.broadcast(b), list(keys))
    return out.withColumn(
        f"{val}_wins",
        F.least(F.greatest(v, F.col("_w_lo")), F.col("_w_hi")),
    )


def feature_scale(
    df: DataFrame,
    keys: Sequence[str],
    val: str,
    round_to: int | None = None,
    moments_decimal: str | None = None,
) -> DataFrame:
    """Per-group feature scaling for ML feature prep, three variants in
    one operator: z-score ((v-mean)/stddev), robust score
    ((v-median)/IQR — outlier-insensitive), and percent-rank (the ECDF
    position in [0,1] — distribution-free).  Degenerate groups yield
    NULL for z (stddev 0) and robust (IQR 0); percent_rank is always
    defined.

    Scale shape: one hash aggregate produces the per-group moment table
    (|groups| rows, broadcast joined back — the fact table never
    shuffles for z/robust); percent_rank is the one genuinely
    order-dependent variant and costs a per-group sort window.  Exact
    percentiles sort each group; at 100 TB swap approx_percentile into
    the stats agg and the rest survives unchanged.

    ``round_to`` rounds all three outputs — with the PORTABLE
    floor-based formula ``floor(x·10^n + 0.5)/10^n`` (pure IEEE double
    ops, bit-identical in any engine) rather than the engine's
    ``round``: Spark rounds the double's exact binary expansion
    HALF_UP while DuckDB rounds via a multiply, and a z-score landing
    on a .5-ulp boundary flips the last digit between them (observed
    at sf0.1).  Half-way values round toward +inf; the point is
    determinism, not decimal etiquette.

    ``moments_decimal``: when the values are decimal-representable
    (money, counts), compute mean/stddev from EXACT decimal sums
    (Σv, Σv²) instead of the engine's streaming stddev — decimal
    aggregation is order-independent and bit-identical across engines,
    where native stddev implementations differ by enough ulps to flip
    a rounded 4th decimal (observed at sf0.1).  The textbook-formula
    cancellation ((Σv² − (Σv)²/n)/(n−1)) is benign when sd/mean ≳ 1e-6,
    which money columns satisfy.
    """
    v = F.col(val)
    if moments_decimal is not None:
        dv = v.cast(moments_decimal)
        moment_aggs = [
            F.sum(dv).alias("_fs_s"),
            F.sum(dv * dv).alias("_fs_ss"),
            F.count(v).alias("_fs_n"),
        ]
    else:
        moment_aggs = [F.avg(v).alias("_fs_mean"), F.stddev(v).alias("_fs_sd")]
    stats = df.groupBy(*keys).agg(
        *moment_aggs,
        F.median(v).alias("_fs_med"),
        F.percentile(v, 0.25).alias("_fs_q1"),
        F.percentile(v, 0.75).alias("_fs_q3"),
    )
    if moments_decimal is not None:
        n = F.col("_fs_n").cast("double")
        s = F.col("_fs_s").cast("double")
        ss = F.col("_fs_ss").cast("double")
        mean = s / n
        var = F.when(
            F.col("_fs_n") > 1, (ss - s * s / n) / (n - F.lit(1.0))
        )
        stats = stats.select(
            *keys,
            mean.alias("_fs_mean"),
            F.when(var > 0, F.sqrt(var)).alias("_fs_sd"),
            "_fs_med",
            "_fs_q1",
            "_fs_q3",
        )
    z = F.when(
        F.col("_fs_sd") > 0, (v - F.col("_fs_mean")) / F.col("_fs_sd")
    )
    iqr = F.col("_fs_q3") - F.col("_fs_q1")
    robust = F.when(iqr > 0, (v - F.col("_fs_med")) / iqr)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(v)
    pct = F.percent_rank().over(w)
    if round_to is not None:
        scale = F.lit(float(10 ** round_to))
        z, robust, pct = (
            F.floor(c * scale + F.lit(0.5)) / scale for c in (z, robust, pct)
        )
    # NULL-SAFE stats join: groupBy emits a NULL-key stats row, but a
    # plain equi join can never match it — rows in a NULL group would
    # silently vanish from a row-preserving feature operator
    stats_a = stats.select(
        *[F.col(k).alias(f"_fs_k_{k}") for k in keys],
        "_fs_mean", "_fs_sd", "_fs_med", "_fs_q1", "_fs_q3",
    )
    cond = None
    for k in keys:
        eq = F.col(k).eqNullSafe(F.col(f"_fs_k_{k}"))
        cond = eq if cond is None else (cond & eq)
    return (
        df.join(F.broadcast(stats_a), cond)
        .withColumn(f"{val}_z", z)
        .withColumn(f"{val}_robust", robust)
        .withColumn(f"{val}_pct", pct)
        .drop(
            "_fs_mean", "_fs_sd", "_fs_med", "_fs_q1", "_fs_q3",
            *[f"_fs_k_{k}" for k in keys],
        )
    )
