"""Band (±tolerance) range joins (J5/J6).

Reference: ``mark_unknown_model_with_exsisted_lifting_capacity``
(prog.py:255-276) — rows with known brand+type+capacity but unknown model
adopt the model of another row of the same brand/type whose capacity is
within ±5%.  ``infer_unknown_models`` does this within one table as a
window over (brand, type), with no join.

Spark shape of ``band_join`` (two tables): equi join on the keys with
the band as a residual range predicate.  For skewed/huge sides,
``bucketed=True`` adds a log-scale bucket equi-key (each left row
probes its bucket ±1), turning the range predicate into a hash join —
the standard trick when the band join's equi prefix alone is not
selective enough at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def band_join(
    left: DataFrame,
    right: DataFrame,
    equi_keys: Sequence[str],
    left_val: str,
    right_val: str,
    tol: float = 0.05,
    how: str = "inner",
    bucketed: bool = False,
    max_per_group: int | None = None,
) -> DataFrame:
    """left ⋈ right on equi_keys AND right_val ∈ [left_val·(1-tol), left_val·(1+tol)].

    Right-side columns must be pre-renamed to avoid collisions.

    ``max_per_group`` (bucketed path only) bounds the RIGHT-side rows
    admitted per (equi_keys…, bucket) group — the skew guard mirroring
    dedup's ``max_bucket``/``max_df``: when one equi-group dominates
    (a single brand holding most of the catalogue), per-group pair
    fan-out is otherwise quadratic in that group.  Kept rows are the
    ``max_per_group`` smallest by (right_val, row content-hash), so the
    cap is deterministic; results become an under-approximation of the
    exact join on over-full groups (the same contract as the LSH caps).
    """
    lv, rv = F.col(left_val), F.col(right_val)
    band = rv.between(lv * (1 - tol), lv * (1 + tol))
    if not bucketed:
        cond = band
        for k in equi_keys:
            cond = (left[k] == right[k]) & cond
        return left.join(right, on=cond, how=how)

    if how != "inner":
        # the left side is about to be exploded into 3 bucket replicas;
        # an outer join would null-extend each replica independently
        # (3 spurious rows per unmatched left row) — reject rather than
        # silently diverge from the plain path
        raise ValueError(
            "bucketed band_join supports how='inner' only; run the plain "
            "path for outer joins or left-join the inner result back"
        )

    # log-bucket equi-key: any pair within the band spans at most
    # adjacent buckets IF the width covers the band's log-space radius.
    # The band is asymmetric in log space: r ∈ [l·(1−tol), l·(1+tol)]
    # means Δln ∈ [ln(1−tol), ln(1+tol)], and |ln(1−tol)| > ln(1+tol) —
    # a width of ln(1+tol) silently drops low-side pairs (caught by the
    # weight_band_join oracle).  Width = −ln(1−tol), plus a 0.1% margin
    # against float rounding of floor(log(v)/w) at bucket edges.  The
    # band predicate below stays exact, so uncapped results are
    # identical to the plain join for POSITIVE values — the bucket only
    # gates candidate generation.  Values <= 0 (or NULL) have no
    # logarithm; they go to a shared sentinel bucket so pairs the plain
    # join can still match (e.g. lv = rv = 0 satisfies between(0, 0))
    # survive candidate generation and are decided by the exact band
    # predicate, keeping both paths in exact agreement.
    import math

    w = -math.log(1.0 - tol) * 1.001
    sentinel = F.lit(-(1 << 61)).cast("long")

    def bkt(v: Column) -> Column:
        return F.coalesce(
            F.when(v > 0, F.floor(F.log(v) / F.lit(w))), sentinel
        )

    lb, rb = bkt(lv), bkt(rv)
    lx = left.withColumn("__b", F.explode(F.array(lb - 1, lb, lb + 1)))
    rx = right.withColumn("__b", rb)
    if max_per_group is not None:
        # content-hash tiebreak: deterministic across partitionings and
        # retries (monotonically_increasing_id is neither)
        wcap = Window.partitionBy(*equi_keys, "__b").orderBy(
            rv.asc_nulls_last(), F.xxhash64(*[F.col(c) for c in right.columns])
        )
        rx = (
            rx.withColumn("__rn", F.row_number().over(wcap))
            .filter(F.col("__rn") <= max_per_group)
            .drop("__rn")
        )
    cond = lx["__b"] == rx["__b"]
    for k in equi_keys:
        cond = (lx[k] == rx[k]) & cond
    return lx.join(rx, on=cond & band, how=how).drop("__b")


def infer_unknown_models(df: DataFrame) -> DataFrame:
    """J5 end-to-end: fill NULL ``model`` from same-``brand``/``type``
    rows with a ``capacity`` within ±5 %.  Winner = smallest
    |capacity delta|, then model asc (deterministic; reference takes first-iterated row).

    Shape: one window over (brand, type) collects the group's distinct
    known (capacity, model) pairs; each inferable row filters them to
    its band and takes the minimum (|delta|, model).  The window's
    exchange is the only shuffle — no self-join, no join back.
    """
    cap, mdl = F.col("capacity"), F.col("model")
    known = F.collect_set(
        F.when(mdl.isNotNull() & cap.isNotNull(), F.struct(cap.alias("c"), mdl.alias("m")))
    ).over(Window.partitionBy("brand", "type"))
    in_band = F.filter(known, lambda k: k["c"].between(cap * 0.95, cap * 1.05))
    best = F.array_min(
        F.transform(in_band, lambda k: F.struct(F.abs(k["c"] - cap).alias("d"), k["m"].alias("m")))
    )["m"]
    inferable = (
        mdl.isNull() & F.col("brand").isNotNull() & F.col("type").isNotNull() & cap.isNotNull()
    )
    return (
        df.withColumn("__inferred_model", F.when(inferable, best))
        .withColumn("__model_inferred", mdl.isNull() & F.col("__inferred_model").isNotNull())
        .withColumn("model", F.coalesce(mdl, F.col("__inferred_model")))
        .drop("__inferred_model")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    grain_seconds: int = 3600,
) -> DataFrame:
    """Inner join of two interval tables on overlap of half-open
    intervals [start, end): ``l_start < r_end AND r_start < l_end``.

    A naive overlap join is a cross join with a theta filter — O(n·m)
    and unpartitionable.  The scale shape bins both sides into fixed
    time buckets of ``grain_seconds``: each interval explodes into the
    buckets it touches, the join becomes an equi join on
    the bucket, and the exact overlap predicate runs as a
    residual filter.  Shuffled rows = |intervals| ·
    avg-buckets-per-interval; pick the grain near the typical interval
    length to keep that factor ~2.

    A pair overlapping k shared buckets would emit k duplicates;
    instead of a distinct (an extra full-width shuffle) each pair is
    kept only in the FIRST bucket both intervals share —
    ``bucket == greatest(first_bucket(left), first_bucket(right))`` —
    which every true overlap satisfies exactly once, so no dedup pass
    is needed.

    Timestamps are compared at microsecond precision.  Right-side
    columns must be pre-renamed to avoid collisions.
    """
    g_us = int(grain_seconds) * 1_000_000

    for df, cols in ((left, (l_start, l_end)), (right, (r_start, r_end))):
        for c in cols:
            dt = dict(df.dtypes).get(c)
            if dt not in ("timestamp", "timestamp_ntz"):
                raise TypeError(
                    f"interval_overlap_join: column {c!r} must be a timestamp "
                    f"(got {dt!r}) — with ANSI off an implicit cast would "
                    "silently NULL bad rows out of the join"
                )

    def first_b(col: str) -> Column:
        # cast: unix_micros only takes TIMESTAMP; NTZ inputs resolve via
        # the session timezone (pinned to UTC in session.RUNTIME_CONF)
        return F.expr(f"unix_micros(cast(`{col}` as timestamp)) div {g_us}")

    def bucketed(df: DataFrame, s: str, e: str) -> DataFrame:
        # half-open: an interval ending exactly on a bucket edge does
        # not touch that bucket — hence the (end − 1µs) last bucket
        return df.withColumn(
            "_io_bucket",
            F.explode(
                F.sequence(
                    first_b(s),
                    F.expr(f"(unix_micros(cast(`{e}` as timestamp)) - 1) div {g_us}"),
                )
            ),
        )

    lb = bucketed(left, l_start, l_end)
    rb = bucketed(right, r_start, r_end)
    joined = lb.join(rb, "_io_bucket").filter(
        (F.col(l_start) < F.col(r_end)) & (F.col(r_start) < F.col(l_end))
    )
    return joined.filter(
        F.col("_io_bucket") == F.greatest(first_b(l_start), first_b(r_start))
    ).drop("_io_bucket")
