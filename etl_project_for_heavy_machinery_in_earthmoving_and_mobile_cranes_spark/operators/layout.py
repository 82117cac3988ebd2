"""Data-layout operators: Z-order (Morton) multi-dimensional
clustering for scan pruning.

At 100 TB the dominant cost of a selective two-column query is how
many files its predicate box touches.  Sorting by ONE key bounds that
key's span per file but leaves every file spanning the FULL range of
the other key — a predicate on the other key prunes nothing.
Interleaving the bits of both keys (the Z-order / Morton curve, the
same layout Delta's OPTIMIZE ZORDER BY and Iceberg's sort orders use)
bounds BOTH spans per file, so min/max footer stats prune on either
column or both.

Everything here is integer bit arithmetic — deterministic, shuffle-free
expression code the oracle replays exactly.  The layout WRITE is
``sources.delta_lite.optimize_zorder``: it min/max-normalizes both
columns into the ``bits`` range before calling ``morton_code``, so no
value wraps past ``2^bits``, and commits the rewrite to the table's log.

Reference scope note: the reference is a single-process pandas batch
(prog.py) with no storage-layout stage at all; this module is part of
the at-scale storage surface layered on top of its query semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_code(a: Column, b: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints:
    result bit 2i = bit i of ``a``, bit 2i+1 = bit i of ``b``.  The
    terms occupy disjoint bit positions, so plain addition assembles
    the code (no OR chain needed) and any engine reproduces it with
    shift/and arithmetic."""
    aa = a.cast("bigint")
    bb = b.cast("bigint")
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(aa, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(bb, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_bucket_stats(
    df: DataFrame,
    col_a: str,
    col_b: str,
    n_buckets: int = 32,
    bits: int = 16,
) -> DataFrame:
    """Per-bucket locality census of a Z-order layout: rows land in
    ``n_buckets`` equal-width slices of the Morton range (each slice =
    one file/partition in a real write), and the census reports each
    bucket's row count and the bounding box it would expose as min/max
    footer stats.  ``bbox_area`` is the pruning currency: the sum over
    buckets is the expected fraction of files a uniformly-placed
    2-d predicate box touches.

    Shape: one shuffle-free Morton projection, ONE 1-row max aggregate
    broadcast back (the bucket width scalar — never a join), one hash
    aggregate on bucket id.  The real layout write is
    ``delta_lite.optimize_zorder`` (the same interleave over normalized
    values) — this census is the verifiable stand-in the oracle can
    replay."""
    m = morton_code(F.col(col_a), F.col(col_b), bits=bits)
    coded = df.select(
        F.col(col_a).cast("bigint").alias("__a"),
        F.col(col_b).cast("bigint").alias("__b"),
        m.alias("__m"),
    )
    top = coded.agg(F.max("__m").alias("__maxm"))
    bucket = F.least(
        F.floor(
            F.col("__m")
            / (F.floor(F.col("__maxm") / F.lit(n_buckets)) + F.lit(1))
        ).cast("int"),
        F.lit(n_buckets - 1),
    )
    return (
        coded.crossJoin(F.broadcast(top))
        .select(bucket.alias("bucket"), "__a", "__b")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("__a").alias("min_a"),
            F.max("__a").alias("max_a"),
            F.min("__b").alias("min_b"),
            F.max("__b").alias("max_b"),
        )
        .withColumn(
            "bbox_area",
            (F.col("max_a") - F.col("min_a") + F.lit(1))
            * (F.col("max_b") - F.col("min_b") + F.lit(1)),
        )
    )
