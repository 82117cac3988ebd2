"""Approximate aggregation sketches for interactive exploration at scale.

At 100 TB, exact COUNT(DISTINCT) and exact percentiles are shuffle-heavy
(exact distinct re-shuffles the full key set; exact percentile sorts).
These wrappers expose Spark's mergeable one-pass sketches — HyperLogLog++
for cardinality, Greenwald-Khanna for quantiles — which aggregate
map-side and merge in O(sketch size), making them the default for
dashboard-grade answers.  Sketch outputs are engine-specific, so they
are verified by error-bound tests against exact answers (tests/),
not by the cross-engine value-hash oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hll_distinct(col: str, rsd: float = 0.015) -> Column:
    """HyperLogLog++ distinct count (mergeable, map-side combinable).
    rsd = relative standard deviation target."""
    return F.approx_count_distinct(col, rsd)


def approx_quantiles(col: str, probs: list[float]) -> Column:
    """Greenwald-Khanna approximate quantiles as an array column.
    Error is bounded by 1/10000 of the rank."""
    return F.percentile_approx(
        F.col(col), F.array(*[F.lit(p) for p in probs]), F.lit(10000)
    )


def quantile_summary(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group approximate quantile vector in one pass."""
    out = df.groupBy(*group_cols).agg(
        approx_quantiles(value_col, list(probs)).alias("__q")
    )
    for i, p in enumerate(probs):
        out = out.withColumn(f"p{int(p * 100)}", F.col("__q")[i])
    return out.drop("__q")


def cms_sketch(col: str, eps: float = 0.001, confidence: float = 0.99) -> Column:
    """Count-min sketch aggregate for heavy-hitter frequency estimation.

    A depth×width counter grid (depth = ln(1/(1-confidence)), width =
    ceil(2/eps)) that aggregates map-side and merges associatively —
    at 100 TB the full token-frequency table may be billions of rows,
    but the sketch is a few KB per partition and one small merge,
    answering "how often does X occur" within eps·N overestimate.
    """
    return F.count_min_sketch(col, F.lit(eps), F.lit(confidence), F.lit(42))


def cms_estimate(spark, sketch_bytes: bytes, items: list) -> dict:
    """Driver-side point queries against a serialized count-min sketch
    (the binary produced by ``cms_sketch``).  Estimates never
    undercount; overcount is bounded by eps·total with the sketch's
    confidence."""
    jvm = spark._jvm
    stream = jvm.java.io.ByteArrayInputStream(bytes(sketch_bytes))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(stream)
    return {item: cms.estimateCount(item) for item in items}


# ---------------------------------------------------------------------------
# Portable HyperLogLog (explicit register table)
# ---------------------------------------------------------------------------
#
# Spark's approx_count_distinct is engine-opaque (its sketch bytes and
# estimate are JVM-specific), so it cannot be cross-engine verified and
# its state cannot be maintained by a foreachBatch loop.  This explicit
# construction (Flajolet et al., "HyperLogLog: the analysis of a
# near-optimal cardinality estimation algorithm", AofA 2007) keeps the
# register table as DATA — (group, bucket, max rho) rows — which makes
# it (a) exactly replayable by any engine that has md5 (the repo's
# portable-hash discipline), (b) mergeable by a plain groupBy-max, the
# property the streaming maintainer needs, and (c) auditable: the
# registers themselves can be asserted, not just the estimate.

HLL_B = 9  # 2^9 = 512 registers: ~4.6% relative standard error


def hll_register_table(
    df: DataFrame, group_col: str, key_col: str, b: int = HLL_B
) -> DataFrame:
    """Per-group HLL register table from a key column.

    Hash is the repo-standard md5-derived 32-bit value; bucket = top
    ``b`` bits, rho = leading-zero count of the remaining ``32-b`` bits
    plus one, computed in INTEGER arithmetic (binary-string length, no
    float log2 whose libm rounding could differ across engines).  Only
    touched buckets are emitted — untouched registers are implicit
    zeros, so the table is at most min(|keys|, |groups|·2^b) rows and
    the per-batch state of the streaming maintainer stays bounded by
    |groups|·2^b regardless of key cardinality.  Returns
    ``(group_col, __bucket, __rho)``.
    """
    from .dedup import md5_hash64

    w_bits = 32 - b
    mask = (1 << w_bits) - 1
    h = md5_hash64(F.col(key_col).cast("string"))
    tagged = df.select(
        F.col(group_col), h.alias("__h")
    ).select(
        group_col,
        F.shiftright(F.col("__h"), w_bits).cast("int").alias("__bucket"),
        F.expr(f"__h & {mask}").alias("__w"),
    )
    rho = F.when(F.col("__w") == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits) - (F.length(F.bin(F.col("__w"))) - F.lit(1))
    )
    return (
        tagged.select(group_col, "__bucket", rho.cast("int").alias("__rho"))
        .groupBy(group_col, "__bucket")
        .agg(F.max("__rho").alias("__rho"))
    )


def merge_hll_registers(tables: "list[DataFrame]") -> DataFrame:
    """Merge register tables: per (group, bucket) max — associative,
    commutative, idempotent, so batch order and re-delivery cannot
    change the merged sketch (the mergeable-summaries contract)."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    cols = out.columns
    group_cols = [c for c in cols if c not in ("__rho",)]
    return out.groupBy(*group_cols).agg(F.max("__rho").alias("__rho"))


def hll_estimate_from_registers(
    reg: DataFrame, group_col: str, b: int = HLL_B
) -> DataFrame:
    """Cardinality estimate per group from a register table.

    Determinism: the harmonic-mean denominator is accumulated as an
    EXACT integer — sum over registers of 2^(w_bits+1-rho), plus
    2^(w_bits+1) per untouched register — every term is a dyadic
    integer and the total stays far under 2^53, so both engines agree
    bit-for-bit; the only float ops are one division (IEEE-identical)
    and, on the small-range branch, one ln whose sub-ulp variation the
    4-dp portable floor-round absorbs.  Small-range (linear counting)
    correction applies when E <= 2.5m and zero registers exist; the
    32-bit large-range correction is irrelevant below ~10^8 true
    cardinality and deliberately omitted (documented boundary).

    Returns ``(group_col, touched, est_distinct)``.
    """
    m = 1 << b
    w_bits = 32 - b
    alpha = 0.7213 / (1.0 + 1.079 / m)  # valid for m >= 128
    scale = 1 << (w_bits + 1)  # 2^(w_bits+1): rho=0 term, exact integer
    per_group = reg.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("touched"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {w_bits + 1} - __rho)")
        ).alias("__s_touched"),
    )
    zeros = F.lit(m) - F.col("touched")
    s_scaled = F.col("__s_touched") + zeros * F.lit(scale)
    e_raw = F.lit(alpha * m * m * scale) / s_scaled.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return per_group.select(
        group_col,
        "touched",
        (F.floor(est * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)).alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# Portable count-min sketch (explicit register table)
# ---------------------------------------------------------------------------
#
# Same rationale as the portable HLL above: Spark's count_min_sketch
# aggregate produces JVM-opaque bytes — unverifiable cross-engine and
# unusable as foreachBatch-maintained state.  This explicit grid
# (Cormode & Muthukrishnan, "An improved data stream summary: the
# count-min sketch and its applications", J. Algorithms 2005) keeps the
# depth×width counters as DATA rows (d, bucket, n): counters merge by
# plain addition (groupBy-sum), point estimates are a min over depth
# rows, and every register is replayable from md5 in any engine.

CMS_DEPTH = 4
CMS_WIDTH = 256


def cms_register_table(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build the (d, bucket, n) register table for one pass of keys.
    Each input row increments ``depth`` counters (bucket = i-th md5
    hash family mod width); the grid is ≤ depth·width rows no matter
    how many distinct keys pass through.  One explode + one hash
    aggregate; map-side partial combine collapses each task to grid
    cells before the shuffle."""
    from .dedup import md5_hash_family

    key = F.col(key_col).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (md5_hash_family(key, d) % width).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("__c"))
        .select("__c.d", "__c.bucket")
        .groupBy("d", "bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def cms_point_estimates(
    registers: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point frequency estimates for a probe-key frame against a
    register table: est(x) = min over d of register[d][h_d(x)] —
    never an undercount; overcount ≤ 2N/width with probability
    1 − 2^-depth.  The probe frame is small by use-case (a watchlist),
    so the join broadcasts it against the grid-sized register table."""
    from .dedup import md5_hash_family

    key = F.col(key_col).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (md5_hash_family(key, d) % width).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    pr = probes.select(F.col(key_col), F.explode(cells).alias("__c")).select(
        key_col, F.col("__c.d").alias("d"), F.col("__c.bucket").alias("bucket")
    )
    return (
        registers.join(F.broadcast(pr), ["d", "bucket"], "right")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias("est"))
    )


def hll_intersection_estimate(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
) -> DataFrame:
    """Set algebra over portable HLL sketches: estimate |A|, |B|,
    |A∪B| (register max-merge — exact sketch of the union, not an
    approximation of one), and |A∩B| by inclusion–exclusion, plus the
    implied Jaccard.  The audience-overlap primitive: at 100 TB the
    two inputs never co-shuffle — each side folds to its own
    2^HLL_B-register sketch and the merge is register arithmetic.

    Inclusion–exclusion inherits the absolute error of three
    estimates, so the intersection's RELATIVE error degrades as the
    overlap shrinks (standard HLL caveat, stated rather than hidden);
    for tiny intersections use the registers only to route to an
    exact count.  All register math is the integer-exact portable
    construction; the three rounded estimates combine with exact
    float adds/subtracts, so every engine reports identical values.

    Returns one row: (est_a, est_b, est_union, est_intersection,
    jaccard_est)."""
    ra = hll_register_table(
        df_a.select(F.lit("a").alias("__set"), F.col(key_col)), "__set", key_col
    )
    rb = hll_register_table(
        df_b.select(F.lit("b").alias("__set"), F.col(key_col)), "__set", key_col
    )
    ru = merge_hll_registers(
        [
            ra.select(F.lit("u").alias("__set"), "__bucket", "__rho"),
            rb.select(F.lit("u").alias("__set"), "__bucket", "__rho"),
        ]
    )
    est = hll_estimate_from_registers(
        ra.unionByName(rb).unionByName(ru), "__set"
    )
    wide = est.groupBy().pivot("__set", ["a", "b", "u"]).sum("est_distinct")
    inter = F.col("a") + F.col("b") - F.col("u")
    return wide.select(
        F.col("a").alias("est_a"),
        F.col("b").alias("est_b"),
        F.col("u").alias("est_union"),
        inter.alias("est_intersection"),
        (F.floor(inter / F.col("u") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "jaccard_est"
        ),
    )
