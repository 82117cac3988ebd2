"""Data-quality expectations: content-level validation the reference
only does at the schema level (check_col_names, prog.py:450-468 —
column-set symmetric difference).  The engine extends the idea to row
content: declarative rules evaluated in ONE pass over each table, plus
referential-integrity orphan counts.

Scale shape: every rule family is a conditional count inside a single
aggregate (map-side partial combine, one row out per table — no
shuffle of data rows, only of per-partition counters).  FK checks are
left-anti joins that AQE turns into broadcast joins when the parent's
key projection is small; at 100 TB parent scale they degrade to a
shuffled anti join on the key, which is the minimum possible work for
exact orphan detection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def violation_counts(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Evaluate named violation predicates in one aggregate pass.

    ``rules`` maps check name → Column that is TRUE when the row
    VIOLATES the check.  Returns long-format ``(check_name, n_violations)``
    — stable output schema regardless of rule count, so downstream
    alerting doesn't change shape when rules are added.
    """
    aggs = [
        F.count(F.when(cond, F.lit(1))).alias(name) for name, cond in rules.items()
    ]
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{name}', `{name}`" for name in rules)
    return wide.selectExpr(
        f"stack({len(rules)}, {stack}) AS (check_name, n_violations)"
    )


def fk_orphan_count(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    """Referential integrity: child rows whose key has no parent.
    NULL child keys are not orphans (SQL FK semantics) — they are a
    separate nullability rule if unwanted."""
    orphans = child.filter(F.col(child_key).isNotNull()).join(
        parent.select(parent_key).distinct(),
        on=F.col(child_key) == F.col(parent_key),
        how="left_anti",
    )
    return orphans.agg(F.count("*").alias("n_violations"))


def reconcile_child_sums(
    parent: DataFrame,
    child: DataFrame,
    key: str,
    parent_val: str,
    child_sum: Column,
    tol: float = 0.01,
) -> DataFrame:
    """Cross-table reconciliation: the parent's STORED total vs the SUM
    aggregated from its child rows (orders.o_totalprice vs Σ lineitem
    revenue, invoice header vs line items, …).  Returns one row per
    parent key with both values, the signed difference, and a
    ``reconciled`` flag (|diff| <= tol).  Parents with no child rows
    compare against 0 — a missing-children mismatch, not a silent skip.

    Scale shape: the child aggregates FIRST (map-side partial combine
    to one row per key) and only then joins the parent on the key —
    the join input is |parents| + |parents| rows, never raw child
    rows.  Sum in DECIMAL when the value is money so reconciliation
    isn't poisoned by float accumulation order.  Child rows with a
    NULL key aggregate to a NULL-key group that matches no parent and
    silently drops (standard FK semantics) — count them separately
    with a nullability rule if unwanted.
    """
    sums = child.groupBy(F.col(key)).agg(child_sum.alias("__child_sum"))
    # zero literal in the CHILD SUM's own type: a bare 0.0 would promote
    # a decimal sum to double and poison money exactness
    zero = F.lit(0).cast(dict(sums.dtypes)["__child_sum"])
    ct = F.coalesce(F.col("__child_sum"), zero)
    return (
        parent.select(F.col(key), F.col(parent_val).alias("parent_total"))
        .join(sums, key, "left")
        .select(
            F.col(key),
            "parent_total",
            ct.alias("child_total"),
            (F.col("parent_total") - ct).alias("diff"),
        )
        .withColumn("reconciled", F.abs(F.col("diff")) <= tol)
    )


def with_observed_metrics(
    df: DataFrame, name: str, metrics: dict[str, Column]
):
    """Attach accumulator-style metrics to a plan: returns
    ``(df, observation)``; after ANY action on ``df`` (typically the
    production write), ``observation.get`` yields the metric values.

    This is the zero-cost audit path at scale — row counts, null
    counts, and range checks ride along the write as aggregates over
    the already-materialized rows, instead of a second full scan of a
    100 TB input.  Contrast with ``violation_counts``, which is a
    standalone (re-scanning) audit query."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[c.alias(k) for k, c in metrics.items()]), obs


def column_profile(df: DataFrame, cols: "Sequence[str] | None" = None) -> DataFrame:
    """Tall data-profile of a table: per column, row count, null count
    and exact distinct count — the first look any pipeline owner takes
    at a new 100 TB table.

    All metrics for all columns come from ONE aggregate pass (the
    count-distincts expand to Spark's standard distinct-agg plan); the
    tall (column_name, n, n_null, n_distinct) shape comes from a
    ``stack`` over the single result row.  Counts only (no min/max
    strings), so every metric is engine-portable BIGINT.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    aggs = [F.count("*").alias("__n")]
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__null_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__dist_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n, __null_{c}, __dist_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) as (column_name, n, n_null, n_distinct)"
    )


def bin_counts(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """Per-(group, bin) counts of a numeric column over FIXED
    equi-width bounds — the mergeable partial underneath
    ``distribution_drift``: counts from disjoint slices (micro-batches,
    partitions, snapshots) sum to the counts of their union, so drift
    can be maintained incrementally without rescanning history.
    Values outside [lo, hi] clamp into the edge bins (a drifted tail
    should SHOW UP in the edge bin, not vanish).  Returns
    ``(__g, __bin, __c)``.
    """
    v = F.col(value_col).cast("double")
    data = df.filter(v.isNotNull()).select(
        F.col(group_col).alias("__g"), v.alias("__v")
    )
    if hi == lo:
        b = F.lit(0)
    else:
        width = F.lit((hi - lo) / float(n_bins))
        b = F.greatest(
            F.least(
                F.floor((F.col("__v") - F.lit(lo)) / width), F.lit(n_bins - 1)
            ),
            F.lit(0),
        )
    return (
        data.select("__g", b.cast("int").alias("__bin"))
        .groupBy("__g", "__bin")
        .agg(F.count("*").alias("__c"))
    )


def drift_from_counts(
    counts: DataFrame,
    group_col: str,
    baseline: str,
    n_bins: int = 10,
    alpha: float = 0.5,
) -> DataFrame:
    """PSI + Jensen-Shannon per group vs the baseline group, computed
    from a ``(__g, __bin, __c)`` counts table (see ``bin_counts``) —
    tiny-table arithmetic only, |groups|·n_bins rows in."""
    # full (group x bin) grid so empty bins smooth instead of vanish
    grid = (
        counts.select("__g")
        .distinct()
        .crossJoin(
            counts.sparkSession.range(n_bins).select(
                F.col("id").cast("int").alias("__bin")
            )
        )
    )
    full = grid.join(counts, ["__g", "__bin"], "left").select(
        "__g", "__bin", F.coalesce(F.col("__c"), F.lit(0)).alias("__c")
    )
    totals = full.groupBy("__g").agg(F.sum("__c").alias("__tot"))
    smooth_tot = F.col("__tot") + F.lit(alpha * n_bins)
    props = full.join(totals, "__g").select(
        "__g",
        "__bin",
        "__tot",
        ((F.col("__c") + F.lit(alpha)) / smooth_tot).alias("__p"),
    )
    base = props.filter(F.col("__g") == baseline).select(
        "__bin", F.col("__p").alias("__q")
    )
    # LEFT join + raise: a missing/misnamed baseline must fail LOUDLY —
    # an inner join would return an empty frame and the QC gate built
    # on this would vacuously pass
    joined = props.join(F.broadcast(base), "__bin", "left")
    p = F.col("__p")
    q = F.coalesce(
        F.col("__q"),
        F.raise_error(
            F.lit(f"drift: baseline group {baseline!r} has no rows")
        ).cast("double"),
    )
    m = (p + q) / F.lit(2.0)
    return (
        joined.groupBy("__g", "__tot")
        .agg(
            F.round(F.sum((p - q) * F.log(p / q)), 4).alias("psi"),
            F.round(
                F.lit(0.5) * F.sum(p * F.log(p / m))
                + F.lit(0.5) * F.sum(q * F.log(q / m)),
                4,
            ).alias("jsd"),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("__tot").cast("bigint").alias("n"),
            "psi",
            "jsd",
        )
    )


def quantiles_from_counts(
    counts: DataFrame,
    group_col: str,
    probs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """Per-group approximate quantiles read off a ``(__g, __bin, __c)``
    histogram table (``bin_counts`` / the streaming drift maintainer's
    stored state) by within-bin linear interpolation.

    The rank arithmetic is EXACT (counts are exact); the only
    approximation is value resolution — the true quantile lies in the
    picked bin, so the error is bounded by one bin width
    ``(hi-lo)/n_bins`` (plus tail clamping: values outside [lo, hi]
    were clamped into the edge bins by ``bin_counts``, so edge-bin
    quantiles saturate at the profile bounds).  This is the read side
    of the maintained-histogram pattern: streaming percentile
    monitoring with |groups|·n_bins state and no history rescan.

    Cost: |groups|·n_bins·|probs| rows of tiny-table arithmetic — one
    bin-ordered cumulative window per group, one broadcastable join.
    Returns ``(group_col, p, n, quantile)``.
    """
    from pyspark.sql import Window

    width = (hi - lo) / float(n_bins) if hi != lo else 0.0
    w = (
        Window.partitionBy("__g")
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.withColumn("__cum", F.sum("__c").over(w))
    targets = (
        counts.groupBy("__g")
        .agg(F.sum("__c").alias("__n"))
        .select(
            "__g",
            "__n",
            F.explode(F.array(*[F.lit(float(p)) for p in probs])).alias("p"),
        )
        .withColumn("__r", F.col("p") * F.col("__n"))
    )
    # first bin whose cumulative count reaches the target rank; min of
    # a (__bin, __c, __cum) struct orders on __bin — deterministic
    hit = (
        targets.join(cum, "__g")
        .filter(F.col("__cum") >= F.col("__r"))
        .groupBy("__g", "p", "__r", "__n")
        .agg(F.min(F.struct("__bin", "__c", "__cum")).alias("__s"))
    )
    frac = (F.col("__r") - (F.col("__s.__cum") - F.col("__s.__c"))) / F.col(
        "__s.__c"
    )
    return hit.select(
        F.col("__g").alias(group_col),
        "p",
        F.col("__n").cast("bigint").alias("n"),
        (
            F.lit(lo)
            + F.lit(width) * (F.col("__s.__bin") + F.greatest(frac, F.lit(0.0)))
        ).alias("quantile"),
    )


def distribution_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    baseline: str,
    n_bins: int = 10,
    alpha: float = 0.5,
    bounds: "tuple[float, float] | None" = None,
    strategy: str = "width",
) -> DataFrame:
    """Distribution drift of a numeric column per group vs a baseline
    group: Population Stability Index and Jensen-Shannon divergence
    over ``n_bins`` bins — the corpus-snapshot / source-mix QC check a
    training-data pipeline runs before admitting a new crawl (is
    src3's length distribution still the one the mixture weights were
    tuned on?).

    ``strategy='width'`` (default) bins equi-width over the global (or
    given) [lo, hi].  ``strategy='quantile'`` is the scorecard-industry
    PSI form: bin edges are the BASELINE group's interpolated
    ``1/n … (n−1)/n`` quantiles, so the baseline occupies every bin
    ~equally and the statistic is insensitive to outlier-stretched
    ranges; ``bounds`` is ignored there, and the edge table (n_bins−1
    doubles from one baseline percentile agg) broadcasts — still two
    scans, one of them baseline-only.

    Proportions use add-``alpha`` smoothing over the FULL bin grid
    (``(count + alpha) / (total + alpha * n_bins)``), so empty bins are
    well-defined and the formulas are closed-form — deterministic and
    replayable by any engine, with no epsilon-clamp branches.  NULL
    values are excluded; a degenerate column (global min == max) puts
    every value in bin 0.

    Returns one row per group (baseline included, drifting from itself
    by 0): ``(group_col, n, psi, jsd)``.

    Scale shape: one broadcast scalar min/max agg over the values, one
    hash aggregate to (group × bin) counts — the only shuffle, with
    map-side combine, output |groups|·n_bins rows — then tiny-table
    grid/baseline joins (``drift_from_counts``).  With data-derived
    bounds the fact table is scanned twice (bounds + counts) — the
    price of exact global bounds; pass ``bounds=(lo, hi)`` from a
    stored profile to make it one scan (values outside clamp to edge
    bins), which is also the contract the incremental/streaming
    maintenance path (``bin_counts`` partials) requires.
    """
    if strategy not in ("width", "quantile"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    if strategy == "width" and bounds is not None:
        counts = bin_counts(
            df, group_col, value_col, bounds[0], bounds[1], n_bins
        )
        return drift_from_counts(counts, group_col, baseline, n_bins, alpha)
    v = F.col(value_col).cast("double")
    data = df.filter(v.isNotNull()).select(
        F.col(group_col).alias("__g"), v.alias("__v")
    )
    if strategy == "quantile":
        probs = ", ".join(repr(i / n_bins) for i in range(1, n_bins))
        edges = data.filter(F.col("__g") == baseline).agg(
            F.expr(f"percentile(__v, array({probs}))").alias("__edges")
        )
        binned = data.crossJoin(F.broadcast(edges)).select(
            "__g",
            F.size(
                F.filter(F.col("__edges"), lambda e: F.col("__v") >= e)
            )
            .cast("int")
            .alias("__bin"),
        )
        counts = binned.groupBy("__g", "__bin").agg(
            F.count("*").alias("__c")
        )
        return drift_from_counts(counts, group_col, baseline, n_bins, alpha)
    scan_bounds = data.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    binned = data.crossJoin(F.broadcast(scan_bounds)).select(
        "__g",
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("__v") - F.col("__lo")) / width),
                F.lit(n_bins - 1),
            )
        )
        .cast("int")
        .alias("__bin"),
    )
    counts = binned.groupBy("__g", "__bin").agg(F.count("*").alias("__c"))
    return drift_from_counts(counts, group_col, baseline, n_bins, alpha)


def k_anonymize(
    df: DataFrame,
    quasi_cols: "Sequence[str]",
    k: int,
) -> DataFrame:
    """k-anonymity suppression for data release: any combination of
    quasi-identifier values shared by fewer than ``k`` rows is folded
    into the ``'OTHER'`` sentinel (all quasi columns at once — partial
    generalization hierarchies are the caller's concern).  After the
    fold every surviving ORIGINAL group has >= k members.  The OTHER
    bucket aggregates every rare combination; if the corpus has fewer
    than k rare rows in total, OTHER itself can be < k — callers
    releasing data must drop an undersized OTHER bucket (one extra
    filter on the released aggregate).

    Scale shape: one hash aggregate over the quasi columns (group
    cardinality table, far smaller than the data), broadcast back as a
    membership join — the fact table never shuffles.  The fold itself
    is a when/otherwise projection.  The membership join is NULL-SAFE:
    a rare combination containing NULL quasi values must fold like any
    other (a plain equi join would silently let it through, because
    NULL never equals NULL — exactly the re-identifiable leak this
    operator exists to prevent).
    """
    qcols = [F.col(c) for c in quasi_cols]
    small = (
        df.groupBy(*qcols)
        .agg(F.count("*").alias("__gn"))
        .filter(F.col("__gn") < k)
        .select(
            *[F.col(c).alias(f"__q_{c}") for c in quasi_cols],
            F.lit(True).alias("__fold"),
        )
    )
    cond = None
    for c in quasi_cols:
        eq = F.col(c).eqNullSafe(F.col(f"__q_{c}"))
        cond = eq if cond is None else (cond & eq)
    out = df.join(F.broadcast(small), cond, "left")
    for c in quasi_cols:
        out = out.withColumn(
            c, F.when(F.col("__fold"), F.lit("OTHER")).otherwise(F.col(c))
        )
    return out.drop("__fold", *[f"__q_{c}" for c in quasi_cols])


def validate_split(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Row-level validate-and-quarantine: adds ``failed_checks``
    (array<string> of the rule names the row violates, in rule
    declaration order) so ONE scan feeds both the clean sink
    (``size(failed_checks) = 0``) and the quarantine sink (everything
    else, with its reasons attached) — the row-content companion of
    ``violation_counts``, which only counts.

    ``rules`` maps check name → Column that is TRUE when the row
    VIOLATES the check (same contract as ``violation_counts``).  A
    NULL predicate result counts as not-violated; write an explicit
    ``isNull`` rule when nullness itself is the violation.

    Scale shape: a pure projection (array-of-conditionals + filter),
    no shuffle, fully codegen'd; writing clean and quarantine as two
    filters of the same cached/persisted frame keeps it one scan.
    """
    marks = F.array(
        *[F.when(cond, F.lit(name)) for name, cond in rules.items()]
    )
    return df.withColumn(
        "failed_checks", F.filter(marks, lambda x: x.isNotNull())
    )


def guarded_m1_join(
    left: DataFrame,
    right: DataFrame,
    on: "Sequence[str] | str",
) -> DataFrame:
    """Left equi join that ENFORCES the right side is unique on the join key
    (an m:1 join): any duplicate right-side key raises at execution
    time, instead of silently fanning out rows and double-counting
    every downstream aggregate — the single most common silent-wrong
    answer in star-schema pipelines.

    Implemented lazily: a windowless count per key on the right side
    rides along the join, and a ``raise_error`` fires on the first
    violating row.  The guard is folded INTO the first join-key column
    (an expression the join itself consumes), so Catalyst cannot
    column-prune it away.  Zero extra scans of the LEFT side; the right
    side pays one hash aggregate of its keys (it is the dim side — by
    contract the small one).
    """
    keys = [on] if isinstance(on, str) else list(on)
    dup = (
        right.groupBy(*[F.col(k) for k in keys])
        .agg(F.count("*").alias("__kn"))
    )
    guard_key = keys[0]
    guarded = F.when(
        F.col("__kn") > 1,
        F.raise_error(
            F.concat(
                F.lit(
                    f"guarded_m1_join: right side not unique on {keys}; "
                    "offending key: "
                ),
                F.concat_ws(",", *[F.col(k).cast("string") for k in keys]),
            )
        ).cast(dict(right.dtypes)[guard_key]),
    ).otherwise(F.col(guard_key))
    checked = (
        right.join(F.broadcast(dup), keys)
        .withColumn(guard_key, guarded)
    )
    return left.join(checked, keys, "left").drop("__kn")


def categorical_drift(
    df: DataFrame,
    group_col: str,
    cat_col: str,
    baseline: str,
) -> DataFrame:
    """Distribution drift over a CATEGORICAL column (category values
    are the bins): PSI + Jensen-Shannon per group vs the baseline
    group with add-0.5 smoothing (the numeric form's default) — the
    mix monitor for label/language/source composition where equi-width
    bins make no sense.

    The bin grid is the UNION of categories observed anywhere (so a
    category present only in one side still contributes, smoothed on
    the other).  Returns ``(group_col, n, psi, jsd)``.

    Scale shape: one (group × category) hash aggregate; the grid and
    proportion arithmetic run on the |groups|·|cats| table.
    """
    counts = (
        df.filter(F.col(cat_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("__g"), F.col(cat_col).alias("__c_val")
        )
        .agg(F.count("*").alias("__c"))
    )
    cats = counts.select("__c_val").distinct()
    grid = counts.select("__g").distinct().crossJoin(cats)
    full = grid.join(counts, ["__g", "__c_val"], "left").select(
        "__g", "__c_val", F.coalesce(F.col("__c"), F.lit(0)).alias("__c")
    )
    # each group holds exactly |categories| grid rows, so the category
    # count rides the totals aggregate — no driver-side action
    totals = full.groupBy("__g").agg(
        F.sum("__c").alias("__tot"), F.count("*").alias("__ncat")
    )
    smooth_tot = F.col("__tot") + F.lit(0.5) * F.col("__ncat")
    props = full.join(totals, "__g").select(
        "__g", "__c_val", "__tot",
        ((F.col("__c") + F.lit(0.5)) / smooth_tot).alias("__p"),
    )
    base = props.filter(F.col("__g") == baseline).select(
        "__c_val", F.col("__p").alias("__q")
    )
    # LEFT join + raise: missing baseline fails loudly (see
    # drift_from_counts)
    joined = props.join(F.broadcast(base), "__c_val", "left")
    p = F.col("__p")
    q = F.coalesce(
        F.col("__q"),
        F.raise_error(
            F.lit(f"categorical_drift: baseline group {baseline!r} has no rows")
        ).cast("double"),
    )
    m = (p + q) / F.lit(2.0)
    return (
        joined.groupBy("__g", "__tot")
        .agg(
            F.round(F.sum((p - q) * F.log(p / q)), 4).alias("psi"),
            F.round(
                F.lit(0.5) * F.sum(p * F.log(p / m))
                + F.lit(0.5) * F.sum(q * F.log(q / m)),
                4,
            ).alias("jsd"),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("__tot").cast("bigint").alias("n"),
            "psi",
            "jsd",
        )
    )


def mutual_information(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Mutual information between two categorical columns — the
    dependence census behind feature selection, leakage sniffing
    ("does this feature secretly encode the label?"), and stratification
    design.  MI = Σ_ab p(a,b) · ln(p(a,b) / (p(a)·p(b))), computed from
    ONE joint-count hash aggregate; the marginals are window sums over
    the (|A|·|B|)-sized joint table, so nothing data-sized is joined or
    shuffled twice.  NULLs are a real category (eqNullSafe semantics via
    grouping).  All-integer counts → shared-IEEE double ops; the
    per-cell contributions and their left-fold sum replay exactly in
    SQL.

    Returns one row: (n, cells, mi, nmi) where nmi = MI / min(H(A),
    H(B)) ∈ [0,1] (0 when either entropy is 0 — a constant column
    carries no information).
    """
    from pyspark.sql import Window as W

    joint = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count("*").alias("__c"))
    wa = W.partitionBy("__a")
    wb = W.partitionBy("__b")
    wall = W.partitionBy()
    cells = joint.select(
        "__c",
        F.sum("__c").over(wa).alias("__ca"),
        F.sum("__c").over(wb).alias("__cb"),
        F.sum("__c").over(wall).alias("__n"),
    )
    n = F.col("__n").cast("double")
    term = (F.col("__c") / n) * F.log(
        (F.col("__c").cast("double") * n) / (F.col("__ca").cast("double") * F.col("__cb"))
    )
    ha_term = (F.col("__c") / n) * -F.log(F.col("__ca") / n)
    hb_term = (F.col("__c") / n) * -F.log(F.col("__cb") / n)
    agg = cells.agg(
        F.max("__n").alias("n"),
        F.count("*").alias("cells"),
        F.sum(term).alias("mi"),
        F.sum(ha_term).alias("ha"),
        F.sum(hb_term).alias("hb"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("cells").cast("bigint").alias("cells"),
        "mi",
        F.when(
            F.least("ha", "hb") > 0, F.col("mi") / F.least("ha", "hb")
        ).otherwise(F.lit(0.0)).alias("nmi"),
        "ha",
        "hb",
    )
