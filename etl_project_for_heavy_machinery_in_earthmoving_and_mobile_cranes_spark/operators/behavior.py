"""Event-behavior analytics: funnel conversion and state-transition counts.

The reference pipeline is batch customs data, but its analysis module
(key_players_table, prog.py:610-645) is exactly the "how do segments
convert / flow" question asked of event streams; these two operators
are the event-side analogs a production engine needs next to
sessionization (`operators/sessionize.py`).

Scale notes
-----------
- ``funnel_counts``: ONE hash aggregate over the events table (conditional
  mins per stage, map-side partial agg), then arithmetic on a per-user
  table that is |users| rows — no window, no self-join, no shuffle beyond
  the user-key aggregate.  At 100 TB this is the cheapest possible shape:
  stage count is a column count, not a pass count.
- ``transition_counts``: one window shuffle on the user key (same skew
  profile as sessionization — a celebrity user costs its own event count,
  nothing more), then a vocabulary-sized (|states|²) hash aggregate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_counts(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: Sequence[str],
) -> DataFrame:
    """First-touch funnel: users reaching each stage of ``stages`` in order.

    A user "reaches" stage k when every stage 0..k has at least one event
    and the *earliest* occurrences are in non-decreasing time order
    (min-ts chain).  This is the standard first-touch approximation: it
    never credits a later re-entry (a purchase before the first view does
    not count even if another purchase follows), which keeps the whole
    computation inside one aggregate pass.

    Returns one row per stage: (stage_idx, stage, users).
    """
    mins = [
        F.min(F.when(F.col(type_col) == s, F.col(ts_col))).alias(f"__t{i}")
        for i, s in enumerate(stages)
    ]
    per_user = events.groupBy(user_col).agg(*mins)

    reached_prev = F.col("__t0").isNotNull()
    reach_flags = [reached_prev]
    for i in range(1, len(stages)):
        reached_prev = (
            reached_prev
            & F.col(f"__t{i}").isNotNull()
            & (F.col(f"__t{i}") >= F.col(f"__t{i-1}"))
        )
        reach_flags.append(reached_prev)

    counts = per_user.agg(
        *[
            F.sum(flag.cast("bigint")).alias(f"__s{i}")
            for i, flag in enumerate(reach_flags)
        ]
    )
    # tall shape via stack: (stage_idx, stage, users) — report-friendly and
    # trivially comparable across engines
    stack_args = ", ".join(
        f"{i}, '{s}', __s{i}" for i, s in enumerate(stages)
    )
    return counts.selectExpr(
        f"stack({len(stages)}, {stack_args}) as (stage_idx, stage, users)"
    )


def transition_counts(
    events: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    state_col: str,
) -> DataFrame:
    """Per-key consecutive state transitions, counted corpus-wide.

    ``order_cols`` must be a deterministic total order within each key
    (pass a unique tiebreaker, e.g. ``[ts, event_id]``).  Returns
    (src, dst, n, users): global transition count and distinct keys that
    made the transition at least once.
    """
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    pairs = (
        events.select(
            F.col(key_col),
            F.lag(F.col(state_col)).over(w).alias("src"),
            F.col(state_col).alias("dst"),
        )
        .filter(F.col("src").isNotNull())
    )
    return pairs.groupBy("src", "dst").agg(
        F.count("*").alias("n"),
        F.count_distinct(F.col(key_col)).alias("users"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    period: str = "month",
) -> DataFrame:
    """Cohort retention matrix at monthly or weekly grain.

    Cohort = the period of a user's first event; a user is "retained"
    at offset k when they have any event k periods after their cohort
    period.  Returns (cohort_period, periods_since, users) — cohort
    labels are yyyymm ints for ``period='month'``, epoch-week indexes
    for ``period='week'``; offsets are plain ints.  All-integer
    arithmetic so any engine reproduces it bit-for-bit.

    Shape: distinct (user, period) — one aggregate; per-user min —
    a second aggregate over the already-small distinct table; then one
    count.  The event table is scanned once.
    """
    if period == "week":
        p = F.floor(F.unix_timestamp(F.col(ts_col)) / 604800).alias("__m")
        label = F.col("__m0").cast("int")
    elif period == "month":
        p = (F.year(F.col(ts_col)) * 12 + F.month(F.col(ts_col)) - 1).alias("__m")
        label = (
            (F.floor(F.col("__m0") / 12)) * 100 + (F.col("__m0") % 12) + 1
        ).cast("int")
    else:
        raise ValueError(f"period must be 'month' or 'week', got {period!r}")
    um = events.select(F.col(user_col).alias("__u"), p).distinct()
    first = um.groupBy("__u").agg(F.min("__m").alias("__m0"))
    return (
        um.join(first, "__u")
        .groupBy(
            label.alias("cohort_period"),
            (F.col("__m") - F.col("__m0")).cast("int").alias("periods_since"),
        )
        .agg(F.count_distinct("__u").alias("users"))
    )


def conversion_lag_stats(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    from_stage: str,
    to_stage: str,
) -> DataFrame:
    """Latency from first ``from_stage`` to first ``to_stage`` per user
    (first-touch, converters only: first target at-or-after first
    source), summarized as count / median / p90 / max seconds.

    Same single-aggregate shape as ``funnel_counts``; the percentile
    runs over the |converters|-sized per-user lag table.
    """
    per_user = events.groupBy(user_col).agg(
        F.min(F.when(F.col(type_col) == from_stage, F.col(ts_col))).alias("__t0"),
        F.min(F.when(F.col(type_col) == to_stage, F.col(ts_col))).alias("__t1"),
    )
    lags = per_user.filter(
        F.col("__t0").isNotNull()
        & F.col("__t1").isNotNull()
        & (F.col("__t1") >= F.col("__t0"))
    ).select((F.col("__t1") - F.col("__t0")).cast("bigint").alias("lag_s"))
    return lags.agg(
        F.count("*").alias("converters"),
        F.round(F.median("lag_s"), 4).alias("median_lag_s"),
        F.round(F.percentile("lag_s", 0.9), 4).alias("p90_lag_s"),
        F.max("lag_s").alias("max_lag_s"),
    )


def sequence_ngrams(
    events: DataFrame,
    key_col: str,
    order_cols: Sequence[str],
    state_col: str,
    n: int = 3,
) -> DataFrame:
    """Sequential pattern mining: count every length-``n`` run of
    consecutive states within each key's ordered stream, corpus-wide —
    the generalization of ``transition_counts`` (n = 2) to longer
    behavioral motifs.  Returns one row per distinct n-gram:
    ``(s0..s{n-1}, n_occurrences, n_keys)``.

    Shape: ONE key-partitioned window provides all n−1 leads (a single
    Window node, one shuffle — same cost as one lag), rows whose
    lookahead crosses the key boundary drop via the NULL lead, and the
    count is a hash aggregate on the n-gram columns.  State
    vocabularies are small, so the aggregate output is at most
    |states|^n rows however large the event stream.
    """
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    cols = [F.col(state_col).alias("s0")] + [
        F.lead(F.col(state_col), i).over(w).alias(f"s{i}") for i in range(1, n)
    ]
    grams = events.select(F.col(key_col), *cols).filter(
        F.col(f"s{n-1}").isNotNull()
    )
    return grams.groupBy(*[f"s{i}" for i in range(n)]).agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct(F.col(key_col)).alias("n_keys"),
    )


def linear_attribution(
    events: DataFrame,
    convert_type: str,
    touch_types: "Sequence[str]",
    window_seconds: int,
) -> DataFrame:
    """Linear multi-touch attribution: every qualifying touch (same
    user, within ``window_seconds`` at-or-before the conversion) gets
    an EQUAL share of the conversion value — the credit-splitting
    counterpart of last-touch (which the as-of join implements).
    Conversions with no qualifying touch attribute nothing.

    ``events`` has the event-log columns ``user_id``, ``ts``,
    ``event_id``, ``event_type`` and ``value``.  Returns one row per
    (conversion, touch) with the credit share,
    plus the per-conversion touch count — callers aggregate credits by
    touch/channel downstream.

    Scale shape: the time-banded pair join is a user-keyed equi join
    with the window predicate as a residual filter; per-conversion
    fan-out is bounded by the user's own touch rate inside the window
    (the same envelope as the stream-stream attribution join).  The
    share divides by a count window keyed on the conversion id —
    rides the join's user clustering? No: it re-keys on the
    conversion, the minimal second exchange for exact splitting.
    """
    u, t = F.col("user_id"), F.col("ts")
    conv = events.filter(F.col("event_type") == convert_type).select(
        u.alias("__cu"),
        F.col("event_id").alias("conversion_id"),
        t.alias("__cts"),
        F.col("value").alias("__cv"),
    )
    touches = events.filter(F.col("event_type").isin(list(touch_types))).select(
        u.alias("__tu"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        t.alias("__tts"),
    )
    sec = lambda c: F.unix_timestamp(c)  # noqa: E731
    pairs = conv.join(
        touches,
        (F.col("__cu") == F.col("__tu"))
        & (F.col("__tts") <= F.col("__cts"))
        & (sec(F.col("__tts")) >= sec(F.col("__cts")) - window_seconds),
    )
    w = Window.partitionBy("conversion_id")
    n = F.count("*").over(w)
    return pairs.select(
        "conversion_id",
        F.col("__cu").alias("user_id"),
        "touch_id",
        "touch_type",
        n.cast("bigint").alias("n_touches"),
        (F.col("__cv") / n).alias("credit"),
    )


def active_user_counts(events: DataFrame, window_days: int = 7) -> DataFrame:
    """DAU + trailing-window active users (WAU for window_days=7) per
    observed day — the product-analytics staple, with the distinct
    count done RIGHT at scale: COUNT(DISTINCT) over a sliding range
    window isn't directly supported, so each (user, active-day) pair
    is exploded to the ``window_days`` future days it keeps the user
    active for, turning the trailing-window distinct into a plain
    per-day distinct count.

    Scale shape: one (user, day) dedup aggregate (corpus → activity
    pairs), a bounded ×window_days explode of the PAIRS (not raw
    events), and two per-day distinct aggregates.  The output covers
    EVERY day in [first, last] observed — a zero-event day (outage,
    weekend) reports ``dau = 0`` with its true trailing WAU instead of
    silently vanishing, which is exactly when the dashboard matters;
    days beyond the observed range are clipped (no phantom trailing
    days).  The day spine rides a broadcast scalar min/max aggregate.
    """
    u, d = F.col("user_id"), F.to_date(F.col("ts")).alias("__d")
    pairs = events.filter(u.isNotNull()).select(u.alias("__u"), d).distinct()
    dau = pairs.groupBy("__d").agg(
        F.count_distinct("__u").cast("bigint").alias("dau")
    )
    cover = pairs.select(
        "__u",
        F.explode(
            F.sequence(
                F.col("__d"), F.date_add(F.col("__d"), window_days - 1)
            )
        ).alias("__d"),
    )
    wau = cover.groupBy("__d").agg(
        F.count_distinct("__u").cast("bigint").alias("wau")
    )
    spine = (
        pairs.agg(F.min("__d").alias("__lo"), F.max("__d").alias("__hi"))
        .select(
            F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__d")
        )
    )
    return (
        spine.join(dau, "__d", "left")
        .join(wau, "__d", "left")
        .select(
            F.col("__d").alias("day"),
            F.coalesce(F.col("dau"), F.lit(0).cast("bigint")).alias("dau"),
            F.coalesce(F.col("wau"), F.lit(0).cast("bigint")).alias("wau"),
        )
    )


_START, _NULL = "__start__", "__null__"


def markov_attribution(
    df: DataFrame,
    user_col: str,
    order_cols: Sequence[str],
    type_col: str,
    conv_value: str,
    steps: int = 8,
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al.'s data-driven
    attribution; the absorbing-chain alternative to last-touch/linear):
    each user's journey is their event sequence up to and including the
    FIRST conversion event; a first-order transition matrix over
    (start, channels, conversion, null) is estimated from all
    journeys, and each channel's credit is its REMOVAL EFFECT — how
    much finite-horizon conversion mass from start disappears when
    every transition into the channel is redirected to the null
    absorber and its outgoing edges are deleted.

    Determinism contract (the pagerank discipline): fixed ``steps``
    finite-horizon power iteration — the output is the well-defined
    k-step state, replayable by an unrolled SQL oracle; transition
    probabilities are integer-count ratios; per-step mass sums run
    over ≤|states| doubles, so output rounding absorbs summation-order
    ulps.

    Scale shape: journey truncation + transition extraction are two
    window passes over the events; everything after the (src, dst)
    count aggregate lives in |channels|²-sized frames — the iteration
    is |variants|·|states| rows per step, trivially broadcastable, and
    the unrolled plan never touches the event data again.

    The chain's start and null absorber are the states ``__start__``
    and ``__null__``.  Returns one row per channel: k-step conversion
    mass of the full chain and the removal chain, the removal effect
    1 − conv_removed/conv_full, and each channel's normalized share.
    """
    w = Window.partitionBy(user_col).orderBy(*[F.col(c) for c in order_cols])
    prior_conv = F.coalesce(
        F.sum((F.col(type_col) == conv_value).cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    kept = df.withColumn("__pc", prior_conv).filter(F.col("__pc") == 0)
    kw = Window.partitionBy(user_col).orderBy(*[F.col(c) for c in order_cols])
    seq = kept.select(
        F.col(user_col).alias("__u"),
        F.coalesce(F.lag(type_col).over(kw), F.lit(_START)).alias("src"),
        F.col(type_col).alias("dst"),
        F.struct(*[F.col(c) for c in order_cols]).alias("__o"),
    )
    inner = seq.select("src", "dst")
    per_user = seq.groupBy("__u").agg(
        F.max_by("dst", "__o").alias("__last"),
        F.max((F.col("dst") == conv_value).cast("int")).alias("__conv"),
    )
    terminal = per_user.filter(F.col("__conv") == 0).select(
        F.col("__last").alias("src"), F.lit(_NULL).alias("dst")
    )
    counts = inner.unionByName(terminal).groupBy("src", "dst").count()
    totals = counts.groupBy("src").agg(F.sum("count").alias("__t"))
    probs = counts.join(totals, "src").select(
        "src", "dst", (F.col("count") / F.col("__t")).alias("p")
    )
    # the event-side work ends here; the transition matrix is
    # |states|²-bounded (model-sized, like kmeans centroids / the mmr
    # pool), so the |channels|+1 removal chains solve in ONE bounded
    # collect + driver arithmetic instead of `steps` shuffle rounds of
    # 1-row frames.  Determinism: driver sums run in sorted state
    # order over IEEE doubles — same ulp class as an engine's
    # unordered sum, absorbed by the caller's output rounding (the
    # pagerank discipline).
    rows = probs.collect()
    trans = [(r["src"], r["dst"], float(r["p"])) for r in rows]
    channels = sorted(
        {d for _, d, _ in trans if d not in (conv_value, _NULL)}
    )

    def k_step_conv(removed: "str | None") -> float:
        cells: dict[tuple, float] = {}
        for s, d, p in trans:
            if removed is not None and s == removed:
                continue
            j = _NULL if (removed is not None and d == removed) else d
            cells[(s, j)] = cells.get((s, j), 0.0) + p
        mat: dict[str, list] = {}
        for (s, j), p in sorted(cells.items()):
            mat.setdefault(s, []).append((j, p))
        mass = {_START: 1.0}
        conv_acc = 0.0
        for _ in range(steps):
            nxt: dict[str, float] = {}
            for s in sorted(mass):
                for j, p in mat.get(s, ()):
                    nxt[j] = nxt.get(j, 0.0) + mass[s] * p
            conv_acc += nxt.get(conv_value, 0.0)
            nxt.pop(conv_value, None)  # absorbing: mass leaves the chain
            nxt.pop(_NULL, None)
            mass = nxt
        return conv_acc

    schema = (
        "channel string, conv_full double, conv_removed double, "
        "removal_effect double, share double"
    )
    conv_full = k_step_conv(None)
    if conv_full == 0.0:
        # no journey converts within `steps`: every removal effect is
        # undefined (0/0) — the well-defined answer is zero credit per
        # channel, not a ZeroDivisionError on valid input
        return df.sparkSession.createDataFrame(
            [(c, 0.0, 0.0, 0.0, None) for c in channels], schema
        )
    out_rows = []
    for c in channels:
        conv_removed = k_step_conv(c)
        effect = 1.0 - conv_removed / conv_full
        out_rows.append((c, conv_full, conv_removed, effect))
    share_total = 0.0
    for _, _, _, eff in out_rows:
        share_total += eff
    # all removal effects 0 (every channel redundant): shares are
    # undefined — emit NULL share rather than dividing by zero
    return df.sparkSession.createDataFrame(
        [
            (c, cf, cr, eff, (eff / share_total) if share_total != 0.0 else None)
            for c, cf, cr, eff in out_rows
        ],
        schema,
    )
