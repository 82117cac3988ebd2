"""Containment and regex lookup joins (J1/J2/J3 + W2 winner selection).

The reference implements these as O(N·B)/O(N·R) nested ``iterrows`` loops
(prog.py:75-101, 174-236).  The Spark-native shape is:

    fact ⋈ broadcast(dim) on a string/theta predicate
         → row_number() over (partition by fact_id order by <priority>)
         → keep rank 1 → left-join payload back onto the fact.

The dims are 10²–10³ rows, so the theta join is a BroadcastNestedLoopJoin
— each executor scans its fact partition once against the in-memory dim;
no shuffle of the fact table at all.  Winner selection shuffles only the
*matched* rows on ``fact_id``.  For very large dims there is a token
equi-key strategy (``strategy='token'``) that converts the containment
predicate to a hash join on exploded tokens with identical semantics.

Priority columns are materialized in the dims at load time (ref_idx,
kb_order, length(model)) because tie-breaks must be deterministic under
Spark's unordered execution (SURVEY §7.3).

The customs pipeline (``plans/pipeline.py``) does not join: it carries
each KB as one broadcast row of structs sorted by the same priority and
takes each row's first hit, so its plan never joins back onto itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MATCH_RANK = "__match_rank"


def _pick_winner(
    matched: DataFrame, fact_id: str, priority: Sequence[Column]
) -> DataFrame:
    """Keep the best match per fact row.

    ``priority``: plain Columns forming a TOTAL order, compared
    ascending (desc intents are expressed by negation, e.g.
    ``-F.length(c)``).  Implemented as ``min_by`` over a struct key —
    one hash aggregate with map-side partial combine — instead of a
    ``row_number`` window, which would sort-shuffle every matched row.
    """
    others = [c for c in matched.columns if c != fact_id]
    key = F.struct(*priority)
    return (
        matched.groupBy(fact_id)
        .agg(F.min_by(F.struct(*[F.col(c) for c in others]), key).alias("__w"))
        .select(fact_id, "__w.*")
    )


def containment_lookup(
    fact: DataFrame,
    fact_id: str,
    text_cols: Sequence[str],
    dim: DataFrame,
    needle_col: str,
    payload_cols: Sequence[str],
    priority: Sequence[Column],
    strategy: str = "broadcast",
    exclude_equal: bool = False,
    broadcast_dim: bool = True,
) -> DataFrame:
    """J1/J2: for each fact row, find dim rows whose ``needle_col`` string
    is contained in any of the fact's ``text_cols``; keep the best match
    by ``priority``; return fact ⟕ payload.

    J1 (brand detection, prog.py:75-89): priority = [ref_idx asc]
    (first-in-table wins).  J2 (model detection, prog.py:90-101):
    priority = [length(model) desc, ref_idx asc] (longest wins).

    ``strategy='token'`` — scale path: join on the needle's first token
    vs the fact text's exploded tokens (equi hash join), then verify full
    containment.  Avoids the nested-loop scan when the dim is too big to
    nested-loop against.  NOTE the token path is *token-anchored*: a
    needle is only found where its first token appears as a whitespace
    token of the text ('old plate' is missed inside 'cold plate').
    Brand/model needles in the reference data are token-anchored, so
    J1/J2 semantics are preserved; for arbitrary mid-token substrings
    keep ``strategy='broadcast'``.

    ``exclude_equal``: drop matches where the needle equals the text
    column it matched (proper containment — for self-joins such as
    name-subsumption detection).

    ``broadcast_dim`` (token strategy only): hint the dim side for
    broadcast.  Set False when the dim is fact-cardinality (e.g. a full
    name-vocabulary self-join) so AQE/stats pick a shuffled hash join
    instead of forcing an over-sized broadcast.  The broadcast strategy
    ignores it — a containment theta join without a broadcast hint
    would fall back to a cartesian nested loop.
    """
    needle = F.col(needle_col)
    contains_pred = None
    for tc in text_cols:
        p = F.instr(F.col(tc), needle) > 0
        if exclude_equal:
            p = p & (needle != F.col(tc))
        contains_pred = p if contains_pred is None else (contains_pred | p)

    if strategy == "token":
        first_tok = F.split(needle, " ").getItem(0)
        dimx = dim.withColumn("__tok", first_tok)
        factx = fact.select(
            fact_id, *text_cols,
            F.explode(
                F.array_distinct(
                    F.flatten(F.array(*[F.split(F.col(tc), " ") for tc in text_cols]))
                )
            ).alias("__tok"),
        )
        dim_side = F.broadcast(dimx) if broadcast_dim else dimx
        matched = factx.join(dim_side, on="__tok").filter(contains_pred)
    else:
        matched = fact.select(fact_id, *text_cols).join(
            F.broadcast(dim), on=contains_pred, how="inner"
        )

    winners = _pick_winner(matched, fact_id, priority).select(fact_id, *payload_cols)
    return fact.join(winners, on=fact_id, how="left")


def regex_lookup(
    fact: DataFrame,
    fact_id: str,
    text_col: str,
    kb: DataFrame,
    pattern_col: str,
    payload_cols: Sequence[str],
    priority: Sequence[Column],
    brand_col: str | None = None,
    kb_brand_col: str | None = None,
) -> DataFrame:
    """J3 (prog.py:167-236 search_regex): broadcast cross join fact × kb,
    keep rows where the kb pattern (DATA, not a literal) matches the fact
    text, then deterministic winner per fact row.

    ``brand_col``/``kb_brand_col``: when given, candidate patterns are
    restricted to the fact row's brand (the reference's ``filter_brand``
    mode, prog.py:180) — this turns the cross join into an equi join on
    brand with the regex as a residual predicate, a much tighter plan.

    The extracted model itself (longest findall hit) is computed by the
    caller with ``regexp_extract_all`` on the winning pattern.
    """
    pat = F.col(pattern_col)
    pred = F.regexp_like(F.col(text_col), pat)
    facts = fact.select(fact_id, text_col, *( [brand_col] if brand_col else [] ))
    if brand_col and kb_brand_col:
        matched = facts.join(
            F.broadcast(kb),
            on=(F.col(brand_col) == F.col(kb_brand_col)) & pred,
            how="inner",
        )
    else:
        matched = facts.join(F.broadcast(kb), on=pred, how="inner")
    winners = _pick_winner(matched, fact_id, priority).select(
        fact_id, *payload_cols
    )
    return fact.join(winners, on=fact_id, how="left")


def longest_regex_hit(text: Column, pattern: Column) -> Column:
    """All matches of ``pattern`` in ``text``; return the longest
    (ties → first occurrence), reproducing ``max(findall, key=len)``
    (prog.py:189)."""
    hits = F.regexp_extract_all(text, pattern, F.lit(0))
    sorted_hits = F.sort_array(
        F.transform(hits, lambda s: F.struct((-F.length(s)).alias("neg"), s.alias("s")))
    )
    return F.element_at(sorted_hits, 1).getField("s")


def starting_point_capacity(model: Column, capacity_regex: Column, code: Column) -> Column:
    """J3 capacity post-processing (prog.py:210-228, spec nb cell 28):
    apply the kb row's capacity_regex to the matched model and transform
    the captured number by the ``starting_point`` code:

      0: num/10 · 1: drop first digit then /10 · 2: undeterminable (NULL)
      3: as-is · -2: drop first two digits · -1/else: drop first digit
    """
    # pyspark's regexp_extract requires a literal pattern; the pattern
    # here is DATA (a kb column), so use regexp_extract_all(col, col, 1)
    # and take the first hit's capture group.
    raw = F.element_at(F.regexp_extract_all(model, capacity_regex, F.lit(1)), 1)
    num = F.when(raw.isNotNull() & (raw != ""), raw).otherwise(F.lit(None))
    return (
        F.when(code == 0, num.cast("double") / 10)
        .when(code == 1, F.substring(num, 2, 100).cast("double") / 10)
        .when(code == 2, F.lit(None).cast("double"))
        .when(code == 3, num.cast("double"))
        .when(code == -2, F.substring(num, 3, 100).cast("double"))
        .otherwise(F.substring(num, 2, 100).cast("double"))
    )
