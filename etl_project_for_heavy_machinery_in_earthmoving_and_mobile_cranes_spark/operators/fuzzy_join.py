"""Containment and regex lookup joins (J1/J2/J3 + W2 winner selection).

The reference implements these as O(N·B)/O(N·R) nested ``iterrows`` loops
(prog.py:75-101, 174-236).  The Spark-native shape keeps one winner per
fact row with no join back onto the fact:

    dim → one row: sort_array(collect_list(struct(<priority>, needle, payload)))
        → fact × broadcast(that row)
        → each row's first array element passing its predicate (``first_hit``)
        → the fact's columns + the winner's payload.

The dims are 10²–10³ rows, so the cross join is a BroadcastNestedLoopJoin
against one row: the fact is read once and never shuffled, each row
scans the in-memory KB array in priority order, and the only exchange
is the dim's single-partition aggregate.  Ties on the priority key are
broken by the remaining struct fields (needle or pattern, then
payload), so the winner is deterministic; a ``min_by`` over the matches
would pick any tied row.

For fact-sized dims there is a token equi-key strategy
(``strategy='token'``): the containment predicate becomes a hash join on
exploded tokens (token-anchored semantics), and the winner per
``fact_id`` is a ``min_by`` aggregate joined back onto the fact.

Priority columns are materialized in the dims at load time (ref_idx,
kb_order, length(model)) because tie-breaks must be deterministic under
Spark's unordered execution (SURVEY §7.3).

The customs pipeline (``plans/pipeline.py``) carries its KBs with the
same ``sorted_structs`` / ``first_hit`` pair.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sorted_structs(*fields) -> Column:
    """Aggregate: every KB row as struct(*fields), sorted ascending — the
    leading fields are the priority key."""
    return F.sort_array(F.collect_list(F.struct(*fields)))


def first_hit(arr: str, pred: Callable[[Column], Column]) -> Column:
    """The first element of the priority-sorted array column ``arr`` that
    passes ``pred``; NULL when none does (or the array is empty)."""
    return F.try_element_at(F.filter(F.col(arr), pred), F.lit(1))


def _first_hit_lookup(
    fact: DataFrame,
    dim: DataFrame,
    key_col: str,
    payload_cols: Sequence[str],
    priority: Sequence[Column],
    pred: Callable[[Column], Column],
) -> DataFrame:
    """fact ⟕ the payload of each fact row's first ``dim`` row by
    ``priority`` whose ``key_col`` passes ``pred`` against that row."""
    fields = [p.alias(f"__p{i}") for i, p in enumerate(priority)]
    kb = dim.agg(sorted_structs(*fields, *dict.fromkeys([key_col, *payload_cols])).alias("__kb"))
    hit = first_hit("__kb", lambda r: pred(r[key_col]))
    # the winner is one projected column, so first_hit runs once per row
    # however many payload fields are read from it
    out = fact.crossJoin(F.broadcast(kb)).select(*fact.columns, hit.alias("__w"))
    return out.select(*fact.columns, *(F.col("__w")[c].alias(c) for c in payload_cols))


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
) -> DataFrame:
    """J1/J2: for each fact row, find dim rows whose ``needle_col`` string
    is contained in any of the fact's ``text_cols``; keep the best match
    by ``priority`` (ascending; ties → the smaller needle, then payload);
    return fact ⟕ payload.

    J1 (brand detection, prog.py:75-89): priority = [ref_idx asc]
    (first-in-table wins).  J2 (model detection, prog.py:90-101):
    priority = [length(model) desc, ref_idx asc] (longest wins).

    ``strategy='broadcast'`` (default): the dim becomes one broadcast
    row of priority-sorted structs and each fact row takes its first
    hit — no shuffle of the fact, no join back; every fact row keeps its
    own winner, and ``fact_id`` is not used.

    ``strategy='token'`` — scale path for fact-sized dims: join on the
    needle's first token vs the fact text's exploded tokens (equi hash
    join; the planner picks the build side), verify full containment,
    then keep the ``min_by`` winner per ``fact_id`` and join it back —
    so ``fact_id`` must be a key of ``fact`` here.  NOTE the token path
    is *token-anchored*: a needle is only found where its first token
    appears as a whitespace token of the text ('old plate' is missed
    inside 'cold plate').  Brand/model needles in the reference data
    are token-anchored, so J1/J2 semantics are preserved; for arbitrary
    mid-token substrings keep ``strategy='broadcast'``.

    ``exclude_equal``: drop matches where the needle equals the text
    column it matched (proper containment — for self-joins such as
    name-subsumption detection).
    """

    def contains(needle: Column) -> Column:
        pred = None
        for tc in text_cols:
            p = F.instr(F.col(tc), needle) > 0
            if exclude_equal:
                p = p & (needle != F.col(tc))
            pred = p if pred is None else (pred | p)
        return pred

    if strategy != "token":
        return _first_hit_lookup(fact, dim, needle_col, payload_cols, priority, contains)

    dimx = dim.withColumn("__tok", F.split(F.col(needle_col), " ").getItem(0))
    factx = fact.select(
        fact_id, *text_cols,
        F.explode(
            F.array_distinct(
                F.flatten(F.array(*[F.split(F.col(tc), " ") for tc in text_cols]))
            )
        ).alias("__tok"),
    )
    matched = factx.join(dimx, on="__tok").filter(contains(F.col(needle_col)))
    winners = _pick_winner(matched, fact_id, priority).select(fact_id, *payload_cols)
    return fact.join(winners, on=fact_id, how="left")


def regex_lookup(
    fact: DataFrame,
    text_col: str,
    kb: DataFrame,
    pattern_col: str,
    payload_cols: Sequence[str],
    priority: Sequence[Column],
) -> DataFrame:
    """J3 (prog.py:167-236 search_regex): each fact row's winner is the
    first kb row by ``priority`` (ascending; ties → the smaller pattern,
    then payload) whose pattern (DATA, not a literal) matches the fact
    text; return fact ⟕ payload, NULL where no pattern matches.  The kb
    is one broadcast row of priority-sorted structs — the same shape as
    ``containment_lookup``'s broadcast strategy.

    The extracted model itself (longest findall hit) is computed by the
    caller with ``regexp_extract_all`` on the winning pattern.
    """
    text = F.col(text_col)
    return _first_hit_lookup(
        fact, kb, pattern_col, payload_cols, priority, lambda pat: F.regexp_like(text, pat)
    )


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
