"""Batch sessionization: assign gap-based session ids per entity.

The streaming twin is ``F.session_window`` (streaming/jobs.py); this is
the batch/backfill form a training-data pipeline needs when replaying a
full event log.  Semantics follow the classic gap rule: a new session
starts when the time since the previous event of the same entity exceeds
``gap``.

Scale notes
-----------
One shuffle on the entity key (the window partition), then two window
passes over entity-local sorted runs — no further exchange.  Per-entity
event counts are the skew axis: at 100 TB a celebrity-key entity is
bounded by its own event count, not table size, so the window stays
tractable; for pathological single-key logs pre-split by day first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Add ``session_seq``: 1-based session sequence number per entity.

    A row opens a new session when it is the entity's first event or
    arrives more than ``gap_seconds`` after the previous event
    (strictly greater — an event exactly at the gap continues the
    session, matching Spark's session_window close-on-exceed rule).
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    new_session = (
        prev.isNull()
        | (F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev) > gap_seconds)
    ).cast("int")
    # cumulative sum of session-open flags = session sequence number
    return df.withColumn(
        "session_seq",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def session_stats(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-entity session summary: session count, events in the largest
    session, and total span seconds summed over sessions."""
    s = sessionize(df, entity_col, ts_col, gap_seconds)
    per_session = s.groupBy(entity_col, "session_seq").agg(
        F.count("*").alias("n_events"),
        (
            F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
        ).alias("span_s"),
    )
    return per_session.groupBy(entity_col).agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("span_s").alias("total_span_s"),
    )


def session_intervals(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """One row per (entity, session): start/end timestamps and event
    count.  Same single entity-key shuffle as ``sessionize`` — the
    per-session group-by rides the window's partitioning (subset rule).
    The natural left side of ``range_join.interval_overlap_join``."""
    s = sessionize(df, entity_col, ts_col, gap_seconds)
    return s.groupBy(entity_col, "session_seq").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
    )


def session_transcripts(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assemble each session's ordered event sequence as one string —
    the conversation/trajectory-assembly step of behavioral training
    data prep (chat turns, agent action traces): one training example
    per (entity, session) with the full ordered interaction.

    Ordering is (ts, tiebreak) so same-timestamp events are
    deterministic.  Returns ``(entity, session_seq, n_events,
    session_start, transcript)``.

    Scale shape: the sessionize window's entity shuffle is the ONLY
    exchange — the per-session group-by and the in-group ordering both
    ride it (collect_list into array_sort is entity-local; a session's
    transcript is bounded by that entity's own event count).
    """
    s = sessionize(df, entity_col, ts_col, gap_seconds)
    item = F.struct(
        F.col(ts_col).alias("t"),
        F.col(tiebreak_col).alias("k"),
        F.col(type_col).alias("v"),
    )
    return s.groupBy(entity_col, "session_seq").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(item)), lambda x: x["v"]
            ),
            ">",
        ).alias("transcript"),
    )
