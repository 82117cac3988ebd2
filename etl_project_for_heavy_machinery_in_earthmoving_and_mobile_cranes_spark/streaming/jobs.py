"""Structured Streaming jobs over the events stream (SURVEY §7.6).

The reference is batch-append only (history union, O3); this module is
the streaming-native extension: watermarked tumbling/session windows,
streaming dedup, an idempotent foreachBatch history appender, and the
foreachBatch MAINTAINERS of derived tables (upsert, SCD2, rollups,
drift counts, sketches, change-feed views, the decontaminated corpus
and the incremental near-dup index and pair feed).

Every table a sink writes is a Delta table (``sources/delta_lite``);
no sink writes plain parquet.  Each micro-batch publishes as one commit
that carries a ``txn`` action (app ``_TXN_APP``, version = the batch
id): keyed and snapshot tables through ``merge_touched``, append-only
tables (history, decontaminated corpus, near-dup index and pairs)
through ``write_delta(mode="append")``.  A replay of an applied batch
returns after a log read, and a commit that loses a race re-runs its
merge on the winner's snapshot, so each batch lands exactly once.  The
``txn`` version is a high-water mark, as in Structured Streaming's
idempotent sinks: a committed batch id marks every lower one applied,
so the batches written to one table must commit in increasing id
order.  Keyed tables hash-bucket their files on the key and
rewrite only the buckets a batch touches; the snapshot maintainers keep
one bucket.  Read a maintained table with ``read_maintained_table``;
roll it back with ``delta_lite.restore_table`` and compact it with
``delta_lite.compact``.  Neither removes a ``txn``, so a batch applied
before a restore stays applied: re-ingesting a rolled-back interval
takes new batch ids (or a fresh table), not a replay.

Every sink starts through one function, ``_run_foreach_batch``: it drains
the stream with the ``availableNow`` trigger and calls the sink's
module-level ``apply_*_batch`` function once per micro-batch.  The
public ``*_stream`` / ``*_from_changes`` wrappers add only what their
``apply_*`` function lacks (the change feed of an upstream table, the
benchmark gram set), so each ``apply_*`` docstring is the sink's
contract, and tests replay a batch by calling it directly.

All jobs are defined against a *streaming* DataFrame and are tested
with the file source + ``availableNow`` trigger (exactly-once batch
drain), which is also the production pattern for catch-up processing.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.history import merge_rollups
from ..sources import delta_lite
from ..sources.delta_cdf_datasource import stream_changes

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of event parquet files landing in a directory."""
    r = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_dir)


def hourly_type_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event type with late-data watermark —
    the streaming twin of the batch ``hourly_event_windows`` query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "sum_value")
    )


def sliding_type_counts(
    events: DataFrame,
    watermark: str = "2 hours",
    length: str = "1 hour",
    slide: str = "15 minutes",
) -> DataFrame:
    """Sliding windows (overlapping; each event in length/slide
    windows) per event type — the streaming twin of the batch
    ``sliding_event_windows`` query.  State size scales with
    (windows in watermark horizon) × (types), independent of rate."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", length, slide).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "sum_value")
    )


def deduped_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact-dedup on event_id: state is bounded by the
    watermark horizon (dropDuplicatesWithinWatermark)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def user_sessions(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (gap-based), built on the native
    session_window operator — no custom state management needed."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def run_available_now(
    sdf: DataFrame, checkpoint_dir: str, output_mode: str = "append"
) -> list:
    """Drain the stream with the availableNow trigger into an in-memory
    sink; returns the collected rows.  Used by tests and backfills."""
    import uuid

    spark = sdf.sparkSession
    name = f"q_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}").collect()


def _run_foreach_batch(
    stream: DataFrame, checkpoint_dir: str, apply, /, *args, **kwargs
):
    """Start the availableNow drain of ``stream`` into a foreachBatch
    sink that calls ``apply(batch_df, batch_id, *args, **kwargs)`` per
    micro-batch; returns the started query.  The checkpoint plus each
    ``apply``'s ``txn`` make the sink exactly-once per micro-batch."""
    return (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: apply(batch_df, batch_id, *args, **kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def apply_history_append_batch(
    batch_df: DataFrame, batch_id: int, table_path: str
) -> None:
    """One micro-batch of the streaming history append, module-level so
    the replay contract is directly testable: the batch, partitioned by
    its event date ``p_date``, is one ``delta_lite.write_delta`` append
    carrying the batch's ``txn``.  A replay of an applied batch (its
    checkpoint commit was lost after the data commit landed) returns
    after a log read, so the history holds each event once."""
    _refuse_foreign(table_path)
    delta_lite.write_delta(
        batch_df.withColumn("p_date", F.to_date("ts")),
        table_path,
        mode="append",
        txn=(_TXN_APP, batch_id),
        partition_by=["p_date"],
    )


def append_history_stream(
    events: DataFrame, table_path: str, checkpoint_dir: str
):
    """Streaming append into the date-partitioned Delta history
    (``apply_history_append_batch``)."""
    return _run_foreach_batch(
        events, checkpoint_dir, apply_history_append_batch, table_path
    )


def enrich_stream_with_dim(
    events: DataFrame, dim: DataFrame, on: str = "event_type"
) -> DataFrame:
    """Stream-static join: enrich each event with a dimension row.  The
    static side is planned per micro-batch (broadcast when small) and
    needs no watermark — the canonical pattern for rate tables, feature
    lookups, and KB dims on a stream."""
    return events.join(F.broadcast(dim), on, "left")


def clicks_to_purchases(
    events: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a prior click
    by the same user within ``max_gap``.  Both sides carry watermarks
    and the join predicate bounds event time on both, so state for
    expired rows is evicted — the requirement for unbounded-input
    stream-stream joins."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_gap}")),
        "inner",
    ).select("purchase_id", "click_id", "p_user", "purchase_ts", "click_ts", "value")


def abandoned_clicks(
    events: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: clicks that saw NO purchase from
    the same user within ``max_gap`` — the abandonment/no-conversion
    feed.  The outer side's NULL rows can only be emitted once the
    watermark passes the click's join window (before that a matching
    purchase could still arrive), so this job demonstrates the
    state-timeout semantics inner joins never exercise: every click is
    emitted EXACTLY once, matched or NULL-padded, and its state is
    evicted afterwards.  Both sides carry watermarks and the join
    predicate bounds event time in both directions — the conditions
    Spark requires to bound outer-join state."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")),
        "left_outer",
    )
    return joined.select(
        "click_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_id",
        (F.col("purchase_id").isNull()).alias("abandoned"),
    )


_TXN_APP = "spark-graft-maintainer"
# the snapshot maintainers (rollup, drift counts, sketches) keep their
# table in one bucket: it is sized by its key count, and the
# heavy-hitters truncation ranks the whole table
_SNAPSHOT_BUCKETS = 1


def _refuse_foreign(path: str) -> None:
    """Raise ValueError, before anything is written, when ``path`` holds
    data that is not a Delta table: a non-empty directory without a
    ``_delta_log``, or a ``{path}.versions`` directory (a table of the
    pre-Delta versioned-directory layout).  A maintainer must not claim
    such a path as a new table: the next batch would reset its state.
    A missing or empty path starts a new Delta table."""
    if os.path.isdir(os.path.join(path, "_delta_log")):
        return
    if os.path.isdir(f"{path}.versions") or (
        os.path.isdir(path)
        and any(not name.startswith(".") for name in os.listdir(path))
    ):
        raise ValueError(
            f"{path} holds data without a _delta_log; a maintained table "
            "must be a Delta table or a new (missing or empty) path"
        )


def _merge(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key_cols: list[str],
    merge_fn,
    batch_id: int,
    n_buckets: int = _SNAPSHOT_BUCKETS,
) -> None:
    """Publish one micro-batch of a maintained table:
    ``delta_lite.merge_touched`` with the batch's ``txn`` in the same
    atomic commit.  A replay of a batch the log already holds returns
    before reading any data, and a commit that loses a race re-runs
    ``merge_fn`` on the winner's snapshot, so a batch lands exactly
    once."""
    _refuse_foreign(path)
    delta_lite.merge_touched(
        spark, path, batch, key_cols, merge_fn,
        n_buckets=n_buckets, txn=(_TXN_APP, batch_id),
    )


def _empty_stored(df: DataFrame) -> DataFrame:
    """An empty table of ``df``'s columns as a stored table reads back:
    every column nullable.  A ``merge_fn`` merges a first batch into it,
    so the first commit stores the schema every later merge produces;
    a first batch stored as it came (``count("*")`` or a ``coalesce`` is
    not nullable, a bare ``sum`` is) would change the table schema — a
    ``metaData`` action — on its first merge."""
    return df.sparkSession.createDataFrame(
        [], T.StructType([T.StructField(f.name, f.dataType) for f in df.schema])
    )


def _merge_rollup(cur, batch: DataFrame, keys: list[str], **aggs) -> DataFrame:
    """``history.merge_rollups`` of the stored table (``_empty_stored``
    on the first batch) and the batch."""
    return merge_rollups([_empty_stored(batch) if cur is None else cur, batch], keys, **aggs)


def read_maintained_table(spark, path: str):
    """Snapshot of a maintained table, read through its Delta log; None
    when nothing is committed yet.  Raises ValueError on a path holding
    non-Delta data (``_refuse_foreign``); any other read error
    propagates.  External readers must use this (or
    ``delta_lite.read_delta``): a plain ``spark.read.parquet(path)``
    would scan every superseded version's files."""
    _refuse_foreign(path)
    if not delta_lite.is_delta_table(path):
        return None
    return delta_lite.read_delta(spark, path)


def _delta_batch_applied(table_path: str, batch_id: int) -> bool:
    """Whether the log already holds this batch's ``txn``: a log read,
    zero data files.  Only sinks that run a Spark action before their
    commit, or commit to two tables, need it; ``merge_touched`` and
    ``write_delta`` check the ``txn`` themselves on every attempt."""
    last = delta_lite.last_txn_version(table_path, _TXN_APP)
    return last is not None and last >= batch_id


def apply_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    key_cols: list[str],
    n_buckets: int = 16,
) -> None:
    """One micro-batch of keyed upsert maintenance, exposed at module
    level so the at-least-once replay contract is directly testable
    (same pattern as ``apply_rollup_batch``): calling it twice with the
    same ``batch_id`` applies once, and the replay call never touches
    the published state.

    The batch (latest row per key, by ``ts``) publishes through
    ``delta_lite.upsert_delta`` — a MERGE INTO-style touched-file
    commit: the table's files are hash-bucketed on ``key_cols`` and a
    batch touching k keys rewrites only the buckets those keys hash
    into, O(batch + touched buckets) per publish.  Idempotence rides a
    ``txn`` action in the same atomic commit, so the replay guard is a
    log read that never touches table data."""
    latest = F.max_by(
        F.struct(*[c for c in batch_df.columns if c not in key_cols]), F.col("ts")
    ).alias("__rest")
    dedup = batch_df.groupBy(*key_cols).agg(latest).select(*key_cols, "__rest.*")
    _refuse_foreign(table_path)
    delta_lite.upsert_delta(
        batch_df.sparkSession,
        table_path,
        dedup,
        key_cols,
        n_buckets=n_buckets,
        txn=(_TXN_APP, batch_id),
    )


def upsert_stream(
    events: DataFrame, table_path: str, key_cols: list[str], checkpoint_dir: str
):
    """Streaming MERGE into a keyed table (``apply_upsert_batch``)."""
    return _run_foreach_batch(
        events, checkpoint_dir, apply_upsert_batch, table_path, key_cols
    )


def apply_changes_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    n_buckets: int = 16,
) -> None:
    """One micro-batch of CHANGE-FEED rollup maintenance — the
    downstream half of the CDC loop (VERDICT r8 #1/#2): fold a
    delta_cdf micro-batch (table rows + ``_change_type`` ∈
    {insert, delete}) into an additively-maintained group aggregate.
    Inserts add, deletes subtract — count and sums are signed folds,
    so the maintained table equals the full groupBy of the upstream
    SNAPSHOT at every point, while each batch costs O(changed files +
    touched downstream buckets), never O(either table).

    Groups whose live count reaches 0 are dropped (they have no
    upstream rows left).  Publishes through the touched-file Delta
    merge with ``txn`` idempotence — an at-least-once replay of an
    applied batch is a no-op, which is what makes the signed fold safe
    under restart (a double-applied delete would subtract twice).
    Double-typed measures accumulate in float addition order like any
    streaming aggregate; integer measures fold exactly."""
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = batch_df.groupBy(*group_cols).agg(
        F.sum(sign).alias("n"),
        *[F.sum(sign * F.col(c)).alias(f"sum_{c}") for c in sum_cols],
    )

    # "n" sums like the measures and stays the first measure column
    measures = ("n", *[f"sum_{c}" for c in sum_cols])

    def merge_fn(cur, batch):
        if cur is not None:
            batch = merge_rollups([cur, batch], group_cols, sum_cols=measures)
        return batch.filter(F.col("n") != 0)

    _merge(
        batch_df.sparkSession, table_path, delta, list(group_cols), merge_fn,
        batch_id, n_buckets=n_buckets,
    )


def maintain_rollup_from_changes(
    spark: SparkSession,
    upstream_table: str,
    table_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    sum_cols: list[str],
):
    """Incrementally-maintained MATERIALIZED VIEW over a delta_lite
    table: its change feed from version 0 (``delta_cdf`` source) folds
    into a count/sum rollup (``apply_changes_rollup_batch``).  A
    restart resumes at the checkpoint's committed upstream version."""
    return _run_foreach_batch(
        stream_changes(spark, upstream_table, 0), checkpoint_dir,
        apply_changes_rollup_batch, table_path, group_cols, sum_cols,
    )


def apply_scd2_changes_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    key_col: str,
    attr_cols: list[str],
    n_buckets: int = 16,
) -> None:
    """One micro-batch of CDF-driven SCD2 dimension tracking: net the
    file-level change feed down to per-key POST-IMAGE observations and
    fold them into the SCD2 interval table (``apply_scd2_batch``).

    Netting: a bucket rewrite re-emits carried-over rows as a
    delete+insert pair with identical values AND identical
    ``_commit_version``, so ``inserts EXCEPT ALL deletes`` over
    (key, attrs, version) cancels them exactly; what survives is the
    real post-image of each changed key at each commit.  A key
    re-upserted with UNCHANGED attributes nets to zero (and would
    run-length-collapse anyway), so no spurious interval opens.
    ``valid_from``/``valid_to`` are upstream COMMIT VERSIONS — join
    ``delta_history`` timestamps downstream if wall-clock intervals
    are wanted.  Limitation: a key DELETED upstream nets to
    delete-only and keeps its last interval open (dimension deletes
    need an explicit tombstone attribute, the standard SCD2 answer).
    Replay of an applied batch is a no-op via the same txn guard,
    checked before the netting runs its Spark job."""
    if _delta_batch_applied(table_path, batch_id):
        return
    sel = [key_col, *attr_cols, "_commit_version"]
    ins = batch_df.filter(F.col("_change_type") == "insert").select(*sel)
    dels = batch_df.filter(F.col("_change_type") == "delete").select(*sel)
    obs = ins.exceptAll(dels).withColumnRenamed(
        "_commit_version", "change_version"
    )
    if obs.isEmpty():
        return  # checkpoint-only or fully-carried-over batch
    apply_scd2_batch(
        obs,
        batch_id,
        table_path,
        key_col,
        "change_version",
        list(attr_cols),
        n_buckets=n_buckets,
    )


def maintain_scd2_from_changes(
    spark: SparkSession,
    upstream_table: str,
    table_path: str,
    checkpoint_dir: str,
    key_col: str,
    attr_cols: list[str],
):
    """Incrementally-maintained SCD2 HISTORY of a delta_lite dimension
    table: its change feed from version 0 folds into validity
    intervals (``apply_scd2_changes_batch``), so the view answers
    "what was key K's state at version V" while the upstream stores
    only the current state."""
    return _run_foreach_batch(
        stream_changes(spark, upstream_table, 0), checkpoint_dir,
        apply_scd2_changes_batch, table_path, key_col, attr_cols,
    )


def apply_gauge_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    upstream_table: str,
    group_cols: list[str],
    minmax_cols: list[str],
    sum_cols: "list[str] | tuple" = (),
    n_buckets: int = 16,
) -> None:
    """One micro-batch of NON-INVERTIBLE rollup maintenance: maintain
    per-group ``min``/``max`` (plus count and optional integer sums)
    from a change feed.  Sums invert under deletes (signed fold,
    ``apply_changes_rollup_batch``); extrema don't — deleting the row
    that held a group's min can RAISE the min, which no fold over the
    batch alone can produce.  Split the batch by what each group saw:

    - FOLD path — groups with only inserts this batch: ``min`` folds
      monotonically (``least(cur, batch_min)``), ``max`` with
      ``greatest``, count/sums add.  No upstream read.  Append-only
      commits (``write_delta`` mode='append') land here, so the
      insert-mostly ingest case stays O(batch).
    - RECOMPUTE path — groups with ANY delete this batch: re-aggregate
      exactly those groups from the upstream snapshot PINNED at the
      batch's max ``_commit_version`` (so later fold batches stack on
      a consistent base).  The scan uses ``read_delta`` stats-predicate
      file skipping bounded by the dirty groups' value range plus a
      broadcast semi-join on the exact group set.  Make the skipping
      BITE by clustering the upstream on the group columns — any of:
      (a) ``delta_lite.optimize_cluster(up, group_cols)`` (linear
      range-sort, layout-only/dataChange:false so this feed skips the
      rewrite itself; the right shape for append-mostly upstreams
      taking ``delete_where`` deletes — verified by
      test_gauge_recompute_rides_clustered_files and the 30x probe in
      SCALE.md), (b) ``optimize_zorder`` when another column must
      prune too, or (c) PARTITIONING the upstream by a group column
      (``write_delta(partition_by=...)``), which composes with keyed
      merges since r10's partitioned+bucketed merge.  On an upstream
      hash-bucketed by NON-group keys none of these apply and the
      recompute honestly degrades to a full-file-set scan of the
      pinned snapshot — the price of a non-invertible aggregate
      without group-clustering.  A bucket rewrite's carried-over rows
      arrive as delete+insert of the same group, so merge-touched
      upstreams route through recompute — correct, never
      double-counted.

    Groups recomputed to zero rows are dropped.  Publishes through the
    touched-file Delta merge with ``txn`` idempotence: an at-least-once
    replay of an applied batch is a no-op, checked before the batch is
    materialized."""
    spark = batch_df.sparkSession
    if _delta_batch_applied(table_path, batch_id):
        return
    batch_df = batch_df.localCheckpoint(eager=True)
    pin = batch_df.agg(F.max("_commit_version")).first()[0]
    if pin is None:
        return  # checkpoint-only commit: zero change rows
    gcols = list(group_cols)
    mcols = list(minmax_cols)
    scols = list(sum_cols)

    dirty = (
        batch_df.filter(F.col("_change_type") == "delete")
        .select(*gcols)
        .distinct()
        .localCheckpoint(eager=True)
    )
    folded = (
        batch_df.filter(F.col("_change_type") == "insert")
        .join(dirty, gcols, "left_anti")
        .groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(c).alias(f"sum_{c}") for c in scols],
            *[F.min(c).alias(f"min_{c}") for c in mcols],
            *[F.max(c).alias(f"max_{c}") for c in mcols],
        )
        .withColumn("__mode", F.lit("fold"))
    )

    if dirty.isEmpty():
        delta = folded
    else:
        bounds = dirty.agg(
            *[F.min(g).alias(f"lo_{g}") for g in gcols],
            *[F.max(g).alias(f"hi_{g}") for g in gcols],
        ).first()
        preds = [
            (g, bounds[f"lo_{g}"], bounds[f"hi_{g}"])
            for g in gcols
            if bounds[f"lo_{g}"] is not None
        ]
        up = delta_lite.read_delta(
            spark, upstream_table, version=pin, predicate=preds or None
        ).join(F.broadcast(dirty), gcols, "left_semi")
        recomputed = up.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(c).alias(f"sum_{c}") for c in scols],
            *[F.min(c).alias(f"min_{c}") for c in mcols],
            *[F.max(c).alias(f"max_{c}") for c in mcols],
        )
        # dirty groups absent from the recompute have no upstream rows
        # left: they travel with n NULL and are dropped by the merge
        delta = folded.unionByName(
            dirty.join(recomputed, gcols, "left").withColumn(
                "__mode", F.lit("recompute")
            )
        )

    out_cols = (
        gcols
        + ["n"]
        + [f"sum_{c}" for c in scols]
        + [f"min_{c}" for c in mcols]
        + [f"max_{c}" for c in mcols]
    )
    measure_cols = out_cols[len(gcols) :]

    def merge_fn(cur, batch):
        rec = batch.filter(F.col("__mode") == "recompute")
        fld = batch.filter(F.col("__mode") == "fold").select(*out_cols)
        base = cur.select(*out_cols) if cur is not None else None
        if base is not None:
            base = base.join(rec.select(*gcols), gcols, "left_anti")
        live_rec = rec.filter(F.col("n").isNotNull()).select(*out_cols)
        base = live_rec if base is None else base.unionByName(live_rec)
        # fold: full-outer merge so both new groups and pure-fold
        # updates of untouched-by-recompute groups land in one pass
        f = fld.select(
            *gcols, *[F.col(c).alias(f"__b_{c}") for c in measure_cols]
        )
        merged = base.join(f, gcols, "full")
        exprs = [
            (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("__b_n"), F.lit(0))).alias("n")
        ]
        for c in scols:
            exprs.append(
                (
                    F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"__b_sum_{c}"), F.lit(0))
                ).alias(f"sum_{c}")
            )
        for c in mcols:
            exprs.append(
                F.least(F.col(f"min_{c}"), F.col(f"__b_min_{c}")).alias(f"min_{c}")
            )
            exprs.append(
                F.greatest(F.col(f"max_{c}"), F.col(f"__b_max_{c}")).alias(
                    f"max_{c}"
                )
            )
        return merged.select(*gcols, *exprs)

    _merge(spark, table_path, delta, gcols, merge_fn, batch_id, n_buckets=n_buckets)


def maintain_gauge_rollup_from_changes(
    spark: SparkSession,
    upstream_table: str,
    table_path: str,
    checkpoint_dir: str,
    group_cols: list[str],
    minmax_cols: list[str],
    sum_cols: "list[str] | tuple" = (),
):
    """Incrementally-maintained min/max MATERIALIZED VIEW over a
    delta_lite table: its change feed from version 0 folds into a
    per-group gauge rollup (``apply_gauge_rollup_batch``), the
    non-invertible twin of ``maintain_rollup_from_changes``."""
    return _run_foreach_batch(
        stream_changes(spark, upstream_table, 0), checkpoint_dir,
        apply_gauge_rollup_batch, table_path, upstream_table,
        group_cols, minmax_cols, sum_cols,
    )


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of document parquet files landing in a
    directory — the ingest edge of a streaming curation pipeline."""
    return spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)


def curated_documents(docs: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Streaming corpus curation: the model-based quality gate
    (textstats.with_quality_logit — a pure map pass, so it streams with
    zero state) followed by exact content dedup on the normalized
    fingerprint.  First-seen wins within the stream (arrival order),
    versus the batch pipeline's lowest-id rule — the usual
    batch-vs-stream canonicalization difference, asserted equivalent at
    the fingerprint-set level by the stream/batch twin test.

    State note: plain ``dropDuplicates`` state grows with distinct
    fingerprints; production ingest bounds it with
    ``withWatermark + dropDuplicatesWithinWatermark`` on the ingest-time
    column (same pattern as ``deduped_events``) once documents carry an
    arrival timestamp.
    """
    from ..operators.textstats import fingerprint, with_quality_logit

    kept = with_quality_logit(docs, "text", threshold=threshold).filter(F.col("keep"))
    return kept.withColumn("fingerprint", fingerprint(F.col("text"))).dropDuplicates(
        ["fingerprint"]
    )


def apply_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    rollup_path: str,
    key_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """One micro-batch of rollup maintenance, exposed at module level
    so the at-least-once replay contract is directly testable: calling
    it twice with the same ``batch_id`` applies once."""
    inc = batch_df.groupBy(key_col).agg(
        F.count("*").alias("n"),
        F.sum(F.col(value_col).cast("decimal(28,6)")).alias("sum_value"),
    )

    def merge_fn(cur, batch):
        return _merge_rollup(
            cur, batch, [key_col], sum_cols=("sum_value",), count_col="n"
        )

    _merge(batch_df.sparkSession, rollup_path, inc, [key_col], merge_fn, batch_id)


def maintain_rollup_stream(events: DataFrame, rollup_path: str, checkpoint_dir: str):
    """Incremental per-event-type count + DECIMAL value-sum rollup on a
    stream (``apply_rollup_batch``): O(batch + rollup) per refresh,
    the history is never rescanned."""
    return _run_foreach_batch(events, checkpoint_dir, apply_rollup_batch, rollup_path)


def _apply_drift_counts_batch(
    batch_df: DataFrame,
    batch_id: int,
    counts_path: str,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> None:
    """One micro-batch of ``maintain_drift_counts_stream``: the batch's
    per-(group, bin) counts (``quality.bin_counts`` over the FIXED
    profile bounds ``lo``/``hi`` — the property that makes the partials
    mergeable) sum into the stored |groups|·n_bins counts table."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators.quality import (
        bin_counts,
    )

    def merge_fn(cur, batch):
        return _merge_rollup(cur, batch, ["__g", "__bin"], sum_cols=("__c",))

    inc = bin_counts(batch_df, group_col, value_col, lo, hi, n_bins)
    _merge(
        batch_df.sparkSession, counts_path, inc, ["__g", "__bin"], merge_fn, batch_id
    )


def maintain_drift_counts_stream(
    events: DataFrame,
    counts_path: str,
    checkpoint_dir: str,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
):
    """Incremental distribution-drift maintenance on a stream
    (``_apply_drift_counts_batch``); the monitor computes PSI/JSD on
    demand from the stored table via ``quality.drift_from_counts``
    without ever rescanning history."""
    return _run_foreach_batch(
        events, checkpoint_dir, _apply_drift_counts_batch,
        counts_path, group_col, value_col, lo, hi, n_bins,
    )


def session_transcripts_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of the batch transcript assembler: native
    session windows per user, the ordered event sequence collected as
    one string per closed session — conversation/trajectory training
    examples built AT THE INGEST EDGE.  The in-session ordering is the
    same (ts, event_id) struct sort as the batch operator; state per
    (user, open session) is bounded by that user's own event rate and
    evicted at the watermark."""
    item = F.struct(
        F.col("ts").alias("t"),
        F.col("event_id").alias("k"),
        F.col("event_type").alias("v"),
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list(item)), lambda x: x["v"]),
                ">",
            ).alias("transcript"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
            "transcript",
        )
    )


def _scd2_merge(
    cur: "DataFrame | None",
    obs: DataFrame,
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """The SCD2 fold, the ``merge_fn`` of ``apply_scd2_batch``: each
    affected key's OPEN interval is replayed as a pseudo-event at its
    valid_from and unioned with the batch's events, the batch-local
    SCD2 collapse (timeseries.scd2_from_events) recomputes that key's
    intervals from the open point forward, and the result replaces the
    affected keys' open intervals (closed history is untouched).
    ``cur`` is the touched buckets' rows, not the whole table: the
    fold only ever changes affected keys' rows, and every affected key
    lives in a touched bucket."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators.timeseries import (
        scd2_from_events,
    )

    if cur is None:
        cur = _empty_stored(scd2_from_events(obs, key_col, ts_col, attr_cols))
    affected = obs.select(key_col).distinct()
    open_iv = cur.filter(F.col("is_current")).join(
        affected, key_col, "left_semi"
    )
    keep_closed = cur.filter(~F.col("is_current"))
    keep_other_open = cur.filter(F.col("is_current")).join(
        affected, key_col, "left_anti"
    )
    pseudo = open_iv.select(
        F.col(key_col),
        F.col("valid_from").alias(ts_col),
        *[F.col(a) for a in attr_cols],
    )
    combined = pseudo.unionByName(obs)
    recomputed = scd2_from_events(combined, key_col, ts_col, attr_cols)
    return keep_closed.unionByName(keep_other_open).unionByName(recomputed)


def apply_scd2_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
    n_buckets: int = 16,
) -> None:
    """One micro-batch of SCD2 dimension maintenance, module-level for
    replay-contract testability (same pattern as apply_upsert_batch).

    Publishes through ``delta_lite.merge_touched``: the interval
    table's files are hash-bucketed on the key, and a batch touching k
    keys reads + rewrites only those buckets — publish cost O(batch +
    touched buckets), flat as closed history accumulates.  The batch's
    ``txn`` makes a replay a no-op; without it the replayed events
    would regenerate closed intervals that already exist (overlapping
    rows).

    Contract: events arrive in event-time order ACROSS batches per key
    (the standard CDC ingestion assumption); within a batch any order
    is fine."""
    obs = batch_df.select(
        F.col(key_col), F.col(ts_col), *[F.col(a) for a in attr_cols]
    )
    _merge(
        batch_df.sparkSession,
        table_path,
        obs,
        [key_col],
        lambda cur, batch: _scd2_merge(cur, batch, key_col, ts_col, attr_cols),
        batch_id,
        n_buckets=n_buckets,
    )


def maintain_scd2_stream(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
):
    """Incremental SCD2 dimension maintenance on a stream
    (``apply_scd2_batch``): the event history is never rescanned."""
    return _run_foreach_batch(
        events, checkpoint_dir, apply_scd2_batch,
        table_path, key_col, ts_col, attr_cols,
    )


def decontaminate_stream(
    docs: DataFrame,
    benchmark: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    n: int = 5,
):
    """Benchmark decontamination AT THE INGEST EDGE
    (``apply_decontaminate_batch``) against the word ``n``-gram set of
    the static ``benchmark``, derived once for every batch."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        dedup,
    )

    bench_sh = (
        dedup.shingle_rows(benchmark, "doc_id", "text", n)
        .select("__sh")
        .distinct()
        .localCheckpoint(eager=True)  # static: derive once, reuse every batch
    )
    return _run_foreach_batch(
        docs, checkpoint_dir, apply_decontaminate_batch, bench_sh, out_path, n
    )


def apply_decontaminate_batch(
    batch_df: DataFrame,
    batch_id: int,
    bench_sh: DataFrame,
    out_path: str,
    n: int = 5,
) -> None:
    """One micro-batch of ingest-edge decontamination, module-level so
    the batch-twin driver query can replay it directly (the pattern of
    ``apply_lsh_dedup_batch``): drop the batch's docs sharing any word
    n-gram with the static benchmark gram set (``bench_sh``, one
    distinct ``__sh`` column, broadcast) and append the clean rest to
    the Delta table at ``out_path`` with the batch's ``txn``: a replay
    of an applied batch returns after a log read.  Stateless across
    batches — contamination is a pure function of (doc, static
    benchmark) — so the union of per-batch outputs equals the one-shot
    anti join."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        dedup,
    )

    sh = dedup.shingle_rows(batch_df, "doc_id", "text", n)
    bad = (
        sh.join(F.broadcast(bench_sh), "__sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = batch_df.join(bad, "doc_id", "left_anti")
    _refuse_foreign(out_path)
    delta_lite.write_delta(clean, out_path, mode="append", txn=(_TXN_APP, batch_id))


_HH_EPS = "__eps"


def apply_heavy_hitters_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    key_col: str = "event_type",
    capacity: int = 1000,
) -> None:
    """One micro-batch of bounded heavy-hitters maintenance — the
    Misra–Gries summary merge of Agarwal et al., "Mergeable summaries"
    (PODS 2012): per-key counts merge additively, then the summary is
    truncated back to ``capacity`` rows, and the largest TRUNCATED
    count is added to a global undercount bound ``eps``.

    Guarantee carried in the table: for every surviving key,
    ``true_count ∈ [n, n + eps]`` — a key may only lose counts by
    being evicted (each eviction forfeits ≤ that batch's truncation
    threshold, and eps accumulates those thresholds), never by the
    merge itself.  Any key whose true count exceeds eps is guaranteed
    present.  State is O(capacity + batch keys) rows per batch —
    bounded regardless of how many distinct keys the stream has seen,
    which is the point: exact per-key counts over an unbounded key
    universe (URLs, tokens, user agents at 100 TB ingest) is the
    thing a maintainer must NOT attempt.

    Same exactly-once contract as ``apply_rollup_batch``: the batch's
    ``txn`` rides in the same atomic commit, so at-least-once replays
    are no-ops.  The table lives in one bucket, so the merge sees the
    whole summary; the truncation window sorts only that
    O(capacity + batch keys) summary, never the stream.
    """
    from pyspark.sql import Window

    inc = batch_df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").cast("bigint").alias("n")
    )

    def merge_fn(cur, batch):
        eps_prev = 0
        merged = batch
        if cur is not None:
            eps_prev = cur.agg(F.max(_HH_EPS)).first()[0] or 0
            prev = cur.select("key", "n")
            merged = prev.join(batch, "key", "full_outer").select(
                "key",
                (
                    F.coalesce(prev["n"], F.lit(0)) + F.coalesce(batch["n"], F.lit(0))
                ).alias("n"),
            )
        ranked = merged.withColumn(
            "__rk",
            F.row_number().over(Window.orderBy(F.desc("n"), F.asc("key"))),
        )
        # largest truncated count = the (capacity+1)-th row, if any: a
        # 1-row bounded action over the capacity-sized summary
        thr_row = ranked.filter(F.col("__rk") == capacity + 1).select("n").first()
        eps_new = eps_prev + (thr_row["n"] if thr_row is not None else 0)
        return (
            ranked.filter(F.col("__rk") <= capacity)
            .select("key", "n")
            .withColumn(_HH_EPS, F.lit(eps_new).cast("bigint"))
        )

    _merge(batch_df.sparkSession, path, inc, ["key"], merge_fn, batch_id)


def maintain_heavy_hitters_stream(
    events: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    capacity: int = 1000,
):
    """Streaming heavy hitters (trending keys) with BOUNDED state
    (``apply_heavy_hitters_batch``); sort the table by ``n`` for the
    current top-k."""
    return _run_foreach_batch(
        events, checkpoint_dir, apply_heavy_hitters_batch, path, key_col, capacity
    )


# the maintained HLL table stores the register index under this name:
# ``__bucket`` (hll_register_table's name) is the column delta_lite
# stages its merge buckets under
_HLL_REGISTER = "__register"


def apply_hll_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    group_col: str = "event_type",
    key_col: str = "user_id",
    b: int = 9,
) -> None:
    """One micro-batch of bounded distinct-count maintenance: the
    batch's HLL register table (sketches.hll_register_table) merges
    into the stored one by per-(group, register) MAX — associative,
    commutative, and IDEMPOTENT, so the merged sketch is independent
    of batch boundaries and re-delivery order (Agarwal et al.,
    mergeable summaries).  State is at most |groups|·2^b rows no
    matter how many distinct keys the stream has seen — the exact
    per-key dedup a maintainer must NOT attempt at 100 TB ingest
    (distinct users per URL over a year of events).  Same
    exactly-once contract as the other maintainers: the batch's
    ``txn`` rides in the same atomic commit.  The stored table is
    ``(group_col, _HLL_REGISTER, __rho)``; read the estimate off it
    with sketches.hll_estimate_from_registers."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators.sketches import (
        hll_register_table,
        merge_hll_registers,
    )

    inc = hll_register_table(batch_df, group_col, key_col, b=b).withColumnRenamed(
        "__bucket", _HLL_REGISTER
    )

    def merge_fn(cur, batch):
        return batch if cur is None else merge_hll_registers([cur, batch])

    _merge(
        batch_df.sparkSession, path, inc, [group_col, _HLL_REGISTER], merge_fn,
        batch_id,
    )


def maintain_hll_stream(
    events: DataFrame,
    path: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    key_col: str = "user_id",
    b: int = 9,
):
    """Streaming distinct-count maintenance with BOUNDED state
    (``apply_hll_batch``)."""
    return _run_foreach_batch(
        events, checkpoint_dir, apply_hll_batch, path, group_col, key_col, b
    )


def apply_reservoir_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    group_col: str = "event_type",
    id_col: str = "event_id",
    k: int = 5,
    payload_cols: "tuple[str, ...]" = (),
) -> None:
    """One micro-batch of bounded per-group uniform-sample maintenance
    — bottom-k sampling by deterministic hash priority (Cohen &
    Kaplan, "Summarizing data using bottom-k sketches", PODC 2007):
    every row gets priority ``md5('res:' || id)`` and the reservoir is
    the k smallest (priority, id) per group.  Because min-k of a union
    equals min-k of per-part min-k's, the maintained table after any
    batch split is IDENTICAL to the one-shot bottom-k over everything
    seen — the mergeability the classic index-based Algorithm R lacks
    (its sample depends on arrival order and an RNG, so no oracle
    could replay it).

    State is O(|groups|·k) rows regardless of stream length; per batch
    the only work is one union + one window over that summary plus the
    batch's own rows — the stream is never re-scanned or re-sorted.
    Replays are no-ops via the batch's ``txn``, and the merge itself
    is also idempotent (duplicate (group, id) rows collapse before
    ranking), so even a torn batch converges.

    Uniformity: md5 priorities are pseudo-uniform and independent of
    the payload, so each group's k survivors are a uniform-without-
    replacement sample of its distinct ids — and the SAME ids any
    other engine computes, which is what makes the sample auditable.
    """
    from pyspark.sql import Window

    pri = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("res:"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    keep_cols = [group_col, id_col, *payload_cols]
    inc = batch_df.select(*keep_cols).withColumn("__pri", pri)
    w = Window.partitionBy(group_col).orderBy(F.asc("__pri"), F.asc(id_col))

    def merge_fn(cur, batch):
        merged = batch if cur is None else cur.unionByName(batch)
        return (
            merged.dropDuplicates([group_col, id_col])
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .drop("__rk")
        )

    _merge(
        batch_df.sparkSession, path, inc, [group_col, id_col], merge_fn, batch_id
    )


def apply_cms_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 256,
) -> None:
    """One micro-batch of portable count-min sketch maintenance: the
    batch's (d, bucket, n) register increments (sketches.
    cms_register_table) merge ADDITIVELY into the stored grid — CMS
    merge is exact counter addition, so the maintained table after any
    batch split is identical to the one-shot sketch over everything
    seen (the property the batch-twin oracle hash-checks).  State is
    ≤ depth·width rows forever; per batch the work is the batch's own
    explode+aggregate plus a grid-sized outer join.  Exactly-once via
    the batch's ``txn`` in the same atomic commit."""
    from ..operators.sketches import cms_register_table

    inc = cms_register_table(batch_df, key_col, depth, width)

    def merge_fn(cur, batch):
        return _merge_rollup(cur, batch, ["d", "bucket"], sum_cols=("n",))

    _merge(batch_df.sparkSession, path, inc, ["d", "bucket"], merge_fn, batch_id)


def maintain_cms_stream(
    events: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 256,
):
    """Streaming frequency-sketch maintenance with BOUNDED state
    (``apply_cms_batch``); point estimates
    (sketches.cms_point_estimates) read off the live table."""
    return _run_foreach_batch(
        events, checkpoint_dir, apply_cms_batch, path, key_col, depth, width
    )


def maintain_reservoir_stream(
    events: DataFrame,
    path: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    id_col: str = "event_id",
    k: int = 5,
):
    """Streaming per-group uniform sample with BOUNDED state
    (``apply_reservoir_batch``)."""
    return _run_foreach_batch(
        events, checkpoint_dir, apply_reservoir_batch, path, group_col, id_col, k
    )


def apply_lsh_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket: "int | None" = None,
) -> None:
    """One micro-batch of INCREMENTAL near-dup detection — the 100 TB
    ingest-edge shape of MinHash-LSH dedup: each arriving batch is
    signature-hashed once, band-joined against the accumulated
    signature+doc index, exact-verified, and appended to the index.
    Cross-batch pairs surface when their LATER member arrives, so the
    union of per-batch pair outputs equals the one-shot LSH over the
    whole corpus with each pair reported EXACTLY ONCE (asserted by the
    stream/batch twin test) — no full-corpus re-dedup, ever.

    Layout: the index and the pair feed are Delta tables, and each
    batch appends to both with its ``txn`` — the pairs first, then the
    index.  The index commit is the batch's last, so a replay whose
    index already holds the batch returns after a log read, before any
    Spark job; a replay after a crash between the two commits finds an
    index without the batch (so it never pairs a doc with itself),
    skips the applied pair append and lands the index append.

    Scale shape: per batch, signatures cost O(batch shingles); the
    candidate stage is the banded equi join of (batch ∪ index)
    signatures — at production scale the index side is bucketed by
    band hash so the lookup prunes instead of rescanning — and the
    exact verify touches only candidate ids via
    ``dedup.exact_jaccard_of_pairs``.  ``max_bucket`` carries the
    usual boilerplate-family cap.
    """
    from ..operators import dedup as dedup_ops

    _refuse_foreign(pairs_path)
    if _delta_batch_applied(index_path, batch_id):
        return
    spark = batch_df.sparkSession
    stored = read_maintained_table(spark, index_path)
    sigs_new = dedup_ops.minhash_signatures(
        batch_df, id_col, text_col,
        num_hashes=num_hashes, shingle_n=shingle_n, hash_fn="xxhash64",
    )
    new_rows = batch_df.select(id_col, text_col).join(sigs_new, id_col)

    mh_cols = [f"mh_{i}" for i in range(num_hashes)]

    if stored is not None:
        all_sigs = stored.select(id_col, *mh_cols).unionByName(
            sigs_new.select(id_col, *mh_cols)
        )
        corpus = stored.select(id_col, text_col).unionByName(
            batch_df.select(id_col, text_col)
        )
    else:
        all_sigs = sigs_new.select(id_col, *mh_cols)
        corpus = batch_df.select(id_col, text_col)

    cand = dedup_ops.lsh_similar_pairs(
        all_sigs, id_col, num_hashes=num_hashes, bands=num_hashes,
        max_bucket=max_bucket,
    )
    new_ids = sigs_new.select(F.col(id_col))
    # keep pairs touching THIS batch: older pairs were already emitted
    # the batch their later member arrived.  new_ids is batch-bounded,
    # so ITS broadcast is explicit and safe
    cand_new = (
        cand.join(
            F.broadcast(new_ids.withColumnRenamed(id_col, "id_a")),
            "id_a",
            "left_semi",
        )
        .unionByName(
            cand.join(
                F.broadcast(new_ids.withColumnRenamed(id_col, "id_b")),
                "id_b",
                "left_semi",
            )
        )
        .distinct()
        # feeds the verify stage three times.  persist(), NOT
        # localCheckpoint: checkpoint blocks are unrecoverable when
        # memory pressure drops them (no lineage), and a dup-storm
        # batch is exactly when pressure happens — persisted blocks
        # recompute instead (observed at the 30x probe: checkpointed
        # pair blocks vanished mid-verify and failed the batch)
        .persist()
    )
    exact = dedup_ops.exact_jaccard_of_pairs(
        corpus, cand_new, id_col, text_col, shingle_n=shingle_n
    )
    pairs = exact.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )
    # the pair list, candidate-id projections, and per-candidate
    # shingle-set table in the verify plan are all ANSWER-sized —
    # unbounded on a dup-storm batch.  An auto-chosen broadcast of any of them is a
    # driver OOM waiting for the worst batch (observed at the 30x
    # probe: a 64 MB-threshold broadcast build OOM'd the 8 GB driver),
    # so once the accumulated index is big enough that answer frames
    # CAN be big, auto-broadcast is turned off for the batch apply —
    # the explicit batch-bounded broadcasts above still apply (a -1
    # threshold honors explicit hints).  Small indexes keep broadcasts
    # on: at gate scale every frame is tiny and shuffling them instead
    # measured 4x slower for nothing.
    live = delta_lite._read_actions(index_path)[0] if stored is not None else {}
    big_index = sum(add["size"] for add in live.values()) > 16 * 1024 * 1024
    thr_key = "spark.sql.autoBroadcastJoinThreshold"
    old_thr = spark.conf.get(thr_key, None)
    if big_index:
        spark.conf.set(thr_key, "-1")
    try:
        txn = (_TXN_APP, batch_id)
        delta_lite.write_delta(pairs, pairs_path, mode="append", txn=txn)
        delta_lite.write_delta(new_rows, index_path, mode="append", txn=txn)
    finally:
        if big_index and old_thr is not None:
            spark.conf.set(thr_key, old_thr)
        cand_new.unpersist()  # release the persisted pair blocks


def incremental_lsh_dedup_stream(
    docs: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    **kwargs,
):
    """Streaming incremental near-dup detection
    (``apply_lsh_dedup_batch``): every arriving micro-batch of
    documents is checked against everything ingested before it."""
    return _run_foreach_batch(
        docs, checkpoint_dir, apply_lsh_dedup_batch, index_path, pairs_path, **kwargs
    )


def apply_experiment_units_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    cut_us: int,
    conv_type: str = "purchase",
    seed: int = 0,
    n_buckets: int = 16,
) -> None:
    """One micro-batch of EXPERIMENT-UNIT maintenance: the per-user
    (arm, pre-count x, post-count y, converted) table every
    experiment readout (z-test / SRM / CUPED / mSPRT / MDE —
    operators.experiments) aggregates over, maintained incrementally
    at the ingest edge instead of rescanning the event history per
    refresh.  Per batch: aggregate the batch to per-user DELTAS
    (Δx, Δy, Δconv — all mergeable by + / max with fixed cut and
    deterministic md5 arm), then fold into the stored units through
    the touched-file Delta MERGE (only the buckets holding the
    batch's users rewrite — O(batch), never O(users)).  Refresh =
    one |arms|-sized aggregate over the maintained table.  Replay
    idempotence rides the txn action.  ``cut_us`` (the pre/post
    split, epoch micros) is fixed at experiment start by contract —
    the property that makes per-user counts mergeable."""
    from ..operators.experiments import hash_assign

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    deltas = (
        batch_df.groupBy("user_id")
        .agg(
            F.sum((us < F.lit(cut_us)).cast("long")).alias("x"),
            F.sum((us >= F.lit(cut_us)).cast("long")).alias("y"),
            F.max(
                (
                    (us >= F.lit(cut_us))
                    & (F.col("event_type") == conv_type)
                ).cast("int")
            ).alias("conv"),
        )
        .withColumn("arm", hash_assign(F.col("user_id"), 2, seed=seed))
    )

    def merge_fn(cur: "DataFrame | None", batch: DataFrame) -> DataFrame:
        if cur is None:
            cur = _empty_stored(batch)
        c = cur.select(
            "user_id",
            F.col("x").alias("cx"),
            F.col("y").alias("cy"),
            F.col("conv").alias("cconv"),
            F.col("arm").alias("carm"),
        )
        j = c.join(batch, "user_id", "full_outer")
        return j.select(
            "user_id",
            (
                F.coalesce(F.col("cx"), F.lit(0))
                + F.coalesce(F.col("x"), F.lit(0))
            ).alias("x"),
            (
                F.coalesce(F.col("cy"), F.lit(0))
                + F.coalesce(F.col("y"), F.lit(0))
            ).alias("y"),
            F.greatest(
                F.coalesce(F.col("cconv"), F.lit(0)),
                F.coalesce(F.col("conv"), F.lit(0)),
            ).alias("conv"),
            F.coalesce(F.col("carm"), F.col("arm")).alias("arm"),
        )

    _merge(
        batch_df.sparkSession, table_path, deltas, ["user_id"], merge_fn,
        batch_id, n_buckets=n_buckets,
    )


def maintain_experiment_units_stream(
    events: DataFrame, table_path: str, checkpoint_dir: str, cut_us: int
):
    """Streaming experiment-unit maintenance
    (``apply_experiment_units_batch``): any experiments.* readout then
    runs as one tiny aggregate over ``read_maintained_table`` instead
    of rescanning event history."""
    return _run_foreach_batch(
        events, checkpoint_dir, apply_experiment_units_batch, table_path, cut_us
    )
