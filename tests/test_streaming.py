"""Structured Streaming jobs: file source + availableNow drain, compared
against the batch twin on the same data."""

import os

import pytest
from pyspark.sql import functions as F

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
    delta_lite as dl,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.streaming import jobs


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    """Stage the events table as a landing directory of parquet files."""
    out = tmp_path_factory.mktemp("events_in")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    df.repartition(4).write.mode("overwrite").parquet(str(out / "data"))
    return str(out / "data")


def test_hourly_counts_stream_matches_batch(spark, event_dir, tmp_path):
    stream = jobs.read_event_stream(spark, event_dir)
    assert stream.isStreaming
    # complete mode: append would hold back windows newer than the
    # watermark horizon at end-of-stream
    got = jobs.run_available_now(
        jobs.hourly_type_counts(stream), str(tmp_path / "cp1"), output_mode="complete"
    )
    batch = (
        spark.read.parquet(event_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "sum_value")
        .collect()
    )
    key = lambda r: (r["wstart"], r["event_type"])
    assert {key(r): r["n"] for r in got} == {key(r): r["n"] for r in batch}


def test_streaming_dedup(spark, event_dir, tmp_path):
    stream = jobs.read_event_stream(spark, event_dir)
    got = jobs.run_available_now(
        jobs.deduped_events(stream).select("event_id"), str(tmp_path / "cp2")
    )
    n_distinct = spark.read.parquet(event_dir).select("event_id").distinct().count()
    assert len(got) == n_distinct


def test_user_sessions(spark, event_dir, tmp_path):
    stream = jobs.read_event_stream(spark, event_dir)
    got = jobs.run_available_now(
        jobs.user_sessions(stream, gap="30 minutes"), str(tmp_path / "cp3"),
        output_mode="complete",
    )
    assert len(got) > 0
    for r in got[:50]:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1
    # every event lands in exactly one session
    assert sum(r["n_events"] for r in got) == spark.read.parquet(event_dir).count()


def test_history_append_stream_idempotent(spark, event_dir, tmp_path):
    table = str(tmp_path / "hist_table")
    cp = str(tmp_path / "cp4")
    q = jobs.append_history_stream(jobs.read_event_stream(spark, event_dir), table, cp)
    q.awaitTermination()
    n1 = jobs.read_maintained_table(spark, table).count()
    # re-run with same checkpoint: no new data → no duplicate append
    q2 = jobs.append_history_stream(jobs.read_event_stream(spark, event_dir), table, cp)
    q2.awaitTermination()
    n2 = jobs.read_maintained_table(spark, table).count()
    assert n1 == n2 == spark.read.parquet(event_dir).count()

    # lost checkpoint commit: the last batch's data commit landed but
    # its commits/<n> entry did not, so a restart replays that batch;
    # the batch's txn makes the replayed append a no-op
    commits = os.path.join(cp, "commits")
    last = max(int(name) for name in os.listdir(commits) if name.isdigit())
    version = dl.current_version(table)
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    q3 = jobs.append_history_stream(jobs.read_event_stream(spark, event_dir), table, cp)
    q3.awaitTermination()
    assert q3.lastProgress["batchId"] == last  # the batch did replay
    assert dl.current_version(table) == version
    assert jobs.read_maintained_table(spark, table).count() == n1


def test_stream_static_enrichment(spark, event_dir, tmp_path):
    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 5.0), ("view", 0.5)],
        "event_type string, weight double",
    )
    stream = jobs.read_event_stream(spark, event_dir)
    got = jobs.run_available_now(
        jobs.enrich_stream_with_dim(stream, dim),
        str(tmp_path / "cp_enrich"),
        output_mode="append",
    )
    by_type = {}
    for r in got:
        by_type.setdefault(r["event_type"], set()).add(r["weight"])
    assert by_type["click"] == {1.0}
    assert by_type["purchase"] == {5.0}
    assert by_type["error"] == {None}  # left join keeps unmatched events
    n_batch = spark.read.parquet(event_dir).count()
    assert len(got) == n_batch


def test_stream_stream_click_purchase_join(spark, event_dir, tmp_path):
    stream = jobs.read_event_stream(spark, event_dir)
    got = jobs.run_available_now(
        jobs.clicks_to_purchases(stream),
        str(tmp_path / "cp_ss"),
        output_mode="append",
    )
    # batch twin of the same attribution join
    e = spark.read.parquet(event_dir)
    c = e.filter("event_type = 'click'").selectExpr(
        "user_id AS c_user", "event_id AS click_id", "ts AS click_ts"
    )
    p = e.filter("event_type = 'purchase'").selectExpr(
        "user_id AS p_user", "event_id AS purchase_id", "ts AS purchase_ts"
    )
    batch = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
    ).select("purchase_id", "click_id")
    want = {(r["purchase_id"], r["click_id"]) for r in batch.collect()}
    assert want, "fixture should produce at least one attributed pair"
    assert {(r["purchase_id"], r["click_id"]) for r in got} == want


def test_sliding_counts_stream_matches_batch(spark, event_dir, tmp_path):
    stream = jobs.read_event_stream(spark, event_dir)
    got = jobs.run_available_now(
        jobs.sliding_type_counts(stream), str(tmp_path / "cp_slide"),
        output_mode="complete",
    )
    batch = (
        spark.read.parquet(event_dir)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
        .collect()
    )
    key = lambda r: (r["wstart"], r["event_type"])
    assert {key(r): r["n"] for r in got} == {key(r): r["n"] for r in batch}
    # every event appears in exactly 4 overlapping windows
    n_events = spark.read.parquet(event_dir).count()
    assert sum(r["n"] for r in got) == 4 * n_events


def test_upsert_stream_latest_per_key(spark, event_dir, tmp_path):
    """foreachBatch MERGE: after two deliveries the keyed table holds
    exactly one row per user — that user's latest event overall (the
    second delivery contains only later events, so update-wins equals
    global argmax by ts).  The table is a Delta table (touched-file
    publish) and reads go through read_maintained_table."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )

    src = spark.read.parquet(event_dir)
    mid = src.select(F.unix_timestamp("ts").alias("s")).approxQuantile(
        "s", [0.5], 0.0
    )[0]
    early = src.filter(F.unix_timestamp("ts") <= mid)
    late = src.filter(F.unix_timestamp("ts") > mid)
    land = str(tmp_path / "land")
    table, cp = str(tmp_path / "tbl"), str(tmp_path / "cp")

    early.write.parquet(land)
    q = jobs.upsert_stream(
        jobs.read_event_stream(spark, land), table, ["user_id"], cp
    )
    q.awaitTermination()
    assert delta_lite.is_delta_table(table)
    t1 = jobs.read_maintained_table(spark, table)
    assert t1.count() == early.select("user_id").distinct().count()

    late.write.mode("append").parquet(land)
    q2 = jobs.upsert_stream(
        jobs.read_event_stream(spark, land), table, ["user_id"], cp
    )
    q2.awaitTermination()

    got = {
        (r["user_id"], r["ts"])
        for r in jobs.read_maintained_table(spark, table)
        .select("user_id", "ts").collect()
    }
    want = {
        (r["user_id"], r["ts"])
        for r in src.groupBy("user_id").agg(F.max("ts").alias("ts")).collect()
    }
    assert got == want


def test_watermark_append_finalizes_once_and_drops_post_eviction_stragglers(
    spark, tmp_path
):
    """The watermark guarantees streaming actually makes (asserted as
    micro-batches via maxFilesPerTrigger=1, append mode):
    1. a window is emitted EXACTLY ONCE, after the watermark passes its
       end — never re-emitted, never resurrected by a straggler whose
       window was already finalized and its state evicted;
    2. windows the watermark has not yet passed are withheld.
    (Spark's documented guarantee is one-directional: data within the
    delay is never dropped; data later than the delay MAY still be
    aggregated while the window's state is live — so the assertable
    contract is finalize-once + no-resurrection, not eager dropping.)"""
    import datetime as dt
    import os
    import time

    from pyspark.sql import Row

    in_dir = tmp_path / "late_in"
    in_dir.mkdir()

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(
            [Row(event_id=i, ts=t, user_id=1, event_type="click",
                 value=1.0, props=None) for i, t in rows],
            jobs.EVENTS_SCHEMA,
        ).coalesce(1)
        p = str(in_dir / name)
        df.write.mode("overwrite").parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (mtime, mtime))

    def ts(h, m=0):
        return dt.datetime(2024, 1, 1, h, m)

    now = time.time()
    # batch 0: hours 02 and 09 -> watermark afterwards = 08:00
    write_file("f1", [(1, ts(2, 15)), (2, ts(9, 0))], now - 100)
    # batch 1: 10:30 -> watermark 09:30 passes window 02's end, so the
    # 02:00 window finalizes (emitted once, n=1) and its state evicts
    write_file("f2", [(4, ts(10, 30))], now - 50)
    # batch 2: a 02:45 straggler aimed at the FINALIZED window + 14:00
    # to push the watermark past windows 09 and 10
    write_file("f3", [(5, ts(2, 45)), (6, ts(14, 0))], now - 20)

    stream = jobs.read_event_stream(spark, str(in_dir / "*"), max_files_per_trigger=1)
    got = jobs.run_available_now(
        jobs.hourly_type_counts(stream, watermark="1 hour"),
        str(tmp_path / "cp_late"),
        output_mode="append",
    )
    emissions = sorted((r["wstart"].hour, r["n"]) for r in got)
    # finalize-once: window 02 appears exactly once with the pre-eviction
    # count; the post-eviction straggler neither duplicated nor
    # resurrected it.  Window 14 is withheld (watermark never passed it).
    assert emissions == [(2, 1), (9, 1), (10, 1)]


def test_curated_document_stream_matches_batch(spark, sf_dir, tmp_path):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators.textstats import (
        fingerprint,
        with_quality_logit,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    indir = str(tmp_path / "docs_in")
    # two landing files so the stream sees multiple micro-batch inputs
    docs.filter("doc_id % 2 = 0").write.parquet(indir)
    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(indir)

    stream = jobs.read_document_stream(spark, indir)
    got = jobs.run_available_now(
        jobs.curated_documents(stream, threshold=1.5).select("doc_id", "fingerprint"),
        str(tmp_path / "cp_cur"),
    )
    batch = (
        with_quality_logit(docs, "text", threshold=1.5)
        .filter("keep")
        .select(fingerprint(F.col("text")).alias("fingerprint"))
        .distinct()
        .collect()
    )
    # stream keeps first-seen per fingerprint, batch keeps lowest-id —
    # the kept fingerprint SET (and hence corpus content) is identical
    assert {r["fingerprint"] for r in got} == {r["fingerprint"] for r in batch}
    assert len(got) == len(batch)


def test_eventgen_streaming_source_deterministic(spark, tmp_path):
    """Spark 4 Python streaming Data Source: bounded drain produces the
    exact deterministic rows, split across multiple microbatches."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.eventgen_datasource import (
        EventGenDataSource,
        _row,
    )

    spark.dataSource.register(EventGenDataSource)
    out = str(tmp_path / "gen_out")
    ckpt = str(tmp_path / "gen_ckpt")
    # each availableNow start drains the reader's prefetched chunk; the
    # restarts resume from the CHECKPOINTED offset — exercising exactly
    # the replay/recovery contract the offset model promises
    for _ in range(3):
        q = (
            spark.readStream.format("eventgen")
            .option("rowsPerBatch", 40)
            .option("maxRows", 100)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    expect = sorted(_row(i) for i in range(100))
    assert got == expect


def test_streaming_rollup_maintenance_matches_batch(spark, event_dir, tmp_path):
    """Micro-batches maintain a per-type rollup by merging partial
    aggregates (jobs.maintain_rollup_stream -> history.merge_rollups);
    the final stored rollup must equal the one-pass batch rollup over
    all data — the incremental-refresh contract, on a stream.
    maxFilesPerTrigger=1 forces one micro-batch per landing file (4
    here), so the read-existing-and-merge branch runs three times —
    not just the first-batch bootstrap."""
    from pyspark.sql import functions as F

    rollup = tmp_path / "rollup"
    q = jobs.maintain_rollup_stream(
        jobs.read_event_stream(spark, event_dir, max_files_per_trigger=1),
        str(rollup), str(tmp_path / "cp_roll"),
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 3  # genuinely multi-batch

    got = {
        r["event_type"]: (r["n"], float(r["sum_value"]))
        for r in jobs.read_maintained_table(spark, str(rollup)).collect()
    }
    want = {
        r["event_type"]: (r["n"], float(r["s"]))
        for r in spark.read.parquet(event_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("s"),
        )
        .collect()
    }
    assert got == want


def test_streaming_drift_maintenance_matches_batch(spark, event_dir, tmp_path):
    """Micro-batches maintain (group, bin) counts over fixed profile
    bounds; drift computed from the final stored counts must equal the
    batch operator run with the same bounds over all data — the
    mergeable-partials contract, on a stream.  maxFilesPerTrigger=1
    forces genuine multi-batch merging."""
    from pyspark.sql import functions as F
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import quality

    counts = tmp_path / "drift_counts"
    q = jobs.maintain_drift_counts_stream(
        jobs.read_event_stream(spark, event_dir, max_files_per_trigger=1),
        str(counts), str(tmp_path / "cp_drift"),
        group_col="event_type", value_col="value", lo=0.0, hi=200.0, n_bins=8,
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 3

    stored = jobs.read_maintained_table(spark, str(counts))
    got = {
        r["event_type"]: (r["n"], r["psi"], r["jsd"])
        for r in quality.drift_from_counts(
            stored, "event_type", baseline="click", n_bins=8
        ).collect()
    }
    batch = spark.read.parquet(event_dir)
    want = {
        r["event_type"]: (r["n"], r["psi"], r["jsd"])
        for r in quality.distribution_drift(
            batch, "event_type", "value", baseline="click",
            n_bins=8, bounds=(0.0, 200.0),
        ).collect()
    }
    assert got == want and len(got) >= 3


def test_streaming_session_transcripts_match_batch(spark, event_dir, tmp_path):
    """The streaming transcript assembler (native session windows +
    ordered collect) produces the same (user, session_start, n_events,
    transcript) set as the batch gap-rule operator over the same log."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sessionize

    stream = jobs.read_event_stream(spark, event_dir)
    got = {
        (r["user_id"], r["session_start"], r["n_events"], r["transcript"])
        for r in jobs.run_available_now(
            jobs.session_transcripts_stream(stream),
            str(tmp_path / "cp_tr"), output_mode="complete",
        )
    }
    batch = sessionize.session_transcripts(
        spark.read.parquet(event_dir),
        "user_id", "ts", "event_type", "event_id", gap_seconds=1800,
    )
    want = {
        (r["user_id"], r["session_start"], r["n_events"], r["transcript"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 100


def test_streaming_scd2_maintenance_matches_batch(spark, event_dir, tmp_path):
    """Three time-ordered deliveries maintain the SCD2 dimension
    incrementally; the final stored interval table must equal the
    one-pass batch collapse over the full log — including runs that
    SPAN delivery boundaries (the open-interval extension branch)."""
    from pyspark.sql import functions as F
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import timeseries

    src = spark.read.parquet(event_dir)
    cuts = src.select(F.unix_timestamp("ts").alias("s")).approxQuantile(
        "s", [0.33, 0.66], 0.0
    )
    chunks = [
        src.filter(F.unix_timestamp("ts") <= cuts[0]),
        src.filter(
            (F.unix_timestamp("ts") > cuts[0]) & (F.unix_timestamp("ts") <= cuts[1])
        ),
        src.filter(F.unix_timestamp("ts") > cuts[1]),
    ]
    land = str(tmp_path / "scd_land")
    table, cp = str(tmp_path / "scd_tbl"), str(tmp_path / "scd_cp")
    for i, ch in enumerate(chunks):
        ch.write.mode("append").parquet(land)
        q = jobs.maintain_scd2_stream(
            jobs.read_event_stream(spark, land), table, cp,
            key_col="user_id", ts_col="ts", attr_cols=["event_type"],
        )
        q.awaitTermination()

    # read through the Delta log snapshot, not the raw dir
    got = {
        (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in jobs.read_maintained_table(spark, table).collect()
    }
    want = {
        (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in timeseries.scd2_from_events(
            src.select("user_id", "ts", "event_type"), "user_id", "ts", ["event_type"]
        ).collect()
    }
    assert got == want and len(want) > 500


def test_foreach_batch_replay_guard_helpers(spark, tmp_path):
    """The exactly-once guard: _delta_batch_applied skips batch ids at
    or below the committed txn (the at-least-once replay case) and
    admits new ones; read_maintained_table returns None only when
    nothing is committed and PROPAGATES real read errors instead of
    silently resetting state."""
    import os

    import pytest as _pt

    table = str(tmp_path / "guarded")
    assert jobs._delta_batch_applied(table, 0) is False  # first batch
    batch = spark.createDataFrame(
        [(1, "click", 5.0), (2, "view", 2.0)],
        "event_id long, event_type string, value double",
    )
    jobs.apply_rollup_batch(batch, 3, table)
    assert jobs._delta_batch_applied(table, 3) is True   # replay
    assert jobs._delta_batch_applied(table, 2) is True   # older replay
    assert jobs._delta_batch_applied(table, 4) is False  # new batch

    missing = jobs.read_maintained_table(spark, str(tmp_path / "nope"))
    assert missing is None
    # a CORRUPT table must raise, not silently become "first batch"
    for name in os.listdir(table):
        if name.endswith(".parquet"):
            with open(os.path.join(table, name), "wb") as fh:
                fh.write(b"this is not parquet")
    with _pt.raises(Exception):
        jobs.read_maintained_table(spark, table).collect()
    # ... and so must a corrupt log
    with open(os.path.join(table, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("{not json")
    with _pt.raises(Exception):
        jobs.read_maintained_table(spark, table)


def test_rollup_batch_replay_is_idempotent(spark, event_dir, tmp_path):
    """The at-least-once replay contract, exercised on the real apply
    path: re-delivering an already-applied micro-batch (same batch_id —
    what Structured Streaming does after a crash between the table
    write and the checkpoint commit) must be a no-op, while the next
    batch id still applies."""
    from pyspark.sql import functions as F

    rollup = str(tmp_path / "r_idem")
    src = spark.read.parquet(event_dir)
    b0 = src.filter("user_id % 2 = 0")
    b1 = src.filter("user_id % 2 = 1")

    jobs.apply_rollup_batch(b0, 0, rollup)
    first = {r["event_type"]: (r["n"], float(r["sum_value"]))
             for r in jobs.read_maintained_table(spark, rollup).collect()}
    # crash-replay of batch 0: same id re-delivered -> no double count
    jobs.apply_rollup_batch(b0, 0, rollup)
    assert {r["event_type"]: (r["n"], float(r["sum_value"]))
            for r in jobs.read_maintained_table(spark, rollup).collect()} == first
    # the NEXT batch still applies on top
    jobs.apply_rollup_batch(b1, 1, rollup)
    got = {r["event_type"]: (r["n"], float(r["sum_value"]))
           for r in jobs.read_maintained_table(spark, rollup).collect()}
    want = {r["event_type"]: (r["n"], float(r["s"]))
            for r in src.groupBy("event_type").agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(28,6)")).alias("s"),
            ).collect()}
    assert got == want
    # and replaying batch 1 after the fact is also a no-op
    jobs.apply_rollup_batch(b1, 1, rollup)
    assert {r["event_type"]: (r["n"], float(r["sum_value"]))
            for r in jobs.read_maintained_table(spark, rollup).collect()} == want


def test_decontaminate_stream_matches_batch_and_replays_idempotently(
    spark, sf_dir, tmp_path
):
    """Ingest-edge decontamination: the streamed clean corpus equals
    the batch semi/anti-join decontamination over the same docs and
    benchmark; re-running the drained stream (same checkpoint) adds
    nothing.  The replay of an applied batch is covered in
    ``tests/test_maintained_tables.py``."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter("doc_id % 20 = 0")
    corpus = docs.filter("doc_id % 20 != 0")

    indir = str(tmp_path / "docs_in")
    corpus.filter("doc_id % 2 = 0").write.parquet(indir)
    corpus.filter("doc_id % 2 = 1").write.mode("append").parquet(indir)

    out = str(tmp_path / "clean")
    cp = str(tmp_path / "cp_decon")
    q = jobs.decontaminate_stream(
        jobs.read_document_stream(spark, indir), bench, out, cp, n=5
    )
    q.awaitTermination()

    got = {
        r["doc_id"]
        for r in jobs.read_maintained_table(spark, out).select("doc_id").collect()
    }
    contaminated = dedup.decontaminate(corpus, bench, "doc_id", "text", n=5)
    want = {
        r["doc_id"]
        for r in corpus.join(contaminated, "doc_id", "left_anti")
        .select("doc_id")
        .collect()
    }
    assert got == want
    assert 0 < len(want) < corpus.count()  # decontamination actually bit

    # drained stream restarted on the same checkpoint: no new batches,
    # corpus unchanged
    q2 = jobs.decontaminate_stream(
        jobs.read_document_stream(spark, indir), bench, out, cp, n=5
    )
    q2.awaitTermination()
    assert {r["doc_id"] for r in jobs.read_maintained_table(spark, out).collect()} == want


def test_streaming_heavy_hitters_exact_when_capacity_not_binding(
    spark, event_dir, tmp_path
):
    """With capacity above the distinct-key count the Misra–Gries
    summary never truncates: the maintained table must equal the exact
    batch groupBy counts with eps == 0 — the summary degrades to exact
    counting, on a stream."""
    hh = str(tmp_path / "hh_exact")
    q = jobs.maintain_heavy_hitters_stream(
        jobs.read_event_stream(spark, event_dir, max_files_per_trigger=1),
        hh, str(tmp_path / "cp_hh"), key_col="event_type", capacity=1000,
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 3  # genuinely multi-batch

    out = jobs.read_maintained_table(spark, hh)
    got = {r["key"]: r["n"] for r in out.collect()}
    want = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(event_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
    assert out.agg(F.max("__eps")).first()[0] == 0


def test_heavy_hitters_bound_holds_under_truncation(spark, tmp_path):
    """Capacity-2 summary over a skewed 4-key stream: surviving keys
    carry n <= true <= n + eps, the dominant key is always present
    (true count > eps), and replaying an applied batch is a no-op."""
    hh = str(tmp_path / "hh_trunc")
    # batch 0: hot=60, warm=30, cold_a=6, cold_b=4; batch 1 doubles it
    rows = (
        [("hot",)] * 60 + [("warm",)] * 30 + [("cold_a",)] * 6 + [("cold_b",)] * 4
    )
    batch = spark.createDataFrame(rows, "k string")
    jobs.apply_heavy_hitters_batch(batch, 0, hh, key_col="k", capacity=2)
    first = jobs.read_maintained_table(spark, hh)
    eps0 = first.agg(F.max("__eps")).first()[0]
    got0 = {r["key"]: r["n"] for r in first.collect()}
    assert set(got0) == {"hot", "warm"}   # capacity 2 keeps the top 2
    assert eps0 == 6                       # largest truncated count
    # replay of batch 0: no-op
    jobs.apply_heavy_hitters_batch(batch, 0, hh, key_col="k", capacity=2)
    assert {
        r["key"]: r["n"] for r in jobs.read_maintained_table(spark, hh).collect()
    } == got0

    jobs.apply_heavy_hitters_batch(batch, 1, hh, key_col="k", capacity=2)
    out = jobs.read_maintained_table(spark, hh)
    eps1 = out.agg(F.max("__eps")).first()[0]
    got1 = {r["key"]: r["n"] for r in out.collect()}
    true = {"hot": 120, "warm": 60, "cold_a": 12, "cold_b": 8}
    # the bound: n <= true <= n + eps for every surviving key
    for k, n in got1.items():
        assert n <= true[k] <= n + eps1
    # the dominant key is guaranteed present (true count > eps)
    assert "hot" in got1 and got1["hot"] == 120
    # absent keys have true count <= eps (they only ever lost
    # threshold-bounded mass)
    for k in set(true) - set(got1):
        assert true[k] <= eps1

def test_upsert_batch_replay_is_idempotent_and_keeps_table_live(
    spark, event_dir, tmp_path
):
    """ADVICE r4 (high): replaying an upsert batch whose commit already
    landed (crash between publish and checkpoint commit) must be a
    no-op — an early version rebuilt the merge lazily over the live
    data and then overwrote that same data, destroying the table it
    was reading.  Asserted: same rows, no new commit, table readable
    throughout; the NEXT batch still applies."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )

    src = spark.read.parquet(event_dir)
    mid = src.select(F.unix_timestamp("ts").alias("s")).approxQuantile(
        "s", [0.5], 0.0
    )[0]
    early = src.filter(F.unix_timestamp("ts") <= mid)
    late = src.filter(F.unix_timestamp("ts") > mid)
    table = str(tmp_path / "ups_replay")

    def rows():
        return {
            (r["user_id"], r["ts"])
            for r in jobs.read_maintained_table(spark, table)
            .select("user_id", "ts")
            .collect()
        }

    jobs.apply_upsert_batch(early, 0, table, ["user_id"])
    live0 = delta_lite.current_version(table)
    rows0 = rows()
    # crash-replay of batch 0: no rewrite, no new commit
    jobs.apply_upsert_batch(early, 0, table, ["user_id"])
    assert delta_lite.current_version(table) == live0
    assert rows() == rows0

    jobs.apply_upsert_batch(late, 1, table, ["user_id"])
    want = {
        (r["user_id"], r["ts"])
        for r in src.groupBy("user_id").agg(F.max("ts").alias("ts")).collect()
    }
    assert rows() == want
    # and replaying batch 1 after the fact is also a no-op
    jobs.apply_upsert_batch(late, 1, table, ["user_id"])
    assert rows() == want


def test_streaming_hll_matches_one_pass_sketch_and_bounds_error(
    spark, event_dir, tmp_path
):
    """Bounded-state distinct counting: the maintained register table
    after a multi-batch stream equals the ONE-PASS register table over
    the same data (merge is associative+commutative+idempotent), the
    estimate lands within the HLL error envelope of the exact answer,
    and replaying an applied batch is a no-op."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import sketches
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )

    hll = str(tmp_path / "hll_tbl")
    q = jobs.maintain_hll_stream(
        jobs.read_event_stream(spark, event_dir, max_files_per_trigger=1),
        hll, str(tmp_path / "cp_hll"), group_col="event_type",
        key_col="user_id", b=9,
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 3  # genuinely multi-batch

    src = spark.read.parquet(event_dir)
    # the maintained table stores the register index as
    # jobs._HLL_REGISTER (``__bucket`` is the Delta layer's bucket column)
    maintained = {
        (r["event_type"], r[jobs._HLL_REGISTER]): r["__rho"]
        for r in jobs.read_maintained_table(spark, hll).collect()
    }
    one_pass = {
        (r["event_type"], r["__bucket"]): r["__rho"]
        for r in sketches.hll_register_table(
            src, "event_type", "user_id", b=9
        ).collect()
    }
    assert maintained == one_pass  # batch boundaries are invisible

    est = {
        r["event_type"]: r["est_distinct"]
        for r in sketches.hll_estimate_from_registers(
            jobs.read_maintained_table(spark, hll), "event_type", b=9
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in src.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        # 512 registers -> rse ~1.04/sqrt(512) ~ 4.6%; allow 4 sigma
        assert abs(est[k] - n) <= max(0.20 * n, 4.0), (k, est[k], n)

    # replay of the last applied batch id: no-op
    last = delta_lite.last_txn_version(hll, jobs._TXN_APP)
    jobs.apply_hll_batch(src.limit(50), last, hll, "event_type", "user_id", 9)
    assert {
        (r["event_type"], r[jobs._HLL_REGISTER]): r["__rho"]
        for r in jobs.read_maintained_table(spark, hll).collect()
    } == maintained


def test_stream_stream_left_outer_abandoned_clicks_matches_batch(
    spark, event_dir, tmp_path
):
    """Stream-stream LEFT OUTER join with watermark eviction: the
    NULL-padded (abandoned) rows the stream emits after the watermark
    passes each click's join window equal the batch anti-join twin,
    every click appears exactly once among abandoned/matched, and no
    click is both."""
    stream = jobs.read_event_stream(spark, event_dir)
    got = jobs.run_available_now(
        jobs.abandoned_clicks(stream),
        str(tmp_path / "cp_abandon"),
        output_mode="append",
    )
    e = spark.read.parquet(event_dir)
    c = e.filter("event_type = 'click'").selectExpr(
        "event_id AS click_id", "user_id", "ts AS click_ts"
    )
    p = e.filter("event_type = 'purchase'").selectExpr(
        "user_id AS p_user", "ts AS purchase_ts"
    )
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour"))
    )
    want_abandoned = {r["click_id"] for r in c.join(p, cond, "left_anti").collect()}
    assert 0 < len(want_abandoned) < c.count()  # both outcomes occur

    # a NULL-padded row may only be emitted once the watermark passes
    # the click's join window; clicks within (join window + watermark
    # delay) of stream end are legitimately still in state when
    # availableNow stops, so completeness is asserted for finalized
    # clicks and soundness (no false abandons) for all
    import datetime as _dt

    # the GLOBAL watermark is the min over both sides' watermark nodes
    # (each sees only its filtered branch), so finalization is gated by
    # the EARLIER of the two side maxima; 1 min margin for batch-
    # boundary watermark semantics
    max_c = c.agg(F.max("click_ts")).first()[0]
    max_p = p.agg(F.max("purchase_ts")).first()[0]
    cutoff = min(max_c, max_p) - _dt.timedelta(hours=3, minutes=1)
    finalized = {
        r["click_id"] for r in c.filter(F.col("click_ts") <= F.lit(cutoff)).collect()
    }
    got_abandoned = {r["click_id"] for r in got if r["abandoned"]}
    assert got_abandoned <= want_abandoned  # sound: never a false abandon
    assert want_abandoned & finalized <= got_abandoned  # complete when final
    # matched rows are emitted eagerly (inner matches never wait for
    # the watermark): exact and disjoint from the abandoned set
    got_matched = {r["click_id"] for r in got if not r["abandoned"]}
    assert got_matched.isdisjoint(got_abandoned)
    assert got_matched == {r["click_id"] for r in c.collect()} - want_abandoned


def test_incremental_lsh_dedup_stream_equals_one_shot(spark, sf_dir, tmp_path):
    """Ingest-edge near-dup dedup: the union of per-batch pair outputs
    equals the one-shot LSH candidates+verify over the whole corpus,
    with every pair reported exactly once (cross-batch pairs surface
    when their later member arrives); a drained-stream restart on the
    same checkpoint adds nothing."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    land = str(tmp_path / "docs_land")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(land)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(land)

    idx, pairs, cp = (
        str(tmp_path / "idx"),
        str(tmp_path / "pairs"),
        str(tmp_path / "cp_lsh"),
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = jobs.incremental_lsh_dedup_stream(stream, idx, pairs, cp)
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1  # genuinely multi-batch

    got_rows = (
        jobs.read_maintained_table(spark, pairs)
        .select("id_a", "id_b", "jaccard")
        .collect()
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got_rows}
    assert len(got_rows) == len(got)  # every pair exactly once

    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=8, shingle_n=3, hash_fn="xxhash64"
    )
    cand = dedup.lsh_similar_pairs(sigs, "doc_id", num_hashes=8, bands=8)
    exact = dedup.exact_jaccard_of_pairs(docs, cand, "doc_id", "text", shingle_n=3)
    want = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in exact.filter(F.col("jaccard") >= 0.8).collect()
    }
    assert got == want and len(want) > 0

    # drained restart: no new batches, no new pairs, index unchanged
    n_idx = jobs.read_maintained_table(spark, idx).count()
    q2 = jobs.incremental_lsh_dedup_stream(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land),
        idx, pairs, cp,
    )
    q2.awaitTermination()
    assert {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jobs.read_maintained_table(spark, pairs).collect()
    } == want
    assert jobs.read_maintained_table(spark, idx).count() == n_idx == docs.count()


def test_reservoir_merge_equals_oneshot_and_replay_noop(spark, tmp_path):
    """Bottom-k mergeability: any batch split converges to the one-shot
    bottom-k per group; replaying an applied batch is a no-op; state
    never exceeds |groups|*k."""
    res = str(tmp_path / "res")
    rows = [(i, "g%d" % (i % 2), float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, ["id", "grp", "v"])

    # one-shot expectation: k smallest md5('res:'||id) per group
    pri = F.conv(
        F.substring(F.md5(F.concat(F.lit("res:"), F.col("id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    from pyspark.sql import Window as W
    w = W.partitionBy("grp").orderBy("p", "id")
    expected = {
        (r["grp"], r["id"])
        for r in df.withColumn("p", pri)
        .withColumn("rk", F.row_number().over(w))
        .filter("rk <= 3")
        .collect()
    }

    # uneven split: 1 row, then 29, then 10
    splits = [(0, 1), (1, 30), (30, 40)]
    for b, (lo, hi) in enumerate(splits):
        jobs.apply_reservoir_batch(
            df.filter((F.col("id") >= lo) & (F.col("id") < hi)),
            b,
            res,
            group_col="grp",
            id_col="id",
            k=3,
            payload_cols=("v",),
        )
    final = jobs.read_maintained_table(spark, res)
    assert {(r["grp"], r["id"]) for r in final.collect()} == expected
    assert final.count() == 6  # 2 groups x k=3: bounded state

    # payload rides along with the sampled row
    assert all(r["v"] == float(r["id"]) for r in final.collect())

    # replay of the last batch: identical table
    jobs.apply_reservoir_batch(
        df.filter(F.col("id") >= 30), 2, res, group_col="grp", id_col="id", k=3,
        payload_cols=("v",),
    )
    assert {
        (r["grp"], r["id"]) for r in jobs.read_maintained_table(spark, res).collect()
    } == expected


def test_cms_merge_equals_oneshot_and_never_undercounts(spark, tmp_path):
    """Additive register merge across batches equals the one-shot
    sketch; estimates never undercount; grid stays depth*width-bounded;
    replay is a no-op."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        sketches,
    )

    cms = str(tmp_path / "cms")
    rows = [(i, "k%d" % (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "k"])
    for b, (lo, hi) in enumerate([(0, 50), (50, 120), (120, 200)]):
        jobs.apply_cms_batch(
            df.filter((F.col("id") >= lo) & (F.col("id") < hi)),
            b, cms, key_col="k", depth=3, width=16,
        )
    regs = jobs.read_maintained_table(spark, cms).select("d", "bucket", "n")
    oneshot = sketches.cms_register_table(df, "k", depth=3, width=16)
    assert {
        (r["d"], r["bucket"]): r["n"] for r in regs.collect()
    } == {(r["d"], r["bucket"]): r["n"] for r in oneshot.collect()}
    assert regs.count() <= 3 * 16

    probes = df.select("k").distinct()
    est = {
        r["k"]: r["est"]
        for r in sketches.cms_point_estimates(
            regs, probes, "k", depth=3, width=16
        ).collect()
    }
    true = {"k%d" % j: len([i for i in range(200) if i % 7 == j]) for j in range(7)}
    for k, t in true.items():
        assert est[k] >= t  # CMS never undercounts

    # replay of batch 2: registers unchanged
    jobs.apply_cms_batch(
        df.filter(F.col("id") >= 120), 2, cms, key_col="k", depth=3, width=16
    )
    assert {
        (r["d"], r["bucket"]): r["n"]
        for r in jobs.read_maintained_table(spark, cms)
        .select("d", "bucket", "n")
        .collect()
    } == {(r["d"], r["bucket"]): r["n"] for r in oneshot.collect()}


def test_reservoir_and_cms_streams_match_one_shot(spark, event_dir, tmp_path):
    """The REAL writeStream maintainers (multi-batch availableNow drain)
    converge to the one-shot bottom-k / one-shot register grid — batch
    boundaries are invisible for both new bounded-state families."""
    from pyspark.sql import Window as W

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        sketches,
    )

    res = str(tmp_path / "res_tbl")
    q = jobs.maintain_reservoir_stream(
        jobs.read_event_stream(spark, event_dir, max_files_per_trigger=1),
        res, str(tmp_path / "cp_res"), group_col="event_type",
        id_col="event_id", k=4,
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 3

    src = spark.read.parquet(event_dir)
    pri = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("res:"), F.col("event_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    w = W.partitionBy("event_type").orderBy("p", "event_id")
    want = {
        (r["event_type"], r["event_id"])
        for r in src.withColumn("p", pri)
        .withColumn("rk", F.row_number().over(w))
        .filter("rk <= 4")
        .collect()
    }
    got = {
        (r["event_type"], r["event_id"])
        for r in jobs.read_maintained_table(spark, res).collect()
    }
    assert got == want

    cms = str(tmp_path / "cms_tbl")
    q2 = jobs.maintain_cms_stream(
        jobs.read_event_stream(spark, event_dir, max_files_per_trigger=1),
        cms, str(tmp_path / "cp_cms"), key_col="user_id", depth=3, width=64,
    )
    q2.awaitTermination()
    maintained = {
        (r["d"], r["bucket"]): r["n"]
        for r in jobs.read_maintained_table(spark, cms)
        .select("d", "bucket", "n")
        .collect()
    }
    one_shot = {
        (r["d"], r["bucket"]): r["n"]
        for r in sketches.cms_register_table(src, "user_id", 3, 64).collect()
    }
    assert maintained == one_shot


def test_experiment_units_maintained_incrementally(spark, event_dir, tmp_path):
    """Experiment-unit maintenance at the ingest edge: three arbitrary
    deliveries fold per-user (x, y, conv, arm) deltas into the
    Delta-published unit table; the final table — and a z-test readout
    over it — must equal the one-shot batch aggregation over the full
    history, and a replayed batch id must no-op through the txn
    guard."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        experiments,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )

    src = spark.read.parquet(event_dir).select("user_id", "ts", "event_type", "event_id")
    mm = src.agg(
        F.expr(
            "(min(unix_micros(cast(ts as timestamp)))"
            " + max(unix_micros(cast(ts as timestamp)))) div 2"
        ).alias("cut")
    ).first()
    cut = int(mm["cut"])
    table = str(tmp_path / "exp_units")
    # delivery split deliberately UNRELATED to the pre/post cut
    for b in range(3):
        jobs.apply_experiment_units_batch(
            src.filter(F.col("event_id") % 3 == b), b, table, cut
        )
    # replay: must not advance the log
    v = delta_lite.current_version(table)
    jobs.apply_experiment_units_batch(
        src.filter(F.col("event_id") % 3 == 1), 1, table, cut
    )
    assert delta_lite.current_version(table) == v
    # one-shot twin over the full history
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    want_units = (
        src.groupBy("user_id")
        .agg(
            F.sum((us < F.lit(cut)).cast("long")).alias("x"),
            F.sum((us >= F.lit(cut)).cast("long")).alias("y"),
            F.max(
                ((us >= F.lit(cut)) & (F.col("event_type") == "purchase")).cast("int")
            ).alias("conv"),
        )
        .withColumn("arm", experiments.hash_assign(F.col("user_id"), 2, seed=0))
    )
    got = {
        (r["user_id"], r["x"], r["y"], r["conv"], r["arm"])
        for r in jobs.read_maintained_table(spark, table).collect()
    }
    want = {
        (r["user_id"], r["x"], r["y"], r["conv"], r["arm"])
        for r in want_units.collect()
    }
    assert got == want
    # the readout off the maintained table equals the one-shot readout
    z_m = experiments.two_proportion_ztest(
        jobs.read_maintained_table(spark, table), "arm", "conv"
    ).first()
    z_b = experiments.two_proportion_ztest(want_units, "arm", "conv").first()
    assert z_m == z_b


def test_delta_cdf_stream_append_only_matches_snapshot(spark, tmp_path):
    """VERDICT r8 #2: the delta_cdf streaming source tails the commit
    log; for an append-only table the union of streamed inserts IS the
    snapshot (the batch twin)."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        stream_changes,
    )

    t = str(tmp_path / "t")
    mk = lambda lo, hi: spark.createDataFrame(
        [(k, f"v{k}") for k in range(lo, hi)], "k long, v string"
    )
    delta_lite.write_delta(mk(0, 10), t)
    delta_lite.write_delta(mk(10, 25), t, mode="append")
    delta_lite.write_delta(mk(25, 30), t, mode="append")
    rows = jobs.run_available_now(stream_changes(spark, t), str(tmp_path / "cp"))
    assert all(r["_change_type"] == "insert" for r in rows)
    assert {r["_commit_version"] for r in rows} == {0, 1, 2}
    got = sorted((r["k"], r["v"]) for r in rows)
    snap = sorted(
        (r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()
    )
    assert got == snap


def test_delta_cdf_stream_upsert_algebra_and_checkpoint_restart(spark, tmp_path):
    """Folding inserts minus deletes over the streamed feed replays the
    snapshot for ANY commit sequence (file-level CDC algebra), and a
    checkpoint restart resumes from the committed version offset —
    already-emitted commits are NOT re-emitted (replay idempotence)."""
    from collections import Counter

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        stream_changes,
    )

    t = str(tmp_path / "t")
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")
    df = lambda rows: spark.createDataFrame(rows, "k long, v string")

    def drain():
        # durable sink: the memory sink can't recover from a
        # checkpoint, and restart recovery is exactly what's under test
        q = (
            stream_changes(spark, t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    delta_lite.upsert_delta(
        spark, t, df([(k, f"v{k}") for k in range(12)]), ["k"], n_buckets=4
    )
    delta_lite.upsert_delta(spark, t, df([(3, "UP3"), (99, "new")]), ["k"])
    first = drain()
    assert {r["_commit_version"] for r in first} == {0, 1}
    # more commits while the stream is down
    delta_lite.delete_keys(spark, t, df([(5, "x")]).select("k"), ["k"])
    delta_lite.upsert_delta(spark, t, df([(99, "NEW2")]), ["k"])
    everything = drain()
    # restart is incremental: versions 0..1 appear exactly once (no
    # re-emission), versions 2..3 appended by the second drain
    assert {r["_commit_version"] for r in everything} == {0, 1, 2, 3}
    assert len([r for r in everything if r["_commit_version"] <= 1]) == len(first)
    acc = Counter()
    for r in everything:
        acc[(r["k"], r["v"])] += 1 if r["_change_type"] == "insert" else -1
    assert all(n in (0, 1) for n in acc.values())
    state = sorted(kv for kv, n in acc.items() if n == 1)
    snap = sorted(
        (r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()
    )
    assert state == snap


def test_delta_cdf_stream_partitioned_and_empty_commit(spark, tmp_path):
    """Partition columns reconstitute from the Hive path segments on
    both insert and delete rows; a commit with no data change (a
    checkpoint-only version) yields an empty batch, not a stall."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        stream_changes,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(0, 1, "a"), (None, 2, "b"), (1, 3, "c")], "p int, k long, v string"
    )
    delta_lite.write_delta(df, t, partition_by=["p"])
    delta_lite.write_delta(
        spark.createDataFrame([(2, 4, "d")], "p int, k long, v string"),
        t,
        mode="append",
    )
    rows = jobs.run_available_now(stream_changes(spark, t), str(tmp_path / "cp"))
    got = sorted(
        ((r["p"], r["k"], r["v"], r["_change_type"]) for r in rows),
        key=str,
    )
    assert (None, 2, "b", "insert") in got
    assert (2, 4, "d", "insert") in got
    assert len(got) == 4


def test_rollup_maintained_from_change_feed_matches_snapshot_groupby(
    spark, tmp_path
):
    """The full CDC loop: upstream keyed Delta table -> delta_cdf
    stream -> signed-fold downstream rollup.  After every drain the
    downstream table equals the full groupBy of the upstream SNAPSHOT
    (the materialized-view contract), including across updates,
    deletes, and a checkpoint restart; replaying an applied batch is a
    no-op."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )

    up = str(tmp_path / "up")
    down = str(tmp_path / "down")
    cp = str(tmp_path / "cp")
    mk = lambda rows: spark.createDataFrame(rows, "k long, grp string, val long")

    def drain():
        q = jobs.maintain_rollup_from_changes(
            spark, up, down, cp, group_cols=["grp"], sum_cols=["val"]
        )
        q.awaitTermination()

    def snapshot_rollup():
        return {
            (r["grp"], r["n"], r["sum_val"])
            for r in delta_lite.read_delta(spark, up)
            .groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum("val").alias("sum_val"))
            .collect()
        }

    def maintained():
        return {
            (r["grp"], r["n"], r["sum_val"])
            for r in jobs.read_maintained_table(spark, down).collect()
        }

    delta_lite.upsert_delta(
        spark, up, mk([(k, f"g{k % 3}", k) for k in range(30)]), ["k"],
        n_buckets=4,
    )
    drain()
    assert maintained() == snapshot_rollup()
    # updates move a key between groups; new keys; a delete
    delta_lite.upsert_delta(
        spark, up, mk([(3, "g0", 100), (100, "g9", 7)]), ["k"]
    )
    delta_lite.delete_keys(
        spark, up, spark.createDataFrame([(5,)], "k long"), ["k"]
    )
    drain()  # checkpoint restart: resumes from the committed version
    assert maintained() == snapshot_rollup()
    # a group emptied entirely disappears from the rollup
    delta_lite.delete_keys(
        spark, up, spark.createDataFrame([(100,)], "k long"), ["k"]
    )
    drain()
    got = maintained()
    assert got == snapshot_rollup()
    assert not any(g == "g9" for g, _, _ in got)
    # replaying an applied CDF batch is a no-op (signed fold would
    # otherwise subtract twice)
    ch = delta_lite.read_changes(spark, up, 0, 1).withColumn(
        "_commit_version", F.lit(1)
    )
    before = maintained()
    jobs.apply_changes_rollup_batch(
        ch, 0, down, group_cols=["grp"], sum_cols=["val"]
    )
    assert maintained() == before


def test_gauge_rollup_maintains_minmax_through_deletes(spark, tmp_path):
    """Non-invertible rollup maintenance (apply_gauge_rollup_batch):
    per-group min/max stays equal to the full groupBy of the upstream
    snapshot across appends, upserts, and — the case no signed fold
    can produce — deleting the row that HELD a group's min, which must
    RAISE the maintained min.  Append-only batches take the fold path
    (asserted: no upstream snapshot read), and replaying an applied
    batch is a no-op."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )

    up = str(tmp_path / "up")
    down = str(tmp_path / "down")
    cp = str(tmp_path / "cp")
    mk = lambda rows: spark.createDataFrame(rows, "k long, grp string, val long")

    def drain():
        q = jobs.maintain_gauge_rollup_from_changes(
            spark, up, down, cp, group_cols=["grp"], minmax_cols=["val"],
            sum_cols=["val"],
        )
        q.awaitTermination()

    def snapshot_gauge():
        return {
            tuple(r)
            for r in delta_lite.read_delta(spark, up)
            .groupBy("grp")
            .agg(
                F.count("*").alias("n"),
                F.sum("val").alias("sum_val"),
                F.min("val").alias("min_val"),
                F.max("val").alias("max_val"),
            )
            .collect()
        }

    def maintained():
        return {
            tuple(r)
            for r in jobs.read_maintained_table(spark, down)
            .select("grp", "n", "sum_val", "min_val", "max_val")
            .collect()
        }

    delta_lite.upsert_delta(
        spark, up, mk([(k, f"g{k % 3}", k) for k in range(30)]), ["k"],
        n_buckets=4,
    )
    drain()
    assert maintained() == snapshot_gauge()
    # key 0 holds g0's min (val=0); deleting it must RAISE min_val to 3
    delta_lite.delete_keys(
        spark, up, spark.createDataFrame([(0,)], "k long"), ["k"]
    )
    drain()
    got = maintained()
    assert got == snapshot_gauge()
    assert next(r for r in got if r[0] == "g0")[3] == 3
    # append-only commit: fold path, upstream snapshot never re-read
    delta_lite.write_delta(
        mk([(200, "g0", -5), (201, "g9", 42)]), up, mode="append"
    )
    real_read = delta_lite.read_delta
    calls = []

    def counting_read(*a, **kw):
        calls.append(a)
        return real_read(*a, **kw)

    delta_lite.read_delta = counting_read
    try:
        drain()
    finally:
        delta_lite.read_delta = real_read
    # the maintainer itself must not have re-read the upstream snapshot
    # (read_maintained_table below reads DOWNSTREAM, outside the batch)
    assert not any(a and a[1] == up for a in calls)
    got = maintained()
    assert got == snapshot_gauge()
    assert next(r for r in got if r[0] == "g0")[3] == -5  # fold lowered min
    assert any(r[0] == "g9" for r in got)  # new group via fold
    # group emptied entirely disappears
    delta_lite.delete_keys(
        spark, up, spark.createDataFrame([(201,)], "k long"), ["k"]
    )
    drain()
    got = maintained()
    assert got == snapshot_gauge()
    assert not any(r[0] == "g9" for r in got)
    # replaying an applied CDF batch is a no-op
    ch = delta_lite.read_changes(spark, up, 0, 1).withColumn(
        "_commit_version", F.lit(1)
    )
    before = maintained()
    jobs.apply_gauge_rollup_batch(
        ch, 0, down, up, group_cols=["grp"], minmax_cols=["val"],
        sum_cols=["val"],
    )
    assert maintained() == before


def test_cdf_max_commits_per_batch_paces_without_loss(spark, tmp_path):
    """maxCommitsPerBatch bounds how many upstream commits one
    micro-batch spans (the delta_cdf analog of maxFilesPerTrigger):
    under a repeated trigger each batch advances at most one commit and
    the stream still drains the whole backlog in order.  Under
    trigger(availableNow) a RUN drains at most the cap (the target
    offset is captured from the first latestOffset) — callers catching
    up loop runs until current_version is reached; asserted too so the
    documented semantic can't drift silently."""
    import time

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        DeltaCdfDataSource,
    )

    up = str(tmp_path / "up")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    delta_lite.write_delta(mk([(1, 1)]), up)
    for i in range(2, 5):
        delta_lite.write_delta(mk([(i, i)]), up, mode="append")
    spark.dataSource.register(DeltaCdfDataSource)

    def capped_stream():
        return (
            spark.readStream.format("delta_cdf")
            .option("path", up)
            .option("startingVersion", 0)
            .option("maxCommitsPerBatch", 1)
            .load()
        )

    seen = []

    def fb(df, _bid):
        seen.append(
            sorted(
                (r.k, r._commit_version)
                for r in df.select("k", "_commit_version").collect()
            )
        )

    q = (
        capped_stream()
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    deadline = time.time() + 240  # generous: a concurrent sweep on the shared host halves throughput
    while time.time() < deadline and len(seen) < 4:
        time.sleep(1)
    q.stop()
    # one commit per batch, in order, nothing lost
    assert seen == [[(i + 1, i)] for i in range(4)]

    # availableNow: a run drains at most the cap — bounded catch-up
    seen2 = []
    q2 = (
        capped_stream()
        .writeStream.foreachBatch(lambda df, b: seen2.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "cp2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert sum(seen2) == 1  # first run: exactly one commit's rows


def test_scd2_maintained_from_change_feed_matches_recompute(spark, tmp_path):
    """CDF-driven SCD2 dimension history: the maintained interval
    table equals scd2_from_events over the true per-version
    post-image observations — across updates, a carried-over bucket
    rewrite (nets to zero: no spurious interval), a same-value
    re-upsert (run-length collapse), and a checkpoint restart."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators.timeseries import (
        scd2_from_events,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )

    up = str(tmp_path / "up")
    down = str(tmp_path / "down")
    cp = str(tmp_path / "cp")
    mk = lambda rows: spark.createDataFrame(rows, "k long, grp string")

    def drain():
        q = jobs.maintain_scd2_from_changes(
            spark, up, down, cp, key_col="k", attr_cols=["grp"]
        )
        q.awaitTermination()

    def maintained():
        return {
            tuple(r)
            for r in jobs.read_maintained_table(spark, down)
            .select("k", "grp", "valid_from", "valid_to", "is_current")
            .collect()
        }

    def expected(obs_rows):
        obs = spark.createDataFrame(
            obs_rows, "k long, change_version long, grp string"
        ).select("k", "change_version", "grp")
        return {
            tuple(r)
            for r in scd2_from_events(obs, "k", "change_version", ["grp"])
            .select("k", "grp", "valid_from", "valid_to", "is_current")
            .collect()
        }

    # v0: all keys state 'a'
    delta_lite.upsert_delta(
        spark, up, mk([(k, "a") for k in range(10)]), ["k"], n_buckets=2
    )
    drain()
    obs = [(k, 0, "a") for k in range(10)]
    assert maintained() == expected(obs)
    # v1: keys 0..4 move to 'b' (same buckets carry keys 5..9 over:
    # their delete+insert pairs must net to zero)
    delta_lite.upsert_delta(spark, up, mk([(k, "b") for k in range(5)]), ["k"])
    drain()
    obs += [(k, 1, "b") for k in range(5)]
    assert maintained() == expected(obs)
    # v2: keys 0..1 move to 'c'; key 5 re-upserted with the SAME value
    delta_lite.upsert_delta(
        spark, up, mk([(0, "c"), (1, "c"), (5, "a")]), ["k"]
    )
    drain()  # checkpoint restart resumes at the committed version
    obs += [(0, 2, "c"), (1, 2, "c")]
    got = maintained()
    assert got == expected(obs)
    # key 5: exactly ONE interval, still open from version 0
    k5 = [r for r in got if r[0] == 5]
    assert k5 == [(5, "a", 0, None, True)]
    # replay of an applied CDF batch is a no-op
    ch = delta_lite.read_changes(spark, up, 0, 1).withColumn(
        "_commit_version", F.lit(1)
    )
    before = maintained()
    jobs.apply_scd2_changes_batch(ch, 0, down, key_col="k", attr_cols=["grp"])
    assert maintained() == before


def test_check_constraint_gates_streaming_maintainer(spark, tmp_path):
    """A CHECK constraint on a Delta-maintained table gates the
    maintainer's merge path: a micro-batch whose fold would land a
    violating row fails LOUDLY pre-commit (no partial publish) and the
    table keeps serving its last good version."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )

    t = str(tmp_path / "profiles")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    delta_lite.upsert_delta(spark, t, mk([(1, 10), (2, 20)]), ["k"])
    delta_lite.set_check_constraint(spark, t, "pos_v", "v > 0")
    before = delta_lite.current_version(t)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pos_v"):
        delta_lite.upsert_delta(spark, t, mk([(3, -1)]), ["k"])
    assert delta_lite.current_version(t) == before
    got = {(r.k, r.v) for r in delta_lite.read_delta(spark, t).collect()}
    assert got == {(1, 10), (2, 20)}
    # a clean batch still flows
    delta_lite.upsert_delta(spark, t, mk([(3, 30)]), ["k"])
    assert (3, 30) in {
        (r.k, r.v) for r in delta_lite.read_delta(spark, t).collect()
    }


def test_cdf_paced_restart_resumes_without_regression(spark, tmp_path):
    """ADVICE r9 (high): a paced stream (maxCommitsPerBatch) restarted
    from its checkpoint must resume AT the committed offset — never
    below it.  The reader's pacing floor is the highest engine position
    it has observed (the restart recovery re-plan seeds it before the
    first latestOffset), so the offset log cannot regress and no commit
    is re-planned under a new batch id.  Asserted end to end: stop a
    paced stream mid-backlog, append more commits, restart on the same
    checkpoint, and require every commit to have been consumed exactly
    once across both runs."""
    import time

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        DeltaCdfDataSource,
    )

    up = str(tmp_path / "up")
    cp = str(tmp_path / "cp")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    delta_lite.write_delta(mk([(1, 1)]), up)
    for i in range(2, 5):
        delta_lite.write_delta(mk([(i, i)]), up, mode="append")
    spark.dataSource.register(DeltaCdfDataSource)

    seen: list[tuple[int, int]] = []

    def fb(df, _bid):
        seen.extend(
            (r.k, r._commit_version)
            for r in df.select("k", "_commit_version").collect()
        )

    def run(min_rows: int) -> None:
        q = (
            spark.readStream.format("delta_cdf")
            .option("path", up)
            .option("startingVersion", 0)
            .option("maxCommitsPerBatch", 1)
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", cp)
            .trigger(processingTime="1 seconds")
            .start()
        )
        deadline = time.time() + 240  # generous: a concurrent sweep on the shared host halves throughput
        while time.time() < deadline and len(seen) < min_rows:
            time.sleep(0.5)
        q.stop()

    run(min_rows=2)  # consume part of the backlog, then a clean stop
    consumed_first = list(seen)
    assert 2 <= len(consumed_first) <= 4
    # new commits land while the stream is down
    delta_lite.write_delta(mk([(5, 5)]), up, mode="append")
    delta_lite.write_delta(mk([(6, 6)]), up, mode="append")
    run(min_rows=6)
    # every commit consumed EXACTLY once: no regression-driven replays,
    # no skipped versions
    assert sorted(seen) == [(i, i - 1) for i in range(1, 7)]


def test_cdf_drain_changes_paced_full_drain(spark, tmp_path):
    """VERDICT r9 #5: availableNow + maxCommitsPerBatch full-drain
    semantics.  The engine's availableNow wrapper captures one target
    offset per RUN, so a single capped run advances min(cap, backlog)
    commits; drain_changes recovers real-source full-drain semantics by
    looping runs against the same checkpoint.  cap=1 over a 5-commit
    backlog must land all 5 commits, in order, in >=5 micro-batches
    with no duplicates — and the loop must TERMINATE (each restart's
    recovery re-plan seeds the pacing floor, so every run advances)."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        drain_changes,
    )

    up = str(tmp_path / "up")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    delta_lite.write_delta(mk([(1, 1)]), up)
    for i in range(2, 6):
        delta_lite.write_delta(mk([(i, i)]), up, mode="append")

    batches: list[list[tuple[int, int]]] = []

    def fb(df, _bid):
        rows = sorted(
            (r.k, r._commit_version)
            for r in df.select("k", "_commit_version").collect()
        )
        if rows:
            batches.append(rows)

    runs = drain_changes(
        spark,
        up,
        str(tmp_path / "cp"),
        fb,
        max_commits_per_batch=1,
        max_runs=20,
    )
    assert runs >= 5  # paced: one commit per run, plus the final no-op
    assert len(batches) >= 5  # >=5 micro-batches, each at most the cap
    assert all(len(b) == 1 for b in batches)
    flat = [r for b in batches for r in b]
    assert flat == [(i, i - 1) for i in range(1, 6)]  # in order, no dups


def test_cdf_reader_floor_protocol_unit(spark, tmp_path):
    """Unit-level protocol checks on the pacing floor (ADVICE r9 high):
    (a) a restart recovery re-plan (partitions(c, c)) lifts the floor so
    the next capped latestOffset resumes from c, not startingVersion;
    (b) latestOffset never returns below an observed position even when
    the cap arithmetic would; (c) a start>end batch range — the offset
    regression signature — raises instead of silently emitting an empty
    batch; (d) commit(end) is a position signal too."""
    import pytest as _pytest

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        _CdfStreamReader,
    )

    up = str(tmp_path / "up")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    delta_lite.write_delta(mk([(1, 1)]), up)
    for i in range(2, 7):
        delta_lite.write_delta(mk([(i, i)]), up, mode="append")  # v1..v5

    # fresh reader, engine restarting at committed version 3
    r = _CdfStreamReader({"path": up, "maxCommitsPerBatch": "1"})
    r.partitions({"version": 3}, {"version": 3})  # recovery re-plan
    assert r.latestOffset() == {"version": 4}  # floor 3 + cap 1
    r.commit({"version": 4})
    assert r.latestOffset() == {"version": 5}  # commit advanced the floor
    with _pytest.raises(RuntimeError, match="offset regression"):
        r.partitions({"version": 5}, {"version": 2})

    # fresh reader, no signal yet: capped from startingVersion (fresh
    # query pacing — the engine's first latestOffset precedes
    # initialOffset), but never below a later-observed position
    r2 = _CdfStreamReader({"path": up, "maxCommitsPerBatch": "2"})
    assert r2.latestOffset() == {"version": 1}  # starting-1 + 2
    r2.commit({"version": 4})
    assert r2.latestOffset()["version"] >= 4  # floor beats stale cap


def test_gauge_recompute_rides_clustered_files(spark, tmp_path):
    """VERDICT r9 #3: on an upstream CLUSTERED by the group columns
    (delta_lite.optimize_cluster — layout-only, so the feed skips the
    rewrite itself), the gauge maintainer's dirty-group recompute reads
    only the files whose stats overlap the dirty range — a strict
    subset of the live file set — and the maintained table still equals
    the snapshot aggregate.  The deletes arrive via delete_where (a
    real content change, dataChange:true)."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )

    up = str(tmp_path / "up")
    down = str(tmp_path / "down")
    cp = str(tmp_path / "cp")
    df = spark.range(0, 3000).select(
        (F.col("id") % 30).alias("grp"), F.col("id").alias("val")
    )
    delta_lite.write_delta(df.repartition(10), up)         # v0: 10 files
    delta_lite.optimize_cluster(spark, up, ["grp"], n_files=10)  # v1: skipped by feed

    def drain():
        q = jobs.maintain_gauge_rollup_from_changes(
            spark, up, down, cp, group_cols=["grp"], minmax_cols=["val"]
        )
        q.awaitTermination()

    drain()  # v0 inserts fold; v1 layout rewrite emits nothing

    # a predicate delete dirties ONE group; instrument the upstream
    # snapshot read the recompute performs
    delta_lite.delete_where(
        spark, up, "grp = 7 AND val < 1500", predicate=("grp", 7, 7)
    )
    live, _, _, _ = delta_lite._read_actions(up)
    real_read = delta_lite.read_delta
    reads = []

    def wrapped(*args, **kw):
        out = real_read(*args, **kw)
        if len(args) > 1 and args[1] == up:
            reads.append(len(out.inputFiles()))
        return out

    delta_lite.read_delta = wrapped
    try:
        drain()
    finally:
        delta_lite.read_delta = real_read
    assert reads, "recompute path never read the upstream"
    # clustered: the dirty-group recompute touches a strict subset —
    # the dirty file itself plus at most its stats-overlap neighbors
    assert max(reads) <= max(1, len(live) // 2), (reads, len(live))

    got = {
        (r.grp, r.n, r.min_val, r.max_val)
        for r in jobs.read_maintained_table(spark, down)
        .select("grp", "n", "min_val", "max_val")
        .collect()
    }
    want = {
        (r.grp, r.n, r.min_val, r.max_val)
        for r in delta_lite.read_delta(spark, up)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .collect()
    }
    assert got == want


def test_cdf_paced_cold_restart_from_fully_committed_checkpoint(
    spark, tmp_path
):
    """VERDICT r10 #4: restart a paced stream from a checkpoint whose
    LAST batch committed cleanly — there is no pending batch for the
    engine's recovery re-plan, so the rebuilt source object may see
    latestOffset() as its first call.  Offsets must never regress
    (no 'offset regression' crash) and every commit must be consumed
    exactly once across the stop/restart.  processingTime variant;
    the availableNow variant is the test below."""
    import time

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        DeltaCdfDataSource,
    )

    up = str(tmp_path / "up")
    cp = str(tmp_path / "cp")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    delta_lite.write_delta(mk([(1, 1)]), up)
    for i in range(2, 4):
        delta_lite.write_delta(mk([(i, i)]), up, mode="append")  # v1, v2
    spark.dataSource.register(DeltaCdfDataSource)

    seen: list[tuple[int, int]] = []

    def fb(df, _bid):
        seen.extend(
            (r.k, r._commit_version)
            for r in df.select("k", "_commit_version").collect()
        )

    def run(min_rows: int) -> None:
        q = (
            spark.readStream.format("delta_cdf")
            .option("path", up)
            .option("startingVersion", 0)
            .option("maxCommitsPerBatch", 1)
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", cp)
            .trigger(processingTime="1 seconds")
            .start()
        )
        deadline = time.time() + 240  # generous: a concurrent sweep on the shared host halves throughput
        while time.time() < deadline and len(seen) < min_rows:
            time.sleep(0.5)
        # drain to a FULLY COMMITTED checkpoint: wait for an idle
        # trigger (numInputRows == 0) after the backlog, which proves
        # the last data batch's commit() landed in the offset/commit
        # logs before the stop
        while time.time() < deadline:
            lp = q.lastProgress
            if lp is not None and lp["numInputRows"] == 0:
                break
            time.sleep(0.5)
        q.stop()

    run(min_rows=3)  # full backlog, then quiesce, then a clean stop
    assert sorted(seen) == [(i, i - 1) for i in range(1, 4)]
    # commits land while the stream is down; the restart rebuilds the
    # source object with NO pending batch to recovery-re-plan
    delta_lite.write_delta(mk([(4, 4)]), up, mode="append")
    delta_lite.write_delta(mk([(5, 5)]), up, mode="append")
    run(min_rows=5)
    assert sorted(seen) == [(i, i - 1) for i in range(1, 6)]


def test_cdf_drain_cold_restart_after_noop_run(spark, tmp_path):
    """VERDICT r10 #4, availableNow variant: a second drain_changes on
    a checkpoint whose previous drain ENDED with a committed no-op run
    (fully caught up) must consume exactly the commits that landed in
    between — no double-apply, no regression, and the loop terminates."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        drain_changes,
    )

    up = str(tmp_path / "up")
    cp = str(tmp_path / "cp")
    mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
    delta_lite.write_delta(mk([(1, 1)]), up)
    delta_lite.write_delta(mk([(2, 2)]), up, mode="append")  # v1

    batches: list[list[tuple[int, int]]] = []

    def fb(df, _bid):
        rows = sorted(
            (r.k, r._commit_version)
            for r in df.select("k", "_commit_version").collect()
        )
        if rows:
            batches.append(rows)

    drain_changes(spark, up, cp, fb, max_commits_per_batch=1, max_runs=10)
    flat = [r for b in batches for r in b]
    assert flat == [(1, 0), (2, 1)]
    # the checkpoint is now fully committed and CAUGHT UP; new commits
    # land while no stream exists
    delta_lite.write_delta(mk([(3, 3)]), up, mode="append")
    delta_lite.write_delta(mk([(4, 4)]), up, mode="append")
    drain_changes(spark, up, cp, fb, max_commits_per_batch=1, max_runs=10)
    flat = [r for b in batches for r in b]
    assert flat == [(i, i - 1) for i in range(1, 5)]  # exactly once


def test_cdf_stream_and_scd2_survive_column_rename(spark, tmp_path):
    """Column mapping × streaming: after RENAME COLUMN on the upstream
    table (metadata-only — files keep their physical names), (a) the
    delta_cdf streaming source reads the renamed column's VALUES (not
    the schema-evolution NULL fallback), and (b) the CDF-driven SCD2
    maintainer keeps folding history under the new attribute name."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        stream_changes,
    )

    up = str(tmp_path / "up")
    mk = lambda rows, s="k long, grp string": spark.createDataFrame(rows, s)
    delta_lite.upsert_delta(
        spark, up, mk([(k, "a") for k in range(6)]), ["k"], n_buckets=2
    )
    delta_lite.enable_column_mapping(up)
    delta_lite.rename_column(up, "grp", "segment")
    delta_lite.upsert_delta(
        spark,
        up,
        mk([(0, "b"), (1, "b")], "k long, segment string"),
        ["k"],
    )
    # (a) the raw CDF stream carries real values under the new name —
    # pre-rename files included (physical name unchanged on disk)
    rows = jobs.run_available_now(
        stream_changes(spark, up), str(tmp_path / "cp_raw")
    )
    assert all(r["segment"] is not None for r in rows)
    inserts_v0 = {
        (r["k"], r["segment"])
        for r in rows
        if r["_commit_version"] == 0 and r["_change_type"] == "insert"
    }
    assert inserts_v0 == {(k, "a") for k in range(6)}
    # (b) SCD2 maintainer under the renamed attribute
    down = str(tmp_path / "down")
    q = jobs.maintain_scd2_from_changes(
        spark, up, down, str(tmp_path / "cp_scd2"), key_col="k",
        attr_cols=["segment"],
    )
    q.awaitTermination()
    hist = {
        tuple(r)
        for r in jobs.read_maintained_table(spark, down)
        .select("k", "segment", "valid_from", "valid_to", "is_current")
        .collect()
    }
    # keys 0,1: closed 'a' interval + open 'b'; keys 2..5: open 'a'
    assert {(0, "a", 0, 3, False), (0, "b", 3, None, True)} <= hist
    assert (5, "a", 0, None, True) in hist


def test_cdf_folds_multi_commit_backlog_into_one_batch(spark, tmp_path):
    """Commit folding contract (VERDICT r11 #4): WITHOUT a
    maxCommitsPerBatch cap the delta_cdf source plans the WHOLE
    backlog as ONE micro-batch — an availableNow drain over N pending
    commits pays the streaming floor once, not N times — and the
    maintainers stay correct under folding: the signed rollup fold is
    order-insensitive, and the SCD2 fold preserves intra-batch commit
    ordering (a key changing in TWO folded commits produces correctly
    ordered intervals), because _scd2_merge recomputes from the unioned
    per-version observations."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        stream_changes,
    )

    up = str(tmp_path / "up")
    mk = lambda rows: spark.createDataFrame(rows, "k long, grp string")
    delta_lite.upsert_delta(
        spark, up, mk([(k, "a") for k in range(8)]), ["k"], n_buckets=2
    )
    delta_lite.upsert_delta(spark, up, mk([(0, "b"), (1, "b")]), ["k"])
    delta_lite.upsert_delta(spark, up, mk([(0, "c")]), ["k"])
    # (a) one batch for the 3-commit backlog
    calls: list[tuple[int, list[int]]] = []

    def fb(df, bid):
        vs = sorted(
            r["_commit_version"]
            for r in df.select("_commit_version").distinct().collect()
        )
        calls.append((bid, vs))

    q = (
        stream_changes(spark, up)
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", str(tmp_path / "cp_count"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert calls == [(0, [0, 1, 2])], calls
    # (b) SCD2 over the SAME folded single batch: key 0 moved a->b->c
    # across two commits folded together — intervals must come out
    # ordered (a closed at 1, b closed at 2, c open)
    down = str(tmp_path / "down")
    q2 = jobs.maintain_scd2_from_changes(
        spark, up, down, str(tmp_path / "cp_scd2"), key_col="k",
        attr_cols=["grp"],
    )
    q2.awaitTermination()
    hist = {
        tuple(r)
        for r in jobs.read_maintained_table(spark, down)
        .select("k", "grp", "valid_from", "valid_to", "is_current")
        .collect()
    }
    assert {
        (0, "a", 0, 1, False),
        (0, "b", 1, 2, False),
        (0, "c", 2, None, True),
    } <= hist
    assert (1, "b", 1, None, True) in hist
    assert (5, "a", 0, None, True) in hist
    # (c) rollup over the folded batch equals the full groupBy
    down2 = str(tmp_path / "down2")
    q3 = jobs.maintain_rollup_from_changes(
        spark, up, down2, str(tmp_path / "cp_roll"),
        group_cols=["grp"], sum_cols=[],
    )
    q3.awaitTermination()
    got = {
        (r["grp"], r["n"])
        for r in jobs.read_maintained_table(spark, down2).collect()
    }
    assert got == {("a", 6), ("b", 1), ("c", 1)}
