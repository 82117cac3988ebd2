"""Delta-lite transaction log: open-format conformance of the log
structure, snapshot/time-travel reads, commit atomicity + optimistic
concurrency, vacuum, and the maintained-table integration (upsert
maintainer publishing through the Delta log with replay idempotence).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
    delta_lite,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.streaming import (
    jobs,
)


def _df(spark, rows, schema="k long, v string"):
    return spark.createDataFrame(rows, schema)


def test_log_structure_conforms_to_protocol(spark, tmp_path):
    """Version-0 commit must carry protocol + metaData with the fields
    the public Delta spec requires; adds reference real files with
    sizes; an overwrite commit removes every previously-live file."""
    t = str(tmp_path / "t")
    delta_lite.write_delta(_df(spark, [(1, "a"), (2, "b")]), t)
    log0 = os.path.join(t, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(ln) for ln in open(log0) if ln.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["format"]["provider"] == "parquet"
    assert meta["partitionColumns"] == []
    schema = json.loads(meta["schemaString"])
    assert [f["name"] for f in schema["fields"]] == ["k", "v"]
    adds = [a["add"] for a in actions if "add" in a]
    for add in adds:
        f = os.path.join(t, add["path"])
        assert os.path.isfile(f) and add["size"] == os.path.getsize(f)
        assert add["dataChange"] is True and add["partitionValues"] == {}

    delta_lite.write_delta(_df(spark, [(3, "c")]), t, mode="overwrite")
    log1 = os.path.join(t, "_delta_log", f"{1:020d}.json")
    actions1 = [json.loads(ln) for ln in open(log1) if ln.strip()]
    removed = {a["remove"]["path"] for a in actions1 if "remove" in a}
    assert removed == {a["path"] for a in adds}


def test_snapshot_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    v0 = delta_lite.write_delta(_df(spark, [(1, "a"), (2, "b")]), t)
    v1 = delta_lite.write_delta(_df(spark, [(3, "c")]), t, mode="overwrite")
    v2 = delta_lite.write_delta(_df(spark, [(4, "d")]), t, mode="append")
    assert (v0, v1, v2) == (0, 1, 2)
    assert delta_lite.current_version(t) == 2
    latest = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()}
    assert latest == {(3, "c"), (4, "d")}
    at0 = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t, version=0).collect()}
    assert at0 == {(1, "a"), (2, "b")}
    at1 = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t, version=1).collect()}
    assert at1 == {(3, "c")}
    hist = delta_lite.delta_history(t)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[2]["operationParameters"]["mode"] == "APPEND"


def test_commit_conflict_retries_to_next_version(spark, tmp_path):
    """Optimistic concurrency: a concurrent writer taking the target
    version must NOT be clobbered — the loser recommits at the next
    version and both commits' data survives (append) / supersedes
    (overwrite)."""
    t = str(tmp_path / "t")
    delta_lite.write_delta(_df(spark, [(1, "a")]), t)
    # simulate a concurrent writer landing version 1 first
    winner = os.path.join(t, "_delta_log", f"{1:020d}.json")
    with open(winner, "w") as fh:
        fh.write(json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
    v = delta_lite.write_delta(_df(spark, [(2, "b")]), t, mode="append")
    assert v == 2  # lost the race at 1, landed at 2
    got = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_vacuum_removes_only_unreferenced(spark, tmp_path):
    t = str(tmp_path / "t")
    delta_lite.write_delta(_df(spark, [(1, "a")]), t)
    delta_lite.write_delta(_df(spark, [(2, "b")]), t, mode="overwrite")
    # orphan: a crash between staging and commit
    orphan = os.path.join(t, "part-99999-deadbeef.snappy.parquet")
    open(orphan, "wb").write(b"junk")
    # default retention protects young files (an in-flight commit may
    # have staged them); zero retention is the offline-maintenance mode
    assert os.path.basename(orphan) not in delta_lite.vacuum(t)
    assert os.path.exists(orphan)
    removed = delta_lite.vacuum(t, retention_seconds=0.0)
    assert os.path.basename(orphan) in removed
    # files of BOTH versions survive (old snapshot still referenced)
    assert {(r["k"],) for r in delta_lite.read_delta(spark, t, version=0).select("k").collect()} == {(1,)}
    assert {(r["k"],) for r in delta_lite.read_delta(spark, t).select("k").collect()} == {(2,)}


def test_schema_evolution_rides_metadata_action(spark, tmp_path):
    t = str(tmp_path / "t")
    delta_lite.write_delta(_df(spark, [(1, "a")]), t)
    delta_lite.write_delta(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, w double"),
        t, mode="overwrite",
    )
    assert delta_lite.read_delta(spark, t).columns == ["k", "v", "w"]
    # the old snapshot keeps its committed schema
    assert delta_lite.read_delta(spark, t, version=0).columns == ["k", "v"]


def test_upsert_maintainer_publishes_through_delta_log(spark, sf_dir, tmp_path):
    """The maintained-table integration: apply_upsert_batch publishes
    each batch as a Delta commit; a replayed batch id is a no-op
    (idempotence guard reads back through the log); history shows one
    version per applied batch."""
    e = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    t = str(tmp_path / "profiles")
    for b in range(3):
        batch = e.filter(F.col("event_id") % 3 == b)
        jobs.apply_upsert_batch(batch, b, t, ["user_id"])
    assert delta_lite.is_delta_table(t)
    assert delta_lite.current_version(t) == 2
    # replay of an applied batch: no new commit
    jobs.apply_upsert_batch(e.filter(F.col("event_id") % 3 == 1), 1, t, ["user_id"])
    assert delta_lite.current_version(t) == 2
    got = {
        (r["user_id"], r["ts"])
        for r in delta_lite.read_delta(spark, t).select("user_id", "ts").collect()
    }
    # upsert semantics: per user, the max-ts row of that user's LAST batch
    last_batch = e.withColumn("b", F.col("event_id") % 3)
    win = last_batch.groupBy("user_id").agg(F.max("b").alias("b"))
    want = {
        (r["user_id"], r["ts"])
        for r in last_batch.join(win, ["user_id", "b"])
        .groupBy("user_id").agg(F.max("ts").alias("ts")).collect()
    }
    assert got == want


def test_upsert_stream_on_delta_protocol_end_to_end(spark, tmp_path):
    """Full streaming path: upsert_stream over two deliveries; the live table reads back through the Delta log and a
    checkpoint-wiped replay leaves it untouched."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 10), 7, "click", 1.0, None),
        (2, dt.datetime(2024, 1, 1, 11), 7, "view", 2.0, None),
        (3, dt.datetime(2024, 1, 1, 10, 30), 8, "click", 3.0, None),
    ]
    late = [
        (4, dt.datetime(2024, 1, 2, 9), 7, "purchase", 9.0, None),
        (5, dt.datetime(2024, 1, 2, 9, 30), 9, "click", 4.0, None),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    land = str(tmp_path / "land")
    table, cp = str(tmp_path / "tbl"), str(tmp_path / "cp")
    spark.createDataFrame(rows, schema).write.parquet(land)
    jobs.upsert_stream(
        jobs.read_event_stream(spark, land), table, ["user_id"], cp,
    ).awaitTermination()
    spark.createDataFrame(late, schema).write.mode("append").parquet(land)
    jobs.upsert_stream(
        jobs.read_event_stream(spark, land), table, ["user_id"], cp,
    ).awaitTermination()
    want = {(7, "purchase"), (8, "click"), (9, "click")}
    got = {
        (r["user_id"], r["event_type"])
        for r in delta_lite.read_delta(spark, table).collect()
    }
    assert got == want
    v = delta_lite.current_version(table)
    # checkpoint-wiped replay: every batch re-delivers, the txn in the
    # log skips them all, no new Delta commit appears
    import shutil

    shutil.rmtree(cp)
    jobs.upsert_stream(
        jobs.read_event_stream(spark, land), table, ["user_id"], cp,
    ).awaitTermination()
    assert delta_lite.current_version(table) == v
    got2 = {
        (r["user_id"], r["event_type"])
        for r in delta_lite.read_delta(spark, table).collect()
    }
    assert got2 == want


def test_compact_preserves_content_and_history(spark, tmp_path):
    t = str(tmp_path / "t")
    for b in range(4):  # four appends -> many small files
        delta_lite.write_delta(
            _df(spark, [(b * 10 + i, f"v{b}") for i in range(3)]), t,
            mode="append" if b else "overwrite",
        )
    before = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()}
    import glob

    n_before = len(glob.glob(f"{t}/part-*.parquet"))
    v = delta_lite.compact(spark, t, n_files=1)
    assert v == 4
    after = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()}
    assert after == before
    # the new snapshot references exactly one live file
    live, _, _, _ = delta_lite._read_actions(t)
    assert len(live) == 1
    # pre-compaction snapshots still time-travel (files not vacuumed)
    at3 = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t, version=3).collect()}
    assert at3 == before
    assert len(glob.glob(f"{t}/part-*.parquet")) >= n_before  # old files intact


def _log_actions(t, v):
    with open(os.path.join(t, "_delta_log", f"{v:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def test_merge_touched_rewrites_only_touched_buckets(spark, tmp_path):
    """The r6→r7 scale fix: a batch touching one key commits removes
    and adds ONLY for that key's hash bucket — every other live file
    survives the commit untouched (publish cost O(touched buckets),
    not O(table))."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, f"v{k}", 0) for k in range(100)], "k long, v string, gen int"
    )
    delta_lite.upsert_delta(spark, t, base, ["k"], n_buckets=8)
    live0, _, _, _ = delta_lite._read_actions(t)
    assert len(live0) == 8  # one file per bucket
    upd = spark.createDataFrame([(7, "NEW", 1)], "k long, v string, gen int")
    v = delta_lite.upsert_delta(spark, t, upd, ["k"], n_buckets=8)
    assert v == 1
    acts = _log_actions(t, 1)
    removes = [a for a in acts if "remove" in a]
    adds = [a for a in acts if "add" in a]
    assert len(removes) == 1 and len(adds) == 1  # exactly one bucket cycled
    live1, _, _, _ = delta_lite._read_actions(t)
    assert len(set(live0) & set(live1)) == 7  # 7 buckets' files untouched
    got = {(r["k"], r["v"], r["gen"]) for r in delta_lite.read_delta(spark, t).collect()}
    want = {(k, f"v{k}", 0) for k in range(100) if k != 7} | {(7, "NEW", 1)}
    assert got == want


def test_upsert_delta_txn_and_bucket_pruning_after_many_batches(spark, tmp_path):
    """12 single-key batches: txn versions accrue, a checkpoint lands at
    version 10 (CHECKPOINT_INTERVAL), reads below and above the
    checkpoint both replay correctly, and last_txn_version survives the
    checkpoint boundary."""
    t = str(tmp_path / "t")
    for b in range(12):
        df = spark.createDataFrame([(b % 5, f"b{b}")], "k long, v string")
        delta_lite.upsert_delta(spark, t, df, ["k"], n_buckets=4, txn=("app", b))
    assert delta_lite.current_version(t) == 11
    assert delta_lite._read_last_checkpoint(t) == 10
    assert os.path.isfile(delta_lite._checkpoint_file(t, 10))
    assert delta_lite.last_txn_version(t, "app") == 11
    # latest snapshot: per key, the last batch that wrote it
    got = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()}
    want = {(0, "b10"), (1, "b11"), (2, "b7"), (3, "b8"), (4, "b9")}
    assert got == want
    # time travel BELOW the checkpoint replays from version 0
    at3 = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t, version=3).collect()}
    assert at3 == {(0, "b0"), (1, "b1"), (2, "b2"), (3, "b3")}


def test_compact_preserves_bucketing_and_incrementality(spark, tmp_path):
    """OPTIMIZE on a bucketed table keeps the bucket tags, so the next
    merge is still a touched-file commit (and never silently duplicates
    keys hiding in untagged files)."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame([(k, "a") for k in range(40)], "k long, v string")
    delta_lite.upsert_delta(spark, t, base, ["k"], n_buckets=4)
    delta_lite.upsert_delta(
        spark, t, spark.createDataFrame([(3, "b")], "k long, v string"), ["k"]
    )
    v = delta_lite.compact(spark, t)
    live, meta, _, _ = delta_lite._read_actions(t)
    assert len(live) == 4  # one file per bucket, tags preserved
    assert all(delta_lite._file_bucket(a) is not None for a in live.values())
    # spec invariant: partitionValues keys match metaData.partitionColumns
    # (empty here) — the bucket rides add.tags, never partitionValues
    assert all(a.get("partitionValues") == {} for a in live.values())
    v2 = delta_lite.upsert_delta(
        spark, t, spark.createDataFrame([(3, "c")], "k long, v string"), ["k"]
    )
    acts = _log_actions(t, v2)
    assert len([a for a in acts if "remove" in a]) == 1  # still incremental
    got = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()}
    assert got == {(k, "a") for k in range(40) if k != 3} | {(3, "c")}
    assert len(got) == 40
    # a file whose bucket rides only the old partitionValues['__bucket']
    # (no tag) reads as untagged: the next merge rewrites it, so the key
    # it holds is never duplicated
    tagged = next(a["add"] for a in acts if "add" in a)
    legacy = {k: val for k, val in tagged.items() if k != "tags"}
    legacy["partitionValues"] = {"__bucket": delta_lite._file_bucket(tagged)}
    assert delta_lite._commit(t, v2 + 1, [{"add": legacy}])
    v3 = delta_lite.upsert_delta(
        spark, t, spark.createDataFrame([(3, "d")], "k long, v string"), ["k"]
    )
    assert legacy["path"] in {
        a["remove"]["path"] for a in _log_actions(t, v3) if "remove" in a
    }
    rows = [(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()]
    assert sorted(rows) == sorted({(k, "a") for k in range(40) if k != 3} | {(3, "d")})


def test_compact_aborts_on_concurrent_commit(spark, tmp_path):
    """ADVICE r6: compact's remove set comes from a pinned snapshot; a
    commit landing in between must ABORT the compaction (lost-update
    prevention), never retry-rebase over it."""
    t = str(tmp_path / "t")
    delta_lite.write_delta(_df(spark, [(1, "a")]), t)
    delta_lite.write_delta(_df(spark, [(2, "b")]), t, mode="append")
    # simulate the concurrent writer: steal the version compact targets
    real_commit = delta_lite._commit

    def racing_commit(table, version, actions):
        delta_lite._commit = real_commit
        real_commit(
            table, version,
            [{"commitInfo": {"timestamp": 0, "operation": "WRITE",
                             "operationParameters": {}, "engineInfo": "racer"}}],
        )
        return real_commit(table, version, actions)

    delta_lite._commit = racing_commit
    try:
        with pytest.raises(RuntimeError, match="aborted"):
            delta_lite.compact(spark, t, n_files=1)
    finally:
        delta_lite._commit = real_commit
    # the racer's commit is intact and the table still reads
    assert delta_lite.current_version(t) == 2
    got = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_scd2_delta_batches_match_batch_collapse(spark, sf_dir, tmp_path):
    """apply_scd2_batch: three time-ordered deliveries
    maintain the interval table through touched-file MERGE commits; the
    final snapshot equals the one-pass batch collapse, and per-batch
    commits only cycle the buckets their keys touch."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        timeseries,
    )

    src = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts", "event_type")
    )
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
    t = str(tmp_path / "scd")
    for b, ch in enumerate(chunks):
        jobs.apply_scd2_batch(
            ch, b, t, "user_id", "ts", ["event_type"], n_buckets=8,
        )
    # replayed batch: txn guard no-ops, no new commit
    v = delta_lite.current_version(t)
    jobs.apply_scd2_batch(chunks[1], 1, t, "user_id", "ts", ["event_type"])
    assert delta_lite.current_version(t) == v
    got = {
        (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in delta_lite.read_delta(spark, t).collect()
    }
    want = {
        (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in timeseries.scd2_from_events(
            src, "user_id", "ts", ["event_type"]
        ).collect()
    }
    assert got == want and len(want) > 500


def test_add_actions_carry_stats_and_skipping_is_sound(spark, tmp_path):
    """r7 log-stats: every add action carries the spec's stats JSON
    (numRecords matches, min/max bound the file's values), and
    read_delta(predicate=...) drops only provably-missing files —
    never a row of the answer."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(100)], "k long, v string, m long"
    )
    delta_lite.write_delta(df.repartitionByRange(5, "k"), t)
    live, _, _, _ = delta_lite._read_actions(t)
    assert len(live) == 5
    total = 0
    for add in live.values():
        s = json.loads(add["stats"])
        total += s["numRecords"]
        assert s["minValues"]["k"] <= s["maxValues"]["k"]
        assert s["nullCount"]["k"] == 0
    assert total == 100
    # range predicate k in [40, 44]: range-clustered files -> most prune
    pruned = delta_lite.read_delta(spark, t, predicate=("k", 40, 44))
    kept_files = pruned.inputFiles()
    assert 0 < len(kept_files) < 5
    got = {r["k"] for r in pruned.filter("k between 40 and 44").collect()}
    assert got == set(range(40, 45))  # skipping lost no matching row
    # unbounded side + no-stats safety: a file without stats is kept
    some = next(iter(live))
    live[some].pop("stats", None)
    assert not delta_lite._maybe_prunable(live[some], "k", 0, 0)


def test_optimize_zorder_preserves_content_and_enables_two_col_pruning(spark, tmp_path):
    t = str(tmp_path / "t")
    rows = [(i % 50, (i * 7) % 50, i) for i in range(2000)]
    df = spark.createDataFrame(rows, "a long, b long, payload long")
    delta_lite.write_delta(df.repartition(8), t)
    before = {tuple(r) for r in delta_lite.read_delta(spark, t).collect()}
    v = delta_lite.optimize_zorder(spark, t, "a", "b", n_files=16)
    assert v == 1
    after = {tuple(r) for r in delta_lite.read_delta(spark, t).collect()}
    assert after == before  # data-identical rewrite
    live, _, _, _ = delta_lite._read_actions(t)
    for col in ("a", "b"):  # EITHER column prunes post-zorder
        kept = [p for p, a in live.items()
                if not delta_lite._maybe_prunable(a, col, 0, 5)]
        assert 0 < len(kept) < len(live), col
    # pre-optimize snapshot still time-travels
    at0 = {tuple(r) for r in delta_lite.read_delta(spark, t, version=0).collect()}
    assert at0 == before


def test_upsert_delta_schema_evolution_adds_and_drops_columns(spark, tmp_path):
    """updates' schema defines the table going forward: a new column
    fills NULL on surviving rows in TOUCHED buckets; untouched buckets'
    old files read NULL through the pinned committed schema."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, f"v{k}") for k in range(20)], "k long, v string"
    )
    delta_lite.upsert_delta(spark, t, base, ["k"], n_buckets=4)
    upd = spark.createDataFrame([(3, "NEW", 9.5)], "k long, v string, w double")
    delta_lite.upsert_delta(spark, t, upd, ["k"], n_buckets=4)
    got = {(r["k"], r["v"], r["w"]) for r in delta_lite.read_delta(spark, t).collect()}
    assert (3, "NEW", 9.5) in got
    assert (4, "v4", None) in got  # old row, new column NULL
    assert len(got) == 20
    # version-0 snapshot keeps its committed 2-column schema
    assert delta_lite.read_delta(spark, t, version=0).columns == ["k", "v"]


def test_merge_touched_conflict_rereads_fresh_snapshot(spark, tmp_path):
    """Optimistic concurrency on the MERGE path: when a concurrent
    commit steals the target version, the whole read-merge-write
    re-runs against the fresh snapshot (true retry with re-validation),
    so the concurrent commit's data survives in the final state."""
    t = str(tmp_path / "t")
    delta_lite.upsert_delta(
        spark, t,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        ["k"], n_buckets=2,
    )
    real_commit = delta_lite._commit
    state = {"raced": False}

    def racing_commit(table, version, actions):
        if not state["raced"]:
            state["raced"] = True
            # concurrent writer lands an upsert of k=2 at this version
            delta_lite._commit = real_commit
            delta_lite.upsert_delta(
                spark, table,
                spark.createDataFrame([(2, "CONCURRENT")], "k long, v string"),
                ["k"],
            )
            delta_lite._commit = racing_commit
            return False  # our attempt lost the version race
        return real_commit(table, version, actions)

    delta_lite._commit = racing_commit
    try:
        delta_lite.upsert_delta(
            spark, t,
            spark.createDataFrame([(1, "MINE")], "k long, v string"),
            ["k"],
        )
    finally:
        delta_lite._commit = real_commit
    got = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()}
    # both writers' rows survive: no lost update under the retry
    assert got == {(1, "MINE"), (2, "CONCURRENT")}


def test_partition_columns_prune_and_reconstitute(spark, tmp_path):
    """write_delta(partition_by=...) populates partitionValues to match
    metaData.partitionColumns (the spec invariant), read_delta prunes
    files by partition value BEFORE stats skipping, and the partition
    column — absent from the parquet data files — reconstitutes from
    the Hive-layout paths on read."""
    t = str(tmp_path / "t")
    rows = [(i, i % 4, f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "k long, p int, v string")
    delta_lite.write_delta(df, t, partition_by=["p"])
    live, meta, _, _ = delta_lite._read_actions(t)
    assert meta["partitionColumns"] == ["p"]
    assert all(set(a["partitionValues"]) == {"p"} for a in live.values())
    assert all(a["path"].startswith("p=") for a in live.values())
    # partition pruning: a p == 2 predicate keeps only that partition
    kept = {
        p
        for p, a in live.items()
        if not delta_lite._partition_prunable(a, "p", 2, 2, "integer")
    }
    assert kept and all(p.startswith("p=2/") for p in kept)
    pruned = delta_lite.read_delta(spark, t, predicate=("p", 2, 2))
    got = {(r["k"], r["p"], r["v"]) for r in pruned.collect()}
    assert got == {(i, 2, f"v{i}") for i in range(100) if i % 4 == 2}
    # full read round-trips, partition column reconstituted with type
    full = delta_lite.read_delta(spark, t)
    assert dict(full.dtypes)["p"] == "int"
    assert full.count() == 100
    # a conflicting partition spec on a later write is rejected
    with pytest.raises(ValueError, match="partition"):
        delta_lite.write_delta(df, t, mode="append", partition_by=["k"])
    # append inherits the declared partitioning
    delta_lite.write_delta(
        spark.createDataFrame([(100, 2, "x")], "k long, p int, v string"),
        t,
        mode="append",
    )
    assert delta_lite.read_delta(spark, t, predicate=("p", 2, 2)).count() == 26


def test_partitioned_compact_preserves_layout_and_vacuum_walks_subdirs(
    spark, tmp_path
):
    """compact() on a partitioned table preserves the Hive layout (new
    adds carry partitionValues), and vacuum() finds superseded files
    inside partition subdirectories."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(60)], "k long, p int, v string"
    )
    delta_lite.write_delta(df.repartition(8), t, partition_by=["p"])
    n_before = len(delta_lite._read_actions(t)[0])
    v = delta_lite.compact(spark, t, n_files=1)
    live, meta, _, _ = delta_lite._read_actions(t)
    assert meta["partitionColumns"] == ["p"]
    assert all(set(a["partitionValues"]) == {"p"} for a in live.values())
    assert len(live) <= n_before
    assert delta_lite.read_delta(spark, t).count() == 60
    # a crash orphan INSIDE a partition subdirectory: vacuum must walk
    # the Hive layout to find it (referenced files in subdirs survive)
    orphan = os.path.join(t, "p=1", "part-99999-deadbeef.snappy.parquet")
    open(orphan, "wb").write(b"junk")
    removed = delta_lite.vacuum(t, retention_seconds=0.0)
    assert "p=1/part-99999-deadbeef.snappy.parquet" in removed
    assert not os.path.exists(orphan)
    assert delta_lite.read_delta(spark, t).count() == 60  # live table intact


def test_delete_keys_erases_live_but_time_travel_serves_history(spark, tmp_path):
    """GDPR delete: the live snapshot no longer serves the keys, the
    publish touches only the keys' buckets, time travel still serves
    pre-delete versions, and a retention-gated vacuum completes the
    physical erasure story."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, f"user{k}") for k in range(50)], "k long, v string"
    )
    delta_lite.upsert_delta(spark, t, base, ["k"], n_buckets=8)
    pre = delta_lite.current_version(t)
    erase = spark.createDataFrame([(7,), (13,)], "k long")
    v = delta_lite.delete_keys(spark, t, erase, ["k"], txn=("gdpr", 1))
    # live snapshot: keys gone
    live_keys = {r["k"] for r in delta_lite.read_delta(spark, t).collect()}
    assert 7 not in live_keys and 13 not in live_keys
    assert len(live_keys) == 48
    # touched-file discipline: only the buckets holding 7 and 13 rewrote
    acts = [
        json.loads(ln)
        for ln in open(os.path.join(t, "_delta_log", f"{v:020d}.json"))
        if ln.strip()
    ]
    removes = [a for a in acts if "remove" in a]
    assert 0 < len(removes) <= 2  # ≤ one file per touched bucket
    # idempotence: the txn mark reads back through the log
    assert delta_lite.last_txn_version(t, "gdpr") == 1
    # time travel: the pre-delete version still serves the keys
    old = {r["k"] for r in delta_lite.read_delta(spark, t, version=pre).collect()}
    assert 7 in old and 13 in old
    # vacuum with retention keeps the pre-delete files (time travel
    # intact); zero-retention reclaims nothing NEW that is still
    # referenced by any version — erased rows' files are referenced by
    # the old version, so they survive until log truncation
    assert delta_lite.vacuum(t, retention_seconds=3600) == []
    assert delta_lite.delete_keys(spark, t, erase, ["k"]) == v + 1  # no-op rewrite commits cleanly
    assert delta_lite.read_delta(spark, t).count() == 48


def test_temporal_stats_pruning_shape_mismatch_is_safe(spark, tmp_path):
    """ADVICE r7: a DATE column's ISO stats ('1996-01-01') compared
    against a datetime bound must NOT lexicographically prune the file
    whose boundary rows match."""
    import datetime

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, datetime.date(1996, 1, 1)), (2, datetime.date(1996, 6, 1))],
        "k long, d date",
    )
    delta_lite.write_delta(df.coalesce(1), t)
    live, _, _, _ = delta_lite._read_actions(t)
    add = next(iter(live.values()))
    # bound at midnight of the stat's max date: the boundary row
    # MATCHES >= lo, so the file must be kept (string compare said
    # '1996-06-01' < '1996-06-01T00:00:00' and wrongly pruned)
    lo = datetime.datetime(1996, 6, 1, 0, 0, 0)
    assert not delta_lite._maybe_prunable(add, "d", lo, None)
    # a bound strictly past the max date DOES prune
    assert delta_lite._maybe_prunable(
        add, "d", datetime.datetime(1996, 6, 2), None
    )
    # reading with the datetime predicate keeps the boundary row
    got = delta_lite.read_delta(spark, t, predicate=("d", lo, None))
    assert got.count() == 2  # file kept; row filter is the caller's job


def test_zorder_wide_range_does_not_overflow(spark, tmp_path):
    """ADVICE r7: a column range wider than 2^(63-bits) must not
    overflow the normalization (epoch-micros spanning decades); the
    Morton rewrite still produces bounded per-file boxes on both
    columns."""
    wide = [(i * 3_155_760_000_000, i % 97, i) for i in range(2000)]
    df = spark.createDataFrame(wide, "us long, g long, k long")  # ~100y of micros
    t = str(tmp_path / "t")
    delta_lite.write_delta(df.repartition(4), t)
    delta_lite.optimize_zorder(spark, t, "us", "g", n_files=8)
    live, _, _, _ = delta_lite._read_actions(t)
    hi_us = 500 * 3_155_760_000_000
    kept = [
        p
        for p, a in live.items()
        if not delta_lite._maybe_prunable(a, "us", 0, hi_us)
    ]
    assert 0 < len(kept) < len(live)  # pruning works: order not scrambled
    got = delta_lite.read_delta(spark, t).count()
    assert got == 2000


def test_optimize_zorder_within_partitions(spark, tmp_path):
    """Z-order on a PARTITIONED table (real Delta semantics): the
    rewrite preserves the Hive layout and partitionValues, spans are
    computed per partition value, files inside a partition get bounded
    Morton boxes on BOTH columns, and z-ordering ON a partition column
    is rejected."""
    t = str(tmp_path / "t")
    rows = [(i % 2, i * 37 % 1000, i * 61 % 1000, i) for i in range(4000)]
    df = spark.createDataFrame(rows, "p int, a long, b long, k long")
    delta_lite.write_delta(df.repartition(8), t, partition_by=["p"])
    v = delta_lite.optimize_zorder(spark, t, "a", "b", n_files=8)
    live, meta, _, _ = delta_lite._read_actions(t)
    assert meta["partitionColumns"] == ["p"]
    assert all(set(x["partitionValues"]) == {"p"} for x in live.values())
    # pruning works on both z-columns within each partition
    for col in ("a", "b"):
        kept = [
            p
            for p, a in live.items()
            if not delta_lite._maybe_prunable(a, col, 0, 200)
        ]
        assert 0 < len(kept) < len(live)
    # content identical, partition column intact
    got = delta_lite.read_delta(spark, t)
    assert got.count() == 4000
    assert {r["p"] for r in got.select("p").distinct().collect()} == {0, 1}
    with pytest.raises(ValueError, match="partition columns"):
        delta_lite.optimize_zorder(spark, t, "p", "a")


def test_read_delta_multi_predicate_and_timestamp_travel(spark, tmp_path):
    """predicate accepts a LIST of (col, lo, hi) triples (partition +
    stats predicates compose), and timestamp_ms resolves TIMESTAMP AS
    OF through commitInfo."""
    import time as _time

    t = str(tmp_path / "t")
    rows = [(i % 4, i, f"v{i}") for i in range(400)]
    df = spark.createDataFrame(rows, "p int, k long, v string")
    delta_lite.write_delta(
        df.repartitionByRange(4, "k"), t, partition_by=["p"]
    )
    ts_after_v0 = int(_time.time() * 1000)
    _time.sleep(0.05)
    delta_lite.write_delta(
        spark.createDataFrame([(0, 999, "late")], "p int, k long, v string"),
        t,
        mode="append",
    )
    # composed predicates: partition p=2 AND stats k <= 99
    live, _, _, _ = delta_lite._read_actions(t)
    pruned = delta_lite.read_delta(
        spark, t, predicate=[("p", 2, 2), ("k", None, 99)]
    )
    got = {r["k"] for r in pruned.filter("p = 2 AND k <= 99").collect()}
    assert got == {i for i in range(400) if i % 4 == 2 and i <= 99}
    kept_files = len(
        delta_lite.read_delta(
            spark, t, predicate=[("p", 2, 2), ("k", None, 99)]
        ).inputFiles()
    )
    all_files = len(delta_lite.read_delta(spark, t).inputFiles())
    assert kept_files < all_files
    # TIMESTAMP AS OF: a bound between the commits resolves to v0
    assert delta_lite.version_at_timestamp(t, ts_after_v0) == 0
    at0 = delta_lite.read_delta(spark, t, timestamp_ms=ts_after_v0)
    assert at0.count() == 400
    assert delta_lite.read_delta(spark, t).count() == 401
    with pytest.raises(ValueError, match="at or before"):
        delta_lite.version_at_timestamp(t, 0)
    with pytest.raises(ValueError, match="not both"):
        delta_lite.read_delta(spark, t, version=0, timestamp_ms=ts_after_v0)


def test_truncate_log_completes_physical_erasure(spark, tmp_path):
    """The full GDPR story: delete_keys removes the keys from the live
    snapshot; truncate_log drops time travel below the delete; vacuum
    then reclaims the pre-delete files' BYTES.  Reads at or above the
    truncation point stay correct (checkpoint replay), reads below
    raise, and a later time-travel read between the truncation
    checkpoint and a newer pointer replays correctly."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, f"user{k}") for k in range(40)], "k long, v string"
    )
    delta_lite.upsert_delta(spark, t, base, ["k"], n_buckets=4)
    pre_files = set(delta_lite.read_delta(spark, t).inputFiles())
    erase = spark.createDataFrame([(7,)], "k long")
    v_del = delta_lite.delete_keys(spark, t, erase, ["k"])
    # bytes still on disk: the pre-delete version references them
    assert delta_lite.vacuum(t, retention_seconds=0.0) == []
    removed_versions = delta_lite.truncate_log(t, keep_from=v_del)
    assert removed_versions == [0]
    # live snapshot correct through the truncation checkpoint
    live_keys = {r["k"] for r in delta_lite.read_delta(spark, t).collect()}
    assert live_keys == {k for k in range(40) if k != 7}
    # time travel below the truncation point is gone
    with pytest.raises(FileNotFoundError):
        delta_lite.read_delta(spark, t, version=0)
    # NOW vacuum reclaims the superseded bucket's bytes
    reclaimed = delta_lite.vacuum(t, retention_seconds=0.0)
    assert reclaimed  # the deleted key's old bucket file(s)
    import os as _os

    for f in pre_files:
        name = _os.path.basename(f)
        if name in reclaimed:
            assert not _os.path.exists(f)
    # subsequent commits + reads still work (checkpoint discovery is
    # not fooled by the truncated base)
    delta_lite.upsert_delta(
        spark, t, spark.createDataFrame([(1, "NEW")], "k long, v string"), ["k"]
    )
    at_trunc = {
        r["k"] for r in delta_lite.read_delta(spark, t, version=v_del).collect()
    }
    assert at_trunc == {k for k in range(40) if k != 7}
    got = {(r["k"], r["v"]) for r in delta_lite.read_delta(spark, t).collect()}
    assert (1, "NEW") in got and len(got) == 39


def test_optimize_zorder_keeps_null_partition_rows(spark, tmp_path):
    """ADVICE r8 (high): z-ordering a partitioned table whose partition
    column contains NULLs (__HIVE_DEFAULT_PARTITION__) must not drop the
    null-partition rows — the span join is null-safe."""
    t = str(tmp_path / "t")
    rows = [(None if i % 5 == 0 else i % 3, i * 37 % 500, i * 61 % 500, i)
            for i in range(1000)]
    df = spark.createDataFrame(rows, "p int, a long, b long, k long")
    delta_lite.write_delta(df.repartition(4), t, partition_by=["p"])
    before_nulls = delta_lite.read_delta(spark, t).filter("p IS NULL").count()
    assert before_nulls == 200
    delta_lite.optimize_zorder(spark, t, "a", "b", n_files=4)
    got = delta_lite.read_delta(spark, t)
    assert got.count() == 1000
    assert got.filter("p IS NULL").count() == before_nulls
    # the rewrite preserved the null partition's partitionValues mapping
    live, _, _, _ = delta_lite._read_actions(t)
    assert any(a["partitionValues"].get("p") is None for a in live.values())


def test_partitioned_upsert_composes_pruning_and_touched_merge(spark, tmp_path):
    """VERDICT r9 #1 (the biggest r9 capability gap, now closed): a
    date-partitioned, key-bucketed table supports partition pruning AND
    O(touched) keyed MERGE on the same file set.  The ADVICE r8 guard
    refused partitioned merges outright; the fix reads touched files
    with basePath (partition columns reconstitute from the Hive paths)
    and stages merged output through the partitioned writer with the
    bucket as a stripped pseudo-partition — every add keeps real
    partitionValues (spec invariant: keys == partitionColumns) PLUS its
    tags['bucket']."""
    t = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        (F.col("id") % 4).cast("int").alias("p"),
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
    )
    delta_lite.write_delta(df, t, partition_by=["p"])

    # migration merge: partitioned flat table -> partitioned+bucketed
    upd1 = spark.createDataFrame([(1, 5, -50), (2, 402, -1)], "p int, k long, v long")
    delta_lite.upsert_delta(spark, t, upd1, ["k"], n_buckets=8)
    live, meta, _, _ = delta_lite._read_actions(t)
    assert meta.get("partitionColumns") == ["p"]
    # spec invariant on EVERY live file post-merge
    assert all(
        set(a.get("partitionValues") or {}) == {"p"}
        and (a.get("partitionValues") or {}).get("p") is not None
        for a in live.values()
    )
    assert all(delta_lite._file_bucket(a) is not None for a in live.values())

    # incremental merge: touches strictly fewer files than live
    upd2 = spark.createDataFrame([(3, 7, -70)], "p int, k long, v long")
    v = delta_lite.upsert_delta(spark, t, upd2, ["k"], n_buckets=8)
    with open(delta_lite._version_file(t, v)) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    n_removed = len([a for a in acts if "remove" in a])
    assert 0 < n_removed < len(live)
    # the rewritten adds keep BOTH partition dirs and bucket tags
    new_adds = [a["add"] for a in acts if "add" in a]
    assert new_adds and all(
        set(a["partitionValues"]) == {"p"}
        and delta_lite._file_bucket(a) is not None
        and "/" in a["path"]
        for a in new_adds
    )

    # content: upserts landed, everything else intact
    got = {
        r.k: (r.p, r.v) for r in delta_lite.read_delta(spark, t).collect()
    }
    assert got[5] == (1, -50) and got[7] == (3, -70) and got[402] == (2, -1)
    assert len(got) == 401 and got[8] == (0, 80)

    # partition pruning is value-exact on the merged table
    live2, _, _, _ = delta_lite._read_actions(t)
    kept = {
        p
        for p, a in live2.items()
        if not delta_lite._partition_prunable(a, "p", 2, 2, "integer")
    }
    want = {
        p
        for p, a in live2.items()
        if (a.get("partitionValues") or {}).get("p") == "2"
    }
    assert kept == want and 0 < len(kept) < len(live2)
    pruned = delta_lite.read_delta(spark, t, predicate=("p", 2, 2))
    assert pruned.filter("p = 2").count() == 101  # 100 base + key 402

    # delete_keys rides the same path on partitioned tables
    delta_lite.delete_keys(
        spark, t, spark.createDataFrame([(5,), (8,)], "k long"), ["k"]
    )
    got = {r.k for r in delta_lite.read_delta(spark, t).collect()}
    assert 5 not in got and 8 not in got and len(got) == 399

    # a merge that drops a partition column is refused
    with pytest.raises(ValueError, match="partition column"):
        delta_lite.merge_touched(
            spark,
            t,
            spark.createDataFrame([(1,)], "k long"),
            ["k"],
            lambda cur, b: cur.drop("p"),
        )


def test_partitioned_bucketed_compact_preserves_both_layouts(spark, tmp_path):
    """compact() on a partitioned+bucketed table preserves the Hive
    partition layout AND the bucket tags (merges stay incremental after
    compaction), commits dataChange:false, and keeps content."""
    t = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        (F.col("id") % 3).cast("int").alias("p"),
        F.col("id").alias("k"),
        F.col("id").alias("v"),
    )
    delta_lite.write_delta(df, t, partition_by=["p"])
    for i in range(3):
        delta_lite.upsert_delta(
            spark,
            t,
            spark.createDataFrame([(0, 300 + i, -i)], "p int, k long, v long"),
            ["k"],
            n_buckets=4,
        )
    v = delta_lite.compact(spark, t)
    live, meta, _, _ = delta_lite._read_actions(t)
    assert meta.get("partitionColumns") == ["p"]
    assert all(
        set(a.get("partitionValues") or {}) == {"p"}
        and delta_lite._file_bucket(a) is not None
        for a in live.values()
    )
    with open(delta_lite._version_file(t, v)) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    assert all(not a["add"]["dataChange"] for a in acts if "add" in a)
    assert delta_lite.read_delta(spark, t).count() == 303
    # post-compact merge is still touched-file incremental
    v2 = delta_lite.upsert_delta(
        spark,
        t,
        spark.createDataFrame([(1, 7, -7)], "p int, k long, v long"),
        ["k"],
        n_buckets=4,
    )
    with open(delta_lite._version_file(t, v2)) as fh:
        acts2 = [json.loads(ln) for ln in fh if ln.strip()]
    assert 0 < len([a for a in acts2 if "remove" in a]) < len(live)


def test_temporal_key_timezone_handling():
    """ADVICE r8 (low): tz-aware stat/bound values normalize to the UTC
    instant keeping tzinfo; aware-vs-naive comparisons are treated as
    incomparable (file kept), never coerced by clock reading."""
    import datetime as dt

    tz8 = dt.timezone(dt.timedelta(hours=8))
    aware = dt.datetime(2024, 1, 1, 8, 0, 0, tzinfo=tz8)  # == 00:00 UTC
    key = delta_lite._temporal_key(aware)
    assert key.tzinfo is not None
    assert key == dt.datetime(2024, 1, 1, 0, 0, 0, tzinfo=dt.timezone.utc)
    # ISO string with offset: same normalization through parsing
    key_s = delta_lite._temporal_key("2024-01-01T08:00:00+08:00")
    assert key_s == key
    # aware stats vs naive bound: incomparable -> keep the file
    stats = json.dumps({
        "numRecords": 1,
        "minValues": {"ts": "2024-01-01T08:00:00+08:00"},
        "maxValues": {"ts": "2024-01-01T08:00:00+08:00"},
        "nullCount": {"ts": 0},
    })
    add = {"path": "f", "stats": stats}
    naive_lo = dt.datetime(2030, 1, 1)  # would prune if clock-coerced
    assert delta_lite._maybe_prunable(add, "ts", naive_lo, None) is False
    # aware-vs-aware prunes by instant: bound far in the future (aware)
    aware_lo = dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc)
    assert delta_lite._maybe_prunable(add, "ts", aware_lo, None) is True


def test_read_changes_reads_only_changed_files(spark, tmp_path):
    """VERDICT r8 #1: the change feed derives from add/remove actions
    and opens ONLY the changed files — a version pair whose interval
    touched one bucket must not read the others."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, f"v{k}") for k in range(64)], "k long, v string"
    )
    delta_lite.upsert_delta(spark, t, base, ["k"], n_buckets=8)
    v0 = delta_lite.current_version(t)
    upd = spark.createDataFrame([(3, "UPDATED")], "k long, v string")
    delta_lite.upsert_delta(spark, t, upd, ["k"])
    added, removed, vto = delta_lite.changed_files(t, v0)
    # one key -> one touched bucket: 1 file out, 1 file in
    assert len(added) == 1 and len(removed) == 1
    ch = delta_lite.read_changes(spark, t, v0, key_cols=["k"])
    # the lazy plan reads only the changed files
    inputs = {p.split("/")[-1] for p in ch.inputFiles()}
    assert inputs == {p.split("/")[-1] for p in (*added, *removed)}
    got = sorted((r.k, r.v, r._change_type) for r in ch.collect())
    assert got == [
        (3, "UPDATED", "update_postimage"),
        (3, "v3", "update_preimage"),
    ]


def test_read_changes_insert_delete_and_empty(spark, tmp_path):
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, k * 10) for k in range(20)], "k long, x long"
    )
    delta_lite.upsert_delta(spark, t, base, ["k"], n_buckets=4)
    delta_lite.upsert_delta(
        spark, t, spark.createDataFrame([(100, 1)], "k long, x long"), ["k"]
    )
    delta_lite.delete_keys(
        spark, t, spark.createDataFrame([(5,)], "k long"), ["k"]
    )
    ch = sorted(
        (r.k, r.x, r._change_type)
        for r in delta_lite.read_changes(spark, t, 0).collect()
    )
    assert ch == [(5, 50, "delete"), (100, 1, "insert")]
    # from == to: empty feed, schema intact
    same = delta_lite.read_changes(spark, t, 2, 2)
    assert same.count() == 0
    assert same.columns == ["k", "x", "_change_type"]
    with pytest.raises(ValueError, match="precedes"):
        delta_lite.read_changes(spark, t, 2, 0)


def test_read_changes_partitioned_table(spark, tmp_path):
    """Partition columns reconstitute through basePath on both sides of
    the diff (appends land new partition files; an overwrite of one
    partition shows as delete+insert)."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(0, 1, "a"), (0, 2, "b"), (1, 3, "c")], "p int, k long, v string"
    )
    delta_lite.write_delta(df, t, partition_by=["p"])
    delta_lite.write_delta(
        spark.createDataFrame([(2, 4, "d")], "p int, k long, v string"),
        t,
        mode="append",
    )
    ch = sorted(
        (r.p, r.k, r.v, r._change_type)
        for r in delta_lite.read_changes(spark, t, 0).collect()
    )
    assert ch == [(2, 4, "d", "insert")]


def test_log_store_contention_exactly_one_winner(tmp_path):
    """VERDICT r8 #5: the commit fence is a pluggable put-if-absent
    LogStore.  Many writers racing the SAME version file: exactly one
    put_if_absent returns True, the losers write nothing, and the
    winner's content is intact (the optimistic-retry protocol's
    correctness rests on this primitive)."""
    import threading

    path = str(tmp_path / "t" / "_delta_log" / f"{7:020d}.json")
    store = delta_lite.LocalLinkLogStore()
    n = 16
    results = [None] * n
    barrier = threading.Barrier(n)

    def writer(i):
        barrier.wait()
        results[i] = store.put_if_absent(path, f"writer-{i}\n".encode())

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [i for i, r in enumerate(results) if r]
    assert len(winners) == 1
    assert open(path).read() == f"writer-{winners[0]}\n"
    # no temp litter left behind
    leftover = [
        f for f in os.listdir(os.path.dirname(path)) if f.startswith(".tmp-")
    ]
    assert leftover == []


def test_commit_racing_writers_through_write_delta(spark, tmp_path):
    """End-to-end contention: two write_delta appends racing from the
    same base version both land (one wins the version, the loser
    retries at the next) and no rows are lost."""
    import threading

    t = str(tmp_path / "t")
    delta_lite.write_delta(_df(spark, [(0, "base")]), t)
    errs = []
    barrier = threading.Barrier(2)

    def appender(k):
        try:
            df = _df(spark, [(k, f"w{k}")])
            barrier.wait()
            delta_lite.write_delta(df, t, mode="append")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(k,)) for k in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    got = sorted((r.k, r.v) for r in delta_lite.read_delta(spark, t).collect())
    assert got == [(0, "base"), (1, "w1"), (2, "w2")]
    assert delta_lite.current_version(t) == 2


def test_unregistered_uri_scheme_log_store_raises(spark, tmp_path):
    """URI-scheme table paths have no local fence: commits must refuse
    loudly (register a conditional-put LogStore instead of silently
    racing), and a registered custom store is actually used."""
    with pytest.raises(NotImplementedError, match="register_log_store"):
        delta_lite._commit("s3://bucket/table", 0, [{"commitInfo": {}}])

    class RecordingStore(delta_lite.LogStore):
        def __init__(self):
            self.calls = []

        def put_if_absent(self, path, content):
            self.calls.append(path)
            return True

    store = RecordingStore()
    delta_lite.register_log_store("fake", store)
    try:
        assert delta_lite._commit("fake://b/t", 3, [{"commitInfo": {}}])
        assert store.calls and store.calls[0].endswith(f"{3:020d}.json")
    finally:
        delta_lite._LOG_STORES.pop("fake", None)


def test_optimize_small_files_packs_only_fragments(spark, tmp_path):
    """Incremental OPTIMIZE: only files below target_bytes are packed
    (already-compacted files untouched), data and time travel are
    intact, the commit is dataChange=false so the change feed skips
    the churn, and vacuum can reclaim the packed-away fragments."""
    t = str(tmp_path / "t")
    big = _df(spark, [(i, f"v{i}") for i in range(5000)]).coalesce(1)
    delta_lite.write_delta(big, t)
    for i in range(5):
        delta_lite.write_delta(
            _df(spark, [(10000 + i, "tiny")]), t, mode="append"
        )
    live0, _, base, _ = delta_lite._read_actions(t)
    sizes = sorted(a["size"] for a in live0.values())
    cutoff = sizes[-1]  # everything smaller than the big file
    assert len(live0) >= 6  # 1 big + the append fragments

    v = delta_lite.optimize_small_files(spark, t, target_bytes=cutoff)
    assert v == base + 1
    live1, _, _, _ = delta_lite._read_actions(t)
    big_path = next(p for p, a in live0.items() if a["size"] == cutoff)
    assert big_path in live1  # the compacted file was left alone
    assert len(live1) < len(live0)
    assert delta_lite.read_delta(spark, t).count() == 5005
    assert delta_lite.read_delta(spark, t, version=base).count() == 5005
    # layout-only commit: row-level change feed across it is empty
    assert delta_lite.read_changes(spark, t, base, v).count() == 0
    # the streaming CDF admits only dataChange=true actions
    with open(delta_lite._version_file(t, v)) as fh:
        acts = [json.loads(l) for l in fh if l.strip()]
    assert all(
        not a["add"]["dataChange"] for a in acts if "add" in a
    ) and all(not a["remove"]["dataChange"] for a in acts if "remove" in a)
    # nothing worth packing -> None, no commit
    assert delta_lite.optimize_small_files(spark, t, target_bytes=cutoff) is None
    # packed-away fragments become reclaimable once time travel below
    # the optimize commit is dropped (truncate_log) and retention passes
    delta_lite.truncate_log(t, keep_from=v)
    reclaimed = delta_lite.vacuum(t, retention_seconds=0.0)
    assert set(p for p in live0 if p != big_path) <= set(reclaimed)


def test_optimize_small_files_bucketed_and_partitioned_guard(spark, tmp_path):
    """Bucketed tables pack per bucket and keep bucket tags (merges
    stay incremental after); partitioned tables are refused."""
    t = str(tmp_path / "b")
    delta_lite.upsert_delta(
        spark, t, _df(spark, [(k, f"v{k}") for k in range(20)]), ["k"],
        n_buckets=2,
    )
    delta_lite.write_delta(_df(spark, [(100, "x")]), t, mode="append")
    delta_lite.write_delta(_df(spark, [(101, "y")]), t, mode="append")
    v = delta_lite.optimize_small_files(spark, t, target_bytes=1 << 30)
    assert v is not None
    live, _, _, _ = delta_lite._read_actions(t)
    assert all(delta_lite._file_bucket(a) is not None for a in live.values())
    assert delta_lite.read_delta(spark, t).count() == 22
    # post-optimize merge still incremental and correct
    delta_lite.upsert_delta(spark, t, _df(spark, [(100, "x2")]), ["k"])
    got = {
        (r.k, r.v) for r in delta_lite.read_delta(spark, t).collect()
    }
    assert (100, "x2") in got and (101, "y") in got and len(got) == 22

    p = str(tmp_path / "p")
    delta_lite.write_delta(
        _df(spark, [(1, "a"), (2, "b")]), p, partition_by=["v"]
    )
    with pytest.raises(ValueError, match="partitionColumns"):
        delta_lite.optimize_small_files(spark, p)


def test_restore_table_rolls_back_live_state_keeping_history(spark, tmp_path):
    """RESTORE re-points the live snapshot at an earlier version as a
    new commit: data AND schema roll back, the bad commits stay
    time-travelable, a second restore rolls forward again, and a
    version whose files vacuum already reclaimed refuses loudly."""
    t = str(tmp_path / "t")
    delta_lite.write_delta(_df(spark, [(1, "a"), (2, "b")]), t)  # v0
    delta_lite.write_delta(
        _df(spark, [(3, "c", 9)], "k long, v string, extra long"), t,
        mode="overwrite",
    )  # v1: bad overwrite, schema changed
    v = delta_lite.restore_table(t, version=0)
    assert v == 2
    got = {(r.k, r.v) for r in delta_lite.read_delta(spark, t).collect()}
    assert got == {(1, "a"), (2, "b")}
    assert delta_lite.read_delta(spark, t).columns == ["k", "v"]
    # forensics intact: the bad version still reads
    assert delta_lite.read_delta(spark, t, version=1).count() == 1
    # roll FORWARD to the bad version again
    assert delta_lite.restore_table(t, version=1) == 3
    assert delta_lite.read_delta(spark, t).columns == ["k", "v", "extra"]
    # restore to the current version is a no-op, no empty commit
    assert delta_lite.restore_table(t, version=3) == 3
    assert delta_lite.current_version(t) == 3
    # reclaim v0's files (truncate history below current, vacuum), then
    # restoring to a reclaimed version must refuse
    delta_lite.truncate_log(t, keep_from=3)
    delta_lite.vacuum(t, retention_seconds=0.0)
    with pytest.raises(Exception):
        delta_lite.restore_table(t, version=0)


def test_restore_across_dv_commit_reverts_the_vector(spark, tmp_path):
    """RESTORE keys file identity on (path, dv tag), not path alone: a
    file live in both versions whose deletion-vector sidecar differs
    must be re-pointed at the target version's add, or the restore
    keeps the DV applied and the 'restored' table still lacks the
    deleted rows (ADVICE r10 high)."""
    t = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("g"),
        F.col("id").alias("v"),
    )
    delta_lite.write_delta(df.repartition(4), t)  # v0: 400 rows
    v1 = delta_lite.delete_where(spark, t, "g = 1", use_dv=True)
    assert delta_lite.read_delta(spark, t).count() == 300
    # restore ACROSS the DV commit: every row must come back
    v2 = delta_lite.restore_table(t, version=0)
    assert v2 == v1 + 1
    got = delta_lite.read_delta(spark, t)
    assert got.count() == 400
    assert got.filter("g = 1").count() == 100
    # and the restore commit's live adds carry NO dv tag
    live, _, _, _ = delta_lite._read_actions(t)
    assert all(not (a.get("tags") or {}).get("dv") for a in live.values())
    # roll FORWARD across the DV commit: the vector re-applies
    assert delta_lite.restore_table(t, version=v1) == v2 + 1
    fwd = delta_lite.read_delta(spark, t)
    assert fwd.count() == 300 and fwd.filter("g = 1").count() == 0
    live_f, _, _, _ = delta_lite._read_actions(t)
    assert any((a.get("tags") or {}).get("dv") for a in live_f.values())
    # LAYERED vector flip: delete more via DV, then restore to the
    # one-vector state — the dv tag must swap back, not persist
    v4 = delta_lite.delete_where(spark, t, "g = 2 AND v < 200", use_dv=True)
    assert delta_lite.read_delta(spark, t).count() == 250
    delta_lite.restore_table(t, version=v1)
    back = delta_lite.read_delta(spark, t)
    assert back.count() == 300
    assert back.filter("g = 2").count() == 100


def test_clone_table_zero_copy_fork_is_independent(spark, tmp_path):
    """SHALLOW CLONE re-references the source snapshot by absolute
    path: reads equal, writes to the clone never touch the source (and
    vice versa), vacuum(clone) cannot reclaim source bytes, a bucketed
    source keeps merging incrementally inside the clone, and a
    partitioned source is refused."""
    src = str(tmp_path / "src")
    delta_lite.upsert_delta(
        spark, src, _df(spark, [(k, f"v{k}") for k in range(10)]), ["k"],
        n_buckets=2,
    )
    tgt = str(tmp_path / "tgt")
    assert delta_lite.clone_table(src, tgt) == 0
    read = lambda p: {
        (r.k, r.v) for r in delta_lite.read_delta(spark, p).collect()
    }
    assert read(tgt) == read(src)
    # no data bytes copied: the clone dir holds only the log
    assert not [
        f for f in os.listdir(tgt) if f.endswith(".parquet")
    ]
    # clone diverges; source untouched
    delta_lite.upsert_delta(spark, tgt, _df(spark, [(3, "CLONE")]), ["k"])
    assert (3, "CLONE") in read(tgt) and (3, "v3") in read(src)
    # source diverges; clone pinned at its birth version + own edits
    delta_lite.upsert_delta(spark, src, _df(spark, [(4, "SRC")]), ["k"])
    assert (4, "SRC") in read(src) and (4, "v4") in read(tgt)
    # vacuum on the clone reclaims nothing from the source
    before = set(os.listdir(src))
    delta_lite.vacuum(tgt, retention_seconds=0.0)
    assert set(os.listdir(src)) == before
    assert read(tgt) == {(k, f"v{k}") for k in range(10) if k != 3} | {
        (3, "CLONE")
    }
    # pinned clone: fork the source at version 0
    tgt0 = str(tmp_path / "tgt0")
    delta_lite.clone_table(src, tgt0, version=0)
    assert read(tgt0) == {(k, f"v{k}") for k in range(10)}
    # partitioned source refused
    p = str(tmp_path / "p")
    delta_lite.write_delta(
        _df(spark, [(1, "a"), (2, "b")]), p, partition_by=["v"]
    )
    with pytest.raises(ValueError, match="partitionColumns"):
        delta_lite.clone_table(p, str(tmp_path / "px"))


def test_optimize_small_files_materializes_clone_locally(spark, tmp_path):
    """Running the incremental OPTIMIZE on a shallow clone rewrites
    the packed references into files UNDER the clone directory — an
    incremental re-materialization path that removes the clone's
    dependence on source bytes (after which even a source vacuum
    cannot break it)."""
    src = str(tmp_path / "src")
    delta_lite.write_delta(_df(spark, [(1, "a")]), src)
    delta_lite.write_delta(_df(spark, [(2, "b")]), src, mode="append")
    tgt = str(tmp_path / "tgt")
    delta_lite.clone_table(src, tgt)
    v = delta_lite.optimize_small_files(spark, tgt, target_bytes=1 << 30)
    assert v is not None
    live, _, _, _ = delta_lite._read_actions(tgt)
    # every live reference is now clone-local (relative path)
    assert all(not os.path.isabs(p) for p in live)
    # nuke the source entirely: the clone still reads
    import shutil

    shutil.rmtree(src)
    got = {(r.k, r.v) for r in delta_lite.read_delta(spark, tgt).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_check_constraints_gate_all_write_paths(spark, tmp_path):
    """Delta CHECK constraints: ADD CONSTRAINT validates the current
    snapshot, every subsequent write path (plain append and the keyed
    merge) refuses violating rows BEFORE committing, NULL passes (SQL
    CHECK semantics), DROP lifts the gate, and RESTORE to a
    pre-constraint version rolls the constraint back with the
    metaData."""
    t = str(tmp_path / "t")
    delta_lite.write_delta(
        _df(spark, [(1, 10), (2, 20)], "k long, v long"), t
    )
    # existing data violates -> ADD CONSTRAINT refuses, nothing committed
    with pytest.raises(ValueError, match="big_v"):
        delta_lite.set_check_constraint(spark, t, "big_v", "v >= 15")
    v = delta_lite.set_check_constraint(spark, t, "pos_v", "v > 0")
    assert v == delta_lite.current_version(t)
    # duplicate name refuses
    with pytest.raises(ValueError, match="already exists"):
        delta_lite.set_check_constraint(spark, t, "pos_v", "v > 1")
    # violating append refuses and commits nothing
    before = delta_lite.current_version(t)
    with pytest.raises(ValueError, match="pos_v"):
        delta_lite.write_delta(
            _df(spark, [(3, -5)], "k long, v long"), t, mode="append"
        )
    assert delta_lite.current_version(t) == before
    # violating keyed merge refuses too (the staged OUTPUT is gated)
    with pytest.raises(ValueError, match="pos_v"):
        delta_lite.upsert_delta(
            spark, t, _df(spark, [(1, -1)], "k long, v long"), ["k"]
        )
    assert delta_lite.current_version(t) == before
    # NULL passes (SQL CHECK: only FALSE violates)
    delta_lite.write_delta(
        _df(spark, [(4, None)], "k long, v long"), t, mode="append"
    )
    # clean merge passes
    delta_lite.upsert_delta(
        spark, t, _df(spark, [(1, 99)], "k long, v long"), ["k"]
    )
    got = {
        (r.k, r.v) for r in delta_lite.read_delta(spark, t).collect()
    }
    assert (1, 99) in got and (4, None) in got
    # restore to the pre-constraint version: the gate rolls back
    delta_lite.restore_table(t, version=0)
    delta_lite.write_delta(
        _df(spark, [(5, -7)], "k long, v long"), t, mode="append"
    )
    # re-add on the restored (clean) state, then drop lifts the gate
    delta_lite.restore_table(t, version=0)
    delta_lite.set_check_constraint(spark, t, "pos_v", "v > 0")
    delta_lite.drop_check_constraint(t, "pos_v")
    delta_lite.write_delta(
        _df(spark, [(6, -8)], "k long, v long"), t, mode="append"
    )
    assert (6, -8) in {
        (r.k, r.v) for r in delta_lite.read_delta(spark, t).collect()
    }


def test_restore_partitioned_table_and_change_feed_sees_rollback(
    spark, tmp_path
):
    """RESTORE works on partitioned tables (Hive-path files re-added,
    partition pruning still exact afterward), and the change feed
    across a restore commit reports exactly the rollback delta —
    downstream CDC consumers converge to the restored state instead of
    diverging."""
    t = str(tmp_path / "t")
    delta_lite.write_delta(
        _df(spark, [(1, "a"), (2, "b")], "k long, part string"),
        t,
        partition_by=["part"],
    )
    delta_lite.write_delta(
        _df(spark, [(9, "a")], "k long, part string"), t, mode="append"
    )
    v = delta_lite.restore_table(t, version=0)
    got = {(r.k, r.part) for r in delta_lite.read_delta(spark, t).collect()}
    assert got == {(1, "a"), (2, "b")}
    # partition pruning still exact after the restore
    pruned = delta_lite.read_delta(spark, t, predicate=("part", "b", "b"))
    assert {r.k for r in pruned.collect()} == {2}
    # the feed reports the rollback: the appended row deleted
    ch = delta_lite.read_changes(spark, t, 1, v)
    rows = {(r.k, r["_change_type"]) for r in ch.collect()}
    assert rows == {(9, "delete")}


def test_enforce_constraints_single_pass_all_constraints(spark, tmp_path):
    """VERDICT r9 'What's wrong #1': CHECK enforcement is ONE Spark job
    for ANY number of constraints (the old per-constraint loop paid one
    serial driver-blocking job each).  Three constraints on a clean
    batch must run exactly one job; a violating batch must name every
    constraint the sampled row fired."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    delta_lite.write_delta(df, t)
    for name, expr in [("pos_v", "v > 0"), ("pos_k", "k > 0"), ("v_cap", "v < 100")]:
        delta_lite.set_check_constraint(spark, t, name, expr)
    _, meta, _, _ = delta_lite._read_actions(t)

    # job count must NOT scale with the number of constraints (the
    # incremental-limit executor may run >1 job for one collect, so
    # compare 1-constraint vs 3-constraint enforcement directly)
    sc = spark.sparkContext

    def jobs_for(m) -> int:
        group = f"cc-{len(delta_lite._constraints_of(m))}"
        sc.setJobGroup(group, "constraint enforcement job count")
        try:
            delta_lite._enforce_constraints(df, m, t)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one = {"configuration": {"delta.constraints.pos_v": "v > 0"}}
    assert jobs_for(meta) == jobs_for(one)

    # a row violating TWO constraints reports both by name
    bad = spark.createDataFrame([(-1, -5)], "k long, v long")
    with pytest.raises(ValueError) as exc:
        delta_lite._enforce_constraints(bad, meta, t)
    assert "pos_v" in str(exc.value) and "pos_k" in str(exc.value)
    # NULL passes (SQL CHECK semantics preserved by the single pass)
    nulls = spark.createDataFrame([(None, None)], "k long, v long")
    delta_lite._enforce_constraints(nulls, meta, t)


def test_write_retry_reenforces_concurrent_constraint(spark, tmp_path):
    """ADVICE r9 medium: write_delta enforces constraints against the
    snapshot it reads BEFORE staging, but the commit retry loop rebases
    to later versions — a constraint added concurrently (validated
    against a snapshot that excludes this writer's rows) must be
    re-enforced on the rebased write, not silently skipped."""
    t = str(tmp_path / "t")
    delta_lite.write_delta(
        spark.createDataFrame([(1, 10)], "k long, v long"), t
    )
    batch = spark.createDataFrame([(2, -7)], "k long, v long")

    real_commit = delta_lite._commit
    state = {"intercepted": False}

    def racy_commit(table, version, actions):
        if not state["intercepted"] and any("add" in a for a in actions):
            state["intercepted"] = True
            # concurrent ADD CONSTRAINT wins the version race; it
            # validates only the existing snapshot (v>0 holds there)
            delta_lite._commit = real_commit
            try:
                delta_lite.set_check_constraint(spark, t, "pos_v", "v > 0")
            finally:
                delta_lite._commit = racy_commit
            return False  # this writer lost the race -> rebase
        return real_commit(table, version, actions)

    delta_lite._commit = racy_commit
    try:
        with pytest.raises(ValueError, match="pos_v"):
            delta_lite.write_delta(batch, t, mode="append")
    finally:
        delta_lite._commit = real_commit
    # nothing violating landed
    assert delta_lite.read_delta(spark, t).filter("v <= 0").count() == 0


def test_clone_rejects_vacuumed_snapshot(spark, tmp_path):
    """ADVICE r9 low: cloning a snapshot whose data files are already
    reclaimed must fail AT CLONE TIME, not at first read of the clone.
    The realistic path: a shallow clone references its source's files
    by absolute path; the SOURCE's vacuum does not know about clones,
    so after source log truncation + vacuum the clone's references
    dangle — re-cloning (or materializing) that clone must raise."""
    src = str(tmp_path / "src")
    c1 = str(tmp_path / "c1")
    mk = lambda v: spark.createDataFrame([(v, v)], "k long, v long")
    delta_lite.write_delta(mk(1), src)          # src v0
    delta_lite.clone_table(src, c1)             # c1 references src v0 files
    delta_lite.write_delta(mk(2), src)          # src v1 overwrites
    delta_lite.truncate_log(src, keep_from=1)   # v0 files unreferenced in src
    delta_lite.vacuum(src, retention_seconds=0)
    with pytest.raises(FileNotFoundError, match="no longer cloneable"):
        delta_lite.clone_table(c1, str(tmp_path / "c2"))


def test_restore_rejects_uncommitted_version(spark, tmp_path):
    """ADVICE r9 low: RESTORE to a version the log never committed (or
    one truncated away) must raise instead of committing a no-op whose
    commitInfo claims a restore that never happened."""
    t = str(tmp_path / "t")
    mk = lambda v: spark.createDataFrame([(v,)], "k long")
    delta_lite.write_delta(mk(1), t)            # v0
    delta_lite.write_delta(mk(2), t)            # v1
    hist_before = len(delta_lite.delta_history(t))
    with pytest.raises(ValueError, match="not a committed version"):
        delta_lite.restore_table(t, version=999)
    with pytest.raises(ValueError, match="not a committed version"):
        delta_lite.restore_table(t, version=-3)
    delta_lite.truncate_log(t, keep_from=1)
    with pytest.raises(ValueError, match="not a committed version"):
        delta_lite.restore_table(t, version=0)
    # no misleading history entries were committed
    assert len(delta_lite.delta_history(t)) <= hist_before


def test_optimize_family_is_invisible_to_change_feed(spark, tmp_path):
    """VERDICT r9 #2: compact, optimize_zorder, and the new
    optimize_cluster are LAYOUT-ONLY — their commits carry
    dataChange:false on every remove and add, so a delta_cdf stream
    across the full OPTIMIZE family emits ZERO rows, while a real
    append afterwards still flows.  (optimize_small_files already had
    this marking; this locks the whole family.)"""
    import json as _json

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        DeltaCdfDataSource,
    )

    t = str(tmp_path / "t")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g"), F.col("id").alias("v")
    )
    delta_lite.write_delta(df.repartition(6), t)             # v0, 6 files
    base = delta_lite.current_version(t)

    v1 = delta_lite.compact(spark, t, n_files=2)             # flat compact
    v2 = delta_lite.optimize_zorder(spark, t, "g", "v", n_files=4)
    v3 = delta_lite.optimize_cluster(spark, t, ["g"], n_files=4)
    assert [v1, v2, v3] == [base + 1, base + 2, base + 3]
    for v in (v1, v2, v3):
        with open(delta_lite._version_file(t, v)) as fh:
            acts = [_json.loads(ln) for ln in fh if ln.strip()]
        assert all(
            not a["add"]["dataChange"] for a in acts if "add" in a
        ), f"v{v} add marked dataChange"
        assert all(
            not a["remove"]["dataChange"] for a in acts if "remove" in a
        ), f"v{v} remove marked dataChange"
    # content identical through all three rewrites
    got = sorted(
        tuple(r) for r in delta_lite.read_delta(spark, t).collect()
    )
    assert got == sorted(tuple(r) for r in df.collect())

    # the change feed across the three OPTIMIZE commits emits nothing
    spark.dataSource.register(DeltaCdfDataSource)
    counts = []
    q = (
        spark.readStream.format("delta_cdf")
        .option("path", t)
        .option("startingVersion", base + 1)
        .load()
        .writeStream.foreachBatch(lambda df_, _b: counts.append(df_.count()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(counts) == 0
    # ...but a real append afterwards still flows
    delta_lite.write_delta(
        spark.createDataFrame([(999, 0, 999)], "k long, g long, v long"),
        t,
        mode="append",
    )
    q = (
        spark.readStream.format("delta_cdf")
        .option("path", t)
        .option("startingVersion", base + 1)
        .load()
        .writeStream.foreachBatch(lambda df_, _b: counts.append(df_.count()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(counts) == 1


def test_optimize_cluster_narrows_stats_and_prunes(spark, tmp_path):
    """optimize_cluster rewrites into range-sliced files whose log
    stats cover narrow, non-overlapping ranges of the cluster column,
    so a point predicate prunes to a small fraction of files (the
    gauge-recompute recipe, VERDICT r9 #3); rejected on bucketed
    tables and on partition columns."""
    t = str(tmp_path / "t")
    df = spark.range(0, 4000).select(
        (F.col("id") % 40).alias("grp"), F.col("id").alias("v")
    )
    # unclustered: every file spans nearly all groups
    delta_lite.write_delta(df.repartition(8), t)
    live, _, _, _ = delta_lite._read_actions(t)
    kept_before = {
        p: a
        for p, a in live.items()
        if not delta_lite._maybe_prunable(a, "grp", 7, 7)
    }
    assert len(kept_before) == len(live)  # nothing prunable
    delta_lite.optimize_cluster(spark, t, ["grp"], n_files=8)
    live2, _, _, _ = delta_lite._read_actions(t)
    kept_after = {
        p: a
        for p, a in live2.items()
        if not delta_lite._maybe_prunable(a, "grp", 7, 7)
    }
    assert 0 < len(kept_after) <= max(1, len(live2) // 4)
    # pruned read is still value-complete
    assert (
        delta_lite.read_delta(spark, t, predicate=("grp", 7, 7))
        .filter("grp = 7")
        .count()
        == 100
    )
    # guard rails
    with pytest.raises(ValueError, match="at least one column"):
        delta_lite.optimize_cluster(spark, t, [])
    b = str(tmp_path / "bucketed")
    delta_lite.upsert_delta(
        spark, b, spark.createDataFrame([(1, 1)], "k long, v long"), ["k"]
    )
    with pytest.raises(ValueError, match="merge-bucketed"):
        delta_lite.optimize_cluster(spark, b, ["v"])
    p = str(tmp_path / "part")
    delta_lite.write_delta(
        df.withColumn("pc", F.col("grp") % 2), p, partition_by=["pc"]
    )
    with pytest.raises(ValueError, match="partition columns"):
        delta_lite.optimize_cluster(spark, p, ["pc"])
    # partitioned table clusters WITHIN partitions, layout preserved
    delta_lite.optimize_cluster(spark, p, ["grp"], n_files=8)
    livep, metap, _, _ = delta_lite._read_actions(p)
    assert metap.get("partitionColumns") == ["pc"]
    assert all(
        set(a.get("partitionValues") or {}) == {"pc"} for a in livep.values()
    )
    assert delta_lite.read_delta(spark, p, predicate=("pc", 1, 1)).count() == 2000


def test_delete_where_rewrites_only_dirty_files(spark, tmp_path):
    """Predicate DELETE (new r10): on a lang-clustered table,
    DELETE WHERE lang='de' with the matching stats predicate rewrites
    only the files that actually contain 'de' rows; clean files keep
    their add actions untouched.  NULL-condition rows are KEPT (SQL
    DELETE), the commit is dataChange:true (a real content change must
    flow to the change feed), time travel serves pre-delete rows, and
    a no-match delete commits nothing."""
    t = str(tmp_path / "t")
    langs = ["en", "de", "fr", "es", None]
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.element_at(
            F.array(*[F.lit(x) for x in langs]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("lang"),
        F.col("id").alias("v"),
    )
    delta_lite.write_delta(df.repartition(8), t)
    delta_lite.optimize_cluster(spark, t, ["lang"], n_files=8)
    live, _, base, _ = delta_lite._read_actions(t)

    v = delta_lite.delete_where(
        spark, t, "lang = 'de'", predicate=("lang", "de", "de")
    )
    assert v == base + 1
    with open(delta_lite._version_file(t, v)) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    removes = [a for a in acts if "remove" in a]
    assert 0 < len(removes) < len(live)  # only dirty files rewritten
    assert all(a["remove"]["dataChange"] for a in removes)
    got = delta_lite.read_delta(spark, t)
    assert got.filter("lang = 'de'").count() == 0
    assert got.filter("lang IS NULL").count() == 200  # NULL kept
    assert got.count() == 800
    # time travel still serves the deleted rows
    assert (
        delta_lite.read_delta(spark, t, version=base)
        .filter("lang = 'de'")
        .count()
        == 200
    )
    # no-match: no commit at all
    assert (
        delta_lite.delete_where(
            spark, t, "lang = 'xx'", predicate=("lang", "xx", "xx")
        )
        == v
    )
    assert delta_lite.current_version(t) == v


def test_delete_where_partitioned_and_bucketed_layouts(spark, tmp_path):
    """delete_where preserves the table layout it rewrites: partition
    directories + partitionValues on partitioned tables (with the
    predicate partition-pruning the candidates), bucket tags on
    merge-bucketed tables (merges stay incremental afterwards)."""
    # partitioned
    p = str(tmp_path / "p")
    df = spark.range(0, 600).select(
        (F.col("id") % 3).cast("int").alias("y"),
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("v"),
    )
    delta_lite.write_delta(df, p, partition_by=["y"])
    live, _, _, _ = delta_lite._read_actions(p)
    v = delta_lite.delete_where(
        spark, p, "y = 1 AND v = 3", predicate=("y", 1, 1)
    )
    with open(delta_lite._version_file(p, v)) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    # only the y=1 partition's files were candidates
    assert all(
        "y=1/" in a["remove"]["path"] for a in acts if "remove" in a
    )
    new_adds = [a["add"] for a in acts if "add" in a]
    assert all(set(a["partitionValues"]) == {"y"} for a in new_adds)
    got = delta_lite.read_delta(spark, p)
    assert got.filter("y = 1 AND v = 3").count() == 0
    assert got.filter("y != 1 AND v = 3").count() == 40
    assert got.count() == 580

    # bucketed
    b = str(tmp_path / "b")
    delta_lite.upsert_delta(spark, b, df, ["k"], n_buckets=4)
    vb = delta_lite.delete_where(spark, b, "v = 7")
    liveb, _, _, _ = delta_lite._read_actions(b)
    assert all(
        delta_lite._file_bucket(a) is not None for a in liveb.values()
    )
    assert delta_lite.read_delta(spark, b).count() == 540
    # merge after the delete is still touched-file incremental
    v2 = delta_lite.upsert_delta(
        spark, b, spark.createDataFrame([(0, 999, 0)], "y int, k long, v long"), ["k"]
    )
    with open(delta_lite._version_file(b, v2)) as fh:
        acts2 = [json.loads(ln) for ln in fh if ln.strip()]
    assert 0 < len([a for a in acts2 if "remove" in a]) < len(liveb)


def test_inmemory_fence_log_store_contract(spark, tmp_path):
    """VERDICT r9 #7: a second LogStore implementation proves the
    pluggability contract beyond os.link.  (a) Standalone fence: eight
    writers racing the same path through an in-memory CAS get exactly
    ONE True and the file holds the winner's bytes.  (b) Integration:
    registered as the table's fence, two concurrent write_delta appends
    race a version — one rebases (re-validates) to the next version and
    BOTH commits survive.  (c) Scheme dispatch: a registered scheme
    resolves to the store; an unregistered one still raises."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    store = delta_lite.InMemoryFenceLogStore()
    path = str(tmp_path / "log" / "00000000000000000007.json")
    barrier = threading.Barrier(8)

    def racer(i: int) -> bool:
        barrier.wait()
        return store.put_if_absent(path, f"writer-{i}".encode())

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(racer, range(8)))
    assert sum(results) == 1
    winner = results.index(True)
    with open(path, "rb") as fh:
        assert fh.read() == f"writer-{winner}".encode()
    # the same path never admits a second writer, even after the fact
    assert store.put_if_absent(path, b"late") is False

    # (b) integration through write_delta's retry loop
    t = str(tmp_path / "t")
    delta_lite.write_delta(
        spark.createDataFrame([(0, 0)], "k long, v long"), t
    )
    saved = dict(delta_lite._LOG_STORES)
    delta_lite.register_log_store("", delta_lite.InMemoryFenceLogStore())
    try:
        b2 = threading.Barrier(2)
        errs = []

        def writer(i: int) -> None:
            b2.wait()
            try:
                delta_lite.write_delta(
                    spark.createDataFrame([(i, i)], "k long, v long"),
                    t,
                    mode="append",
                )
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append(e)

        th = [threading.Thread(target=writer, args=(i,)) for i in (1, 2)]
        [x.start() for x in th]
        [x.join() for x in th]
        assert not errs
        assert delta_lite.current_version(t) == 2  # both landed
        got = sorted(
            tuple(r) for r in delta_lite.read_delta(spark, t).collect()
        )
        assert got == [(0, 0), (1, 1), (2, 2)]
    finally:
        delta_lite._LOG_STORES.clear()
        delta_lite._LOG_STORES.update(saved)

    # (c) scheme dispatch
    mem = delta_lite.InMemoryFenceLogStore()
    delta_lite.register_log_store("memfence", mem)
    try:
        assert delta_lite._log_store_for("memfence://tbl") is mem
        with pytest.raises(NotImplementedError, match="LogStore"):
            delta_lite._log_store_for("s3fake://bucket/tbl")
    finally:
        delta_lite._LOG_STORES.pop("memfence", None)


def test_optimize_cluster_incremental_rides_fresh_files(spark, tmp_path):
    """Incremental clustering (LSM-level shape): after a full cluster,
    only UNTAGGED fresh appends rewrite — the clustered backbone's add
    actions survive byte-identical; each run commits layout-only
    (dataChange:false); point predicates read at most (level count)
    files; a run with nothing fresh returns None."""
    t = str(tmp_path / "t")
    df = spark.range(0, 4000).select(
        (F.col("id") % 40).alias("grp"), F.col("id").alias("v")
    )
    delta_lite.write_delta(df.repartition(6), t)
    delta_lite.optimize_cluster(spark, t, ["grp"], n_files=8)
    live_backbone, _, _, _ = delta_lite._read_actions(t)
    assert all(
        (a.get("tags") or {}).get("clustered") == '["grp"]'
        for a in live_backbone.values()
    )
    # three fresh unsorted appends (streaming-ingest shape)
    for i in range(3):
        delta_lite.write_delta(
            spark.range(4000 + i * 100, 4100 + i * 100).select(
                (F.col("id") % 40).alias("grp"), F.col("id").alias("v")
            ),
            t,
            mode="append",
        )
    v = delta_lite.optimize_cluster_incremental(
        spark, t, ["grp"], min_files=2, n_files=4
    )
    assert v is not None
    with open(delta_lite._version_file(t, v)) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    removed = {a["remove"]["path"] for a in acts if "remove" in a}
    # ONLY the fresh files rewrote; the backbone survived untouched
    assert removed.isdisjoint(live_backbone)
    assert all(not a["remove"]["dataChange"] for a in acts if "remove" in a)
    live2, _, _, _ = delta_lite._read_actions(t)
    assert set(live_backbone) < set(live2)
    assert all(
        (a.get("tags") or {}).get("clustered") == '["grp"]'
        for a in live2.values()
    )
    # two internally-disjoint levels: a point predicate reads at most
    # one file per level (backbone slice + one fresh-level slice)
    kept = {
        p: a
        for p, a in live2.items()
        if not delta_lite._maybe_prunable(a, "grp", 7, 7)
    }
    assert len(kept) <= 2, sorted(kept)
    assert (
        delta_lite.read_delta(spark, t, predicate=("grp", 7, 7))
        .filter("grp = 7")
        .count()
        == df.filter("grp = 7").count()
        + spark.range(4000, 4300).filter("id % 40 = 7").count()
    )
    # content intact end to end
    assert delta_lite.read_delta(spark, t).count() == 4300
    # nothing fresh left: no-op
    assert (
        delta_lite.optimize_cluster_incremental(spark, t, ["grp"]) is None
    )
    # different cluster cols -> everything is fresh again
    assert (
        delta_lite.optimize_cluster_incremental(spark, t, ["v"], n_files=4)
        is not None
    )


def test_deletion_vector_delete_without_rewrite(spark, tmp_path):
    """Deletion vectors (new r10): delete_where(use_dv=True) commits a
    (file, row-index) sidecar and re-adds the SAME data files — zero
    data-file rewrite, O(matched rows) write cost.  Layered deletes
    subsume prior vectors; every read path applies them (snapshot,
    time travel pre-delete still serves, merges cannot resurrect);
    rewriting maintenance purges them; vacuum keeps referenced
    sidecars."""
    t = str(tmp_path / "t")
    langs = ["en", "de", "fr", "es"]
    df = spark.range(0, 800).select(
        F.col("id").alias("k"),
        F.element_at(
            F.array(*[F.lit(x) for x in langs]),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("lang"),
        F.col("id").alias("v"),
    )
    delta_lite.write_delta(df.repartition(4), t)
    live0, _, base, _ = delta_lite._read_actions(t)

    v1 = delta_lite.delete_where(spark, t, "lang = 'de'", use_dv=True)
    with open(delta_lite._version_file(t, v1)) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    radds = {a["add"]["path"] for a in acts if "add" in a}
    rrems = {a["remove"]["path"] for a in acts if "remove" in a}
    assert radds == rrems and radds <= set(live0)  # same files re-added
    assert all(
        (a["add"].get("tags") or {}).get("dv") for a in acts if "add" in a
    )
    got = delta_lite.read_delta(spark, t)
    assert got.filter("lang = 'de'").count() == 0
    assert got.count() == 600
    # time travel ignores the vector (the old adds carry no dv tag)
    assert (
        delta_lite.read_delta(spark, t, version=base).count() == 800
    )
    # read_changes nets EXACTLY the deleted rows
    ch = delta_lite.read_changes(spark, t, base, v1)
    assert ch.filter("_change_type = 'delete'").count() == 200
    assert ch.filter("_change_type = 'insert'").count() == 0

    # layered second vector on (partly) the same files
    v2 = delta_lite.delete_where(spark, t, "lang = 'fr' AND v < 400", use_dv=True)
    got2 = delta_lite.read_delta(spark, t)
    assert got2.filter("lang = 'de'").count() == 0  # prior vector subsumed
    assert got2.filter("lang = 'fr'").count() == 100
    assert got2.count() == 500
    ch2 = delta_lite.read_changes(spark, t, v1, v2)
    assert ch2.filter("_change_type = 'delete'").count() == 100

    # vacuum keeps every referenced sidecar
    delta_lite.vacuum(t, retention_seconds=0)
    live, _, _, _ = delta_lite._read_actions(t)
    for a in live.values():
        dv = (a.get("tags") or {}).get("dv")
        if dv:
            assert os.path.isfile(os.path.join(t, dv))
    assert delta_lite.read_delta(spark, t).count() == 500

    # a keyed merge on the DV'd table cannot resurrect deleted rows
    delta_lite.upsert_delta(
        spark,
        t,
        spark.createDataFrame([(10_000, "en", -1)], "k long, lang string, v long"),
        ["k"],
        n_buckets=4,
    )
    got3 = delta_lite.read_delta(spark, t)
    assert got3.count() == 501 and got3.filter("lang = 'de'").count() == 0
    # the merge rewrite PURGED the vectors
    live3, _, _, _ = delta_lite._read_actions(t)
    assert all(not (a.get("tags") or {}).get("dv") for a in live3.values())


def test_deletion_vector_partitioned_and_pruning(spark, tmp_path):
    """DV deletes on a partitioned table: candidates partition-prune,
    the re-added files keep their partitionValues (spec invariant),
    and the snapshot read reconstitutes partition columns through the
    DV-applying reader."""
    t = str(tmp_path / "t")
    df = spark.range(0, 600).select(
        (F.col("id") % 3).cast("int").alias("y"),
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("v"),
    )
    delta_lite.write_delta(df, t, partition_by=["y"])
    v = delta_lite.delete_where(
        spark, t, "y = 1 AND v = 3", predicate=("y", 1, 1), use_dv=True
    )
    with open(delta_lite._version_file(t, v)) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    assert all("y=1/" in a["add"]["path"] for a in acts if "add" in a)
    assert all(
        a["add"]["partitionValues"] == {"y": "1"} for a in acts if "add" in a
    )
    got = delta_lite.read_delta(spark, t)
    assert got.filter("y = 1 AND v = 3").count() == 0
    assert got.filter("y != 1 AND v = 3").count() == 40
    assert got.count() == 580
    pruned = delta_lite.read_delta(spark, t, predicate=("y", 1, 1))
    assert pruned.count() == 180


def test_deletion_vector_cdf_emits_only_newly_deleted(spark, tmp_path):
    """The change feed across DV commits: a DV delete emits EXACTLY the
    newly deleted rows as deletes (never the file's survivors); a
    second layered vector emits only its own rows; a later rewriting
    remove of a DV'd file emits only the rows that were still live."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.delta_cdf_datasource import (
        DeltaCdfDataSource,
    )

    t = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    delta_lite.write_delta(df.repartition(2), t)  # v0
    v1 = delta_lite.delete_where(spark, t, "g = 1", use_dv=True)
    v2 = delta_lite.delete_where(spark, t, "g = 2 AND k < 150", use_dv=True)

    spark.dataSource.register(DeltaCdfDataSource)
    batches = []

    def run(start):
        got = []
        q = (
            spark.readStream.format("delta_cdf")
            .option("path", t)
            .option("startingVersion", start)
            .load()
            .writeStream.foreachBatch(
                lambda d, _b: got.extend(
                    (r.k, r.g, r._change_type, r._commit_version)
                    for r in d.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / f"cp{start}-{len(batches)}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        batches.append(got)
        return got

    rows = run(v1)  # v1 + v2
    d1 = [(k, g) for k, g, ct, cv in rows if cv == v1]
    d2 = [(k, g) for k, g, ct, cv in rows if cv == v2]
    assert all(ct == "delete" for _, _, ct, _ in rows)
    assert sorted(d1) == [(k, 1) for k in range(1, 300, 3)]
    assert sorted(d2) == [(k, 2) for k in range(2, 150, 3)]

    # rewriting delete of remaining g=2 rows: removes DV'd files and
    # re-adds survivors -> feed emits live-only deletes plus survivor
    # inserts; the net deleted set is exactly the g=2 tail
    v3 = delta_lite.delete_where(spark, t, "g = 2")
    rows3 = run(v3)
    dels = {(k, g) for k, g, ct, _ in rows3 if ct == "delete"}
    ins = {(k, g) for k, g, ct, _ in rows3 if ct == "insert"}
    assert dels - ins == {(k, 2) for k in range(152, 300, 3)}
    # no previously-DV-deleted row re-emitted on either side
    assert all(g != 1 for _, g in dels | ins)
    assert delta_lite.read_delta(spark, t).filter("g != 0").count() == 0


def test_update_where_rewrites_only_dirty_files(spark, tmp_path):
    """UPDATE ... SET ... WHERE (new r10): only files containing
    matching rows rewrite; non-matching and NULL-condition rows pass
    through unchanged; CHECK constraints gate the rewritten rows;
    updating a partition column MOVES rows to their new partition
    directories; a DV'd dirty file's vector applies and is purged."""
    t = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("g"),
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    delta_lite.write_delta(df.repartition(8), t)
    delta_lite.optimize_cluster(spark, t, ["g"], n_files=8)
    live, _, base, _ = delta_lite._read_actions(t)

    v = delta_lite.update_where(
        spark, t, {"v": "v * 100"}, "g = 3 AND v IS NOT NULL",
        predicate=("g", 3, 3),
    )
    assert v == base + 1
    with open(delta_lite._version_file(t, v)) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    assert 0 < len([a for a in acts if "remove" in a]) < len(live)
    got = delta_lite.read_delta(spark, t)
    # matched rows updated, NULL-condition rows (v IS NULL) untouched
    assert got.filter("g = 3 AND v IS NOT NULL AND v < 100").count() == 0
    assert got.filter("g = 3 AND v IS NULL").count() == 34  # ids =3 (mod 30)
    assert got.filter("g = 3").count() == 100
    assert got.filter("g != 3 AND v >= 100000").count() == 0
    assert got.count() == 1000
    # unknown SET column / empty SET refused
    with pytest.raises(ValueError, match="not in"):
        delta_lite.update_where(spark, t, {"nope": "1"}, "g = 0")
    with pytest.raises(ValueError, match="at least one"):
        delta_lite.update_where(spark, t, {}, "g = 0")
    # no-match: no commit
    assert delta_lite.update_where(spark, t, {"v": "0"}, "g = 99") == v

    # CHECK constraint gates the rewrite
    delta_lite.set_check_constraint(spark, t, "v_floor", "v IS NULL OR v >= 0")
    with pytest.raises(ValueError, match="v_floor"):
        delta_lite.update_where(spark, t, {"v": "-1"}, "g = 1")

    # DV'd dirty file: vector applies (deleted rows do not resurrect)
    # and the rewrite purges it
    t2 = str(tmp_path / "t2")
    delta_lite.write_delta(df.repartition(4), t2)
    delta_lite.delete_where(spark, t2, "g = 7", use_dv=True)
    delta_lite.update_where(spark, t2, {"v": "v + 1000000"}, "g = 8")
    got2 = delta_lite.read_delta(spark, t2)
    assert got2.filter("g = 7").count() == 0
    assert got2.filter("g = 8 AND v < 1000000 AND v IS NOT NULL").count() == 0
    assert got2.count() == 900
    live2, _, _, _ = delta_lite._read_actions(t2)
    assert all(not (a.get("tags") or {}).get("dv") for a in live2.values())


def test_update_where_moves_rows_across_partitions_and_buckets(spark, tmp_path):
    """Updating a partition column restages matched rows into their new
    Hive directories (partitionValues follow); updating a merge key
    re-buckets by the new hash and merges stay incremental."""
    p = str(tmp_path / "p")
    df = spark.range(0, 300).select(
        (F.col("id") % 3).cast("int").alias("y"),
        F.col("id").alias("k"),
        F.col("id").alias("v"),
    )
    delta_lite.write_delta(df, p, partition_by=["y"])
    delta_lite.update_where(
        spark, p, {"y": "9"}, "y = 1 AND v < 30", predicate=("y", 1, 1)
    )
    got = delta_lite.read_delta(spark, p)
    assert got.filter("y = 9").count() == 10
    assert got.filter("y = 1").count() == 90
    live, _, _, _ = delta_lite._read_actions(p)
    assert {"9"} <= {
        (a.get("partitionValues") or {}).get("y") for a in live.values()
    }
    assert delta_lite.read_delta(spark, p, predicate=("y", 9, 9)).count() == 10

    b = str(tmp_path / "b")
    delta_lite.upsert_delta(spark, b, df, ["k"], n_buckets=4)
    liveb0, _, _, _ = delta_lite._read_actions(b)
    delta_lite.update_where(spark, b, {"k": "k + 100000"}, "v < 10")
    gotb = delta_lite.read_delta(spark, b)
    assert gotb.filter("k >= 100000").count() == 10
    assert gotb.count() == 300
    liveb, _, _, _ = delta_lite._read_actions(b)
    assert all(delta_lite._file_bucket(a) is not None for a in liveb.values())
    # keyed reads after the key rewrite still resolve through buckets
    delta_lite.upsert_delta(
        spark, b,
        spark.createDataFrame([(0, 100005, -5)], "y int, k long, v long"),
        ["k"],
    )
    assert delta_lite.read_delta(spark, b).filter("k = 100005").first().v == -5


def test_bloom_index_point_lookup_skips_files(spark, tmp_path):
    """BLOOM FILTER INDEX: a uniformly-distributed high-cardinality
    string key spans ~the full domain in every file, so min/max stats
    prune NOTHING on a point lookup; the per-file bloom sidecar must
    (a) never prune a file that holds the key (zero false negatives —
    every probed key's rows come back), (b) prune most files on a
    present key and all-or-nearly-all on an absent key, (c) stay
    advisory-safe through a rewrite (compact drops the tags; reads
    still correct), and (d) vacuum keeps referenced sidecars."""
    t = str(tmp_path / "t")
    df = spark.range(0, 2000).select(
        F.md5(F.col("id").cast("string")).alias("key"),
        F.col("id").alias("v"),
    )
    delta_lite.write_delta(df.repartition(8), t)
    live0, _, _, _ = delta_lite._read_actions(t)
    assert len(live0) == 8
    v = delta_lite.add_bloom_index(spark, t, "key", fpp=0.01)
    assert v == 1
    live, _, _, _ = delta_lite._read_actions(t)
    assert all((a.get("tags") or {}).get("bloom_key") for a in live.values())
    # re-index is a no-op (everything tagged)
    assert delta_lite.add_bloom_index(spark, t, "key") is None

    import hashlib as _hl

    for probe_id in (0, 17, 1999):
        key = _hl.md5(str(probe_id).encode()).hexdigest()
        kept = {
            p: a
            for p, a in live.items()
            if not delta_lite._bloom_prunable(t, a, "key", key)
        }
        # (a) zero false negatives: the read returns the row
        got = delta_lite.read_delta(
            spark, t, predicate=("key", key, key)
        ).filter(F.col("key") == key)
        assert [r["v"] for r in got.collect()] == [probe_id]
        # (b) the index actually skips: >= half the files pruned
        assert len(kept) <= 4, f"bloom pruned only to {len(kept)}/8"
    absent = _hl.md5(b"not-a-key").hexdigest()
    kept_absent = {
        p
        for p, a in live.items()
        if not delta_lite._bloom_prunable(t, a, "key", absent)
    }
    assert len(kept_absent) <= 1  # fpp 1% over 8 files
    assert (
        delta_lite.read_delta(spark, t, predicate=("key", absent, absent))
        .filter(F.col("key") == absent)
        .count()
        == 0
    )
    # partition columns are refused
    t2 = str(tmp_path / "t2")
    delta_lite.write_delta(
        df.withColumn("g", (F.col("v") % 3).cast("string")), t2,
        partition_by=["g"],
    )
    with pytest.raises(ValueError):
        delta_lite.add_bloom_index(spark, t2, "g")
    # (c) OPTIMIZE auto-rebuilds the index for the rewritten files
    # (VERDICT r11 #3): tags present, point probes still PRUNE without
    # a manual re-run, reads stay exact
    delta_lite.compact(spark, t, n_files=2)
    live2, _, _, _ = delta_lite._read_actions(t)
    assert all((a.get("tags") or {}).get("bloom_key") for a in live2.values())
    key0 = _hl.md5(b"0").hexdigest()
    assert (
        delta_lite.read_delta(spark, t, predicate=("key", key0, key0))
        .filter(F.col("key") == key0)
        .count()
        == 1
    )
    absent2 = _hl.md5(b"still-not-a-key").hexdigest()
    kept2 = {
        p
        for p, a in live2.items()
        if not delta_lite._bloom_prunable(t, a, "key", absent2)
    }
    assert len(kept2) <= 1  # the rebuilt index prunes on absent keys
    # the rebuild preserved the original fpp in the fresh sidecars
    side2 = next(iter(live2.values()))["tags"]["bloom_key"]
    with open(os.path.join(t, side2)) as fh:
        assert json.load(fh)["fpp"] == 0.01
    # (d) vacuum with full history keeps every referenced sidecar;
    # truncating below the index commit reclaims the orphaned ones
    assert delta_lite.vacuum(t, retention_seconds=0.0) == []
    delta_lite.truncate_log(t, keep_from=delta_lite.current_version(t))
    removed = delta_lite.vacuum(t, retention_seconds=0.0)
    assert any(r.startswith(delta_lite._BLOOM_DIR) for r in removed)


def test_upsert_evolve_merges_schema_both_ways(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION: batch-only columns append to the
    schema (old rows read NULL, untouched buckets never rewrite),
    table-only columns are KEPT — matched keys retain their current
    value, inserted keys get NULL — and a same-name type conflict
    refuses loudly.  Contrast: plain upsert_delta DROPS table-only
    columns (batch-replaces-schema contract)."""
    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, name string, score long",
    )
    delta_lite.upsert_delta(spark, t, base, ["k"], n_buckets=4)
    live0, _, _, _ = delta_lite._read_actions(t)
    # evolve: update k=2 (new column flag, NO score column), insert k=9
    batch = spark.createDataFrame(
        [(2, "B", True), (9, "z", False)], "k long, name string, flag boolean"
    )
    delta_lite.upsert_delta_evolve(spark, t, batch, ["k"], n_buckets=4)
    got = {r["k"]: (r["name"], r["score"], r["flag"])
           for r in delta_lite.read_delta(spark, t).collect()}
    assert got == {
        1: ("a", 10, None),       # untouched: old values, NULL new col
        2: ("B", 20, True),       # matched: score KEPT, name updated
        3: ("c", 30, None),
        9: ("z", None, False),    # inserted: NULL table-only col
    }
    # evolved schema ordering: table columns first, then new ones
    assert delta_lite.read_delta(spark, t).columns == [
        "k", "name", "score", "flag"
    ]
    # only touched buckets rewrote
    live1, _, _, _ = delta_lite._read_actions(t)
    assert set(live0) & set(live1), "every file rewrote — not touched-file"
    # type conflict refuses
    bad = spark.createDataFrame([(1, 1.5)], "k long, score double")
    with pytest.raises(ValueError, match="type conflict"):
        delta_lite.upsert_delta_evolve(spark, t, bad, ["k"])
    # missing key column refuses
    nokey = spark.createDataFrame([("x",)], "name string")
    with pytest.raises(ValueError, match="key column"):
        delta_lite.upsert_delta_evolve(spark, t, nokey, ["k"])
    # second evolve composes on the already-evolved schema
    b2 = spark.createDataFrame([(1, 99)], "k long, extra long")
    delta_lite.upsert_delta_evolve(spark, t, b2, ["k"], n_buckets=4)
    r1 = {r["k"]: (r["name"], r["score"], r["flag"], r["extra"])
          for r in delta_lite.read_delta(spark, t).collect()}
    assert r1[1] == ("a", 10, None, 99)   # everything kept, extra added
    assert r1[2] == ("B", 20, True, None)


def test_bloom_index_high_k_space_path_and_type_guard(spark, tmp_path):
    """ADVICE r11 hardening triple: (a) a small-fpp build (k >= 9,
    where the unreduced hash sum would overflow a signed bigint in the
    JVM) stays bit-consistent between build and probe — zero false
    negatives; (b) a table path containing a SPACE round-trips through
    input_file_name()'s percent-encoded URI — no all-zero sidecars,
    no false pruning; (c) non string/integral columns (and unknown
    columns) are refused at build time, because their Spark-cast
    rendering differs from the probe's str(value)."""
    import hashlib as _hl

    t = str(tmp_path / "with space" / "t")
    df = spark.range(0, 400).select(
        F.md5(F.col("id").cast("string")).alias("key"),
        F.col("id").alias("v"),
        (F.col("id") % 2 == 0).alias("flag"),
        (F.col("id") / 7.0).alias("score"),
    )
    delta_lite.write_delta(df.repartition(4), t)
    assert delta_lite.add_bloom_index(spark, t, "key", fpp=0.0005) == 1
    live, _, _, _ = delta_lite._read_actions(t)
    side = next(iter(live.values()))["tags"]["bloom_key"]
    with open(os.path.join(t, side)) as fh:
        assert json.load(fh)["k"] >= 9
    for probe_id in (0, 123, 399):
        key = _hl.md5(str(probe_id).encode()).hexdigest()
        got = delta_lite.read_delta(
            spark, t, predicate=("key", key, key)
        ).filter(F.col("key") == key)
        assert [r["v"] for r in got.collect()] == [probe_id]
        kept = {
            p
            for p, a in live.items()
            if not delta_lite._bloom_prunable(t, a, "key", key)
        }
        # present keys prune to (almost always exactly) the holder file
        assert len(kept) <= 2
    absent = _hl.md5(b"absent").hexdigest()
    assert (
        delta_lite.read_delta(spark, t, predicate=("key", absent, absent))
        .filter(F.col("key") == absent)
        .count()
        == 0
    )
    for bad in ("flag", "score"):
        with pytest.raises(ValueError, match="refused"):
            delta_lite.add_bloom_index(spark, t, bad)
    with pytest.raises(ValueError, match="not a column"):
        delta_lite.add_bloom_index(spark, t, "nope")


def test_column_mapping_rename_drop_readd_without_rewrite(spark, tmp_path):
    """COLUMN MAPPING (real Delta: delta.columnMapping.mode='name'):
    RENAME and DROP COLUMN are metadata-only commits — zero data files
    touched — because files store stable PHYSICAL names and the
    committed schema maps logical names onto them.  Re-adding a
    dropped logical name mints a FRESH physical name, so the dropped
    data never resurfaces (the re-added column starts NULL); time
    travel to pre-rename versions serves the old names."""
    t = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("price"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("comment"),
    )
    delta_lite.write_delta(df, t)
    v1 = delta_lite.enable_column_mapping(t)
    assert v1 == 1
    assert delta_lite.enable_column_mapping(t) == v1  # idempotent

    def data_files():
        live, _, _, _ = delta_lite._read_actions(t)
        return {(p, a.get("modificationTime")) for p, a in live.items()}

    before = data_files()
    delta_lite.rename_column(t, "price", "total_usd")
    assert data_files() == before  # metadata-only: same files, untouched
    out = delta_lite.read_delta(spark, t)
    assert out.columns == ["k", "total_usd", "comment"]
    assert out.agg(F.sum("total_usd")).first()[0] == sum(2 * i for i in range(100))

    delta_lite.drop_column(t, "comment")
    assert data_files() == before
    assert delta_lite.read_delta(spark, t).columns == ["k", "total_usd"]

    # re-add 'comment' via evolving append: fresh physical name, old
    # rows NULL — the dropped values can never resurface
    add = spark.createDataFrame(
        [(1000, 7, "fresh")], "k long, total_usd long, comment string"
    )
    delta_lite.write_delta(add, t, mode="append")
    out = delta_lite.read_delta(spark, t)
    nn = out.filter(F.col("comment").isNotNull()).collect()
    assert [(r["k"], r["comment"]) for r in nn] == [(1000, "fresh")]

    # physical names on disk: the renamed column still stores 'price'
    # (upgrade pins physical == pre-upgrade name); the re-added column
    # stores a minted col-<uuid> name
    import pyarrow.parquet as pq

    live, meta, _, _ = delta_lite._read_actions(t)
    newest = max(live, key=lambda p: live[p].get("modificationTime", 0))
    names = pq.ParquetFile(os.path.join(t, newest)).schema_arrow.names
    assert "price" in names
    assert any(n.startswith("col-") for n in names)
    assert "comment" not in names and "total_usd" not in names

    # time travel: pre-rename snapshots keep their committed names
    assert delta_lite.read_delta(spark, t, version=0).columns == [
        "k", "price", "comment",
    ]
    # upsert through the merge path keeps working on the mapped table
    delta_lite.upsert_delta(
        spark,
        t,
        spark.createDataFrame([(5, 555, "u5")], "k long, total_usd long, comment string"),
        ["k"],
    )
    r5 = delta_lite.read_delta(spark, t).filter(F.col("k") == 5).first()
    assert (r5["total_usd"], r5["comment"]) == (555, "u5")


def test_column_mapping_guards(spark, tmp_path):
    """RENAME/DROP guardrails: both require mapping mode; partition
    columns are pinned (their name is baked into Hive paths); merge
    bucket keys cannot be dropped; CHECK-constraint references block;
    name collisions and unknown columns refuse."""
    t = str(tmp_path / "t")
    delta_lite.write_delta(
        spark.createDataFrame([("a", 1, "x")], "g string, v long, w string"),
        t,
        partition_by=["g"],
    )
    with pytest.raises(ValueError, match="requires column mapping"):
        delta_lite.rename_column(t, "v", "v2")
    with pytest.raises(ValueError, match="requires column mapping"):
        delta_lite.drop_column(t, "v")
    delta_lite.enable_column_mapping(t)
    with pytest.raises(ValueError, match="partition column"):
        delta_lite.rename_column(t, "g", "grp")
    with pytest.raises(ValueError, match="partition column"):
        delta_lite.drop_column(t, "g")
    with pytest.raises(ValueError, match="already exists"):
        delta_lite.rename_column(t, "v", "w")
    with pytest.raises(ValueError, match="not a column"):
        delta_lite.rename_column(t, "nope", "x2")
    with pytest.raises(ValueError, match="not a column"):
        delta_lite.drop_column(t, "nope")
    delta_lite.set_check_constraint(spark, t, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        delta_lite.rename_column(t, "v", "v2")
    with pytest.raises(ValueError, match="CHECK constraint"):
        delta_lite.drop_column(t, "v")
    delta_lite.drop_check_constraint(t, "v_pos")
    delta_lite.rename_column(t, "v", "v2")  # unblocked now
    # bucket keys: drop refused, rename updates bucketKeys and the
    # NEXT merge stays incremental under the new name
    t2 = str(tmp_path / "t2")
    delta_lite.upsert_delta(
        spark,
        t2,
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(40)], "k long, v string"
        ),
        ["k"],
        n_buckets=8,
    )
    delta_lite.enable_column_mapping(t2)
    with pytest.raises(ValueError, match="bucket key"):
        delta_lite.drop_column(t2, "k")
    delta_lite.rename_column(t2, "k", "key_id")
    _, meta2, _, _ = delta_lite._read_actions(t2)
    assert json.loads(meta2["configuration"]["bucketKeys"]) == ["key_id"]
    live_before, _, _, _ = delta_lite._read_actions(t2)
    delta_lite.upsert_delta(
        spark,
        t2,
        spark.createDataFrame([(3, "UP")], "key_id long, v string"),
        ["key_id"],
    )
    live_after, _, _, _ = delta_lite._read_actions(t2)
    untouched = set(live_before) & set(live_after)
    # incremental: most buckets' files survive the one-key merge
    assert len(untouched) >= len(live_before) - 2
    got = delta_lite.read_delta(spark, t2).filter(F.col("key_id") == 3).first()
    assert got["v"] == "UP"


def test_column_mapping_pruning_bloom_and_cdf_across_rename(spark, tmp_path):
    """The skip layers survive a rename because stats and bloom tags
    key on PHYSICAL names: a predicate on the NEW logical name still
    file-prunes (stats) and point-prunes (bloom) without re-indexing,
    and read_changes classifies updates across a rename."""
    t = str(tmp_path / "t")
    df = spark.range(0, 800).select(
        F.col("id").alias("seq"),
        F.md5(F.col("id").cast("string")).alias("key"),
    )
    # range-partition so seq min/max are disjoint per file (stats skip)
    delta_lite.write_delta(df.repartitionByRange(8, "seq"), t)
    delta_lite.enable_column_mapping(t)
    delta_lite.add_bloom_index(spark, t, "key")
    delta_lite.rename_column(t, "seq", "row_seq")
    delta_lite.rename_column(t, "key", "content_hash")
    live, meta, _, _ = delta_lite._read_actions(t)
    l2p = delta_lite._l2p_of(meta)
    assert l2p == {"row_seq": "seq", "content_hash": "key"}
    # stats skipping on the new logical name: most files pruned
    kept_stats = {
        p
        for p, a in live.items()
        if not delta_lite._maybe_prunable(a, l2p["row_seq"], 0, 50)
    }
    assert len(kept_stats) <= 2
    got = delta_lite.read_delta(spark, t, predicate=("row_seq", 0, 50))
    assert got.filter(F.col("row_seq") <= 50).count() == 51
    # bloom probe on the new logical name, via read_delta translation
    import hashlib as _hl

    k7 = _hl.md5(b"7").hexdigest()
    hit = delta_lite.read_delta(
        spark, t, predicate=("content_hash", k7, k7)
    ).filter(F.col("content_hash") == k7)
    assert [r["row_seq"] for r in hit.collect()] == [7]
    kept_bloom = {
        p
        for p, a in live.items()
        if not delta_lite._bloom_prunable(t, a, l2p["content_hash"], k7)
    }
    assert len(kept_bloom) <= 2
    # re-index after the rename is a no-op: tags key on physical names
    assert delta_lite.add_bloom_index(spark, t, "content_hash") is None
    # CDF across the rename: update pre/post classify under new names
    v0 = delta_lite.current_version(t)
    delta_lite.update_where(spark, t, {"content_hash": "'UPDATED'"}, "row_seq = 7")
    ch = delta_lite.read_changes(spark, t, from_version=v0, key_cols=["row_seq"])
    changes = {
        r["_change_type"]: r["content_hash"]
        for r in ch.filter(F.col("row_seq") == 7).collect()
    }
    assert changes == {"update_preimage": k7, "update_postimage": "UPDATED"}


def test_bloom_rebuild_after_optimize_respects_rename_and_drop(spark, tmp_path):
    """The OPTIMIZE-chained bloom rebuild keys on PHYSICAL tag names:
    a RENAMED indexed column re-indexes under its new logical name
    (same physical tag), while an index whose column was DROPPED is
    skipped instead of crashing — and the rebuilt index still prunes."""
    import hashlib as _hl

    t = str(tmp_path / "t")
    df = spark.range(0, 600).select(
        F.md5(F.col("id").cast("string")).alias("key"),
        F.md5(F.concat(F.lit("x"), F.col("id").cast("string"))).alias("aux"),
        F.col("id").alias("v"),
    )
    delta_lite.write_delta(df.repartition(6), t)
    delta_lite.enable_column_mapping(t)
    delta_lite.add_bloom_index(spark, t, "key")
    delta_lite.add_bloom_index(spark, t, "aux")
    delta_lite.rename_column(t, "key", "content_hash")
    delta_lite.drop_column(t, "aux")
    delta_lite.compact(spark, t, n_files=3)
    live, _, _, _ = delta_lite._read_actions(t)
    # renamed column: rebuilt under its stable physical tag
    assert all((a.get("tags") or {}).get("bloom_key") for a in live.values())
    # dropped column: no tag resurrected
    assert all("bloom_aux" not in (a.get("tags") or {}) for a in live.values())
    k9 = _hl.md5(b"9").hexdigest()
    kept = {
        p
        for p, a in live.items()
        if not delta_lite._bloom_prunable(t, a, "key", k9)
    }
    assert len(kept) <= 1
    got = delta_lite.read_delta(
        spark, t, predicate=("content_hash", k9, k9)
    ).filter(F.col("content_hash") == k9)
    assert [r["v"] for r in got.collect()] == [9]


def test_add_column_and_restore_across_mapping(spark, tmp_path):
    """ALTER TABLE ADD COLUMN is metadata-only on mapped AND unmapped
    tables (existing files read the new column as NULL); a re-added
    previously-dropped name mints a fresh physical name so the old
    data never resurfaces; and RESTORE rolls schema + mapping back
    WITH the data — restoring to a pre-rename version serves the old
    names, restoring forward serves the new ones."""
    # unmapped table: plain metadata-only ADD
    t0 = str(tmp_path / "plain")
    delta_lite.write_delta(
        spark.createDataFrame([(1, "a")], "k long, v string"), t0
    )
    files0 = sorted(delta_lite._read_actions(t0)[0])
    delta_lite.add_column(t0, "score", "double")
    assert sorted(delta_lite._read_actions(t0)[0]) == files0
    row = delta_lite.read_delta(spark, t0).first()
    assert row["score"] is None
    with pytest.raises(ValueError, match="already exists"):
        delta_lite.add_column(t0, "v", "string")

    # mapped table: drop then ADD the same name -> NULL (fresh physical)
    t = str(tmp_path / "mapped")
    delta_lite.write_delta(
        spark.createDataFrame([(1, "x", 9)], "k long, w string, old long"), t
    )
    delta_lite.enable_column_mapping(t)
    delta_lite.drop_column(t, "old")
    v_dropped = delta_lite.add_column(t, "old", "long")
    got = delta_lite.read_delta(spark, t).first()
    assert got["old"] is None  # the dropped 9 never resurfaces
    _, meta, _, _ = delta_lite._read_actions(t)
    l2p = delta_lite._l2p_of(meta)
    assert l2p["old"].startswith("col-")

    # restore across a rename: pre-rename schema comes back whole
    delta_lite.rename_column(t, "w", "w2")
    assert delta_lite.read_delta(spark, t).columns == ["k", "w2", "old"]
    delta_lite.restore_table(t, version=v_dropped)
    restored = delta_lite.read_delta(spark, t)
    assert restored.columns == ["k", "w", "old"]
    assert restored.first()["w"] == "x"
    # and forward again to the renamed state
    delta_lite.restore_table(t, version=v_dropped + 1)
    assert delta_lite.read_delta(spark, t).columns == ["k", "w2", "old"]


def test_column_mapping_survives_clone_and_checkpoint_truncate(spark, tmp_path):
    """Mapping rides metaData everywhere metaData goes: a SHALLOW
    CLONE of a mapped table serves the logical names (and renames on
    the clone never touch the source); a checkpointed + log-truncated
    table still reads through the mapping (the checkpoint carries the
    metaData action)."""
    src_t = str(tmp_path / "src")
    delta_lite.write_delta(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)],
                              "k long, name string, qty long"),
        src_t,
    )
    delta_lite.enable_column_mapping(src_t)
    delta_lite.rename_column(src_t, "name", "label")
    # clone: mapping comes along; diverges independently
    cl = str(tmp_path / "clone")
    delta_lite.clone_table(src_t, cl)
    got = delta_lite.read_delta(spark, cl)
    assert got.columns == ["k", "label", "qty"]
    assert {r["label"] for r in got.collect()} == {"a", "b"}
    delta_lite.rename_column(cl, "qty", "amount")
    assert delta_lite.read_delta(spark, cl).columns == ["k", "label", "amount"]
    assert delta_lite.read_delta(spark, src_t).columns == ["k", "label", "qty"]
    # checkpoint + truncate: the mapping survives log truncation
    delta_lite.rename_column(src_t, "qty", "quantity")
    keep = delta_lite.current_version(src_t)
    delta_lite.truncate_log(src_t, keep_from=keep)
    got2 = delta_lite.read_delta(spark, src_t)
    assert got2.columns == ["k", "label", "quantity"]
    assert {(r["k"], r["label"], r["quantity"]) for r in got2.collect()} == {
        (1, "a", 10), (2, "b", 20),
    }
    # and writes after truncation keep staging physical names
    delta_lite.write_delta(
        spark.createDataFrame([(3, "c", 30)], "k long, label string, quantity long"),
        src_t, mode="append",
    )
    import pyarrow.parquet as pq
    live, _, _, _ = delta_lite._read_actions(src_t)
    newest = max(live, key=lambda p: live[p].get("modificationTime", 0))
    names = pq.ParquetFile(os.path.join(src_t, newest)).schema_arrow.names
    assert names == ["k", "name", "qty"]  # stable physical names


def test_reorg_purge_dv_rewrites_only_taxed_files(spark, tmp_path):
    """REORG APPLY (PURGE): only DV-tagged files rewrite (threshold
    filters lightly-taxed ones), reads are identical before/after, the
    change feed sees NOTHING (layout-only commit), old sidecars age
    out, and a bloom index on the purged files rebuilds."""
    t = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("g"),
        F.md5(F.col("id").cast("string")).alias("key"),
    )
    delta_lite.write_delta(df.repartitionByRange(4, "k"), t)
    delta_lite.add_bloom_index(spark, t, "key")
    # heavy delete in the low-k range (first file), light in the rest
    delta_lite.delete_where(spark, t, "k < 200 AND k % 2 = 0", use_dv=True)
    delta_lite.delete_where(spark, t, "k >= 800 AND k % 100 = 7", use_dv=True)
    live0, _, _, _ = delta_lite._read_actions(t)
    dvd0 = {p for p, a in live0.items() if delta_lite._dv_of(a)}
    assert len(dvd0) >= 2
    before = sorted(r["k"] for r in delta_lite.read_delta(spark, t).collect())
    v_pre = delta_lite.current_version(t)
    # thresholded purge: only the heavily-taxed file(s) rewrite
    v = delta_lite.reorg_purge_dv(spark, t, min_dv_fraction=0.2)
    assert v is not None
    live1, _, _, _ = delta_lite._read_actions(t)
    still_dvd = {p for p, a in live1.items() if delta_lite._dv_of(a)}
    assert still_dvd and still_dvd < dvd0  # light file kept its DV
    assert sorted(
        r["k"] for r in delta_lite.read_delta(spark, t).collect()
    ) == before
    # full purge: no DV tags remain; reads unchanged; CDF silent
    v2 = delta_lite.reorg_purge_dv(spark, t)
    assert v2 is not None
    live2, _, _, _ = delta_lite._read_actions(t)
    assert all(not delta_lite._dv_of(a) for a in live2.values())
    assert sorted(
        r["k"] for r in delta_lite.read_delta(spark, t).collect()
    ) == before
    assert delta_lite.read_changes(spark, t, from_version=v_pre).count() == 0
    # idempotent: nothing left to purge
    assert delta_lite.reorg_purge_dv(spark, t) is None
    # bloom rebuilt on the rewritten files (auto-chained)
    assert all(
        (a.get("tags") or {}).get("bloom_key") for a in live2.values()
    )
    import hashlib as _hl
    k3 = _hl.md5(b"3").hexdigest()
    got = delta_lite.read_delta(spark, t, predicate=("key", k3, k3)).filter(
        F.col("key") == k3
    )
    assert [r["k"] for r in got.collect()] == [3]


def test_reorg_purge_dv_partitioned_preserves_layout(spark, tmp_path):
    """Partitioned purge: DV'd files rewrite within their Hive
    partitions (partitionValues intact, pruning still works), reads
    unchanged."""
    t = str(tmp_path / "t")
    df = spark.range(0, 600).select(
        (F.col("id") % 3).cast("string").alias("g"), F.col("id").alias("v")
    )
    delta_lite.write_delta(df, t, partition_by=["g"])
    delta_lite.delete_where(spark, t, "v % 4 = 1", use_dv=True)
    before = sorted(r["v"] for r in delta_lite.read_delta(spark, t).collect())
    assert delta_lite.reorg_purge_dv(spark, t) is not None
    live, _, _, _ = delta_lite._read_actions(t)
    assert all(not delta_lite._dv_of(a) for a in live.values())
    assert all((a.get("partitionValues") or {}).get("g") in {"0", "1", "2"}
               for a in live.values())
    assert sorted(
        r["v"] for r in delta_lite.read_delta(spark, t).collect()
    ) == before
    pruned = delta_lite.read_delta(spark, t, predicate=("g", "1", "1"))
    assert pruned.filter(F.col("g") == "1").count() == len(
        [v for v in range(600) if v % 3 == 1 and v % 4 != 1]
    )


def test_column_mapping_upgrade_commits_protocol(spark, tmp_path):
    """Enabling column mapping must ship the spec's protocol upgrade
    (2, 5) in the SAME atomic commit as the mapped schema, and every
    later checkpoint must re-emit the REPLAYED protocol — a checkpoint
    regressed to the default (1, 2) would let a pre-mapping reader
    replay from it without tripping the feature gate."""
    t = str(tmp_path / "t")
    delta_lite.write_delta(_df(spark, [(1, "a"), (2, "b")]), t)
    v = delta_lite.enable_column_mapping(t)
    log = os.path.join(t, "_delta_log", f"{v:020d}.json")
    actions = [json.loads(ln) for ln in open(log) if ln.strip()]
    protos = [a["protocol"] for a in actions if "protocol" in a]
    assert protos == [{"minReaderVersion": 2, "minWriterVersion": 5}]
    # replay surfaces the upgraded protocol
    proto = {}
    delta_lite._read_actions(t, proto_out=proto)
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    # ... and the checkpoint written AFTER the upgrade preserves it
    delta_lite.rename_column(t, "v", "label")
    cpv = delta_lite.write_checkpoint(t)
    cp = os.path.join(t, "_delta_log", f"{cpv:020d}.checkpoint.json")
    first = json.loads(open(cp).readline())
    assert first["protocol"] == {"minReaderVersion": 2, "minWriterVersion": 5}
    # replay-from-checkpoint (no tail commits re-stating it) keeps it
    proto2 = {}
    delta_lite._read_actions(t, proto_out=proto2)
    assert proto2 == {"minReaderVersion": 2, "minWriterVersion": 5}
    assert delta_lite.read_delta(spark, t).columns == ["k", "label"]


def test_reader_gate_refuses_future_minreader(spark, tmp_path):
    """A protocol action demanding a minReaderVersion past this
    engine's ceiling must abort the read LOUDLY — silently ignoring an
    unknown reader feature (a future mapping mode, row tracking) would
    return wrong data, not an error.  Time travel BELOW the upgrade
    commit still reads: the gate rides replay, so a pre-upgrade
    snapshot never sees the action."""
    t = str(tmp_path / "t")
    v0 = delta_lite.write_delta(_df(spark, [(1, "a")]), t)
    v1 = delta_lite.write_delta(_df(spark, [(2, "b")]), t, mode="append")
    nxt = os.path.join(t, "_delta_log", f"{v1 + 1:020d}.json")
    with open(nxt, "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 3,
                                          "minWriterVersion": 7}}) + "\n")
    with pytest.raises(ValueError, match="minReaderVersion=3"):
        delta_lite.read_delta(spark, t)
    with pytest.raises(ValueError, match="minReaderVersion=3"):
        delta_lite.read_changes(spark, t, from_version=v0)
    got = delta_lite.read_delta(spark, t, version=v1)  # pre-upgrade snapshot
    assert {r["k"] for r in got.collect()} == {1, 2}
    # vacuum decides which files are live, so it is gated too: it
    # refuses before deleting an old unreferenced file
    orphan = os.path.join(t, "part-orphan.snappy.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"orphan")
    os.utime(orphan, (0, 0))
    with pytest.raises(ValueError, match="minReaderVersion=3"):
        delta_lite.vacuum(t, retention_seconds=0)
    assert os.path.exists(orphan)
    # commitInfo is commit metadata, read ungated: history and TIMESTAMP
    # AS OF below the upgrade resolve like version time travel does
    assert [h["version"] for h in delta_lite.delta_history(t)] == [v0, v1]
    with open(os.path.join(t, "_delta_log", f"{v1:020d}.json")) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    v1_ts = next(a["commitInfo"]["timestamp"] for a in acts if "commitInfo" in a)
    got = delta_lite.read_delta(spark, t, timestamp_ms=v1_ts)
    assert {r["k"] for r in got.collect()} == {1, 2}


def test_writer_gate_refuses_future_minwriter_but_still_reads(spark, tmp_path):
    """minWriterVersion past the ceiling refuses WRITES before staging
    anything (committing could corrupt invariants a newer writer
    maintains) while reads keep working — the spec's asymmetric
    contract."""
    t = str(tmp_path / "t")
    v0 = delta_lite.write_delta(_df(spark, [(1, "a"), (2, "b")]), t)
    nxt = os.path.join(t, "_delta_log", f"{v0 + 1:020d}.json")
    with open(nxt, "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                          "minWriterVersion": 9}}) + "\n")
    assert {r["k"] for r in delta_lite.read_delta(spark, t).collect()} == {1, 2}
    with pytest.raises(ValueError, match="minWriterVersion=9"):
        delta_lite.write_delta(_df(spark, [(3, "c")]), t, mode="append")
    with pytest.raises(ValueError, match="minWriterVersion=9"):
        delta_lite.delete_where(spark, t, "k = 1")
    with pytest.raises(ValueError, match="minWriterVersion=9"):
        delta_lite.rename_column(t, "v", "w")
    # nothing committed, nothing staged: log tail is still the probe
    assert delta_lite.current_version(t) == v0 + 1
    assert {r["k"] for r in delta_lite.read_delta(spark, t).collect()} == {1, 2}


def test_clone_carries_source_protocol(spark, tmp_path):
    """A shallow clone inherits the source's metaData verbatim
    (mapping config included), so it must inherit the source's
    PROTOCOL too — a clone of a mapped table stamped (1, 2) would let
    a pre-mapping spec reader misread physical names as logical."""
    src = str(tmp_path / "src")
    delta_lite.write_delta(_df(spark, [(1, "a")]), src)
    delta_lite.enable_column_mapping(src)
    delta_lite.rename_column(src, "v", "label")
    cl = str(tmp_path / "clone")
    delta_lite.clone_table(src, cl)
    log0 = os.path.join(cl, "_delta_log", f"{0:020d}.json")
    protos = [json.loads(ln)["protocol"] for ln in open(log0)
              if ln.strip() and "protocol" in json.loads(ln)]
    assert protos == [{"minReaderVersion": 2, "minWriterVersion": 5}]
    # an UNMAPPED source still clones at the default
    plain = str(tmp_path / "plain")
    delta_lite.write_delta(_df(spark, [(1, "a")]), plain)
    cl2 = str(tmp_path / "clone2")
    delta_lite.clone_table(plain, cl2)
    log0b = os.path.join(cl2, "_delta_log", f"{0:020d}.json")
    protos2 = [json.loads(ln)["protocol"] for ln in open(log0b)
               if ln.strip() and "protocol" in json.loads(ln)]
    assert protos2 == [{"minReaderVersion": 1, "minWriterVersion": 2}]


def test_generated_columns_compute_validate_and_prune(spark, tmp_path):
    """GENERATED ALWAYS AS: declared at creation, computed when absent
    from a batch, validated when provided, and — the headline — a
    predicate on the BASE column alone prunes the partitions of a
    table partitioned by the generated column (the monotone-expression
    translation real Delta documents)."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "2024-01-01 08:00:00", 10.0), (2, "2024-01-02 09:00:00", 20.0),
         (3, "2024-01-03 10:00:00", 30.0), (4, "2024-01-03 23:00:00", 40.0)],
        "k long, ts_s string, v double",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    delta_lite.write_delta(
        df, t, partition_by=["event_date"],
        generated={"event_date": "cast(ts as date)"},
    )
    got = delta_lite.read_delta(spark, t)
    assert "event_date" in got.columns
    assert got.count() == 4
    # the generation contract rides the committed schema's metadata
    _, meta, _, _ = delta_lite._read_actions(t)
    assert delta_lite._generated_of(meta) == {"event_date": "cast(ts as date)"}
    # append WITHOUT the column: computed
    more = spark.createDataFrame([(5, "2024-01-05 01:00:00", 50.0)],
                                 "k long, ts_s string, v double"
                                 ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    delta_lite.write_delta(more, t, mode="append")
    # ... and an unchanged-schema append must NOT re-commit metaData
    # (the gen metadata round-trips bit-identically through the writer)
    v = delta_lite.current_version(t)
    log = os.path.join(t, "_delta_log", f"{v:020d}.json")
    kinds = [next(iter(json.loads(ln))) for ln in open(log) if ln.strip()]
    assert "metaData" not in kinds
    # append WITH a wrong provided value: refused before staging
    bad = delta_lite.read_delta(spark, t).limit(1).withColumn(
        "event_date", F.lit("1999-01-01").cast("date")
    ).withColumn("k", F.lit(99).cast("long"))
    with pytest.raises(ValueError, match=r"generated column\(s\) \['event_date'\]"):
        delta_lite.write_delta(bad, t, mode="append")
    # re-declaring on an existing table: refused
    with pytest.raises(ValueError, match="declared at table creation"):
        delta_lite.write_delta(more, t, mode="append",
                               generated={"event_date": "cast(ts as date)"})
    # PRUNING: predicate names only the BASE column; the derived
    # event_date bound must skip the other partitions' files
    all_files = set(delta_lite.read_delta(spark, t).inputFiles())
    pruned = delta_lite.read_delta(
        spark, t,
        predicate=("ts", "2024-01-03 00:00:00", "2024-01-03 23:59:59"),
    )
    assert {r["k"] for r in pruned.filter(
        "ts >= '2024-01-03' and ts < '2024-01-04'").collect()} == {3, 4}
    kept = set(pruned.inputFiles())
    assert kept < all_files
    assert all("event_date=2024-01-03" in f for f in kept)


def test_monotone_generation_shapes(spark):
    """The recognizer's four monotone shapes translate bounds; an
    unrecognized expression translates nothing (reads stay correct,
    just unpruned)."""
    import datetime

    base, g = delta_lite._monotone_gen("cast(ts as date)")
    assert base == "ts"
    assert g("2024-01-03 12:34:56") == "2024-01-03"
    assert g(datetime.datetime(2024, 1, 3, 12)) == datetime.date(2024, 1, 3)
    base, g = delta_lite._monotone_gen("YEAR(ts)")
    assert base == "ts" and g("2024-01-03") == 2024
    base, g = delta_lite._monotone_gen("substring(code, 1, 3)")
    assert base == "code" and g("ABCDEF") == "ABC"
    base, g = delta_lite._monotone_gen("floor(k / 100)")
    assert base == "k" and g(250) == 2 and g(-1) == -1
    assert delta_lite._monotone_gen("month(ts)") == (None, None)  # cyclic
    assert delta_lite._monotone_gen("a + b") == (None, None)


def test_update_where_recomputes_generated(spark, tmp_path):
    """SET on a base column recomputes its generated columns for
    exactly the matched rows (over the NEW values — the rows move to
    their new partition); SET on the generated column itself is
    refused."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "2024-01-01 08:00:00", 10.0), (2, "2024-01-02 09:00:00", 20.0)],
        "k long, ts_s string, v double",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    delta_lite.write_delta(df, t, partition_by=["event_date"],
                           generated={"event_date": "cast(ts as date)"})
    with pytest.raises(ValueError, match="GENERATED"):
        delta_lite.update_where(
            spark, t, {"event_date": "date'2030-01-01'"}, "k = 1"
        )
    delta_lite.update_where(
        spark, t, {"ts": "ts + interval 40 days"}, "k = 1"
    )
    rows = {r["k"]: (str(r["ts"]), str(r["event_date"]))
            for r in delta_lite.read_delta(spark, t).collect()}
    assert rows[1] == ("2024-02-10 08:00:00", "2024-02-10")
    assert rows[2] == ("2024-01-02 09:00:00", "2024-01-02")
    # the moved row landed in its NEW partition directory
    live, _, _, _ = delta_lite._read_actions(t)
    parts = {(a.get("partitionValues") or {}).get("event_date") for a in live.values()}
    assert "2024-02-10" in parts and "2024-01-01" not in parts


def test_generated_column_guards(spark, tmp_path):
    """Renaming/dropping a generation-referenced base column dangles
    the expression — refused; renaming the generated column itself is
    metadata-safe and allowed; merges refuse generated tables."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 250)], "k long, qty long")
    delta_lite.write_delta(df, t, generated={"bucket": "floor(qty / 100)"})
    delta_lite.enable_column_mapping(t)
    with pytest.raises(ValueError, match="generated column 'bucket'"):
        delta_lite.rename_column(t, "qty", "amount")
    with pytest.raises(ValueError, match="generated column 'bucket'"):
        delta_lite.drop_column(t, "qty")
    delta_lite.rename_column(t, "bucket", "qty_bucket")
    _, meta, _, _ = delta_lite._read_actions(t)
    assert delta_lite._generated_of(meta) == {"qty_bucket": "floor(qty / 100)"}
    with pytest.raises(ValueError, match="generated columns"):
        delta_lite.merge_touched(
            spark, t,
            spark.createDataFrame([(1, 300)], "k long, qty long"),
            ["k"], lambda cur, b: b,
        )


def test_optimize_where_compacts_only_scoped_partitions(spark, tmp_path):
    """OPTIMIZE ... WHERE: only files whose committed partition values
    fall inside the predicate are rewritten; out-of-scope files keep
    their byte-for-byte identity; the commit is layout-only (change
    feed silent) and results are unchanged."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 4:02d}", float(i)) for i in range(40)],
        "k long, day_s string, v double",
    ).select("k", F.col("day_s").cast("date").alias("day"), "v")
    delta_lite.write_delta(df.repartition(3), t, partition_by=["day"])
    delta_lite.write_delta(df.repartition(3), t, mode="append")
    live0, _, _, _ = delta_lite._read_actions(t)
    in0 = {p for p in live0 if "day=2024-01-02" in p}
    out0 = {p for p in live0 if "day=2024-01-02" not in p}
    assert len(in0) >= 2
    v_pre = delta_lite.current_version(t)
    v = delta_lite.optimize_where(spark, t, ("day", "2024-01-02", "2024-01-02"))
    assert v == v_pre + 1
    live1, _, _, _ = delta_lite._read_actions(t)
    in1 = {p for p in live1 if "day=2024-01-02" in p}
    out1 = {p for p in live1 if "day=2024-01-02" not in p}
    assert out1 == out0          # untouched files keep their identity
    assert len(in1) == 1 and not (in1 & in0)
    assert delta_lite.read_changes(spark, t, from_version=v_pre).count() == 0
    got = delta_lite.read_delta(spark, t)
    assert got.count() == 80
    assert got.filter("day = date'2024-01-02'").agg(
        F.sum("v")).first()[0] == sum(2 * float(i) for i in range(40) if i % 4 == 1)
    # re-running on the now-single-file scope is a no-op
    assert delta_lite.optimize_where(
        spark, t, ("day", "2024-01-02", "2024-01-02")) is None


def test_optimize_where_scopes_through_generated_column(spark, tmp_path):
    """A bound on the raw base column scopes the GENERATED partition
    column through the same monotone translation the readers use —
    'optimize yesterday's ingest' without naming the derived column."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d} 0{i % 9}:00:00", float(i)) for i in range(30)],
        "k long, ts_s string, v double",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    delta_lite.write_delta(
        df.repartition(2), t, partition_by=["event_date"],
        generated={"event_date": "cast(ts as date)"},
    )
    delta_lite.write_delta(df.repartition(2), t, mode="append")
    live0, _, _, _ = delta_lite._read_actions(t)
    out0 = {p for p in live0 if "event_date=2024-01-03" not in p}
    v = delta_lite.optimize_where(
        spark, t, ("ts", "2024-01-03 00:00:00", "2024-01-03 23:59:59")
    )
    assert v is not None
    live1, _, _, _ = delta_lite._read_actions(t)
    assert {p for p in live1 if "event_date=2024-01-03" not in p} == out0
    assert len({p for p in live1 if "event_date=2024-01-03" in p}) == 1
    assert delta_lite.read_delta(spark, t).count() == 60


def test_optimize_where_guards_and_dv_purge(spark, tmp_path):
    """Unpartitioned tables and non-partition predicates are refused
    (a scope unprovable from the log would rewrite the whole table);
    scoped files carrying deletion vectors are materialized clean."""
    flat = str(tmp_path / "flat")
    delta_lite.write_delta(_df(spark, [(1, "a")]), flat)
    with pytest.raises(ValueError, match="unpartitioned"):
        delta_lite.optimize_where(spark, flat, ("k", 0, 10))
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "2024-01-01" if i < 20 else "2024-01-02", float(i))
         for i in range(40)],
        "k long, day_s string, v double",
    ).select("k", F.col("day_s").cast("date").alias("day"), "v")
    delta_lite.write_delta(df.repartition(3), t, partition_by=["day"])
    with pytest.raises(ValueError, match="resolves to a partition column"):
        delta_lite.optimize_where(spark, t, ("v", 0.0, 5.0))
    delta_lite.delete_where(spark, t, "day = date'2024-01-01' AND k % 2 = 0",
                            use_dv=True)
    live0, _, _, _ = delta_lite._read_actions(t)
    assert any(delta_lite._dv_of(a) for a in live0.values())
    delta_lite.optimize_where(spark, t, ("day", "2024-01-01", "2024-01-01"))
    live1, _, _, _ = delta_lite._read_actions(t)
    assert not any(delta_lite._dv_of(a) for a in live1.values())
    got = delta_lite.read_delta(spark, t)
    assert got.count() == 30
    assert got.filter("day = date'2024-01-01'").count() == 10


def test_commit_timestamps_monotonic_under_clock_skew(spark, tmp_path, monkeypatch):
    """A backwards clock step between commits must not produce a
    non-monotonic commitInfo timestamp — TIMESTAMP AS OF would
    silently resolve the wrong version.  The publish choke point
    clamps to previous + 1."""
    t = str(tmp_path / "t")
    delta_lite.write_delta(_df(spark, [(1, "a")]), t)
    h0 = delta_lite.delta_history(t)
    # the clock steps back 1 hour before the next commit
    skewed = (h0[-1]["timestamp"] / 1000.0) - 3600.0
    monkeypatch.setattr(delta_lite.time, "time", lambda: skewed)
    delta_lite.write_delta(_df(spark, [(2, "b")]), t, mode="append")
    monkeypatch.undo()
    h = delta_lite.delta_history(t)
    ts = [x["timestamp"] for x in h]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    assert ts[1] == ts[0] + 1  # clamped, not wall-clock
    # TIMESTAMP AS OF resolves each version correctly
    assert delta_lite.version_at_timestamp(t, ts[0]) == 0
    assert delta_lite.version_at_timestamp(t, ts[1]) == 1


def test_symlink_manifest_flat_partitioned_and_dv_refusal(spark, tmp_path):
    """GENERATE symlink_format_manifest: absolute committed paths,
    per-partition manifests on partitioned tables, refreshed on
    regeneration, refused while deletion vectors are live."""
    t = str(tmp_path / "flat")
    delta_lite.write_delta(_df(spark, [(1, "a"), (2, "b")]), t)
    written = delta_lite.generate_symlink_manifest(t)
    assert len(written) == 1
    lines = open(written[0]).read().splitlines()
    live, _, _, _ = delta_lite._read_actions(t)
    assert sorted(lines) == sorted(
        "file://" + os.path.abspath(os.path.join(t, p)) for p in live
    )
    # regeneration after an append reflects the new snapshot
    delta_lite.write_delta(_df(spark, [(3, "c")]), t, mode="append")
    lines2 = open(delta_lite.generate_symlink_manifest(t)[0]).read().splitlines()
    assert len(lines2) > len(lines) and set(lines) < set(lines2)
    # partitioned: one manifest per partition directory
    pt = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(i, "2024-01-01" if i % 2 else "2024-01-02", float(i)) for i in range(10)],
        "k long, day_s string, v double",
    ).select("k", F.col("day_s").cast("date").alias("day"), "v")
    delta_lite.write_delta(df, pt, partition_by=["day"])
    mans = delta_lite.generate_symlink_manifest(pt)
    assert len(mans) == 2
    assert {os.path.basename(os.path.dirname(m)) for m in mans} == {
        "day=2024-01-01", "day=2024-01-02",
    }
    for m in mans:
        part = os.path.basename(os.path.dirname(m))
        for ln in open(m).read().splitlines():
            assert ln.startswith("file:///") and f"/{part}/" in ln
    # a live deletion vector refuses the export (external readers
    # cannot apply it)
    delta_lite.delete_where(spark, pt, "k = 4", use_dv=True)
    with pytest.raises(ValueError, match="deletion vectors"):
        delta_lite.generate_symlink_manifest(pt)
    # ... and purging the vectors re-enables it
    delta_lite.reorg_purge_dv(spark, pt)
    assert len(delta_lite.generate_symlink_manifest(pt)) == 2


def test_write_delta_aborts_on_concurrent_schema_change(spark, tmp_path, monkeypatch):
    """A retry after losing the version race to a SCHEMA-CHANGING
    commit must abort and clean its staged files, never recommit its
    stale schemaString (which would silently revert the winner's
    evolution — on a mapped table the winner's fresh column would
    read NULL everywhere)."""
    from pyspark.sql.types import StructType

    t = str(tmp_path / "t")
    delta_lite.write_delta(_df(spark, [(1, "a")]), t)
    orig_commit = delta_lite._commit
    raced = {}

    def racing(table_, version_, actions_):
        if not raced:
            raced["done"] = True
            # the concurrent winner lands a schema evolution at this
            # version before our commit: simulate it directly
            _, meta, _, _ = delta_lite._read_actions(table_)
            schema = json.loads(meta["schemaString"])
            schema["fields"].append(
                {"name": "extra", "type": "long", "nullable": True,
                 "metadata": {}}
            )
            orig_commit(
                table_, version_,
                [{"metaData": {**meta, "schemaString": json.dumps(schema)}}],
            )
            return False  # we lost the race
        return orig_commit(table_, version_, actions_)

    monkeypatch.setattr(delta_lite, "_commit", racing)
    with pytest.raises(RuntimeError, match="schema"):
        delta_lite.write_delta(_df(spark, [(2, "b")]), t, mode="append")
    monkeypatch.undo()
    # staged files were cleaned: every parquet on disk is referenced
    live, _, _, _ = delta_lite._read_actions(t)
    on_disk = {
        os.path.relpath(os.path.join(r, f), t)
        for r, _, fs in os.walk(t)
        for f in fs
        if f.endswith(".parquet") and "_delta_log" not in r
    }
    referenced = set()
    for v in delta_lite._list_versions(t):
        for ln in open(delta_lite._version_file(t, v)):
            a = json.loads(ln) if ln.strip() else {}
            if "add" in a:
                referenced.add(a["add"]["path"])
    assert on_disk <= referenced
    # ... and the winner's schema survives
    _, meta, _, _ = delta_lite._read_actions(t)
    names = [f["name"] for f in json.loads(meta["schemaString"])["fields"]]
    assert "extra" in names


def test_writer_gate_fires_before_staging(spark, tmp_path):
    """The minWriterVersion refusal must land BEFORE any file is
    staged — a refused write leaves zero new files behind."""
    t = str(tmp_path / "t")
    v0 = delta_lite.write_delta(_df(spark, [(1, "a")]), t)
    with open(os.path.join(t, "_delta_log", f"{v0 + 1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                          "minWriterVersion": 9}}) + "\n")
    def count_parquet():
        return sum(
            1 for r, _, fs in os.walk(t) for f in fs
            if f.endswith(".parquet") and "_delta_log" not in r
        )
    before = count_parquet()
    with pytest.raises(ValueError, match="minWriterVersion=9"):
        delta_lite.write_delta(_df(spark, [(2, "b")]), t, mode="append")
    assert count_parquet() == before


def test_bloom_rebuild_failure_does_not_poison_optimize(spark, tmp_path):
    """A bloom auto-rebuild that fails (here: a legacy tag on a column
    type the build-time guard now refuses) must not surface the
    already-committed OPTIMIZE as failed — the index is advisory."""
    t = str(tmp_path / "t")
    delta_lite.write_delta(
        spark.createDataFrame([(1, 1.5), (2, 2.5)], "k long, v double")
        .repartition(2), t,
    )
    live, meta, base, _ = delta_lite._read_actions(t)
    # hand-tag a live file with a bloom index on the DOUBLE column —
    # the pre-r12 builder allowed this; the rebuilt guard refuses it
    sidecar_dir = os.path.join(t, "_bloom")
    os.makedirs(sidecar_dir, exist_ok=True)
    sidecar = os.path.join(sidecar_dir, "legacy.json")
    with open(sidecar, "w") as fh:
        json.dump({"fpp": 0.01, "m": 64, "k": 3, "words": [0]}, fh)
    p, a = next(iter(live.items()))
    retagged = dict(a)
    retagged["tags"] = {**(a.get("tags") or {}), "bloom_v": "_bloom/legacy.json"}
    assert delta_lite._commit(t, base + 1, [{"add": retagged}])
    v = delta_lite.compact(spark, t, n_files=1)  # must not raise
    assert v is not None
    assert delta_lite.read_delta(spark, t).count() == 2


def test_rename_retags_clustered_backbone(spark, tmp_path):
    """Renaming a cluster column re-tags the clustered backbone in the
    same metadata-only commit, so incremental clustering under the new
    name leaves the backbone untouched instead of rewriting the
    table."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               "a long, v double")
    delta_lite.write_delta(df.repartition(4), t)
    assert delta_lite.optimize_cluster_incremental(spark, t, ["a"]) is not None
    live0, _, _, _ = delta_lite._read_actions(t)
    backbone0 = {p for p, x in live0.items()
                 if (x.get("tags") or {}).get("clustered")}
    assert backbone0
    delta_lite.enable_column_mapping(t)
    delta_lite.rename_column(t, "a", "key")
    live1, _, _, _ = delta_lite._read_actions(t)
    tags = {(x.get("tags") or {}).get("clustered")
            for p, x in live1.items() if p in backbone0}
    assert tags == {json.dumps(["key"])}
    # the backbone is already clustered under the new name: nothing
    # fresh to rewrite
    assert delta_lite.optimize_cluster_incremental(spark, t, ["key"]) is None


def test_cdf_stream_reader_gates_midstream_protocol(spark, tmp_path):
    """The CDF streaming reader must refuse commits demanding a
    minReaderVersion past the engine ceiling — a mid-stream table
    upgrade silently ignored could emit wrong change rows."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        delta_cdf_datasource as cdf,
    )

    t = str(tmp_path / "t")
    v0 = delta_lite.write_delta(_df(spark, [(1, "a")]), t)
    delta_lite.write_delta(_df(spark, [(2, "b")]), t, mode="append")
    reader = cdf._CdfStreamReader({"path": t, "startingVersion": "0"})
    assert reader.partitions({"version": 0}, {"version": 1})  # healthy
    v2 = delta_lite.current_version(t) + 1
    with open(os.path.join(t, "_delta_log", f"{v2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 3,
                                          "minWriterVersion": 7}}) + "\n")
    with pytest.raises(ValueError, match="minReaderVersion=3"):
        reader.partitions({"version": 1}, {"version": v2})
