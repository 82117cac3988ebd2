"""Delta touched-file MERGE probe (VERDICT r6 #1 + #7): quantifies the
two scale claims the r7 delta_lite upgrade makes.

A. PER-BATCH PUBLISH COST IS FLAT AS THE TABLE GROWS.
   A keyed table is built at 1x and Nx (events-sf0.1 user profiles,
   key-offset replicas), with the bucket count scaled so BUCKET SIZE
   stays constant — the production discipline: bucket count tracks
   table size at the target file size (~100 MB), exactly like file
   count in a real Delta/Iceberg table.  Then K constant-size batches
   (5 keys each) publish through jobs.apply_upsert_batch /
   apply_scd2_batch → delta_lite.merge_touched — expect per-batch wall
   ~flat (reads+rewrites ≤5 constant-size buckets).

B. LOG-REPLAY COST IS FLAT IN VERSION COUNT (checkpoints).
   After V tiny commits, snapshot-read planning replays the log.  With
   checkpoints every CHECKPOINT_INTERVAL commits the replay reads one
   checkpoint + O(interval) tail entries; with checkpointing disabled
   it replays all V.  Both are timed via last_txn_version (pure log
   replay, no data read) at V=120.

Prints one JSON line for SCALE.md.

Usage: python tools/delta_probe.py [N]   (default 30)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.session import (  # noqa: E402
    get_spark,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (  # noqa: E402
    delta_lite,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.streaming import (  # noqa: E402
    jobs,
)

BASE = "/root/testdata/sf0.1/events.parquet"
BATCH_KEYS = 5
N_BATCHES = 5
BASE_BUCKETS = 32


def profiles(spark, n: int):
    """Latest-row-per-user profile table at an Nx key-offset replica
    (distinct users scale with n; per-batch key count does not)."""
    src = spark.read.parquet(BASE).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    if n == 1:
        return src
    off_e = src.agg(F.max("event_id")).collect()[0][0] + 1
    off_u = src.agg(F.max("user_id")).collect()[0][0] + 1
    out = src
    for i in range(1, n):
        out = out.unionByName(
            src.withColumn("event_id", F.col("event_id") + F.lit(i * off_e))
            .withColumn("user_id", F.col("user_id") + F.lit(i * off_u))
        )
    return out


def batch_of(events, keys: list[int]):
    return events.filter(F.col("user_id").isin(keys))


def probe_upsert(spark, events, scale_n: int, workdir: str) -> dict:
    nb = BASE_BUCKETS * scale_n  # constant bucket size across scales
    table = os.path.join(workdir, f"ups_{scale_n}")
    # bulk init: one commit holding the whole profile table
    t0 = time.time()
    dedup = (
        events.groupBy("user_id")
        .agg(F.max_by(F.struct("event_id", "ts", "event_type", "value"), "ts").alias("r"))
        .select("user_id", "r.*")
    )
    delta_lite.upsert_delta(spark, table, dedup, ["user_id"], n_buckets=nb)
    init_s = round(time.time() - t0, 3)
    keys = [r["user_id"] for r in events.select("user_id").distinct().limit(BATCH_KEYS * N_BATCHES).collect()]
    per_batch = []
    for b in range(N_BATCHES):
        bk = keys[b * BATCH_KEYS : (b + 1) * BATCH_KEYS]
        # materialize the batch OUTSIDE the timer: the probe measures
        # publish cost, not the cost of carving a batch from Nx events
        bdf = batch_of(events, bk).localCheckpoint(eager=True)
        t0 = time.time()
        jobs.apply_upsert_batch(bdf, b + 1, table, ["user_id"])
        per_batch.append(time.time() - t0)
    return {
        "init_s": init_s,
        "batch_s": round(sum(per_batch) / len(per_batch), 3),
        "n_buckets": nb,
    }


def probe_scd2(spark, events, scale_n: int, workdir: str) -> dict:
    nb = BASE_BUCKETS * scale_n
    table = os.path.join(workdir, f"scd_{scale_n}")
    t0 = time.time()
    jobs.apply_scd2_batch(
        events, 0, table, "user_id", "ts", ["event_type"], n_buckets=nb
    )
    init_s = round(time.time() - t0, 3)
    keys = [r["user_id"] for r in events.select("user_id").distinct().limit(BATCH_KEYS * N_BATCHES).collect()]
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    per_batch = []
    for b in range(N_BATCHES):
        bk = keys[b * BATCH_KEYS : (b + 1) * BATCH_KEYS]
        # later-than-history observations for the batch keys (CDC order)
        bdf = (
            batch_of(events, bk)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .select(
                "user_id",
                F.lit(max_ts).alias("ts"),
                F.concat(F.lit("probe_state_"), F.lit(b)).alias("event_type"),
            )
            .localCheckpoint(eager=True)  # batch carving outside the timer
        )
        t0 = time.time()
        jobs.apply_scd2_batch(
            bdf, b + 1, table, "user_id", "ts", ["event_type"], n_buckets=nb
        )
        per_batch.append(time.time() - t0)
    return {
        "init_s": init_s,
        "batch_s": round(sum(per_batch) / len(per_batch), 3),
        "n_buckets": nb,
    }


def probe_log_replay(spark, workdir: str, versions: int = 120) -> dict:
    """Pure log-replay cost at high version count, checkpointed vs not."""
    out = {}
    for mode in ("checkpointed", "no_checkpoint"):
        table = os.path.join(workdir, f"log_{mode}")
        saved = delta_lite.CHECKPOINT_INTERVAL
        if mode == "no_checkpoint":
            delta_lite.CHECKPOINT_INTERVAL = 10**9
        try:
            for v in range(versions):
                df = spark.createDataFrame([(v % 7, f"b{v}")], "k long, v string")
                delta_lite.upsert_delta(spark, table, df, ["k"], n_buckets=4,
                                        txn=("probe", v))
            t0 = time.time()
            for _ in range(20):
                delta_lite.last_txn_version(table, "probe")
            out[mode] = round((time.time() - t0) / 20, 4)
        finally:
            delta_lite.CHECKPOINT_INTERVAL = saved
    out["speedup"] = round(out["no_checkpoint"] / max(out["checkpointed"], 1e-9), 1)
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    spark = get_spark(app_name="delta-probe")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"replicas": n, "batch_keys": BATCH_KEYS, "n_batches": N_BATCHES}
    workdir = tempfile.mkdtemp(prefix="deltaprobe_")
    try:
        # warmup (JVM/codegen) — untimed
        ev1 = profiles(spark, 1)
        wdir = os.path.join(workdir, "warm")
        probe_upsert(spark, ev1, 1, wdir)
        for kind, fn in (("upsert", probe_upsert), ("scd2", probe_scd2)):
            rows = {}
            for scale, nn in (("sf0.1", 1), (f"x{n}", n)):
                ev = profiles(spark, nn)
                rows[scale] = fn(spark, ev, nn, workdir)
            rows["batch_ratio"] = round(
                rows[f"x{n}"]["batch_s"] / max(rows["sf0.1"]["batch_s"], 1e-9), 2
            )
            report[f"{kind}_delta"] = rows
        # GDPR delete (r8): erase BATCH_KEYS keys from the delta profile
        # table at each scale — expect ~flat (touched buckets, not table)
        del_rows = {}
        for scale, nn in (("sf0.1", 1), (f"x{n}", n)):
            table = os.path.join(workdir, f"ups_{nn}")
            ev = profiles(spark, nn)
            keys = ev.select("user_id").distinct().orderBy("user_id").limit(BATCH_KEYS)
            keys = keys.localCheckpoint(eager=True)
            t0 = time.time()
            delta_lite.delete_keys(spark, table, keys, ["user_id"], txn=("gdpr-probe", 99))
            del_rows[scale] = round(time.time() - t0, 3)
        del_rows["ratio"] = round(del_rows[f"x{n}"] / max(del_rows["sf0.1"], 1e-9), 2)
        report["gdpr_delete_delta"] = del_rows
        # CDF read (r9, VERDICT r8 #1): row-level changes across the
        # last commit (constant-size delete batch) via read_changes —
        # expect ~flat (opens only the files the commit touched) —
        # vs the old two-full-snapshot exceptAll shape, which grows
        # with the table
        cdf_rows = {}
        for scale, nn in (("sf0.1", 1), (f"x{n}", n)):
            table = os.path.join(workdir, f"ups_{nn}")
            base_v = delta_lite.current_version(table) - 1
            t0 = time.time()
            n_incr = delta_lite.read_changes(spark, table, base_v).count()
            incr = round(time.time() - t0, 3)
            t0 = time.time()
            old = delta_lite.read_delta(spark, table, version=base_v)
            new = delta_lite.read_delta(spark, table)
            n_full = new.exceptAll(old).count() + old.exceptAll(new).count()
            full = round(time.time() - t0, 3)
            assert n_incr == n_full, (n_incr, n_full)
            cdf_rows[scale] = {"read_changes_s": incr, "two_snapshot_s": full}
        cdf_rows["read_changes_ratio"] = round(
            cdf_rows[f"x{n}"]["read_changes_s"]
            / max(cdf_rows["sf0.1"]["read_changes_s"], 1e-9),
            2,
        )
        cdf_rows["two_snapshot_ratio"] = round(
            cdf_rows[f"x{n}"]["two_snapshot_s"]
            / max(cdf_rows["sf0.1"]["two_snapshot_s"], 1e-9),
            2,
        )
        report["cdf_read_changes"] = cdf_rows
        report["log_replay_120v"] = probe_log_replay(spark, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
