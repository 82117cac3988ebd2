"""Maintained-table probe: upsert_latest / SCD2 maintainers under
multi-delivery maintenance AND at-least-once replay, at events-sf0.1
and a key-offset ×N replica (the SCALE.md ratio-decomposition protocol
extended to the stateful streaming layer — VERDICT r5 #5).

Per scale and maintainer:
- three time-ordered deliveries land as parquet; the availableNow
  stream runs after each (the incremental-maintenance cost);
- the checkpoint is then WIPED and the stream re-run over the full
  landing dir — every batch re-delivers, and the ``txn`` each batch
  committed must skip them all (the crash-recovery window of a89dffb);
- the final table is asserted equal to the one-pass batch collapse
  over the full log (idempotence under replay, not just speed).

Prints one JSON line: maintain/replay seconds per scale + ratios.

Usage: python tools/maintainer_probe.py [N]
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

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (  # noqa: E402
    timeseries,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.session import (  # noqa: E402
    get_spark,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.streaming import (  # noqa: E402
    jobs,
)

BASE = "/root/testdata/sf0.1/events.parquet"


def replicated_events(spark, n: int):
    src = spark.read.parquet(BASE)
    if n == 1:
        return src
    off_e = src.agg(F.max("event_id")).collect()[0][0] + 1
    off_u = src.agg(F.max("user_id")).collect()[0][0] + 1
    parts = []
    for i in range(n):
        parts.append(
            src.withColumn("event_id", F.col("event_id") + F.lit(i * off_e))
            .withColumn("user_id", F.col("user_id") + F.lit(i * off_u))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def run_maintainer(spark, events, kind: str, workdir: str) -> dict:
    cuts = events.select(F.unix_timestamp("ts").alias("s")).approxQuantile(
        "s", [0.33, 0.66], 0.0
    )
    chunks = [
        events.filter(F.unix_timestamp("ts") <= cuts[0]),
        events.filter(
            (F.unix_timestamp("ts") > cuts[0]) & (F.unix_timestamp("ts") <= cuts[1])
        ),
        events.filter(F.unix_timestamp("ts") > cuts[1]),
    ]
    land = os.path.join(workdir, f"{kind}_land")
    table = os.path.join(workdir, f"{kind}_tbl")
    cp = os.path.join(workdir, f"{kind}_cp")

    def start():
        stream = jobs.read_event_stream(spark, land)
        if kind == "upsert":
            return jobs.upsert_stream(stream, table, ["user_id"], cp)
        return jobs.maintain_scd2_stream(
            stream, table, cp, key_col="user_id", ts_col="ts",
            attr_cols=["event_type"],
        )

    t0 = time.time()
    for ch in chunks:
        ch.write.mode("append").parquet(land)
        start().awaitTermination()
    maintain_s = round(time.time() - t0, 3)

    # at-least-once replay: wipe the checkpoint so EVERY landed file
    # re-delivers; the txn in each batch's commit must skip all of it
    shutil.rmtree(cp)
    t0 = time.time()
    start().awaitTermination()
    replay_s = round(time.time() - t0, 3)

    # idempotence + correctness: final table == one-pass batch collapse
    stored = jobs.read_maintained_table(spark, table)
    if kind == "upsert":
        got = stored.select("user_id", "ts")
        want = events.groupBy("user_id").agg(F.max("ts").alias("ts"))
    else:
        got = stored.select("user_id", "event_type", "valid_from", "valid_to")
        want = timeseries.scd2_from_events(
            events.select("user_id", "ts", "event_type"), "user_id", "ts",
            ["event_type"],
        ).select("user_id", "event_type", "valid_from", "valid_to")
    diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    assert diff == 0, f"{kind}: replayed table diverged by {diff} rows"
    return {"maintain_s": maintain_s, "replay_s": replay_s, "table_rows": stored.count()}


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    spark = get_spark(app_name="maintainer-probe")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"replicas": n}
    # untimed warmup cycle: the first foreachBatch run pays JVM/JIT and
    # codegen cost that has nothing to do with maintainer shape
    wdir = tempfile.mkdtemp(prefix="maintprobe_warm_")
    try:
        ev1 = replicated_events(spark, 1)
        run_maintainer(spark, ev1, "upsert", wdir)
        run_maintainer(spark, ev1, "scd2", wdir)
    finally:
        shutil.rmtree(wdir, ignore_errors=True)
    for scale, nn in (("sf0.1", 1), (f"x{n}", n)):
        ev = replicated_events(spark, nn)
        workdir = tempfile.mkdtemp(prefix=f"maintprobe_{scale}_")
        try:
            report.setdefault("upsert_latest", {})[scale] = run_maintainer(
                spark, ev, "upsert", workdir
            )
            report.setdefault("scd2", {})[scale] = run_maintainer(
                spark, ev, "scd2", workdir
            )
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    for kind in ("upsert_latest", "scd2"):
        a, b = report[kind]["sf0.1"], report[kind][f"x{n}"]
        report[kind]["maintain_ratio"] = round(b["maintain_s"] / a["maintain_s"], 2)
        report[kind]["replay_ratio"] = round(b["replay_s"] / a["replay_s"], 2)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
