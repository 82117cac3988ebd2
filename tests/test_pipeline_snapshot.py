"""Frozen output snapshot: ``render_export(run_pipeline(...))`` on the
benchmark's generated customs batches, compared column by column.

Each seed's batch is the first 1,300-row batch of ``gen.CustomsGen``
against ``gen.extended_kb`` (the fixture KB plus ~1k models and ~150
patterns) with the fixture FX table, so every remark path runs on
about 850 kept rows.  The parquet files under ``tests/golden/`` were
written by the pipeline before its rewrite into a linear plan; any
change to a value, type or row fails here.

Regenerate (only for an intended change of output):

    python tests/test_pipeline_snapshot.py
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark import (  # noqa: E402
    fixtures,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.plans import (  # noqa: E402
    pipeline,
)
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.schemas import (  # noqa: E402
    MODEL_REF_SCHEMA,
    REGEX_KB_SCHEMA,
    SHIPMENTS_SCHEMA,
)

SEEDS = (1, 2, 3)
BATCH_ROWS = 1300


def golden_path(seed: int) -> str:
    return os.path.join(HERE, "golden", f"pipeline_snapshot_seed{seed}.parquet")


def snapshot_frame(spark, seed: int):
    kb = gen.extended_kb(seed)
    batch = gen.CustomsGen(seed, kb, set()).batch(BATCH_ROWS)
    out = pipeline.run_pipeline(
        spark.createDataFrame(batch.rows, SHIPMENTS_SCHEMA),
        spark.createDataFrame(kb.model_ref, MODEL_REF_SCHEMA),
        spark.createDataFrame(kb.regex_kb, REGEX_KB_SCHEMA),
        fixtures.fx_rates_df(spark),
    )
    return pipeline.render_export(out).orderBy(pipeline.ID)


@pytest.mark.parametrize("seed", SEEDS)
def test_pipeline_matches_snapshot(spark, seed):
    want_df = spark.read.parquet(golden_path(seed)).orderBy(pipeline.ID)
    got_df = snapshot_frame(spark, seed)
    assert [(f.name, f.dataType) for f in got_df.schema] == [
        (f.name, f.dataType) for f in want_df.schema
    ]
    want, got = want_df.collect(), got_df.collect()
    assert [r[pipeline.ID] for r in got] == [r[pipeline.ID] for r in want]
    diffs = [
        (w[pipeline.ID], c, w[c], g[c])
        for w, g in zip(want, got)
        for c in want_df.columns
        if w[c] != g[c]
    ]
    assert not diffs, f"{len(diffs)} cells differ (id, column, want, got): {diffs[:10]}"


def write_snapshots() -> None:
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.session import (
        get_spark,
    )

    spark = get_spark(app_name="pipeline-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    for seed in SEEDS:
        tmp = tempfile.mkdtemp()
        snapshot_frame(spark, seed).coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        shutil.move(part, golden_path(seed))
        shutil.rmtree(tmp)
        print(golden_path(seed))
    spark.stop()


if __name__ == "__main__":
    write_snapshots()
