"""Golden test: the full cleaning pipeline on the hand-crafted fixture
batch, asserted row-by-row (FIXTURES.md §6 / SURVEY §5.2).

Expected values are hand-computed from the reference semantics:
tie-breaks (first brand in ref order, longest model, last regex in
table order), starting_point codes, F1/F2 drops, the ±5% band
inference, outlier medians, interval binning and month-keyed FX.
"""

import os

import pytest
from pyspark.sql import functions as F

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark import fixtures
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.plans import pipeline
from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.schemas import (
    MODEL_REF_SCHEMA,
    REGEX_KB_SCHEMA,
    SHIPMENTS_SCHEMA,
)


@pytest.fixture(scope="module")
def result(spark):
    df = pipeline.run_pipeline(
        fixtures.shipments_df(spark),
        fixtures.model_ref_df(spark),
        fixtures.regex_kb_df(spark),
        fixtures.fx_rates_df(spark),
        datasource="fixture_batch",
    )
    rows = {r["shipment_id"]: r.asDict() for r in df.collect()}
    return rows


# shipment_id → (brand, model, type, capacity, remark, new_used, outliers)
EXPECTED = {
    1: ("KOMATSU", "PC200-8", "EXCAVATOR", 20.0, pipeline.R_FULL, "new", "no"),
    2: ("KOMATSU", "PC200", "EXCAVATOR", 20.0, pipeline.R_FULL, "new", "no"),
    3: ("HITACHI", "ZX200", "EXCAVATOR", 20.0, pipeline.R_RX_NB_UNIQUE, "used", "unknown"),
    4: ("CATERPILLAR", "320D", "EXCAVATOR", 20.0, pipeline.R_FULL, "new", "no"),
    5: ("CATERPILLAR", None, None, None, pipeline.R_BRAND_ONLY, "new", "unknown"),
    6: (None, None, None, 20.0, pipeline.R_CAPACITY, "new", "unknown"),
    7: ("KOMATSU", None, None, None, pipeline.R_BRAND_ONLY, "new", "unknown"),
    9: ("SANY", "SY215C", "EXCAVATOR", 21.5, pipeline.R_PARTS, "new", "no"),
    10: ("KOMATSU", "PC200-8", "EXCAVATOR", 20.0, pipeline.R_FULL, "new", "no"),
    11: ("KOMATSU", "PC200", "EXCAVATOR", 20.0, pipeline.R_FULL, "new", "no"),
    12: ("HIDROMEK", "HMK102B", "WHEEL EXCAVATOR", 10.2, pipeline.R_FULL, "new", "no"),
    14: ("GROVE", "GMK5250L", "WHEELED CRANE", 250.0, pipeline.R_FULL, "new", "no"),
    15: ("XCMG", "XE215C", "EXCAVATOR", 21.5, pipeline.R_FULL, "new", "no"),
    16: ("VOLVO", "EC130C", "EXCAVATOR", 13.5, pipeline.R_FULL, "new", "no"),
    17: ("KOMATSU", "PC200", "EXCAVATOR", 20.0, pipeline.R_FULL, "used", "unknown"),
    18: ("KOMATSU", "PC200", "EXCAVATOR", 20.5, pipeline.R_INFERRED, "new", "no"),
    19: ("KOMATSU", "PC200-8", "EXCAVATOR", 20.0, pipeline.R_FULL, "new", "no"),
    20: ("KOMATSU", "PC200-8", "EXCAVATOR", 20.0, pipeline.R_FULL, "new", "yes"),
    # capacity unknown but model known + new → judged vs median (the
    # golden output ignores capacity in the outlier unknown-rule,
    # COMPAT.md #15); singleton group ⇒ price == own median ⇒ 'no'
    21: ("KOBELCO", "SK200", "EXCAVATOR", None, pipeline.R_RX_NB_UNIQUE, "new", "no"),
    22: ("ZOOMLION", "QUY550", "CRAWLER CRANE", 0.0, pipeline.R_RX_NB_UNIQUE, "new", "no"),
    23: ("KOMATSU", "PC30", "EXCAVATOR", 3.0, pipeline.R_RX_UNIQUE, "new", "no"),
    24: ("KOMATSU", "PC200", "EXCAVATOR", 20.0, pipeline.R_FULL, "new", "unknown"),
    25: ("KOMATSU", "PC200", "EXCAVATOR", 20.0, pipeline.R_FULL, "new", "no"),
}


def test_dropped_rows(result):
    # 8: F2 irrelevant keyword (TELEHANDLER); 13: F1 below both thresholds
    assert set(result) == set(EXPECTED)


@pytest.mark.parametrize("sid", sorted(EXPECTED))
def test_row_labels(result, sid):
    brand, model, typ, cap, remark, nu, out = EXPECTED[sid]
    r = result[sid]
    assert r["brand"] == brand, f"brand {r['brand']}"
    assert r["model"] == model, f"model {r['model']}"
    assert r["type"] == typ, f"type {r['type']}"
    assert r["capacity"] == cap, f"capacity {r['capacity']}"
    assert r["remark"] == remark, f"remark {r['remark']}"
    assert r["new_used"] == nu
    assert r["outliers"] == out


def test_intervals(result):
    assert result[1]["capacity_interval"] == "20-30T"
    assert result[12]["capacity_interval"] == "10-20T"
    assert result[14]["capacity_interval"] == "250-260T"
    assert result[14]["type_interval"] == "≥90T"
    assert result[22]["capacity_interval"] == "UNKNOWN"  # capacity 0
    assert result[23]["capacity_interval"] == "<5T"
    # weight fallback when capacity unknown (row 5: 21t unit weight)
    assert result[5]["capacity_interval"] == "20-30T"
    # sub-5t weight fallback (row 7: 0.9t)
    assert result[7]["capacity_interval"] == "<5T"


def test_fx_conversion(result):
    assert result[1]["price_in_cny"] == pytest.approx(100000 * 7.24)
    assert result[3]["price_in_cny"] == pytest.approx(60000 * 7.25)
    # July missing from fx dim → NULL (reference unmatched-month behavior)
    assert result[14]["price_in_cny"] is None


def test_coercion_nulls(result):
    # junk qty/weight strings coerce to NULL (pandas to_numeric semantics)
    assert result[24]["qty_n"] is None
    assert result[24]["price_in_usd"] is None


def test_remark_distribution(result):
    from collections import Counter

    c = Counter(r["remark"] for r in result.values())
    assert c == {
        pipeline.R_FULL: 14,
        pipeline.R_BRAND_ONLY: 2,
        pipeline.R_PARTS: 1,
        pipeline.R_RX_NB_UNIQUE: 3,
        pipeline.R_RX_UNIQUE: 1,
        pipeline.R_CAPACITY: 1,
        pipeline.R_INFERRED: 1,
    }


def test_export_rendering(spark, result):
    df = pipeline.run_pipeline(
        fixtures.shipments_df(spark),
        fixtures.model_ref_df(spark),
        fixtures.regex_kb_df(spark),
    )
    rendered = pipeline.render_export(df)
    rows = {r["shipment_id"]: r for r in rendered.collect()}
    assert rows[6]["brand"] == "UNKNOWN"
    assert rows[5]["model"] == "UNKNOWN"
    assert rows[21]["capacity"] == "UNKNOWN"


def test_analysis_reports(spark):
    """Key-players flow (SURVEY §7.4): shares + OTHERS folding + top-3."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        analysis,
    )

    df = pipeline.run_pipeline(
        fixtures.shipments_df(spark),
        fixtures.model_ref_df(spark),
        fixtures.regex_kb_df(spark),
    )
    shares = analysis.group_share(
        pipeline.render_export(df), "brand", "amount_in_usd", qty_col="qty_n"
    )
    got = {r["brand"]: r for r in shares.collect()}
    assert sum(r["amount_prop"] for r in got.values()) == pytest.approx(100.0)
    folded = analysis.fold_others(shares.select("brand", "amount", "amount_prop"), "brand")
    fr = {r["brand"]: r for r in folded.collect()}
    assert "OTHERS" in fr
    top3 = analysis.top_k(shares, "amount", 3).collect()
    assert len(top3) == 3
    assert top3[0]["amount"] >= top3[1]["amount"] >= top3[2]["amount"]


# (ref_idx, brand, model, capacity, type, hp): cranes whose catalog type
# is known (GROVE) or left to the C2 rules, and a 0-capacity model
CRANE_REF_ROWS = [
    (1, "GROVE", "GMK5250L", 250.0, "WHEELED CRANE", None),
    (2, "TADANO", "GR1000EX", 100.0, None, None),
    (3, "XCMG", "QY25K", 25.0, None, None),
    (4, "ZOOMLION", "ZTC60", 6.0, None, None),
    (5, "SANY", "SCC8000", 0.0, None, None),
]

# shipment_id → (description, expected type, expected capacity_interval)
CRANE_ROWS = {
    31: ("GROVE GMK5250L ALL TERRAIN CRANE", "WHEELED CRANE", "250-260T"),
    # crawler + telescopic overrides even a known catalog type
    32: ("GROVE GMK5250L CRAWLER TELESCOPIC CRANE", "CRAWLER CRANE (TELESCOPIC_BOOM)", "250-260T"),
    33: ("TADANO GR1000EX ROUGH TERRAIN CRANE", "ROUGH-TERRAIN CRANE", "100-110T"),
    34: ("XCMG QY25K TRUCK CRANE ON TIRES", "WHEELED CRANE", "20-30T"),
    35: ("ZOOMLION ZTC60 CRAWLER CRANE", "CRAWLER CRANE", "<10T"),
    36: ("SANY SCC8000 CRAWLER CRANE", "CRAWLER CRANE", "UNKNOWN"),
    # no capacity: a crane is never binned by its unit weight (30 t)
    37: ("USED MOBILE CRANE", "UNKNOWN", "UNKNOWN"),
}


def test_crane_file_type(spark):
    """The crane path of the notebook (file_type='crane'): C2 crane-type
    rules and C5 crane load intervals, which bin the capacity alone —
    '<10T' below 10 t, 'UNKNOWN' for a missing or 0 capacity."""
    shipments = spark.createDataFrame(
        [
            tuple(
                fixtures._row(sid, 202407, desc, "PT ALAT BERAT", "1", 300000.0, "2024/07/15", "30000")[c]
                for c in fixtures.SHIPMENT_COLUMNS
            )
            for sid, (desc, _, _) in CRANE_ROWS.items()
        ],
        SHIPMENTS_SCHEMA,
    )

    def export(file_type):
        out = pipeline.run_pipeline(
            shipments,
            spark.createDataFrame(CRANE_REF_ROWS, MODEL_REF_SCHEMA),
            spark.createDataFrame([], REGEX_KB_SCHEMA),
            file_type=file_type,
        )
        return {r["shipment_id"]: r for r in pipeline.render_export(out).collect()}

    crane = export("crane")
    got = {sid: (r["type"], r["capacity_interval"]) for sid, r in crane.items()}
    assert got == {sid: (t, i) for sid, (_, t, i) in CRANE_ROWS.items()}
    # the excavator path bins the same rows by unit weight when the
    # capacity is missing, and by its own '<5T' / '5-10T' bands
    excavator = export("excavator")
    assert excavator[37]["capacity_interval"] == "30-40T"
    assert excavator[35]["capacity_interval"] == "5-10T"


def test_reference_golden_snapshot_shape():
    """The committed parity snapshot the driver hashes against: 832
    rows (the golden May-Jul slice), the exact projection
    __spark_entry__._REF_PARITY_COLS, UNKNOWN sentinels rendered."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    t = pq.read_table(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "golden", "reference_batch_golden.parquet")
    )
    assert t.num_rows == 832
    assert t.column_names == entry._REF_PARITY_COLS
    remarks = set(t.column("remark").to_pylist())
    assert "Fully match" in remarks and "Parts" in remarks


# ---------------------------------------------------------------------------
# Degenerate batches: an empty result or NULL/UNKNOWN labels, never an error
# ---------------------------------------------------------------------------


def _export_rows(spark, shipments, model_ref=None, regex_kb=None):
    out = pipeline.run_pipeline(
        shipments,
        model_ref if model_ref is not None else fixtures.model_ref_df(spark),
        regex_kb if regex_kb is not None else fixtures.regex_kb_df(spark),
        fixtures.fx_rates_df(spark),
    )
    return pipeline.render_export(out).collect()


def test_empty_batch(spark):
    assert _export_rows(spark, spark.createDataFrame([], SHIPMENTS_SCHEMA)) == []


def test_batch_fully_filtered(spark):
    # fixture rows 8 (F2 keyword) and 13 (F1 amount) only
    shipments = fixtures.shipments_df(spark).filter(F.col("shipment_id").isin(8, 13))
    assert shipments.count() == 2
    assert _export_rows(spark, shipments) == []


def test_batch_without_kb_hits(spark):
    rows = _export_rows(
        spark,
        fixtures.shipments_df(spark),
        spark.createDataFrame([], MODEL_REF_SCHEMA),
        spark.createDataFrame([], REGEX_KB_SCHEMA),
    )
    assert {r["shipment_id"] for r in rows} == set(EXPECTED)
    for r in rows:
        assert (r["brand"], r["model"], r["outliers"]) == ("UNKNOWN", "UNKNOWN", "unknown")
        assert r["remark"] in (pipeline.R_NONE, pipeline.R_PARTS, pipeline.R_CAPACITY)
    # row 6 still gets its capacity from the description text
    assert {r["shipment_id"]: r["remark"] for r in rows}[6] == pipeline.R_CAPACITY
