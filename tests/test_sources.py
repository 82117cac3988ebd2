"""Source/sink tests (S1-S5): csv with explicit schema, parquet
round-trip with partitioning, xlsx edge converter (skip-gated — the
codec is an optional driver-side dependency)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark import sources

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ]
)


def test_csv_explicit_schema_and_corrupt_rows(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,name,amount\n1,a,10.5\n2,b,junk\n3,c,30.0\n")
    df = sources.read_csv(spark, str(p), SCHEMA)
    rows = {r["id"]: r["amount"] for r in df.collect()}
    # PERMISSIVE + non-ANSI: bad numeric → NULL, row preserved
    assert rows == {1: 10.5, 2: None, 3: 30.0}


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA)
    out = str(tmp_path / "t")
    sources.write_parquet(df, out, partition_by=("name",))
    back = sources.read_parquet(spark, out)
    assert back.count() == 2
    assert set(back.columns) == {"id", "name", "amount"}
    # partition pruning: only one directory read for name='a'
    assert back.filter("name = 'a'").count() == 1


def test_xlsx_edge_converter(spark, tmp_path):
    openpyxl = pytest.importorskip("openpyxl")  # noqa: F841 - optional codec
    import pandas as pd

    p = tmp_path / "in.xlsx"
    pd.DataFrame({"id": [1, 2], "name": ["x", "y"], "amount": [1.5, 2.5]}).to_excel(
        p, index=False
    )
    df = sources.read_xlsx_as_df(spark, str(p), schema=SCHEMA)
    assert df.count() == 2


def test_xlsx_raises_clean_error_without_codec(spark, tmp_path):
    try:
        import openpyxl  # noqa: F401

        pytest.skip("openpyxl installed; error path not reachable")
    except ImportError:
        pass
    p = tmp_path / "missing.xlsx"
    p.write_bytes(b"PK\x03\x04fake")
    with pytest.raises((NotImplementedError, Exception)):
        sources.read_xlsx_as_df(spark, str(p))


def test_jsonl_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, 'a "quoted" line', "en"), (2, "unicode ÄÖÜ 機械", "de"), (3, None, None)],
        schema,
    )
    p = str(tmp_path / "docs_jsonl")
    sources.write_jsonl(df, p)
    back = sources.read_jsonl(spark, p, schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    df = spark.range(0, 1000).selectExpr(
        "id", "CAST(id % 4 AS STRING) AS shard"
    )
    p = str(tmp_path / "parts")
    sources.write_parquet(df, p, partition_by=("shard",))
    scan = spark.read.parquet(p).filter("shard = '2'")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # hive-style layout + partition filter => only shard=2 directory read
    assert "PartitionFilters" in plan and "shard" in plan
    assert scan.count() == 250
    files = [r[0] for r in scan.select(F.input_file_name()).distinct().collect()]
    assert files and all("shard=2" in f for f in files)


def test_merge_upsert_and_schema_evolution(spark, tmp_path):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        history,
    )

    cur = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, v string, amt double"
    )
    upd = spark.createDataFrame(
        [(2, "B2", 21.0), (4, "d", 40.0)], "k int, v string, amt double"
    )
    out = {r.k: (r.v, r.amt) for r in history.merge_upsert(cur, upd, ["k"]).collect()}
    assert out == {1: ("a", 10.0), 2: ("B2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    # schema drift: batch 2 adds a column; merged read NULL-fills batch 1
    p1, p2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    cur.write.parquet(p1)
    upd.withColumn("source", F.lit("s2")).write.parquet(p2)
    merged = history.read_with_schema_evolution(spark, [p1, p2])
    assert set(merged.columns) == {"k", "v", "amt", "source"}
    rows = {r.k: r.source for r in merged.collect()}
    assert rows[1] is None and rows[4] == "s2"


def test_orc_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("amt", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -0.25), (3, None, None)], schema
    )
    p = str(tmp_path / "orc_tbl")
    sources.write_orc(df, p)
    back = sources.read_orc(spark, p, schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
    # filter pushdown reaches the ORC scan like parquet
    plan = back.filter("k = 2")._jdf.queryExecution().executedPlan().toString()
    assert "orc" in plan.lower()


def test_xlsx_lite_writer_roundtrip(tmp_path):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        xlsx_lite,
    )

    p = str(tmp_path / "rt.xlsx")
    rows = [["id", "name", "amt"], [1, "alpha", 1.5], [2, "b <&> c", None]]
    xlsx_lite.write_xlsx_rows(p, rows)
    assert xlsx_lite.read_xlsx_rows(p) == rows


def test_xlsx_lite_roundtrip_fuzz(tmp_path):
    """Random payload fuzz of the xlsx codec: unicode (incl. the
    Turkish dotted-İ the reference data contains), xml-escapables,
    whitespace preservation, booleans, negative/large floats, Nones."""
    import random

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        xlsx_lite,
    )

    rng = random.Random(99)
    pool = ["VİNCE", "a<&>'\"b", "  lead/trail  ", "plain", "çöğüş", "漢字",
            "line1 line2", "#", "=SUM(A1)"]

    def cell(r, c):
        kind = rng.randint(0, 5)
        if kind == 0:
            return None
        if kind == 1:
            return rng.randint(-10**12, 10**12)
        if kind == 2:
            return round(rng.uniform(-1e6, 1e6), 6)
        if kind == 3:
            return rng.random() < 0.5
        return rng.choice(pool)

    header = [f"c{i}" for i in range(6)]
    rows = [header] + [[cell(r, c) for c in range(6)] for r in range(40)]
    p = str(tmp_path / "fuzz.xlsx")
    xlsx_lite.write_xlsx_rows(p, rows)
    got = xlsx_lite.read_xlsx_rows(p)
    assert got == rows


def test_image_codec_roundtrip_fuzz():
    """Random-dimension PPM/BMP round-trips, incl. widths that exercise
    every BMP row-padding residue (w%4 in 0..3) and 1-pixel images."""
    import random

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        multimodal,
    )

    rng = random.Random(100)
    dims = [(1, 1), (2, 1), (3, 2), (4, 3), (5, 4)] + [
        (rng.randint(1, 40), rng.randint(1, 40)) for _ in range(10)
    ]
    for w, h in dims:
        pixels = bytes(rng.randrange(256) for _ in range(3 * w * h))
        assert multimodal.decode_image_header(
            multimodal.encode_ppm(w, h, pixels)
        ) == ("ppm", w, h)
        assert multimodal.decode_image_header(
            multimodal.encode_bmp(w, h, pixels)
        ) == ("bmp", w, h)


def test_wav_codec_roundtrip_and_chunk_walk():
    """WAV encode→decode round-trips across rates/lengths incl. the
    int16 boundary values; the decoder must walk past extra RIFF
    chunks (LIST before data) and honor odd-size chunk word alignment."""
    import random
    import struct

    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        multimodal,
    )

    rng = random.Random(7)
    for rate, n in [(8000, 1), (44100, 17), (16000, 64)]:
        samples = [rng.randint(-32768, 32767) for _ in range(n)]
        samples[:2] = [-32768, 32767][: len(samples)]
        got_rate, got_ch, got = multimodal.decode_wav(
            multimodal.encode_wav(rate, samples)
        )
        assert (got_rate, got_ch, got) == (rate, 1, samples)

    # inject a LIST chunk with an ODD size between fmt and data: the
    # walker must skip it plus its alignment pad
    wav = multimodal.encode_wav(8000, [1, -2, 3])
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # 5 bytes + pad
    patched = wav[:fmt_end] + extra + wav[fmt_end:]
    assert multimodal.decode_wav(patched)[2] == [1, -2, 3]

    # honest boundaries: non-RIFF magic / non-PCM fmt
    import pytest

    with pytest.raises(NotImplementedError):
        multimodal.decode_wav(b"fLaC" + b"\x00" * 64)
    bad_fmt = bytearray(wav)
    bad_fmt[20] = 3  # fmt code 3 = IEEE float
    with pytest.raises(NotImplementedError):
        multimodal.decode_wav(bytes(bad_fmt))


def test_audio_stats_hand_computed(spark):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
        multimodal,
    )

    media = spark.createDataFrame(
        [
            (1, "audio", "audio/wav",
             bytearray(multimodal.encode_wav(8000, [100, -200, 300, -400])), {}),
            (2, "video", "video/x-fake", bytearray(b"\x00" * 8), {}),  # filtered out
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.audio_stats(media).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["media_id"], r["sample_rate"], r["n_samples"]) == (1, 8000, 4)
    assert r["duration_ms"] == 0 and r["peak"] == 400
    assert r["mean_abs"] == (100 + 200 + 300 + 400) / 4


def test_xlsx_python_datasource(spark, tmp_path):
    """format('xlsx') via the Spark 4 Python Data Source API: per-file
    partitions, typed schema, header handling — no openpyxl anywhere."""
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
        xlsx_lite,
    )
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.xlsx_datasource import (
        XlsxDataSource,
    )

    for i in range(2):
        xlsx_lite.write_xlsx_rows(
            str(tmp_path / f"batch{i}.xlsx"),
            [["id", "name", "amt"], [i * 10 + 1, f"a{i}", 1.5], [i * 10 + 2, f"b{i}", 2.5]],
        )
    spark.dataSource.register(XlsxDataSource)

    # explicit schema: typed columns
    df = (
        spark.read.format("xlsx")
        .schema("id long, name string, amt double")
        .load(str(tmp_path / "*.xlsx"))
    )
    assert df.rdd.getNumPartitions() == 2  # one per workbook
    got = {(r["id"], r["name"], r["amt"]) for r in df.collect()}
    assert got == {(1, "a0", 1.5), (2, "b0", 2.5), (11, "a1", 1.5), (12, "b1", 2.5)}

    # inferred schema: header names, all strings
    inf = spark.read.format("xlsx").load(str(tmp_path / "batch0.xlsx"))
    assert inf.columns == ["id", "name", "amt"]
    assert {r["id"] for r in inf.collect()} == {"1", "2"}


def test_csv_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "plain", 1.5), (2, 'comma, and "quote"', -2.0), (3, None, None)],
        schema,
    )
    p = str(tmp_path / "csv_out")
    sources.write_csv(df, p)
    back = sources.read_csv(spark, p, schema)
    assert sorted((r["k"], r["s"], r["v"]) for r in back.collect()) == sorted(
        (r["k"], r["s"], r["v"]) for r in df.collect()
    )


def test_csv_permissive_preserves_corrupt_rows(spark, tmp_path):
    p = tmp_path / "raw.csv"
    p.write_text("k,v\n1,10.5\nbad,not_a_number\n3,7.25\n")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = sources.read_csv(spark, str(p), schema).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert sorted((r["k"], r["v"]) for r in good.collect()) == [(1, 10.5), (3, 7.25)]
    assert [r["_corrupt_record"] for r in bad.collect()] == ["bad,not_a_number"]


def test_dynamic_partition_pruning_on_dim_filter(spark, tmp_path):
    """Star-schema scan contract at scale: a partitioned fact joined to
    a FILTERED dim must prune fact partitions at RUNTIME via dynamic
    partition pruning (the dim filter can't be pushed statically — the
    fact partition keys that survive are only known after the dim
    scan).  At 100 TB this is the difference between scanning one
    shard and scanning the whole table."""
    fact = spark.range(0, 2000).selectExpr(
        "id", "CAST(id % 8 AS LONG) AS shard_key", "id * 2 AS v"
    )
    p = str(tmp_path / "fact_parts")
    sources.write_parquet(fact, p, partition_by=("shard_key",))
    dim = spark.createDataFrame(
        [(k, "keep" if k < 2 else "drop") for k in range(8)],
        "shard_key long, tag string",
    )
    # disable broadcast to force the DPP subquery shape a big dim
    # would take; restore after
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (
            spark.read.parquet(p)
            .join(dim.filter("tag = 'keep'"), "shard_key")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        assert j.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_parquet_compression_codec_roundtrip_and_size(spark, tmp_path):
    """Codec knob: zstd output is materially smaller than uncompressed
    on compressible text, and both round-trip identically."""
    import glob
    import os

    df = spark.range(0, 20_000).selectExpr(
        "id", "repeat('the quick brown fox ', 20) AS text"
    )

    def size(p):
        return sum(os.path.getsize(f) for f in glob.glob(p + "/part-*.parquet"))

    pz = str(tmp_path / "zstd")
    pn = str(tmp_path / "none")
    sources.write_parquet(df.coalesce(1), pz, compression="zstd")
    sources.write_parquet(df.coalesce(1), pn, compression="none")
    assert size(pz) * 3 < size(pn)
    assert spark.read.parquet(pz).count() == spark.read.parquet(pn).count() == 20_000


def test_jsonl_corrupt_record_quarantine(spark, tmp_path):
    """Robust corpus ingest: PERMISSIVE mode with a _corrupt_record
    column keeps malformed lines AS DATA (null fields + raw line), so
    the ingest job can split clean rows from a quarantine sink instead
    of dying mid-100-TB (FAILFAST) or silently dropping (DROPMALFORMED)."""
    from pyspark.sql import types as T

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        'not json at all\n'
        '{"doc_id": 2, "text": "also ok"}\n'
        '{"doc_id": "NaN-ish", "text": 3}\n'
    )
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ])
    df = sources.read_jsonl(spark, str(p), schema).cache()
    clean = df.filter("_corrupt_record IS NULL")
    bad = df.filter("_corrupt_record IS NOT NULL")
    assert clean.count() == 2
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 2]
    assert bad.count() == 2
    raws = {r["_corrupt_record"] for r in bad.collect()}
    assert "not json at all" in raws
    df.unpersist()


def test_footer_stats_pushes_aggregates_to_parquet_footers(spark, sf_dir):
    from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources.readers import (
        footer_stats,
    )

    r = footer_stats(spark, f"{sf_dir}/lineitem.parquet", ["l_quantity"])
    assert r["l_quantity_min"] == 1.0 and r["l_quantity_max"] == 50.0
    assert r["cnt"] == spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # session confs restored
    assert spark.conf.get("spark.sql.sources.useV1SourceList") != ""


def test_orc_partitioned_write_prunes_directories(spark, tmp_path):
    """The partitioned ORC layout must prune at the directory level:
    a partition-column filter lands in PartitionFilters (metadata-only
    pruning), not in the data filters."""
    df = spark.range(100).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END AS seg"
    )
    p = str(tmp_path / "orc_part")
    sources.write_orc(df, p, partition_by=("seg",))
    back = sources.read_orc(spark, p)
    assert back.count() == 100
    plan = (
        back.filter("seg = 'A'")._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "seg" in plan.split("PartitionFilters")[1].split("]")[0]
    assert back.filter("seg = 'A'").count() == 50
