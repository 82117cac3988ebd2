"""Sources & sinks (S1–S5): the interchange edge.

Every table the engine persists is a Delta table written through
``sources/delta_lite`` (one format, one replay rule; its ``compact``,
``optimize_small_files``, ``optimize_cluster`` and ``optimize_zorder``
are the layout writers).  This module reads and writes the formats at
the edge: Parquet files, CSV with explicit schemas, JSON lines, ORC,
the Hive-bucketed catalog table and footer-only statistics.  xlsx
exists only at the ingestion edge (reference S1/S2 read xlsx), through
the ``xlsx`` data source (``sources/xlsx_datasource``).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """Explicit schema always (SURVEY §1.3: no inferred schemas), with
    a header line; PERMISSIVE + columnNameOfCorruptRecord preserves bad
    rows for the validation stage instead of failing the job."""
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    compression: str | None = None,
) -> None:
    """Overwrites ``path``.  ``compression``: parquet codec override
    ("zstd", "snappy", "gzip", "none"); default None keeps the session codec.  At 100 TB
    the codec is a first-order storage/scan-cost knob — zstd typically
    reads smaller AND decompresses faster than gzip; text-heavy corpus
    tables compress several-fold."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """JSON-lines source (the lingua franca of LLM training corpora),
    PERMISSIVE.  Explicit schema: schema inference would scan the full
    100 TB input once before the real job even starts."""
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV export at the edge, with a header line, overwriting ``path``
    (engine-canonical format stays parquet).  Compression off so
    downstream line tools work."""
    df.write.mode("overwrite").option("header", True).csv(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC source — same columnar pushdown/pruning guarantees as
    parquet via Spark's built-in vectorized ORC reader (no extra
    packages).  Some lakehouse estates are ORC-native (Hive legacy);
    the engine treats it as a first-class interchange format."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_bucketed_table(
    df,
    table: str,
    bucket_cols: "list[str]",
    num_buckets: int = 32,
    sort_cols: "list[str] | None" = None,
) -> None:
    """Persist (overwrite) a Hive-bucketed (optionally sorted) managed table —
    the co-located-join primitive: two tables bucketed on the same
    keys with the same bucket count join WITHOUT any shuffle (each
    task reads bucket i of both sides), and bucket-sorted data skips
    the sort of a sort-merge join too.  This is THE amortization for
    a 100 TB fact table that joins on the same key every day: pay the
    shuffle once at write time, never again at read time.

    Bucketing metadata lives in the catalog, so this goes through
    ``saveAsTable`` (a plain ``.parquet(path)`` write cannot carry
    it); readers use ``spark.table(name)``.  The bucket function is
    Spark's Murmur3 — stable across Spark versions but engine-
    specific, which is why bucketed layout is a performance contract,
    not a data-exchange format."""
    w = df.write.format("parquet").mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def footer_stats(spark, path: str, cols: "list[str]"):
    """Min/max/count for ``cols`` computed from parquet FOOTER
    statistics alone — Spark's DSv2 aggregate pushdown
    (``PushedAggregation`` in the scan) answers them without reading a
    single data page.  At 100 TB this is the data-discovery primitive:
    profiling a lake of cold tables costs footer reads, not scans.

    Pushdown needs the v2 parquet source and no data filters; both
    confs are set for the build of THIS plan and restored after.  Rows
    with NULLs are handled by the footers' own null accounting (parquet
    min/max exclude nulls; count(*) includes them).  Returns one row:
    ``cnt`` + ``<col>_min`` / ``<col>_max`` per column."""
    from pyspark.sql import functions as F

    v1_key = "spark.sql.sources.useV1SourceList"
    agg_key = "spark.sql.parquet.aggregatePushdown"
    old_v1, old_agg = spark.conf.get(v1_key), spark.conf.get(agg_key)
    try:
        spark.conf.set(v1_key, "")
        spark.conf.set(agg_key, "true")
        aggs = [F.count("*").alias("cnt")]
        for c in cols:
            aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
        df = spark.read.parquet(path).agg(*aggs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "PushedAggregation: []" in plan or "PushedAggregation" not in plan:
            raise ValueError(
                "aggregate pushdown did not engage for "
                f"{path} {cols} — column type unsupported by footer stats"
            )
        return df.collect()[0]
    finally:
        spark.conf.set(v1_key, old_v1)
        spark.conf.set(agg_key, old_agg)
