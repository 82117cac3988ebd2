"""Explicit schemas (SURVEY §1.2) + testdata table loaders.

The reference infers every schema from ``pd.read_excel`` (SURVEY §1.3);
here every table gets a declared ``StructType`` so scans fail fast and
Parquet readers prune columns/partitions reliably at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Driver-provided synthetic star schema (TESTDATA.md)
# ---------------------------------------------------------------------------

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table.  Parquet carries its own schema; Catalyst
    prunes columns/filters at the scan, so no projection is forced here.
    events.ts is TIMESTAMP(NANOS) parquet read as long nanos (see
    session.RUNTIME_CONF) — normalized to a micros timestamp so SQL/
    DataFrame consumers see a real timestamp column."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# ---------------------------------------------------------------------------
# Domain tables (reference data model, SURVEY §1.2, snake_cased)
# ---------------------------------------------------------------------------

# fact: one row per customs line item.
# Reference: Input data/Indonesia_842952_May_July.xlsx header (27 cols).
SHIPMENTS_SCHEMA = T.StructType(
    [
        T.StructField("shipment_id", T.LongType()),
        T.StructField("month", T.IntegerType()),          # yyyymm
        T.StructField("hs_code", T.StringType()),
        T.StructField("product_description", T.StringType()),
        T.StructField("code_description", T.StringType()),
        T.StructField("importer", T.StringType()),
        T.StructField("supplier", T.StringType()),
        T.StructField("original_country", T.StringType()),
        T.StructField("original_state", T.StringType()),
        T.StructField("qty", T.StringType()),             # raw; coerced later
        T.StructField("unit", T.StringType()),
        T.StructField("amount_in_usd", T.DoubleType()),
        T.StructField("price_in_usd", T.DoubleType()),
        T.StructField("amount_in_contract", T.DoubleType()),
        T.StructField("price_in_contract", T.DoubleType()),
        T.StructField("date", T.StringType()),            # 'yyyy/MM/dd'
        T.StructField("declaration_number", T.StringType()),
        T.StructField("import_export", T.StringType()),
        T.StructField("destination_port", T.StringType()),
        T.StructField("foreign_port", T.StringType()),
        T.StructField("importer_address", T.StringType()),
        T.StructField("exporter_address", T.StringType()),
        T.StructField("currency", T.StringType()),
        T.StructField("amount_in_idr", T.DoubleType()),
        T.StructField("price_in_idr", T.DoubleType()),
        T.StructField("unit_price_in_usd_by_weight", T.DoubleType()),
        T.StructField("weight_in_kg", T.StringType()),    # raw; coerced later
    ]
)

# dim: exact model catalog.
# Reference: model_ref xlsx, schema at nb cell 16 (L~190).
# ``ref_idx`` materializes original row order — the J1 first-match
# tie-break must be deterministic under Spark's unordered execution.
MODEL_REF_SCHEMA = T.StructType(
    [
        T.StructField("ref_idx", T.IntegerType()),
        T.StructField("brand", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("capacity", T.DoubleType()),
        T.StructField("type", T.StringType()),
        T.StructField("hp", T.DoubleType()),
    ]
)

# dim: regex naming-rule knowledge base.
# Reference: regex_kb xlsx, schema at nb cell 27 (L~457); kb_order is the
# table order after the length-desc sort (prog.py:445) — J3 tie-break.
REGEX_KB_SCHEMA = T.StructType(
    [
        T.StructField("kb_order", T.IntegerType()),
        T.StructField("brand", T.StringType()),
        T.StructField("model_regex", T.StringType()),
        T.StructField("capacity_regex", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("starting_point", T.IntegerType()),
    ]
)

# dim: month-keyed USD→CNY rates (reference rate_dict, prog.py:322-323).
FX_RATES_SCHEMA = T.StructType(
    [
        T.StructField("year", T.IntegerType()),
        T.StructField("month", T.IntegerType()),
        T.StructField("usd_cny_rate", T.DoubleType()),
    ]
)
