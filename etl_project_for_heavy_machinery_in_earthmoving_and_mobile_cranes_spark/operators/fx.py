"""J7 — month-keyed FX conversion (prog.py:320-340 convert_usd_to_cny).

The reference loops over a nested {year:{month:rate}} dict; here the
rates are a 3-column dim broadcast-joined on (year, month) extracted
from the row date.  Rows whose month has no rate keep NULL CNY values —
exactly the reference's unmatched-month behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import FX_RATES_SCHEMA


def fx_rates_df(spark: SparkSession, rates: dict[int, dict[int, float]]) -> DataFrame:
    rows = [(y, m, r) for y, months in rates.items() for m, r in months.items()]
    return spark.createDataFrame(rows, FX_RATES_SCHEMA)


def convert_usd_to_cny(
    df: DataFrame,
    fx: DataFrame,
    date_col: str = "date",
) -> DataFrame:
    d = F.to_date(F.col(date_col))
    # rename fx keys: the fact table itself has a `month` column (yyyymm)
    fxr = fx.select(
        F.col("year").alias("__fx_y"),
        F.col("month").alias("__fx_m"),
        "usd_cny_rate",
    )
    joined = df.withColumn("__y", F.year(d)).withColumn("__m", F.month(d)).join(
        F.broadcast(fxr),
        on=(F.col("__y") == F.col("__fx_y")) & (F.col("__m") == F.col("__fx_m")),
        how="left",
    )
    for c in ("price_in_usd", "amount_in_usd"):
        joined = joined.withColumn(
            c.replace("_usd", "_cny"), F.col(c) * F.col("usd_cny_rate")
        )
    return joined.drop("__y", "__m", "__fx_y", "__fx_m", "usd_cny_rate")
