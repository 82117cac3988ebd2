"""Spark 4 Python Data Source exposing xlsx as a first-class format:

    spark.dataSource.register(XlsxDataSource)
    spark.read.format("xlsx").schema(ddl).load("/data/*.xlsx")

The one xlsx reader, built for multi-file extracts: one input partition
PER FILE, so a directory of country-month customs workbooks (the
reference's batch unit, `Data_processing_process_earthmoving_and_crane.ipynb`
cell 4) scans in parallel across executors.  The cell parser is the stdlib-only
``xlsx_lite`` module, so executors need no extra packages.

Scale notes: xlsx is the INGEST edge, not the storage format — the
expected pattern is format("xlsx") → write.parquet once, columnar
thereafter.  Parallelism is file-count-bound (xlsx has no intra-file
split points); thousands of workbook files spread fine.
"""

from __future__ import annotations

import glob

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from . import xlsx_lite


def _paths(options: dict) -> list[str]:
    path = options.get("path")
    if not path:
        raise ValueError("xlsx source requires a path: .load('/dir/*.xlsx')")
    found = sorted(glob.glob(path))
    if not found:
        raise FileNotFoundError(f"no xlsx files match {path!r}")
    return found


def _convert(value, dtype: T.DataType):
    if value is None:
        return None
    if isinstance(dtype, T.StringType):
        return str(value)
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType)):
        return int(float(value))
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(value)
    if isinstance(dtype, T.BooleanType):
        return bool(value)
    return value


class XlsxDataSource(DataSource):
    """``format("xlsx")``: header row = column names; without a
    user-supplied schema every column is a nullable string (numeric
    casts belong downstream where they are declared and checkable)."""

    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self):
        # called only when the user didn't pass .schema(...): infer
        # column names from the first file's header row, all-string
        first = _paths(self.options)[0]
        rows = xlsx_lite.read_xlsx_rows(first, sheet=int(self.options.get("sheet", 1)))
        header = rows[0] if rows else []
        fields = [
            T.StructField(str(h) if h is not None else f"col_{i}", T.StringType())
            for i, h in enumerate(header)
        ]
        return T.StructType(fields)

    def reader(self, schema: T.StructType) -> "XlsxReader":
        return XlsxReader(self.options, schema)


class XlsxReader(DataSourceReader):
    def __init__(self, options: dict, schema: T.StructType):
        self._options = options
        self._schema = schema
        self._sheet = int(options.get("sheet", 1))
        self._files = _paths(options)

    def partitions(self):
        # one partition per workbook: executor-parallel multi-file scans
        return [InputPartition(p) for p in self._files]

    def read(self, partition: InputPartition):
        rows = xlsx_lite.read_xlsx_rows(partition.value, sheet=self._sheet)
        dtypes = [f.dataType for f in self._schema.fields]
        width = len(dtypes)
        for row in rows[1:]:  # skip header
            padded = (row + [None] * width)[:width]
            yield tuple(_convert(v, t) for v, t in zip(padded, dtypes))
