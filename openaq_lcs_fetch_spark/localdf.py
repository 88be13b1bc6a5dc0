"""Driver-side rows → DataFrame without a Python worker.

``SparkSession.createDataFrame(rows)`` pickles the rows into a
``parallelize`` RDD: every action on the frame then starts a Python
task per slice just to unpickle a handful of rows, ~0.2 CPU-s of fixed
cost each before the first row (worker fork plus its import-cache
refresh). The engine's dimension, spec and fixture frames are read by
every job that broadcasts or writes from them, so that cost repeats.

``local_df`` converts the rows on the driver into an Arrow table with
pyspark's own ``LocalDataToArrowConversion`` (the converter Spark
Connect uses for local rows: naive timestamps are read as host-local
time, exactly as ``TimestampType.toInternal`` reads them) and hands the
table to ``createDataFrame``, which ships the Arrow batches to the JVM.
The resulting frame is a JVM-only scan: no ``PythonRDD`` in its lineage
at any size, so there is no slice count to tune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame(rows, schema)`` built in the JVM from an Arrow
    table (see module docstring). ``schema`` is a ``StructType`` or a
    DDL string such as ``"k int, v string"``."""
    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    data = rows if isinstance(rows, list) else list(rows)
    if data:
        table = LocalDataToArrowConversion.convert(data, schema, False)
    else:
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)
