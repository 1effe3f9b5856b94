"""Persisted index tables that record their own schema.

The build-once/probe-many indexes (MinHash, IVF, keyword, BM25) are
parquet tables. Reading one with an explicit schema skips the one-task
schema-inference job a plain ``spark.read.parquet`` pays on every probe.
The schema is recorded per write, in ``_schema.json`` inside the table
directory, because one writer indexes string ``doc_id``s here and longs
there. Spark's listing skips ``_`` names and an overwrite deletes the
directory, so the file always matches the data; a table without it
raises. It goes through the table's Hadoop ``FileSystem``, so it lands
wherever Spark wrote the data.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SCHEMA_FILE = "_schema.json"


def _schema_file(spark: SparkSession, path: str):
    """The table's Hadoop ``FileSystem`` and the ``Path`` of its schema."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path, SCHEMA_FILE)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def write_table(df: DataFrame, path: str, *partition_by: str) -> None:
    """Overwrite the parquet table at ``path``, partitioned by the given
    columns, and record ``df``'s schema next to the data."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    fs, p = _schema_file(df.sparkSession, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(df.schema.json().encode("utf-8")))
    finally:
        out.close()


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a :func:`write_table` table with its recorded schema."""
    fs, p = _schema_file(spark, path)
    if not fs.exists(p):
        raise FileNotFoundError(f"{path} has no recorded schema "
                                f"({SCHEMA_FILE}); rebuild the index")
    stream = fs.open(p)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()
    return spark.read.schema(T.StructType.fromJson(json.loads(text))) \
        .parquet(path)
