"""Readers (reference S1-S5 re-expressed).

The reference's paged HTTP extract loop (``src/extract.py:34-60``: SoQL
``$limit/$offset`` pagination, stop-on-empty-page) exists because pandas
must bound memory by hand. In Spark the same semantics are a partitioned
scan: ``spark.read`` splits files into tasks, predicates push down to the
source, and "chunking" is just ``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    null_value: str | None = None,
    timestamp_format: str | None = None,
) -> DataFrame:
    """Typed CSV scan (reference S2, src/extract.py:27-31) — explicit schema
    (never inference: inference reads the data twice and guesses), PERMISSIVE
    mode so malformed cells become NULLs like ``errors="coerce"``."""
    reader = spark.read.schema(schema).option("header", header).option("mode", "PERMISSIVE")
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    if timestamp_format is not None:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)
