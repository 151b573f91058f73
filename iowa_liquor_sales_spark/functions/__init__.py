"""Column-expression layer: pure ``pyspark.sql.functions`` compositions.

No Python UDFs here — every helper returns a Catalyst expression, so it runs
in the JVM and is pushdown/pruning friendly. The higher-order functions in
``vectors`` are evaluated interpreted, not inside whole-stage codegen.
"""

from iowa_liquor_sales_spark.functions.cleansing import (
    coerce_numeric,
    coerce_timestamp,
    fill_zero,
    to_silver,
)
from iowa_liquor_sales_spark.functions.dates import date_parts, pg_dow
from iowa_liquor_sales_spark.functions.hashing import hash60, md5_hex
from iowa_liquor_sales_spark.functions.sums import davg, dsum
from iowa_liquor_sales_spark.functions.vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "coerce_numeric",
    "coerce_timestamp",
    "fill_zero",
    "to_silver",
    "date_parts",
    "pg_dow",
    "hash60",
    "md5_hex",
    "dsum",
    "davg",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
