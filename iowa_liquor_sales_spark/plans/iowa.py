"""The Iowa Liquor Sales pipeline, Spark-first.

Reference shape (SURVEY §3): Airflow DAG ``extract >> transform >> load``
(dags/iowa_liquor_dag.py:59-74) + a Postgres session script deriving a star
schema (IowaLiquor-RDS.session.sql:1-182). Here the whole thing is one lazy
Spark application with three materialization points:

- bronze: typed CSV scan of staged pages (no inference)
- silver: coercions + null-fill (src/transform.py:11-23 semantics)
- gold:   five dims + fact_sales with PK/FK validation — the session
  script's six INSERT ... SELECT DISTINCT ... ON CONFLICT DO NOTHING
  statements become distinct + first-wins dedup DataFrames.

Scale: bronze→silver is a single narrow stage; each dim build shuffles only
its dim's distinct attribute tuples (tiny); the fact build is a projection.
Gold tables should be written partitioned (fact by year) and the dims are
broadcast at query time — see operators/joins.star_join.

``validate_gold`` checks the gold tables it is given; the pipeline
(``__main__.run_pipeline``) passes the written parquet read back, and
counts each stage from its parquet, so neither re-derives a stage.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iowa_liquor_sales_spark.functions.cleansing import to_silver
from iowa_liquor_sales_spark.functions.dates import date_parts
from iowa_liquor_sales_spark.operators.dedup import dedup_rank
from iowa_liquor_sales_spark.schemas import IOWA_INT_COLS, IOWA_NUM_COLS

# Dim column layouts: IowaLiquor-RDS.session.sql:85-156.
DIM_STORE_COLS = [
    "store",
    "name",
    "address",
    "city",
    "zipcode",
    "store_location",
    "county_number",
    "county",
]
DIM_ITEM_COLS = [
    "itemno",
    "im_desc",
    "pack",
    "bottle_volume_ml",
    "state_bottle_cost",
    "state_bottle_retail",
]
DIM_VENDOR_COLS = ["vendor_no", "vendor_name"]
DIM_CATEGORY_COLS = ["category", "category_name"]
FACT_COLS = [
    "invoice_line_no",
    "date",
    "store",
    "itemno",
    "vendor_no",
    "category",
    "sale_bottles",
    "sale_dollars",
    "sale_liters",
    "sale_gallons",
]


def silver(bronze: DataFrame) -> DataFrame:
    """Reference transform stage (C1-C3, src/transform.py:11-23): datetime
    coercion, 8 numeric coercions, null→0 fill. One narrow stage."""
    return to_silver(
        bronze,
        ts_cols=("date",),
        int_cols=IOWA_INT_COLS,
        num_cols=IOWA_NUM_COLS,
    )


def _dim(df: DataFrame, key: str, cols: list[str]) -> DataFrame:
    """Shared dim recipe (session.sql pattern): WHERE key IS NOT NULL →
    SELECT DISTINCT cols → first-wins one-row-per-key. The winner under
    ``ON CONFLICT DO NOTHING`` is unspecified; here it is deterministic
    (ordered by the remaining attributes) so rebuilds are idempotent."""
    distinct = df.filter(F.col(key).isNotNull()).select(*cols).distinct()
    tiebreak = [c for c in cols if c != key]
    return dedup_rank(distinct, [key], tiebreak or [key])


def dim_date(silver_df: DataFrame) -> DataFrame:
    """session.sql:104-127 — day-trunc date + year/quarter/month + Postgres
    DOW + weekend flag, distinct over non-null dates."""
    return (
        silver_df.filter(F.col("date").isNotNull())
        .select(*date_parts("date"))
        .distinct()
    )


def fact_sales(silver_df: DataFrame) -> DataFrame:
    """session.sql:160-182: fact projection keyed by invoice_line_no with
    first-wins PK dedup, date day-truncated."""
    fact = (
        silver_df.filter(F.col("invoice_line_no").isNotNull())
        .select(*FACT_COLS)
        .withColumn("date", F.to_date("date"))
    )
    return dedup_rank(fact, ["invoice_line_no"], ["date", "store", "itemno"])


def build_gold(silver_df: DataFrame) -> dict[str, DataFrame]:
    return {
        "dim_store": _dim(silver_df, "store", DIM_STORE_COLS),
        "dim_item": _dim(silver_df, "itemno", DIM_ITEM_COLS),
        "dim_vendor": _dim(silver_df, "vendor_no", DIM_VENDOR_COLS),
        "dim_category": _dim(silver_df, "category", DIM_CATEGORY_COLS),
        "dim_date": dim_date(silver_df),
        "fact_sales": fact_sales(silver_df),
    }


# Constraint checks (session.sql:67-73): fact_sales FK column -> its dim
# and key, and PK check -> table and key.
FK_CHECKS = {
    "store": ("dim_store", "store"),
    "itemno": ("dim_item", "itemno"),
    "vendor_no": ("dim_vendor", "vendor_no"),
    "category": ("dim_category", "category"),
    "date": ("dim_date", "date"),
}
PK_CHECKS = {"pk_fact": ("fact_sales", "invoice_line_no")} | {
    f"pk_{dim}": (dim, key) for dim, key in FK_CHECKS.values()
}


def _pk_check(gold: dict[str, DataFrame]) -> DataFrame:
    """``(check, count)``: duplicated key groups, for checks with any."""
    keyed = [
        gold[table].select(F.lit(check).alias("check"), F.col(key).cast("string").alias("key"))
        for check, (table, key) in PK_CHECKS.items()
    ]
    groups = reduce(DataFrame.unionByName, keyed).groupBy("check", "key").count()
    return groups.filter(F.col("count") > 1).groupBy("check").count()


def _fk_check(gold: dict[str, DataFrame]) -> DataFrame:
    """One row: ``fk_<col>``, the fact rows whose non-NULL key has no dim row."""
    fact = gold["fact_sales"]
    for fk, (dim, key) in FK_CHECKS.items():
        keys = gold[dim].select(F.col(key).alias(f"_{fk}")).distinct()
        fact = fact.join(F.broadcast(keys), F.col(fk) == F.col(f"_{fk}"), "left")
    orphan = {fk: F.col(fk).isNotNull() & F.col(f"_{fk}").isNull() for fk in FK_CHECKS}
    return fact.agg(*[F.count_if(c).alias(f"fk_{fk}") for fk, c in orphan.items()])


def validate_gold(gold: dict[str, DataFrame]) -> dict[str, int]:
    """PK/FK checks (reference J1/J2: Postgres constraints,
    session.sql:67-73). Returns violation counts — all zeros on a healthy
    build: per PK, the number of duplicated key groups; per FK, the number
    of fact rows whose non-NULL key has no dim row.

    Two actions: one aggregate over every table's keys (``_pk_check``) and
    one broadcast pass over the fact (``_fk_check``). The dim key sets are
    DISTINCT because the FK joins are chained: a duplicated dim key would
    otherwise fan out fact rows, and an orphan on another FK would count
    once per copy. Pass the tables as written (read back from parquet), so
    that the checks do not re-derive them."""
    pk = {r["check"]: r["count"] for r in _pk_check(gold).collect()}
    return {c: pk.get(c, 0) for c in PK_CHECKS} | _fk_check(gold).first().asDict()
