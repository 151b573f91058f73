"""Bronze→silver→gold over an Iowa-shaped fixture with the reference's
data pathologies (FIXTURES.md §A hints: unparseable numerics, conflicting
dim attributes, NULL keys) and its conservation-check test style
(SURVEY §5: row counts preserved, nulls eliminated, keys unique)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from iowa_liquor_sales_spark.operators.joins import fk_violations, pk_duplicates
from iowa_liquor_sales_spark.plans.iowa import (
    FK_CHECKS,
    PK_CHECKS,
    build_gold,
    fact_sales,
    silver,
    validate_gold,
)
from iowa_liquor_sales_spark.schemas import IOWA_COERCE_COLS, IOWA_RAW_SCHEMA
from iowa_liquor_sales_spark.sources.readers import read_csv
from iowa_liquor_sales_spark.sources.writers import write_csv


@pytest.fixture(scope="module")
def bronze(spark, tmp_path_factory):
    """120 synthetic raw rows: ~5% garbage numerics, duplicate stores with
    conflicting attributes, NULL keys, one duplicated invoice PK."""
    rows = []
    for i in range(120):
        store = None if i % 17 == 0 else f"S{i % 7}"
        store_name = f"Store {i % 7}" + (" alt" if i % 21 == 0 else "")
        rows.append(
            (
                f"INV-{i:05d}" if i != 99 else "INV-00098",  # dup PK at 98/99
                f"2021-0{1 + i % 9}-{1 + i % 27:02d} 00:00:00"
                if i % 19 != 0
                else "not a date",
                store,
                store_name,
                f"{i} Main St",
                "Des Moines",
                "50309",
                "POINT (-93.6 41.6)",
                "77",
                "Polk",
                None if i % 23 == 0 else f"C{i % 4}",
                f"Cat {i % 4}",
                f"V{i % 5}",
                f"Vendor {i % 5}",
                f"I{i % 11}",
                f"Item {i % 11}",
                "12" if i % 20 != 5 else "twelve",  # pack garbage
                "750",
                str(5 + i % 10) if i % 25 != 6 else "",  # empty cost
                str(8 + i % 10),
                "6",
                f"{(6 * (8 + i % 10)):.2f}",
                "4.5",
                "1.19",
            )
        )
    path = str(tmp_path_factory.mktemp("iowa_csv"))
    df = spark.createDataFrame(rows, IOWA_RAW_SCHEMA)
    write_csv(df, path, header=True)
    return read_csv(spark, path, IOWA_RAW_SCHEMA, header=True, null_value="\\N")


def test_silver_conservation(bronze):
    s = silver(bronze)
    # Row count preserved through the narrow transform (reference
    # task_transform.log invariant: 285 chunks in == 285 out).
    assert s.count() == bronze.count()
    # Zero nulls in coerced numeric columns (reference
    # tests/test_transform.py:11 invariant).
    for c in IOWA_COERCE_COLS:
        assert s.filter(F.col(c).isNull()).count() == 0, c
    # Garbage numerics became 0, not errors.
    assert s.filter(F.col("pack") == 0).count() > 0
    # Unparseable dates became NULL (errors='coerce' semantics).
    assert s.filter(F.col("date").isNull()).count() > 0
    # Types are the declared target types.
    dt = dict(s.dtypes)
    assert dt["pack"] == "int" and dt["sale_dollars"] == "double"
    assert dt["date"] == "timestamp"


def test_gold_dims_and_fact(bronze):
    s = silver(bronze)
    gold = build_gold(s)
    # Dim keys unique & non-null (ON CONFLICT DO NOTHING semantics).
    for name, key in FK_CHECKS.values():
        d = gold[name]
        assert d.filter(F.col(key).isNull()).count() == 0, name
        assert d.groupBy(key).count().filter("count > 1").count() == 0, name
    # Conflicting store attributes collapse to ONE deterministic winner.
    assert gold["dim_store"].count() == 7
    # Fact PK dedup: the duplicated invoice keeps exactly one row.
    f = gold["fact_sales"]
    assert f.groupBy("invoice_line_no").count().filter("count > 1").count() == 0
    # Rebuild determinism: same winner twice.
    again = fact_sales(s)
    assert (
        f.select("invoice_line_no", "sale_dollars")
        .exceptAll(again.select("invoice_line_no", "sale_dollars"))
        .count()
        == 0
    )


def _per_check_reference(gold) -> dict[str, int]:
    """One action per constraint, through the registry's own operators."""
    out = {
        check: pk_duplicates(gold[table], [key]).count()
        for check, (table, key) in PK_CHECKS.items()
    }
    fact = gold["fact_sales"]
    for fk, (dim, key) in FK_CHECKS.items():
        live = fact.filter(F.col(fk).isNotNull())
        out[f"fk_{fk}"] = fk_violations(live, gold[dim], fk, key).count()
    return out


@pytest.fixture(scope="module")
def broken_gold(bronze):
    """Gold with injected violations: a duplicated fact PK, a duplicated
    dim_store key (S1), an orphan store FK, an orphan date FK on a row whose
    store is S1 (a fan-out of fact rows would count it twice), and a NULL
    store FK (not a violation)."""
    gold = build_gold(silver(bronze))
    fact, stores = gold["fact_sales"], gold["dim_store"]
    row = fact.filter(F.col("invoice_line_no") == "INV-00001")
    assert row.first()["store"] == "S1"
    for inv, col, value in [
        ("INJ-store", "store", F.lit("S-orphan")),
        ("INJ-date", "date", F.lit("1999-12-31").cast("date")),
        ("INJ-null", "store", F.lit(None).cast("string")),
    ]:
        fact = fact.unionByName(row.withColumn("invoice_line_no", F.lit(inv)).withColumn(col, value))
    dup = stores.filter(F.col("store") == "S1").withColumn("name", F.lit("Store 1 dup"))
    return {**gold, "fact_sales": fact.unionByName(row), "dim_store": stores.unionByName(dup)}


def test_validate_gold_matches_per_check_reference(spark, bronze, broken_gold):
    clean = build_gold(silver(bronze))
    zeros = dict.fromkeys([*PK_CHECKS, *(f"fk_{fk}" for fk in FK_CHECKS)], 0)
    assert validate_gold(clean) == _per_check_reference(clean) == zeros
    sc, got, jobs = spark.sparkContext, {}, {}
    for group, checks in [("reference", _per_check_reference), ("fused", validate_gold)]:
        sc.setJobGroup(group, group)
        got[group] = checks(broken_gold)
        jobs[group] = len(sc.statusTracker().getJobIdsForGroup(group))
    for prop in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(prop, None)
    want = {**zeros, "pk_fact": 1, "pk_dim_store": 1, "fk_store": 1, "fk_date": 1}
    assert got["reference"] == got["fused"] == want
    # The fused checks launch fewer Spark jobs than one action per check.
    assert 0 < jobs["fused"] < jobs["reference"], jobs


def test_dim_date_pg_dow_convention(spark):
    from iowa_liquor_sales_spark.functions.dates import date_parts

    df = spark.createDataFrame(
        [("2026-08-09",), ("2026-08-15",), ("2026-08-12",)], ["d"]
    ).select(*date_parts(F.to_date("d")))
    rows = {r["date"].isoformat(): r for r in df.collect()}
    # Postgres DOW: Sunday=0, Saturday=6 (session.sql:117-126).
    assert rows["2026-08-09"]["day_of_week"] == 0  # Sunday
    assert rows["2026-08-15"]["day_of_week"] == 6  # Saturday
    assert rows["2026-08-12"]["day_of_week"] == 3  # Wednesday
    assert rows["2026-08-09"]["is_weekend"] and rows["2026-08-15"]["is_weekend"]
    assert not rows["2026-08-12"]["is_weekend"]


def test_cli_pipeline_end_to_end(spark, tmp_path, capsys):
    import json

    from examples.run_iowa_pipeline import stage_sample_pages

    from iowa_liquor_sales_spark.__main__ import main

    pages, wh = str(tmp_path / "pages"), tmp_path / "wh"
    stage_sample_pages(spark, pages, n_rows=2000)
    capsys.readouterr()
    assert main(["pipeline", "--input", pages, "--workdir", str(wh), "--fact-partition-by-year"]) == 0
    out = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert set(out["violations"].values()) == {0}, out["violations"]
    # Every printed count is the row count of the parquet that stage wrote.
    stages = ["bronze", "silver", *(f"gold/{table}" for table, _ in PK_CHECKS.values())]
    written = {f"{s.removeprefix('gold/')}_rows": spark.read.parquet(str(wh / s)) for s in stages}
    assert {k: v for k, v in out.items() if k.endswith("_rows")} == {
        k: df.count() for k, df in written.items()
    }
    assert out["fact_sales_rows"] == 2000
    # hive partitioning materialized: year appears as a partition column
    assert "year" in written["fact_sales_rows"].columns
