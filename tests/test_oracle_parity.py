"""Mirror of the driver's t2 gate: every declared query vs its DuckDB
oracle at sf0.001 (the driver runs sf0.01)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.oracle_utils import compare, duckdb_con

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_every_query_has_an_oracle():
    missing = set(QUERIES) - set(ORACLES)
    assert not missing, f"queries without oracle SQL: {sorted(missing)}"
    dangling = set(ORACLES) - set(QUERIES)
    assert not dangling, f"oracles without queries: {sorted(dangling)}"


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    ok, msg = compare(QUERIES[name](spark, sf_dir), con, ORACLES[name])
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.columns
