"""Layer-3 driver-contract tests (SURVEY §5.2.3): every queries() entry runs
and matches its DuckDB oracle twin at sf0.001 (the driver re-runs the same
comparison at sf0.01)."""

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.crosscheck import TABLES, compare

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns  # stable schema


def test_every_query_has_oracle_or_is_documented():
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    missing = set(osql) - set(qs)
    assert not missing, f"oracle entries without a query: {missing}"
    no_oracle = set(qs) - set(osql)
    # only genuinely non-SQL-expressible ops may omit the oracle: the ANN
    # pair (recall contract in RECALL.json + tests/test_ann_planted.py) and the HLL
    # sketch estimate (implementation-specific estimator; error-bound +
    # merge tests in test_round6.py)
    assert no_oracle <= {"ann_cosine_lsh", "ann_cosine_ivf", "cardinality_sketch"}, no_oracle


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_matches_oracle(spark, duck, name):
    fn = entrymod.queries()[name]
    sdf = fn(spark, SF)
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        assert sdf.count() >= 0  # rows-only check
        return
    err = compare(name, sdf, duck, sql)
    assert err is None, err
