"""Registry queries against their DuckDB oracles at sf0.001, compared the
way scripts/check_oracles.py compares them: row count, column names and
the order-insensitive value hash. The bench headline and a few more; the
full sweep over the registry is scripts/check_oracles.py."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
import bench
from scripts.check_oracles import TABLES, value_hash

SF = entry.SF0001

# the bench headline plus three oracles that render nontrivial logic in
# SQL: the BPE merge chain and the unbounded and 7-day funnel windows
QUERIES = sorted(
    set(bench.HEADLINE) | {"token_counts_bpe", "funnel_conversion", "funnel_windowed"}
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    got = entry.queries()[name](spark, SF).toPandas()
    want = duck.sql(entry.oracle_sql()[name]).df()
    assert len(got) > 0
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    assert value_hash(got) == value_hash(want)
