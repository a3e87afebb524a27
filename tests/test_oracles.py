"""Registry queries against their DuckDB oracles at sf0.001, compared the
way scripts/check_oracles.py compares them: row count, column names and
the order-insensitive value hash. A subset of the registry; the full
sweep is scripts/check_oracles.py."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from scripts.check_oracles import TABLES, value_hash

SF = entry.SF0001

QUERIES = [
    "token_counts_bpe",
    "clean_canonicalize",
    "doc_fingerprint",
    "funnel_conversion",
    "funnel_windowed",
]


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
