"""Every registered maintained query against its DuckDB oracle at sf0.001,
through the life of its state: cold, warm, after a crash between two
bootstrap commits, and after compaction. Compared the way
scripts/check_oracles.py compares (the order-insensitive value hash)."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

import __spark_entry__ as entry
from janet_spark.dedup_incremental import DSIR_COUNTS, EXACT_CENSUS, LINE_CENSUS, PAIRS
from janet_spark.maintained import compact_generations, read
from janet_spark.queries_extra import IVF_INDEX
from janet_spark.queries_relational import RETENTION_ACTIVITY, RETENTION_FIRST
from janet_spark.sketches import HISTOGRAM, HLL_REGISTERS
from scripts.check_oracles import TABLES, value_hash

SF = entry.SF0001

# the state name each query passes to state_dir_for_input -> its table
SPECS = {
    "pairs": PAIRS,
    "exact_census": EXACT_CENSUS,
    "line_census": LINE_CENSUS,
    "dsir_counts": DSIR_COUNTS,
    "hll_registers": HLL_REGISTERS,
    "quantile_hist": HISTOGRAM,
    "retention_first": RETENTION_FIRST,
    "retention_activity": RETENTION_ACTIVITY,
    "ivf_index": IVF_INDEX,
    "ivf_index_delta": IVF_INDEX,
}

QUERIES = [
    "dedup_report_incremental",
    "contrastive_pairs_incremental",
    "line_dedup_corpus_incremental",
    "dsir_importance_incremental",
    "distinct_count_hll_incremental",
    "quantile_hist_incremental",
    "retention_cohorts_incremental",
    "ann_ivf_topk_indexed",
    "ann_ivf_topk_indexed_delta",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def _spec(table: str):
    return SPECS[table.rsplit("_", 1)[0]]


def _tables(spark, root: str) -> dict[str, str]:
    """What a reader sees of each table, as a value hash."""
    return {
        table: value_hash(read(spark, _spec(table), f"{root}/{table}").toPandas())
        for table in os.listdir(root)
    }


def _generations(root: str) -> set[str]:
    return {
        os.path.join(root, table, gen)
        for table in os.listdir(root)
        for gen in os.listdir(os.path.join(root, table))
        if gen.startswith("gen=")
    }


@pytest.mark.parametrize("name", QUERIES)
def test_maintained_query_matches_oracle_through_its_state(
    spark, duck, tmp_path, monkeypatch, name
):
    root = str(tmp_path)
    monkeypatch.setenv("JANET_SPARK_STATE_DIR", root)
    query = entry.queries()[name]
    want = value_hash(duck.sql(entry.oracle_sql()[name]).df())

    def check():
        got = query(spark, SF).toPandas()
        assert len(got) > 0
        assert value_hash(got) == want

    check()  # cold: bootstraps every table
    bootstrapped, tables = _generations(root), _tables(spark, root)
    assert bootstrapped
    check()  # warm
    assert _generations(root) == bootstrapped

    # a crash before the last bootstrap commit: its generation is missing
    shutil.rmtree(max(bootstrapped, key=os.path.getmtime))
    check()
    assert _generations(root) == bootstrapped  # backfilled, nothing else
    assert _tables(spark, root) == tables

    for table in os.listdir(root):
        compact_generations(spark, _spec(table), f"{root}/{table}", keep_latest=0)
    compacted = _generations(root)
    assert _tables(spark, root) == tables
    check()
    assert _generations(root) == compacted  # no re-bootstrap after compaction
    assert _tables(spark, root) == tables
