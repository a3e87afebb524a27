"""Driver contract for the spark-graft builder (PySpark target).

`entry` runs the flagship extraction pipeline (derived transcripts ->
Arrow-batched extraction UDF as a narrow map -> window-ordered
reassembly) at sf0.001. `queries()` registers every implemented operator
from SURVEY.md §2 plus the training-data-pipeline operators; `oracle_sql()`
returns the independent DuckDB SQL for each one. `bench.py`,
`scripts/explain_audit.py` and `scripts/check_oracles.py` iterate this
registry, so a registered query is benched, plan-audited and
oracle-checked without being named anywhere else.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def _module_queries() -> tuple[dict[str, tuple], ...]:
    """The seven per-module `{name: (fn, oracle_sql)}` dicts, in registry
    order; each query is defined beside its oracle."""
    from janet_spark.conversations import CONV_QUERIES
    from janet_spark.dialogue import DIALOGUE_QUERIES
    from janet_spark.queries_extra import EXTRA_QUERIES
    from janet_spark.queries_relational import RELATIONAL_QUERIES
    from janet_spark.queries_text import TEXT_QUERIES
    from janet_spark.search import SEARCH_QUERIES
    from janet_spark.sketches import SKETCH_QUERIES

    return (
        RELATIONAL_QUERIES,
        TEXT_QUERIES,
        EXTRA_QUERIES,
        SEARCH_QUERIES,
        SKETCH_QUERIES,
        CONV_QUERIES,
        DIALOGUE_QUERIES,
    )


def _registry() -> dict[str, tuple]:
    reg: dict[str, tuple] = {}
    for module_queries in _module_queries():
        reg.update(module_queries)
    return reg


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline + conversation reassembly at
    sf0.001; driver checks rows > 0 and a stable schema."""
    from janet_spark.derive import derived_transcripts
    from janet_spark.pipeline import extract_only
    from janet_spark.reassemble import reassemble_conversations
    from janet_spark.session import tune_for_session

    tune_for_session(spark)
    transcripts = derived_transcripts(spark, SF0001)
    extracted = extract_only(transcripts)
    return reassemble_conversations(extracted).select(
        "conv_id", "conv_text", "n_turns", "blocks_kept", "blocks_dropped", "all_ok"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 + training-data
    ops). Each callable takes (spark, sf_dir) and returns a DataFrame with
    columns aliased identically to the oracle SQL."""
    return {name: fn for name, (fn, _sql) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    """Independent DuckDB SQL per query, same names as `queries()`."""
    return {name: sql for name, (_fn, sql) in _registry().items()}
