"""`__spark_entry__.queries()` is the one query registry that bench.py,
scripts/explain_audit.py and scripts/check_oracles.py iterate. These
checks keep it whole. No Spark session needed."""

from __future__ import annotations

import __spark_entry__ as entry
import bench


def test_headline_is_registered():
    missing = sorted(set(bench.HEADLINE) - set(entry.queries()))
    assert not missing, f"bench.HEADLINE names unregistered queries: {missing}"


def test_module_dicts_share_no_name():
    # the merge is dict.update, which would silently shadow a duplicate
    sizes = [len(d) for d in entry._module_queries()]
    assert sum(sizes) == len(entry.queries()), sizes


def test_every_query_has_an_oracle():
    oracles = entry.oracle_sql()
    assert set(oracles) == set(entry.queries())
    bad = sorted(n for n, sql in oracles.items() if not (isinstance(sql, str) and sql.strip()))
    assert not bad, f"queries without oracle SQL: {bad}"
