"""Every hand-kept query-name list must name registered queries: bench.py
looks each name up with a KeyError on a miss, and `__spark_entry__`
would silently skip a stale `_PRIORITY` name. No Spark session needed."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
import bench
from scripts.explain_audit import AUDITED

LISTS = {
    "explain_audit.AUDITED": AUDITED,
    "__spark_entry__._PRIORITY": entry._PRIORITY,
    "bench.HEADLINE": bench.HEADLINE,
    "bench.EXTENDED": bench.EXTENDED,
}


@pytest.mark.parametrize("list_name", sorted(LISTS))
def test_named_queries_are_registered(list_name):
    missing = sorted(set(LISTS[list_name]) - set(entry.queries()))
    assert not missing, f"{list_name} names unregistered queries: {missing}"
