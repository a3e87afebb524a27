"""Property-based cross-dialect parity for the T8 canonicalizer: random
dirty text must canonicalize identically through (a) the pure-Python scalar
path (Python ``re``), (b) the vectorized path (Arrow compute kernels, RE2),
and (c) the generated DuckDB SQL (RE2). Catches regex-dialect drift the
golden fixtures might miss. The alphabet carries multibyte letters, so an
OCR hyphen after one (``é-\\nx``) must survive in every engine
(``[A-Za-z]`` is ASCII in both), and ``\\x0b`` / ``\\x1c``, which Python
counts as whitespace but the rules do not."""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from janet_spark.extract.text_rules import (
    canonicalize_series,
    canonicalize_str,
    duckdb_canonicalize_sql,
)

# alphabet biased toward the canonicalizer's trigger characters
DIRTY = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ 09.-")
        + ["\n", "\r", "\t", " ", "ﬁ", "ﬂ", "ﬀ", "ﬃ", "ﬄ", "ﬅ", "ﬆ", "'"]
        + ["é", "ß", "日", "\x0b", "\x1c"]
    ),
    max_size=200,
)


@settings(max_examples=200, deadline=None)
@given(DIRTY)
def test_scalar_vs_vectorized(s):
    assert canonicalize_series(pd.Series([s], dtype=object))[0] == canonicalize_str(s)


@settings(max_examples=100, deadline=None)
@given(st.lists(DIRTY, min_size=1, max_size=8))
def test_vectorized_vs_duckdb(texts):
    con = duckdb.connect()
    expr = duckdb_canonicalize_sql("t")
    got_sql = [
        con.execute(f"SELECT {expr} AS c FROM (SELECT ? AS t)", [s]).fetchone()[0]
        for s in texts
    ]
    got_pd = canonicalize_series(pd.Series(texts, dtype=object)).tolist()
    assert got_sql == got_pd
