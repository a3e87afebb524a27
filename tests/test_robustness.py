"""Robustness: unicode payloads and null columns through the full
extract + reassemble path (Arrow round-trips, span offsets in code points,
no row loss)."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from janet_spark.extract.html_strip import looks_like_html, strip_html
from janet_spark.extract.udfs import extract_batch
from janet_spark.pipeline import extract_only
from janet_spark.reassemble import reassemble_conversations

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        ),
        schema=SCHEMA,
    )


def test_unicode_roundtrip(spark):
    ts = pd.Timestamp("2024-01-01")
    rows = [
        ("u", 0, "user", "héllo wörld — naïve café", "", ts),
        ("u", 1, "user", "中文文本 处理 引擎", "", ts),
        ("u", 2, "user", "emoji 🙂🚀 and 𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "", ts),
        ("u", 3, "user", "  mixed ＡＳＣＩＩ + русский  ", "", ts),
    ]
    out = (
        extract_only(_df(spark, rows).repartition(2))
        .orderBy("turn_idx")
        .toPandas()
    )
    assert out["extracted_text"].tolist() == [
        "héllo wörld — naïve café",
        "中文文本 处理 引擎",
        "emoji 🙂🚀 and 𝔘𝔫𝔦𝔠𝔬𝔡𝔢",
        "mixed ＡＳＣＩＩ + русский",
    ]
    # span offsets are code-point offsets into the original python string
    for _, r in out.iterrows():
        src = rows[r["turn_idx"]][3]
        for sp in r["spans"]:
            assert src[sp["start"] : sp["end"]].strip() == r["extracted_text"]
    conv = reassemble_conversations(
        extract_only(_df(spark, rows).repartition(2))
    ).collect()[0]
    assert conv["conv_text"].count("\n") == 3
    assert "🙂🚀" in conv["conv_text"]


def test_null_columns_no_row_loss(spark):
    ts = pd.Timestamp("2024-01-01")
    rows = [
        ("n", 0, None, None, None, ts),  # all-null payload -> failed row
        ("n", 1, "user", None, '{"output": "from tool"}', ts),  # tool fallback
        ("n", 2, None, "plain text", None, None),  # null role + ts
    ]
    out = (
        extract_only(_df(spark, rows).repartition(2))
        .orderBy("turn_idx")
        .toPandas()
    )
    assert len(out) == 3  # no row loss
    assert out.loc[0, "ok"] == False  # noqa: E712
    assert out.loc[1, "extracted_text"] == "from tool"
    assert out.loc[2, "extracted_text"] == "plain text"
    conv = reassemble_conversations(
        extract_only(_df(spark, rows).repartition(2))
    ).collect()[0]
    assert conv["n_turns"] == 3
    assert conv["all_ok"] == 0


# one piece of tag soup: random markup characters or a tricky literal
TAG_SOUP_FRAGMENT = st.one_of(
    st.text(alphabet="ab<> /=\"'\n\t-", max_size=12),
    st.sampled_from(
        [
            "<div>", "</div>", "<p>", "</p>", "<a href='#'>", "</a>",
            "<nav>", "</nav>", "<br/>", "<b>", "</b>", "<<>>", "</",
            "<!-- c -->", "<![CDATA[x]]>", "<!doctype html>", "text",
            "<p", "p>", "<a<b>", "</a></a></nav>", "<style>x</style>",
        ]
    ),
)
TAG_SOUP = st.lists(TAG_SOUP_FRAGMENT, max_size=20).map("".join)


def test_html_strip_tag_soup_never_crashes_and_spans_in_bounds():
    """Property: strip_html is total over arbitrary tag soup — no crash,
    spans inside the payload, counts consistent."""

    @settings(max_examples=300, deadline=None)
    @given(TAG_SOUP)
    def check(payload):
        text, spans, kept, dropped = strip_html(payload)
        assert isinstance(text, str)
        assert kept == len(spans)
        assert kept >= 0 and dropped >= 0
        for s, e, kind in spans:
            assert kind == "main"
            assert 0 <= s <= e <= len(payload)

    check()


def test_extract_batch_passes_ts_through_by_position():
    """`ts` comes out as the input column's values in row order, dtype
    kept: tz-aware, with NULLs, under a non-default index."""
    ts = pd.Series(
        [pd.Timestamp("2024-01-01 10:00", tz="UTC"), pd.NaT,
         pd.Timestamp("2024-03-05 23:59:59.123456", tz="UTC")],
        index=[7, 3, 11],
    )
    naive = ts.dt.tz_localize(None)
    for col in (ts, naive, pd.Series([None, None, None], index=[7, 3, 11], dtype=object)):
        pdf = pd.DataFrame(
            {"conv_id": "c", "turn_idx": [0, 1, 2], "role": "user",
             "text": ["a", "b", "c"], "tool": "", "ts": col},
            index=col.index,
        )
        out = extract_batch(pdf)
        assert out["ts"].dtype == col.dtype
        assert list(out.index) == [0, 1, 2]
        pd.testing.assert_series_equal(
            out["ts"], col.reset_index(drop=True), check_names=False
        )


def test_extract_batch_html_rows_match_strip_html():
    """Property: the batch HTML path, which canonicalizes every block of
    every HTML row in one vectorized pass, equals the scalar strip_html
    composition row by row."""

    @settings(max_examples=60, deadline=None)
    @given(st.lists(TAG_SOUP, min_size=1, max_size=24))
    def check(payloads):
        pdf = pd.DataFrame(
            {"conv_id": "c", "turn_idx": range(len(payloads)), "text": payloads, "tool": ""}
        )
        out = extract_batch(pdf)
        for payload, row in zip(payloads, out.itertuples()):
            if not looks_like_html(payload):
                continue
            text, spans, kept, dropped = strip_html(payload)
            assert row.extracted_text == text
            assert [(d["start"], d["end"], d["kind"]) for d in row.spans] == spans
            assert (row.blocks_kept, row.blocks_dropped) == (kept, dropped)
            assert row.ok == bool(text)

    check()
