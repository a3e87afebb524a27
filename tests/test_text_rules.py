"""Unit tests for the deterministic text operators (no Spark needed).

Mirrors the reference's unit layer (SURVEY.md §5.1): extraction dispatch,
total-function rename, tolerant JSON, plus the search plugin's whole-words
quirks.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from janet_spark.extract.html_strip import looks_like_html, strip_html
from janet_spark.extract.metadata import extract_metadata, tolerant_json_parse
from janet_spark.extract.rename import suggest_name
from janet_spark.extract.spans import find_matches, normalize_keyword
from janet_spark.extract.text_rules import (
    canonicalize_series,
    canonicalize_str,
    duckdb_canonicalize_sql,
)

CASES = [
    ("  plain text  ", "plain text"),
    ("can-\ncelled", "cancelled"),
    ("ﬁnancial ﬂow", "financial flow"),
    ("two   spaces\t and nbsp", "two spaces and nbsp"),
    ("a\r\nb\rc", "a\nb\nc"),
    ("l1   \n   l2\n\n\n\n\nl3", "l1\nl2\n\nl3"),
    ("", ""),
    ("X-\n9 digit hyphen kept", "X-\n9 digit hyphen kept"),
    ("caf\u00e9-\nx", "caf\u00e9-\nx"),  # [A-Za-z] is ASCII: hyphen after \u00e9 kept
]


def test_canonicalize_str():
    for raw, want in CASES:
        assert canonicalize_str(raw) == want, raw
    assert canonicalize_str(None) == ""


def test_canonicalize_series_matches_scalar():
    s = pd.Series([c for c, _ in CASES] + [None], dtype=object)
    got = list(canonicalize_series(s))
    want = [w for _, w in CASES] + [""]
    assert got == want


def test_duckdb_sql_matches_python():
    con = duckdb.connect()
    df = pd.DataFrame({"t": [c for c, _ in CASES]})
    con.register("df", df)
    got = [r[0] for r in con.sql(f"select {duckdb_canonicalize_sql('t')} from df").fetchall()]
    assert got == [w for _, w in CASES]


def test_html_sniff():
    assert not looks_like_html("a < b and c > d")
    assert not looks_like_html("plain")
    assert looks_like_html("<p>x</p>")


def test_html_strip_drops_boilerplate_and_linkfarms():
    html = (
        "<html><head><title>Site</title></head><body>"
        '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
        "<div><p>Real main content sentence one.</p></div>"
        '<div class="links"><a>x</a> <a>y</a> <a>z</a></div>'
        "<footer>(c) corp</footer></body></html>"
    )
    text, spans, kept, dropped = strip_html(html)
    assert text == "Real main content sentence one."
    # dropped: title, nav, link-farm div, footer
    assert kept == 1 and dropped == 4
    (s, e, kind) = spans[0]
    assert html[s:e] == "Real main content sentence one."
    assert kind == "main"


def test_html_strip_spans_offsets_multiblock():
    html = "<body><p>First block here.</p><p>Second block here.</p></body>"
    text, spans, kept, _ = strip_html(html)
    assert text == "First block here.\nSecond block here."
    assert [html[s:e] for s, e, _ in spans] == ["First block here.", "Second block here."]


def test_keyword_matching_basic_and_case():
    pat = normalize_keyword("pdf", match_case=False, whole_words=False)
    m = find_matches("PDF pdf Pdf", pat, False)
    assert [(s, e) for _, s, e in m] == [(0, 3), (4, 7), (8, 11)]
    pat = normalize_keyword("pdf", match_case=True, whole_words=False)
    assert len(find_matches("PDF pdf Pdf", pat, False)) == 1


def test_keyword_regex_escape():
    pat = normalize_keyword("a.b(c)", match_case=True, whole_words=False)
    m = find_matches("xxa.b(c)yy azb(c)", pat, False)
    assert [(s, e) for _, s, e in m] == [(2, 8)]


def test_whole_words_space_padding_quirk():
    # space-padding, NOT \b: misses string-start and string-end matches
    pat = normalize_keyword("cat", match_case=False, whole_words=True)
    m = find_matches("cat in a cat hat cat", pat, True)
    # only the middle 'cat' has spaces on both sides AND is not at the ends
    assert [(s, e) for _, s, e in m] == [(9, 12)]
    # adjacent matches sharing one separator space: second is skipped
    # (JS exec lastIndex resumes after the full padded match)
    m2 = find_matches(" a a a ", normalize_keyword("a", True, True), True)
    assert [(s, e) for _, s, e in m2] == [(1, 2), (5, 6)]


def test_rename_rules_goldens():
    content = (
        "Notice of Cancellation\nTRAVELERS\nYour policy is cancelled\n"
        "Policy 612266004\nFEBRUARY 25, 2024"
    )
    assert (
        suggest_name("scan01.pdf", content)
        == "2024-02-25 Travelers - Notice of Cancellation 612266004.pdf"
    )
    chase = "Chase Credit Card Statement 03724 dated 07/12/2024"
    assert suggest_name("x.pdf", chase) == "2024-07-12 Chase - Credit Card Statement 03724.pdf"
    # total-function fallback on unparseable input
    assert suggest_name("keep-me.pdf", "no dates or orgs here") == "keep-me.pdf"


def test_tolerant_json_parse():
    assert tolerant_json_parse('{"a": 1}') == {"a": 1}
    assert tolerant_json_parse('noise {"a": 1} trailing') == {"a": 1}
    assert tolerant_json_parse("not json at all") is None
    assert tolerant_json_parse("") is None
    assert tolerant_json_parse(None) is None


def test_extract_metadata():
    md = extract_metadata(
        "TRAVELERS Notice of Cancellation FEBRUARY 25, 2024 amount due $1,234.56 and $12.00"
    )
    assert md["issuingOrganization"] == "Travelers"
    assert md["documentType"] == "Notice of Cancellation"
    assert md["primaryDate"] == "2024-02-25"
    assert md["monetaryAmounts"] == ["$1,234.56", "$12.00"]


def test_text_after_closing_boilerplate_is_body_content():
    # regression: the fresh block created when </nav> closes must NOT
    # inherit the boilerplate flag — bare text after a closing nav/footer
    # is article content
    html = "<nav>menu</nav>Real article content<p>second para</p>"
    text, spans, kept, dropped = strip_html(html)
    assert text == "Real article content\nsecond para"
    assert kept == 2 and dropped == 1


def test_self_closed_tag_equals_explicit_close():
    # regression: the attribute loop of the tag regex took the '/' of
    # `<iframe src="a"/>`, so the tag parsed as an open boilerplate scope
    # and every later block was dropped
    body = "<p>Real content here is long enough.</p></body>"
    for tag in ("iframe", "script", "nav", "span", "div"):
        self_closed = f'<body><{tag} src="a"/>' + body
        explicit = f'<body><{tag} src="a"></{tag}>' + body
        got, want = strip_html(self_closed), strip_html(explicit)
        assert got[0] == want[0] == "Real content here is long enough.", tag
        assert got[2:] == want[2:] == (1, 0), tag
        assert [self_closed[s:e] for s, e, _ in got[1]] == [
            explicit[s:e] for s, e, _ in want[1]
        ], tag


def test_br_produces_line_break():
    # regression: <br> used to degrade to ' ' via add_text's whitespace
    # guard; it must survive as a line separator
    text, _, _, _ = strip_html("<p>line one<br>line two</p>")
    assert text == "line one\nline two"
