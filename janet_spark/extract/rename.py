"""Deterministic canonical-name rules (operator T11 / X1 in SURVEY.md §2).

The reference derives a canonical filename ``YYYY-MM-DD Company -
Description.pdf`` with an LLM (prompt format spec at
``apps/legacy/src/services/openai.ts:28-67``); our engine replaces the LLM
with reproducible rule-based extraction over the cleaned text so fixtures
are exact. Total-function contract preserved: on any failure the input name
is returned unchanged (``openai.ts:80-91``; tested in the reference at
``apps/legacy/tests/services/openai.test.ts:41-61``).
"""

from __future__ import annotations

import re

MONTHS = {
    m: i + 1
    for i, m in enumerate(
        "january february march april may june july august september october november december".split()
    )
}

# date recognizers, in priority order
_DATE_TEXTUAL = re.compile(
    r"\b(january|february|march|april|may|june|july|august|september|october|november|december)"
    r"\s+(\d{1,2}),?\s+(\d{4})\b",
    re.IGNORECASE,
)
_DATE_SLASH = re.compile(r"\b(\d{1,2})/(\d{1,2})/(\d{4})\b")
_DATE_ISO = re.compile(r"\b(\d{4})-(\d{2})-(\d{2})\b")

# organization vocabulary (reference metadata-prompt vocabulary,
# apps/web/lib/prompts/pdf-metadata.ts:32-87 — issuing organizations)
ORG_VOCAB = [
    "Travelers",
    "Chase",
    "Bank of America",
    "Wells Fargo",
    "Citi",
    "American Express",
    "Fidelity",
    "Vanguard",
    "Charles Schwab",
    "IRS",
    "Aetna",
    "Blue Cross",
    "Kaiser",
    "Geico",
    "State Farm",
    "Allstate",
    "Progressive",
    "Comcast",
    "Verizon",
    "AT&T",
]

# document-type vocabulary (reference label vocabulary, pdf-metadata.ts:32-55)
DOCTYPE_VOCAB = [
    "Notice of Cancellation",
    "Credit Card Statement",
    "Account Statement",
    "Tax Return",
    "Invoice",
    "Receipt",
    "Insurance Policy",
    "Explanation of Benefits",
    "Assessment",
    "Appraisal",
    "Contract",
    "Letter",
    "Notice",
    "Statement",
]

_DOC_NUMBER = re.compile(r"\b(\d{5,12})\b")

# vocabulary matchers compiled once with WORD BOUNDARIES — raw substring
# matching misfires inside unrelated words ('irs' in 'first', 'citi' in
# 'city'), which on real text would invent an issuing organization
_ORG_PATTERNS = [
    (org, re.compile(r"\b" + re.escape(org) + r"\b", re.IGNORECASE))
    for org in ORG_VOCAB
]
_DOCTYPE_PATTERNS = [
    (dt, re.compile(r"\b" + re.escape(dt) + r"\b", re.IGNORECASE))
    for dt in DOCTYPE_VOCAB
]


def _valid_date(year: int, month: int, day: int) -> bool:
    import datetime as _dt

    try:
        _dt.date(year, month, day)
        return True
    except ValueError:
        return False


def extract_date(text: str) -> str | None:
    """First recognized VALID date, formatted YYYY-MM-DD (dashes per the
    target format spec — openai.ts:37 'Dates should be formatted as
    YYYY-MM-DD'). Every candidate is calendar-validated; a slash date
    whose first field cannot be a month falls back to D/M/Y before being
    rejected ('31/12/2024' is December 31st, not month 31)."""
    m = _DATE_TEXTUAL.search(text)
    if m:
        y, mo, d = int(m.group(3)), MONTHS[m.group(1).lower()], int(m.group(2))
        if _valid_date(y, mo, d):
            return f"{y:04d}-{mo:02d}-{d:02d}"
    m = _DATE_SLASH.search(text)
    if m:
        a, b, y = int(m.group(1)), int(m.group(2)), int(m.group(3))
        if _valid_date(y, a, b):  # M/D/Y (the reference's locale)
            return f"{y:04d}-{a:02d}-{b:02d}"
        if _valid_date(y, b, a):  # D/M/Y fallback
            return f"{y:04d}-{b:02d}-{a:02d}"
    m = _DATE_ISO.search(text)
    if m:
        y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
        if _valid_date(y, mo, d):
            return m.group(0)
    return None


def extract_org(text: str) -> str | None:
    for org, pat in _ORG_PATTERNS:
        if pat.search(text):
            return org
    return None


def extract_doctype(text: str) -> str | None:
    for dt, pat in _DOCTYPE_PATTERNS:  # ordered most-specific first
        if pat.search(text):
            return dt
    return None


def suggest_name(original_name: str, content: str) -> str:
    """Rule-based stand-in for the reference's ``suggestNewName``.

    Content is truncated to 10,000 chars before analysis, mirroring the
    reference's LLM-input truncation (openai.ts:70).
    """
    content = (content or "")[:10000]
    date = extract_date(content)
    org = extract_org(content)
    if date is None or org is None:
        return original_name  # total-function fallback
    doctype = extract_doctype(content) or "Document"
    m = _DOC_NUMBER.search(content)
    number = f" {m.group(1)}" if m else ""
    return f"{date} {org} - {doctype}{number}.pdf"
