"""Deterministic OCR-text canonicalization rules (the T8 operator).

The reference canonicalizes extracted text ad hoc at every stage: ``trim()``
after page joins (reference ``apps/legacy/src/services/pdf.ts:153-158``),
``join(' ')`` + global trim (``apps/ocr/src/lib/pdf-parse.ts:24-26``),
``'\\n\\n'`` page joins in the OCR path (``apps/legacy/src/services/ocr.ts:60``).
This module pins ONE explicit, ordered contract and derives every
implementation from the same rule table, so the Spark engine's vectorized
pandas path, the scalar reference used in tests, and the DuckDB oracle SQL
can never drift apart:

1. newline normalization (CRLF/CR -> LF)
2. NBSP / tab -> space
3. typographic-ligature expansion (fi fl ff ffi ffl ft st)
4. OCR dehyphenation: ``letter '-' LF letter`` -> joined word
5. collapse runs of spaces
6. trim spaces around newlines
7. collapse 3+ newlines to a blank line
8. strip leading/trailing whitespace

Rules 1-3 are literal replaces; 4-8 are regexes kept inside the common
subset of Python ``re`` and RE2 (DuckDB ``regexp_replace(..., 'g')``) so the
same table compiles to both dialects.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd

# (find, replace) literal substitutions, applied in order.
LITERAL_REPLACES: list[tuple[str, str]] = [
    ("\r\n", "\n"),
    ("\r", "\n"),
    ("\u00a0", " "),
    ("\t", " "),
    ("\ufb01", "fi"),
    ("\ufb02", "fl"),
    ("\ufb00", "ff"),
    ("\ufb03", "ffi"),
    ("\ufb04", "ffl"),
    ("\ufb05", "ft"),
    ("\ufb06", "st"),
]

# (pattern, replacement) regex substitutions, applied in order after the
# literal replaces. Replacement backrefs use \1 notation. Patterns must
# stay in the re/RE2 common subset.
REGEX_RULES: list[tuple[str, str]] = [
    (r"([A-Za-z])-\n([A-Za-z])", r"\1\2"),  # OCR line-break dehyphenation
    (r" {2,}", " "),
    (r" *\n *", "\n"),
    (r"\n{3,}", "\n\n"),
    (r"^[ \n]+", ""),
    (r"[ \n]+$", ""),
]


@lru_cache(maxsize=1)
def _compiled_rules() -> list[tuple[re.Pattern, str]]:
    # canonicalize_str drops the last two rules in favor of str.strip —
    # same invariant the vectorized path pins (see _rules_with_triggers)
    assert REGEX_RULES[-2:] == [(r"^[ \n]+", ""), (r"[ \n]+$", "")], REGEX_RULES[-2:]
    return [(re.compile(p), r) for p, r in REGEX_RULES]


# one scan that detects whether ANY literal replace could fire (CR, NBSP,
# tab, or a typographic ligature)
_LITERAL_TRIGGER = re.compile("[\r\t\u00a0\ufb00-\ufb06]")

# Both canonicalizers gate the literal-replace pass on _LITERAL_TRIGGER,
# while the generated SQL dialects apply every replace unconditionally \u2014
# so every find string MUST contain a trigger character or the Python
# paths silently skip a rule the oracles still apply.
for _find, _ in LITERAL_REPLACES:
    assert _LITERAL_TRIGGER.search(_find), (
        "LITERAL_REPLACES entry not covered by _LITERAL_TRIGGER: " + repr(_find)
    )


@lru_cache(maxsize=1)
def _rules_with_triggers() -> list[tuple[re.Pattern, re.Pattern, str]]:
    """(pattern, group-free trigger pattern, replacement) per rule — the
    trigger variant (capturing groups made non-capturing) drives the cheap
    contains-scan without pandas' match-group warning.

    Two invariants the vectorized path (canonicalize_series) silently
    depends on are asserted here so a future rule-table edit fails loudly
    instead of desyncing it from the scalar oracle:

    * the group->non-capturing rewrite handles '(' only outside character
      classes and not preceded by a backslash — no current pattern may put
      '(' inside [...] or after an escaped backslash;
    * the last two rules must be exactly the leading/trailing trims,
      because canonicalize_series replaces them with one str.strip(' \\n').
    """
    assert REGEX_RULES[-2:] == [(r"^[ \n]+", ""), (r"[ \n]+$", "")], (
        "canonicalize_series collapses the last two rules into str.strip(' \\n'); "
        "rule-table tail changed: " + repr(REGEX_RULES[-2:])
    )
    out = []
    for p, r in REGEX_RULES:
        _assert_trigger_rewrite_safe(p)
        trigger = re.sub(r"(?<!\\)\((?!\?)", "(?:", p)
        out.append((re.compile(p), re.compile(trigger), r))
    return out


def _assert_trigger_rewrite_safe(p: str) -> None:
    """The group->non-capturing rewrite is a flat regex over the pattern
    text; it mis-fires on '(' inside a character class and on '(' right
    after an escaped backslash ('\\\\(' — the lookbehind sees the second
    backslash and skips a '(' that IS a group opener). Scan for both."""
    in_class = False
    i = 0
    while i < len(p):
        ch = p[i]
        if ch == "\\":
            nxt = p[i + 1] if i + 1 < len(p) else ""
            assert not (nxt == "\\" and i + 2 < len(p) and p[i + 2] == "("), (
                "trigger rewrite cannot handle '(' after an escaped backslash: " + p
            )
            i += 2
            continue
        if ch == "[" and not in_class:
            in_class = True
        elif ch == "]" and in_class:
            in_class = False
        elif ch == "(" and in_class:
            raise AssertionError(
                "trigger rewrite cannot handle '(' inside a character class: " + p
            )
        i += 1


def canonicalize_str(s: str | None) -> str:
    """Pure-Python single-string canonicalizer (test oracle / fallback;
    also the per-block hot path inside strip_html).

    Equivalences exploited (both pinned by the _rules_with_triggers
    asserts + the property test): the literal replaces only fire when one
    of their trigger chars is present (one scan replaces eleven), and
    REGEX_RULES[-2:] are exactly the leading/trailing trims, which
    ``str.strip(' \\n')`` performs at C speed without the two regex
    passes."""
    if s is None:
        return ""
    if _LITERAL_TRIGGER.search(s):
        for find, repl in LITERAL_REPLACES:
            s = s.replace(find, repl)
    for pat, repl in _compiled_rules()[:-2]:
        s = pat.sub(repl, s)
    return s.strip(" \n")


def canonicalize_series(s: pd.Series) -> pd.Series:
    """Vectorized canonicalizer over a pandas string Series (the hot path
    inside Arrow-batched UDFs — no per-row Python).

    Memory-traffic-aware: a naive chain of 17 ``str.replace`` passes copies
    the whole column 17 times, and string allocation bandwidth is what
    saturates first at high parallelism (measured on this box: per-core
    throughput of the allocating version degrades ~35% from 8 to 32
    workers). Instead each rule first runs a non-allocating ``contains``
    scan and rewrites ONLY the rows it matches; clean rows — the vast
    majority at real data mixes — are copied zero times. The two trim rules
    collapse into one C-level ``str.strip``. Result parity with
    `canonicalize_str` is pinned by tests/test_text_rules.py."""
    out = s.fillna("")
    lit_mask = out.str.contains(_LITERAL_TRIGGER, regex=True)
    if lit_mask.any():
        sub = out[lit_mask]
        for find, repl in LITERAL_REPLACES:
            sub = sub.str.replace(find, repl, regex=False)
        out = out.copy()
        out[lit_mask] = sub
    for pat, trigger, repl in _rules_with_triggers()[:-2]:  # trims -> strip
        mask = out.str.contains(trigger, regex=True)
        if mask.any():
            out = out.copy()
            out[mask] = out[mask].str.replace(pat, repl, regex=True)
    # REGEX_RULES[-2:] (^[ \n]+ / [ \n]+$) == a plain strip of spaces+LFs
    return out.str.strip(" \n")


# ---------------------------------------------------------------------------
# SQL emission — the same rule table rendered as DuckDB SQL (the oracle).
# ---------------------------------------------------------------------------

_CONTROL = {"\n": "chr(10)", "\r": "chr(13)", "\t": "chr(9)", "\u00a0": "chr(160)"}


def _sql_string(value: str) -> str:
    """Render a string as a SQL expression, splicing control chars via chr()
    so no literal-escaping rules of the dialect are relied upon."""
    parts: list[str] = []
    buf = ""

    def flush() -> None:
        nonlocal buf
        if buf:
            lit = buf.replace("'", "''")
            parts.append(f"'{lit}'")
            buf = ""

    for ch in value:
        if ch in _CONTROL:
            flush()
            parts.append(_CONTROL[ch])
        else:
            buf += ch
    flush()
    if not parts:
        return "''"
    return " || ".join(parts)


def duckdb_canonicalize_sql(col: str) -> str:
    """Render the full canonicalizer as a DuckDB SQL expression over `col`.

    Used to build the independent oracle for the driver's correctness gate —
    generated from the same rule table as the engine itself.
    """
    expr = f"coalesce({col}, '')"
    for find, repl in LITERAL_REPLACES:
        expr = f"replace({expr}, {_sql_string(find)}, {_sql_string(repl)})"
    for pat, repl in REGEX_RULES:
        # DuckDB (RE2): pattern is a plain string literal (standard SQL does
        # not interpret backslash escapes, so \n reaches RE2 verbatim);
        # replacement backrefs use \1; 'g' for global.
        pat_sql = "'" + pat.replace("'", "''") + "'"
        repl_sql = _sql_string(repl)
        expr = f"regexp_replace({expr}, {pat_sql}, {repl_sql}, 'g')"
    return expr
