"""Deterministic OCR-text canonicalization rules (the T8 operator).

The reference canonicalizes extracted text ad hoc at every stage: ``trim()``
after page joins (reference ``apps/legacy/src/services/pdf.ts:153-158``),
``join(' ')`` + global trim (``apps/ocr/src/lib/pdf-parse.ts:24-26``),
``'\\n\\n'`` page joins in the OCR path (``apps/legacy/src/services/ocr.ts:60``).
This module pins ONE explicit, ordered contract and derives every
implementation from the same rule table, so the Spark engine's vectorized
Arrow path, the scalar reference used in tests, and the DuckDB oracle SQL
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
subset of Python ``re`` and RE2 so the same table compiles to every
dialect: Python ``re`` (`canonicalize_str`), Arrow's RE2 compute kernels
(`canonicalize_series`) and DuckDB ``regexp_replace(..., 'g')``, also RE2.
Character classes such as ``[A-Za-z]`` are ASCII in both engines.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

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


# both canonicalizers replace the last two rules with one strip of spaces
# and LFs (str.strip / utf8_trim), so they must be exactly the trims
assert REGEX_RULES[-2:] == [(r"^[ \n]+", ""), (r"[ \n]+$", "")], REGEX_RULES[-2:]


@lru_cache(maxsize=1)
def _compiled_rules() -> list[tuple[re.Pattern, str]]:
    return [(re.compile(p), r) for p, r in REGEX_RULES]


# one scan that detects whether ANY literal replace could fire (CR, NBSP,
# tab, or a typographic ligature)
_LITERAL_TRIGGER = re.compile("[\r\t\u00a0\ufb00-\ufb06]")

# canonicalize_str gates the literal-replace pass on _LITERAL_TRIGGER, while
# the Arrow path and the generated SQL apply every replace unconditionally —
# so every find string MUST contain a trigger character or the scalar path
# silently skips a rule the others still apply.
for _find, _ in LITERAL_REPLACES:
    assert _LITERAL_TRIGGER.search(_find), (
        "LITERAL_REPLACES entry not covered by _LITERAL_TRIGGER: " + repr(_find)
    )


def canonicalize_str(s: str | None) -> str:
    """Pure-Python single-string canonicalizer (test oracle / fallback;
    also the per-block path of the scalar strip_html).

    Equivalences exploited (pinned by the asserts above and the property
    test): the literal replaces only fire when one of their trigger chars
    is present (one scan replaces eleven), and REGEX_RULES[-2:] are exactly
    the leading/trailing trims, which ``str.strip(' \\n')`` performs at C
    speed without the two regex passes."""
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

    One ``pyarrow.compute`` kernel per rule over a ``large_string`` array:
    ``replace_substring`` per literal rule, ``replace_substring_regex``
    (RE2, the DuckDB oracle's engine) per regex rule, and one ``utf8_trim``
    for the two trim rules. Nulls canonicalize to ''. Result parity with
    `canonicalize_str` is pinned by tests/test_text_rules.py and the
    property test."""
    arr = pa.array(s, type=pa.large_string(), from_pandas=True).fill_null("")
    for find, repl in LITERAL_REPLACES:
        arr = pc.replace_substring(arr, find, repl)
    for pat, repl in REGEX_RULES[:-2]:
        arr = pc.replace_substring_regex(arr, pat, repl)
    arr = pc.utf8_trim(arr, characters=" \n")
    return pd.Series(arr.to_numpy(zero_copy_only=False), index=s.index, dtype=object)


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
