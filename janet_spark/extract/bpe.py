"""Deterministic BPE-style subword tokenizer from a frozen merges table.

Token budgeting is the currency of a training-data pipeline; the r2
``token_counts`` operator approximated it with whitespace/regex splits.
This is the real subword path: a GPT-2-style ordered merges list
(``bpe_merges.py``, trained once by ``scripts/train_bpe.py`` and checked in
as data) applied over a character-split word.

Apply semantics — defined identically in BOTH engines, single source of
truth being ``MERGES``:

* a word becomes the space-separated character string ``" w o r d "``
  (sentinel spaces on each end);
* each merge ``(a, b)``, in table order, performs ONE left-to-right
  non-overlapping replace of ``" a b "`` with ``" ab "`` — exactly the
  semantics of both Python ``str.replace`` and DuckDB ``replace()``,
  which is what makes the DuckDB oracle a true independent recomputation
  (a rendered chain of 48 nested ``replace()`` calls, no Python anywhere);
* the token count is the number of space-separated chunks left.

The one place this deviates from canonical GPT-2 BPE: canonical BPE
re-scans for the best-ranked pair after every merge, so a merge can
retrigger an EARLIER rank; the single-pass-per-rank chain cannot. The
training loop (scripts/train_bpe.py) trains against THESE apply semantics,
so table and tokenizer are self-consistent; goldens in
tests/test_round3_ops.py pin the behavior.
"""

from __future__ import annotations

from functools import lru_cache

from janet_spark.extract.bpe_merges import MERGES

# same token split as the search module: lowercase alnum runs
TOKEN_SPLIT = "[^a-z0-9]+"


def apply_merges(word: str, merges) -> tuple[str, ...]:
    """Subword tokens of one word under an arbitrary ordered merges
    list (the raw chain; use the cached entry points below)."""
    s = " " + " ".join(word) + " "
    for a, b in merges:
        s = s.replace(f" {a} {b} ", f" {a}{b} ")
    return tuple(s.split())


@lru_cache(maxsize=65536)
def bpe_tokens(word: str) -> tuple[str, ...]:
    """Subword tokens of one word under the frozen 48-merge table."""
    return apply_merges(word, MERGES)


@lru_cache(maxsize=65536)
def bpe_tokens_1k(word: str) -> tuple[str, ...]:
    """Subword tokens under the production-size 1000-merge table
    (bpe_merges_1k.py, trained distributed over the sf0.1 union corpus
    by scripts/train_bpe_1k.py)."""
    from janet_spark.extract.bpe_merges_1k import MERGES_1K

    return apply_merges(word, MERGES_1K)


def count_text(text: str, tokens=None) -> tuple[int, int]:
    """(bpe_tokens, n_words) for a text under the shared word split.
    `tokens` selects the per-word tokenizer (default: 48-merge table)."""
    import re

    tok = bpe_tokens if tokens is None else tokens
    words = [w for w in re.split(TOKEN_SPLIT, text.lower()) if w]
    return sum(len(tok(w)) for w in words), len(words)


def duckdb_word_tokens_sql(word_col: str) -> str:
    """DuckDB expression: the space-joined BPE token STRING of
    `word_col` — the full merge chain rendered as nested single-pass
    replace() calls over the space-separated character string
    (string_split with '' splits to chars). Independent recomputation:
    only the MERGES table is shared."""
    expr = f"' ' || array_to_string(string_split({word_col}, ''), ' ') || ' '"
    for a, b in MERGES:
        expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
    return f"trim({expr})"


def duckdb_word_token_count_sql(word_col: str) -> str:
    """DuckDB expression: BPE token count of `word_col` (the chunk count
    of the rendered token string)."""
    return f"len(string_split({duckdb_word_tokens_sql(word_col)}, ' '))"


def duckdb_staged_token_count_ctes(
    input_cte: str,
    word_col: str,
    merges,
    stage_size: int = 50,
    prefix: str = "bpe_s",
) -> tuple[str, str]:
    """Chunked-CTE render of an arbitrarily deep merge chain for DuckDB
    (round-3 verdict #5): a 1000-merge table rendered as ONE nested
    expression exceeds DuckDB's max_expression_depth (default 1000), so
    the chain is staged — each CTE applies `stage_size` replaces to a
    running segmentation COLUMN, keeping every individual expression
    shallow while the chain semantics (single-pass left-to-right replace
    per merge, in table order) stay identical to apply_merges.

    Returns (ctes_sql, final_cte_name): `ctes_sql` is a fragment to
    splice after an existing WITH list; the final CTE exposes the input's
    columns plus `bpe_n` (the word's token count). `input_cte` must have
    `word_col` and carry-through columns are preserved via * EXCLUDE."""
    merges = list(merges)
    stages = [
        merges[i : i + stage_size] for i in range(0, len(merges), stage_size)
    ]
    ctes = [
        f"{prefix}0 AS (SELECT *, ' ' || array_to_string("
        f"string_split({word_col}, ''), ' ') || ' ' AS __seg FROM {input_cte})"
    ]
    for si, stage in enumerate(stages):
        expr = "__seg"
        for a, b in stage:
            expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
        ctes.append(
            f"{prefix}{si + 1} AS (SELECT * REPLACE ({expr} AS __seg) "
            f"FROM {prefix}{si})"
        )
    final = f"{prefix}final"
    ctes.append(
        f"{final} AS (SELECT * EXCLUDE (__seg), "
        f"len(string_split(trim(__seg), ' ')) AS bpe_n FROM {prefix}{len(stages)})"
    )
    return ",\n".join(ctes), final
