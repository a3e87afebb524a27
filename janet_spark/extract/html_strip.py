"""Main-content extraction from HTML payloads (Readability/Boilerpipe-style).

A lightweight tag parse over the raw string (one regex split, then depth
counters for boilerplate containers and anchors), followed by block
classification on text density and link ratio. This is the engine's analog
of the reference's "turn an opaque payload into text" stage (the pdfjs
text-item walk at ``apps/ocr/src/lib/pdf-parse.ts:6-19`` and the annotation
validity filter at ``apps/ocr/src/lib/ocr-utils.ts:228-237`` — there, blocks
are OCR annotations; here, DOM blocks).

Classification contract (deterministic; pinned by tests):

* a block is the text accumulated under the nearest block-level element
* DROP if any ancestor is a boilerplate container
  (nav/footer/header/aside/script/style/head/noscript/form/button/svg/iframe)
* DROP if link_ratio (chars inside <a> / total chars) > 0.5
* DROP if text density (chars / (1 + inner tag count)) < 8 AND
  link_ratio > 0.25  (link-farm rule)
* DROP if canonicalized text is empty
* kept blocks are joined with '\\n' in document order and canonicalized
  (text_rules contract); spans give each kept block's [start, end) raw
  extent in the ORIGINAL payload, kind='main'.

Pure Python per string — invoked only from inside Arrow-batched UDFs, and
only on rows classified as HTML (cheap vectorized pre-filter upstream).
"""

from __future__ import annotations

import re

from janet_spark.extract.text_rules import canonicalize_str

# groups: the whole token, then (for an element tag) the closing slash, the
# name and the self-closing slash, so TOKEN_RE.split yields text and tokens
# in one C-level pass. The attribute loop takes a '/' only when more than
# whitespace follows it before '>', so `<iframe src="a"/>` self-closes.
TOKEN_RE = re.compile(
    r"(<!--.*?-->"  # comment
    r"|<!\[CDATA\[.*?\]\]>"  # cdata
    r"|<![^>]*>"  # doctype / declaration
    r"|<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9:-]*)"
    r"(?:\"[^\"]*\"|'[^']*'|[^>\"'/]|/(?!\s*>))*(/?)\s*>)",
    re.S,
)

# Two or more real tags => treat the payload as HTML.
HTML_SNIFF_RE = re.compile(r"<\s*/?\s*[a-zA-Z][a-zA-Z0-9:-]*(?:\s[^>]*)?>")

BLOCK_TAGS = frozenset(
    "p div li td th h1 h2 h3 h4 h5 h6 article section main pre blockquote "
    "body table tr ul ol dl dt dd figure figcaption summary details".split()
)
BOILERPLATE_TAGS = frozenset(
    "nav footer header aside script style head noscript form button svg iframe "
    "select option template".split()
)
VOID_TAGS = frozenset("br hr img input meta link area base col embed source track wbr".split())
# a closing tag of these ends the current block
FLUSH_TAGS = BLOCK_TAGS | BOILERPLATE_TAGS


def looks_like_html(s: str) -> bool:
    """Cheap dispatch predicate (mirrors the reference's direct-parse-first
    fallback chain, ``apps/legacy/src/services/pdf.ts:145-171``)."""
    if "<" not in s:
        return False
    tags = HTML_SNIFF_RE.finditer(s)
    return next(tags, None) is not None and next(tags, None) is not None


class _Block:
    __slots__ = (
        "start", "end", "pieces", "anchor_chars", "total_chars", "inner_tags", "boilerplate"
    )

    def __init__(self, boilerplate: bool = False) -> None:
        self.start = -1  # first raw text char offset
        self.end = -1  # last raw text char offset (exclusive)
        self.pieces: list[str] = []
        self.anchor_chars = 0
        self.total_chars = 0
        self.inner_tags = 0
        self.boilerplate = boilerplate


def _keep_by_stats(b: _Block) -> bool:
    """The density/link-ratio classification rules (canonical text already
    known to be non-empty)."""
    if b.boilerplate:
        return False
    link_ratio = b.anchor_chars / b.total_chars if b.total_chars else 0.0
    if link_ratio > 0.5:
        return False
    density = b.total_chars / (1 + b.inner_tags)
    if density < 8 and link_ratio > 0.25:
        return False
    return True


def finish_blocks(
    blocks: list[_Block], canon_texts: list[str]
) -> tuple[str, list[tuple[int, int, str]], int, int]:
    """Classification tail given ALREADY-canonicalized block texts (one
    per block, same order). Split out so the Arrow batch UDF can
    canonicalize every block of every HTML row in the batch as ONE
    vectorized series pass instead of ~5 scalar regex subs per block —
    the per-block scalar path was ~40% of extraction batch time on the
    HTML-heavy mix. strip_html composes the same pieces per string, so
    the two paths cannot diverge."""
    kept_texts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    kept = 0
    dropped = 0
    for b, text in zip(blocks, canon_texts):
        if not text:
            # canonicalized-to-empty: counts as dropped per the module
            # contract (rare — reachable only via exotic whitespace)
            dropped += 1
            continue
        if _keep_by_stats(b):
            kept += 1
            kept_texts.append(text)
            spans.append((b.start, b.end, "main"))
        else:
            dropped += 1
    return "\n".join(kept_texts), spans, kept, dropped


def parse_blocks(payload: str) -> list[_Block]:
    """Tag parse only: the document's block list with raw pieces and
    density/link stats, NO canonicalization (see finish_blocks)."""
    # open boilerplate containers and anchors are the only nesting the
    # classification reads, so two depth counters stand in for the stack
    boiler_depth = 0
    anchor_depth = 0
    blocks: list[_Block] = []
    cur = _Block()
    pos = 0

    def flush() -> None:
        nonlocal cur
        if cur.pieces:
            blocks.append(cur)
            cur = _Block(boiler_depth > 0)
        else:
            # nothing but tag counts to discard: reuse the block in place
            cur.inner_tags = 0
            cur.boilerplate = boiler_depth > 0

    def add_text(text: str, start: int) -> None:
        stripped = text.strip()
        if not stripped:
            # pure-whitespace node: keep as separator only if block has text
            if cur.pieces:
                cur.pieces.append(" ")
            return
        # stripped starts with a non-space char, so its first occurrence
        # is right after the leading whitespace
        lead = text.find(stripped)
        if cur.start < 0:
            cur.start = start + lead
        cur.end = start + lead + len(stripped)
        cur.pieces.append(text)
        cur.total_chars += len(stripped)
        if anchor_depth > 0:
            cur.anchor_chars += len(stripped)
        if boiler_depth > 0:
            cur.boilerplate = True

    # split() alternates text and a token's groups; the last text is
    # left over after the 5-tuples
    parts = TOKEN_RE.split(payload)
    it = iter(parts)
    for text, token, slash, name, self_slash in zip(it, it, it, it, it):
        if text:
            add_text(text, pos)
            pos += len(text)
        pos += len(token)
        if name is None:  # comment / doctype
            continue
        name = name.lower()
        if slash == "/":
            # leave the boilerplate scope BEFORE flushing: the flushed
            # block (the nav/footer content) already carries its
            # boilerplate flag from add_text, but the fresh block flush()
            # creates must NOT inherit it — bare text right after
            # </nav>/</footer> is body content, not boilerplate
            if name in BOILERPLATE_TAGS and boiler_depth > 0:
                boiler_depth -= 1
            if name in FLUSH_TAGS:
                flush()
            else:
                cur.inner_tags += 1
            if name == "a" and anchor_depth > 0:
                anchor_depth -= 1
        elif self_slash == "/" or name in VOID_TAGS:
            if name == "br":
                # a literal line separator INSIDE the block — appended
                # directly (add_text's whitespace guard would degrade it
                # to ' '); canonicalization preserves single newlines
                if cur.pieces:
                    cur.pieces.append("\n")
            else:
                cur.inner_tags += 1
        else:
            if name in BOILERPLATE_TAGS:
                flush()
                boiler_depth += 1
            elif name in BLOCK_TAGS:
                flush()
            else:
                cur.inner_tags += 1
                if name == "a":
                    anchor_depth += 1
    if parts[-1]:
        add_text(parts[-1], pos)
    if cur.pieces:
        blocks.append(cur)
    return blocks


def strip_html(
    payload: str,
) -> tuple[str, list[tuple[int, int, str]], int, int]:
    """Extract main content from an HTML payload.

    Returns ``(extracted_text, spans, blocks_kept, blocks_dropped)`` where
    spans are ``(start, end, 'main')`` raw offsets of kept blocks.
    Composition of parse_blocks + scalar canonicalize + finish_blocks —
    the same pieces the batch UDF uses with a vectorized middle stage.
    """
    blocks = parse_blocks(payload)
    texts = [canonicalize_str("".join(b.pieces)) for b in blocks]
    return finish_blocks(blocks, texts)
