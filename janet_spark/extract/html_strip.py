"""Main-content extraction from HTML payloads (Readability/Boilerpipe-style).

A lightweight tag-stack parse over the raw string, followed by block
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
from dataclasses import dataclass, field

from janet_spark.extract.text_rules import canonicalize_str

TOKEN_RE = re.compile(
    r"<!--.*?-->"  # comment
    r"|<!\[CDATA\[.*?\]\]>"  # cdata
    r"|<![^>]*>"  # doctype / declaration
    r"|<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9:-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)(/?)\s*>",
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


def looks_like_html(s: str) -> bool:
    """Cheap dispatch predicate (mirrors the reference's direct-parse-first
    fallback chain, ``apps/legacy/src/services/pdf.ts:145-171``)."""
    if "<" not in s:
        return False
    m = HTML_SNIFF_RE.findall(s)
    return len(m) >= 2


@dataclass
class _Block:
    start: int = -1  # first raw text char offset
    end: int = -1  # last raw text char offset (exclusive)
    pieces: list[str] = field(default_factory=list)
    anchor_chars: int = 0
    total_chars: int = 0
    inner_tags: int = 0
    boilerplate: bool = False


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
    """Tag-stack parse only: the document's block list with raw pieces and
    density/link stats, NO canonicalization (see finish_blocks)."""
    stack: list[str] = []  # open element names
    boiler_depth = 0
    anchor_depth = 0
    blocks: list[_Block] = []
    cur = _Block()
    pos = 0
    n = len(payload)

    def flush() -> None:
        nonlocal cur
        if cur.pieces:
            blocks.append(cur)
        cur = _Block(boilerplate=boiler_depth > 0)

    def add_text(text: str, start: int, end: int) -> None:
        if not text.strip():
            # pure-whitespace node: keep as separator only if block has text
            if cur.pieces:
                cur.pieces.append(" ")
            return
        if cur.start < 0:
            cur.start = start + (len(text) - len(text.lstrip()))
        cur.end = end - (len(text) - len(text.rstrip()))
        cur.pieces.append(text)
        cur.total_chars += len(text.strip())
        if anchor_depth > 0:
            cur.anchor_chars += len(text.strip())
        if boiler_depth > 0:
            cur.boilerplate = True

    for m in TOKEN_RE.finditer(payload):
        if m.start() > pos:
            add_text(payload[pos : m.start()], pos, m.start())
        pos = m.end()
        name = m.group(2)
        if name is None:  # comment / doctype
            continue
        name = name.lower()
        closing = m.group(1) == "/"
        self_closing = m.group(4) == "/" or name in VOID_TAGS
        if closing:
            # leave the boilerplate scope BEFORE flushing: the flushed
            # block (the nav/footer content) already carries its
            # boilerplate flag from add_text, but the fresh block flush()
            # creates must NOT inherit it — bare text right after
            # </nav>/</footer> is body content, not boilerplate
            if name in BOILERPLATE_TAGS and boiler_depth > 0:
                boiler_depth -= 1
            if name in BLOCK_TAGS or name in BOILERPLATE_TAGS:
                flush()
            else:
                cur.inner_tags += 1
            if name == "a" and anchor_depth > 0:
                anchor_depth -= 1
            # pop to matching open tag if present (tolerant of bad nesting)
            if name in stack:
                while stack and stack[-1] != name:
                    stack.pop()
                if stack:
                    stack.pop()
        elif self_closing:
            if name == "br":
                # a literal line separator INSIDE the block — appended
                # directly (add_text's whitespace guard would degrade it
                # to ' '); canonicalization preserves single newlines
                if cur.pieces:
                    cur.pieces.append("\n")
            else:
                cur.inner_tags += 1
        else:
            stack.append(name)
            if name in BOILERPLATE_TAGS:
                flush()
                boiler_depth += 1
            elif name in BLOCK_TAGS:
                flush()
            else:
                cur.inner_tags += 1
                if name == "a":
                    anchor_depth += 1
    if pos < n:
        add_text(payload[pos:], pos, n)
    flush()
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
