"""Arrow-batched extraction UDFs — the engine's hot path.

``extract_turns`` is the Spark-facing mapInPandas stage reproducing the
reference's per-document driver (``processFile`` /
``extractTextFromPDF`` fallback chain, ``apps/legacy/src/services/pdf.ts:131-206``
and ``apps/ocr/src/controllers/ocr-controller.ts:33-208``) as a vectorized
batch transform:

1. HTML payloads -> tag-stack main-content strip (html_strip)
2. else non-empty text -> canonicalize (text_rules), span = trimmed extent
3. else -> fallback to the ``tool`` payload: tolerant JSON parse, take
   ``output``, OCR-normalize (the reference's empty-text OCR fallback,
   pdf.ts:158-164); both empty -> ok=false lineage signal
   (fileProcessor.ts:63-77)

On the dominant plain-text path, canonicalization runs as Arrow compute
kernels (RE2) over the whole column; the HTML prefilter and the trimming
offsets are pandas string methods, which still loop in Python per row.
HTML rows take the per-string tag parse, whose blocks are then
canonicalized in one Arrow pass per batch, and fallback rows (rare by
construction) the scalar canonicalizer. Rows are read and written by
position, never by index label.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from janet_spark.extract.html_strip import (
    finish_blocks,
    looks_like_html,
    parse_blocks,
)
from janet_spark.extract.metadata import tolerant_json_parse
from janet_spark.extract.text_rules import canonicalize_series, canonicalize_str

# Spark-side schema of the extraction output (DDL string for mapInPandas).
EXTRACT_OUTPUT_DDL = (
    "conv_id string, turn_idx int, role string, ts timestamp, "
    "extracted_text string, "
    "spans array<struct<start:int,end:int,kind:string>>, "
    "blocks_kept int, blocks_dropped int, span_count int, ok boolean"
)

def extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Extract one Arrow batch. Input columns: conv_id, turn_idx, role,
    text, tool, ts. Output: EXTRACT_OUTPUT_DDL.

    Rows are read from and results stored into numpy arrays by position,
    not through pandas label lookups or ``Series.__setitem__`` (profiled:
    ~160k per-element Series setitems cost ~25% of the whole batch on the
    HTML-heavy mix, and label lookups of HTML and fallback rows ~6k calls
    per 16,384-row batch; ndarray access makes that overhead vanish)."""
    import numpy as np

    n = len(pdf)
    text = pdf["text"].fillna("").astype(str)
    text_at = text.to_numpy()
    tool_at = (
        pdf["tool"].fillna("").astype(str).to_numpy()
        if "tool" in pdf
        else np.full(n, "", dtype=object)
    )

    extracted = np.full(n, "", dtype=object)
    spans: list[list[dict]] = [[] for _ in range(n)]
    kept = np.zeros(n, dtype="int32")
    dropped = np.zeros(n, dtype="int32")
    ok = np.zeros(n, dtype=bool)

    # cheap vectorized prefilter, exact per-row check only where '<' occurs
    html_mask = np.zeros(n, dtype=bool)
    maybe_html = np.flatnonzero(text.str.contains("<", regex=False).to_numpy())
    html_mask[maybe_html] = [looks_like_html(text_at[p]) for p in maybe_html]

    # --- plain path (vectorized) ---
    plain_pos = np.flatnonzero(~html_mask)
    if len(plain_pos):
        raw = text.iloc[plain_pos]
        canon = canonicalize_series(raw)
        nonempty = (canon.str.len() > 0).to_numpy()
        pe_pos = plain_pos[nonempty]
        if len(pe_pos):
            extracted[pe_pos] = canon[nonempty].to_numpy()
            ok[pe_pos] = True
            kept[pe_pos] = 1
            starts = (raw[nonempty].str.len() - raw[nonempty].str.lstrip().str.len()).astype(int)
            ends = raw[nonempty].str.rstrip().str.len().astype(int)
            s_arr, e_arr = starts.to_numpy(), ends.to_numpy()
            for j, p in enumerate(pe_pos):
                spans[p] = [
                    {"start": int(s_arr[j]), "end": int(e_arr[j]), "kind": "plain"}
                ]
        # --- fallback path: empty text -> tool payload (rare) ---
        for pos in plain_pos[~nonempty]:
            raw_tool = tool_at[pos]
            obj = tolerant_json_parse(raw_tool)
            out = obj.get("output") if isinstance(obj, dict) else None
            if isinstance(out, str):
                out_clean = canonicalize_str(out)
            else:
                out_clean = ""
            if out_clean:
                extracted[pos] = out_clean
                ok[pos] = True
                kept[pos] = 1
                blob_start = raw_tool.find("{")
                blob_end = raw_tool.rfind("}") + 1
                spans[pos] = [
                    {"start": int(blob_start), "end": int(blob_end), "kind": "ocr"}
                ]
            # else: ok stays False, empty output — failed-extraction row

    # --- html path: per-row tag-stack PARSE, but canonicalization of the
    # resulting blocks runs as ONE vectorized pass over every block of
    # every HTML row in the batch (see canonicalize_series) ---
    html_pos = np.flatnonzero(html_mask)
    if len(html_pos):
        parsed = [parse_blocks(text_at[pos]) for pos in html_pos]
        raw_blocks = ["".join(b.pieces) for blocks in parsed for b in blocks]
        canon_iter = iter(
            canonicalize_series(pd.Series(raw_blocks, dtype=object)).to_numpy()
            if raw_blocks
            else ()
        )
        for pos, blocks in zip(html_pos, parsed):
            texts = [next(canon_iter) for _ in blocks]
            t, sp, k, d = finish_blocks(blocks, texts)
            extracted[pos] = t
            spans[pos] = [
                {"start": s, "end": e, "kind": kind} for s, e, kind in sp
            ]
            kept[pos] = k
            dropped[pos] = d
            ok[pos] = bool(t)

    out = pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].to_numpy(),
            "turn_idx": pdf["turn_idx"].to_numpy().astype("int32"),
            "role": (
                pdf["role"].to_numpy() if "role" in pdf else np.full(n, "", dtype=object)
            ),
            # the column's own array: to_numpy() on a tz-aware column
            # builds one Timestamp object per row
            "ts": pdf["ts"].array if "ts" in pdf else np.full(n, None, dtype=object),
            "extracted_text": extracted,
            "spans": spans,
            "blocks_kept": kept,
            "blocks_dropped": dropped,
            "span_count": np.fromiter((len(s) for s in spans), dtype="int32", count=n),
            "ok": ok,
        }
    )
    return out


def extract_turns_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas entrypoint (iterator form keeps memory bounded at wide
    text payloads — SURVEY.md §7 hard part #6)."""
    for pdf in batches:
        if len(pdf):
            yield extract_batch(pdf)
