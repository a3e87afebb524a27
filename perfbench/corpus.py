"""Seeded benchmark inputs with golden outputs.

Every expected string here is written from the archetype contract
(FIXTURES.md §1, the contract ``janet_spark.synthetic`` encodes), never by
running the engine: an archetype builder returns the payload AND the text the
contract says extraction must produce for it.

The same (kind, seed, n_turns) always yields byte-identical files, written
once under the work directory and reused by later runs.
"""

from __future__ import annotations

import json
import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = ("user", "assistant", "tool")
BASE_TS_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
MINUTE_US = 60 * 1_000_000

# FIXTURES.md §1: uniform conversations of 5-50 turns plus one heavy one
MIN_TURNS, MAX_TURNS = 5, 50
HEAVY_TURNS = 10_000

# Many small files: each file costs the scan its open cost, so the default
# split planning yields more scan tasks than a 4-core host has cores.
N_FILES = 48

WORDS = (
    "policy notice cancellation premium coverage financial flow office field "
    "profile report statement account balance travelers renewal effective "
    "customer payment schedule conflict filing benefit claim review service "
    "document summary official fluent deductible insured period reflect"
).split()

# archetype mixes: name -> weight (weights sum to 1)
MIXES = {
    # one third each of HTML, OCR and padded plain, plus fallback and
    # failure rows
    "extract_mix": {
        "html": 0.31,
        "ocr": 0.31,
        "padded": 0.31,
        "tool_json": 0.03,
        "tool_prose": 0.02,
        "failure": 0.02,
    },
    # plain-heavy: few HTML rows, so the kernel share of job time is small
    "job_resume": {
        "padded": 0.42,
        "plain": 0.22,
        "ocr": 0.24,
        "html": 0.03,
        "tool_json": 0.04,
        "tool_prose": 0.02,
        "failure": 0.03,
    },
}


# ---------------------------------------------------------------------------
# archetype builders: each returns (text, tool, expected, ok)
# ---------------------------------------------------------------------------


def plain(core: str) -> tuple[str, str, str, bool]:
    """Canonical text passes through unchanged."""
    return core, "", core, True


def padded(core: str) -> tuple[str, str, str, bool]:
    """Surrounding whitespace is trimmed (``text.trim()``)."""
    return f"   {core}  \n ", "", core, True


def _ligate(word: str) -> str:
    return word.replace("fi", "ﬁ").replace("fl", "ﬂ")


def ocr(
    tokens: list[str],
    seps: list[str],
    hyphenate: dict[int, int],
    lead: str = "",
    tail: str = "",
) -> tuple[str, str, str, bool]:
    """OCR artifacts: ``fi``/``fl`` ligatures, a line-break hyphen inside
    token ``i`` at offset ``hyphenate[i]`` and runs of spaces and tabs
    between tokens. The contract undoes all three: the expected text is the
    tokens joined by single spaces."""
    parts = []
    for i, tok in enumerate(tokens):
        if i in hyphenate:
            k = hyphenate[i]
            tok = f"{tok[:k]}-\n{tok[k:]}"
        parts.append(_ligate(tok))
        if i < len(seps):
            parts.append(seps[i])
    return lead + "".join(parts) + tail, "", " ".join(tokens), True


def html(main1: str, main2: str) -> tuple[str, str, str, bool]:
    """Two main-content paragraphs inside nav/footer boilerplate: only the
    paragraphs survive, joined by a newline."""
    text = (
        "<html><head><title>Site</title></head><body>"
        '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
        f"<div><p>{main1}</p><p>{main2}</p></div>"
        '<footer><a href="/c">Contact</a> (c) corp</footer></body></html>'
    )
    return text, "", f"{main1}\n{main2}", True


def tool_json(
    page: int, tokens: list[str], hyphenate: dict[int, int]
) -> tuple[str, str, str, bool]:
    """Blank text falls back to the tool payload's ``output``: a page header,
    a blank line, then the tokens with line-break hyphens inside token ``i``
    at offset ``hyphenate[i]``."""
    body = " ".join(
        f"{t[:hyphenate[i]]}-\n{t[hyphenate[i]:]}" if i in hyphenate else t
        for i, t in enumerate(tokens)
    )
    output = f"Page {page}\n\n{body}"
    tool = '{"name": "ocr", "output": ' + json.dumps(output) + "}"
    return "  \n ", tool, f"Page {page}\n\n" + " ".join(tokens), True


def tool_prose(output: str) -> tuple[str, str, str, bool]:
    """Empty text; the tool JSON is wrapped in prose (tolerant parse)."""
    tool = 'Result follows: {"name": "ocr", "output": ' + json.dumps(output) + "} (end of output)"
    return "", tool, output, True


def failure() -> tuple[str, str, str, bool]:
    """Both payloads empty: empty output and ok=false."""
    return "", "", "", False


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def _sentence(rng: random.Random, conv_id: str, i: int) -> list[str]:
    words = [rng.choice(WORDS) for _ in range(rng.randint(6, 12))]
    words[0] = words[0].capitalize()
    return words + [f"{conv_id}", f"turn {i}."]


def _turn(rng: random.Random, kind: str, conv_id: str, i: int):
    if kind == "plain":
        return plain(" ".join(_sentence(rng, conv_id, i)))
    if kind == "padded":
        return padded(" ".join(_sentence(rng, conv_id, i)))
    if kind == "ocr":
        tokens = " ".join(_sentence(rng, conv_id, i)).split(" ")
        seps = [rng.choice((" ", "  ", "\t", " \t ", "   ")) for _ in tokens[1:]]
        long = [j for j, t in enumerate(tokens) if t.isalpha() and len(t) >= 6]
        hyph = {j: len(tokens[j]) // 2 for j in rng.sample(long, min(2, len(long)))}
        return ocr(tokens, seps, hyph, lead="  ", tail="\t\t")
    if kind == "html":
        return html(
            " ".join(_sentence(rng, conv_id, i)),
            " ".join(_sentence(rng, conv_id, i + 1)),
        )
    if kind == "tool_json":
        tokens = [w for w in WORDS if len(w) >= 6]
        picked = [rng.choice(tokens) for _ in range(rng.randint(3, 6))]
        return tool_json(1 + i % 9, picked + [conv_id], {0: len(picked[0]) // 2})
    if kind == "tool_prose":
        return tool_prose(f"Travelers notice {rng.randint(100000000, 999999999)} turn {i}")
    return failure()


def _conversation_sizes(rng: random.Random, n_turns: int) -> list[int]:
    sizes = [HEAVY_TURNS]
    total = HEAVY_TURNS
    while total < n_turns:
        s = rng.randint(MIN_TURNS, MAX_TURNS)
        sizes.append(s)
        total += s
    return sizes


def build(kind: str, seed: int, n_turns: int) -> dict[str, pa.Table]:
    """Generate the transcripts plus expected per-turn and per-conversation
    outputs for one (kind, seed, size)."""
    rng = random.Random(f"{kind}:{seed}")
    mix = MIXES[kind]
    names, weights = list(mix), list(mix.values())
    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    expected_text: list[str] = []
    expected_ok: list[bool] = []
    conv_rows = {"conv_id": [], "conv_text": [], "n_turns": []}
    for cid, size in enumerate(_conversation_sizes(rng, n_turns)):
        conv_id = f"conv-{cid:06d}"
        kinds = rng.choices(names, weights, k=size)
        conv_texts = []
        for i, k in enumerate(kinds):
            text, tool, exp, ok = _turn(rng, k, conv_id, i)
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(i)
            cols["role"].append(ROLES[i % 3])
            cols["text"].append(text)
            cols["tool"].append(tool)
            cols["ts"].append(BASE_TS_US + i * MINUTE_US)
            expected_text.append(exp)
            expected_ok.append(ok)
            conv_texts.append(exp)
        conv_rows["conv_id"].append(conv_id)
        conv_rows["conv_text"].append("\n".join(conv_texts))
        conv_rows["n_turns"].append(size)

    # on-disk order must not matter: shuffle rows before writing
    order = np.random.default_rng(seed).permutation(len(cols["conv_id"]))
    transcripts = pa.table(
        {
            "conv_id": pa.array(cols["conv_id"], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "role": pa.array(cols["role"], pa.string()),
            "text": pa.array(cols["text"], pa.string()),
            "tool": pa.array(cols["tool"], pa.string()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        }
    ).take(order)
    expected = pa.table(
        {
            "conv_id": pa.array(cols["conv_id"], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "exp_text": pa.array(expected_text, pa.string()),
            "exp_ok": pa.array(expected_ok, pa.bool_()),
        }
    )
    convs = pa.table(
        {
            "conv_id": pa.array(conv_rows["conv_id"], pa.string()),
            "exp_conv_text": pa.array(conv_rows["conv_text"], pa.string()),
            "exp_n_turns": pa.array(conv_rows["n_turns"], pa.int64()),
        }
    )
    return {"transcripts": transcripts, "expected": expected, "convs": convs}


def materialize(root: str, kind: str, seed: int, n_turns: int) -> dict:
    """Write the inputs for (kind, seed, n_turns) under ``root`` once and
    return their paths, row count and generation time (0 when reused)."""
    base = os.path.join(root, f"{kind}-s{seed}-n{n_turns}")
    marker = os.path.join(base, "DONE.json")
    if os.path.exists(marker):
        with open(marker) as f:
            info = json.load(f)
        info["gen_s"] = 0.0
        return info
    t0 = time.perf_counter()
    tables = build(kind, seed, n_turns)
    tdir = os.path.join(base, "transcripts")
    os.makedirs(tdir, exist_ok=True)
    t = tables["transcripts"]
    bounds = np.linspace(0, t.num_rows, N_FILES + 1).astype(int)
    for j in range(N_FILES):
        part = t.slice(bounds[j], bounds[j + 1] - bounds[j])
        pq.write_table(part, os.path.join(tdir, f"part-{j:03d}.parquet"))
    pq.write_table(tables["expected"], os.path.join(base, "expected.parquet"))
    pq.write_table(tables["convs"], os.path.join(base, "convs.parquet"))
    info = {
        "transcripts": tdir,
        "expected": os.path.join(base, "expected.parquet"),
        "convs": os.path.join(base, "convs.parquet"),
        "n_turns": t.num_rows,
        "n_convs": tables["convs"].num_rows,
    }
    with open(marker, "w") as f:
        json.dump(info, f)
    info["gen_s"] = time.perf_counter() - t0
    return info


# ---------------------------------------------------------------------------
# documents table for the registry queries
# ---------------------------------------------------------------------------

DOC_WORDS = (
    "a the batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer"
).split()
LANGS = ("en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20
N_DOCS = 2500
MIN_COPIED_WORDS = 40


def documents(seed: int) -> pa.Table:
    """A ``documents`` table shaped like the test data the registry's text
    queries read: word-salad text of 8-90 words. One document in twenty is
    a copy of an earlier document of at least ``MIN_COPIED_WORDS`` words
    with its last word redrawn, so dedup and near-dup queries find pairs.
    Only the last shingle differs, so every near-duplicate pair sits far
    above the 0.8 Jaccard threshold: MinHash LSH can miss a pair close to
    the threshold (it missed one at 0.84), and its DuckDB oracle is exact.
    Query outputs are checked against their DuckDB oracles."""
    rng = random.Random(f"documents:{seed}")
    texts: list[str] = []
    copyable: list[int] = []
    for d in range(N_DOCS):
        if len(copyable) >= 50 and rng.random() < 0.05:
            words = texts[rng.choice(copyable)].split(" ")
            words[-1] = rng.choice(DOC_WORDS)
        else:
            words = [rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(words))
        if len(words) >= MIN_COPIED_WORDS:
            copyable.append(d)
    return pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(N_DOCS)], pa.string()),
            "source": pa.array([f"src{d % N_SOURCES}" for d in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def materialize_documents(root: str, seed: int) -> str:
    """Write the documents table for ``seed`` once; return its directory
    (the ``sf_dir`` registry queries take)."""
    sf_dir = os.path.join(root, f"documents-s{seed}")
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        os.makedirs(sf_dir, exist_ok=True)
        pq.write_table(documents(seed), path + ".tmp")
        os.replace(path + ".tmp", path)
    return sf_dir
