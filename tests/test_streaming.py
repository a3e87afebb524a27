"""Structured Streaming front-end tests: incremental exactly-once extraction
(AvailableNow draining only unprocessed files) and watermarked windowed
aggregation."""

from __future__ import annotations

import pandas as pd
import pytest

from janet_spark.streaming import incremental_extract, windowed_turn_counts
from janet_spark.synthetic import make_transcripts

pytestmark = pytest.mark.usefixtures("spark")


def _write_batch(spark, pdf: pd.DataFrame, path: str) -> None:
    df = spark.createDataFrame(
        pdf,
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_incremental_extract_exactly_once(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    t1, e1 = make_transcripts(n_convs=4, skew_turns=8, base_turns=6, seed=1)
    _write_batch(spark, t1, landing)
    q = incremental_extract(spark, landing, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == len(t1)

    # second batch: only NEW files are processed on re-run
    t2, _ = make_transcripts(n_convs=3, skew_turns=8, base_turns=5, seed=2)
    t2 = t2.assign(conv_id=t2["conv_id"] + "-b2")
    _write_batch(spark, t2, landing)
    q = incremental_extract(spark, landing, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == len(t1) + len(t2)
    # no duplicates: every (conv_id, turn_idx) appears exactly once
    assert got.select("conv_id", "turn_idx").distinct().count() == len(t1) + len(t2)

    # per-turn text equality vs the independently constructed expectations
    e1 = e1[e1["ok"]]
    got_pd = (
        got.filter(~got.conv_id.endswith("-b2"))
        .select("conv_id", "turn_idx", "extracted_text")
        .toPandas()
        .set_index(["conv_id", "turn_idx"])["extracted_text"]
    )
    for _, r in e1.iterrows():
        assert got_pd[(r["conv_id"], r["turn_idx"])] == r["extracted_text"]


def test_windowed_counts_watermark(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = pd.Timestamp("2024-01-01T00:00:00")
    rows = []
    for conv, n in [("c-a", 25), ("c-b", 7)]:
        for i in range(n):
            rows.append(
                dict(
                    conv_id=conv,
                    turn_idx=i,
                    role="user",
                    text=f"turn {i}",
                    tool="",
                    ts=base + pd.Timedelta(minutes=i),
                )
            )
    _write_batch(spark, pd.DataFrame(rows), landing)
    q = windowed_turn_counts(spark, landing, out, ckpt, window="10 minutes")
    q.awaitTermination(120)

    # append mode emits only windows finalized by the watermark; advance it
    # with a late-arriving second file far in the future
    rows2 = [
        dict(
            conv_id="c-late",
            turn_idx=0,
            role="user",
            text="x",
            tool="",
            ts=base + pd.Timedelta(hours=6),
        )
    ]
    _write_batch(spark, pd.DataFrame(rows2), landing)
    q = windowed_turn_counts(spark, landing, out, ckpt, window="10 minutes")
    q.awaitTermination(120)

    got = spark.read.parquet(out).toPandas()
    ca = got[got.conv_id == "c-a"].sort_values("win_start")
    # 25 one-minute-spaced turns => 10/10/5 across three 10-min windows
    assert list(ca["n_turns"]) == [10, 10, 5]
    cb = got[got.conv_id == "c-b"]
    assert list(cb["n_turns"]) == [7]


def test_stateful_conversation_assembly_across_restarts(spark, tmp_path):
    from janet_spark.streaming import assemble_conversations_stream

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = pd.to_datetime("2024-01-01T00:00:00Z")

    # batch 1: conv A complete (terminator present), conv B still open
    b1 = pd.DataFrame(
        {
            "conv_id": ["A", "A", "A", "B", "B"],
            "turn_idx": [1, 0, 2, 0, 1],
            "role": ["user", "user", "end", "user", "assistant"],
            "text": ["a-one", "a-zero", "", "b-zero", "b-one"],
            "tool": [""] * 5,
            "ts": [ts] * 5,
        }
    )
    _write_batch(spark, b1, landing)
    q = assemble_conversations_stream(spark, landing, out, ckpt)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out).toPandas()
    # A emitted, ordered by turn_idx despite arrival order; B withheld in state
    assert list(got1["conv_id"]) == ["A"]
    assert got1.iloc[0]["conv_text"] == "a-zero\na-one"
    assert got1.iloc[0]["n_turns"] == 2
    assert got1.iloc[0]["completed_by"] == "terminator"

    # batch 2 after a RESTART (new query, same checkpoint): B's tail +
    # terminator arrive — state survived the restart, full conv emits
    b2 = pd.DataFrame(
        {
            "conv_id": ["B", "B"],
            "turn_idx": [2, 3],
            "role": ["user", "end"],
            "text": ["b-two", ""],
            "tool": [""] * 2,
            "ts": [ts] * 2,
        }
    )
    _write_batch(spark, b2, landing)
    q = assemble_conversations_stream(spark, landing, out, ckpt)
    q.awaitTermination(120)
    got2 = spark.read.parquet(out).toPandas().sort_values("conv_id")
    assert list(got2["conv_id"]) == ["A", "B"]
    b_row = got2[got2.conv_id == "B"].iloc[0]
    assert b_row["conv_text"] == "b-zero\nb-one\nb-two"
    assert b_row["n_turns"] == 3
    assert b_row["completed_by"] == "terminator"


def test_stateful_assembly_overflow_cap(spark, tmp_path):
    from janet_spark.streaming import assemble_conversations_stream

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = pd.to_datetime("2024-01-01T00:00:00Z")

    # 12 turns, no terminator, cap of 10 -> the buffered prefix must emit
    # with completed_by='overflow' instead of growing state forever
    b = pd.DataFrame(
        {
            "conv_id": ["C"] * 12,
            "turn_idx": list(range(12)),
            "role": ["user"] * 12,
            "text": [f"t{i}" for i in range(12)],
            "tool": [""] * 12,
            "ts": [ts] * 12,
        }
    )
    _write_batch(spark, b, landing)
    q = assemble_conversations_stream(spark, landing, out, ckpt, max_open_turns=10)
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas()
    assert list(got["completed_by"]) == ["overflow"]
    assert got.iloc[0]["n_turns"] == 12  # everything buffered so far emits
    assert got.iloc[0]["conv_text"].startswith("t0\nt1\n")


def test_stream_stream_join_enrichment(spark, tmp_path):
    from janet_spark.streaming import enrich_with_label_stream

    turns_dir = str(tmp_path / "turns")
    labels_dir = str(tmp_path / "labels")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = pd.Timestamp("2024-01-01T12:00:00")

    turns = pd.DataFrame(
        {
            "conv_id": ["A", "A", "B"],
            "turn_idx": [0, 1, 0],
            "role": ["user"] * 3,
            "text": ["a0", "a1", "b0"],
            "tool": [""] * 3,
            "ts": [base, base + pd.Timedelta(minutes=5), base],
        }
    )
    _write_batch(spark, turns, turns_dir)
    # A's label arrives within the skew window; B's label is 3 hours stale
    labels = pd.DataFrame(
        {
            "conv_id": ["A", "B"],
            "label": ["good", "stale"],
            "lts": [base + pd.Timedelta(minutes=30), base - pd.Timedelta(hours=3)],
        }
    )
    spark.createDataFrame(
        labels, "conv_id string, label string, lts timestamp"
    ).coalesce(1).write.mode("append").parquet(labels_dir)

    q = enrich_with_label_stream(spark, turns_dir, labels_dir, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas().sort_values(["conv_id", "turn_idx"])
    # both A turns enriched (label within 1h of each), B excluded (3h skew)
    assert list(got["conv_id"]) == ["A", "A"]
    assert set(got["label"]) == {"good"}
    assert list(got["turn_idx"]) == [0, 1]


def test_stream_reads_int64_turn_idx_producer(spark, tmp_path):
    # a producer that wrote turn_idx as bigint must stream cleanly onto
    # the int contract (widest-read + cast-down in read_transcript_stream)
    from janet_spark.streaming import incremental_extract

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.range(6).selectExpr(
        "concat('c', id % 2) AS conv_id",
        "id AS turn_idx",  # bigint on disk
        "'user' AS role",
        "concat('body ', id) AS text",
        "'' AS tool",
        "timestamp'2024-01-01' AS ts",
    ).coalesce(1).write.parquet(landing)
    q = incremental_extract(spark, landing, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 6
    assert dict(got.dtypes)["turn_idx"] == "int"


def test_stream_dedup_within_watermark(spark, tmp_path):
    """At-least-once redelivery: the same (conv_id, turn_idx) lands in two
    files (second delivery inside the watermark window); exactly one copy
    survives, and distinct keys all pass through."""
    import datetime

    from janet_spark.streaming import dedup_turns_stream

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    rows = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": [0, 1, 0],
            "role": ["user"] * 3,
            "text": ["a", "b", "c"],
            "tool": [""] * 3,
            "ts": [base, base, base],
        }
    )
    _write_batch(spark, rows, landing)
    # redelivery of (c1, 0) with different text (late retry), plus one new key
    dup = pd.DataFrame(
        {
            "conv_id": ["c1", "c3"],
            "turn_idx": [0, 0],
            "role": ["user"] * 2,
            "text": ["a-redelivered", "d"],
            "tool": [""] * 2,
            "ts": [base + datetime.timedelta(minutes=5)] * 2,
        }
    )
    _write_batch(spark, dup, landing)

    q = dedup_turns_stream(spark, landing, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas()
    keys = sorted(zip(got["conv_id"], got["turn_idx"]))
    assert keys == [("c1", 0), ("c1", 1), ("c2", 0), ("c3", 0)]
    # first arrival wins for the duplicated key
    assert set(got[got["conv_id"] == "c1"]["text"]) <= {"a", "b", "a-redelivered"}
    assert len(got) == 4


def test_update_index_stream_additive_merge(spark, tmp_path):
    """Two document batches drained separately must yield the SAME df
    table as one pass over all documents — the streaming side of the
    additive-merge contract (index_incremental_merge pins the batch
    side)."""
    from pyspark.sql import functions as F

    from janet_spark.search import _tokens
    from janet_spark.streaming import update_index_stream

    landing = str(tmp_path / "docs")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    def write_docs(rows):
        pdf = pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )
        spark.createDataFrame(
            pdf, schema="doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.mode("append").parquet(landing)

    write_docs([(0, "spark merge sort", "en", "s1", 16), (1, "merge table", "en", "s1", 11)])
    q = update_index_stream(spark, landing, index, ckpt)
    q.awaitTermination(120)
    write_docs([(2, "table scan spark spark", "en", "s1", 22), (3, "sort", "en", "s1", 4)])
    q = update_index_stream(spark, landing, index, ckpt)
    q.awaitTermination(120)

    got = {
        r["tok"]: r["df"]
        for r in spark.read.parquet(index).collect()
    }
    want = {
        r["tok"]: r["df"]
        for r in (
            spark.read.parquet(landing)
            .select("doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .collect()
        )
    }
    assert got == want
    # 'spark' appears twice in doc 2 but counts once (df, not tf)
    assert got["spark"] == 2 and got["merge"] == 2 and got["sort"] == 2


def test_update_index_stream_recovers_stranded_swap(spark, tmp_path):
    """Round-3 advice: a crash between the rename-aside and the
    rename-in of a publish leaves index_dir absent with the full history
    at the aside path. The next batch must rename it back before reading
    — not rebuild the table from that batch's delta alone."""
    import os

    from janet_spark import commit
    from janet_spark.streaming import update_index_stream

    landing = str(tmp_path / "docs")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    def write_docs(rows):
        pdf = pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )
        spark.createDataFrame(
            pdf,
            schema="doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("append").parquet(landing)

    write_docs([(0, "spark merge sort", "en", "s1", 16)])
    q = update_index_stream(spark, landing, index, ckpt)
    q.awaitTermination(120)
    assert {r["tok"] for r in spark.read.parquet(index).collect()} == {
        "spark",
        "merge",
        "sort",
    }

    # simulate the mid-swap crash: history stranded aside, index gone
    os.makedirs(os.path.dirname(commit.aside_path(index)))
    os.rename(index, commit.aside_path(index))

    write_docs([(1, "merge table", "en", "s1", 11)])
    q = update_index_stream(spark, landing, index, ckpt)
    q.awaitTermination(120)

    got = {r["tok"]: r["df"] for r in spark.read.parquet(index).collect()}
    # accumulated history survived the stranded swap: df('spark') from
    # batch 1 is still there, and 'merge' merged additively across both
    assert got == {"spark": 1, "merge": 2, "sort": 1, "table": 1}
    assert not os.path.isdir(commit.aside_path(index))


def test_update_index_stream_sweeps_stale_old_dir(spark, tmp_path):
    """Round-4 advice (medium): the OTHER swap crash window — after the
    rename-in but before the aside copy is deleted — leaves a non-empty
    aside copy ALONGSIDE a current index. On the replayed batch the
    stranded-swap recovery doesn't apply (index exists), and without
    sweeping the stale aside copy, renaming the index aside fails
    ENOTEMPTY and wedges the stream permanently."""
    import os
    import shutil

    from janet_spark import commit
    from janet_spark.streaming import update_index_stream

    landing = str(tmp_path / "docs")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    def write_docs(rows):
        pdf = pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )
        spark.createDataFrame(
            pdf,
            schema="doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("append").parquet(landing)

    write_docs([(0, "spark merge sort", "en", "s1", 16)])
    q = update_index_stream(spark, landing, index, ckpt)
    q.awaitTermination(120)

    # simulate the crash AFTER the swap completed but BEFORE cleanup:
    # index is current, a non-empty aside copy lingers
    shutil.copytree(index, commit.aside_path(index))

    write_docs([(1, "merge table", "en", "s1", 11)])
    q = update_index_stream(spark, landing, index, ckpt)
    q.awaitTermination(120)

    got = {r["tok"]: r["df"] for r in spark.read.parquet(index).collect()}
    assert got == {"spark": 1, "merge": 2, "sort": 1, "table": 1}
    assert not os.path.isdir(commit.aside_path(index))


def test_curate_turns_stream_gate_and_decontamination(spark, tmp_path):
    """The streaming curation gate: (a) a too-short turn and a
    high-repetition turn are dropped by the stateless quality filter;
    (b) a turn carrying a benchmark 8-gram is dropped by the broadcast
    decontamination probe; (c) clean turns pass through unmodified; and
    the second micro-batch behaves identically (no state involved)."""
    import datetime as dt

    from janet_spark.streaming import curate_turns_stream

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    bench8 = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    ts = dt.datetime(2026, 1, 1)
    mk = lambda cid, idx, text: {
        "conv_id": cid, "turn_idx": idx, "role": "user",
        "text": text, "tool": None, "ts": ts,
    }
    b1 = pd.DataFrame([
        mk("c1", 0, "a perfectly ordinary clean turn with plenty of words"),
        mk("c1", 1, "too short"),                              # quality: < 5 words
        mk("c1", 2, "dup dup dup dup dup dup dup dup"),        # repetition
        mk("c1", 3, f"prefix {bench8} suffix words here now"),  # contaminated
    ])
    _write_batch(spark, b1, landing)
    grams = frozenset([bench8])
    q = curate_turns_stream(spark, landing, grams, out, ckpt)
    q.awaitTermination(120)
    got1 = {r["turn_idx"] for r in spark.read.parquet(out).collect()}
    assert got1 == {0}

    b2 = pd.DataFrame([
        mk("c2", 0, "another clean and sufficiently long turn right here"),
        mk("c2", 1, f"{bench8} leading contamination and then some text"),
    ])
    _write_batch(spark, b2, landing)
    q = curate_turns_stream(spark, landing, grams, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out).select("conv_id", "turn_idx").collect()
    assert {(r["conv_id"], r["turn_idx"]) for r in got} == {("c1", 0), ("c2", 0)}


def test_hll_register_stream_matches_batch_sketch(spark, tmp_path):
    """Registers accumulated over two drained micro-batch passes must
    max-merge to EXACTLY the batch operator's registers over all
    documents — and stay exact when a batch's generation is re-committed
    (the at-least-once replay case max-merge exists to absorb)."""
    from janet_spark.maintained import append, read
    from janet_spark.sketches import (
        HLL_REGISTERS,
        hll_estimate_frame,
        hll_registers_frame,
    )
    from janet_spark.streaming import hll_register_stream

    landing = str(tmp_path / "docs")
    regs = str(tmp_path / "regs")
    ckpt = str(tmp_path / "ckpt")

    def write_docs(rows):
        pdf = pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )
        spark.createDataFrame(
            pdf,
            schema="doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("append").parquet(landing)

    write_docs([(i, f"stream key {i}", "en", f"s{i % 2}", 12) for i in range(200)])
    q = hll_register_stream(spark, landing, regs, ckpt)
    q.awaitTermination(120)
    write_docs(
        [(i, f"stream key {i}", "en", f"s{i % 2}", 12) for i in range(150, 350)]
    )
    q = hll_register_stream(spark, landing, regs, ckpt)
    q.awaitTermination(120)

    merged = read(spark, HLL_REGISTERS, regs)
    full = hll_registers_frame(spark.read.parquet(landing))
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))

    # simulate an at-least-once replay: re-commit batch 0's delta again
    append(
        HLL_REGISTERS,
        spark.read.parquet(landing).filter("doc_id < 200"),
        regs,
        "batch-replayed",
    )
    replayed = read(spark, HLL_REGISTERS, regs)
    est_a = sorted(map(tuple, hll_estimate_frame(merged).collect()))
    est_b = sorted(map(tuple, hll_estimate_frame(replayed).collect()))
    assert est_a == est_b
