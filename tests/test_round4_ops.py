"""Round-4 operator tests: search-as-you-type prefix semantics,
maintained-generation report constructors, and generation compaction."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"


def test_prefix_search_semantics(spark):
    """The Meili prefix rule, pinned case by case: the last term expands
    to every vocabulary word it prefixes (damped 0.5), non-last terms are
    whole-word only, a last term matching nothing contributes nothing,
    and a COMPLETE last word scores exact-only — never additionally as
    its own prefix."""
    from pyspark.sql import functions as F

    from janet_spark.queries_relational import t
    from janet_spark.search import (
        _PREFIX_QUERIES,
        _index_relations,
        _tokens,
        q_prefix_search,
    )

    rows = q_prefix_search(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == {1, 2, 3, 4}

    docs = t(spark, SF, "documents")
    vocab = {
        r["tok"]
        for r in docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .distinct()
        .collect()
    }
    s_words = {w for w in vocab if w.startswith("s")}
    assert len(s_words) >= 5  # "merge s" genuinely multi-expands

    # q1 "merge s": every returned doc matches 'merge' or an s-word
    # (src7/en tenant); brute-force the expected doc set
    tenant = docs.filter((F.col("source") == "src7") & (F.col("lang") == "en"))
    expected_docs = {
        r["doc_id"]
        for r in tenant.select(
            "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
        )
        .filter(F.col("tok").isin(list(s_words | {"merge"})))
        .select("doc_id")
        .distinct()
        .collect()
    }
    got_docs = {r["doc_id"] for r in by_q[1]}
    assert got_docs <= expected_docs and got_docs

    # q4 "window" (complete word): identical to plain BM25 ranked search
    # for the single exact term — the word must NOT double-score as its
    # own prefix. Reuse the ranked_search machinery on the same queries.
    from janet_spark.search import _BM25_K1, _BM25_B, _TOP_K  # noqa: F401

    tf, dl, stats, df_t = _index_relations(docs)
    n_docs, avgdl = stats.collect()[0]
    df_window = {r["tok"]: r["df"] for r in df_t.collect()}["window"]
    import math

    idf = math.log(1.0 + (n_docs - df_window + 0.5) / (df_window + 0.5))
    w_docs = (
        tf.filter(
            (F.col("tok") == "window")
            & (F.col("source") == "src12")
            & (F.col("lang") == "en")
        )
        .join(dl, "doc_id")
        .collect()
    )
    expected_scores = {
        r["doc_id"]: round(
            idf
            * r["tf"]
            * (_BM25_K1 + 1)
            / (
                r["tf"]
                + _BM25_K1 * ((1 - _BM25_B) + _BM25_B * r["dl"] / avgdl)
            ),
            4,
        )
        for r in w_docs
    }
    got_scores = {r["doc_id"]: r["score"] for r in by_q[4]}
    for doc_id, score in got_scores.items():
        assert score == pytest.approx(expected_scores[doc_id], abs=1e-4)

    # q2 "spark data pipe": 'pipe' prefixes nothing in this vocabulary,
    # so results equal the two-term query — every hit contains spark/data
    hit2 = {r["doc_id"] for r in by_q[2]}
    tenant2 = docs.filter((F.col("source") == "src18") & (F.col("lang") == "en"))
    sd_docs = {
        r["doc_id"]
        for r in tenant2.select(
            "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
        )
        .filter(F.col("tok").isin(["spark", "data"]))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert hit2 <= sd_docs and hit2

    assert all(len(v) <= 10 for v in by_q.values())


def test_conv_verify_prefilter_conservative_and_bounding(spark):
    """Round-3 verdict #4: the estimated-Jaccard prefilter must (a) never
    change the verify tail's output, and (b) kill a hot-bucket star
    candidate against a huge representative BEFORE its shingles reach the
    intersection join."""
    from pyspark.sql import functions as F

    from janet_spark.conversations import (
        _conv_verify_candidates,
        _sig_prefilter,
        conv_sig_df,
    )
    from janet_spark.derive import derived_transcripts

    tr = derived_transcripts(spark, "/root/testdata/sf0.001")
    # a "mega" representative: 2000 unique turns under one conv_id
    mega = spark.range(2000).select(
        F.lit("aaa-mega").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("mega content "), F.col("id").cast("string")).alias("text"),
        F.lit("").alias("tool"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("ts"),
    )
    corpus = tr.unionByName(mega)
    sigs = conv_sig_df(corpus).persist()

    # candidates: every sf0.001 conversation starred against the mega rep
    # (what a degenerate bucket with rep=aaa-mega would emit), plus real
    # same-corpus candidate pairs that carry the genuine near-dup signal
    convs = tr.select("conv_id").distinct()
    star = convs.select(
        F.lit("aaa-mega").alias("c1"), F.col("conv_id").alias("c2")
    )
    from janet_spark.conversations import conv_band_df

    bands = conv_band_df(corpus, sigs=sigs)
    a, b = bands.alias("a"), bands.alias("b")
    genuine = a.join(
        b,
        (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.conv_id") < F.col("b.conv_id")),
    ).select(F.col("a.conv_id").alias("c1"), F.col("b.conv_id").alias("c2"))
    candidates = star.unionByName(genuine)

    base = {tuple(r) for r in _conv_verify_candidates(corpus, candidates).collect()}
    pref = {
        tuple(r)
        for r in _conv_verify_candidates(corpus, candidates, sigs=sigs).collect()
    }
    assert pref == base and base  # conservative: no behavior change

    surviving = _sig_prefilter(candidates.distinct(), sigs)
    assert (
        surviving.filter(
            (F.col("c1") == "aaa-mega") | (F.col("c2") == "aaa-mega")
        ).count()
        == 0
    )  # the mega rep's shingles never reach the intersection join


def test_bpe_1k_table_and_trainers(spark):
    """Round-3 verdict #5: the production-size tokenizer. (a) The frozen
    1,000-merge table is well-formed and genuinely deep (digit merges the
    48-table never reaches); (b) applying it compresses a digit-heavy
    entity name far below character count; (c) the distributed trainer
    reproduces the independent incremental reference trainer bit-for-bit
    on the sf0.001 union corpus (the sf0.1 full-table equality is
    recorded by scripts/train_bpe_1k.py in BENCH/bpe_1k_train.json)."""
    import os
    import sys

    from janet_spark.extract.bpe import bpe_tokens, bpe_tokens_1k
    from janet_spark.extract.bpe_merges_1k import MERGES_1K
    from janet_spark.tokenizer_train import train_bpe_distributed, union_vocab

    assert len(MERGES_1K) == 1000
    # repeated ranks ARE legal under single-pass-per-rank semantics: one
    # non-overlapping replace over ' 0 0 0 0 ' merges alternate pairs
    # only, so the greedy loop re-picks the same pair when the leftovers
    # still dominate — but they must stay rare (each repeat must have
    # been re-fed by intermediate merges, not loop forever)
    assert len(set(MERGES_1K)) >= 990
    assert any(a.isdigit() or b.isdigit() for a, b in MERGES_1K)

    # digit-heavy entity token: the 1k table must compress it hard while
    # the 48-merge table (trained on prose only) barely merges digits
    name_tok = "000001234"
    assert len(bpe_tokens_1k(name_tok)) < len(name_tok) / 2
    assert len(bpe_tokens_1k(name_tok)) < len(bpe_tokens(name_tok))
    # concatenation invariant: merges never alter characters
    assert "".join(bpe_tokens_1k(name_tok)) == name_tok
    assert bpe_tokens_1k("customer") == ("customer",)

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from train_bpe_1k import load_vocab, reference_train

    got = train_bpe_distributed(
        spark,
        "/root/testdata/sf0.001",
        n_merges=100,
        vocab=union_vocab(spark, "/root/testdata/sf0.001"),
    )
    want = reference_train(load_vocab("/root/testdata/sf0.001"), 100)
    assert got == want


def test_incremental_embed_neardup_equals_delta_filtered_full(spark):
    """The embedding-modality daily-delta invariant (same shape as the
    n-gram and conversation grains): the incremental miner's output must
    equal the full miner's pairs restricted to delta-touching ones — a
    nonempty STRICT subset at this SF, so both the inclusion and the
    exclusion sides are exercised."""
    from janet_spark.queries_text import (
        _EMB_DELTA_MOD,
        q_embed_neardup_blocked,
        q_incremental_embed_neardup,
    )

    full = {
        (r.label, r.v1, r.v2, r.sim)
        for r in q_embed_neardup_blocked(spark, SF).collect()
    }
    expected = {
        t
        for t in full
        if t[1] % _EMB_DELTA_MOD == 0 or t[2] % _EMB_DELTA_MOD == 0
    }
    got = {
        (r.label, r.v1, r.v2, r.sim)
        for r in q_incremental_embed_neardup(spark, SF).collect()
    }
    assert got == expected
    assert got and got < full


def test_ann_ivf_indexed_matches_per_call_form(spark, tmp_path, monkeypatch):
    """The maintained-index ANN must return exactly the per-call form's
    results, build its index once (gen=bootstrap), and serve the second
    call from the stored table."""
    import os

    from janet_spark.maintained import state_dir_for_input
    from janet_spark.queries_extra import q_ann_ivf_topk, q_ann_ivf_topk_indexed

    monkeypatch.setenv("JANET_SPARK_STATE_DIR", str(tmp_path / "state"))
    index = state_dir_for_input(SF, "embeddings.parquet", "ivf_index")

    base = [tuple(r) for r in q_ann_ivf_topk(spark, SF).collect()]
    got1 = [tuple(r) for r in q_ann_ivf_topk_indexed(spark, SF).collect()]
    assert got1 == base and base
    assert os.listdir(index) == ["gen=bootstrap"]
    # second call: reads the stored index (no new generation)
    got2 = [tuple(r) for r in q_ann_ivf_topk_indexed(spark, SF).collect()]
    assert got2 == base
    assert os.listdir(index) == ["gen=bootstrap"]


def test_staged_cte_render_matches_python_tokenizer_property():
    """Property: the staged-CTE DuckDB render of the 1,000-merge chain
    must tokenize ANY word identically to the Python apply chain — the
    renderer only restructures depth, never semantics. Hypothesis drives
    random lowercase-alnum words through both engines."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from janet_spark.extract.bpe import (
        bpe_tokens_1k,
        duckdb_staged_token_count_ctes,
    )
    from janet_spark.extract.bpe_merges_1k import MERGES_1K

    con = duckdb.connect()
    ctes, final = duckdb_staged_token_count_ctes("w", "word", MERGES_1K)

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=24),
            min_size=1,
            max_size=8,
        )
    )
    def check(words):
        vals = ", ".join(f"({i}, '{w}')" for i, w in enumerate(words))
        rows = con.execute(
            f"WITH w(i, word) AS (VALUES {vals}),\n{ctes}\n"
            f"SELECT i, bpe_n FROM {final} ORDER BY i"
        ).fetchall()
        got = {i: n for i, n in rows}
        want = {i: len(bpe_tokens_1k(w)) for i, w in enumerate(words)}
        assert got == want

    check()


def test_maintained_pairs_fingerprint_invalidates_on_input_change(spark, tmp_path):
    """The maintained pair table keys its state dir by a fingerprint of the
    input parquet (path + size + mtime): a REGENERATED input must get a
    fresh state dir, never stale pairs from the old corpus."""
    import os
    import shutil
    import time

    from janet_spark.dedup_incremental import PAIRS
    from janet_spark.maintained import maintained, state_dir_for_input
    from janet_spark.queries_text import q_minhash_lsh_pairs

    def pairs_of(sf):
        return maintained(
            spark,
            PAIRS,
            state_dir_for_input(sf, "documents.parquet", "pairs"),
            {"bootstrap": lambda: q_minhash_lsh_pairs(spark, sf)},
        )

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy("/root/testdata/sf0.001/documents.parquet", sf)

    p1 = pairs_of(sf)
    n1 = p1.count()

    # regenerate the input: drop half the docs (different size + mtime)
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    half = docs.filter(docs.doc_id % 2 == 0).toPandas()
    time.sleep(0.01)
    os.remove(os.path.join(sf, "documents.parquet"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(half, preserve_index=False),
        os.path.join(sf, "documents.parquet"),
    )
    p2 = pairs_of(sf)
    n2 = p2.count()
    # the halved corpus must re-mine: every remaining pair has both
    # endpoints even, and the count differs from the stale table's
    assert n2 < n1
    assert all(r.d1 % 2 == 0 and r.d2 % 2 == 0 for r in p2.collect())


def test_compact_generations_preserves_reads_and_resume(spark, tmp_path):
    """Round-3 verdict #8: compacting 10 daily generations of an additive
    table into one must leave reads IDENTICAL (row multiset), survive a
    crash between the compacted-gen commit and the old-dir deletes
    without double-counting, and leave the incremental-run resume path
    unaffected."""
    import json
    import os

    from pyspark.sql import functions as F

    from janet_spark.commit import write_generation
    from janet_spark.dedup_incremental import SIGNATURES
    from janet_spark.maintained import compact_generations, prune_snapshots, read

    SIG_SCHEMA = SIGNATURES.schema

    sig = str(tmp_path / "sigs")
    # 10 daily generations, disjoint doc_id ranges (the additive shape)
    for day in range(10):
        rows = [(day * 100 + i, (day * 100 + i) * 7 % 997) for i in range(100)]
        df = spark.createDataFrame(rows, SIG_SCHEMA)
        write_generation(df, sig, f"run-{1000 + day}-day")

    def snapshot():
        return sorted(
            (r.doc_id, r.band_key)
            for r in read(spark, SIGNATURES, sig).collect()
        )

    before = snapshot()
    summary = compact_generations(spark, SIGNATURES, sig, keep_latest=3)
    assert summary["compacted"] and summary["n_absorbed"] == 7
    assert snapshot() == before  # reads identical
    gens = [d for d in os.listdir(sig) if d.startswith("gen=")]
    assert len(gens) == 4  # 1 compacted + 3 kept

    # crash window: compacted gen committed but covered dirs NOT deleted
    # -> resurrect one covered dir; reads must still not double-count
    compacted = next(d for d in gens if "compacted-" in d)
    covered = json.load(open(os.path.join(sig, compacted, "_covered.json")))
    zombie = covered[0]
    df = spark.createDataFrame(
        [(i, i * 7 % 997) for i in range(100)], SIG_SCHEMA
    )
    write_generation(df, sig, zombie.removeprefix("gen="))
    assert snapshot() == before  # zombie skipped, not double-counted
    # the next compaction sweeps the zombie
    compact_generations(spark, SIGNATURES, sig, keep_latest=3)
    assert not os.path.isdir(os.path.join(sig, zombie))
    assert snapshot() == before

    # a fresh daily generation after compaction reads correctly (resume)
    df = spark.createDataFrame(
        [(2000 + i, i) for i in range(50)], SIG_SCHEMA
    )
    write_generation(df, sig, "run-9999-new")
    assert len(snapshot()) == len(before) + 50

    # snapshot pruning keeps the newest
    clu = str(tmp_path / "census")
    for day in range(5):
        write_generation(
            spark.createDataFrame([(day, day, day)], "band_key long, bkt_n long, rep_doc long"),
            clu,
            f"run-{1000 + day}-day",
        )
    assert prune_snapshots(clu, keep_latest=2) == 3
    left = sorted(os.listdir(clu))
    assert [d for d in left if d.startswith("gen=")] == [
        "gen=run-1003-day",
        "gen=run-1004-day",
    ]


def test_incremental_dedup_after_compaction_matches_uncompacted(spark, tmp_path):
    """End-to-end resume check: three daily incremental runs, compact the
    signature + pair generations, then run day 4 — the mined pairs and
    the standing pair table must equal the uncompacted timeline's."""
    from pyspark.sql import functions as F

    from janet_spark.dedup_incremental import PAIRS, SIGNATURES, incremental_dedup_run
    from janet_spark.maintained import compact_generations, read
    from janet_spark.queries_relational import t

    sf = "/root/testdata/sf0.001"
    docs = t(spark, sf, "documents").select("doc_id", "text")
    days = [docs.filter(F.col("doc_id") % 4 == k) for k in range(4)]
    empty = spark.createDataFrame([], "doc_id long, text string")

    def timeline(base, compact_after_day3):
        sig, pairs = str(base / "sigs"), str(base / "pairs")
        corpus = empty
        for k in range(3):
            incremental_dedup_run(spark, sig, days[k], corpus, pairs_path=pairs)
            corpus = corpus.unionByName(days[k])
        if compact_after_day3:
            compact_generations(spark, SIGNATURES, sig, keep_latest=1)
            compact_generations(spark, PAIRS, pairs, keep_latest=1)
        day4, _ = incremental_dedup_run(
            spark, sig, days[3], corpus, pairs_path=pairs
        )
        table = {
            (r.d1, r.d2, r.jaccard)
            for r in read(spark, PAIRS, pairs).collect()
        }
        return {(r.d1, r.d2, r.jaccard) for r in day4.collect()}, table

    d4_plain, tbl_plain = timeline(tmp_path / "plain", False)
    d4_comp, tbl_comp = timeline(tmp_path / "comp", True)
    assert d4_comp == d4_plain
    assert tbl_comp == tbl_plain and tbl_plain


def test_incremental_conv_dedup_run_maintained_state(spark, tmp_path):
    """The stateful conversation-grain daily run (the production shape
    the registered incremental_conv_neardup query models statelessly):
    two daily runs over a maintained signature table must together mine
    exactly the batch miner's pair set, sign only the delta (one
    generation per run), and an empty third day must mine nothing and
    commit an empty generation."""
    import os

    from pyspark.sql import functions as F

    from janet_spark.conversations import conv_neardup_frame
    from janet_spark.dedup_incremental import (
        CONV_PAIRS,
        CONV_SIGNATURES,
        incremental_conv_dedup_run,
    )
    from janet_spark.derive import derived_transcripts
    from janet_spark.maintained import read

    tr = derived_transcripts(spark, "/root/testdata/sf0.001")
    ordinal = F.substring(F.col("conv_id"), 6, 10).cast("long")
    day1 = tr.filter(ordinal % 2 == 0)
    day2 = tr.filter(ordinal % 2 == 1)
    empty = spark.createDataFrame(
        [],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    sig = str(tmp_path / "conv_sigs")
    pairs_path = str(tmp_path / "conv_pairs")

    p1, _ = incremental_conv_dedup_run(
        spark, sig, day1, empty, pairs_path=pairs_path
    )
    p2, _ = incremental_conv_dedup_run(
        spark, sig, day2, day1, pairs_path=pairs_path
    )
    maintained = {
        (r.c1, r.c2, r.jaccard)
        for r in read(spark, CONV_PAIRS, pairs_path).collect()
    }
    batch = {
        (r.c1, r.c2, r.jaccard) for r in conv_neardup_frame(tr).collect()
    }
    assert maintained == batch and maintained

    # signature table: one row per conversation, one generation per run
    # (plus the empty bootstrap)
    sigs = read(spark, CONV_SIGNATURES, sig)
    n_convs = tr.select("conv_id").distinct().count()
    assert sigs.count() == n_convs
    gens = sorted(d for d in os.listdir(sig) if d.startswith("gen="))
    assert len(gens) == 3 and gens[0] == "gen=bootstrap"

    # day 3: empty delta -> no pairs, corpus untouched
    p3, _ = incremental_conv_dedup_run(
        spark, sig, empty, tr, pairs_path=pairs_path
    )
    assert p3.count() == 0
    assert read(spark, CONV_SIGNATURES, sig).count() == n_convs


def test_maintained_pairs_report_equals_remined_two_generations(spark, tmp_path):
    """Round-3 verdict #3: the production report constructors consume the
    maintained pair generations. Build the pair table the production way —
    two daily incremental runs (day 1: first half as the delta against an
    empty corpus; day 2: second half against the day-1 corpus), each
    committing its pairs as a generation — and pin that the report over
    the maintained table equals the report that re-mines from scratch."""
    from pyspark.sql import functions as F

    from janet_spark.dedup_incremental import PAIRS, incremental_dedup_run
    from janet_spark.maintained import read
    from janet_spark.queries_relational import t
    from janet_spark.queries_text import (
        dedup_report_frame,
        q_dedup_report,
        q_minhash_lsh_pairs,
    )

    sf = "/root/testdata/sf0.001"
    docs = t(spark, sf, "documents").select("doc_id", "text")
    day1 = docs.filter(F.col("doc_id") % 2 == 0)
    day2 = docs.filter(F.col("doc_id") % 2 == 1)
    sig = str(tmp_path / "sigs")
    pairs_path = str(tmp_path / "pairs")

    empty = spark.createDataFrame([], "doc_id long, text string")
    incremental_dedup_run(spark, sig, day1, empty, pairs_path=pairs_path)
    incremental_dedup_run(spark, sig, day2, day1, pairs_path=pairs_path)

    maintained = read(spark, PAIRS, pairs_path)
    mined = q_minhash_lsh_pairs(spark, sf)
    m = {(r.d1, r.d2, r.jaccard) for r in maintained.collect()}
    b = {(r.d1, r.d2, r.jaccard) for r in mined.collect()}
    assert m == b and m  # the union of daily generations IS the batch set

    full_docs = t(spark, sf, "documents")
    got = [
        tuple(r)
        for r in dedup_report_frame(full_docs, maintained).collect()
    ]
    want = [tuple(r) for r in q_dedup_report(spark, sf).collect()]
    assert got == want
