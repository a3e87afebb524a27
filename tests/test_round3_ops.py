"""Round-3 operator tests: BM25 ranked search, symspell fuzzy search, BPE
token counting, connected-components lineage truncation, and the ADVICE
fixes (whole-words span trim on passthrough patterns, NULL-semantics
pinning with actual NULL rows)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# BPE tokenizer
# ---------------------------------------------------------------------------


def test_bpe_goldens():
    from janet_spark.extract.bpe import bpe_tokens, count_text

    # pinned against the frozen merges table: trained words merge into
    # few subwords, unseen words fall back toward characters
    assert bpe_tokens("batch") == ("batch",)
    assert bpe_tokens("customer") == ("customer",)
    assert bpe_tokens("data") == ("d", "at", "a")
    # word never seen in training: still tokenizes (char fallback + any
    # applicable merges), never raises
    toks = bpe_tokens("zzqx")
    assert "".join(toks) == "zzqx"
    # counts are a pure function of the word multiset
    n_tok, n_words = count_text("batch customer batch")
    assert n_words == 3
    assert n_tok == 3
    assert count_text("") == (0, 0)
    # mixed separators collapse under the shared token split
    assert count_text("batch,customer;batch")[1] == 3


def test_bpe_lossless_property():
    """Property: BPE only MERGES — concatenating a word's tokens always
    reproduces the word exactly, for any lowercase-alnum word (the token
    split guarantees the tokenizer never sees anything else)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from janet_spark.extract.bpe import bpe_tokens

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=24))
    def check(word):
        toks = bpe_tokens(word)
        assert "".join(toks) == word
        assert all(toks)

    check()


def test_bpe_single_pass_replace_semantics():
    """The defined apply semantics are ONE left-to-right replace per merge
    (both Python str.replace and SQL replace()); the overlap quirk on
    repeated pairs is deliberate, deterministic, and identical in both
    engines — pinned here so nobody 'fixes' one side only."""
    from janet_spark.extract.bpe_merges import MERGES

    s = " a a a a "
    a, b = "a", "a"
    out = s.replace(f" {a} {b} ", f" {a+b} ")
    # single pass: the shared separator space is consumed by the first
    # match, so the second pair survives as singles
    assert out == " aa a a "
    # the frozen table must not contain duplicate merges (each pair's
    # single pass runs exactly once)
    assert len(MERGES) == len(set(MERGES))


# ---------------------------------------------------------------------------
# ranked + fuzzy search
# ---------------------------------------------------------------------------


def test_ranked_search_scores_and_filters(spark):
    from janet_spark.queries_relational import t
    from janet_spark.search import _SEARCH_QUERIES, q_ranked_search

    rows = q_ranked_search(spark, SF).collect()
    assert rows, "ranked search returned no hits"
    filters = {q: (src, lang) for q, _, src, lang in _SEARCH_QUERIES}
    docs = {
        r["doc_id"]: (r["source"], r["lang"])
        for r in t(spark, SF, "documents").select("doc_id", "source", "lang").collect()
    }
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["score"] > 0
        # conjunctive tenant filter: every hit satisfies BOTH clauses
        assert docs[r["doc_id"]] == filters[r["q_id"]]
        by_q.setdefault(r["q_id"], []).append(r)
    for hits in by_q.values():
        assert len(hits) <= 10
        ranks = [h["rank"] for h in hits]
        assert ranks == list(range(1, len(hits) + 1))
        scores = [h["score"] for h in hits]
        assert scores == sorted(scores, reverse=True)


def test_fuzzy_search_finds_each_edit_class(spark):
    from janet_spark.search import q_fuzzy_search

    rows = q_fuzzy_search(spark, SF).collect()
    top = {r["term"]: r for r in rows if r["rank"] == 1}
    # substitution, deletion, insertion, exact
    assert top["merje"]["match_word"] == "merge" and top["merje"]["dist"] == 1
    assert top["spak"]["match_word"] == "spark" and top["spak"]["dist"] == 1
    assert top["tabble"]["match_word"] == "table" and top["tabble"]["dist"] == 1
    assert top["window"]["match_word"] == "window" and top["window"]["dist"] == 0
    assert top["quary"]["match_word"] == "query" and top["quary"]["dist"] == 1


def test_typo_ranked_search_exact_before_typo(spark):
    """The damped composition: a typo'd query still ranks documents, and
    an exact term's contribution is NOT damped (dist 0 -> damp^0 = 1)."""
    from janet_spark.search import _TYPO_QUERIES, q_typo_ranked_search

    rows = q_typo_ranked_search(spark, SF).collect()
    by_q = {}
    for r in rows:
        assert r["score"] > 0
        by_q.setdefault(r["q_id"], []).append(r)
    # every query (all of which carry at least one typo) produced hits
    assert set(by_q) == {q for q, *_ in _TYPO_QUERIES}
    for hits in by_q.values():
        assert [h["rank"] for h in hits] == list(range(1, len(hits) + 1))


def test_phrase_search_requires_adjacency(spark, tmp_path):
    """The alignment-key grouping must demand ADJACENT terms in order:
    a doc with both words non-adjacent (or reversed) must not match."""
    import pandas as pd

    from janet_spark.search import q_phrase_search

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "fast merge sort wins",       # exact phrase
                "merge the sort",             # both words, not adjacent
                "sort merge",                 # reversed
                "merge sort merge sort",      # two occurrences
            ],
            "lang": ["en"] * 4,
            "source": ["src7"] * 4,
            "n_chars": [10] * 4,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    rows = q_phrase_search(spark, sf).collect()
    hits = {r["doc_id"]: r["n_occurrences"] for r in rows if r["q_id"] == 1}
    assert hits == {0: 1, 3: 2}


def test_top_terms_per_doc_ranks_and_weights(spark):
    from janet_spark.search import q_top_terms_per_doc

    rows = q_top_terms_per_doc(spark, SF).collect()
    assert rows
    by_doc = {}
    for r in rows:
        assert r["doc_id"] < 50
        by_doc.setdefault(r["doc_id"], []).append(r)
    for hits in by_doc.values():
        assert [h["rank"] for h in hits] == list(range(1, len(hits) + 1))
        weights = [h["weight"] for h in hits]
        assert weights == sorted(weights, reverse=True)


def test_fuzzy_neighborhood_no_distance2_leak(spark):
    """Deletion keys overgenerate ('ab'/'ba' share key 'a'); the verify
    stage must drop every candidate beyond distance 1."""
    from janet_spark.search import q_fuzzy_search

    assert all(r["dist"] <= 1 for r in q_fuzzy_search(spark, SF).collect())


# ---------------------------------------------------------------------------
# connected components: lineage truncation
# ---------------------------------------------------------------------------


def test_connected_components_deep_path_bounded_plan(spark):
    from janet_spark.queries_text import connected_components

    # path graph 0-1-2-...-21: min-label needs ~21 iterations to reach the
    # far end — deep enough that un-truncated lineage would nest 21 layers
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(21)], "d1 long, d2 long"
    )
    labels = connected_components(edges, max_iter=50)
    rows = labels.collect()
    assert {r["node"] for r in rows} == set(range(22))
    assert {r["component"] for r in rows} == {0}
    # localCheckpoint every 3 iterations truncates the logical plan to a
    # LogicalRDD leaf: the final plan's join count is bounded by the
    # checkpoint-interval constant (labels enters each iteration's plan
    # twice -> at most 2^2 join nodes above the last checkpoint leaf),
    # NOT by graph diameter (untruncated, this 22-iteration run nests
    # thousands of textual join nodes)
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 8, f"plan kept {plan.count('Join')} join layers"


# ---------------------------------------------------------------------------
# ADVICE fixes
# ---------------------------------------------------------------------------


def test_passthrough_pattern_whole_words_spans_not_corrupted():
    """A compiled-pattern passthrough was never space-padded, so the
    whole-words trim must not corrupt its spans (pre-fix: a match at 0
    yielded (1, end-1), and a zero-width match yielded (1, -1))."""
    from janet_spark.extract.spans import find_matches, normalize_single_keyword

    nk = normalize_single_keyword(re.compile("so"), whole_words=True)
    assert find_matches("sort merge sort", nk.pattern, nk.whole_words) == [
        (0, 0, 2),
        (1, 11, 13),
    ]
    # zero-width passthrough with whole_words: spans clamp to empty, never
    # negative, and the scan still terminates
    zk = normalize_single_keyword(re.compile("x*"), whole_words=True)
    spans = find_matches("ab", zk.pattern, zk.whole_words)
    assert all(s <= e for _, s, e in spans)
    # the padded-string path is unchanged: both boundary chars ARE spaces
    nk2 = normalize_single_keyword("merge", whole_words=True)
    assert find_matches("big merge now", nk2.pattern, nk2.whole_words) == [(0, 4, 9)]


def test_null_rows_pin_null_semantics(spark, tmp_path):
    """Run the three NULL-sensitive queries over a fixture WITH NULL
    text/lang/source rows and compare against DuckDB directly — the gate
    the advisor noted was masked by all-non-NULL test data."""
    import duckdb
    import pandas as pd

    from janet_spark.queries_extra import (
        ORACLE_IMAGE_HEADER_PROBE,
        ORACLE_LANGS_PER_SOURCE,
        ORACLE_SEARCH_INDEX_PROJECTION,
        q_image_header_probe,
        q_langs_per_source,
        q_search_index_projection,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["alpha beta", None, "gamma", None],
            "lang": ["en", None, "de", None],
            "source": ["s1", "s1", None, None],
            "n_chars": [10, 0, 5, 0],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).repartition(2).write.parquet(f"{sf}/documents.parquet")

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    for q_fn, oracle in [
        (q_search_index_projection, ORACLE_SEARCH_INDEX_PROJECTION),
        (q_langs_per_source, ORACLE_LANGS_PER_SOURCE),
        (q_image_header_probe, ORACLE_IMAGE_HEADER_PROBE),
    ]:
        got = q_fn(spark, sf).toPandas()
        want = con.sql(oracle).df()
        cols = sorted(got.columns)
        assert cols == sorted(want.columns)
        g = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
        w = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, w)


def test_quality_repetition_and_chunk_dedup_edges(spark, tmp_path):
    """Pin the curation operators' semantics on a hand-checkable fixture
    with NULL text, an empty doc, a sub-5-word doc (no 5-grams), a doc
    that repeats a chunk only WITHIN itself (must be kept), and two docs
    sharing a chunk (must be dropped from both) — then cross-check the
    same fixture against the DuckDB oracles."""
    import duckdb
    import pandas as pd

    from janet_spark.queries_text import (
        ORACLE_CHUNK_DEDUP,
        ORACLE_QUALITY_REPETITION,
        q_chunk_dedup,
        q_quality_repetition,
    )

    boiler = "the quick brown fox jumps over lazy dogs"  # exactly 8 words
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            "text": [
                None,  # NULL -> treated as ''
                "",  # empty -> 1 empty word, 1 empty chunk
                "one two three",  # <5 words: no 5-grams
                f"{boiler} unique tail words here",  # shares chunk with 4
                f"{boiler} other trailing content now",  # shares chunk with 3
                f"{boiler} {boiler} solo within doc repeat",  # within-doc only... shares with 3/4 too
            ],
            "lang": ["en"] * 6,
            "source": ["s"] * 6,
            "n_chars": [0, 0, 13, 40, 40, 60],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).repartition(2).write.parquet(f"{sf}/documents.parquet")

    rep = {r["doc_id"]: r for r in (row.asDict() for row in q_quality_repetition(spark, sf).collect())}
    # doc 2: three distinct words, no repeats anywhere
    assert rep[2]["dup_word_frac"] == 0.0
    assert rep[2]["dup_5gram_frac"] == 0.0
    # doc 5 repeats the 8-word boiler phrase twice: every boiler word is
    # duplicated, its 5-grams repeat, and the top bigram occurs twice
    assert rep[5]["dup_word_frac"] > 0.3
    assert rep[5]["dup_5gram_frac"] > 0.0
    # doc 2's 2 bigrams each occur once -> trivially 1/2 (tiny docs score
    # high by construction; Gopher gates length first). doc 5: 20 words ->
    # 19 bigrams, top one ("dogs the", inside the doubled phrase... any of
    # the boiler-internal bigrams) occurs exactly twice.
    assert rep[2]["top_bigram_frac"] == 0.5
    assert rep[5]["top_bigram_frac"] == round(2 / 19, 4)

    ded = {r["doc_id"]: r for r in (row.asDict() for row in q_chunk_dedup(spark, sf).collect())}
    # the shared leading 8-word chunk is dropped from every doc carrying it
    for d in (3, 4):
        assert ded[d]["n_chunks_dropped"] >= 1
        assert boiler not in ded[d]["clean_text"]
        assert ded[d]["clean_text"]  # the unique tail survives
    # doc 2 shares nothing: fully kept, text unchanged
    assert ded[2] == {
        "doc_id": 2,
        "clean_text": "one two three",
        "n_chunks_kept": 1,
        "n_chunks_dropped": 0,
    }
    # NULL and empty doc are total-function outputs, not missing rows
    assert ded[0]["clean_text"] == "" and ded[1]["n_chunks_kept"] in (0, 1)

    # full oracle cross-check on this adversarial fixture
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    for q_fn, oracle in [
        (q_quality_repetition, ORACLE_QUALITY_REPETITION),
        (q_chunk_dedup, ORACLE_CHUNK_DEDUP),
    ]:
        got = q_fn(spark, sf).toPandas()
        want = con.sql(oracle).df()
        cols = sorted(got.columns)
        assert cols == sorted(want.columns)
        g = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
        w = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, w)


def test_decontaminate_and_lm_score_semantics(spark, tmp_path):
    """Planted-contamination fixture: doc 0 is the eval doc (doc_id % 11
    == 0); doc 12 copies an 8-word run from it (must be flagged with >= 1
    hit), doc 13 shares only a 7-word run (must NOT be flagged — below
    the 8-gram threshold), doc 22 is eval too and must never appear in
    the removal list. lm_score: a doc made of corpus-frequent words must
    score LOWER cross-entropy than a doc of corpus-unique words."""
    import pandas as pd

    from janet_spark.queries_text import q_decontaminate, q_lm_score

    bench = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 12, 13, 22, 23, 24],
            "text": [
                f"{bench} iota kappa",  # eval doc carrying the 8-gram
                f"prefix words {bench} suffix",  # full 8-gram copy -> hit
                "alpha beta gamma delta epsilon zeta eta other",  # 7 shared
                "unrelated eval content here now today maybe soon",  # eval
                "common common common common word word word word",
                "xylophone quixotic zephyr jabberwock vex fjord glyph nymph",
            ],
            "lang": ["en"] * 6,
            "source": ["s"] * 6,
            "n_chars": [1] * 6,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).repartition(2).write.parquet(f"{sf}/documents.parquet")

    removal = {r["doc_id"]: r["n_hit_grams"] for r in q_decontaminate(spark, sf).collect()}
    assert removal.get(12, 0) >= 1  # full 8-gram overlap flagged
    assert 13 not in removal  # 7-word overlap is below threshold
    assert 0 not in removal and 22 not in removal  # eval docs never listed

    scores = {r["doc_id"]: r["xent_bits"] for r in q_lm_score(spark, sf).collect()}
    # doc 23 repeats each of 2 frequent words 4x; doc 24 is all-unique
    # words -> strictly rarer unigrams -> strictly higher cross-entropy
    assert scores[23] < scores[24]
    assert all(v > 0 for v in scores.values())


def test_curation_ops_null_rows_match_oracles(spark, tmp_path):
    """NULL/empty text rows through decontaminate, lm_score and
    mixture_weights (incl. a NULL source), cross-checked against the
    DuckDB oracles — extends the NULL-semantics pinning the round-2
    advisor asked for to the curation suite."""
    import duckdb
    import pandas as pd

    from janet_spark.queries_text import (
        ORACLE_DECONTAMINATE,
        ORACLE_LM_SCORE,
        ORACLE_MIXTURE_WEIGHTS,
        q_decontaminate,
        q_lm_score,
        q_mixture_weights,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 11, 12],
            "text": [
                "some ordinary words in a document right here",
                None,
                "",
                "eval slice doc with benchmark phrasing inside it today",
                "train doc with benchmark phrasing inside it today also",
            ],
            "lang": ["en"] * 5,
            "source": ["s1", None, "s1", "s2", None],
            "n_chars": [10, 0, 0, 20, 20],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).repartition(2).write.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    for q_fn, oracle in [
        (q_decontaminate, ORACLE_DECONTAMINATE),
        (q_lm_score, ORACLE_LM_SCORE),
        (q_mixture_weights, ORACLE_MIXTURE_WEIGHTS),
    ]:
        got = q_fn(spark, sf).toPandas()
        want = con.sql(oracle).df()
        cols = sorted(got.columns)
        assert cols == sorted(want.columns)
        g = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
        w = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, w)


def test_sequence_pack_block_invariance(spark):
    """The two-level distributed prefix sum must equal the sequential
    scan for ANY block size (associativity); run the same packing with a
    tiny block (7 — many blocks, offsets path heavily exercised) and a
    block larger than the corpus (10^9 — degenerates to one window) and
    demand identical assignments, plus the packing invariants: seq_id is
    non-decreasing in doc_id order and every seq_offset < budget when the
    doc started inside the sequence."""
    import janet_spark.queries_text as qt

    base = qt.q_sequence_pack(spark, SF).collect()
    orig = qt._PACK_BLOCK
    try:
        qt._PACK_BLOCK = 7
        small = qt.q_sequence_pack(spark, SF).collect()
        qt._PACK_BLOCK = 10**9
        one = qt.q_sequence_pack(spark, SF).collect()
    finally:
        qt._PACK_BLOCK = orig
    as_t = lambda rows: [tuple(r) for r in rows]
    assert as_t(base) == as_t(small) == as_t(one)
    seq_ids = [r["seq_id"] for r in base]
    assert seq_ids == sorted(seq_ids)
    assert all(0 <= r["seq_offset"] < qt._PACK_BUDGET for r in base)
    assert seq_ids[-1] > 0  # the corpus actually spans multiple sequences


def test_doc_fingerprint_variants_null_agree(spark, tmp_path):
    """NULL text must produce a NULL fingerprint in both the engine and
    the DuckDB oracle (string_split(NULL) -> NULL) — the Python rewrite
    initially coalesced NULL to '' and silently diverged from its own
    oracle; pinned here with an actual NULL row."""
    import duckdb
    import pandas as pd

    from janet_spark.queries_text import ORACLE_DOC_FINGERPRINT, q_doc_fingerprint

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["alpha beta gamma delta epsilon zeta", None, "short text"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [36, 0, 10],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")

    py = {r["doc_id"]: r["fingerprint"] for r in q_doc_fingerprint(spark, sf).collect()}
    assert py[1] is None  # NULL propagates
    assert py[0] is not None and py[2] is not None

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    want = {int(d): f for d, f in con.sql(ORACLE_DOC_FINGERPRINT).fetchall()}
    assert {k: v for k, v in py.items()} == want


def test_gram_and_chunk_builders_property(spark):
    """Property: the JVM _gram_array and the chunk grid agree with the
    obvious pure-Python reference for arbitrary word lists — including
    n > len(words), single-word, and empty-string words. One Spark round
    trip evaluates all hypothesis cases at once (a per-example round trip
    would take minutes)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from janet_spark.queries_text import _CHUNK_WORDS, _gram_array
    from pyspark.sql import functions as F

    cases: list[list[str]] = []

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=3).map(lambda s: s.replace(" ", "x")), min_size=0, max_size=12))
    def collect(words):
        cases.append(words)

    collect()
    texts = [" ".join(w) for w in cases]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    wdf = df.select(
        "doc_id", F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("__words")
    )
    got = {
        r["doc_id"]: (r["g2"], r["g5"])
        for r in wdf.select(
            "doc_id",
            _gram_array(F.col("__words"), 2).alias("g2"),
            _gram_array(F.col("__words"), 5).alias("g5"),
        ).collect()
    }
    for i, t in enumerate(texts):
        w = t.split(" ")  # NOTE: ''.split(' ') == [''] — same as Spark split
        for n, g in ((2, got[i][0]), (5, got[i][1])):
            expect = [" ".join(w[j : j + n]) for j in range(len(w) - n + 1)]
            assert g == expect, (t, n, g, expect)

    # chunk grid: non-overlapping _CHUNK_WORDS-word groups, in order,
    # concatenation round-trips to the original text
    from janet_spark.queries_text import _chunk_rebuild

    solo = _chunk_rebuild(df.filter(F.col("doc_id") < 30)).collect()
    for r in solo:
        base = texts[r["doc_id"]]
        # with (near-)unique texts nothing repeats cross-doc except
        # possibly tiny degenerate strings; just check the round trip
        # when nothing was dropped
        if r["n_chunks_dropped"] == 0:
            assert r["clean_text"] == base


# ---------------------------------------------------------------------------
# incremental near-dup: delta batch vs existing corpus
# ---------------------------------------------------------------------------


def test_incremental_neardup_is_delta_filtered_full(spark, tmp_path):
    import pandas as pd

    from janet_spark.queries_text import (
        q_incremental_neardup,
        q_minhash_lsh_pairs,
    )

    # three duplicate groups straddling the delta boundary (delta =
    # doc_id % 7 == 0): (7, 8) mixed, (1, 2) base-only, (14, 21) delta-only
    ta = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    tb = "one two three four five six seven eight nine ten"
    tc = "red orange yellow green blue indigo violet black white gray"
    rows = [
        (7, ta), (8, ta),
        (1, tb), (2, tb),
        (14, tc), (21, tc),
        (3, "unique base text with nothing shared anywhere at all here"),
        (35, "another singleton delta doc sharing no shingles with others"),
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).write.parquet(path + "/documents.parquet")

    inc = set(map(tuple, q_incremental_neardup(spark, path)
                  .select("d1", "d2").collect()))
    full = set(map(tuple, q_minhash_lsh_pairs(spark, path)
                   .select("d1", "d2").collect()))
    assert full == {(1, 2), (7, 8), (14, 21)}
    # incremental == full restricted to pairs touching the delta; the
    # base-only pair (1, 2) was already found by yesterday's run
    assert inc == {(7, 8), (14, 21)}
    assert inc == {p for p in full if p[0] % 7 == 0 or p[1] % 7 == 0}


def test_incremental_neardup_hot_bucket_stars(spark, tmp_path):
    import pandas as pd

    from janet_spark.queries_text import q_incremental_neardup

    # two degenerate buckets above the cap: one whose representative
    # (min doc_id) is an OLD doc, one whose representative is NEW
    old_rep = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 3
    new_rep = "quick brown fox jumps over the lazy dog again and again now " * 3
    rows = [(i, old_rep) for i in range(1, 31)]       # rep=1 (base)
    rows += [(i, new_rep) for i in range(700, 730)]   # rep=700 (delta)
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).write.parquet(path + "/documents.parquet")

    out = q_incremental_neardup(spark, path, hot_bucket_cap=10).toPandas()
    assert (out["jaccard"] == 1.0).all()
    # old-rep bucket: only the delta members star to the representative —
    # 4 pairs, never the 30*29/2 all-pairs and nothing base x base
    got_old = set(out[out.d1 == 1]["d2"])
    assert got_old == {7, 14, 21, 28}
    # new-rep bucket: the star reaches every member (each pair touches the
    # delta via the representative endpoint)
    got_new = set(out[out.d1 == 700]["d2"])
    assert got_new == set(range(701, 730))
    # no pair escapes the two stars
    assert len(out) == 4 + 29


def test_incremental_dedup_daily_runs(spark, tmp_path, monkeypatch):
    import os

    import pandas as pd

    import janet_spark.dedup_incremental as di
    from janet_spark.commit import generation_dirs
    from janet_spark.maintained import read

    t_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t_b = "one two three four five six seven eight nine ten"

    def docs(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"])
        )

    corpus = docs([(1, t_a), (2, t_b), (3, "unrelated corpus text here")])
    sig = str(tmp_path / "sigs")

    # day 1: doc 100 duplicates corpus doc 1 -> bootstrap + one pair
    pairs1, run1 = di.incremental_dedup_run(spark, sig, docs([(100, t_a)]), corpus)
    assert set(map(tuple, pairs1.select("d1", "d2").collect())) == {(1, 100)}
    gens = {os.path.basename(g) for g in generation_dirs(sig)}
    assert gens == {"gen=bootstrap", f"gen={run1}"}

    # day 2: doc 200 duplicates the same text. Spy on the sign stage to
    # prove ONLY the delta is signed — corpus signatures come from the
    # table, including yesterday's delta (so the (100, 200) pair appears
    # without doc 100 ever being re-signed).
    signed_counts = []
    orig = di._band_df

    def spy(frame):
        signed_counts.append(frame.count())
        return orig(frame)

    monkeypatch.setattr(di, "_band_df", spy)
    corpus2 = corpus.unionByName(docs([(100, t_a)]))
    pairs2, run2 = di.incremental_dedup_run(spark, sig, docs([(200, t_a)]), corpus2)
    got2 = set(map(tuple, pairs2.select("d1", "d2").collect()))
    # every pair touches today's delta; the already-known (1, 100) pair is
    # NOT re-reported
    assert got2 == {(1, 200), (100, 200)}
    assert signed_counts == [1]
    assert len(generation_dirs(sig)) == 3

    # a crashed run's staging dir is invisible to readers
    os.makedirs(os.path.join(sig, "_staging_deadrun"))
    n_docs = read(spark, di.SIGNATURES, sig).select("doc_id").distinct().count()
    assert n_docs == 5  # 3 corpus + 2 deltas, 16 bands each

    # day 3 (hot path, OLD rep): cap=2 makes the t_a bucket (docs 1, 100,
    # 200 + new 300) hot; the new doc stars to the old representative only
    corpus3 = corpus2.unionByName(docs([(200, t_a)]))
    pairs3, _ = di.incremental_dedup_run(
        spark, sig, docs([(300, t_a)]), corpus3, hot_bucket_cap=2
    )
    assert set(map(tuple, pairs3.select("d1", "d2").collect())) == {(1, 300)}

    # day 4 (hot path, NEW rep): five identical new docs, rep 400 is new,
    # so the star reaches every member
    t_d = "completely different words appear in this new batch only today"
    pairs4, _ = di.incremental_dedup_run(
        spark, sig, docs([(i, t_d) for i in range(400, 405)]),
        corpus3.unionByName(docs([(300, t_a)])), hot_bucket_cap=2,
    )
    assert set(map(tuple, pairs4.select("d1", "d2").collect())) == {
        (400, 401), (400, 402), (400, 403), (400, 404)
    }

    # census invariant: the incrementally-merged snapshot equals a full
    # re-aggregation of the signature table (and never re-scanned it)
    census_dir = os.path.join(sig, "census")
    assert len(generation_dirs(census_dir)) == 5  # bootstrap + 4 runs
    got_census = {
        r["band_key"]: (r["bkt_n"], r["rep_doc"])
        for r in read(spark, di.CENSUS, census_dir).collect()
    }
    want_census = {
        r["band_key"]: (r["bkt_n"], r["rep_doc"])
        for r in di._census_of(read(spark, di.SIGNATURES, sig)).collect()
    }
    assert got_census == want_census


def test_incremental_cluster_maintenance(spark, monkeypatch):
    import pandas as pd

    import janet_spark.dedup_incremental as di

    def pairs(ps):
        return spark.createDataFrame(pd.DataFrame(ps, columns=["d1", "d2"]))

    def ids(xs):
        return spark.createDataFrame(pd.DataFrame({"doc_id": xs}))

    def snap(df):
        return dict(map(tuple, df.collect()))

    # day 0: two clusters + singles
    a0 = di.update_cluster_assignments(pairs([(1, 2), (5, 6)]), ids(range(1, 9)))
    assert snap(a0) == {1: 1, 2: 1, 5: 5, 6: 5, 3: 3, 4: 4, 7: 7, 8: 8}

    # day 1: doc 10 joins cluster 1; doc 11 is a singleton. Spy on the
    # propagation input: only cluster 1's star (1->2) plus the new edge may
    # enter the loop — cluster 5 and the singles must pass through.
    seen_edges = []
    orig = di.connected_components

    def spy(edges, **kw):
        seen_edges.append(set(map(tuple, edges.collect())))
        return orig(edges, **kw)

    monkeypatch.setattr(di, "connected_components", spy)
    a1 = di.update_cluster_assignments(pairs([(2, 10)]), ids([10, 11]), a0)
    assert snap(a1) == {1: 1, 2: 1, 10: 1, 5: 5, 6: 5,
                        3: 3, 4: 4, 7: 7, 8: 8, 11: 11}
    assert seen_edges[-1] == {(2, 10), (1, 2)}

    # day 2: doc 20 bridges cluster 5 and single 4 -> merged rep = 4;
    # cluster 1 untouched (its docs never appear in the subgraph)
    a2 = di.update_cluster_assignments(pairs([(6, 20), (4, 20)]), ids([20]), a1)
    got = snap(a2)
    assert got == {1: 1, 2: 1, 10: 1, 4: 4, 5: 4, 6: 4, 20: 4,
                   3: 3, 7: 7, 8: 8, 11: 11}
    assert seen_edges[-1] == {(6, 20), (4, 20), (5, 6)}

    # invariant: incremental result == batch recompute over ALL pairs seen
    all_pairs = pairs([(1, 2), (5, 6), (2, 10), (6, 20), (4, 20)])
    batch = di.update_cluster_assignments(
        all_pairs, ids(list(range(1, 9)) + [10, 11, 20])
    )
    assert snap(batch) == got


def test_corpus_shuffle_permutation_and_mixing(spark):
    from janet_spark.queries_text import q_corpus_shuffle

    out = q_corpus_shuffle(spark, SF).toPandas()
    n = len(out)
    # a valid permutation: every rank 0..n-1 exactly once, shards contiguous
    assert sorted(out["shuffle_rank"]) == list(range(n))
    assert (out["shard"] == out["shuffle_rank"] // 100).all()
    # deterministic: a second evaluation is identical
    again = q_corpus_shuffle(spark, SF).toPandas()
    assert (out.sort_values("doc_id").values == again.sort_values("doc_id").values).all()
    # hash order mixes sources: no long same-source runs in training order
    src = (
        spark.read.parquet(SF + "/documents.parquet")
        .select("doc_id", "source").toPandas()
    )
    merged = out.merge(src, on="doc_id").sort_values("shuffle_rank")
    runs, prev, cur = [], None, 0
    for s in merged["source"]:
        cur = cur + 1 if s == prev else 1
        prev = s
        runs.append(cur)
    assert max(runs) <= 8  # 10 uniform sources; a run this long ~ p<1e-4


def test_substring_dedup_sliding_alignment(spark, tmp_path):
    """The duplicated passage is planted at DIFFERENT word offsets in each
    carrier doc — off the fixed 8-word chunk grid — so only a sliding-gram
    dedup catches it. Within-doc repetition must survive (that is
    quality_repetition's business), sub-gram docs pass through, and a doc
    that is nothing but the passage empties out (the totals left-join
    path). Cross-checked against the DuckDB oracle on the same fixture."""
    import duckdb
    import pandas as pd

    from janet_spark.queries_text import ORACLE_SUBSTRING_DEDUP, q_substring_dedup

    P = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    P2 = "one two three four five six seven eight nine ten"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5, 6],
            "text": [
                None,
                "",
                "short doc only",
                f"intro {P} tail3 words here",
                f"start words padding more here {P} end4",
                f"{P2} {P2}",
                P,
            ],
            "lang": ["en"] * 7,
            "source": ["s"] * 7,
            "n_chars": [0] * 7,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).repartition(2).write.parquet(f"{sf}/documents.parquet")

    got = {r["doc_id"]: r.asDict() for r in q_substring_dedup(spark, sf).collect()}
    # passage removed at BOTH alignments (offsets 1 and 5), context kept in order
    assert got[3]["clean_text"] == "intro tail3 words here"
    assert got[3]["n_words_removed"] == 12
    assert got[4]["clean_text"] == "start words padding more here end4"
    assert got[4]["n_words_removed"] == 12
    # a doc that IS the passage empties out entirely
    assert got[6] == {"doc_id": 6, "clean_text": "", "n_words_removed": 12}
    # within-doc-only repetition is kept verbatim
    assert got[5] == {"doc_id": 5, "clean_text": f"{P2} {P2}", "n_words_removed": 0}
    # sub-gram and NULL/empty docs pass through
    assert got[2] == {"doc_id": 2, "clean_text": "short doc only", "n_words_removed": 0}
    assert got[0]["n_words_removed"] == 0 and got[1]["n_words_removed"] == 0

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    oracle = {
        int(d): {"doc_id": int(d), "clean_text": c, "n_words_removed": int(n)}
        for d, c, n in con.sql(ORACLE_SUBSTRING_DEDUP).fetchall()
    }
    assert oracle == got


def test_unicode_clean_mojibake_nfc_controls(spark, tmp_path):
    """Give the hygiene pass real dirt: cp1252 mojibake at several code
    points, an NFD combining sequence that must compose to NFC, stripped
    control characters (tab/newline kept), and a pure-ASCII row the
    trigger scan must leave byte-identical. The SAME fixture then runs
    through the DuckDB oracle — nfc_normalize + the rendered replace
    chain — so the two renderings of the table are value-checked on rows
    where they actually fire."""
    import duckdb
    import pandas as pd

    from janet_spark.queries_text import ORACLE_UNICODE_CLEAN, q_unicode_clean

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            "text": [
                None,
                "plain ascii only, unchanged",
                "donâ€™t say â€œcafÃ©â€“styleâ€¦",
                "café already-composed café",  # NFD e+acute
                "bell\x07 and form\x0cfeed go; tab\there\nstays",
                "MÃ¼nchen ÃŸ Â© 10Â°",
            ],
            "lang": ["en"] * 6,
            "source": ["s"] * 6,
            "n_chars": [0] * 6,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).repartition(2).write.parquet(f"{sf}/documents.parquet")

    got = {r["doc_id"]: r.asDict() for r in q_unicode_clean(spark, sf).collect()}
    assert got[1] == {
        "doc_id": 1,
        "clean_text": "plain ascii only, unchanged",
        "was_changed": False,
    }
    assert got[2]["clean_text"] == "don’t say “café–style…"
    assert got[3]["clean_text"] == "café already-composed café"
    assert got[4]["clean_text"] == "bell and formfeed go; tab\there\nstays"
    assert got[5]["clean_text"] == "München ß © 10°"
    assert all(got[d]["was_changed"] for d in (2, 3, 4, 5))
    assert got[0] == {"doc_id": 0, "clean_text": "", "was_changed": False}

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    oracle = {
        int(d): {"doc_id": int(d), "clean_text": c, "was_changed": bool(w)}
        for d, c, w in con.sql(ORACLE_UNICODE_CLEAN).fetchall()
    }
    assert oracle == got


def test_substring_dedup_random_crosscheck(spark, tmp_path):
    """Randomized corpus over a 3-word vocabulary (so 10-grams collide
    constantly) cross-checked against the obvious pure-Python reference:
    gram -> carrier-doc census, covered-interval union, kept-word rebuild.
    One Spark round trip evaluates every case."""
    import random

    import pandas as pd

    from janet_spark.queries_text import _SUBSTR_GRAM, q_substring_dedup

    rng = random.Random(20260817)
    vocab = ["aa", "bb"]  # 2^10 possible 10-grams -> collisions guaranteed
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 24)))
        for _ in range(60)
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).repartition(3).write.parquet(f"{sf}/documents.parquet")

    K = _SUBSTR_GRAM
    words = {i: t.split(" ") for i, t in enumerate(texts)}
    carriers: dict[str, set] = {}
    for d, w in words.items():
        for i in range(len(w) - K + 1):
            carriers.setdefault(" ".join(w[i : i + K]), set()).add(d)
    expect = {}
    for d, w in words.items():
        covered: set = set()
        for i in range(len(w) - K + 1):
            if len(carriers[" ".join(w[i : i + K])]) > 1:
                covered.update(range(i, i + K))
        kept = [w[i] for i in range(len(w)) if i not in covered]
        expect[d] = (" ".join(kept), len(w) - len(kept))

    got = {
        r["doc_id"]: (r["clean_text"], r["n_words_removed"])
        for r in q_substring_dedup(spark, sf).collect()
    }
    assert got == expect
    # sanity: the vocabulary is small enough that removal actually fired
    assert any(n > 0 for _, n in got.values())


def test_unicode_clean_engine_parity_property():
    """Property: the Python cleaner and the rendered DuckDB SQL agree on
    adversarial unicode — mojibake fragments (including partial/overlapping
    ones), combining marks next to replacement outputs, control characters,
    and plain text. Pins that the two renderings of the SAME table (and the
    two NFC implementations, unicodedata vs utf8proc) cannot drift. All
    hypothesis cases evaluate in one DuckDB pass."""
    import duckdb
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from janet_spark.queries_text import _unicode_clean_sql, _unicode_clean_str

    frag = st.sampled_from(
        ["â€™", "â€œ", "Ã©", "Â°", "Â ", "café", "café", "Ã©",
         "\x07", "\x0c", "\t", "\n", "…", "é̄", "Ã", "Â", "â€"]
    )
    piece = st.one_of(
        frag, st.text(alphabet="abc Ã‚Â©é́̃", min_size=0, max_size=4)
    )
    cases: list[str] = []

    @settings(max_examples=120, deadline=None)
    @given(st.lists(piece, min_size=0, max_size=6).map("".join))
    def collect(s):
        cases.append(s)

    collect()
    con = duckdb.connect()
    con.register("docs_in", pd.DataFrame({"doc_id": range(len(cases)), "text": cases}))
    rows = con.sql(
        f"SELECT doc_id, {_unicode_clean_sql('text')} AS c FROM docs_in ORDER BY doc_id"
    ).fetchall()
    for (i, got_sql), s in zip(rows, cases):
        assert got_sql == _unicode_clean_str(s), (repr(s), repr(got_sql))


def test_write_training_shards_order_and_layout(spark, tmp_path):
    """Materialized shards must be: one parquet file per shard dir, rows
    inside each file contiguous and ascending in shuffle_rank, the union
    a full permutation, and the permutation IDENTICAL to the
    oracle-checked corpus_shuffle query (both build on shuffle_ranked)."""
    import glob

    import pyarrow.parquet as pq

    from janet_spark.queries_text import q_corpus_shuffle
    from janet_spark.shard_writer import write_training_shards

    docs = spark.read.parquet(SF + "/documents.parquet")
    out = str(tmp_path / "shards")
    n = write_training_shards(docs, out, seed="ep0", shard_size=100)
    dirs = sorted(
        glob.glob(out + "/shard=*"), key=lambda d: int(d.split("=")[1])
    )
    assert n == len(dirs) == 5  # 500 docs / 100

    all_ranks: list[int] = []
    perm: dict[int, int] = {}
    for d in dirs:
        files = glob.glob(d + "/*.parquet")
        assert len(files) == 1, (d, files)
        tbl = pq.read_table(files[0]).to_pandas()
        s = int(d.split("=")[1])
        ranks = list(tbl["shuffle_rank"])
        assert ranks == sorted(ranks)
        assert ranks[0] == s * 100 and ranks[-1] == s * 100 + len(ranks) - 1
        assert "text" in tbl.columns  # full rows ride along
        all_ranks += ranks
        perm.update(dict(zip(tbl["doc_id"], tbl["shuffle_rank"])))
    assert sorted(all_ranks) == list(range(500))

    q = {
        r["doc_id"]: r["shuffle_rank"]
        for r in q_corpus_shuffle(spark, SF).collect()
    }
    assert perm == q


def test_write_training_shards_empty_input_writes_zero_shards(spark, tmp_path):
    """Round-3 advice: an empty input frame must return 0 shards, not
    crash on int(None) from the max(shard) collect."""
    from janet_spark.shard_writer import write_training_shards

    docs = spark.read.parquet(SF + "/documents.parquet").limit(0)
    n = write_training_shards(docs, str(tmp_path / "shards"), seed="ep0")
    assert n == 0


def test_new_run_id_is_strictly_monotonic():
    """Round-3 advice: generation readers resolve 'latest' by
    lexicographic max, so ids issued back-to-back (same second, same
    nanosecond) must still sort in creation order; 'bootstrap' and legacy
    seconds-format ids must sort before any new id."""
    from janet_spark.checkpoint import new_run_id

    ids = [new_run_id() for _ in range(1000)]
    assert ids == sorted(ids)
    assert len(set(ids)) == len(ids)
    legacy = "run-1755500000-deadbeef"
    assert legacy < min(ids)
    assert "bootstrap" < min("gen=" + i for i in ids).removeprefix("gen=")


def test_cluster_safe_split_no_leakage(spark):
    """The split's whole point: no near-dup pair may straddle the
    train/eval boundary, every doc gets a side, and both sides are
    non-empty at this SF (deterministic — pinned, not probabilistic)."""
    from janet_spark.queries_text import (
        q_cluster_safe_split,
        q_ngram_jaccard_pairs,
    )

    rows = q_cluster_safe_split(spark, SF).collect()
    split = {r["doc_id"]: r["split"] for r in rows}
    assert len(split) == 500  # every doc assigned exactly one side
    pairs = q_ngram_jaccard_pairs(spark, SF).select("d1", "d2").collect()
    assert pairs, "corpus has no near-dup pairs; invariant untestable"
    for r in pairs:
        assert split[r["d1"]] == split[r["d2"]], (r["d1"], r["d2"])
    assert set(split.values()) == {"train", "eval"}


def test_kmeans_assign_invariants(spark):
    """Every vector gets exactly one cluster; clusters are the surviving
    seed ids; fit is a valid (rounded) cosine and positive on this
    synthetic corpus. The heavy validation — seed selection, the Lloyd
    mean update per dimension, tie-breaks — is the two-stage DuckDB
    oracle the driver gate hash-matches."""
    import statistics

    from janet_spark.queries_extra import q_kmeans_assign

    out = q_kmeans_assign(spark, SF).collect()
    assert len(out) == 500
    clusters = {r["cluster"] for r in out}
    assert 1 < len(clusters) <= 20
    assert all(-1.0 <= r["fit"] <= 1.0 for r in out)
    assert statistics.mean(r["fit"] for r in out) > 0.2


def test_semdedup_drop_rule(spark):
    """Dropped vectors are exactly the higher-id members of within-cluster
    near-dup pairs mined by the shared triangle kernel; keepers are
    everything else. Both classes must be non-empty at this SF."""
    from pyspark.sql import functions as F

    from janet_spark.queries_extra import q_kmeans_assign, q_semdedup
    from janet_spark.queries_text import _blocked_cosine_pairs
    from janet_spark.queries_relational import t

    out = {r["vec_id"]: r for r in q_semdedup(spark, SF).collect()}
    assert len(out) == 500
    dropped = {v for v, r in out.items() if not r["keep"]}
    assert dropped and len(dropped) < 500

    clusters = q_kmeans_assign(spark, SF).select("vec_id", "cluster")
    blocked = (
        t(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .join(clusters, "vec_id")
        .select(F.col("cluster").alias("label"), "vec_id", "embedding")
    )
    pairs = _blocked_cosine_pairs(blocked, block_type="long").collect()
    assert dropped == {r["v2"] for r in pairs}
    # cluster labels in the output match the assignment
    cl = {r["vec_id"]: r["cluster"] for r in clusters.collect()}
    assert all(out[v]["cluster"] == cl[v] for v in out)


def test_pack_examples_boundaries_and_tokens(spark, tmp_path):
    """Exact token strings and packing boundaries on a hand-checkable
    fixture: a doc straddling the budget stays whole in the sequence it
    starts in; empty docs ride along without polluting the token string;
    BPE goldens ('data' -> 'd at a') appear verbatim in the output."""
    import pandas as pd

    from janet_spark.queries_text import q_pack_examples

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                " ".join(["batch"] * 510),  # 510 tokens, starts seq 0
                "data data",  # 6 tokens, starts at 510 < 512 -> seq 0 (whole)
                "customer",  # starts at 516 -> seq 1
                None,  # 0 tokens, rides at 517 -> seq 1, no token output
            ],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [0] * 4,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).repartition(2).write.parquet(f"{sf}/documents.parquet")

    got = {r["seq_id"]: r.asDict() for r in q_pack_examples(spark, sf).collect()}
    assert set(got) == {0, 1}
    assert got[0]["n_docs"] == 2 and got[0]["n_tokens"] == 516
    assert got[0]["tokens"] == " ".join(["batch"] * 510) + " d at a d at a"
    assert got[1] == {
        "seq_id": 1,
        "n_docs": 2,
        "n_tokens": 1,
        "tokens": "customer",
    }


# ---------------------------------------------------------------------------
# pii_pseudonymize: consistency + substring safety (sf corpus has no PII,
# so the oracle row alone would be vacuous)
# ---------------------------------------------------------------------------


def test_pii_pseudonymize_consistent_and_substring_safe(spark, tmp_path):
    import hashlib

    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            # bob@x.io is a SUBSTRING of abob@x.io: longest-first replace
            # must keep them distinct
            "text": [
                "mail bob@x.io and abob@x.io then bob@x.io again",
                "bob@x.io shows up in another doc too",
                "no entities",
            ],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [10, 10, 10],
        }
    )
    path = str(tmp_path / "docs")
    spark.createDataFrame(docs).write.parquet(path + "/documents.parquet")
    from janet_spark.queries_extra import q_pii_pseudonymize

    out = q_pii_pseudonymize(spark, path).toPandas().set_index("doc_id")

    def tok(email):
        return f"<user-{hashlib.md5(email.lower().encode()).hexdigest()[:8]}>"

    bob, abob = tok("bob@x.io"), tok("abob@x.io")
    assert out.loc[1, "pseudonymized"] == f"mail {bob} and {abob} then {bob} again"
    assert out.loc[1, "n_entities"] == 2
    # SAME address in a different doc -> SAME token (corpus-wide consistency
    # without any mapping table)
    assert out.loc[2, "pseudonymized"] == f"{bob} shows up in another doc too"
    assert out.loc[3, "pseudonymized"] == "no entities"
    assert out.loc[3, "n_entities"] == 0


def test_apply_mixture_caps_and_rebalances(spark):
    """apply_mixture materializes the uniform-target recipe: copy ordinals
    are dense per document and capped, and the realized per-source token
    shares sit strictly closer to uniform than the raw corpus shares."""
    from collections import defaultdict

    from janet_spark.queries_text import _MIX_MAX_COPIES, q_apply_mixture

    rows = q_apply_mixture(spark, SF).collect()
    per_doc = defaultdict(list)
    for r in rows:
        assert 1 <= r.n_copies <= _MIX_MAX_COPIES
        per_doc[r.doc_id].append(r.copy_idx)
    for idxs in per_doc.values():
        assert sorted(idxs) == list(range(len(idxs)))

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.col("source").alias("src"),
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias("tok"),
    )
    raw = {r.src: r.t for r in docs.groupBy("src").agg(F.sum("tok").alias("t")).collect()}
    out = spark.createDataFrame([(r.doc_id,) for r in rows], "doc_id long")
    realized = {
        r.src: r.t
        for r in out.join(docs, "doc_id").groupBy("src").agg(F.sum("tok").alias("t")).collect()
    }

    def l1_from_uniform(shares: dict) -> float:
        tot = sum(shares.values())
        u = 1.0 / len(shares)
        return sum(abs(v / tot - u) for v in shares.values())

    assert set(realized) == set(raw)  # no source vanishes entirely
    # sf0.001 is already near-uniform so the headroom is small; the recipe
    # must still move shares strictly toward uniform, never away
    assert l1_from_uniform(realized) < l1_from_uniform(raw)


def test_doc_chunk_covers_and_overlaps(spark):
    """Sliding chunks reconstruct every document exactly: chunk 0 starts
    at word 0, starts advance by the stride, the stitched chunks equal the
    original word sequence, and no chunk exceeds the window."""
    from janet_spark.queries_text import _WINDOW_STRIDE, _WINDOW_WORDS, q_doc_chunk

    docs = {
        r.doc_id: (r.text or "").split(" ")
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    out = q_doc_chunk(spark, SF).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        words = docs[doc_id]
        assert rows[0].word_start == 0
        for i, r in enumerate(rows):
            assert r.chunk_idx == i
            assert r.word_start == i * _WINDOW_STRIDE
            expect = words[r.word_start : r.word_start + _WINDOW_WORDS]
            assert r.chunk_text.split(" ") == (expect if expect else [""])
            assert r.n_words == len(expect) if expect else 1
            assert r.n_words <= _WINDOW_WORDS
        # stitch: stride-prefix of every chunk + full last chunk == doc
        stitched = []
        for r in rows[:-1]:
            stitched.extend(r.chunk_text.split(" ")[:_WINDOW_STRIDE])
        stitched.extend(rows[-1].chunk_text.split(" "))
        assert stitched == words
        # every chunk but the last is full-width (stride < window)
        for r in rows[:-1]:
            assert r.n_words == _WINDOW_WORDS


def test_bpe_pair_census_counts_weighted_pairs(spark, tmp_path):
    """Adjacent-pair counts weighted by word frequency, on a hand-checked
    fixture: the census over the distinct vocabulary must equal the naive
    per-occurrence count."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["abab cd abab", "Cd! cd-ab"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [12, 9],
        }
    )
    path = str(tmp_path / "docs")
    spark.createDataFrame(docs).write.parquet(path + "/documents.parquet")
    from janet_spark.queries_text import q_bpe_pair_census

    got = {r.pair: r.n for r in q_bpe_pair_census(spark, path).collect()}
    # vocabulary: abab x2, cd x3 (lowercased, split on non-alnum), ab x1
    # abab pairs: ab, ba, ab -> per occurrence {ab:2, ba:1}; x2 occurrences
    # cd pairs: {cd:1} x3 ; ab pairs: {ab:1} x1
    assert got == {"ab": 5, "ba": 2, "cd": 3}


def test_decontaminate_semantic_flags_planted_leak(spark, tmp_path):
    """A training vector that is a near copy of an eval vector (paraphrase
    leakage) is flagged with that eval vector as its nearest neighbor; an
    orthogonal vector is not. Eval rows never appear in the removal list."""
    import numpy as np
    import pandas as pd

    from janet_spark.queries_text import (
        _SEMDECON_MOD,
        _SEMDECON_THRESHOLD,
        q_decontaminate_semantic,
    )

    dim = 8
    base = np.zeros(dim); base[0] = 1.0
    ortho = np.zeros(dim); ortho[1] = 1.0
    leak = base.copy(); leak[2] = 0.05  # cosine ~0.999 vs base
    rows = [
        (0, base),                      # eval (0 % 13 == 0)
        (_SEMDECON_MOD, ortho),         # eval #2
        (1, leak),                      # train: leaked copy of eval 0
        (2, ortho * 0.9 + base * 0.1),  # train: near eval #2
        (3, -base),                     # train: anti-correlated -> sim < 0
    ]
    pdf = pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [list(map(float, r[1])) for r in rows],
            "label": [0] * len(rows),
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/embeddings.parquet")
    out = {r.vec_id: r for r in q_decontaminate_semantic(spark, sf).collect()}
    assert set(out) == {1, 2}  # the two leaks; vec 3 is below threshold
    assert out[1].eval_id == 0 and out[1].sim > 0.99
    assert out[2].eval_id == _SEMDECON_MOD
    assert all(v % _SEMDECON_MOD != 0 for v in out)  # eval side never flagged
    assert all(r.sim >= _SEMDECON_THRESHOLD for r in out.values())


def test_contrastive_pairs_triplet_invariants(spark):
    """Every triplet: positive is a mined near-dup of the anchor, the
    negative is never the anchor or its positive, and each anchor carries
    exactly ONE deterministic negative (rerun-stable)."""
    from janet_spark.queries_text import q_contrastive_pairs, q_minhash_lsh_pairs

    rows = q_contrastive_pairs(spark, SF).collect()
    assert rows
    pos = {(r.d1, r.d2) for r in q_minhash_lsh_pairs(spark, SF).collect()}
    neg_by_anchor = {}
    for r in rows:
        assert (r.anchor_id, r.positive_id) in pos
        assert r.negative_id != r.anchor_id
        assert r.negative_id != r.positive_id
        neg_by_anchor.setdefault(r.anchor_id, set()).add(r.negative_id)
    assert all(len(v) == 1 for v in neg_by_anchor.values())
    # deterministic: a second run yields the same triplets
    again = {(r.anchor_id, r.positive_id, r.negative_id) for r in
             q_contrastive_pairs(spark, SF).collect()}
    assert again == {(r.anchor_id, r.positive_id, r.negative_id) for r in rows}


def test_bpe_distributed_training_matches_reference(spark):
    """The distributed BPE trainer reproduces greedy training exactly:
    (a) against a pure-Python reference over the same sf0.001 vocabulary
    (same tie-break: count desc, then lexicographically smallest pair),
    and (b) the sf0.01/48 run equals the FROZEN shipped merges table —
    the tokenizer the engine applies is the one it can train."""
    import collections
    import re as _re

    from janet_spark.extract.bpe import TOKEN_SPLIT
    from janet_spark.extract.bpe_merges import MERGES
    from janet_spark.tokenizer_train import train_bpe_distributed

    got = train_bpe_distributed(spark, SF, n_merges=16)

    # pure-Python reference (the scripts/train_bpe.py loop, inlined)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("text").collect()
    vocab: collections.Counter = collections.Counter()
    for r in docs:
        for w in _re.split(TOKEN_SPLIT, (r.text or "").lower()):
            if w:
                vocab[w] += 1

    def tokenize(word, merges):
        s = " " + " ".join(word) + " "
        for a, b in merges:
            s = s.replace(f" {a} {b} ", f" {a}{b} ")
        return s.split()

    expected = []
    for _ in range(16):
        pf: collections.Counter = collections.Counter()
        for word, freq in vocab.items():
            toks = tokenize(word, expected)
            for a, b in zip(toks, toks[1:]):
                pf[(a, b)] += freq
        best = max(
            pf.items(),
            key=lambda kv: (kv[1], [-ord(c) for c in "\x00".join(kv[0])]),
        )
        expected.append(best[0])
    assert got == expected

    # the shipped artifact is reproducible end to end
    full = train_bpe_distributed(spark, "/root/testdata/sf0.01", n_merges=48)
    assert full == list(MERGES)


def test_doc_chunk_boundary_sweep(spark, tmp_path):
    """One document of every word count 1..150 in a single job: the
    closed-form chunk count and slicing must cover each length exactly —
    including the boundaries (len == window, len == window+1, len ==
    window + k*stride, empty-ish one-word docs)."""
    import pandas as pd

    from janet_spark.queries_text import _WINDOW_STRIDE, _WINDOW_WORDS, q_doc_chunk

    docs = pd.DataFrame(
        {
            "doc_id": list(range(1, 151)),
            "text": [" ".join(f"w{j}" for j in range(n)) for n in range(1, 151)],
            "lang": ["en"] * 150,
            "source": ["s"] * 150,
            "n_chars": [0] * 150,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    out = {}
    for r in q_doc_chunk(spark, sf).collect():
        out.setdefault(r.doc_id, []).append(r)
    for n in range(1, 151):
        rows = sorted(out[n], key=lambda r: r.chunk_idx)
        if n <= _WINDOW_WORDS:
            expect_chunks = 1
        else:
            expect_chunks = -(-(n - _WINDOW_WORDS) // _WINDOW_STRIDE) + 1
        assert len(rows) == expect_chunks, (n, len(rows), expect_chunks)
        words = [f"w{j}" for j in range(n)]
        stitched = []
        for r in rows[:-1]:
            stitched.extend(r.chunk_text.split(" ")[:_WINDOW_STRIDE])
        stitched.extend(rows[-1].chunk_text.split(" "))
        assert stitched == words, n
        # no empty trailing chunk: the last chunk always has content
        assert rows[-1].n_words >= 1
