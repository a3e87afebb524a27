"""Plan-shape regression pins: the physical-plan properties that matter at
100 TB, asserted so a future change that silently loses a pushed filter, a
broadcast, or the zero-shuffle point lookup fails CI instead of shipping a
10x-slower plan. (PLANS.md tabulates shuffle, broadcast, Python-stage,
pushdown and scan-width counts for every registered query; these are the
load-bearing invariants.)"""

from __future__ import annotations

import re

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    # count shuffle exchanges only (not broadcast exchanges)
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))


def test_point_lookup_zero_shuffles_pushed_filter(spark):
    from janet_spark.queries_relational import RELATIONAL_QUERIES

    fn, _ = RELATIONAL_QUERIES["point_lookup"]
    plan = _plan(fn(spark, SF))
    assert _shuffles(plan) == 0, plan
    assert "PushedFilters: [" in plan and ("IsNotNull" in plan or "EqualTo" in plan), plan


def test_revenue_by_region_broadcasts_all_dims(spark):
    from janet_spark.queries_relational import RELATIONAL_QUERIES

    fn, _ = RELATIONAL_QUERIES["revenue_by_region"]
    plan = _plan(fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # the fact table shuffles for the aggregate + presentation sort only
    assert _shuffles(plan) <= 3, plan


def test_resume_anti_join_is_broadcast(spark):
    from janet_spark.queries_relational import RELATIONAL_QUERIES

    fn, _ = RELATIONAL_QUERIES["resume_anti_join"]
    plan = _plan(fn(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_scan_pruning_projection_reaches_parquet(spark):
    from janet_spark.queries_relational import t

    df = t(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert sorted(cols) == ["l_orderkey", "l_quantity"], plan


def test_ranked_search_broadcast_scoring_topk(spark):
    """BM25 plan shape: per-term idf and the query terms broadcast into the
    postings join (map-side scoring — the corpus-sized tables never shuffle
    for the term match), no Python stage anywhere, and the per-query top-10
    window prunes partial results via WindowGroupLimit."""
    from janet_spark.search import SEARCH_QUERIES

    fn, _ = SEARCH_QUERIES["ranked_search"]
    plan = _plan(fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "WindowGroupLimit" in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan


def test_prefix_search_equi_join_no_like_scan(spark):
    """Search-as-you-type plan shape: the last-term prefix expansion must
    be an EQUI-join of broadcast query terms against the prefix-key
    explode of the vocabulary — a LIKE/startswith predicate would plan a
    nested-loop join — and the scoring tail keeps ranked_search's
    properties (broadcast term match, WindowGroupLimit top-k, no Python
    stage)."""
    from janet_spark.search import SEARCH_QUERIES

    fn, _ = SEARCH_QUERIES["prefix_search"]
    plan = _plan(fn(spark, SF))
    assert "CartesianProduct" not in plan, plan
    # the expansion joins vocabulary prefix keys to query terms by HASH:
    # key == term appears as a BroadcastHashJoin equi-condition
    assert re.search(r"BroadcastHashJoin \[key#\d+\], \[term#\d+\]", plan), plan
    # the only nested-loop joins are the one-row stats cross joins
    # (same shape PLANS.md documents for ranked_search) — never against
    # the vocabulary or postings
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "WindowGroupLimit" in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan


def test_suggest_search_both_expansions_equi_join(spark):
    """The one-call Meili default (typo on every term + prefix on the
    last): BOTH expansions must be hash equi-joins against broadcast
    query keys — deletion keys and prefix keys — with the shared BM25
    tail's properties intact."""
    from janet_spark.search import SEARCH_QUERIES

    fn, _ = SEARCH_QUERIES["suggest_search"]
    plan = _plan(fn(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"BroadcastHashJoin \[key#\d+\], \[key#\d+\]", plan), plan
    assert re.search(r"BroadcastHashJoin \[key#\d+\], \[term#\d+\]", plan), plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan  # one-row stats only
    assert "WindowGroupLimit" in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan


def test_fuzzy_search_no_cartesian_against_vocab(spark):
    """SymSpell candidate generation must stay an equi-join on deletion
    keys: a literal distance join would plan a nested-loop/cartesian
    product against the vocabulary."""
    from janet_spark.search import SEARCH_QUERIES

    fn, _ = SEARCH_QUERIES["fuzzy_search"]
    plan = _plan(fn(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_extraction_is_narrow_no_pre_shuffle(spark):
    """The flagship plan property: extraction maps directly over the scan,
    so the section from parquet scan to the Python stage contains NO
    shuffle (SURVEY par. 8 item 1)."""
    from janet_spark.derive import derived_transcripts
    from janet_spark.pipeline import extract_only

    plan = _plan(extract_only(derived_transcripts(spark, SF)))
    python_stages = [m.start() for m in re.finditer(r"MapInPandas|ArrowEvalPython", plan)]
    assert python_stages, plan
    assert _shuffles(plan) == 0, plan


def test_scan_splits_one_per_core(spark, tmp_path):
    """Because extraction is a narrow map over the scan, scan splits are its
    Python tasks. Many small files must pack into one split per core (one
    wave), as Spark's bytes-per-core rule gives; a 32 MB split cap would
    pack these 48 files into 6 splits on 4 cores."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from janet_spark.sources import read_transcripts

    n_rows = 300
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    for i in range(48):
        pq.write_table(
            pa.table(
                {
                    "conv_id": [f"c{i}-{r % 10}" for r in range(n_rows)],
                    "turn_idx": pa.array(range(n_rows), pa.int32()),
                    "role": ["user"] * n_rows,
                    "text": [f"turn {r:05d} of file {i:02d}" for r in range(n_rows)],
                    "tool": [""] * n_rows,
                    "ts": pa.array([ts] * n_rows, pa.timestamp("us", tz="UTC")),
                }
            ),
            str(tmp_path / f"part-{i:02d}.parquet"),
        )
    df = read_transcripts(spark, str(tmp_path))
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_curation_suite_plan_shapes(spark):
    """The curation operators' load-bearing invariants: the boilerplate /
    decontamination / LM probes are BROADCAST joins (never a corpus-keyed
    shuffle join on the probe side), and sequence packing never plans a
    corpus-sized single-partition window — its only partition-less window
    runs over the tiny per-block offsets frame."""
    from janet_spark.queries_text import (
        q_chunk_dedup,
        q_decontaminate,
        q_lm_score,
        q_sequence_pack,
    )

    for fn in (q_chunk_dedup, q_decontaminate, q_lm_score):
        plan = _plan(fn(spark, SF))
        assert plan.count("BroadcastHashJoin") >= 1, plan
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # lm_score's corpus total rides a BROADCAST nested-loop join of a
    # 1-row aggregate (the lazy-total shape), never a real cross product
    lm = _plan(q_lm_score(spark, SF))
    assert "BroadcastNestedLoopJoin" in lm, lm

    plan = _plan(q_sequence_pack(spark, SF))
    # per-doc cumsum windows are partitioned by block; the one global-order
    # window (block offsets) must sit on the small aggregated side, which
    # planwise means: at most one SinglePartition exchange, fed by the
    # block-total aggregate, and a broadcast join carries offsets back
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_per_source_cap_uses_window_group_limit(spark):
    """The per-domain cap must compile to Partial+Final WindowGroupLimit
    (map-side prune to N rows per source BEFORE the shuffle) — the
    property that bounds a 10^9-doc mega-domain. A plain sort-window
    plan here would be a 100 TB regression."""
    from janet_spark.queries_extra import EXTRA_QUERIES

    fn, _ = EXTRA_QUERIES["per_source_cap"]
    plan = _plan(fn(spark, SF))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan and "Final" in plan, plan
    # exactly the one hash shuffle on source (+ the presentation sort)
    assert _shuffles(plan) <= 2, plan


def test_line_dedup_corpus_broadcast_rewrite_and_partial_reassembly(spark):
    """The boilerplate set (census filtered to n_docs >= K) must reach the
    rewrite as a BROADCAST join side — never a corpus-sized shuffle of the
    exploded lines by line_sig — and the per-doc reassembly must be a
    partial+final aggregate (map-side combine before the doc_id
    exchange). Shuffles: census distinct expand (2) + reassembly (1) +
    presentation sort (1)."""
    from janet_spark.queries_text import TEXT_QUERIES

    fn, _ = TEXT_QUERIES["line_dedup_corpus"]
    plan = _plan(fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_collect_list" in plan, plan
    assert _shuffles(plan) <= 4, plan
