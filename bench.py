"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full execution, no
driver collect skew) and timed TWICE; the headline `value` is the
best-of-2 total (steady state — first runs pay JIT/codegen/page-cache
warmup and shared-host noise of ~15-30%), with the first-run total and
per-query first-run timings published alongside (`value_first`,
`queries_first`) so the protocol is transparent — the same first-vs-best
disclosure the scaling bench uses. The flagship extraction throughput
(turns/sec) is reported from its best run; the N-vs-4N scaling evidence
lives in scripts/scaling_bench.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


HEADLINE = [
    "manifest_upsert",
    "match_offsets_sql",
    "rollup_revenue",
    "pricing_summary",
    "revenue_by_region",
    "resume_anti_join",
    "ordered_concat",
    "sessionize_events",
    "clean_canonicalize",
    "html_strip",
    "exact_dedup",
    "minhash_lsh_pairs",
    "ann_cosine_topk",
    "embed_neardup_blocked",
    "doc_fingerprint",
    "token_counts",
]

# round-2+ operators, timed the same way but totaled separately so the
# headline `value` stays comparable with earlier rounds' 17-query suite
EXTENDED = [
    "ranked_search",
    "prefix_search",
    "suggest_search",
    "fuzzy_search",
    "typo_ranked_search",
    "phrase_search",
    "top_terms_per_doc",
    "search_with_snippets",
    "index_incremental_merge",
    "token_counts_bpe",
    "token_counts_bpe_1k",
    "dedup_clusters_lsh",
    "quality_repetition",
    "chunk_dedup",
    "line_dedup_corpus",
    "line_dedup_corpus_incremental",
    "conv_boilerplate_strip",
    "dsir_importance",
    "dsir_select",
    "dsir_importance_incremental",
    "bloom_dedup_prefilter",
    "heavy_hitters_cms",
    "distinct_count_hll",
    "distinct_count_hll_incremental",
    "quantile_hist",
    "quantile_hist_incremental",
    "funnel_conversion",
    "funnel_windowed",
    "retention_cohorts",
    "retention_cohorts_incremental",
    "event_transitions",
    "funnel_latency",
    "decontaminate",
    "lm_score",
    "sequence_pack",
    "curation_pipeline_v2",
    "mixture_weights",
    "corpus_shuffle",
    "substring_dedup",
    "unicode_clean",
    "cluster_safe_split",
    "kmeans_assign",
    "semdedup",
    "pack_examples",
    "asof_join",
    "range_join_banded",
    "pii_scrub",
    "hash_sample",
    "multi_keyword_spans",
    "disjunctive_upsert",
    "flaky_enrichment",
    "lang_id",
    "ann_ivf_topk",
    "dedup_clusters",
    "curation_pipeline",
    "event_type_pivot",
    "set_ops_users",
    "stratified_sample",
    "unpivot_doc_stats",
    "rank_functions",
    "lateral_top_orders",
    "image_header_probe",
    "authorized_events",
    "conv_dedup",
    "conv_stats",
    "conv_budget_truncate",
    "tool_call_validate",
    "conv_quality_gate",
    "conv_pack",
    "conv_training_pipeline",
    "conv_loss_mask",
    "conv_prefix_stats",
    "conv_branch_dedup",
    "conv_merge_roles",
    "conv_tail_truncate",
    "turn_boilerplate",
    "best_of_n",
    "preference_pairs",
    "sft_examples",
    "conv_lang_consistency",
    "pii_pseudonymize",
    "conv_decontaminate",
    "prompt_safe_split",
    "apply_mixture",
    "chat_render",
    "conv_neardup",
    "doc_chunk",
    "bpe_pair_census",
    "bigram_lm",
    "corpus_report",
    "conv_dedup_fuzzy",
    "quality_features",
    "decontaminate_semantic",
    "contrastive_pairs",
    "incremental_conv_neardup",
    "dedup_report",
    "dedup_report_incremental",
    "contrastive_pairs_incremental",
    "incremental_embed_neardup",
    "ann_ivf_topk_indexed",
    "ann_ivf_topk_indexed_delta",
    "image_decode_stats",
    "audio_decode_stats",
    "video_frame_sample",
    "image_resize_stats",
    "audio_frame_features",
    "ann_pq_topk",
    "ann_pq_rerank_topk",
    "ann_ivfadc_topk",
    "ann_ivf_topk_spill",
    "per_source_cap",
]


def force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def numpy_probe() -> float:
    """Fixed single-core CPU calibration: identical work every round, so
    the ratio against a quiet-host reference separates shared-host
    contention from real code regressions (round-3 verdict #1: the r3
    headline regressed ~17% uniformly across all queries with no code
    cause, and the protocol had no in-band evidence). Element-wise numpy
    stays on one thread regardless of BLAS threading config."""
    import numpy as np

    x = np.arange(2_000_000, dtype=np.float64)
    t0 = time.time()
    for _ in range(40):
        float(np.sin(x).sum())
        x = (x + 1.0) % 1000.0
    return round(time.time() - t0, 3)


def jvm_probe(spark) -> float:
    """Fixed JVM-side calibration: a constant whole-stage-codegen
    aggregation over spark.range — no input data, no Python workers, no
    shuffle variation. Its round-over-round drift measures the JVM/host,
    never the repo's code."""
    t0 = time.time()
    spark.range(0, 200_000_000, 1).selectExpr(
        "sum(id % 7) AS s"
    ).write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from janet_spark.conversations import CONV_QUERIES
    from janet_spark.derive import derived_transcripts
    from janet_spark.dialogue import DIALOGUE_QUERIES
    from janet_spark.pipeline import extract_only
    from janet_spark.queries_extra import EXTRA_QUERIES
    from janet_spark.queries_relational import RELATIONAL_QUERIES
    from janet_spark.queries_text import TEXT_QUERIES
    from janet_spark.reassemble import reassemble_conversations
    from janet_spark.search import SEARCH_QUERIES
    from janet_spark.sketches import SKETCH_QUERIES
    from janet_spark.session import build_session

    spark = build_session(
        "janet-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # calibration BEFORE the suite (and again after) — see probe docstrings
    cal_numpy_start = numpy_probe()
    cal_jvm = min(jvm_probe(spark), jvm_probe(spark))

    timings: dict[str, float] = {}
    timings_first: dict[str, float] = {}
    ext_timings: dict[str, float] = {}
    ext_timings_first: dict[str, float] = {}

    def best_of_two(name: str, run, best=None, first_map=None) -> None:
        best = timings if best is None else best
        first_map = timings_first if first_map is None else first_map
        t0 = time.time()
        run()
        first = round(time.time() - t0, 3)
        t1 = time.time()
        run()
        second = round(time.time() - t1, 3)
        first_map[name] = first
        best[name] = min(first, second)
        # queries that persist() intermediates (LSH bands/candidates,
        # component labels) would otherwise accumulate cached blocks
        # across the suite and skew later timings via storage pressure
        spark.catalog.clearCache()

    # flagship: full extraction + reassembly; also yields turns/sec.
    # A small warmup first so even the first timing reflects a live
    # Python-worker pool (sample, not limit — limit collapses to one
    # partition and would warm a single worker).
    transcripts = derived_transcripts(spark, sf_dir)
    force(extract_only(transcripts.sample(0.05, seed=1)))
    best_of_two(
        "extract_pipeline",
        lambda: force(reassemble_conversations(extract_only(transcripts))),
    )
    n_turns = transcripts.count()

    registry = {
        **RELATIONAL_QUERIES,
        **TEXT_QUERIES,
        **EXTRA_QUERIES,
        **SEARCH_QUERIES,
        **SKETCH_QUERIES,
        **CONV_QUERIES,
        **DIALOGUE_QUERIES,
    }
    for name in HEADLINE:
        fn, _ = registry[name]
        best_of_two(name, lambda fn=fn: force(fn(spark, sf_dir)))

    for name in EXTENDED:
        fn, _ = registry[name]
        best_of_two(
            name,
            lambda fn=fn: force(fn(spark, sf_dir)),
            best=ext_timings,
            first_map=ext_timings_first,
        )

    # Full per-query detail goes to a file; the PRINTED line stays compact
    # (<1 KB) so the driver's tail-capture window always parses it —
    # round 2's detail-laden line overflowed that window and the round was
    # recorded with "parsed": null (VERDICT r2, "What's wrong" #2).
    cal_numpy_end = numpy_probe()
    # quiet-host reference values measured at round-4 HEAD (see BASELINE.md
    # "Bench noise control"): numpy ~1.40 s, jvm ~0.29 s. The NORMALIZED
    # values below scale every suite total by quiet_ref / measured_probe
    # (probe = mean of the start and end numpy runs, bracketing the suite)
    # so cross-round comparison needs no human reading rule: a contended
    # host reads probe > ref and the factor < 1 deflates the raw total; a
    # faster-than-reference host inflates it symmetrically (round-4
    # verdict "Next round" #5).
    _QUIET_NUMPY_REF = 1.40
    _QUIET_JVM_REF = 0.29
    probe_mean = (cal_numpy_start + cal_numpy_end) / 2
    norm_factor = _QUIET_NUMPY_REF / probe_mean
    calibration = {
        "numpy_single_core_sec": cal_numpy_start,
        "numpy_single_core_sec_end": cal_numpy_end,
        "jvm_range_sum_sec": cal_jvm,
        "quiet_ref_numpy_sec": _QUIET_NUMPY_REF,
        "quiet_ref_jvm_sec": _QUIET_JVM_REF,
        "normalization_factor": round(norm_factor, 4),
    }

    detail = {
        "metric": "headline_suite_sec",
        "calibration": calibration,
        "value": round(sum(timings.values()), 3),
        "value_normalized": round(sum(timings.values()) * norm_factor, 3),
        "value_first": round(sum(timings_first.values()), 3),
        "unit": "sec",
        "protocol": "per-query best-of-2; first-run timings in queries_first",
        "queries": timings,
        "queries_first": timings_first,
        "extended_value": round(sum(ext_timings.values()), 3),
        "extended_value_normalized": round(
            sum(ext_timings.values()) * norm_factor, 3
        ),
        "extended_queries": ext_timings,
        "extended_queries_first": ext_timings_first,
        "sf": sf_dir,
        "extraction_turns": n_turns,
        "extraction_turns_per_sec": round(n_turns / timings["extract_pipeline"], 1),
        "cpus": int(cpus),
    }
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    # SF-suffixed detail file so a small-SF run (e.g. the acceptance
    # battery at sf0.001) can never overwrite the committed sf0.1 record;
    # the canonical unsuffixed name is reserved for the default sf0.1
    base = os.path.basename(os.path.normpath(sf_dir))
    detail_name = (
        "bench_detail.json" if base == "sf0.1" else f"bench_detail_{base}.json"
    )
    with open(os.path.join(bench_dir, detail_name), "w") as f:
        json.dump(detail, f, indent=2)

    out = {
        "metric": "headline_suite_sec",
        "value": detail["value"],
        "value_normalized": detail["value_normalized"],
        "value_first": detail["value_first"],
        "unit": "sec",
        "extended_value": detail["extended_value"],
        "extended_value_normalized": detail["extended_value_normalized"],
        "extraction_turns_per_sec": detail["extraction_turns_per_sec"],
        "n_queries": len(timings) + len(ext_timings),
        "sf": sf_dir,
        "cpus": int(cpus),
        "detail": f"BENCH/{detail_name}",
        "calibration": calibration,
        "queries": timings,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
