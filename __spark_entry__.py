"""Driver contract for the spark-graft builder (PySpark target).

`entry` runs the flagship extraction pipeline (derived transcripts ->
Arrow-batched extraction UDF as a narrow map -> window-ordered
reassembly) at sf0.001. `queries()` registers every implemented operator
from SURVEY.md §2 plus the training-data-pipeline operators; `oracle_sql()`
returns the independent DuckDB SQL for each SQL-expressible one.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


# The driver records the FIRST 50 registry entries in CORRECTNESS_r{N}.json;
# queries past the cap are verified out-of-band via
# `scripts/check_oracles.py <sf_dir> <names...>` (full-registry run
# committed as ORACLE_CHECK_r{N}.json). Exposure therefore ROTATES per
# round. Round-5 rotation: (a) the queries NEW or materially CHANGED this
# round (PNG decode, IVF delta-append form, the four search-facade
# fixtures, the census-consuming report + its refactored standalone twin),
# then (b) the 42-query tail ordered by OLDEST most-recent driver record
# (all r2 — after round 4 every registered query already has ≥1 driver
# row, so the tail refreshes the stalest evidence first).
_PRIORITY = [
    # (a) new or changed in round 5
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
    "audio_frame_features",
    "ann_pq_topk",
    "ann_pq_rerank_topk",
    "ann_ivfadc_topk",
    "ann_ivf_topk_spill",
    "per_source_cap",
    "image_decode_stats",
    "audio_decode_stats",
    "video_frame_sample",
    "image_resize_stats",
    "ann_ivf_topk_indexed_delta",
    "ranked_search",
    "typo_ranked_search",
    "prefix_search",
    "suggest_search",
    "dedup_report_incremental",
    "dedup_report",
    # (b) stalest driver record (r2), alphabetical
    "json_props_histogram",
    "keyword_match_count",
    "keyword_spans",
    "lang_id",
    "langs_per_source",
    "latest_event_per_user",
    "manifest_upsert",
    "match_offsets_sql",
    "match_ordinal",
    "metadata_extract",
    "minhash_lsh_pairs",
    "moving_avg_value",
    "multi_keyword_spans",
    "multimodal_features",
    "multimodal_probe",
    "ngram_jaccard_pairs",
    "ordered_concat",
    "ordinal_dates",
    "point_lookup",
    "pricing_summary",
    "quality_scores",
    "reassemble_convs",
    "rename_suggest",
    "resume_anti_join",
    "revenue_by_region",
    "sanitized_filenames",
    "search_index_projection",
    "semi_join_search",
    "sessionize_events",
    "simhash",
    "token_counts",
    "top_orders",
    "tumbling_hourly_events",
    "value_percentiles",
    # ...then the r3 tail, alphabetical
    "apply_mixture",
    "best_of_n",
    "bigram_lm",
    "bpe_pair_census",
    "chat_render",
    "cluster_safe_split",
    "contrastive_pairs",
    "conv_branch_dedup",
]


def _registry():
    from janet_spark.conversations import CONV_QUERIES
    from janet_spark.dialogue import DIALOGUE_QUERIES
    from janet_spark.queries_extra import EXTRA_QUERIES
    from janet_spark.queries_relational import RELATIONAL_QUERIES
    from janet_spark.queries_text import TEXT_QUERIES
    from janet_spark.search import SEARCH_QUERIES
    from janet_spark.sketches import SKETCH_QUERIES

    merged: dict[str, tuple] = {}
    merged.update(RELATIONAL_QUERIES)
    merged.update(TEXT_QUERIES)
    merged.update(EXTRA_QUERIES)
    merged.update(SEARCH_QUERIES)
    merged.update(SKETCH_QUERIES)
    merged.update(CONV_QUERIES)
    merged.update(DIALOGUE_QUERIES)
    reg: dict[str, tuple] = {}
    for name in _PRIORITY:
        if name in merged:
            reg[name] = merged[name]
    for name, entry in merged.items():
        if name not in reg:
            reg[name] = entry
    return reg


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline + conversation reassembly at
    sf0.001; driver checks rows > 0 and a stable schema."""
    from janet_spark.derive import derived_transcripts
    from janet_spark.pipeline import extract_only
    from janet_spark.reassemble import reassemble_conversations
    from janet_spark.session import tune_for_session

    tune_for_session(spark)
    transcripts = derived_transcripts(spark, SF0001)
    extracted = extract_only(transcripts)
    return reassemble_conversations(extracted).select(
        "conv_id", "conv_text", "n_turns", "blocks_kept", "blocks_dropped", "all_ok"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 + training-data
    ops). Each callable takes (spark, sf_dir) and returns a DataFrame with
    columns aliased identically to the oracle SQL."""
    return {name: fn for name, (fn, _sql) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    """Equivalent DuckDB SQL per query (omitted for non-SQL-expressible
    operators: simhash bit manipulation, char-span offset arrays)."""
    return {name: sql for name, (_fn, sql) in _registry().items() if sql is not None}
