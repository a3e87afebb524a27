"""Incremental near-dup dedup as a MAINTAINED daily run over a persistent
MinHash signature table.

Reference parity: the reference's resume model is "anti-join the manifest,
process only new work, upsert results" (apps/legacy/rename.ts:61-64,
src/utils/file.ts:36-59 — load mappings, skip successes, append new ones,
back up before mutating). This module applies that exact contract to
near-dup mining: sign ONLY the delta batch, mine ONLY delta-touching
pairs, append the delta's signatures as a new immutable generation of the
table. The corpus is never re-signed and never re-paired with itself.

Scale shape (the 100 TB story):
- The signature table is 16 int64 band keys per doc — ~128 bytes/doc, four
  orders of magnitude smaller than the corpus text. Reading it is the
  cheap side of every run.
- Each run's cost is O(|delta| x bucket size): the delta band rows are
  small, so AQE broadcasts them into the join against the full band table;
  corpus x corpus pairs are structurally impossible to emit.
- Generations are immutable parquet dirs published whole by
  `maintained.append`: a crashed run is invisible to readers and
  re-running is idempotent. Many small daily generations are exactly the
  small-files problem `maintained.compact_generations` exists for.
- Pair mining is materialized BEFORE the generation commits: if the run
  dies in between, the retry re-signs the same delta and re-finds the same
  pairs; committing first would silently absorb the delta into the corpus
  and lose its pairs forever.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from janet_spark.checkpoint import new_run_id
from janet_spark.maintained import (
    Spec,
    append,
    dedup_on,
    distinct,
    latest,
    maintained,
    sum_on,
)
from janet_spark.queries_text import (
    _LSH_HOT_BUCKET_CAP,
    _band_df,
    _dsir_feature_occurrences,
    _verify_candidates,
    connected_components,
)

SIGNATURES = Spec("doc_id long, band_key long")
CLUSTERS = Spec("doc_id long, cluster_rep long", merge=latest)
# distinct: a run that crashed between its pair commit and its signature
# commit re-mines the same delta on retry and re-commits the same pairs
# under a new generation id; pairs are canonical (d1 < d2, deterministic
# jaccard), so the dedupe is exact and costs a table sized by the
# duplicate population
PAIRS = Spec("d1 long, d2 long, jaccard double", merge=distinct)


def exact_census_of(docs: DataFrame) -> DataFrame:
    """(kk, source, n): per exact-dup key (corpus-wide md5-prefix, the
    same key dedup_report_frame scans for) and source, how many documents
    carry it. ADDITIVE across disjoint deltas — counts sum — so the daily
    run censuses only its delta and the reader aggregates generations."""
    return (
        docs.select("source", F.md5(F.substring("text", 1, 24)).alias("kk"))
        .groupBy("kk", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )


EXACT_CENSUS = Spec(
    "kk string, source string, n long",
    of=exact_census_of,
    merge=sum_on("kk", "source"),
)


def line_census_of(lines: DataFrame) -> DataFrame:
    """(line_sig, n_docs) over a (doc_id, line_sig) frame — the
    boilerplate census behind `line_dedup_corpus`. ADDITIVE across daily
    deltas because deltas partition the corpus by doc_id (each document
    is censused in exactly one delta), so per-line distinct-doc counts
    sum across generations."""
    return lines.groupBy("line_sig").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )


LINE_CENSUS = Spec(
    "line_sig string, n_docs long", of=line_census_of, merge=sum_on("line_sig")
)


def dsir_counts_of(occ: DataFrame) -> DataFrame:
    """(bucket, ct, cr) over a (doc_id, lang, bucket) hashed-feature
    occurrence frame — the DSIR classifier's sufficient statistics.
    ADDITIVE across doc-id-partitioned deltas (each occurrence is counted
    in exactly one delta), so the maintained classifier is the same
    generation-sum contract as the line census."""
    return occ.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )


# a day's delta is its documents; the table is a <= bucket-space summary
DSIR_COUNTS = Spec(
    "bucket int, ct long, cr long",
    of=lambda docs: dsir_counts_of(_dsir_feature_occurrences(docs)),
    merge=sum_on("bucket"),
)

# a delta changes existing rows, so each run writes a full snapshot
CENSUS = Spec("band_key long, bkt_n long, rep_doc long", merge=latest)


def _census_of(bands: DataFrame) -> DataFrame:
    return bands.groupBy("band_key").agg(
        F.count(F.lit(1)).alias("bkt_n"), F.min("doc_id").alias("rep_doc")
    )


def incremental_dedup_run(
    spark: SparkSession,
    sig_path: str,
    delta_docs: DataFrame,
    corpus_docs: DataFrame,
    hot_bucket_cap: int = _LSH_HOT_BUCKET_CAP,
    pairs_path: str | None = None,
) -> tuple[DataFrame, str]:
    """One daily dedup run. Returns (verified delta-touching pairs, run_id).

    `delta_docs` / `corpus_docs`: (doc_id, text) frames for today's batch
    and the existing corpus. The corpus TEXT is touched only by the verify
    tail, and there only semi-joined down to candidate endpoints (a
    vanishing fraction of the corpus); corpus SIGNATURES come from the
    table. First run against an empty table bootstraps it by signing the
    corpus once (gen=bootstrap).

    Hot buckets follow q_minhash_lsh_pairs' star expansion, with delta
    membership decided extensionally (the is_new flag) rather than by the
    registered query's doc_id predicate: delta members star to the bucket
    representative, and a representative that is itself new stars to every
    member so no delta-touching pair is lost to the cap.

    The bucket census is ALSO maintained incrementally (snapshots under
    <sig_path>/census): each run aggregates only the delta's band rows and
    outer-merges them into yesterday's (band_key, bkt_n, rep_doc) snapshot
    — the full band table is never re-aggregated. The snapshot commits
    AFTER the signature generation: a crash in between leaves the census
    under-counting the committed delta, which can only bias buckets toward
    the cold (exact all-pairs) path, never toward a star's bounded-recall
    trade. A signature table without a census (pre-census layout, or a
    crash between the two bootstrap commits) is self-healed by one full
    re-aggregation, committed as the census's bootstrap snapshot. The
    remaining full-table touch is the cold join's build side; at
    production scale the signature table is bucketed by band_key, making
    that join co-located with the broadcast-sized delta probing it.
    """
    run_id = new_run_id()
    census_path = os.path.join(sig_path, "census")
    corpus_bands = maintained(
        spark, SIGNATURES, sig_path, {"bootstrap": lambda: _band_df(corpus_docs)}
    )
    old_census = maintained(
        spark, CENSUS, census_path, {"bootstrap": lambda: _census_of(corpus_bands)}
    )
    delta_bands = _band_df(delta_docs).persist()
    delta_census = delta_bands.groupBy("band_key").agg(
        F.count(F.lit(1)).alias("d_n"), F.min("doc_id").alias("d_rep")
    )
    # outer-merge: counts add; rep = min (least skips NULLs); doc ids are
    # unique across days, so the new rep is today's iff d_rep undercuts
    merged_census = old_census.join(delta_census, "band_key", "full_outer").select(
        "band_key",
        (F.coalesce("bkt_n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("bkt_n"),
        F.least("rep_doc", "d_rep").alias("rep_doc"),
        (
            F.col("d_rep").isNotNull()
            & (F.col("rep_doc").isNull() | (F.col("d_rep") < F.col("rep_doc")))
        ).alias("rep_is_new"),
    )

    flagged = corpus_bands.withColumn("is_new", F.lit(False)).unionByName(
        delta_bands.withColumn("is_new", F.lit(True))
    )
    bucket_sizes = merged_census.select(
        "band_key",
        "bkt_n",
        F.struct(
            F.col("rep_doc").alias("doc_id"), F.col("rep_is_new").alias("is_new")
        ).alias("rep"),
    )
    sized_delta = delta_bands.join(bucket_sizes, "band_key")
    a = sized_delta.filter(F.col("bkt_n") <= hot_bucket_cap).alias("a")
    b = flagged.alias("b")
    # delta x delta pairs arrive once from each endpoint's delta row;
    # least/greatest orients them identically and the verify tail dedups
    cold_pairs = a.join(
        b,
        (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(
        F.least("a.doc_id", "b.doc_id").alias("d1"),
        F.greatest("a.doc_id", "b.doc_id").alias("d2"),
    )
    hot_delta = sized_delta.filter(
        (F.col("bkt_n") > hot_bucket_cap)
        & (F.col("doc_id") != F.col("rep.doc_id"))
    ).select(F.col("rep.doc_id").alias("d1"), F.col("doc_id").alias("d2"))
    hot_rep_new = (
        flagged.join(
            bucket_sizes.filter(
                (F.col("bkt_n") > hot_bucket_cap) & F.col("rep.is_new")
            ),
            "band_key",
        )
        .filter(F.col("doc_id") != F.col("rep.doc_id"))
        .select(F.col("rep.doc_id").alias("d1"), F.col("doc_id").alias("d2"))
    )
    candidates = cold_pairs.unionByName(hot_delta).unionByName(hot_rep_new)

    all_docs = corpus_docs.unionByName(delta_docs)
    pairs = _verify_candidates(all_docs, candidates).persist()
    # materialize pairs BEFORE committing the generation (see module doc);
    # census commits LAST (see docstring for the crash-window bias). With
    # `pairs_path` the materialization IS the pair-generation commit, so
    # the maintained pair table the reports read stays in lockstep; a
    # crash after this commit but before the signature commit re-mines
    # the same pairs on retry, which the PAIRS merge dedupes.
    if pairs_path is not None:
        append(PAIRS, pairs, pairs_path, run_id)
    else:
        pairs.count()
    append(SIGNATURES, delta_bands, sig_path, run_id)
    census = merged_census.select("band_key", "bkt_n", "rep_doc")
    append(CENSUS, census, census_path, run_id)
    delta_bands.unpersist()
    return pairs, run_id


# The conversation table stores FULL signatures (64 minhash components),
# not band keys: ~512 B/conversation buys both the band derivation and the
# verify tail's estimated-Jaccard prefilter without re-signing text. An
# orchestrator that replays a run whose signature generation already
# committed lands the same conv_ids twice; signatures are deterministic,
# so keeping either row is exact, and without the dedup banding, census
# and prefilter would double-count candidates.
CONV_SIGNATURES = Spec("conv_id string, sig array<long>", merge=dedup_on("conv_id"))
CONV_PAIRS = Spec("c1 string, c2 string, jaccard double", merge=distinct)


def incremental_conv_dedup_run(
    spark: SparkSession,
    sig_path: str,
    delta_tr: DataFrame,
    corpus_tr: DataFrame,
    hot_bucket_cap: int | None = None,
    pairs_path: str | None = None,
) -> tuple[DataFrame, str]:
    """One daily near-dup run at CONVERSATION grain against a maintained
    signature table — the production shape the registered
    `incremental_conv_neardup` query models statelessly (its docstring's
    "in production: the maintained signature table" is THIS function).

    `delta_tr` / `corpus_tr`: transcript frames (conv_id, turn_idx, role,
    text, tool, ts) for today's conversations and the standing corpus.
    Signing touches ONLY the delta's turns (per-turn signatures fold by
    elementwise min, so a delta conversation of any size reduces
    map-side); corpus signatures come from the table, and corpus TEXT is
    read only by the verify tail's candidate semi-join. Candidates follow
    the same three-branch hot-bucket logic as the doc grain (delta
    members star to the bucket rep; a rep that is itself new stars to
    every member), the bucket census is a signature-table-sized
    aggregation recomputed per run (at ~512 B/conversation the whole
    table is four-plus orders of magnitude below the transcript text, so
    unlike the doc grain there is nothing corpus-sized to avoid), and
    every candidate passes the estimated-Jaccard prefilter before the
    exact intersection join. Commit order matches the doc grain: pairs
    materialize (or commit, with `pairs_path`) BEFORE the delta's
    signature generation lands, so a crashed run re-mines the same delta
    idempotently. Returns (verified delta-touching pairs, run_id)."""
    from janet_spark.conversations import (
        _CONV_LSH_HOT_BUCKET_CAP,
        _conv_verify_candidates,
        conv_band_df,
        conv_sig_df,
    )

    if hot_bucket_cap is None:
        hot_bucket_cap = _CONV_LSH_HOT_BUCKET_CAP
    run_id = new_run_id()
    corpus_sigs = maintained(
        spark, CONV_SIGNATURES, sig_path, {"bootstrap": lambda: conv_sig_df(corpus_tr)}
    )
    delta_sigs = conv_sig_df(delta_tr).persist()
    all_sigs = corpus_sigs.unionByName(delta_sigs).persist()

    flagged = conv_band_df(delta_tr, sigs=corpus_sigs).withColumn(
        "is_new", F.lit(False)
    ).unionByName(
        conv_band_df(delta_tr, sigs=delta_sigs).withColumn("is_new", F.lit(True))
    )
    census = flagged.groupBy("band_key").agg(
        F.count(F.lit(1)).alias("bkt_n"),
        F.min_by(F.struct("conv_id", "is_new"), F.col("conv_id")).alias("rep"),
    )
    sized_delta = flagged.filter("is_new").join(census, "band_key")
    a = sized_delta.filter(F.col("bkt_n") <= hot_bucket_cap).alias("a")
    b = flagged.alias("b")
    cold_pairs = a.join(
        b,
        (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.conv_id") != F.col("b.conv_id")),
    ).select(
        F.least("a.conv_id", "b.conv_id").alias("c1"),
        F.greatest("a.conv_id", "b.conv_id").alias("c2"),
    )
    hot_delta = sized_delta.filter(
        (F.col("bkt_n") > hot_bucket_cap)
        & (F.col("conv_id") != F.col("rep.conv_id"))
    ).select(F.col("rep.conv_id").alias("c1"), F.col("conv_id").alias("c2"))
    hot_rep_new = (
        flagged.join(
            census.filter((F.col("bkt_n") > hot_bucket_cap) & F.col("rep.is_new")),
            "band_key",
        )
        .filter(F.col("conv_id") != F.col("rep.conv_id"))
        .select(F.col("rep.conv_id").alias("c1"), F.col("conv_id").alias("c2"))
    )
    candidates = cold_pairs.unionByName(hot_delta).unionByName(hot_rep_new)

    all_tr = corpus_tr.unionByName(delta_tr)
    pairs = _conv_verify_candidates(all_tr, candidates, sigs=all_sigs).persist()
    if pairs_path is not None:
        append(CONV_PAIRS, pairs, pairs_path, run_id)
    else:
        pairs.count()
    append(CONV_SIGNATURES, delta_sigs, sig_path, run_id)
    delta_sigs.unpersist()
    all_sigs.unpersist()
    return pairs, run_id


def update_cluster_assignments(
    delta_pairs: DataFrame,
    delta_ids: DataFrame,
    prev: DataFrame | None = None,
) -> DataFrame:
    """Fold one run's new near-dup pairs into the standing cluster
    assignment table — the keeper set a production dedup pipeline
    maintains across days (keep = doc_id == cluster_rep).

    `prev`: yesterday's (doc_id, cluster_rep) snapshot (None on day one).
    `delta_pairs`: today's verified pairs (d1, d2) — every endpoint is
    either a delta doc or a corpus doc the delta matched.
    `delta_ids`: today's doc ids (docs with no pair become singletons).

    Scale shape: label propagation reruns ONLY over the subgraph of
    clusters touched by a new edge — new pairs plus the star edges
    (rep -> member) of every previously-assigned cluster containing a
    touched doc. Untouched clusters pass through by anti-join without
    entering the iterative loop, so a day's cost scales with the touched
    clusters' sizes, not the corpus. Star edges preserve exact membership,
    and min-label over {new edges ∪ stars} equals min-label over the full
    historical edge set restricted to those clusters (reachability is
    identical: a star reaches everything its cluster's edges reached), so
    the invariant `incremental result == batch connected_components over
    all pairs ever seen` holds run over run — pinned by pytest.

    Re-ingested doc ids (a delta id already present in `prev`) are not
    supported: upstream identity resolution must dedup ids first."""
    as_assign = lambda labels: labels.select(  # noqa: E731
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_rep")
    )
    new_edges = delta_pairs.select("d1", "d2")
    if prev is None:
        resolved = as_assign(connected_components(new_edges))
    else:
        touched = (
            new_edges.select(F.col("d1").alias("doc_id"))
            .unionByName(new_edges.select(F.col("d2").alias("doc_id")))
            .distinct()
        )
        touched_reps = (
            prev.join(touched, "doc_id", "left_semi")
            .select("cluster_rep")
            .distinct()
        )
        affected = prev.join(touched_reps, "cluster_rep", "left_semi")
        star_edges = affected.filter(
            F.col("doc_id") != F.col("cluster_rep")
        ).select(
            F.col("cluster_rep").alias("d1"), F.col("doc_id").alias("d2")
        )
        untouched = prev.join(touched_reps, "cluster_rep", "left_anti")
        resolved = untouched.unionByName(
            as_assign(connected_components(new_edges.unionByName(star_edges)))
        )
    singletons = delta_ids.join(resolved, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_rep")
    )
    # pin column ORDER, not just names: the join on "cluster_rep" above
    # moves the key first, and downstream schema-positional consumers
    # (parquet snapshots, dict(collect()) in tests) must see a stable shape
    out = resolved.unionByName(singletons).select("doc_id", "cluster_rep")
    # cut lineage at the API boundary: each day's call references `prev`
    # three times (touched/affected/untouched) and embeds the full pair-
    # mining plan, so chaining lazy snapshots compounds the logical tree
    # until Catalyst chokes (observed as a tree-string stack overflow on
    # day 3 over real mining plans). The snapshot is a materialized daily
    # artifact by contract — appended to a CLUSTERS table — so an
    # eager localCheckpoint here is the semantics, not a workaround; same
    # discipline as the connected_components loop.
    return out.localCheckpoint(eager=True)
