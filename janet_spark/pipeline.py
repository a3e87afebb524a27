"""The flagship extraction pipeline, end to end.

Spark shape (SURVEY.md §3.1):

    read -> resume anti-join vs lineage -> mapInPandas(extract) as a NARROW
    map over the scan -> bucket repartition -> [write per-bucket + lineage,
    two-phase] -> two-level window-ordered reassembly

Matches the reference's batch rename driver (``apps/legacy/rename.ts:51-106``)
stage for stage: manifest load, backup, anti-join work list, per-item
process, two-phase rename, manifest upsert — except the per-file sequential
loop becomes partition-parallel extraction over Arrow batches.

Scale notes:

* Extraction is row-local, so it runs as a narrow map directly over the
  file scan — NO pre-shuffle. Parallelism and balance come from input
  splits, which are uniform by construction; a skewed conversation costs
  nothing here because no stage groups by conv_id yet. Split size comes
  from Spark's bytes-per-core rule (session.py), not from a pinned split
  cap, so an input smaller than cores x 128 MB runs as one wave of Python
  tasks (each wave costs a fixed ~0.28 s on 4 cores).
  Measured on a 32-core box, dropping the pre-extract repartition removed
  a full input-sized shuffle and most of the system-CPU burn that capped
  8->32-core scaling.
* Skew handling lives where keys first meet: the write path buckets by
  ``pmod(xxhash64(conv_id), n_buckets)`` with a conv-level write salt, and
  reassembly uses a two-level chunked concat (contiguous ``turn_idx div
  CHUNK`` ranges — order-preserving salting; see reassemble.py).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from janet_spark import checkpoint as ckpt
from janet_spark import commit
from janet_spark.extract.udfs import EXTRACT_OUTPUT_DDL, extract_turns_iter
from janet_spark.reassemble import reassemble_conversations

N_CHECKPOINT_BUCKETS = 32
# files written per checkpoint bucket: spreads a bucket's write across
# several reducers (and yields multiple parquet files per bucket dir)
WRITE_SALT = 4


def extract_only(transcripts: DataFrame) -> DataFrame:
    """Pure transformation: transcripts -> per-turn extraction output.
    No I/O, no checkpointing — composable into queries and tests.

    A narrow map over the input's own partitioning through the
    Arrow-batched pandas UDF; callers that want a different parallelism
    repartition first."""
    return transcripts.mapInPandas(extract_turns_iter, schema=EXTRACT_OUTPUT_DDL)


def run_job(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    run_id: str | None = None,
    n_buckets: int = N_CHECKPOINT_BUCKETS,
    write_salt: int = WRITE_SALT,
    fail_after_n_buckets: int | None = None,
) -> dict:
    """Checkpointed batch run: resumable, two-phase-committed, with
    per-bucket lineage. Returns a summary dict (also written as the run's
    manifest)."""
    run_id = run_id or ckpt.new_run_id()
    started = datetime.now(timezone.utc)

    # refuse to resume with a different bucketing (wrong-space anti-join),
    # and clear staging remnants from crashed prior runs
    ckpt.check_bucket_config(output_path, n_buckets)
    commit.sweep_staging(output_path, keep=run_id)

    work = transcripts.withColumn(
        "part_bucket", ckpt.partition_bucket("conv_id", n_buckets)
    )
    done = ckpt.completed_buckets(spark, output_path)
    work = ckpt.resume_filter(work, done)

    # fully-resumed rerun: nothing to stage — skip the write entirely
    # (Observation.get has no metrics row when zero tasks ran, and an empty
    # staged write would commit nothing anyway). isEmpty() short-circuits
    # on the first row found, so this probe is cheap at any scale.
    if work.isEmpty():
        summary = {
            "run_id": run_id,
            "phase": "committed",
            "buckets_committed": [],
            "resumed_skipping_buckets": sorted(done),
            "n_turns": 0,
            "started_at": started,
            "finished_at": datetime.now(timezone.utc),
        }
        ckpt.backup_manifest(output_path, run_id, summary)
        return summary

    extracted = extract_only(
        work.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    ).withColumn("part_bucket", ckpt.partition_bucket("conv_id", n_buckets))

    # per-bucket stats ride the write job itself via observe() — no second
    # scan over the staged output (at 100 TB the old re-read was a full
    # extra pass). Observation metrics are global aggregates, so the
    # per-bucket split is pivoted into 2*n_buckets conditional sums —
    # bounded by the constant bucket count, merged map-side like any
    # partial agg. CAVEAT: accumulator-backed metrics drop FAILED task
    # attempts but can double-count under SPECULATIVE execution (two
    # successful attempts of one task), so when speculation is on we fall
    # back to the exact post-write aggregation — stats feed lineage
    # reporting only (resume keys off row presence, never these counts),
    # but they should still be exact whenever the engine can promise it.
    speculative = (
        spark.conf.get("spark.speculation", "false").lower() == "true"
    )
    from pyspark.sql import Observation

    obs = Observation(f"bucket_stats_{run_id}")
    metric_exprs = []
    for b in range(n_buckets):
        metric_exprs.append(
            F.sum(F.when(F.col("part_bucket") == b, 1).otherwise(0)).alias(f"t{b}")
        )
        metric_exprs.append(
            F.sum(
                F.when(F.col("part_bucket") == b, F.col("ok").cast("long")).otherwise(0)
            ).alias(f"o{b}")
        )

    staging = commit.staging_path(output_path, run_id)
    to_write = extracted if speculative else extracted.observe(obs, *metric_exprs)
    (
        to_write
        # one shuffle keyed on (bucket, conv-salt): co-locates each bucket
        # into at most WRITE_SALT files while keeping a conversation in one
        # file; replaces the old full-input pre-extract shuffle
        .repartition(
            F.col("part_bucket"),
            F.pmod(F.xxhash64("conv_id"), F.lit(write_salt)),
        )
        # sort within each write task: costs one in-memory sort per
        # reducer, buys (a) tight per-row-group min/max stats on conv_id,
        # so downstream point reads of one conversation prune row groups
        # instead of scanning the bucket, and (b) better RLE/dict
        # compression from clustered conv_id/turn_idx runs. part_bucket
        # leads the sort keys: dynamic-partition writes require ordering
        # by the partition column, and providing it here means the writer
        # reuses THIS sort instead of injecting its own (which would
        # discard the conv_id/turn_idx clustering).
        .sortWithinPartitions("part_bucket", "conv_id", "turn_idx")
        .write.mode("overwrite")
        .partitionBy("part_bucket")
        .parquet(staging)
    )

    def exact_bucket_stats() -> dict:
        # exact fallback: one column-pruned pass over the staged output
        stats_rows = (
            spark.read.schema(extracted.schema)
            .parquet(staging)
            .groupBy("part_bucket")
            .agg(
                F.count(F.lit(1)).alias("n_turns"),
                F.sum(F.col("ok").cast("long")).alias("n_ok"),
            )
            .collect()
        )
        return {
            int(r["part_bucket"]): {
                "n_turns": int(r["n_turns"]),
                "n_ok": int(r["n_ok"]),
                "started_at": started,
            }
            for r in stats_rows
        }

    if speculative:
        bucket_stats = exact_bucket_stats()
    else:
        metrics = obs.get  # blocks until the write action reports
        # sums are NULL when zero rows flowed -> `or 0`
        bucket_stats = {
            b: {
                "n_turns": int(metrics[f"t{b}"] or 0),
                "n_ok": int(metrics[f"o{b}"] or 0),
                "started_at": started,
            }
            for b in range(n_buckets)
            if int(metrics[f"t{b}"] or 0) > 0
        }
        # Speculation isn't the only way accumulator metrics double-count:
        # a STAGE RE-ATTEMPT (e.g. shuffle fetch failure on a real cluster)
        # re-runs already-successful tasks and their observe() sums merge
        # twice. Cross-check the observed total against the staged row
        # count — parquet count() is metadata-only (footer row counts, no
        # data scan), so this probe is cheap at any scale — and fall back
        # to the exact per-bucket aggregation on any mismatch. Resume is
        # unaffected either way (it keys off row presence, not counts);
        # this keeps the lineage stats exact whenever they are published.
        observed_total = sum(s["n_turns"] for s in bucket_stats.values())
        staged_total = spark.read.schema(extracted.schema).parquet(staging).count()
        if observed_total != staged_total:
            bucket_stats = exact_bucket_stats()

    ckpt.backup_manifest(
        output_path,
        run_id,
        {
            "run_id": run_id,
            "phase": "pre-commit",
            "resumed_skipping_buckets": sorted(done),
            "buckets_staged": sorted(bucket_stats),
            "started_at": started,
        },
    )
    committed = ckpt.commit_staged(
        output_path, staging, run_id, bucket_stats, fail_after_n_buckets
    )
    summary = {
        "run_id": run_id,
        "phase": "committed",
        "buckets_committed": committed,
        "resumed_skipping_buckets": sorted(done),
        "n_turns": int(sum(s["n_turns"] for s in bucket_stats.values())),
        "started_at": started,
        "finished_at": datetime.now(timezone.utc),
    }
    ckpt.backup_manifest(output_path, run_id, summary)
    return summary


def read_output(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.parquet(ckpt.data_dir(output_path))


def full_pipeline(
    spark: SparkSession, transcripts: DataFrame, output_path: str, **kw
) -> DataFrame:
    """run_job + conversation-level reassembly of the committed output."""
    run_job(spark, transcripts, output_path, **kw)
    return reassemble_conversations(read_output(spark, output_path))
