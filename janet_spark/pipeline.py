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
* The write path shuffles once, on the checkpoint bucket
  ``pmod(xxhash64(conv_id), n_buckets)``: each bucket is written by one
  reducer as one file, so write parallelism is at most ``n_buckets`` (hash
  partitioning can put several buckets on one reducer). Skew inside a
  conversation is handled where turns are grouped, by reassembly's
  two-level chunked concat (contiguous ``turn_idx div CHUNK`` ranges —
  order-preserving salting; see reassemble.py).
* Lineage stats cost one column-pruned ``groupBy("part_bucket")`` pass
  over the staged output, which is exact under speculation and stage
  retries. A rerun with every bucket done launches no Spark job.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from janet_spark import checkpoint as ckpt
from janet_spark import commit
from janet_spark.extract.udfs import EXTRACT_OUTPUT_DDL, extract_turns_iter
from janet_spark.reassemble import reassemble_conversations

N_CHECKPOINT_BUCKETS = 32


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

    # every bucket done: nothing can be staged, which the lineage alone
    # shows, without a Spark job. Any other input runs the staged write,
    # even when all its rows fall in done buckets; that write stages no
    # bucket dir, so the commit below publishes nothing and removes the
    # staging dir.
    if len(done) == n_buckets:
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

    staging = commit.staging_path(output_path, run_id)
    (
        extracted
        # one shuffle keyed on the bucket: each bucket lands in one reducer
        # and one file, so at most n_buckets reducers write and a
        # conversation stays in one file. Skew inside a conversation is
        # reassembly's concern (its turn_idx div CHUNK salting).
        .repartition("part_bucket")
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

    # per-bucket lineage stats: one column-pruned pass over what was
    # written (the partition value and `ok`). Counting the staged rows, not
    # what tasks reported, keeps them exact under speculation and stage
    # retries. They are reporting only: resume keys off which buckets have
    # a success row, never these counts. The read names the bucket dirs,
    # not the `_`-prefixed staging root, which Spark would report as an
    # ignored path; a write that staged no bucket has nothing to read.
    buckets = os.path.join(staging, "part_bucket=*")
    stats_rows = (
        spark.read.schema(extracted.schema)
        .option("basePath", staging)
        .parquet(buckets)
        .groupBy("part_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
        )
        .collect()
        if glob.glob(buckets)
        else []
    )
    bucket_stats = {
        int(r["part_bucket"]): {
            "n_turns": int(r["n_turns"]),
            "n_ok": int(r["n_ok"]),
            "started_at": started,
        }
        for r in stats_rows
    }

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
