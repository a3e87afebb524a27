"""spark-submit entrypoint for the extraction and SFT-data pipelines.

    spark-submit --py-files janet_spark.zip janet_spark/job.py \
        --input /path/to/transcripts \
        --output /path/to/output \
        [--mode extract|sft] \
        [--input-format parquet|orc|json|csv] [--n-buckets 256]

``--mode extract`` (default) runs the per-bucket checkpointed extraction
job (pipeline.run_job); ``--mode sft`` builds the packed-training-data
artifact (sft_job.run_sft_job: gate -> dedup -> truncate -> pack +
loss-mask spans + chat-render offsets, committed as one atomic
generation). On a real cluster the input/output would be Iceberg tables
(`spark.read.table` / `MERGE INTO`); the parquet layout used here keeps the
same commit ordering and the same resume contract (see checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="transcripts dir / table")
    p.add_argument(
        "--input-format",
        default="parquet",
        choices=["parquet", "orc", "json", "csv"],
        help="input format (pinned transcript schema; see sources.py)",
    )
    p.add_argument("--output", required=True, help="output root (data + lineage)")
    p.add_argument("--n-buckets", type=int, default=256)
    p.add_argument("--run-id", default=None)
    p.add_argument("--mode", default="extract", choices=["extract", "sft"])
    p.add_argument(
        "--force",
        action="store_true",
        help="sft mode: rebuild even if a generation is already committed",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from janet_spark.pipeline import run_job
    from janet_spark.session import tune_for_session
    from janet_spark.sources import read_transcripts

    spark = SparkSession.builder.appName("janet-extract").getOrCreate()
    tune_for_session(spark)

    t0 = time.time()
    transcripts = read_transcripts(spark, args.input, format=args.input_format)

    if args.mode == "sft":
        from janet_spark.sft_job import run_sft_job

        summary = run_sft_job(
            spark,
            transcripts,
            args.output,
            run_id=args.run_id,
            force=args.force,
        )
        summary["elapsed_sec"] = round(time.time() - t0, 2)
        print(json.dumps(summary))
        return 0

    summary = run_job(
        spark,
        transcripts,
        args.output,
        run_id=args.run_id,
        n_buckets=args.n_buckets,
    )
    elapsed = time.time() - t0
    print(
        json.dumps(
            {
                "run_id": summary["run_id"],
                "n_turns": summary["n_turns"],
                "elapsed_sec": round(elapsed, 2),
                "turns_per_sec": round(summary["n_turns"] / elapsed, 1),
                "buckets_committed": len(summary["buckets_committed"]),
                "resumed_skipping": len(summary["resumed_skipping_buckets"]),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
