"""Small-files compaction — the ops-side operator every long-running
partitioned pipeline needs at scale.

A checkpointed job that commits bucket-by-bucket (checkpoint.py) and a
streaming sink that appends per-micro-batch (streaming.py) both accumulate
many small parquet files per partition over time; at 100 TB that decays
scan throughput (one task per tiny file, footer overhead, NN pressure)
and is the canonical "small files problem". `compact_dir` rewrites a
partition directory into ~target-sized files using the same two-phase
contract as the data path: write compacted output to a staging dir,
verify row count, then `commit.publish` it over the original. Spark
skips a `_` name only when it has no `=`, so staging and the aside copy
use `commit`'s names: a crash never exposes them to a read of the parent
table, and `commit.recover` (run by the next compaction) puts back a leaf
that a crash left aside.

Sizing: the file count is computed from the directory's actual on-disk
bytes divided by the target file size (parquet-encoded bytes, so the
output files land near the target without sampling row widths). The
rewrite uses `coalesce` (narrow — no shuffle: compaction must not pay a
cluster-wide shuffle just to merge files).

On an Iceberg deployment this module collapses to
`rewrite_data_files`; the filesystem implementation keeps the same
verify-then-swap ordering.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from janet_spark import commit

DEFAULT_TARGET_FILE_MB = 128


def dir_parquet_stats(path: str) -> tuple[int, int]:
    """(n_parquet_files, total_bytes) under `path`, recursively."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact_dir(
    spark: SparkSession,
    path: str,
    target_file_mb: int = DEFAULT_TARGET_FILE_MB,
) -> dict:
    """Rewrite the parquet files under `path` into ~target_file_mb files.

    Two-phase: staging write -> row-count verify -> publish. Returns a
    summary dict; raises (leaving the original intact) if the verify
    fails. No-op (returns early) when the directory already has one file
    or is already at/under the target count.
    """
    # finish a swap that a crashed earlier attempt left half done
    parent = os.path.dirname(os.path.abspath(path))
    commit.recover(parent)

    # guard: compacting a partitioned ROOT would read the partition column
    # out of the directory names and write it back flat, destroying the
    # layout — each leaf partition directory must be compacted on its own
    for entry in os.listdir(path):
        if "=" in entry and os.path.isdir(os.path.join(path, entry)):
            raise ValueError(
                f"{path} contains partition subdirectories ({entry}); "
                "compact each leaf partition directory individually"
            )

    n_files, total_bytes = dir_parquet_stats(path)
    target_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    if n_files <= max(target_files, 1):
        return {
            "path": path,
            "compacted": False,
            "n_files": n_files,
            "total_bytes": total_bytes,
        }

    df = spark.read.parquet(path)
    n_rows = df.count()
    with commit.staged(parent, "compact") as staging:
        df.coalesce(target_files).write.mode("overwrite").parquet(staging)
        staged_rows = spark.read.parquet(staging).count()
        if staged_rows != n_rows:
            raise RuntimeError(
                f"compaction verify failed: {staged_rows} staged rows != {n_rows}"
            )
        commit.publish(staging, path)
    new_files, new_bytes = dir_parquet_stats(path)
    return {
        "path": path,
        "compacted": True,
        "n_files_before": n_files,
        "n_files_after": new_files,
        "rows": n_rows,
        "total_bytes": new_bytes,
    }
