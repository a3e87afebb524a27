"""Checkpoint / lineage / resume (operators F2, K1-K4 in SURVEY.md §2).

Mirrors the reference's resumability model, translated to Spark:

* lineage rows modeled on ``RenameMapping``/``ProcessResult``
  (``apps/legacy/src/types.ts:1-8``, ``fileProcessor.ts:9-16``) — one row
  per (run_id, part_bucket) with status + counts + timings,
* resume = anti-join of the input against successful lineage
  (``apps/legacy/rename.ts:61-64`` keeps only files without a successful
  mapping),
* two-phase commit: data lands in a staging dir, then each bucket is
  published into the final layout by ``commit.publish`` and its lineage
  row is appended immediately after (``rename.ts:29-34``),
* manifest backup before mutation (``rename.ts:6-16``) → a timestamped
  manifest JSON per run.

The bucket id is content-based (pmod(xxhash64(conv_id), n_buckets)) so
resume is invariant to physical parallelism. On a real deployment this
whole module is one Iceberg ``MERGE INTO`` + snapshot; the filesystem
implementation keeps the same commit ordering so the resume guarantee
("a bucket is either fully present with a lineage row, or not present")
holds on plain parquet too.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from janet_spark.commit import publish

LINEAGE_SCHEMA = (
    "run_id string, part_bucket int, status string, error string, "
    "n_turns long, n_ok long, started_at timestamp, finished_at timestamp"
)


def partition_bucket(col_name: str = "conv_id", n_buckets: int = 32):
    """Stable content-based bucket id — the checkpoint/lineage unit. Based
    on the data (xxhash64 of conv_id), not on physical task ids, so resume
    survives different parallelism levels between runs.

    NULL keys coalesce to '' first: xxhash64(NULL) is NULL, which would
    route those rows to a `part_bucket=__HIVE_DEFAULT_PARTITION__` dir the
    commit loop cannot parse (and the resume anti-filter's non-null-safe
    isin would re-drop them every run) — degenerate rows still deserve a
    real bucket and a lineage row."""
    return F.pmod(
        F.xxhash64(F.coalesce(F.col(col_name), F.lit(""))), F.lit(n_buckets)
    ).cast("int")


def lineage_dir(output_path: str) -> str:
    return os.path.join(output_path, "_lineage")


def manifest_dir(output_path: str) -> str:
    return os.path.join(output_path, "_manifests")


def data_dir(output_path: str) -> str:
    return os.path.join(output_path, "data")


def completed_buckets(spark: SparkSession, output_path: str) -> set[int]:
    """Buckets with a successful lineage row (the resume set).

    Read in-process with pyarrow, not with Spark, for the reason
    `write_lineage` writes that way: a Spark read of these few tiny files
    costs three jobs. Projecting onto `status` and `part_bucket` lets
    Spark-written (INT96 timestamps) and pyarrow-written files mix, and
    pyarrow's discovery skips `_SUCCESS` and `.crc` siblings as Spark does.
    `spark` is unused; callers keep passing it."""
    import pyarrow.parquet as pq

    ldir = lineage_dir(output_path)
    if not os.path.isdir(ldir) or not any(
        f.endswith(".parquet") for f in os.listdir(ldir)
    ):
        return set()
    done = pq.read_table(
        ldir, columns=["part_bucket"], filters=[("status", "==", "success")]
    )
    return set(done.column("part_bucket").to_pylist())


def resume_filter(df: DataFrame, done: set[int], bucket_col: str = "part_bucket") -> DataFrame:
    """Anti-join the work list against completed buckets (F2/J1). The done
    set is tiny (≤ n_buckets), so this folds to a broadcast NOT-IN filter
    rather than a shuffle join."""
    if not done:
        return df
    return df.filter(~F.col(bucket_col).isin(sorted(done)))


def check_bucket_config(output_path: str, n_buckets: int) -> None:
    """Pin the bucketing config to the output directory: lineage bucket
    ids only mean anything in the n_buckets-space that produced them, so
    resuming with a DIFFERENT n_buckets would anti-filter the wrong rows —
    silently skipping never-committed work and duplicating committed work.
    The first run writes a marker; later runs must match it or fail loudly."""
    marker = os.path.join(output_path, "_bucket_config.json")
    if os.path.exists(marker):
        with open(marker) as f:
            prior = json.load(f)
        if prior.get("n_buckets") != n_buckets:
            raise ValueError(
                f"output {output_path} was bucketed with n_buckets="
                f"{prior.get('n_buckets')}; resuming with n_buckets={n_buckets} "
                "would corrupt resume — use the original value"
            )
        return
    os.makedirs(output_path, exist_ok=True)
    with open(marker, "w") as f:
        json.dump({"n_buckets": n_buckets}, f)


def backup_manifest(output_path: str, run_id: str, payload: dict) -> str:
    """Timestamped manifest write (K3; reference timestamps with
    toISOString().replace(/[:.]/g,'-'), rename.ts:7)."""
    mdir = manifest_dir(output_path)
    os.makedirs(mdir, exist_ok=True)
    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H-%M-%S-%f")
    path = os.path.join(mdir, f"checkpoint-manifest-{stamp}-{run_id}.json")
    with open(path, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True, default=str)
    return path


def write_lineage(output_path: str, rows: list[dict]) -> None:
    """Append lineage rows as one small parquet file.

    Written with pyarrow directly, NOT a Spark job: the commit loop appends
    one lineage row per bucket immediately after its move (crash
    consistency), and a per-bucket Spark job would serialize ~1-2 s of
    scheduler latency each — measured 64-bucket commits spent more time in
    lineage jobs than in extraction. The driver-local write is a few ms and
    produces files `spark.read.parquet` consumes unchanged.

    Mixed-writer compatibility: timestamps are written as timestamp[us, UTC]
    (the int64 TIMESTAMP_MICROS physical type), which Spark reads alongside
    its own lineage files — including pre-round-2 dirs whose files a Spark
    job wrote with INT96 timestamps. That cross-generation resume is pinned
    by tests/test_round2_ops.py::test_mixed_lineage_writers_resume."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ldir = lineage_dir(output_path)
    os.makedirs(ldir, exist_ok=True)
    table = pa.table(
        {
            "run_id": pa.array([r["run_id"] for r in rows], pa.string()),
            "part_bucket": pa.array([int(r["part_bucket"]) for r in rows], pa.int32()),
            "status": pa.array([r["status"] for r in rows], pa.string()),
            "error": pa.array([r.get("error") for r in rows], pa.string()),
            "n_turns": pa.array([int(r.get("n_turns", 0)) for r in rows], pa.int64()),
            "n_ok": pa.array([int(r.get("n_ok", 0)) for r in rows], pa.int64()),
            "started_at": pa.array(
                [r.get("started_at") for r in rows], pa.timestamp("us", tz="UTC")
            ),
            "finished_at": pa.array(
                [r.get("finished_at") for r in rows], pa.timestamp("us", tz="UTC")
            ),
        }
    )
    fname = f"lineage-{datetime.now(timezone.utc).strftime('%Y%m%dT%H%M%S%f')}-{uuid.uuid4().hex[:8]}.parquet"
    pq.write_table(table, os.path.join(ldir, fname))


def commit_staged(
    output_path: str,
    staging_path: str,
    run_id: str,
    bucket_stats: dict[int, dict],
    fail_after_n_buckets: int | None = None,
) -> list[int]:
    """Two-phase commit: publish each staged bucket dir into the final data
    layout, appending that bucket's lineage row immediately after.

    `fail_after_n_buckets` injects a crash after that many buckets have
    committed (the pytest kill-and-restart scenario). Returns committed
    bucket ids.
    """
    ddir = data_dir(output_path)
    os.makedirs(ddir, exist_ok=True)
    committed: list[int] = []
    for name in sorted(os.listdir(staging_path)):
        if not name.startswith("part_bucket="):
            continue
        bucket = int(name.split("=", 1)[1])
        publish(os.path.join(staging_path, name), os.path.join(ddir, name))
        stats = bucket_stats.get(bucket, {})
        write_lineage(
            output_path,
            [
                {
                    "run_id": run_id,
                    "part_bucket": bucket,
                    "status": "success",
                    "error": None,
                    "n_turns": stats.get("n_turns", 0),
                    "n_ok": stats.get("n_ok", 0),
                    "started_at": stats.get("started_at"),
                    "finished_at": datetime.now(timezone.utc),
                }
            ],
        )
        committed.append(bucket)
        if fail_after_n_buckets is not None and len(committed) >= fail_after_n_buckets:
            raise RuntimeError(
                f"injected failure after {len(committed)} committed buckets"
            )
    shutil.rmtree(staging_path, ignore_errors=True)
    return committed


_last_run_ns = 0


def new_run_id() -> str:
    """Strictly monotonic run id: lexicographic order == creation order.

    Snapshot tables (the `latest` merge of janet_spark.maintained)
    resolve "latest" as the lexicographic max of gen=<run_id> dirs, so
    two runs in the same second must not tie-break on random hex (the
    older snapshot could shadow the newer). Nanosecond time has a fixed
    19-digit width until ~2262 so lexicographic == numeric, and
    the process-local monotonic guard breaks same-nanosecond ties; legacy
    10-digit-seconds ids sort before any ns id with the same prefix
    ('-' < digit), so mixed directories stay correctly ordered."""
    global _last_run_ns
    ns = max(time.time_ns(), _last_run_ns + 1)
    _last_run_ns = ns
    return f"run-{ns}-{uuid.uuid4().hex[:8]}"
