"""Production packaging of the SFT data build: transcripts in, a
committed training artifact out.

The oracle-checked queries prove each stage; this module is the JOB a
team actually schedules — the conversation training pipeline
(`conv_training_pipeline`: quality gate -> exact-dedup keeper semi-join ->
context-budget truncation -> fixed-512-token packing), the per-assistant-
turn loss-mask spans (`conv_loss_mask`), and the chat-template render
offsets (`chat_render`) written together as one atomically committed
generation:

    <output>/gen=<run_id>/seqs/       one row per surviving conversation:
                                      packed sequence assignment
                                      (seq_id, seq_offset, tokens)
    <output>/gen=<run_id>/loss_mask/  per-assistant-turn token spans
    <output>/gen=<run_id>/render/     per-turn chat fragments + offsets
    <output>/_lineage/                one success row per committed
                                      generation (records the gen dir)

Commit protocol: all three tables stage together and the WHOLE
generation is published as ``gen=<run_id>/`` by ONE ``commit.publish`` —
there is no state where tables from two generations are visible at once
(per-table publishes would let loss-mask spans point into a different
packing). The lineage row is appended after the publish; a crash in
between leaves an orphan gen dir with no lineage row, which the next run
deletes before building (the committed view never includes it —
``committed_generation`` only trusts lineage rows whose gen dir exists).
Readers resolve tables through ``table_path``. Resume mirrors the
reference's "PDF text already exists" idempotence guard
(apps/ocr/src/lib/ocr-utils.ts:376-378): a rerun that finds a committed
generation short-circuits without touching Spark — pass ``force=True`` to
rebuild.

Scale notes: all three tables come out of plans audited in PLANS.md —
the pipeline's narrow (conv_id, turn_idx, words) persist, conv_id-keyed
shuffles throughout, the two-level distributed prefix sum for packing,
and the render's single window pass. Nothing here adds a corpus pass:
the job is exactly the three registered queries plus file moves.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from janet_spark import commit
from janet_spark.checkpoint import new_run_id

_TABLES = ("seqs", "loss_mask", "render")


def _lineage_path(output_path: str) -> str:
    return os.path.join(output_path, "_lineage", "generations.jsonl")


def _gen_dir(output_path: str, run_id: str) -> str:
    return os.path.join(output_path, f"gen={run_id}")


def committed_generation(output_path: str) -> dict | None:
    """The latest success row whose generation dir actually exists, or
    None. A lineage row without its dir (should not happen — the rename
    precedes the append) is skipped rather than trusted."""
    path = _lineage_path(output_path)
    if not os.path.exists(path):
        return None
    last = None
    with open(path) as f:
        for line in f:
            row = json.loads(line)
            if row.get("status") == "success" and os.path.isdir(
                _gen_dir(output_path, row["run_id"])
            ):
                last = row
    return last


def table_path(output_path: str, name: str) -> str:
    """Resolve a table of the latest committed generation. Raises if no
    generation is committed or the name is unknown."""
    if name not in _TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {_TABLES}")
    gen = committed_generation(output_path)
    if gen is None:
        raise FileNotFoundError(f"no committed generation under {output_path}")
    return os.path.join(_gen_dir(output_path, gen["run_id"]), name)


def _clean_uncommitted(output_path: str, run_id: str) -> None:
    """Delete staging debris and orphan gen dirs (published but crashed
    before the lineage append). Committed generations always have a
    lineage row, so everything removed here was never visible."""
    commit.sweep_staging(output_path, keep=run_id)
    if not os.path.isdir(output_path):
        return
    committed = set()
    path = _lineage_path(output_path)
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                row = json.loads(line)
                if row.get("status") == "success":
                    committed.add(row["run_id"])
    for name in os.listdir(output_path):
        if name.startswith("gen=") and name[len("gen="):] not in committed:
            shutil.rmtree(os.path.join(output_path, name), ignore_errors=True)


def run_sft_job(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    run_id: str | None = None,
    force: bool = False,
    fail_after_n_tables: int | None = None,
    fail_before_lineage: bool = False,
) -> dict:
    """Build and atomically commit the SFT training artifact. Returns a
    summary dict; ``resumed=True`` means a committed generation already
    existed and nothing ran. ``fail_after_n_tables`` /
    ``fail_before_lineage`` inject crashes for the commit-protocol pytest
    (mid-staging, and between the publish and the lineage append)."""
    from janet_spark.conversations import (
        conv_loss_mask_frame,
        conv_training_pipeline_frame,
    )
    from janet_spark.dialogue import chat_render_frame

    existing = committed_generation(output_path)
    if existing is not None and not force:
        return {
            "run_id": existing["run_id"],
            "resumed": True,
            "n_seqs": existing["n_seqs"],
            "n_mask_spans": existing["n_mask_spans"],
            "n_render_rows": existing["n_render_rows"],
        }

    run_id = run_id or new_run_id()
    _clean_uncommitted(output_path, run_id)
    staging = commit.staging_path(output_path, run_id)
    os.makedirs(staging, exist_ok=True)
    started = datetime.now(timezone.utc).isoformat()
    t0 = time.time()

    # scheme-agnostic DENSE pack ordinal: the job must accept ANY conv_id
    # scheme, so the pack order is a seeded-md5 permutation ranked through
    # the same 256-block + broadcast-prefix-sum helper as corpus_shuffle
    # (dense ranks keep the prefix-sum block table bounded; a raw hash
    # ordinal would make it corpus-sized). Seqs and loss_mask MUST share
    # one ordinal or spans would point into the wrong sequences.
    from pyspark.sql import functions as F

    from janet_spark.shard_writer import shuffle_ranked

    ordinal = shuffle_ranked(
        transcripts.select("conv_id").distinct(),
        seed="pack0",
        shard_size=1_000_000,
        key_col="conv_id",
    ).select("conv_id", F.col("shuffle_rank").alias("ord"))

    frames: dict[str, DataFrame] = {
        "seqs": conv_training_pipeline_frame(transcripts, ordinal=ordinal),
        "loss_mask": conv_loss_mask_frame(transcripts, ordinal=ordinal),
        "render": chat_render_frame(transcripts),
    }
    counts: dict[str, int] = {}
    for i, (name, df) in enumerate(frames.items()):
        if fail_after_n_tables is not None and i >= fail_after_n_tables:
            raise RuntimeError(f"injected failure after {i} tables staged")
        path = os.path.join(staging, name)
        df.write.mode("overwrite").parquet(path)
        # metadata-only count over what was actually written
        counts[name] = spark.read.parquet(path).count()

    # all three staged -> ONE publish commits the whole generation, then
    # the lineage row lands last. Readers go through table_path, which
    # resolves the latest lineage row's gen dir, so a crash before the
    # append leaves only invisible debris for the next _clean_uncommitted.
    commit.publish(staging, _gen_dir(output_path, run_id))
    if fail_before_lineage:
        raise RuntimeError("injected failure between publish and lineage append")

    row = {
        "run_id": run_id,
        "status": "success",
        "n_seqs": counts["seqs"],
        "n_mask_spans": counts["loss_mask"],
        "n_render_rows": counts["render"],
        "started_at": started,
        "finished_at": datetime.now(timezone.utc).isoformat(),
        "elapsed_sec": round(time.time() - t0, 2),
    }
    os.makedirs(os.path.dirname(_lineage_path(output_path)), exist_ok=True)
    with open(_lineage_path(output_path), "a") as f:
        f.write(json.dumps(row) + "\n")
    return {"run_id": run_id, "resumed": False, **{k: v for k, v in row.items() if k.startswith("n_")}}
