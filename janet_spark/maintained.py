"""Maintained state: tables kept as immutable generations and folded
together on read (the reference's resume model, "process only the new
work, upsert the results", ``apps/legacy/rename.ts:61-64``).

Each table is declared once as a ``Spec``: the schema its generations are
read with, the delta builder ``of`` that turns one day's input into a
generation, and the ``merge`` (a mergeable summary: ``sum_on``,
``max_on``, ``min_on``, ``distinct``, ``dedup_on``, ``union`` or
``latest``) that folds the live generations into the table a reader
sees. Every caller reads through ``read`` and writes through ``append``;
``maintained`` adds the one bootstrap rule. Only this module and
``commit.py`` touch generation dirs (``tests/test_commit_discipline.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from janet_spark.checkpoint import new_run_id
from janet_spark.commit import (
    generation_dirs,
    live_generation_dirs,
    publish,
    staged,
    write_generation,
)

Frame = Callable[[DataFrame], DataFrame]


def union(df: DataFrame) -> DataFrame:
    return df


def distinct(df: DataFrame) -> DataFrame:
    return df.distinct()


def latest(df: DataFrame) -> DataFrame:
    """Snapshot merge: ``read`` hands it only the newest live generation
    (run ids sort by creation, ``checkpoint.new_run_id``)."""
    return df


def _agg_on(agg) -> Callable[..., Frame]:
    """``agg`` of every non-key column, grouped by the keys."""

    def on(*keys: str) -> Frame:
        return lambda df: df.groupBy(*keys).agg(
            *[agg(c).alias(c) for c in df.columns if c not in keys]
        )

    return on


sum_on, max_on, min_on = _agg_on(F.sum), _agg_on(F.max), _agg_on(F.min)


def dedup_on(*keys: str) -> Frame:
    return lambda df: df.dropDuplicates(list(keys))


@dataclass(frozen=True)
class Spec:
    """One maintained table: generation schema, delta builder, merge."""

    schema: str
    of: Frame = union
    merge: Frame = union


def _merged(spark: SparkSession, spec: Spec, gens: list[str]) -> DataFrame:
    if spec.merge is latest:
        gens = gens[-1:]
    return spec.merge(spark.read.schema(spec.schema).parquet(*gens))


def read(spark: SparkSession, spec: Spec, path: str) -> DataFrame | None:
    """The merged live generations of the table at ``path``; None before
    its first generation. Staging dirs of crashed runs are never listed,
    and generations a compaction absorbed are skipped even while their
    dirs linger."""
    gens = live_generation_dirs(path)
    return _merged(spark, spec, gens) if gens else None


def append(spec: Spec, delta: DataFrame, path: str, gen_id: str) -> str:
    """Publish ``spec.of(delta)`` as ``<path>/gen=<gen_id>``; a replay of
    the same ``gen_id`` replaces it whole. Returns the gen dir."""
    return write_generation(spec.of(delta), path, gen_id)


def maintained(
    spark: SparkSession, spec, path, days: dict[str, Callable[[], DataFrame]]
):
    """Read a table (or a tuple of tables fed by the same days: pass
    ``spec`` and ``path`` as parallel tuples), first appending each
    bootstrap day of ``days`` (gen name -> delta input) that a table lacks.

    The one bootstrap rule: backfill only while every live generation
    name, over all the tables, is one of ``days``. A crash between two
    bootstrap commits therefore self-heals, while after a compaction or a
    production run the days may live on under another name, and writing
    them again would double a sum-merged table."""
    tables = list(zip(spec, path)) if isinstance(spec, tuple) else [(spec, path)]
    lives = [
        {os.path.basename(g).removeprefix("gen=") for g in live_generation_dirs(p)}
        for _, p in tables
    ]
    if set().union(*lives) <= set(days):
        for name, delta in days.items():
            missing = [t for t, live in zip(tables, lives) if name not in live]
            if missing:
                frame = delta()
                for s, p in missing:
                    append(s, frame, p, name)
    reads = tuple(read(spark, s, p) for s, p in tables)
    return reads if isinstance(spec, tuple) else reads[0]


def two_day_split(load: Callable[[], DataFrame], key: str) -> dict:
    """The registered queries' stand-in history: rows with an even ``key``
    are gen=bootstrap, odd ones gen=delta-day2, the day's delta."""
    return {
        "bootstrap": lambda: load().filter(F.col(key) % 2 == 0),
        "delta-day2": lambda: load().filter(F.col(key) % 2 == 1),
    }


def compact_generations(
    spark: SparkSession, spec: Spec, table_path: str, keep_latest: int = 3
) -> dict:
    """Fold every live generation older than the newest ``keep_latest``
    into ONE compacted generation holding ``spec.merge`` of them, the
    frame a reader sees: the daily-delta answer to the small-files
    problem (``compaction.py`` handles flat dirs, this the gen= layout).
    The merge also squeezes out what replays left behind, such as pairs a
    retry re-committed under a new generation id. Snapshot tables only
    ever read their newest generation; prune them with
    ``prune_snapshots``.

    Verify-then-publish, tolerant of every crash window:
    1. the merged frame is staged, with ``_covered.json`` naming the
       absorbed generations;
    2. row-count verify: staged rows == rows of the merged frame;
    3. one ``commit.publish`` commits the compacted generation; from then
       on readers skip the covered dirs, so the delete phase needs no
       atomicity;
    4. covered dirs are deleted; a crash mid-delete leaves leftovers the
       next read ignores and the next compaction sweeps.

    Returns a summary dict. The ``keep_latest`` newest generations stay
    untouched, so a same-day reader never races the compactor on the
    generation a run is about to commit."""
    live = live_generation_dirs(table_path)
    # sweep covered leftovers from a previous crash-mid-delete
    for g in set(generation_dirs(table_path)) - set(live):
        shutil.rmtree(g, ignore_errors=True)
    old = live[:-keep_latest] if keep_latest > 0 else live
    if len(old) < 2:
        return {"path": table_path, "compacted": False, "n_live": len(live)}

    merged = _merged(spark, spec, old)
    n_rows = merged.count()
    gen_id = f"compacted-{new_run_id()}"
    with staged(table_path, gen_id) as staging:
        merged.coalesce(max(1, min(8, len(old)))).write.mode("overwrite").parquet(
            staging
        )
        staged_rows = spark.read.schema(spec.schema).parquet(staging).count()
        if staged_rows != n_rows:
            raise RuntimeError(
                f"compaction verify failed: {staged_rows} staged != {n_rows}"
            )
        with open(os.path.join(staging, "_covered.json"), "w") as f:
            json.dump(sorted(os.path.basename(g) for g in old), f)
        publish(staging, os.path.join(table_path, f"gen={gen_id}"))
    for g in old:
        shutil.rmtree(g, ignore_errors=True)
    return {
        "path": table_path,
        "compacted": True,
        "n_absorbed": len(old),
        "rows": n_rows,
        "gen": gen_id,
    }


def prune_snapshots(table_path: str, keep_latest: int = 3) -> int:
    """Delete all but the newest ``keep_latest`` generations of a
    ``latest``-merged table (readers only ever load the newest, so old
    snapshots are retention, not data). Returns the number pruned."""
    gens = generation_dirs(table_path)
    to_drop = gens[:-keep_latest] if keep_latest > 0 else gens
    for g in to_drop:
        shutil.rmtree(g, ignore_errors=True)
    return len(to_drop)


def state_dir_for_input(sf_dir: str, file_name: str, state_name: str) -> str:
    """Deterministic state directory for a registered (spark, sf_dir)
    query that consumes maintained generations: keyed by a fingerprint of
    the input parquet (realpath + size + mtime, per file for a
    directory), so a REGENERATED input gets a fresh state dir rather
    than stale state. Production jobs pass explicit state paths; this
    exists so stateless query signatures can still exercise the
    maintained read path.

    Root is `$JANET_SPARK_STATE_DIR` when set (production: a durable
    path — the world-shared OS temp dir is subject to periodic cleanup
    that would silently discard the maintained table between runs and is
    writable by every local user); the tempdir default stays for tests
    and sandboxes. Concurrent-session commit races on a shared state dir
    are handled at the commit layer (`commit.write_generation` stages
    under a per-process unique name)."""
    p = os.path.join(sf_dir, file_name)
    st = os.stat(p)
    parts = [os.path.realpath(p), str(st.st_size), str(st.st_mtime_ns)]
    if os.path.isdir(p):
        for name in sorted(os.listdir(p)):
            s = os.stat(os.path.join(p, name))
            parts += [name, str(s.st_size), str(s.st_mtime_ns)]
    fp = hashlib.md5(":".join(parts).encode()).hexdigest()[:16]
    root = os.environ.get("JANET_SPARK_STATE_DIR") or os.path.join(
        tempfile.gettempdir(), "janet_spark_state"
    )
    return os.path.join(root, f"{state_name}_{fp}")
