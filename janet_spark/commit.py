"""How data is published on disk: the one commit protocol every writer uses
(the reference's backup + temp-then-rename, ``apps/legacy/rename.ts:6-34``).

A writer stages the new unit (table, partition or generation) under
``staging_path``, then ``publish(staging, dst)`` renames an existing
``dst`` aside to ``<parent>/_aside/<name>``, renames the staging dir in and
deletes the aside copy. ``recover(parent)``, run by every ``publish`` and
by writers before they read what they replace, finishes a swap a crash cut
short. After a crash at any step and a ``recover``, every unit holds its
old or its new content, and a re-run converges (``tests/test_commit.py``).

Spark's file index skips a ``_`` entry, and everything below it, only when
its name has no ``=``: so ``_aside`` and staging tags never contain ``=``,
and the aside copy of ``day=1`` is invisible to a read of the parent.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

ASIDE = "_aside"
STAGING = "_staging_"
# a staging dir idle this long belongs to a dead writer (age gate for
# multi-writer dirs, where a live committer's staging must survive a sweep)
STALE_STAGING_S = 86400


def aside_path(dst: str) -> str:
    """Where ``publish`` keeps the old copy of ``dst`` during a swap."""
    parent, name = os.path.split(os.path.normpath(dst))
    return os.path.join(parent, ASIDE, name)


def staging_path(parent: str, tag: str) -> str:
    """The staging dir ``<parent>/_staging_<tag>``."""
    if "=" in tag:
        raise ValueError(f"staging tag {tag!r} must not contain '='")
    return os.path.join(parent, STAGING + tag)


def _drop_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass  # absent, or a concurrent swap still holds an entry


def recover(parent: str) -> None:
    """Finish every swap under ``parent`` that a crash interrupted."""
    adir = os.path.join(parent, ASIDE)
    if not os.path.isdir(adir):
        return
    for name in os.listdir(adir):
        aside, dst = os.path.join(adir, name), os.path.join(parent, name)
        if os.path.exists(dst):
            shutil.rmtree(aside, ignore_errors=True)
        else:
            os.rename(aside, dst)
    _drop_if_empty(adir)


def publish(staging: str, dst: str) -> None:
    """Replace ``dst`` (present or not) with the dir ``staging``.

    If the rename-in fails and ``dst`` is a directory by then, another
    committer published the same unit first (ENOTEMPTY on POSIX): its copy
    is complete, so ours is dropped rather than raised."""
    recover(os.path.dirname(os.path.normpath(dst)))
    aside = aside_path(dst)
    replacing = os.path.exists(dst)
    if replacing:
        os.makedirs(os.path.dirname(aside), exist_ok=True)
        os.rename(dst, aside)
    try:
        os.rename(staging, dst)
    except OSError:
        if not os.path.isdir(dst):
            raise
        shutil.rmtree(staging, ignore_errors=True)
    if replacing:
        shutil.rmtree(aside, ignore_errors=True)
        _drop_if_empty(os.path.dirname(aside))


def sweep_staging(parent: str, keep: str | None = None) -> None:
    """Remove dead ``_staging_*`` dirs under ``parent``.

    A single writer passes its current tag as ``keep``: every other
    staging dir is a crashed run's remnant and goes now. Dirs with
    concurrent writers pass nothing: only staging idle for more than a
    day goes, so a live committer's staging is never pulled out from
    under it."""
    if not os.path.isdir(parent):
        return
    now = time.time()
    for name in os.listdir(parent):
        path = os.path.join(parent, name)
        if not name.startswith(STAGING) or (keep is not None and name == STAGING + keep):
            continue
        try:
            if keep is None and now - os.path.getmtime(path) <= STALE_STAGING_S:
                continue
        except OSError:
            continue  # a concurrent sweep removed it
        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def staged(parent: str, tag: str):
    """A staging dir private to this call, for a writer that may share
    ``parent`` with others. Day-old staging is swept on entry, and this
    call's staging is removed on exit whether or not it was published."""
    sweep_staging(parent)
    path = staging_path(parent, f"{tag}_{os.getpid()}_{uuid.uuid4().hex[:8]}")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def generation_dirs(table: str) -> list[str]:
    """Every ``gen=<id>`` dir of a generation table, oldest first: run ids
    sort by creation (``checkpoint.new_run_id``), 'bootstrap' first."""
    if not os.path.isdir(table):
        return []
    return sorted(
        os.path.join(table, name) for name in os.listdir(table) if name.startswith("gen=")
    )


def live_generation_dirs(table: str) -> list[str]:
    """The generations a reader unions: all but those a compacted
    generation absorbed (named in its _covered.json). A covered dir still
    on disk is a crash leftover whose rows would otherwise double."""
    gens = generation_dirs(table)
    covered: set[str] = set()
    for g in gens:
        cj = os.path.join(g, "_covered.json")
        if os.path.exists(cj):
            with open(cj) as f:
                covered.update(json.load(f))
    return [g for g in gens if os.path.basename(g) not in covered]


def write_generation(df, table: str, gen_id: str) -> str:
    """Publish ``df`` as the generation ``<table>/gen=<gen_id>``.
    Idempotent: a re-commit of the same gen_id replaces it whole. Two
    sessions racing the same gen_id each stage privately; the first
    publish wins and the loser drops its copy. Returns the gen dir."""
    final = os.path.join(table, f"gen={gen_id}")
    os.makedirs(table, exist_ok=True)
    with staged(table, gen_id) as staging:
        df.write.mode("overwrite").parquet(staging)
        publish(staging, final)
    return final
