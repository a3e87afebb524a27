"""Crash behaviour of the Spark-side publishers that go through
janet_spark/commit.py: `compaction.compact_dir` and
`sources.write_table`."""

from __future__ import annotations

import os
import time

import pytest

from janet_spark import commit


def _crash_renames_from(monkeypatch, k: int) -> None:
    """The k-th `os.rename` and every later one raise (the process died)."""
    real, calls = os.rename, [0]

    def rename(src, dst):
        calls[0] += 1
        if calls[0] >= k:
            raise OSError("injected crash")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", rename)


@pytest.mark.parametrize("crash_at", [1, 2])
def test_compaction_crash_keeps_parent_table_readable(spark, tmp_path, monkeypatch, crash_at):
    """A crash while compacting the `day=1` leaf must not leak staging or
    backup dirs into partition discovery of the parent: a `_` name that
    contains `=` is NOT skipped by Spark (`_compact_tmp_day=1` failed the
    parent read with CONFLICTING_PARTITION_COLUMN_NAMES)."""
    from janet_spark.compaction import compact_dir

    root = str(tmp_path / "events")
    spark.range(60).selectExpr("id", "cast(id % 2 AS int) AS day").repartition(
        6
    ).write.partitionBy("day").parquet(root)

    def read_all():
        df = spark.read.parquet(root)
        assert dict(df.dtypes)["day"] == "int"
        return sorted(r.id for r in df.collect())

    _crash_renames_from(monkeypatch, crash_at)
    with pytest.raises(OSError, match="injected"):
        compact_dir(spark, os.path.join(root, "day=1"), target_file_mb=1)
    monkeypatch.undo()
    if crash_at == 1:  # nothing moved yet: the read needs no recovery
        assert read_all() == list(range(60))
    commit.recover(root)
    assert read_all() == list(range(60))
    # the re-run converges: compacted, every row once, no debris
    assert compact_dir(spark, os.path.join(root, "day=1"), target_file_mb=1)["compacted"]
    assert read_all() == list(range(60))
    assert sorted(e for e in os.listdir(root) if not e.startswith(".")) == [
        "_SUCCESS",
        "day=0",
        "day=1",
    ]


def test_write_table_partition_crash_leaves_old_or_new(spark, tmp_path, monkeypatch):
    """A rename failure at any step of a partitioned publish leaves every
    partition readable as fully old or fully new after `recover`, and a
    re-run converges."""
    from janet_spark.sources import write_table

    schema = "p int, v string"
    old = {0: "a", 1: "b", 2: "c"}
    new = {1: "B", 2: "C", 3: "D"}
    new_df = spark.createDataFrame(sorted(new.items()), schema)

    def read(path):
        return {r.p: r.v for r in spark.read.parquet(path).collect()}

    # partitions 1 and 2 are replaced (rename aside + rename in), 3 is new
    for k in range(1, 6):
        path = str(tmp_path / f"t{k}")
        write_table(spark.createDataFrame(sorted(old.items()), schema), path, ("p",))
        _crash_renames_from(monkeypatch, k)
        with pytest.raises(OSError, match="injected"):
            write_table(new_df, path, ("p",))
        monkeypatch.undo()

        commit.recover(path)
        got = read(path)
        for p in old.keys() | new.keys():
            assert got.get(p) in (old.get(p), new.get(p)), (k, p, got)

        write_table(new_df, path, ("p",))
        assert read(path) == {**old, **new}
        assert not os.path.exists(os.path.join(path, commit.ASIDE))


def test_write_table_sweeps_day_old_staging(spark, tmp_path):
    """A crashed writer's staging beside the table is swept once it is a
    day old; a fresh one (possibly a live writer's) stays."""
    from janet_spark.sources import write_table

    dead = commit.staging_path(str(tmp_path), "table_dead")
    live = commit.staging_path(str(tmp_path), "table_live")
    os.makedirs(dead)
    os.makedirs(live)
    stale = time.time() - commit.STALE_STAGING_S - 60
    os.utime(dead, (stale, stale))

    write_table(spark.range(3).toDF("id"), str(tmp_path / "tbl"))
    assert not os.path.exists(dead)
    assert os.path.isdir(live)
