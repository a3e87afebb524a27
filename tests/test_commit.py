"""Crash matrix for the commit protocol (janet_spark/commit.py), on plain
directories — no Spark session.

Each shape is run once cleanly to count its `os.rename` and
`shutil.rmtree` calls, then once per k with the k-th call raising and
every later call raising too (the process is dead: no cleanup runs).
After the crash and `recover`, every unit must hold exactly its old or
its new content; a re-run must converge to the new content and leave no
`_aside` entries, and the staging sweep must leave no `_staging_*` dirs.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest

from janet_spark import commit


class Crash(Exception):
    """The injected process death."""


class Injector:
    """Counts rename/rmtree calls; from call `crash_at` on, every call raises."""

    def __init__(self, monkeypatch, crash_at: int | None = None):
        self.calls = 0
        self.crash_at = crash_at
        monkeypatch.setattr(os, "rename", self._wrap(os.rename))
        monkeypatch.setattr(shutil, "rmtree", self._wrap(shutil.rmtree))

    def _wrap(self, fn):
        def call(*args, **kwargs):
            self.calls += 1
            if self.crash_at is not None and self.calls >= self.crash_at:
                raise Crash(f"crash at call {self.calls}")
            return fn(*args, **kwargs)

        return call


def make_unit(path: str, content: str) -> None:
    os.makedirs(path)
    with open(os.path.join(path, "part-0.parquet"), "w") as f:
        f.write(content)


def read_unit(path: str) -> str | None:
    """A unit's content, or None when absent. Any other file in the dir
    (a mixed unit) fails the read."""
    if not os.path.isdir(path):
        return None
    assert os.listdir(path) == ["part-0.parquet"], os.listdir(path)
    with open(os.path.join(path, "part-0.parquet")) as f:
        return f.read()


class FakeFrame:
    """Stands in for a DataFrame: `df.write.mode(..).parquet(path)`."""

    def __init__(self, content: str):
        self.content = content

    @property
    def write(self):
        return self

    def mode(self, _mode):
        return self

    def parquet(self, path):
        make_unit(path, self.content)


# A shape: (old units, publish action, new units). Units map a path
# relative to the root to its content; the action publishes the new ones.


def _publish_units(root: str, units: dict[str, str]) -> None:
    for rel, content in units.items():
        dst = os.path.join(root, rel)
        parent = os.path.dirname(dst)
        os.makedirs(parent, exist_ok=True)
        with commit.staged(parent, "test") as staging:
            make_unit(staging, content)
            commit.publish(staging, dst)


def _write_generations(root: str, units: dict[str, str]) -> None:
    for rel, content in units.items():
        table, gen = os.path.split(os.path.join(root, rel))
        commit.write_generation(FakeFrame(content), table, gen.removeprefix("gen="))


SHAPES = {
    "replace_existing": ({"tbl": "old"}, _publish_units, {"tbl": "new"}),
    "replace_missing": ({}, _publish_units, {"tbl": "new"}),
    "partitions": (
        {"tbl/day=0": "old0", "tbl/day=1": "old1"},
        _publish_units,
        {"tbl/day=1": "new1", "tbl/day=2": "new2"},
    ),
    "generations": (
        {"sig/gen=run-1": "old1"},
        _write_generations,
        {"sig/gen=run-1": "new1", "sig/gen=run-2": "new2"},
    ),
}


def _setup(root: str, old: dict[str, str]) -> None:
    for rel, content in old.items():
        make_unit(os.path.join(root, rel), content)


def _parents(root: str, shape) -> set[str]:
    old, _, new = shape
    return {os.path.dirname(os.path.join(root, rel)) for rel in {**old, **new}}


def _count_calls(tmp_path, monkeypatch, name: str) -> int:
    old, action, new = SHAPES[name]
    root = str(tmp_path / "clean")
    _setup(root, old)
    inj = Injector(monkeypatch)
    action(root, new)
    monkeypatch.undo()
    for rel, content in {**old, **new}.items():
        assert read_unit(os.path.join(root, rel)) == new.get(rel, content)
    return inj.calls


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_crash_at_every_step_leaves_old_or_new(tmp_path, monkeypatch, name):
    old, action, new = SHAPES[name]
    n_calls = _count_calls(tmp_path, monkeypatch, name)
    assert n_calls >= 2
    for k in range(1, n_calls + 1):
        root = str(tmp_path / f"k{k}")
        _setup(root, old)
        Injector(monkeypatch, crash_at=k)
        with pytest.raises(Crash):
            action(root, new)
        monkeypatch.undo()

        parents = _parents(root, SHAPES[name])
        for parent in parents:
            commit.recover(parent)
        for rel in {**old, **new}:
            got = read_unit(os.path.join(root, rel))
            assert got in (old.get(rel), new.get(rel)), (k, rel, got)

        # the re-run converges and leaves no aside entries behind
        action(root, new)
        for rel, content in {**old, **new}.items():
            assert read_unit(os.path.join(root, rel)) == new.get(rel, content)
        for parent in parents:
            assert not os.path.exists(os.path.join(parent, commit.ASIDE)), k

        # the crash's own staging is left for the sweep: day-old staging
        # goes under the age gate, and a single writer removes the rest
        stale = time.time() - commit.STALE_STAGING_S - 60
        for parent in parents:
            for entry in os.listdir(parent):
                if entry.startswith(commit.STAGING):
                    os.utime(os.path.join(parent, entry), (stale, stale))
            commit.sweep_staging(parent)
            assert not [e for e in os.listdir(parent) if e.startswith(commit.STAGING)]


def test_sweep_staging_age_gate_and_keep(tmp_path):
    parent = str(tmp_path)
    for tag in ("old", "fresh", "mine"):
        make_unit(commit.staging_path(parent, tag), tag)
    stale = time.time() - commit.STALE_STAGING_S - 60
    os.utime(commit.staging_path(parent, "old"), (stale, stale))

    commit.sweep_staging(parent)
    assert sorted(os.listdir(parent)) == ["_staging_fresh", "_staging_mine"]
    commit.sweep_staging(parent, keep="mine")
    assert os.listdir(parent) == ["_staging_mine"]


def test_names_stay_outside_partition_discovery(tmp_path):
    """Spark skips a `_` entry only when it has no `=`: the aside of a
    partition dir nests under `_aside`, and staging tags refuse `=`."""
    assert commit.aside_path(str(tmp_path / "t" / "day=1")) == str(
        tmp_path / "t" / "_aside" / "day=1"
    )
    with pytest.raises(ValueError):
        commit.staging_path(str(tmp_path), "day=1")
