"""Only janet_spark/commit.py may move directories into place, only it
and janet_spark/maintained.py may touch generation dirs, and no module
reaches into dedup_incremental's private names. Walks the AST of every
engine module; no Spark session needed."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "janet_spark"
MOVES = {("os", "rename"), ("os", "replace"), ("shutil", "move")}
GENERATIONS = {"generation_dirs", "live_generation_dirs", "write_generation"}


def _violations(
    source: str, is_commit: bool = False, is_maintained: bool = False
) -> list[str]:
    found = []
    owns_generations = is_commit or is_maintained
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Attribute):
            if isinstance(node.value, ast.Name) and (node.value.id, node.attr) in MOVES:
                if not is_commit:
                    found.append(f"line {node.lineno}: {node.value.id}.{node.attr}")
            elif node.attr in GENERATIONS and not owns_generations:
                found.append(f"line {node.lineno}: .{node.attr}")
        elif isinstance(node, ast.ImportFrom) and node.module:
            for alias in node.names:
                if (node.module, alias.name) in MOVES and not is_commit:
                    found.append(f"line {node.lineno}: imports {alias.name}")
                if alias.name in GENERATIONS and not owns_generations:
                    found.append(f"line {node.lineno}: imports {alias.name}")
                if node.module.endswith("dedup_incremental") and alias.name.startswith("_"):
                    found.append(f"line {node.lineno}: imports private {alias.name}")
    return found


def test_moves_only_through_commit():
    found = {
        str(path.relative_to(PKG)): v
        for path in sorted(PKG.rglob("*.py"))
        if (
            v := _violations(
                path.read_text(),
                is_commit=path.name == "commit.py",
                is_maintained=path.name == "maintained.py",
            )
        )
    }
    assert found == {}


def test_check_flags_each_forbidden_form():
    bad = (
        "import os, shutil\n"
        "from os import replace\n"
        "from janet_spark.dedup_incremental import _band_df\n"
        "os.rename('a', 'b')\n"
        "shutil.move('a', 'b')\n"
        "from janet_spark.commit import live_generation_dirs\n"
        "commit.generation_dirs('t')\n"
        "janet_spark.commit.write_generation(df, 't', 'g')\n"
    )
    moves = ["line 2: imports replace", "line 4: os.rename", "line 5: shutil.move"]
    private = ["line 3: imports private _band_df"]
    generations = [
        "line 6: imports live_generation_dirs",
        "line 7: .generation_dirs",
        "line 8: .write_generation",
    ]
    assert sorted(_violations(bad)) == sorted(moves + private + generations)
    assert _violations(bad, is_commit=True) == private
    assert sorted(_violations(bad, is_maintained=True)) == sorted(moves + private)
