"""Only janet_spark/commit.py may move directories into place, and no
module reaches into dedup_incremental's private names. Walks the AST of
every engine module; no Spark session needed."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "janet_spark"
MOVES = {("os", "rename"), ("os", "replace"), ("shutil", "move")}


def _violations(source: str, is_commit: bool = False) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            if (node.value.id, node.attr) in MOVES and not is_commit:
                found.append(f"line {node.lineno}: {node.value.id}.{node.attr}")
        elif isinstance(node, ast.ImportFrom) and node.module:
            for alias in node.names:
                if (node.module, alias.name) in MOVES and not is_commit:
                    found.append(f"line {node.lineno}: imports {alias.name}")
                if node.module.endswith("dedup_incremental") and alias.name.startswith("_"):
                    found.append(f"line {node.lineno}: imports private {alias.name}")
    return found


def test_moves_only_through_commit():
    found = {
        str(path.relative_to(PKG)): v
        for path in sorted(PKG.rglob("*.py"))
        if (v := _violations(path.read_text(), is_commit=path.name == "commit.py"))
    }
    assert found == {}


def test_check_flags_each_forbidden_form():
    bad = (
        "import os, shutil\n"
        "from os import replace\n"
        "from janet_spark.dedup_incremental import _band_df\n"
        "os.rename('a', 'b')\n"
        "shutil.move('a', 'b')\n"
    )
    assert len(_violations(bad)) == 4
    assert _violations(bad, is_commit=True) == ["line 3: imports private _band_df"]
