"""Every exported name has a user: each entry of a ``go_jsonschema_spark``
module's ``__all__`` must be referenced by some ``.py`` file of the repo
on a line other than its own ``def``/``class`` line and the ``__all__``
declaration.  An export nothing calls, tests or re-exports is dead public
surface.  Pure static scan — no Spark."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "go_jsonschema_spark"
_SKIP_DIRS = {".cache", ".git", "spark-warehouse", "__pycache__"}


def _py_files():
    for p in sorted(ROOT.rglob("*.py")):
        if not _SKIP_DIRS.intersection(p.relative_to(ROOT).parts):
            yield p


def _exports(path: Path, tree: ast.Module):
    """``(name, own_lines)``: the names in ``__all__`` plus the lines that
    declare them (the ``__all__`` statement and the name's def/class)."""
    all_lines: set[int] = set()
    names: list[str] = []
    for node in tree.body:
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__"
                        for t in node.targets)):
            names += ast.literal_eval(node.value)
            all_lines.update(range(node.lineno, node.end_lineno + 1))
    defs = {n.name: n.lineno for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))}
    for name in names:
        yield name, all_lines | ({defs[name]} if name in defs else set())


def test_every_exported_name_is_referenced():
    sources = {p: p.read_text(encoding="utf-8").splitlines()
               for p in _py_files()}
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        for name, own in _exports(path, ast.parse("\n".join(sources[path]))):
            word = re.compile(rf"\b{re.escape(name)}\b")
            used = any(
                word.search(line)
                for p, lines in sources.items()
                for i, line in enumerate(lines, 1)
                if not (p == path and i in own)
            )
            if not used:
                unused.append(f"{path.relative_to(ROOT)}::{name}")
    assert not unused, f"exported but never referenced: {unused}"
