"""No library code that only tests and tools reach.

Every top-level ``def``/``class`` in ``go_jsonschema_spark/`` must be
reached, transitively through def and class bodies, from a root: the
driver contract ``__spark_entry__.py``, a ``jobs/*.py`` script, or the
library's own module-level code.  ``tests/``, ``tools/``, ``perfbench/``
and ``bench*.py`` are not roots — a function only they call is an engine
no user can reach.  A use is a loaded name or an attribute access;
imports, ``__all__`` strings and docstrings are not uses.  Resolution is
by name, so a def shares reachability with any same-named def — the
scan can miss dead code, never flag live code.

``ALLOWED`` holds the few public functions the docs promise without a
query or job calling them; each cites the doc line that names it, and
counts as a root.  Pure static scan — no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "go_jsonschema_spark"

ALLOWED = {
    "validate_instance": "README.md:97",
    "spec_diff": "README.md:66",
    "validate_spec_against_metaschema": "COVERAGE.md:33",
    "register_remote_refs": "COVERAGE.md:36",
    "set_unicode_class_routing": "COVERAGE.md:269",
    "ntok_baseline": "FIXTURES.md:40",
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _uses(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _scan():
    """``(defs, reached)``: every top-level def as
    ``name -> [(path, node)]``, and the names the roots reach."""
    defs: dict[str, list[tuple[Path, ast.AST]]] = {}
    reached = set(ALLOWED)
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(node, _DEF):
                defs.setdefault(node.name, []).append((path, node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                # module-level code is a root; ``__all__`` holds strings
                # only, so it contributes no use
                reached |= _uses(node)
    for path in [ROOT / "__spark_entry__.py", *(ROOT / "jobs").glob("*.py")]:
        reached |= _uses(ast.parse(path.read_text(encoding="utf-8")))
    todo = [n for n in reached if n in defs]
    while todo:
        for _, node in defs[todo.pop()]:
            new = {u for u in _uses(node) if u not in reached}
            reached |= new
            todo += [u for u in new if u in defs]
    return defs, reached


def test_every_library_def_is_reached():
    defs, reached = _scan()
    unreached = sorted(
        f"{path.relative_to(ROOT)}::{name}"
        for name, sites in defs.items() if name not in reached
        for path, _ in sites)
    assert not unreached, (
        f"{len(unreached)} library defs reached only by tests/tools "
        f"(delete them, or wire them into a query or job): {unreached}")


def test_allowlist_cites_its_doc_line():
    assert len(ALLOWED) <= 6
    for name, cite in ALLOWED.items():
        doc, line = cite.split(":")
        text = (ROOT / doc).read_text(encoding="utf-8").splitlines()
        assert name in text[int(line) - 1], (name, cite)
