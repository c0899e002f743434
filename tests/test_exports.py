"""No library code, and no library option, that only tests and tools
reach.

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
counts as a root.

The same holds for options: every library parameter whose default is
``True``, ``False`` or ``None`` must be set to its other value (any
value but ``None``, for a ``None`` default) by some call in a root file
(``go_jsonschema_spark/``, ``__spark_entry__.py``, ``jobs/*.py``) and
left at its default by another — else one of its two code paths is an
engine only tests reach.  Callees resolve by name; a value passed
positionally counts, a constant ``None`` counts as "left unset", and a
non-constant value (or a ``*``/``**`` spread) counts as both.  The
parameters of an ``ALLOWED`` function are exempt: it has no product
caller, so no product call can select them.  ``ALLOWED_OPTIONS`` lists
the few the docs promise, each citing the doc line that names it.
String and numeric defaults are not scanned on purpose: a column-name
default is a data binding, and a number is a tuning value or an input
guard (``max_rows``, ``max_queries``), not a path switch.  Pure static
scan — no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "go_jsonschema_spark"

ALLOWED = {
    "validate_instance": "README.md:98",
    "spec_diff": "README.md:66",
    "validate_spec_against_metaschema": "COVERAGE.md:33",
    "register_remote_refs": "COVERAGE.md:36",
    "deref_expand": "COVERAGE.md:81",
    "ntok_baseline": "FIXTURES.md:40",
}

ALLOWED_OPTIONS = {
    "split.include_reasons": "README.md:37",
    "split.quarantine_fk": "COVERAGE.md:110",
    # retires with the hash-compact path (ROADMAP item 6)
    "uniqueness_violations.hash_compact": "COVERAGE.md:103",
    # tests read which engine ran; folds into the run record (ROADMAP 3)
    "duplicate_clusters.stats_out": "COVERAGE.md:145",
    # the only way a declared drift check runs
    "metrics.baselines": "COVERAGE.md:105",
}

_SET = "<set>"  # the other value of a ``None`` default: any non-None

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_ENTRY_FILES = [ROOT / "__spark_entry__.py",
                *sorted((ROOT / "jobs").glob("*.py"))]


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
    for path in _ENTRY_FILES:
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


def _other(default):
    return _SET if default is None else not default


def _options():
    """Every library parameter with a ``True``/``False``/``None`` default, as
    ``"function.parameter" -> (default, positional index or None,
    "path:line")``; the index skips a method's ``self``/``cls``."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            bound = int(bool(pos) and pos[0].arg in ("self", "cls"))
            params = [
                (arg, d, i - bound) for i, (arg, d) in enumerate(
                    zip(pos[len(pos) - len(a.defaults):], a.defaults),
                    start=len(pos) - len(a.defaults))
            ] + [(arg, d, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults)]
            for arg, d, idx in params:
                if isinstance(d, ast.Constant) and (
                        d.value is None or isinstance(d.value, bool)):
                    out[f"{fn.name}.{arg.arg}"] = (
                        d.value, idx,
                        f"{path.relative_to(ROOT)}:{fn.lineno}")
    return out


def _root_calls():
    """``callee name -> [ast.Call]`` over every root file."""
    calls: dict[str, list[ast.Call]] = {}
    for path in [*sorted(PKG.rglob("*.py")), *_ENTRY_FILES]:
        for n in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(n, ast.Call):
                f = n.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name:
                    calls.setdefault(name, []).append(n)
    return calls


def _values(call: ast.Call, param: str, idx: int | None, default):
    """Which of ``default`` / ``_other(default)`` this call can pass."""
    both = {default, _other(default)}

    def value(v: ast.expr) -> set:
        if not isinstance(v, ast.Constant):
            return both
        return {default if v.value == default else _other(default)}

    for kw in call.keywords:
        if kw.arg == param:
            return value(kw.value)
    if idx is not None:
        for i, v in enumerate(call.args[:idx + 1]):
            if isinstance(v, ast.Starred):
                return both
            if i == idx:
                return value(v)
    if any(kw.arg is None for kw in call.keywords):  # **spread
        return both
    return {default}


def test_every_library_option_takes_both_values():
    calls = _root_calls()
    gaps = []
    for key, (default, idx, where) in sorted(_options().items()):
        if key in ALLOWED_OPTIONS:
            continue
        fn, param = key.split(".")
        if fn in ALLOWED:
            continue
        seen = set()
        for call in calls.get(fn, []):
            seen |= _values(call, param, idx, default)
        for value in (default, _other(default)):
            if value not in seen:
                gaps.append(f"{key}={value} ({where})")
    assert not gaps, (
        f"{len(gaps)} option values no query, job or library call "
        f"selects (delete the option and the path only that value "
        f"reaches, or select it from a query or job): {gaps}")


def test_option_allowlist_cites_its_doc_line():
    options = _options()
    assert len(ALLOWED_OPTIONS) <= 5
    for key, cite in ALLOWED_OPTIONS.items():
        assert key in options, f"stale allowlist entry {key}"
        doc, line = cite.split(":")
        text = (ROOT / doc).read_text(encoding="utf-8").splitlines()
        assert key.split(".")[1] in text[int(line) - 1], (key, cite)
