"""Traced product reach: which library defs real runs enter.

The static gates of tests/test_exports.py resolve names, so a method
counts as reached when any same-named attribute is used anywhere.  This
tool records what product runs really execute in ``go_jsonschema_spark/``
and lists what they never entered.

Usage:
  python tools/reach.py trace OUT SCRIPT [ARGS ...]
      run SCRIPT with ARGS under a tracer limited to go_jsonschema_spark/
      and append to OUT one "path:first_line qualname" per entered code
      object and one "path:line" per executed line (append, so several
      runs share one file)
  python tools/reach.py report TRACE [PATH:LO-HI ...]
      print every def and method no traced run entered; with PATH:LO-HI
      also print that line range, marking with "!!" each line that never
      ran (comments, docstrings and continuation lines never show as run)

Paths are relative to the repository root.  Code that runs inside Python
workers (UDF, ``mapInPandas`` and ``applyInPandas`` bodies) is invisible
to this driver-side tracer.  The line tracer slows the driver several
times over; Spark work itself is not traced.
"""

from __future__ import annotations

import ast
import os
import pathlib
import runpy
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "go_jsonschema_spark")


def trace(out: str, script: str, args: list[str]) -> None:
    seen: set[str] = set()

    def lines(frame, event, arg):
        if event == "line":
            path = os.path.relpath(frame.f_code.co_filename, ROOT)
            seen.add(f"{path}:{frame.f_lineno}")
        return lines

    def calls(frame, event, arg):
        co = frame.f_code
        if not co.co_filename.startswith(PKG + os.sep):
            return None
        path = os.path.relpath(co.co_filename, ROOT)
        seen.add(f"{path}:{co.co_firstlineno} {co.co_qualname}")
        return lines

    sys.argv = [script, *args]
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(script))]
    threading.settrace(calls)
    sys.settrace(calls)
    try:
        runpy.run_path(script, run_name="__main__")
    except SystemExit:
        pass
    finally:
        sys.settrace(None)
        with open(out, "a") as f:
            f.writelines(s + "\n" for s in sorted(seen))


def report(trace_file: str, spans: list[str]) -> None:
    recs = [r.split() for r in open(trace_file) if r.strip()]
    entered = {r[0] for r in recs if len(r) > 1}
    ran = {r[0] for r in recs if len(r) == 1}
    missing = []

    def walk(path: str, body: list, prefix: str) -> None:
        for n in body:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                first = min([n.lineno] + [d.lineno for d in n.decorator_list])
                if not {f"{path}:{n.lineno}", f"{path}:{first}"} & entered:
                    missing.append(f"{path}:{n.lineno} {prefix}{n.name}")
                walk(path, n.body, f"{prefix}{n.name}.<locals>.")
            elif isinstance(n, ast.ClassDef):
                walk(path, n.body, f"{prefix}{n.name}.")

    for p in sorted(pathlib.Path(PKG).rglob("*.py")):
        walk(os.path.relpath(p, ROOT), ast.parse(p.read_text()).body, "")
    print("\n".join(missing))
    print(f"{len(missing)} defs never entered", file=sys.stderr)
    for span in spans:
        path, rng = span.rsplit(":", 1)
        lo, hi = map(int, rng.split("-"))
        src = pathlib.Path(ROOT, path).read_text().splitlines()
        for i in range(lo, hi + 1):
            mark = "   " if f"{path}:{i}" in ran else "!! "
            print(f"{mark}{i:5d} {src[i - 1]}")


if __name__ == "__main__":
    mode, *rest = sys.argv[1:] or ["help"]
    if mode == "trace" and len(rest) >= 2:
        trace(rest[0], rest[1], rest[2:])
    elif mode == "report" and rest:
        report(rest[0], rest[1:])
    else:
        sys.exit(__doc__)
