"""One Python boundary on the validation path.

The typed compiler, the engine and the column functions cross into
Python only where Catalyst lacks the semantic, and always through the
same closure-compiled judge (``compile._arrow_judge``).  This scan pins
that: across ``compile.py``, ``engine.py`` and ``functions/*.py`` there
is exactly one ``pandas_udf`` construction, and it sits in that factory.
A use is a call of a name or attribute called ``pandas_udf``, decorator
or not.  Pure static scan — no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "go_jsonschema_spark"
SCOPE = [PKG / "compile.py", PKG / "engine.py",
         *sorted((PKG / "functions").glob("*.py"))]


def _pandas_udf_sites() -> list[str]:
    """``path::enclosing top-level def`` per ``pandas_udf(...)`` call."""
    sites = []
    for path in SCOPE:
        for top in ast.parse(path.read_text(encoding="utf-8")).body:
            for n in ast.walk(top):
                if isinstance(n, ast.Call) and (
                        getattr(n.func, "attr", None) == "pandas_udf"
                        or getattr(n.func, "id", None) == "pandas_udf"):
                    name = getattr(top, "name", "<module>")
                    sites.append(f"{path.relative_to(PKG)}::{name}")
    return sites


def test_one_pandas_udf_on_the_validation_path():
    assert _pandas_udf_sites() == ["compile.py::_arrow_judge"]
