"""Large constant arrays as ONE parsed SQL expression.

``F.lit(list)`` expands to ``array(*[lit(v) for v in list])`` inside
pyspark — one py4j round trip PER ELEMENT (a 2,400-window probe literal
cost ~1.2 s of pure driver time per query build, measured r7, guide
§7.3 "planning very large expression trees").  Rendering the same
literal as one SQL ``array(...)`` string crosses the bridge once; the
parsed expression tree and every element value are identical, so plans
and results cannot change.

Only exact-rendering cases take the fast path; anything else falls back
to the element-wise builder, keeping these helpers drop-in safe.  This
is the one module that renders parsed literals (the ANN centroid and
hyperplane matrices use :func:`lit_doubles`/:func:`lit_matrix`).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, functions as F

__all__ = ["lit_doubles", "lit_matrix", "lit_strings"]

# a quote or backslash would need an escape, and escapes are read
# differently under spark.sql.parser.escapedStringLiterals=true; control
# characters could interact with the lexer; the SQL parser substitutes
# ${...} references (spark.sql.variable.substitute, on by default)
_UNSAFE = re.compile(r"['\\$\x00-\x1f\x7f]")


def lit_doubles(vals: list[float]) -> Column:
    """A flat ``array<double>`` literal as ONE parsed SQL expression.
    ``F.lit(x)`` per element costs a py4j round trip each (a 16×64
    matrix ≈ 1000 round trips ≈ 0.4 s of pure driver time per query,
    measured r7); ``repr(float)`` is the shortest round-trip form, so
    Java's parser returns the bit-identical double.  Non-finite values
    fall back to the element-wise path (no SQL literal syntax)."""
    if all(math.isfinite(v) for v in vals):
        return F.expr(
            "array(" + ",".join(repr(v) + "D" for v in vals) + ")")
    return F.array(*[F.lit(v) for v in vals])


def lit_matrix(rows: list[list[float]]) -> Column:
    """Nested ``array<array<double>>`` literal, same contract as
    :func:`lit_doubles`."""
    if all(math.isfinite(v) for r in rows for v in r):
        return F.expr("array(" + ",".join(
            "array(" + ",".join(repr(v) + "D" for v in r) + ")"
            for r in rows) + ")")
    return F.array(*[F.array(*[F.lit(v) for v in r]) for r in rows])


def lit_strings(vals: list[str]) -> Column:
    """``array<string>`` literal in one parsed expression.  The parsed
    path takes only strings the parser reads verbatim under any session
    conf (no quote, backslash, ``$`` or control character); anything
    else (and non-strings) falls back to the element-wise path."""
    if not all(isinstance(v, str) and not _UNSAFE.search(v) for v in vals):
        return F.lit(list(vals)).cast("array<string>")
    if not vals:
        return F.lit([]).cast("array<string>")
    return F.expr("array(" + ",".join(f"'{v}'" for v in vals) + ")")
