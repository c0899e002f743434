"""String-format predicates (the 19 formats of the reference's
``validateFormat``, /root/reference/validators.go:656-857).

Strategy per SURVEY.md §2.3: formats with a clean regex expression stay
JVM-side (``rlike``); the rest are judged as ``{"format": f}`` by the one
Arrow-batched judge (compile._arrow_judge), whose closure compiler runs
the interpreter's checkers (``interp._FORMAT_CHECKS``).  Every such
constraint in a projection shares one Arrow evaluation node, so the
Python worker is hit once per batch.  ``date`` keeps its ``rlike`` as a
cheap pre-filter before the calendar-exact Python check.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from go_jsonschema_spark.interp import FORMAT_REGEX

# JVM-side formats: the interpreter's single-regex formats, which read the
# same in Java regex (the reference's precompiled patterns,
# validators.go:650-654), plus a pre-filter for ``date``.
_NATIVE_REGEX = {
    **FORMAT_REGEX,
    "date": r"^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])$",
}

_PYTHON_FORMATS = frozenset(
    {
        "date-time",
        "time",
        "email",
        "idn-email",
        "idn-hostname",
        "ipv4",
        "ipv6",
        "uri",
        "iri",
        "uri-reference",
        "iri-reference",
        "uri-template",
        "regex",
        "date",  # calendar-exact (leap years) — regex above is the fast pre-filter
    }
)


def format_predicate(fmt: str, col: Column) -> Column:
    """Boolean predicate: does string ``col`` satisfy format ``fmt``?

    Unknown formats validate as true, matching the reference's default case
    (validators.go:853-856)."""
    if fmt in _NATIVE_REGEX and fmt not in _PYTHON_FORMATS:
        return col.rlike(_NATIVE_REGEX[fmt])
    if fmt in _PYTHON_FORMATS:
        from go_jsonschema_spark.compile import _arrow_judge

        pred = _arrow_judge({"format": fmt}, typed=True)(col)
        if fmt in _NATIVE_REGEX:
            # cheap JVM regex pre-filter AND exact Python check
            return col.rlike(_NATIVE_REGEX[fmt]) & pred
        return pred
    return F.lit(True)
