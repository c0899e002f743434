"""ECMA-262 regex routing for the typed compiler.

JSON Schema ``pattern`` is ECMA-262 dialect; Spark's ``rlike`` is
``java.util.regex``.  The dialects agree on the overwhelmingly common
subset, so the typed compiler keeps ``rlike`` (JVM-side, codegen) as the
default — but some ECMA patterns are Java *compile errors* (named groups
with underscores, Annex-B literal braces, ...).  The reference translates a
known-construct list (/root/reference/helpers.go:69-86); we detect the gap
precisely instead: test-compile the pattern with ``java.util.regex`` via
the active session's JVM, and only patterns Java rejects are judged as
``{"pattern": p}`` by the one Arrow-batched judge (compile._arrow_judge),
whose closure compiler runs the interpreter's ECMA shim
(interp.compile_ecma_regex — ``\\cX`` control escapes + ``(?<name>`` →
``(?P<name>`` translation).  A pattern the shim cannot compile passes.

The routed predicate is a documented slow path: batch evaluation, the
pattern compiled once per Python task — never per row.

Dialect classes (``\\w \\W \\d \\D \\s \\S \\b \\B``) compile in BOTH
dialects but diverge on non-ASCII input: ``java.util.regex`` evaluates
them ASCII-only, while the interpreter's Python ``re`` shim is
Unicode-aware (the reference rewrites them to Unicode classes,
helpers.go:69-86).  Such patterns stay on ``rlike``, so
on the typed and native paths non-ASCII ``\\w``-class classification
follows Java, and in the judge it follows Python — the reference's own
ecmascript-regex skip surface (validate_test.go:261-263).
"""

from __future__ import annotations

from pyspark.sql import Column

__all__ = ["java_regex_ok", "ecma_pattern_predicate"]

_JAVA_OK_CACHE: dict[str, bool] = {}


def java_regex_ok(pattern: str) -> bool:
    """True if ``java.util.regex`` accepts ``pattern`` (so ``rlike`` can run
    it).  Uses the active session's JVM; with no JVM up, falls back to a
    static screen for the constructs Java is known to reject."""
    hit = _JAVA_OK_CACHE.get(pattern)
    if hit is not None:
        return hit
    ok = None
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None and getattr(s, "_jvm", None) is not None:
            try:
                s._jvm.java.util.regex.Pattern.compile(pattern)
                ok = True
            except Exception:
                ok = False
    except Exception:  # pragma: no cover - connect-mode etc.
        ok = None
    if ok is None:
        # static screen: Java group names are [A-Za-z][A-Za-z0-9]* — ECMA
        # allows _/$/unicode; Annex-B lone braces are Java "Illegal
        # repetition"
        import re as _re

        bad = (
            _re.search(r"\(\?<(?![=!])(?![A-Za-z][A-Za-z0-9]*>)", pattern)
            or _re.search(r"\{(?!\d+(,\d*)?\})", pattern)
        )
        ok = not bad
    _JAVA_OK_CACHE[pattern] = ok
    return ok


def ecma_pattern_predicate(col: Column, pattern: str) -> Column:
    """``pattern`` keyword predicate with dialect routing: native ``rlike``
    when Java accepts the pattern, the one Arrow-batched judge otherwise."""
    if not java_regex_ok(pattern):
        from go_jsonschema_spark.compile import _arrow_judge

        return _arrow_judge({"pattern": pattern}, typed=True)(col)
    return col.rlike(pattern)

