"""PII redaction for training-corpus curation.

Standard scrub stage of a pretraining pipeline: replace emails, IPv4
addresses and US-style phone numbers with typed placeholder tokens and
count what was removed.  Everything is native ``regexp_replace`` /
``regexp_count`` — JVM-side, codegen, no Python in the row path — and
the patterns are written in the common subset of Java regex and RE2 so
the DuckDB oracle applies the IDENTICAL expressions.

Pattern notes (deliberately conservative):

* email — the usual local@domain.tld shape; no quoting/IDN exotica.
* ipv4  — four 1-3-digit groups; no range validation (a scrubber
  over-redacts rather than leaks).
* phone — ``NNN[-.]NNN[-.]NNNN`` with optional ``+1`` prefix; the
  separator-free form is indistinguishable from ordinary numbers.

Order matters and is fixed: email → ipv4 → phone (an email's domain can
contain digit groups; redacting it first keeps the counts disjoint).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = ["PII_PATTERNS", "redact_pii"]

# (kind, regex, replacement) — applied in order; identical strings are
# interpolated into the DuckDB oracle (__spark_entry__.py)
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"(\+1[-.])?\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def redact_pii(text: Column) -> dict[str, Column]:
    """Returns ``{"text": redacted, "n_email": .., "n_ipv4": ..,
    "n_phone": ..}`` as native Column expressions.  Counts are taken on
    the intermediate string each pattern actually saw, so they equal the
    number of replacements performed."""
    out: dict[str, Column] = {}
    cur = text
    for kind, pat, repl in PII_PATTERNS:
        out[f"n_{kind}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    out["text"] = cur
    return out

