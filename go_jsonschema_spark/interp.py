"""JSON-value primitives of the dynamic path, and ``validate_instance``.

When a column holds arbitrary JSON (e.g. ``events.props``) the spec is
evaluated over parsed values inside an Arrow-batched pandas UDF (one
Python call per ~10k-row batch, never per-row pyspark UDFs).  The keyword
semantics live once, in the closure compiler (interp_compile.py);
:func:`validate_instance` compiles there and runs the result.  This module
keeps the primitives that compiler and the typed/native paths share:

* type detection incl. integer-valued floats: /root/reference/helpers.go:88-95
  (``isInteger`` via big.Float.IsInt) and validators.go:306-349.  Draft 4
  treats a literal with a ``.`` as non-integer (validate.go:50-55); Python's
  json parser preserves int-vs-float, which carries the same distinction.
* arbitrary-precision numeric comparison: validators.go:486-560 use
  big.Float/big.Rat — here ``fractions.Fraction`` (exact) via the decimal
  string repr.
* deep equality with numeric normalization and bool≠number:
  validate_unique.go:57-104 and Value.Equal schema_types_oneof.go:352-379.
* format checks (validators.go:656-857) and the ECMA-regex dialect cache
  (helpers.go:69-86).
* ref-owner resolution: which spec (the root, a registered document or an
  official meta-schema) owns a node a ``$ref`` landed on.
"""

from __future__ import annotations

import ipaddress
import re
from dataclasses import dataclass, field
from fractions import Fraction
from itertools import chain
from typing import Any

from go_jsonschema_spark.spec import META_SCHEMAS, SchemaSpec

__all__ = ["validate_instance", "ValidationOutcome"]


@dataclass
class ValidationOutcome:
    valid: bool
    errors: list[str] = field(default_factory=list)

    def __bool__(self) -> bool:  # pragma: no cover - convenience
        return self.valid


# ---------------------------------------------------------------------------
# JSON type machinery (helpers.go:99-176 DetectJSONType analogue, but over
# parsed Python values instead of raw bytes)
# ---------------------------------------------------------------------------

def json_type(v: Any, draft: int = 7) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "integer"
    if isinstance(v, float):
        # drafts >= 6: 1.0 is an integer (helpers.go:88-95, validators.go:313-319)
        if draft >= 6 and _float_is_integer(v):
            return "integer"
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    if isinstance(v, dict):
        return "object"
    raise TypeError(f"not a JSON value: {type(v)!r}")


def _float_is_integer(v: float) -> bool:
    try:
        return float(v).is_integer()
    except (OverflowError, ValueError):
        return False


def _as_fraction(v: Any) -> Fraction:
    """Exact rational from a JSON number.

    For floats, go through the shortest decimal repr (``repr``) so that the
    comparison semantics follow the *decimal text* the user wrote — matching
    the reference, which parses the original bytes with big.Float/big.Rat
    (validators.go:492-496)."""
    if isinstance(v, bool):
        raise TypeError("bool is not a number")
    if isinstance(v, int):
        return Fraction(v)
    return Fraction(repr(v))


def deep_equal(a: Any, b: Any) -> bool:
    """Deep equality with the reference's normalization rules
    (validate_unique.go:57-104, schema_types_oneof.go:352-379):
    ``1.0 == 1`` (numeric normalization) but ``1 != true`` (bool is its own
    type); objects compare key-order-insensitively."""
    a_bool, b_bool = isinstance(a, bool), isinstance(b, bool)
    if a_bool or b_bool:
        return a_bool and b_bool and a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        try:
            return _as_fraction(a) == _as_fraction(b)
        except (ValueError, OverflowError):
            return False
    if isinstance(a, dict) and isinstance(b, dict):
        if a.keys() != b.keys():
            return False
        return all(deep_equal(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(deep_equal(x, y) for x, y in zip(a, b))
    if type(a) is not type(b):
        return False
    return a == b


def canonical_key(v: Any) -> Any:
    """Hashable canonical form for set-based uniqueness, same equivalence
    classes as :func:`deep_equal` — the engine-side analogue of the
    reference's ``[value]:[type]`` string keys (validate_unique.go:53-104)."""
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float)):
        try:
            return ("n", _as_fraction(v))
        except (ValueError, OverflowError):
            return ("n", repr(v))
    if v is None:
        return ("z",)
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, list):
        return ("a", tuple(canonical_key(x) for x in v))
    if isinstance(v, dict):
        return ("o", frozenset((k, canonical_key(x)) for k, x in v.items()))
    raise TypeError(f"not a JSON value: {type(v)!r}")


# ---------------------------------------------------------------------------
# Format validators (validateFormat, validators.go:656-857)
# ---------------------------------------------------------------------------

# Formats that are one regex; functions/formats.py runs these same
# strings JVM-side through ``rlike``.
FORMAT_REGEX = {
    "hostname": (
        r"^(?=.{1,253}\.?$)[a-zA-Z0-9](?:[a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?"
        r"(?:\.[a-zA-Z0-9](?:[a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?)*\.?$"
    ),
    "uuid": (
        r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
        r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
    ),
    # ISO-8601: the weeks form is exclusive (P1Y1W invalid); otherwise the
    # date-time form needs at least one unit and T needs a following digit
    "duration": (
        r"^P(?!$)(?:\d+W|(?=\d|T\d)(?:\d+Y)?(?:\d+M)?(?:\d+D)?"
        r"(?:T(?=\d)(?:\d+H)?(?:\d+M)?(?:\d+(?:\.\d+)?S)?)?)$"
    ),
    "json-pointer": r"^(?:/(?:[^~/]|~0|~1)*)*$",
    "relative-json-pointer":
        r"^(?:0|[1-9][0-9]*)(?:#|(?:/(?:[^~/]|~0|~1)*)*)$",
}


def _regex_check(fmt: str):
    match = re.compile(FORMAT_REGEX[fmt]).match
    return lambda s: match(s) is not None


_DATE_RE = re.compile(r"^(\d{4})-(\d{2})-(\d{2})$")
_TIME_RE = re.compile(
    r"^(\d{2}):(\d{2}):(\d{2})(\.\d+)?(([Zz])|([+-])(\d{2}):(\d{2}))$"
)


def _valid_date(s: str) -> bool:
    m = _DATE_RE.match(s)
    if not m:
        return False
    import datetime

    try:
        datetime.date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
        return True
    except ValueError:
        return False


def _valid_time(s: str) -> bool:
    m = _TIME_RE.match(s)
    if not m:
        return False
    h, mi, sec = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if h > 23 or mi > 59 or sec > 60:
        return False
    off = 0
    if m.group(7):  # numeric offset
        oh, om = int(m.group(8)), int(m.group(9))
        if oh > 23 or om > 59:
            return False
        off = (oh * 60 + om) * (1 if m.group(7) == "+" else -1)
    if sec == 60:
        # RFC3339 leap second: only legal at 23:59:60 UTC
        # (validators.go:688-708 leap-second quirk)
        utc = (h * 60 + mi - off) % 1440
        if utc != 23 * 60 + 59:
            return False
    return True


def _valid_datetime(s: str) -> bool:
    # RFC3339: date "T" time (validators.go:668-686)
    for sep in ("T", "t"):
        if sep in s:
            d, _, t = s.partition(sep)
            return _valid_date(d) and _valid_time(t)
    return False


def _valid_email(s: str) -> bool:
    if "@" not in s or s.count("@") != 1:
        return False
    local, _, domain = s.rpartition("@")
    if not local or not domain:
        return False
    if local.startswith(".") or local.endswith(".") or ".." in local:
        return False
    return True


def _valid_ipv4(s: str) -> bool:
    # reference requires dotted-quad (validators.go:760-766)
    if s.count(".") != 3:
        return False
    try:
        ipaddress.IPv4Address(s)
        return True
    except ValueError:
        return False


def _valid_ipv6(s: str) -> bool:
    if "." in s and ":" not in s:
        return False
    try:
        ipaddress.IPv6Address(s)
        return True
    except ValueError:
        return False


def _valid_uri(s: str, *, need_scheme: bool) -> bool:
    from urllib.parse import urlparse

    if any(c in s for c in " \t\n\\"):
        return False
    try:
        p = urlparse(s)
    except ValueError:
        return False
    if need_scheme:
        return bool(p.scheme)
    return True


def _valid_uri_template(s: str) -> bool:
    # balanced braces + template grammar (validators.go:813-826)
    depth = 0
    for c in s:
        if c == "{":
            depth += 1
            if depth > 1:
                return False
        elif c == "}":
            depth -= 1
            if depth < 0:
                return False
    if depth != 0:
        return False
    return not re.search(r"\{\}", s)


def _valid_regex(s: str) -> bool:
    try:
        re.compile(s)
        return True
    except re.error:
        return False


def _valid_idn_hostname(s: str) -> bool:
    """Internationalized hostname per RFC 5890 — the ``idna`` package
    (UTS-46, strict) mirrors the reference's x/net/idna options
    (/root/reference/validators.go:742-752: MapForLookup + Transitional +
    StrictDomainName + VerifyDNSLength).  Falls back to the cheap
    heuristic when ``idna`` is not installed (the reference's own harness
    skips idn-hostname.json edge cases, validate_test.go:240-242)."""
    try:
        import idna
    except ImportError:  # pragma: no cover - idna present in CI image
        return bool(s) and "〮" not in s
    import warnings

    try:
        with warnings.catch_warnings():
            # idna deprecates transitional processing (removed from UTS#46);
            # the reference pins Transitional(true), so keep it while the
            # argument exists
            warnings.simplefilter("ignore", DeprecationWarning)
            idna.encode(s, uts46=True, std3_rules=True, transitional=True)
        return True
    except (idna.IDNAError, UnicodeError):
        return False
    except TypeError:  # pragma: no cover - future idna w/o transitional
        try:
            idna.encode(s, uts46=True, std3_rules=True)
            return True
        except (idna.IDNAError, UnicodeError):
            return False


_FORMAT_CHECKS = {
    "date-time": _valid_datetime,
    "date": _valid_date,
    "time": _valid_time,
    "duration": _regex_check("duration"),
    "email": _valid_email,
    "idn-email": _valid_email,
    "hostname": _regex_check("hostname"),
    "idn-hostname": _valid_idn_hostname,
    "ipv4": _valid_ipv4,
    "ipv6": _valid_ipv6,
    "uuid": _regex_check("uuid"),
    "uri": lambda s: _valid_uri(s, need_scheme=True),
    "iri": lambda s: _valid_uri(s, need_scheme=True),
    "uri-reference": lambda s: _valid_uri(s, need_scheme=False),
    "iri-reference": lambda s: _valid_uri(s, need_scheme=False),
    "uri-template": _valid_uri_template,
    "json-pointer": _regex_check("json-pointer"),
    "relative-json-pointer": _regex_check("relative-json-pointer"),
    "regex": _valid_regex,
}


# ---------------------------------------------------------------------------
# Regex dialect translation (helpers.go:69-86 convertRegexp analogue)
# ---------------------------------------------------------------------------

_REGEX_CACHE: dict[str, re.Pattern | None] = {}


def compile_ecma_regex(pattern: str) -> re.Pattern | None:
    """Compile an ECMA-262-ish pattern with Python ``re``.

    Python's unicode-aware ``\\w``/``\\d`` already cover the dialect gap the
    reference papers over with ``\\pL``/``\\pN`` rewrites (helpers.go:69-86).
    Returns None if the pattern does not compile (the reference skips
    ecmascript-regex edge cases too, validate_test.go:261-263)."""
    if pattern in _REGEX_CACHE:
        return _REGEX_CACHE[pattern]
    try:
        # ECMA \cX control chars
        p = re.sub(
            r"\\c([a-zA-Z])", lambda m: f"\\x{ord(m.group(1).upper()) - 64:02x}", pattern
        )
        # ECMA named groups (?<name>...) → Python (?P<name>...); leave
        # lookbehind (?<= / (?<! untouched
        p = re.sub(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>", r"(?P<\1>", p)
        rx = re.compile(p)
    except re.error:
        rx = None
    _REGEX_CACHE[pattern] = rx
    return rx


# ---------------------------------------------------------------------------
# Ref-owner resolution and the entry point
# ---------------------------------------------------------------------------

def _owning_spec(
    spec: SchemaSpec, node: Any, registry: dict[str, Any] | None = None,
    root: SchemaSpec | None = None,
) -> SchemaSpec:
    """Pick the SchemaSpec whose tree contains ``node`` — after a jump into
    a registered remote document or an official meta-schema, pointer refs
    must resolve inside THAT document's base context.  ``root`` is the
    validation's own spec: a ref from a registered document back into the
    root document lands there.  The meta-schema table is read as built so
    far: only a lookup that built it can have landed in it."""
    for cand in (spec, root):
        if cand is not None and (
            node is cand.root or id(node) in cand.base_of
        ):
            return cand
    for v in chain((registry or {}).values(), META_SCHEMAS.values()):
        if isinstance(v, SchemaSpec) and (
            node is v.root or id(node) in v.base_of
        ):
            return v
    return spec


# compiled validators of validate_instance, by content fingerprint
# (bounded like engine._PLAN_CACHE)
_VALIDATORS: dict[str, Any] = {}


def validate_instance(
    schema: Any,
    value: Any,
    *,
    draft: int = 7,
    spec: SchemaSpec | None = None,
    registry: dict[str, Any] | None = None,
    assert_formats: bool = True,
    collect_all: bool = False,
) -> ValidationOutcome:
    """Validate one parsed JSON value against a schema spec.

    Mirrors ``Schema.Validate`` (/root/reference/validate.go:32-62) +
    the validator chain (validators.go:26-53): compiles ``schema`` with
    :func:`interp_compile.compile_validator` — once per distinct schema,
    spec, registry, draft and ``assert_formats`` content — and runs it.
    The errors are ``path: keyword: msg`` strings; with ``collect_all``
    the chain does not stop at the first failed keyword
    (violations-as-data, SURVEY.md §4.1 note)."""
    import json

    from go_jsonschema_spark.interp_compile import compile_validator

    key = json.dumps([schema, spec, registry, draft, assert_formats],
                     sort_keys=True, default=repr)
    validator = _VALIDATORS.get(key)
    if validator is None:
        validator = compile_validator(
            schema, spec=spec, draft=draft, registry=registry,
            assert_formats=assert_formats,
        )
        if len(_VALIDATORS) >= 128:  # bound: drop oldest entry
            _VALIDATORS.pop(next(iter(_VALIDATORS)))
        _VALIDATORS[key] = validator
    errors = validator.errors(value, collect_all=collect_all)
    return ValidationOutcome(not errors, errors)
