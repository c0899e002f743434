"""Closure-compiled validator for the dynamic-JSON path.

The faithful analogue of the reference's plan step: ``setupValidators``
(/root/reference/parser.go:313-407) walks the schema ONCE and attaches one
closure per present keyword; validation is then just running the chain.
``interp.validate_instance`` re-examines the schema dict per value — fine
for the parity harness, wasteful inside a pandas UDF evaluating millions of
payloads.  This module compiles the same semantics into nested Python
closures (2-4× faster per value).  Parity with the interpreter is checked
by the hypothesis differential in tests/test_differential.py and the
draft-specific cases in tests/test_json_native.py; the full official-suite
runs (tests/test_parity_suite.py, tests/test_interp_compile.py) skip unless
the JSON-Schema-Test-Suite corpus is installed.

Semantics are delegated to interp's primitives (json_type, exact-rational
comparison, deep_equal, canonical_key, format checkers, ECMA-regex cache)
so the two paths cannot drift on the hard parts.
"""

from __future__ import annotations

from typing import Any, Callable

from go_jsonschema_spark.interp import (
    _FORMAT_CHECKS,
    _as_fraction,
    _owning_spec,
    canonical_key,
    compile_ecma_regex,
    deep_equal,
    json_type,
)
from go_jsonschema_spark.spec import SchemaSpec, SpecError

__all__ = ["compile_validator"]

Validator = Callable[[Any], bool]

_NUM = (int, float)


def compile_validator(
    schema: Any,
    *,
    spec: SchemaSpec | None = None,
    draft: int = 7,
    registry: dict[str, Any] | None = None,
    assert_formats: bool = True,
) -> Validator:
    """Compile ``schema`` into a ``value -> bool`` closure chain."""
    if spec is None:
        spec = SchemaSpec(schema if isinstance(schema, (dict, bool)) else {})
    from go_jsonschema_spark.interp import (
        schema_has_unevaluated, validate_instance,
    )

    if draft >= 2019 and schema_has_unevaluated(schema):
        # unevaluated* needs annotation collection across in-place
        # applicators — route to the interpreter's annotated evaluator
        # instead of the closure chain (same verdicts, parity-tested).
        # In draft<=7 these are unknown keywords (ignored), so the plain
        # closure chain is both correct and faster there.
        reg = registry or {}

        def _ann_validator(v: Any) -> bool:
            return validate_instance(
                schema, v, draft=draft, spec=spec, registry=reg,
                assert_formats=assert_formats,
            ).valid

        return _ann_validator
    memo: dict[int, Validator] = {}
    return _compile(schema, spec, draft, registry or {}, assert_formats, memo)


def _compile(
    schema: Any,
    spec: SchemaSpec,
    draft: int,
    registry: dict[str, Any],
    fmt: bool,
    memo: dict[int, Validator],
) -> Validator:
    if schema is True:
        return lambda v: True
    if schema is False:
        return lambda v: False
    if not isinstance(schema, dict):
        raise SpecError(f"invalid schema node: {schema!r}")

    if id(schema) in memo:
        return memo[id(schema)]

    fns: list[Validator] = []

    def run(v: Any) -> bool:
        for f in fns:
            if not f(v):
                return False
        return True

    # register BEFORE compiling children → bounded recursion on circular
    # $refs (the closure-world circularThreshold, schema.go:24-26)
    memo[id(schema)] = run

    sub = lambda s: _compile(s, spec, draft, registry, fmt, memo)  # noqa: E731

    # $ref short-circuits siblings in draft<=7 (parser.go:323-326); from
    # 2019-09 it is an in-place applicator evaluated WITH its siblings.
    # The target resolves lazily ONCE.
    # A shared per-compilation depth counter bounds RUNTIME recursion: a
    # cycle that does not shrink the value ({"$ref": "#"} or
    # {"allOf": [{"$ref": "#"}]}) would otherwise recurse until the Python
    # UDF worker dies with RecursionError; instead it fails the value like
    # the interpreter's _ref_depth > 100 guard (circularThreshold analogue,
    # /root/reference/schema.go:24-26).
    ref = schema.get("$ref")
    if isinstance(ref, str):
        cell: list[Validator] = []
        depth = memo.setdefault("__ref_depth__", [0])  # type: ignore[arg-type]

        def ref_v(v: Any) -> bool:
            if not cell:
                owner = _owning_spec(spec, schema, registry)
                target = owner.resolve_ref(ref, at=schema, extra=registry)
                towner = _owning_spec(spec, target, registry)
                cell.append(
                    _compile(target, towner if towner is not spec else spec,
                             draft, registry, fmt, memo)
                )
            if depth[0] > 100:
                return False
            depth[0] += 1
            try:
                return cell[0](v)
            finally:
                depth[0] -= 1

        fns.append(ref_v)
        if draft < 2019:
            return run

    t = schema.get("type")
    if t is not None:
        types = tuple(t) if isinstance(t, list) else (t,)

        def type_v(v, types=types):
            jt = json_type(v, draft)
            return any(
                jt == x or (x == "number" and jt == "integer") for x in types
            )

        fns.append(type_v)

    if "enum" in schema:
        keys = set()
        unkeyable = []
        for e in schema["enum"]:
            try:
                keys.add(canonical_key(e))
            except TypeError:
                unkeyable.append(e)

        def enum_v(v, keys=keys, unkeyable=unkeyable):
            try:
                if canonical_key(v) in keys:
                    return True
            except TypeError:
                pass
            return any(deep_equal(v, e) for e in unkeyable)

        fns.append(enum_v)

    if "const" in schema:
        cval = schema["const"]
        fns.append(lambda v, c=cval: deep_equal(v, c))

    # numeric keywords — precompute Fractions once
    if "multipleOf" in schema:
        m = _as_fraction(schema["multipleOf"])
        fns.append(
            lambda v, m=m: not (isinstance(v, _NUM) and not isinstance(v, bool))
            or (_as_fraction(v) / m).denominator == 1
        )
    for kw, exclkw, op in (
        ("maximum", "exclusiveMaximum", "gt"),
        ("minimum", "exclusiveMinimum", "lt"),
    ):
        if kw in schema:
            bound = _as_fraction(schema[kw])
            excl = schema.get(exclkw) is True  # draft-4 boolean rider

            def bound_v(v, bound=bound, excl=excl, op=op):
                if not isinstance(v, _NUM) or isinstance(v, bool):
                    return True
                fv = _as_fraction(v)
                if op == "gt":
                    return fv < bound or (not excl and fv == bound)
                return fv > bound or (not excl and fv == bound)

            fns.append(bound_v)
        if exclkw in schema and not isinstance(schema[exclkw], bool):
            ebound = _as_fraction(schema[exclkw])

            def ebound_v(v, ebound=ebound, op=op):
                if not isinstance(v, _NUM) or isinstance(v, bool):
                    return True
                return (
                    _as_fraction(v) < ebound
                    if op == "gt"
                    else _as_fraction(v) > ebound
                )

            fns.append(ebound_v)

    # string keywords
    if "maxLength" in schema:
        n = schema["maxLength"]
        fns.append(lambda v, n=n: not isinstance(v, str) or len(v) <= n)
    if "minLength" in schema:
        n = schema["minLength"]
        fns.append(lambda v, n=n: not isinstance(v, str) or len(v) >= n)
    if "pattern" in schema:
        rx = compile_ecma_regex(schema["pattern"])
        if rx is not None:
            fns.append(
                lambda v, rx=rx: not isinstance(v, str) or bool(rx.search(v))
            )
    if fmt and "format" in schema:
        check = _FORMAT_CHECKS.get(schema["format"])
        if check is not None:
            fns.append(
                lambda v, c=check: not isinstance(v, str) or bool(c(v))
            )
    if fmt and ("contentEncoding" in schema or "contentMediaType" in schema):
        enc = schema.get("contentEncoding")
        media = schema.get("contentMediaType")

        def content_v(v, enc=enc, media=media):
            if not isinstance(v, str):
                return True
            decoded: Any = v
            if enc == "base64":
                import base64
                import binascii

                try:
                    decoded = base64.b64decode(v, validate=True)
                except (binascii.Error, ValueError):
                    return False
            if media == "application/json":
                import json as _json

                try:
                    _json.loads(decoded)
                except (ValueError, TypeError, UnicodeDecodeError):
                    return False
            return True

        fns.append(content_v)

    # array keywords
    prefix = schema.get("prefixItems")
    items = schema.get("items")
    if prefix is not None:
        pvs = [sub(s) for s in prefix]
        rest = sub(items) if items is not None else None

        def prefix_v(v, pvs=pvs, rest=rest):
            if not isinstance(v, list):
                return True
            for f, el in zip(pvs, v):
                if not f(el):
                    return False
            if rest is not None:
                for el in v[len(pvs):]:
                    if not rest(el):
                        return False
            return True

        fns.append(prefix_v)
    elif items is not None:
        if isinstance(items, list):
            tvs = [sub(s) for s in items]
            add = schema.get("additionalItems")
            addv = None if add is None else sub(add)

            def tuple_v(v, tvs=tvs, addv=addv):
                if not isinstance(v, list):
                    return True
                for f, el in zip(tvs, v):
                    if not f(el):
                        return False
                if addv is not None:
                    for el in v[len(tvs):]:
                        if not addv(el):
                            return False
                return True

            fns.append(tuple_v)
        else:
            iv = sub(items)
            fns.append(
                lambda v, iv=iv: not isinstance(v, list)
                or all(iv(el) for el in v)
            )
    if "maxItems" in schema:
        n = schema["maxItems"]
        fns.append(lambda v, n=n: not isinstance(v, list) or len(v) <= n)
    if "minItems" in schema:
        n = schema["minItems"]
        fns.append(lambda v, n=n: not isinstance(v, list) or len(v) >= n)
    if schema.get("uniqueItems") is True:

        def uniq_v(v):
            if not isinstance(v, list):
                return True
            seen = set()
            for el in v:
                k = canonical_key(el)
                if k in seen:
                    return False
                seen.add(k)
            return True

        fns.append(uniq_v)
    if "contains" in schema:
        cv = sub(schema["contains"])
        min_c = schema.get("minContains", 1)
        max_c = schema.get("maxContains")

        def contains_v(v, cv=cv, min_c=min_c, max_c=max_c):
            if not isinstance(v, list):
                return True
            n = sum(1 for el in v if cv(el))
            return n >= min_c and (max_c is None or n <= max_c)

        fns.append(contains_v)

    # object keywords
    if "maxProperties" in schema:
        n = schema["maxProperties"]
        fns.append(lambda v, n=n: not isinstance(v, dict) or len(v) <= n)
    if "minProperties" in schema:
        n = schema["minProperties"]
        fns.append(lambda v, n=n: not isinstance(v, dict) or len(v) >= n)
    if "required" in schema:
        req = tuple(schema["required"])
        fns.append(
            lambda v, req=req: not isinstance(v, dict)
            or all(k in v for k in req)
        )
    props = {k: sub(s) for k, s in (schema.get("properties") or {}).items()}
    pprops = [
        (compile_ecma_regex(p), sub(s))
        for p, s in (schema.get("patternProperties") or {}).items()
    ]
    add = schema.get("additionalProperties")
    addv = None if add is None else sub(add)
    if props or pprops or addv is not None:

        def props_v(v, props=props, pprops=pprops, addv=addv):
            if not isinstance(v, dict):
                return True
            for k, val in v.items():
                matched = False
                f = props.get(k)
                if f is not None:
                    matched = True
                    if not f(val):
                        return False
                for rx, pf in pprops:
                    if rx is not None and rx.search(k):
                        matched = True
                        if not pf(val):
                            return False
                if not matched and addv is not None and not addv(val):
                    return False
            return True

        fns.append(props_v)
    if "propertyNames" in schema:
        pnv = sub(schema["propertyNames"])
        fns.append(
            lambda v, pnv=pnv: not isinstance(v, dict)
            or all(pnv(k) for k in v)
        )
    dep_req: list[tuple[str, tuple[str, ...]]] = []
    dep_sch: list[tuple[str, Validator]] = []
    for k, dep in (schema.get("dependencies") or {}).items():
        if isinstance(dep, list):
            dep_req.append((k, tuple(dep)))
        else:
            dep_sch.append((k, sub(dep)))
    dep_req += [
        (k, tuple(n)) for k, n in (schema.get("dependentRequired") or {}).items()
    ]
    dep_sch += [
        (k, sub(d)) for k, d in (schema.get("dependentSchemas") or {}).items()
    ]
    if dep_req or dep_sch:

        def deps_v(v, dep_req=dep_req, dep_sch=dep_sch):
            if not isinstance(v, dict):
                return True
            for k, needs in dep_req:
                if k in v and any(n not in v for n in needs):
                    return False
            for k, f in dep_sch:
                if k in v and not f(v):
                    return False
            return True

        fns.append(deps_v)

    # combinators
    if "allOf" in schema:
        avs = [sub(s) for s in schema["allOf"]]
        fns.append(lambda v, avs=avs: all(f(v) for f in avs))
    if "anyOf" in schema:
        ovs = [sub(s) for s in schema["anyOf"]]
        fns.append(lambda v, ovs=ovs: any(f(v) for f in ovs))
    if "oneOf" in schema:
        xvs = [sub(s) for s in schema["oneOf"]]
        fns.append(lambda v, xvs=xvs: sum(1 for f in xvs if f(v)) == 1)
    if "not" in schema:
        nv = sub(schema["not"])
        fns.append(lambda v, nv=nv: not nv(v))
    if "if" in schema:
        cv = sub(schema["if"])
        tv = sub(schema["then"]) if "then" in schema else (lambda v: True)
        ev = sub(schema["else"]) if "else" in schema else (lambda v: True)
        fns.append(lambda v, cv=cv, tv=tv, ev=ev: tv(v) if cv(v) else ev(v))

    return run
