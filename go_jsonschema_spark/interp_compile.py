"""The dynamic-JSON evaluator: schema specs compiled into closures.

The faithful analogue of the reference's plan step: ``setupValidators``
(/root/reference/parser.go:313-407) walks the schema ONCE and attaches one
closure per present keyword; validation is then just running the chain.
This module is the only implementation of keyword semantics over parsed
JSON values: ``interp.validate_instance``, the one Arrow-batched judge
(compile._arrow_judge), and
``spec.validate_spec_against_metaschema`` all compile here and run the
result.  It is checked against the installed ``jsonschema`` package by
tests/test_evaluator_oracle.py; the official-suite sweeps
(tests/test_parity_suite.py) run when the JSON-Schema-Test-Suite corpus is
installed.

Every compiled node is a function ``(value, cx) -> bool``.  ``cx`` is
``None`` on the plain verdict path, which then builds no error strings,
paths or annotation sets.  Otherwise it is the per-call :class:`_Cx`,
carrying whatever this call needs beyond a verdict:

* ``path: keyword: msg`` error collection (``Validator.errors``);
* the dynamic scope of ``$recursiveRef``/``$dynamicRef`` (2019-09+), used
  only when the compiled graph, registry documents included, holds one;
* the annotations ``unevaluatedProperties``/``unevaluatedItems`` read —
  property names and item indexes evaluated at one instance location,
  gathered only below a node carrying such a keyword.

The hard primitives (json_type, exact-rational comparison, deep_equal,
canonical_key, format checkers, the ECMA-regex cache, ref-owner lookup)
live in interp.py.
"""

from __future__ import annotations

from itertools import chain, repeat
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
Fn = Callable[[Any, "_Cx | None"], bool]

_NUM = (int, float)


class _Evaluated:
    """Annotations at one instance location: evaluated property names, the
    evaluated item prefix length and further evaluated item indexes."""

    __slots__ = ("props", "upto", "idxs")

    def __init__(self) -> None:
        self.props: set[str] = set()
        self.upto = 0
        self.idxs: set[int] = set()

    def merge(self, other: "_Evaluated") -> None:
        self.props |= other.props
        self.upto = max(self.upto, other.upto)
        self.idxs |= other.idxs


class _Cx:
    """Per-call state of one validation that needs more than a verdict.

    ``errors`` is the list messages go to (None: quiet), ``collect`` keeps
    evaluating after a failure, ``path`` is the instance location,
    ``scope`` the stack of entered ``(resource, owning spec)`` pairs (None
    when the graph has no dynamic refs) and ``ann`` the annotations of this
    location (None when nothing reads them)."""

    __slots__ = ("errors", "collect", "path", "scope", "ann")

    def __init__(self, errors: list[str] | None, collect: bool, path: str,
                 scope: list | None, ann: _Evaluated | None) -> None:
        self.errors = errors
        self.collect = collect
        self.path = path
        self.scope = scope
        self.ann = ann

    def at(self, key: str | int) -> "_Cx | None":
        """The state for a child location (property name or item index)."""
        if self.errors is None:
            if self.scope is None:
                return None
            return _Cx(None, False, "", self.scope, None)
        path = (f"{self.path}.{key}" if isinstance(key, str)
                else f"{self.path}[{key}]")
        return _Cx(self.errors, self.collect, path, self.scope, None)

    def quiet(self) -> "_Cx | None":
        """The same location with errors off (anyOf, oneOf, not, if,
        contains judge without reporting)."""
        if self.scope is None and self.ann is None:
            return None
        return _Cx(None, False, self.path, self.scope, self.ann)

    def fork(self) -> "_Cx":
        """The same location with fresh annotations."""
        return _Cx(self.errors, self.collect, self.path, self.scope,
                   _Evaluated())


def _inplace(f: Fn, v: Any, cx: _Cx | None) -> bool:
    """Apply an in-place subschema: its annotations count for this
    location only when it succeeds."""
    if cx is None or cx.ann is None:
        return f(v, cx)
    sub = cx.fork()
    if not f(v, sub):
        return False
    cx.ann.merge(sub.ann)  # type: ignore[arg-type]
    return True


def _all(cx: _Cx | None, oks) -> bool:
    """``all(oks)``, except that an error-collecting call evaluates every
    member so each reports its errors."""
    if cx is None or not cx.collect:
        return all(oks)
    return all([*oks])


def _recursive_anchor(node: Any) -> bool:
    return isinstance(node, dict) and node.get("$recursiveAnchor") is True


def _true(v: Any, cx: _Cx | None) -> bool:
    return True


def _false(v: Any, cx: _Cx | None) -> bool:
    if cx is not None and cx.errors is not None:
        cx.errors.append(f"{cx.path}: false-schema: schema rejects everything")
    return False


def compile_validator(
    schema: Any,
    *,
    spec: SchemaSpec | None = None,
    draft: int = 7,
    registry: dict[str, Any] | None = None,
    assert_formats: bool = True,
) -> Validator:
    """Compile ``schema`` into a ``value -> bool`` closure chain.

    The returned callable also has ``errors(value, collect_all=True)``,
    which gives the ``path: keyword: msg`` list (empty = valid); without
    ``collect_all`` it stops at the first failed keyword.  The registry is
    read, never written."""
    if spec is None:
        spec = SchemaSpec(schema if isinstance(schema, (dict, bool)) else {})
    # a plain-dict document owns its nodes only once wrapped: a pointer
    # ``$ref`` inside it must walk THAT document, not the root schema.
    # Anchor entries (``uri#name``) stay raw: their document is unknown.
    registry = {
        k: SchemaSpec(v, base_uri=k)
        if isinstance(v, dict) and "#" not in k else v
        for k, v in (registry or {}).items()
    }
    g = _Graph(spec, draft, registry, assert_formats)
    root = g.compile(schema, spec)
    scoped = g.scoped

    # A value nested deeper than the interpreter stack — or a ref cycle
    # that never consumes it, {"$ref": "#"} — is invalid rather than a
    # crashed worker: the reference's circularThreshold (schema.go:24-26)
    def validate(v: Any) -> bool:
        try:
            return root(v, _Cx(None, False, "", [], None) if scoped else None)
        except RecursionError:
            return False

    def errors(v: Any, collect_all: bool) -> list[str]:
        if validate(v):
            return []
        out: list[str] = []
        try:
            root(v, _Cx(out, collect_all, "$", [] if scoped else None, None))
        except RecursionError:
            out.append("$: $ref: recursion too deep")
        return out

    validate.errors = errors  # type: ignore[attr-defined]
    return validate


class _Graph:
    """One compilation: the schema graph and the state its closures share.

    Nodes are compiled once (memo by identity, registered BEFORE their
    children, so circular ``$ref``s compile), ``$ref`` targets eagerly;
    ``scoped`` records whether a ``$recursiveRef``/``$dynamicRef`` that
    reads the dynamic scope was."""

    def __init__(self, spec: SchemaSpec, draft: int,
                 registry: dict[str, Any], fmt: bool) -> None:
        self.spec = spec
        self.draft = draft
        self.registry = registry
        self.fmt = fmt
        self.memo: dict[int, tuple[Any, Fn]] = {}
        self.scoped = False

    def compile(self, schema: Any, owner: SchemaSpec) -> Fn:
        if schema is True:
            return _true
        if schema is False:
            return _false
        if not isinstance(schema, dict):
            raise SpecError(f"invalid schema node: {schema!r}")
        hit = self.memo.get(id(schema))
        if hit is not None:
            return hit[1]
        return self._node(schema, owner)

    def _target(self, schema: dict, owner: SchemaSpec, ref: str
                ) -> tuple[Any, Fn]:
        """Resolve and compile a ref target; an unresolvable ref raises
        when a value reaches it, as ``jsonschema`` does."""
        try:
            target = owner.resolve_ref(ref, at=schema, extra=self.registry)
            towner = _owning_spec(owner, target, self.registry, self.spec)
            return target, self.compile(target, towner)
        except SpecError as e:
            msg = str(e)

            def unresolved(v: Any, cx: _Cx | None) -> bool:
                raise SpecError(msg)

            return None, unresolved

    def _recursive_ref(self, schema: dict, owner: SchemaSpec) -> Fn:
        """2019-09 ``$recursiveRef: "#"``: the current base — or, when that
        base carries ``$recursiveAnchor: true``, the OUTERMOST resource in
        the dynamic scope that also carries it."""
        base = owner.base_of.get(id(schema), (owner.root, ""))[0]
        static = self.compile(base, owner)
        if not _recursive_anchor(base):
            return lambda v, cx: _inplace(static, v, cx)
        self.scoped = True

        def pick(cx: _Cx | None) -> Fn:
            for res, res_owner in cx.scope:  # type: ignore[union-attr]
                if _recursive_anchor(res):
                    return self.compile(res, res_owner)
            return static

        return lambda v, cx: _inplace(pick(cx), v, cx)

    def _dynamic_ref(self, schema: dict, owner: SchemaSpec, dref: str) -> Fn:
        """2020-12 ``$dynamicRef``: resolve statically; when that lands on a
        matching ``$dynamicAnchor`` (bookending), take the OUTERMOST
        resource in the dynamic scope defining that anchor name."""
        target, static = self._target(schema, owner, dref)
        name = dref.split("#", 1)[1] if "#" in dref else ""
        if not (name and isinstance(target, dict)
                and target.get("$dynamicAnchor") == name):
            return lambda v, cx: _inplace(static, v, cx)
        self.scoped = True

        def pick(cx: _Cx | None) -> Fn:
            for res, res_owner in cx.scope:  # type: ignore[union-attr]
                node = res_owner.dyn_anchors.get(id(res), {}).get(name)
                if node is not None:
                    return self.compile(node, res_owner)
            return static

        return lambda v, cx: _inplace(pick(cx), v, cx)

    def _node(self, schema: dict, owner: SchemaSpec) -> Fn:
        draft = self.draft
        fns: list[Fn] = []
        kws: list[str] = []
        details: list[str] = []

        def add(kw: str, f: Fn, detail: str = "failed") -> None:
            fns.append(f)
            kws.append(kw)
            details.append(detail)

        uneval = draft >= 2019 and (
            "unevaluatedProperties" in schema or "unevaluatedItems" in schema)
        base = owner.base_of.get(id(schema), (None, ""))[0]
        entry = (base, owner)

        def full(v: Any, cx: _Cx) -> bool:
            scope = cx.scope
            pushed = (scope is not None and base is not None
                      and (not scope or scope[-1][0] is not base))
            if pushed:
                scope.append(entry)  # type: ignore[union-attr]
            try:
                ok = True
                for i, f in enumerate(fns):
                    if not f(v, cx):
                        ok = False
                        if cx.errors is not None:
                            cx.errors.append(
                                f"{cx.path}: {kws[i]}: {details[i]}")
                        if not cx.collect:
                            break
                return ok
            finally:
                if pushed:
                    scope.pop()  # type: ignore[union-attr]

        if uneval:
            # unevaluated* read this location's annotations: the node
            # gathers its own unless its in-place parent hands it a fresh set
            def run(v: Any, cx: _Cx | None) -> bool:
                if cx is None:
                    cx = _Cx(None, False, "", None, _Evaluated())
                elif cx.ann is None:
                    cx = cx.fork()
                return full(v, cx)
        else:
            def run(v: Any, cx: _Cx | None) -> bool:
                if cx is not None:
                    return full(v, cx)
                for f in fns:
                    if not f(v, None):
                        return False
                return True

        self.memo[id(schema)] = (schema, run)
        sub = lambda s: self.compile(s, owner)  # noqa: E731

        # $ref short-circuits siblings in draft<=7 (parser.go:323-326); from
        # 2019-09 it is an in-place applicator evaluated WITH its siblings,
        # as are $recursiveRef and $dynamicRef (unknown keywords before)
        ref = schema.get("$ref")
        if isinstance(ref, str):
            target = self._target(schema, owner, ref)[1]
            add("$ref", lambda v, cx, f=target: _inplace(f, v, cx),
                f"{ref} failed")
            if draft < 2019:
                return run
        if draft >= 2019:
            if isinstance(schema.get("$recursiveRef"), str):
                add("$recursiveRef", self._recursive_ref(schema, owner))
            dref = schema.get("$dynamicRef")
            if isinstance(dref, str):
                add("$dynamicRef", self._dynamic_ref(schema, owner, dref),
                    f"{dref} failed")

        t = schema.get("type")
        if t is not None:
            types = t if isinstance(t, list) else [t]
            # integer always satisfies "number" (validators.go:321-323)
            ok_types = frozenset(types) | (
                {"integer"} if "number" in types else set())
            add("type",
                lambda v, cx, ts=ok_types: json_type(v, draft) in ts,
                f"want {'/'.join(types)}")

        if "enum" in schema:
            keys = set()
            unkeyable = []
            for e in schema["enum"]:
                try:
                    keys.add(canonical_key(e))
                except TypeError:
                    unkeyable.append(e)

            def enum_v(v, cx, keys=keys, unkeyable=unkeyable):
                try:
                    if canonical_key(v) in keys:
                        return True
                except TypeError:
                    pass
                return any(deep_equal(v, e) for e in unkeyable)

            add("enum", enum_v, "not in enum")

        if "const" in schema:
            cval = schema["const"]
            add("const", lambda v, cx, c=cval: deep_equal(v, c),
                "not equal to const")

        # numeric keywords — precompute Fractions once
        if "multipleOf" in schema:
            m = _as_fraction(schema["multipleOf"])
            add("multipleOf",
                lambda v, cx, m=m: not isinstance(v, _NUM)
                or isinstance(v, bool)
                or (_as_fraction(v) / m).denominator == 1,
                f"not a multiple of {schema['multipleOf']}")
        for kw, exclkw, op in (
            ("maximum", "exclusiveMaximum", "gt"),
            ("minimum", "exclusiveMinimum", "lt"),
        ):
            if kw in schema:
                bound = _as_fraction(schema[kw])
                excl = schema.get(exclkw) is True  # draft-4 boolean rider

                def bound_v(v, cx, bound=bound, excl=excl, op=op):
                    if not isinstance(v, _NUM) or isinstance(v, bool):
                        return True
                    fv = _as_fraction(v)
                    if op == "gt":
                        return fv < bound or (not excl and fv == bound)
                    return fv > bound or (not excl and fv == bound)

                add(kw, bound_v, f"out of bound {schema[kw]}")
            if exclkw in schema and not isinstance(schema[exclkw], bool):
                ebound = _as_fraction(schema[exclkw])

                def ebound_v(v, cx, ebound=ebound, op=op):
                    if not isinstance(v, _NUM) or isinstance(v, bool):
                        return True
                    return (
                        _as_fraction(v) < ebound
                        if op == "gt"
                        else _as_fraction(v) > ebound
                    )

                add(exclkw, ebound_v, f"out of bound {schema[exclkw]}")

        # string keywords (rune-count lengths, validators.go:562-582)
        if "maxLength" in schema:
            n = schema["maxLength"]
            add("maxLength",
                lambda v, cx, n=n: not isinstance(v, str) or len(v) <= n,
                f"longer than {n}")
        if "minLength" in schema:
            n = schema["minLength"]
            add("minLength",
                lambda v, cx, n=n: not isinstance(v, str) or len(v) >= n,
                f"shorter than {n}")
        if "pattern" in schema:
            rx = compile_ecma_regex(schema["pattern"])
            if rx is not None:
                add("pattern",
                    lambda v, cx, rx=rx: not isinstance(v, str)
                    or bool(rx.search(v)),
                    f"does not match /{schema['pattern']}/")
        if self.fmt and "format" in schema:
            check = _FORMAT_CHECKS.get(schema["format"])
            if check is not None:
                add("format",
                    lambda v, cx, c=check: not isinstance(v, str)
                    or bool(c(v)),
                    f"not a {schema['format']}")
        if self.fmt and ("contentEncoding" in schema
                         or "contentMediaType" in schema):
            enc = schema.get("contentEncoding")
            media = schema.get("contentMediaType")

            def content_v(v, cx, enc=enc, media=media):
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

            add("content", content_v, "content assertion failed")

        # array keywords: 2020-12 prefixItems + items, or the draft-7 tuple
        # items + additionalItems, or one items schema for every element
        prefix = schema.get("prefixItems")
        items = schema.get("items")
        if prefix is not None:
            tup, rest = prefix, items
        elif isinstance(items, list):
            tup, rest = items, schema.get("additionalItems")
        else:
            tup, rest = [], items
        tvs = [sub(s) for s in tup]
        rv = None if rest is None else sub(rest)
        if tvs or rv is not None:

            def items_v(v, cx, tvs=tvs, rv=rv):
                if not isinstance(v, list):
                    return True
                n = len(tvs)
                if cx is None and not n:
                    return all(rv(el, None) for el in v)
                fs = tvs if rv is None else chain(tvs, repeat(rv))
                ok = _all(cx, (f(el, cx and cx.at(i))
                               for i, (f, el) in enumerate(zip(fs, v))))
                ann = cx and cx.ann
                if ok and ann is not None:
                    done = len(v) if rv is not None else min(n, len(v))
                    ann.upto = max(ann.upto, done)
                return ok

            add("prefixItems" if prefix is not None else "items", items_v,
                "an element is invalid")
        if "maxItems" in schema:
            n = schema["maxItems"]
            add("maxItems",
                lambda v, cx, n=n: not isinstance(v, list) or len(v) <= n,
                f"more than {n} items")
        if "minItems" in schema:
            n = schema["minItems"]
            add("minItems",
                lambda v, cx, n=n: not isinstance(v, list) or len(v) >= n,
                f"fewer than {n} items")
        if schema.get("uniqueItems") is True:

            def uniq_v(v, cx):
                if not isinstance(v, list):
                    return True
                seen = set()
                for el in v:
                    k = canonical_key(el)
                    if k in seen:
                        return False
                    seen.add(k)
                return True

            add("uniqueItems", uniq_v, "duplicate element")
        if "contains" in schema:
            cv = sub(schema["contains"])
            min_c = schema.get("minContains", 1)
            max_c = schema.get("maxContains")

            def contains_v(v, cx, cv=cv, min_c=min_c, max_c=max_c):
                if not isinstance(v, list):
                    return True
                q = cx and cx.quiet()
                hits = [i for i, el in enumerate(v) if cv(el, q and q.at(i))]
                if len(hits) < min_c or (max_c is not None
                                         and len(hits) > max_c):
                    return False
                if q is not None and q.ann is not None:
                    q.ann.idxs.update(hits)
                return True

            add("contains", contains_v,
                f"want {min_c}..{'' if max_c is None else max_c} matches")

        # object keywords
        if "maxProperties" in schema:
            n = schema["maxProperties"]
            add("maxProperties",
                lambda v, cx, n=n: not isinstance(v, dict) or len(v) <= n,
                f"more than {n} properties")
        if "minProperties" in schema:
            n = schema["minProperties"]
            add("minProperties",
                lambda v, cx, n=n: not isinstance(v, dict) or len(v) >= n,
                f"fewer than {n} properties")
        if "required" in schema:
            req = tuple(schema["required"])
            add("required",
                lambda v, cx, req=req: not isinstance(v, dict)
                or all(k in v for k in req),
                f"missing one of {list(req)}")
        props = {k: sub(s)
                 for k, s in (schema.get("properties") or {}).items()}
        pprops = [
            (rx, sub(s))
            for rx, s in (
                (compile_ecma_regex(p), s)
                for p, s in (schema.get("patternProperties") or {}).items()
            )
            if rx is not None
        ]
        add_s = schema.get("additionalProperties")
        addv = None if add_s is None else sub(add_s)
        if props or pprops or addv is not None:

            def props_v(v, cx, props=props, pprops=pprops, addv=addv):
                if not isinstance(v, dict):
                    return True
                ann = cx and cx.ann
                collect = cx is not None and cx.collect
                ok = True
                for k, val in v.items():
                    c = cx and cx.at(k)
                    f = props.get(k)
                    hit = f is not None
                    good = not hit or f(val, c)
                    for rx, pf in pprops:
                        if rx.search(k):
                            hit = True
                            good = pf(val, c) and good
                    if not hit and addv is not None:
                        hit = True
                        good = addv(val, c)
                    if not good:
                        if not collect:
                            return False
                        ok = False
                    elif hit and ann is not None:
                        ann.props.add(k)
                return ok

            add("properties", props_v, "a property is invalid")
        if "propertyNames" in schema:
            pnv = sub(schema["propertyNames"])
            add("propertyNames",
                lambda v, cx, pnv=pnv: not isinstance(v, dict)
                or _all(cx, (pnv(k, cx and cx.at(k)) for k in v)),
                "a property name is invalid")
        dep_req: list[tuple[str, tuple[str, ...]]] = []
        dep_sch: list[tuple[str, Fn]] = []
        for k, dep in (schema.get("dependencies") or {}).items():
            if isinstance(dep, list):
                dep_req.append((k, tuple(dep)))
            else:
                dep_sch.append((k, sub(dep)))
        dep_req += [(k, tuple(n)) for k, n in
                    (schema.get("dependentRequired") or {}).items()]
        dep_sch += [(k, sub(d)) for k, d in
                    (schema.get("dependentSchemas") or {}).items()]
        if dep_req:
            add("dependentRequired",
                lambda v, cx, dep_req=dep_req: not isinstance(v, dict) or all(
                    k not in v or all(n in v for n in needs)
                    for k, needs in dep_req),
                "a dependent property is missing")
        if dep_sch:
            add("dependentSchemas",
                lambda v, cx, dep_sch=dep_sch: not isinstance(v, dict) or _all(
                    cx, (_inplace(f, v, cx) for k, f in dep_sch if k in v)),
                "a dependent schema failed")

        # combinators (validators.go:435-484); anyOf/oneOf try every branch
        # when annotations are gathered, so each successful one contributes
        if "allOf" in schema:
            avs = [sub(s) for s in schema["allOf"]]
            add("allOf",
                lambda v, cx, avs=avs: _all(
                    cx, (_inplace(f, v, cx) for f in avs)),
                "a subschema failed")
        if "anyOf" in schema:
            ovs = [sub(s) for s in schema["anyOf"]]

            def any_v(v, cx, ovs=ovs):
                q = cx and cx.quiet()
                if q is None or q.ann is None:
                    return any(f(v, q) for f in ovs)
                return True in [_inplace(f, v, q) for f in ovs]

            add("anyOf", any_v, "no subschema matched")
        if "oneOf" in schema:
            xvs = [sub(s) for s in schema["oneOf"]]

            def one_v(v, cx, xvs=xvs):
                q = cx and cx.quiet()
                return [_inplace(f, v, q) for f in xvs].count(True) == 1

            add("oneOf", one_v, "not exactly one subschema matched")
        if "not" in schema:
            nv = sub(schema["not"])
            add("not",
                lambda v, cx, nv=nv: not _inplace(nv, v, cx and cx.quiet()),
                "subschema matched")
        if "if" in schema:
            cv = sub(schema["if"])
            tv = sub(schema["then"]) if "then" in schema else _true
            ev = sub(schema["else"]) if "else" in schema else _true
            add("if",
                lambda v, cx, cv=cv, tv=tv, ev=ev: _inplace(
                    tv if _inplace(cv, v, cx and cx.quiet()) else ev, v, cx),
                "branch failed")

        # unevaluated* LAST, over everything the node's own keywords and
        # in-place applicators evaluated; cx and cx.ann are always set here
        if uneval and "unevaluatedProperties" in schema:
            upv = sub(schema["unevaluatedProperties"])

            def uprops_v(v, cx, upv=upv):
                if not isinstance(v, dict):
                    return True
                seen = cx.ann.props
                new = [k for k in v if k not in seen]
                if not _all(cx, (upv(v[k], cx.at(k)) for k in new)):
                    return False
                seen.update(new)
                return True

            add("unevaluatedProperties", uprops_v,
                "an unevaluated property is invalid")
        if uneval and "unevaluatedItems" in schema:
            uiv = sub(schema["unevaluatedItems"])

            def uitems_v(v, cx, uiv=uiv):
                if not isinstance(v, list):
                    return True
                ann = cx.ann
                if not _all(cx, (uiv(v[i], cx.at(i))
                                 for i in range(ann.upto, len(v))
                                 if i not in ann.idxs)):
                    return False
                ann.upto = len(v)
                return True

            add("unevaluatedItems", uitems_v, "an unevaluated item is invalid")

        return run
