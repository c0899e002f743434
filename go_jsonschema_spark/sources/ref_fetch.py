"""Driver-side remote-``$ref`` pre-fetching.

The reference fetches remote ``$ref`` documents over HTTP at validation
time (/root/reference/schema_refs.go:300-345: GET, parse, key the
document by its retrieval URI, cache it for later refs).  A Spark
engine must never do that from executors — tasks have no business
opening sockets, and a fetch per task would hammer the origin.  This
module performs the same resolution ONCE, on the driver, at compile
time:

1. read the ``$ref``s that the schema's :class:`SchemaSpec` index
   collected at schema positions (``SchemaSpec.refs``, each with its
   base URI in scope) and keep those whose target *document* is an
   absolute http/https/file URI not already resolvable (registry,
   official meta-schemas, or a previously fetched document's ``$id``
   index),
2. fetch each document — through an on-disk cache and, for http(s),
   only when its host is explicitly allowlisted (or via a caller-
   supplied fetcher, which also makes offline replay trivial),
3. register it as a :class:`SchemaSpec` keyed by its retrieval URI
   (the ``AddSchema`` analogue, schema_refs.go:118-129), and
4. repeat for refs found inside fetched documents (bounded BFS), so
   transitive remote chains close before any executor sees the plan.

Executors then resolve every ref from the completed registry and never
touch the network — the no-runtime-IO stance of
:meth:`SchemaSpec.resolve_ref` is preserved.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any, Callable
from urllib.parse import urljoin, urlparse

from go_jsonschema_spark.spec import (
    SchemaSpec, SpecError, _norm_uri, meta_schemas,
)

__all__ = ["fetch_remote_refs", "register_remote_refs", "fetch_schema"]

_REMOTE_SCHEMES = ("http", "https", "file")


def _resolvable(uri: str, tables: list[dict[str, Any]]) -> bool:
    uri = _norm_uri(uri)
    if uri in meta_schemas():
        return True
    for t in tables:
        if uri in t:
            return True
        # a fetched/registered document's own $id index may anchor it
        for v in t.values():
            if isinstance(v, SchemaSpec) and uri in v.registry:
                return True
    return False


def _remote_doc_uris(
    spec: SchemaSpec, tables: list[dict[str, Any]]
) -> set[str]:
    want: set[str] = set()
    for ref, base in spec.refs:
        doc = ref.partition("#")[0]
        if not doc:
            continue  # fragment-only: local by definition
        full = _norm_uri(urljoin(base, doc) if base else doc)
        if urlparse(full).scheme not in _REMOTE_SCHEMES:
            continue  # relative with no base, urn:, etc — registry's job
        if not _resolvable(full, tables):
            want.add(full)
    return want


def _default_fetcher(allowlist: tuple[str, ...]) -> Callable[[str], str]:
    def fetch(url: str) -> str:
        from urllib.request import urlopen

        scheme = urlparse(url).scheme
        if scheme in ("http", "https"):
            host = urlparse(url).hostname or ""
            if host not in allowlist:
                raise SpecError(
                    f"remote $ref host {host!r} not in allowlist "
                    f"{sorted(allowlist)}; pass allowlist=(...,) to "
                    "fetch_remote_refs, or supply your own fetcher"
                )
        else:
            # file:// (and anything else _REMOTE_SCHEMES may grow) is a
            # local-filesystem read, which the host allowlist does NOT
            # govern — a schema with $ref "file:///..." would make the
            # driver read arbitrary local JSON while the allowlist looks
            # like it restricts all fetching (ADVICE r6).  The reference
            # fetches http only (schema_refs.go:308); callers who trust
            # file refs supply their own fetcher.
            raise SpecError(
                f"default fetcher refuses non-http(s) $ref {url!r}; "
                "supply fetcher= to fetch_remote_refs to allow "
                f"{scheme}:// documents"
            )
        with urlopen(url, timeout=10) as r:  # noqa: S310 - gated above
            return r.read().decode("utf-8")

    return fetch


def _cached(
    url: str, fetcher: Callable[[str], str], cache_dir: str | None
) -> str:
    if cache_dir is None:
        return fetcher(url)
    os.makedirs(cache_dir, exist_ok=True)
    key = hashlib.sha256(url.encode("utf-8")).hexdigest()
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return f.read()
    text = fetcher(url)
    json.loads(text)  # never cache an unparseable body
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.replace(tmp, path)
    return text


def fetch_schema(
    url: str,
    *,
    fetcher: Callable[[str], str] | None = None,
    allowlist: tuple[str, ...] = (),
    cache_dir: str | None = None,
) -> SchemaSpec:
    """Fetch ONE schema document and wrap it as a :class:`SchemaSpec`
    keyed by its retrieval URI (``base_uri=url`` gives relative ``$id``
    and fragment anchors inside it the right base, the ``$id``-injection
    behavior of schema_refs.go:318-327)."""
    fetcher = fetcher or _default_fetcher(allowlist)
    text = _cached(url, fetcher, cache_dir)
    try:
        doc = json.loads(text)
    except ValueError as e:
        raise SpecError(f"remote $ref {url!r}: invalid JSON body") from e
    return SchemaSpec(doc, base_uri=url)


def fetch_remote_refs(
    schema: Any,
    *,
    base_uri: str = "",
    registry: dict[str, Any] | None = None,
    fetcher: Callable[[str], str] | None = None,
    allowlist: tuple[str, ...] = (),
    cache_dir: str | None = None,
    max_docs: int = 64,
) -> dict[str, SchemaSpec]:
    """Transitively fetch every remote document ``schema`` needs and
    return ``{retrieval_uri: SchemaSpec}`` — merge it into the registry
    passed to :func:`interp.validate_instance` or register each entry on
    a :class:`ConstraintSuite`.  Documents already resolvable through
    ``registry`` (or the official meta-schemas) are never fetched.

    ``max_docs`` bounds the BFS: a schema that fans out into more remote
    documents than that is almost certainly a pointer loop or an
    unbounded crawl, and the driver should fail loudly rather than spider
    the origin."""
    fetcher = fetcher or _default_fetcher(allowlist)
    try:
        spec = SchemaSpec(schema, base_uri=base_uri)
    except SpecError:
        return {}  # malformed specs fail later, at compile/validate time
    # the schema's OWN $id index resolves refs like "folder/" that point
    # at an $id-carrying subschema of the input document — those are
    # local, never fetched (the suite's baseUriChange* cases)
    known: dict[str, Any] = {**spec.registry, **(registry or {})}
    fetched: dict[str, SchemaSpec] = {}
    pending = _remote_doc_uris(spec, [known])
    while pending:
        url = pending.pop()
        if url in known or url in fetched:
            continue
        if len(fetched) >= max_docs:
            raise SpecError(
                f"remote $ref expansion exceeded max_docs={max_docs} "
                f"documents (next: {url!r}); raise max_docs if the chain "
                "is genuinely this deep"
            )
        sp = fetch_schema(
            url, fetcher=fetcher, allowlist=allowlist, cache_dir=cache_dir
        )
        fetched[url] = sp
        pending |= _remote_doc_uris(sp, [known, fetched])
    return fetched


def register_remote_refs(
    suite: Any,
    *,
    fetcher: Callable[[str], str] | None = None,
    allowlist: tuple[str, ...] = (),
    cache_dir: str | None = None,
    max_docs: int = 64,
) -> list[str]:
    """Close a :class:`ConstraintSuite`'s registry over every remote
    ``$ref`` reachable from its column schemas, before ``compile`` —
    after this, executors resolve purely from the registry.  Returns the
    retrieval URIs that were fetched (empty = nothing remote)."""
    added: list[str] = []
    for schema in suite.spec.columns.values():
        if isinstance(schema, dict) and schema.get("kind") == "json":
            schema = schema.get("schema")
        got = fetch_remote_refs(
            schema,
            registry=suite.registry,
            fetcher=fetcher,
            allowlist=allowlist,
            cache_dir=cache_dir,
            max_docs=max_docs,
        )
        for url, sp in got.items():
            suite.register(url, sp)
            added.append(url)
    return added
