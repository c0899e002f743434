"""Driver-side remote-$ref fetching (schema_refs.go:300-345 parity
without runtime HTTP from executors).

The refRemote.json suite cases run end-to-end with NO manual
``register`` calls: :func:`fetch_remote_refs` discovers, fetches
(offline here, via a fetcher that maps the suite's
``http://localhost:1234/...`` URLs onto a remotes directory)
and registers every document the schema transitively needs.  The
fetch-mechanics tests serve the three JSON-Schema-Test-Suite remotes
they touch from an in-test fixture (:data:`FIXTURE_REMOTES`).
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from go_jsonschema_spark.interp import validate_instance
from go_jsonschema_spark.sources.ref_fetch import (
    fetch_remote_refs,
    fetch_schema,
    register_remote_refs,
)
from go_jsonschema_spark.spec import SchemaSpec, SpecError

SUITE_ROOT = "/root/reference/testdata"
REMOTES = os.path.join(SUITE_ROOT, "remotes")
DRAFTS = [("draft4", 4), ("draft6", 6), ("draft7", 7),
          ("draft2019-09", 2019), ("draft2020-12", 2019)]

# JSON-Schema-Test-Suite remotes/ documents, verbatim contents
FIXTURE_REMOTES = {
    "integer.json": {"type": "integer"},
    "subSchemas.json": {
        "integer": {"type": "integer"},
        "refToInteger": {"$ref": "#/integer"},
    },
    "baseUriChangeFolderInSubschema/folderInteger.json": {
        "type": "integer"},
}


@pytest.fixture
def remotes(tmp_path):
    """The :data:`FIXTURE_REMOTES` tree written under a temp dir."""
    root = tmp_path / "remotes"
    for rel, doc in FIXTURE_REMOTES.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(json.dumps(doc), encoding="utf-8")
    return str(root)


def _suite_fetcher(counter: list[str] | None = None, root: str = REMOTES):
    """Map the suite's http://localhost:1234/<rel> URLs to an on-disk
    remotes tree — offline stand-in for the reference's :1234 server."""

    def fetch(url: str) -> str:
        assert url.startswith("http://localhost:1234/"), url
        rel = url[len("http://localhost:1234/"):]
        if counter is not None:
            counter.append(url)
        with open(os.path.join(root, rel), encoding="utf-8") as f:
            return f.read()

    return fetch


def test_refremote_suite_no_manual_registration():
    """All refRemote cases pass with the registry built AUTOMATICALLY
    by fetch_remote_refs — the end-user flow for a schema that points at
    real remote documents."""
    mismatches, n = [], 0
    for ddir, draft in DRAFTS:
        with open(os.path.join(SUITE_ROOT, ddir, "refRemote.json")) as f:
            groups = json.load(f)
        for group in groups:
            registry = fetch_remote_refs(
                group["schema"], fetcher=_suite_fetcher())
            spec = SchemaSpec(group["schema"])
            for t in group["tests"]:
                n += 1
                got = validate_instance(
                    group["schema"], t["data"], draft=draft, spec=spec,
                    registry=registry, assert_formats=draft < 2019,
                ).valid
                if got != t["valid"]:
                    mismatches.append(
                        f"{ddir}: {group['description']} :: "
                        f"{t['description']}")
    assert n == 83 and not mismatches, "\n".join(mismatches)


def test_fetch_is_minimal_and_transitive(remotes):
    """Only referenced documents are fetched, and documents referenced
    BY fetched documents are pulled in too (bounded BFS)."""
    fetched_urls: list[str] = []
    schema = {"$ref": "http://localhost:1234/subSchemas.json#/integer"}
    got = fetch_remote_refs(schema,
                            fetcher=_suite_fetcher(fetched_urls, remotes))
    assert set(got) == {"http://localhost:1234/subSchemas.json"}
    n_remote_files = len(glob.glob(os.path.join(remotes, "**", "*.json"),
                                   recursive=True))
    assert len(fetched_urls) == 1 < n_remote_files

    # transitive: draft7 "base URI change - change folder in subschema"
    schema2 = {
        "$id": "http://localhost:1234/scope_change_defs2.json",
        "type": "object",
        "properties": {"list": {"$ref": "baseUriChangeFolderInSubschema/"}},
        "definitions": {
            "baz": {
                "$id": "baseUriChangeFolderInSubschema/",
                "definitions": {
                    "bar": {"$ref": "folderInteger.json"},
                },
            },
        },
    }
    got2 = fetch_remote_refs(schema2, fetcher=_suite_fetcher(root=remotes))
    assert ("http://localhost:1234/baseUriChangeFolderInSubschema/"
            "folderInteger.json" in got2)


def test_refs_in_data_positions_are_not_fetched():
    schema = {
        "enum": [{"$ref": "http://localhost:1234/nope.json"}],
        "const": {"$ref": "http://localhost:1234/nope2.json"},
        "x-vendor": {"$ref": "http://localhost:1234/nope3.json"},
    }
    assert fetch_remote_refs(schema, fetcher=_suite_fetcher()) == {}


def test_already_registered_documents_are_not_refetched(remotes):
    url = "http://localhost:1234/integer.json"
    pre = {url: fetch_schema(url, fetcher=_suite_fetcher(root=remotes))}
    counter: list[str] = []
    got = fetch_remote_refs({"$ref": url}, registry=pre,
                            fetcher=_suite_fetcher(counter, remotes))
    assert got == {} and counter == []


def _file_fetcher():
    """Explicit local-file fetcher — file:// is caller-opt-in only
    (ADVICE r6: the default fetcher's allowlist governs http(s) hosts,
    so it refuses local reads rather than silently allowing them)."""
    from urllib.request import urlopen

    def fetch(url: str) -> str:
        with urlopen(url) as r:  # noqa: S310 - test fixture opt-in
            return r.read().decode("utf-8")

    return fetch


def test_file_url_requires_explicit_fetcher(tmp_path):
    """The DEFAULT fetcher refuses file:// (ADVICE r6 — an empty host
    allowlist must not leave local reads open); an explicit
    caller-supplied fetcher serves the manifest-driven
    pre-registration path."""
    doc = {"type": "integer", "minimum": 3}
    p = tmp_path / "thing.json"
    p.write_text(json.dumps(doc))
    url = p.as_uri()
    with pytest.raises(SpecError, match="file"):
        fetch_remote_refs({"$ref": url})
    got = fetch_remote_refs({"$ref": url}, fetcher=_file_fetcher())
    assert list(got) == [url] and got[url].root["minimum"] == 3
    r = validate_instance({"$ref": url}, 5, draft=7, registry=got)
    assert r.valid
    assert not validate_instance({"$ref": url}, 1, draft=7,
                                 registry=got).valid


def test_http_requires_allowlist():
    with pytest.raises(SpecError, match="allowlist"):
        fetch_remote_refs(
            {"$ref": "http://example.invalid/schema.json"})


def test_cache_dir_round_trip(tmp_path, remotes):
    calls: list[str] = []
    url = "http://localhost:1234/integer.json"
    cache = str(tmp_path / "cache")
    a = fetch_schema(url, fetcher=_suite_fetcher(calls, remotes),
                     cache_dir=cache)
    b = fetch_schema(url, fetcher=_suite_fetcher(calls, remotes),
                     cache_dir=cache)
    assert len(calls) == 1  # second read came from the cache
    assert a.root == b.root


def test_max_docs_bound(tmp_path):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps({"$ref": b.as_uri()}))
    b.write_text(json.dumps({"type": "integer"}))
    with pytest.raises(SpecError, match="max_docs"):
        fetch_remote_refs({"$ref": a.as_uri()}, max_docs=1,
                          fetcher=_file_fetcher())
    got = fetch_remote_refs({"$ref": a.as_uri()}, max_docs=2,
                            fetcher=_file_fetcher())
    assert len(got) == 2


def test_register_remote_refs_on_suite(tmp_path):
    """ConstraintSuite closure: fetch + register before compile, then the
    suite validates a DataFrame column through the remote schema without
    any manual register calls.  (Pure registry check here — the Spark run
    itself is covered by the engine tests; this asserts the wiring.)"""
    from go_jsonschema_spark import ConstraintSuite, TableSpec

    doc = {"type": "string", "enum": ["en", "de"]}
    p = tmp_path / "lang.json"
    p.write_text(json.dumps(doc))
    url = p.as_uri()
    ts = TableSpec(columns={"lang": {"$ref": url}})
    suite = ConstraintSuite(ts, key="doc_id")
    added = register_remote_refs(suite, fetcher=_file_fetcher())
    assert added == [url]
    assert url in suite.registry
    # second call: already resolvable, nothing re-fetched
    assert register_remote_refs(suite, fetcher=_file_fetcher()) == []
