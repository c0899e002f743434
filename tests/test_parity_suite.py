"""Parity harness: the official JSON-Schema-Test-Suite (vendored read-only by
the reference at /root/reference/testdata/) re-run through the engine's
interpreter — the accept/reject sets must match exactly.

Mirrors the reference's own test driver (validate_test.go:179-390) including
its skip lists: remote-ref files (the reference spins an HTTP server we
don't, validate_test.go:84-98), ecmascript-regex and content
(validate_test.go:251-263), and the format edge-case files it skips
(validate_test.go:234-250).

These tests are pure Python (no Spark session) — the typed-column compiler
is covered separately in test_compile_typed.py.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from go_jsonschema_spark.interp import validate_instance
from go_jsonschema_spark.spec import SchemaSpec

SUITE_ROOT = "/root/reference/testdata"

# Files the reference's driver skips (validate_test.go:234-268).
SKIP_FILES = {
    "refRemote.json",  # needs the :1234 HTTP server
    "ecmascript-regex.json",  # regex dialect gap, skipped by reference too
    "content.json",  # content* keywords not validated (same as reference)
}
SKIP_FORMAT_FILES = {
    # reference skip list, validate_test.go:234-250
    "idn-hostname.json",
    "ipv4.json",
    "ipv6.json",
    "iri.json",
    "iri-reference.json",
    "uri.json",
    "uri-reference.json",
    "relative-json-pointer.json",
}

DRAFTS = [("draft4", 4), ("draft6", 6), ("draft7", 7)]


def _cases(draft_dir: str, subdir: str = "", skip: set[str] = SKIP_FILES):
    root = os.path.join(SUITE_ROOT, draft_dir, subdir)
    out = []
    for path in sorted(glob.glob(os.path.join(root, "*.json"))):
        name = os.path.basename(path)
        if name in skip:
            continue
        with open(path) as f:
            groups = json.load(f)
        for gi, group in enumerate(groups):
            for ti, test in enumerate(group["tests"]):
                out.append(
                    pytest.param(
                        group["schema"],
                        test["data"],
                        test["valid"],
                        id=f"{draft_dir}/{subdir}{name}[{gi}.{ti}] {group['description'][:40]} :: {test['description'][:40]}",
                    )
                )
    return out


# only the corpus-reading tests skip without the corpus;
# test_spec_self_validation needs none
needs_corpus = pytest.mark.skipif(
    not os.path.isdir(SUITE_ROOT), reason="reference test corpus not present"
)


@needs_corpus
@pytest.mark.parametrize("draft_dir,draft", DRAFTS)
def test_mandatory_suite(draft_dir: str, draft: int):
    """Whole-draft sweep in one test (fast) — per-case IDs would be 2000+
    parametrizations; aggregate instead and report every mismatch."""
    mismatches = []
    n = 0
    for path in sorted(glob.glob(os.path.join(SUITE_ROOT, draft_dir, "*.json"))):
        name = os.path.basename(path)
        if name in SKIP_FILES:
            continue
        with open(path) as f:
            groups = json.load(f)
        for group in groups:
            spec = SchemaSpec(group["schema"])
            for test in group["tests"]:
                n += 1
                got = validate_instance(
                    group["schema"], test["data"], draft=draft, spec=spec,
                    assert_formats=False,
                ).valid
                if got != test["valid"]:
                    mismatches.append(
                        f"{name}: {group['description']} :: {test['description']}"
                        f" (got {got}, want {test['valid']})"
                    )
    assert not mismatches, f"{len(mismatches)}/{n} mismatches:\n" + "\n".join(
        mismatches[:25]
    )
    assert n > 500  # sanity: the corpus actually loaded


@needs_corpus
@pytest.mark.parametrize("draft_dir,draft", DRAFTS)
def test_optional_format_suite(draft_dir: str, draft: int):
    """optional/format files, minus the reference's own skip list."""
    mismatches = []
    n = 0
    root = os.path.join(SUITE_ROOT, draft_dir, "optional", "format")
    for path in sorted(glob.glob(os.path.join(root, "*.json"))):
        name = os.path.basename(path)
        if name in SKIP_FORMAT_FILES:
            continue
        with open(path) as f:
            groups = json.load(f)
        for group in groups:
            spec = SchemaSpec(group["schema"])
            for test in group["tests"]:
                n += 1
                got = validate_instance(
                    group["schema"], test["data"], draft=draft, spec=spec,
                    assert_formats=True,
                ).valid
                if got != test["valid"]:
                    mismatches.append(
                        f"{name}: {group['description']} :: {test['description']}"
                        f" (got {got}, want {test['valid']})"
                    )
    assert not mismatches, f"{len(mismatches)}/{n} mismatches:\n" + "\n".join(
        mismatches[:25]
    )


@needs_corpus
def test_optional_content():
    """optional/content.json — contentEncoding/contentMediaType assertions
    (the reference skips this file; we validate them)."""
    path = os.path.join(SUITE_ROOT, "draft7", "optional", "content.json")
    mismatches = []
    with open(path) as f:
        groups = json.load(f)
    for group in groups:
        spec = SchemaSpec(group["schema"])
        for test in group["tests"]:
            got = validate_instance(group["schema"], test["data"], spec=spec).valid
            if got != test["valid"]:
                mismatches.append(f"{group['description']} :: {test['description']}")
    assert not mismatches, "\n".join(mismatches)


@needs_corpus
def test_optional_bignum():
    """optional/bignum.json — arbitrary-precision parity
    (validators.go:486-560 big.Float semantics via Fraction)."""
    path = os.path.join(SUITE_ROOT, "draft7", "optional", "bignum.json")
    mismatches = []
    with open(path) as f:
        groups = json.load(f)
    for group in groups:
        spec = SchemaSpec(group["schema"])
        for test in group["tests"]:
            got = validate_instance(
                group["schema"], test["data"], spec=spec
            ).valid
            if got != test["valid"]:
                mismatches.append(f"{group['description']} :: {test['description']}")
    assert not mismatches, "\n".join(mismatches)


@needs_corpus
def test_draft2019_keywords_beyond_reference():
    """dependentRequired/dependentSchemas/min+maxContains — 2019-09
    keywords the reference skips (validate_test.go:37-56) but this engine
    supports; run their official suite files."""
    files = [
        ("draft2019-09", "dependentRequired.json"),
        ("draft2019-09", "dependentSchemas.json"),
        ("draft2019-09", "maxContains.json"),
        ("draft2019-09", "minContains.json"),
        ("draft2019-09", "anchor.json"),
        ("draft2019-09", "unevaluatedProperties.json"),
        ("draft2019-09", "unevaluatedItems.json"),
        ("draft2019-09", "recursiveRef.json"),
        ("draft2020-12", "prefixItems.json"),
        ("draft2020-12", "items.json"),
        ("draft2020-12", "anchor.json"),
        ("draft2020-12", "unevaluatedProperties.json"),
        ("draft2020-12", "unevaluatedItems.json"),
        ("draft2020-12", "dynamicRef.json"),
    ]
    mismatches = []
    for ddir, name in files:
        path = os.path.join(SUITE_ROOT, ddir, name)
        with open(path) as f:
            groups = json.load(f)
        for group in groups:
            spec = SchemaSpec(group["schema"])
            for t in group["tests"]:
                got = validate_instance(
                    group["schema"], t["data"], spec=spec, draft=2019
                ).valid
                if got != t["valid"]:
                    mismatches.append(
                        f"{name}: {group['description']} :: {t['description']}"
                    )
    assert not mismatches, "\n".join(mismatches)


@needs_corpus
def test_full_draft2019_and_2020_mandatory_sweep():
    """WHOLE-DRAFT sweep for 2019-09 and 2020-12 (every mandatory file,
    refRemote covered separately via the registry): 1009 + 1001 cases at
    100%.  The reference skips both drafts entirely
    (validate_test.go:37-80).  Formats are annotation-only in these drafts
    per spec → assert_formats=False."""
    tot = 0
    mismatches = []
    for ddir in ("draft2019-09", "draft2020-12"):
        for path in sorted(glob.glob(os.path.join(SUITE_ROOT, ddir, "*.json"))):
            name = os.path.basename(path)
            if name == "refRemote.json":
                continue
            with open(path) as f:
                groups = json.load(f)
            for group in groups:
                spec = SchemaSpec(group["schema"])
                for t in group["tests"]:
                    tot += 1
                    got = validate_instance(
                        group["schema"], t["data"], draft=2019, spec=spec,
                        assert_formats=False,
                    ).valid
                    if got != t["valid"]:
                        mismatches.append(
                            f"{ddir}/{name}: {group['description']} :: "
                            f"{t['description']}"
                        )
    assert tot == 2010 and not mismatches, (
        f"{tot} cases, mismatches:\n" + "\n".join(mismatches[:20])
    )


@needs_corpus
def test_draft2019_2020_optional_format_assertion_mode():
    """optional/format for 2019-09 + 2020-12 in ASSERTION mode (the drafts
    default to annotation-only; assertion mode is the engine's
    configurable strict mode) — 153 cases per draft pass, minus the
    reference's own format skip list (validate_test.go:234-250)."""
    skip = {
        "idn-hostname.json", "ipv4.json", "ipv6.json", "iri.json",
        "iri-reference.json", "uri.json", "uri-reference.json",
        "relative-json-pointer.json", "ecmascript-regex.json",
    }
    mismatches = []
    n = 0
    for ddir in ("draft2019-09", "draft2020-12"):
        root = os.path.join(SUITE_ROOT, ddir, "optional", "format")
        for path in sorted(glob.glob(os.path.join(root, "*.json"))):
            if os.path.basename(path) in skip:
                continue
            with open(path) as f:
                groups = json.load(f)
            for group in groups:
                spec = SchemaSpec(group["schema"])
                for t in group["tests"]:
                    n += 1
                    got = validate_instance(
                        group["schema"], t["data"], draft=2019, spec=spec,
                        assert_formats=True,
                    ).valid
                    if got != t["valid"]:
                        mismatches.append(
                            f"{ddir}/{os.path.basename(path)}: "
                            f"{group['description']} :: {t['description']}"
                        )
    assert n >= 300 and not mismatches, "\n".join(mismatches[:10])


@needs_corpus
def test_refremote_via_registry():
    """refRemote.json WITHOUT any HTTP: the remote documents are
    pre-registered as SchemaSpecs keyed by their URLs (the AddSchema
    analogue — executors never fetch).  The reference needs a live :1234
    file server for these (validate_test.go:84-98); the registry passes
    all 49 cases offline."""
    remotes_root = os.path.join(SUITE_ROOT, "remotes")
    registry = {}
    for path in glob.glob(os.path.join(remotes_root, "**", "*.json"),
                          recursive=True):
        rel = os.path.relpath(path, remotes_root)
        url = f"http://localhost:1234/{rel}"
        with open(path) as f:
            registry[url] = SchemaSpec(json.load(f), base_uri=url)

    mismatches = []
    n = 0
    dirs = list(DRAFTS) + [("draft2019-09", 2019), ("draft2020-12", 2019)]
    for ddir, draft in dirs:
        with open(os.path.join(SUITE_ROOT, ddir, "refRemote.json")) as f:
            groups = json.load(f)
        for group in groups:
            spec = SchemaSpec(group["schema"])
            for t in group["tests"]:
                n += 1
                got = validate_instance(
                    group["schema"], t["data"], draft=draft, spec=spec,
                    registry=registry, assert_formats=draft < 2019,
                ).valid
                if got != t["valid"]:
                    mismatches.append(
                        f"{ddir}: {group['description']} :: {t['description']}"
                    )
    assert n == 83 and not mismatches, "\n".join(mismatches)


def test_spec_self_validation():
    """Entry point B analogue (validate.go:12-29): specs validate against
    the embedded meta-schema at compile time."""
    from go_jsonschema_spark.spec import validate_spec_against_metaschema

    assert validate_spec_against_metaschema({"type": "integer"}) == []
    assert validate_spec_against_metaschema(True) == []
    assert validate_spec_against_metaschema({"type": "integr"}) != []
    assert validate_spec_against_metaschema({"minLength": -1}) != []
    for draft in (4, 6, 7):
        assert validate_spec_against_metaschema(
            {"enum": [1, "a"], "minimum": 0}, draft=draft
        ) == []


@needs_corpus
def test_roundtrip_spec_json():
    """Spec ⇄ JSON round-trip equality — the parser-completeness oracle
    (validate_test.go:293-316 analogue): every suite schema survives
    load → dump → load unchanged (unknown keywords preserved)."""
    for path in sorted(glob.glob(os.path.join(SUITE_ROOT, "draft7", "*.json")))[:20]:
        with open(path) as f:
            groups = json.load(f)
        for group in groups:
            if not isinstance(group["schema"], (dict, bool)):
                continue
            s = SchemaSpec(group["schema"])
            again = SchemaSpec(json.loads(json.dumps(s.root)))
            assert again.root == group["schema"]
