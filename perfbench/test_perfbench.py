"""Tests of the benchmark's own checking: a correct operation passes, and an
operation whose output disagrees with the oracle in any checked value is
counted as a failed operation.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

import gen
import oracle
import run
import workloads

ROWS = 2000


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, str(run.ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(run.ROOT), os.environ.get("PYTHONPATH")) if p)
    session = run.start_session()
    yield session
    run.shutdown(session)


def _input(tmp_path, wl):
    data = tmp_path / wl.kind
    gen.write_input(wl.kind, ROWS, 7, str(data))
    glob = str(data / "*.parquet")
    if wl.kind == "sequences":
        return str(data), oracle.sequences_oracle(glob)
    return str(data), oracle.events_oracle(glob, wl.columns)


def _perturbations(orc: dict):
    """Copies of ``orc`` with one checked value changed."""
    part = sorted(orc["partitions"])[0]
    a = copy.deepcopy(orc)
    a["partitions"][part]["n_fail"] += 1
    yield "n_fail", a
    b = copy.deepcopy(orc)
    b["partitions"][part]["n_rows"] -= 1
    yield "n_rows", b
    c = copy.deepcopy(orc)
    fails = c["partitions"][part]["fail_by_constraint"]
    cid = sorted(fails)[0]
    fails[cid] += 1
    yield f"fail_by_constraint[{cid}]", c
    d = copy.deepcopy(orc)
    d["total"] += 1
    yield "total", d


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_perturbed_oracle_counts_as_failed(spark, tmp_path, name):
    wl = workloads.WORKLOADS[name]
    path, orc = _input(tmp_path, wl)
    ctx = wl.make_ctx(spark, path)

    counts = run.Counts()
    assert run.checked_op(wl, ctx, orc, counts, fingerprint=True) is not None
    assert (counts.attempted, counts.failed) == (1, 0)

    for label, bad in _perturbations(orc):
        counts = run.Counts()
        assert run.checked_op(wl, ctx, bad, counts) is None, label
        assert (counts.attempted, counts.failed) == (1, 1), label

    bad = dict(orc, fingerprint="0" * 64)
    counts = run.Counts()
    assert run.checked_op(wl, ctx, bad, counts, fingerprint=True) is None
    assert counts.failed == 1


def test_verdict_counts_probe_checks_oracle(spark, tmp_path):
    wl = workloads.WORKLOADS["seq_full"]
    path, orc = _input(tmp_path, wl)
    ctx = wl.make_ctx(spark, path)
    assert workloads.probe_verdict_counts(ctx, workloads.NULL_TRACER,
                                          orc) == []
    for label, bad in _perturbations(orc):
        if label != "total":  # verdict_counts produces no violation rows
            assert workloads.probe_verdict_counts(
                ctx, workloads.NULL_TRACER, bad), label


def test_inputs_repeat_per_seed(tmp_path):
    for kind in ("sequences", "events"):
        a, b, c = (tmp_path / f"{kind}-{i}" for i in range(3))
        gen.write_input(kind, 500, 3, str(a))
        gen.write_input(kind, 500, 3, str(b))
        gen.write_input(kind, 500, 4, str(c))
        read = lambda d: [(d / f).read_bytes() for f in sorted(os.listdir(d))]
        assert read(a) == read(b)
        assert read(a) != read(c)


def test_oracle_plants_are_present(tmp_path):
    """Every planted defect shows up, so the oracle checks real failures."""
    _, seq = _input(tmp_path, workloads.WORKLOADS["seq_full"])
    found = set()
    for v in seq["partitions"].values():
        found |= set(v["fail_by_constraint"])
    assert {"tokens.items", "tokens.minItems", "n_tok.minimum",
            "source.pattern", "shape.n_tok"} <= found
    assert all(n > 0 for n in seq["table_checks"].values())
    _, ev = _input(tmp_path, workloads.WORKLOADS["json_events"])
    found = set()
    for v in ev["partitions"].values():
        found |= set(v["fail_by_constraint"])
    assert found == {"props.json", "attrs.json"}
