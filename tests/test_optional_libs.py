"""Swap-point tests for optional cluster libraries (idna, Iceberg
runtime): each real path is exercised when the library is importable and
skipped cleanly when not, so cluster enablement is config-only.  The suite
stays green BOTH with and without the libraries installed."""

from __future__ import annotations

import pytest


def _has(mod: str) -> bool:
    import importlib

    try:
        importlib.import_module(mod)
        return True
    except ImportError:
        return False


# ---------------------------------------------------------------------------
# idna strict idn-hostname
# ---------------------------------------------------------------------------

def test_idn_hostname_strict_with_idna():
    pytest.importorskip("idna")
    from go_jsonschema_spark.interp import _FORMAT_CHECKS

    chk = _FORMAT_CHECKS["idn-hostname"]
    assert chk("실례.테스트") is True
    assert chk("example.com") is True
    # leading HANGUL TONE MARK / lone KATAKANA MIDDLE DOT are invalid per
    # RFC 5892 contextual rules (reference: x/net/idna ValidateLabels)
    assert chk("〮실례.실례") is False
    assert chk("・") is False
    assert chk("") is False


# ---------------------------------------------------------------------------
# Iceberg checkpoint store
# ---------------------------------------------------------------------------

def test_iceberg_store_gates_cleanly(spark):
    from go_jsonschema_spark.checkpoint import IcebergCheckpointStore

    if IcebergCheckpointStore.available(spark):
        pytest.skip("iceberg runtime present; roundtrip test covers it")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        IcebergCheckpointStore(spark, "ck.db.checkpoints")


def test_iceberg_store_roundtrip(spark, tmp_path):
    """Real MERGE protocol — runs only when the Iceberg runtime jar is on
    the classpath and a 'ck' hadoop catalog is configured (cluster CI)."""
    from go_jsonschema_spark.checkpoint import IcebergCheckpointStore

    if not IcebergCheckpointStore.available(spark):
        pytest.skip("iceberg-spark-runtime not on classpath (sandbox)")
    if "ck" not in spark.conf.get("spark.sql.catalog.ck", ""):
        try:
            spark.conf.get("spark.sql.catalog.ck")
        except Exception:
            pytest.skip("no spark.sql.catalog.ck configured")
    store = IcebergCheckpointStore(spark, "ck.db.checkpoints_test")
    store.mark_complete("r1", "b0_abc", ["a", "b"], {"a": {"n_rows": 1}}, "/o")
    store.mark_complete("r1", "b0_abc", ["a", "b"], {"a": {"n_rows": 2}}, "/o")
    got = store.completed("r1")
    assert list(got) == ["b0_abc"]
    assert got["b0_abc"]["metrics"]["a"]["n_rows"] == 2  # MERGE idempotent
