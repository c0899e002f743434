"""oov_rate (operators/tokens.py)."""
import pytest

from go_jsonschema_spark.operators.tokens import oov_rate


@pytest.fixture(scope="module")
def vocab(spark):
    return spark.createDataFrame(
        [(i,) for i in range(10)], ["token_id"])


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>")


def test_oov_counts(spark, vocab):
    df = _df(spark, [
        ("a", [1, 2, 3]),          # all in vocab
        ("b", [1, 99, 3, 100]),    # two OOV
        ("c", []),                 # empty -> 0/0 -> NULL rate
        ("d", None),               # NULL array -> same as empty
        ("e", [None, 5]),          # NULL element is OOV
    ])
    got = {r["doc_id"]: r for r in oov_rate(df, vocab).collect()}
    assert (got["a"]["n_tok"], got["a"]["n_oov"]) == (3, 0)
    assert got["a"]["oov_rate"] == 0.0
    assert (got["b"]["n_tok"], got["b"]["n_oov"]) == (4, 2)
    assert got["b"]["oov_rate"] == 0.5
    assert (got["c"]["n_tok"], got["c"]["n_oov"]) == (0, 0)
    assert got["c"]["oov_rate"] is None
    assert (got["d"]["n_tok"], got["d"]["n_oov"]) == (0, 0)
    assert (got["e"]["n_tok"], got["e"]["n_oov"]) == (2, 1)


def test_oov_vocab_nulls_ignored(spark):
    vocab = spark.createDataFrame(
        [(1,), (None,), (2,)], "token_id int")
    df = _df(spark, [("a", [1, 2, 3])])
    r = oov_rate(df, vocab).collect()[0]
    assert r["n_oov"] == 1  # 3 is OOV; NULL vocab row grants nothing


def test_oov_vocab_ids_above_2_53_stay_exact(spark):
    """A NULL vocab row must not round the other ids through float64:
    2**53 + 1 is in the vocabulary, its float neighbour 2**53 is not."""
    big = 2**53 + 1
    vocab = spark.createDataFrame([(None,), (big,), (7,)], "token_id bigint")
    df = spark.createDataFrame(
        [("a", [big, 7]), ("b", [big - 1, big, None])],
        "doc_id string, tokens array<bigint>")
    got = {r["doc_id"]: r["n_oov"] for r in oov_rate(df, vocab).collect()}
    assert got == {"a": 0, "b": 2}  # 2**53 and the NULL element
