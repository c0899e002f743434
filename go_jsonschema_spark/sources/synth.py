"""Deterministic synthetic `sequences` table (the north-star input shape).

Generates ``(doc_id string, tokens array<int>, n_tok int, source string)``
per FIXTURES.md §1 with planted violations, **entirely with Spark-native
expressions** — ``spark.range`` + ``xxhash64``-derived pseudo-randomness, no
driver-side materialization, so the same generator scales from 10^3 test
rows to bench-scale without touching driver memory.  Determinism: xxhash64
is a pure function of (id, salt), so any row count yields the same rows.

Planted violations (each exercises one engine check; expected counts are
exact closed-form functions of the plant rates):

- duplicate ``doc_id`` — a HOT key (``doc_hot``) on ~5% of rows (skew
  exercise for the uniqueness agg's partial combine) + scattered pairwise dups
- out-of-dimension ``source`` values (referential anti-join hits)
- ``n_tok != size(tokens)`` rows (shape row-check)
- out-of-range tokens (``>= VOCAB``; items/forall check,
  /root/reference/validators.go:143-149 analogue)
- empty ``tokens`` rows (minItems, validators.go:181-185 analogue)
- one drifted slice: ``part = 7`` has n_tok shifted +DRIFT_SHIFT (KS/PSI
  fixture)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

VOCAB = 32000
N_SOURCES = 20
MAX_LEN = 512
DRIFT_SHIFT = 256
N_PARTS = 8

# plant rates, per mille of rows (deterministic via xxhash64 bucketing)
HOT_KEY_PCT = 50  # 5.0% of rows collapse onto doc_hot
PAIR_DUP_PCT = 10  # 1.0% duplicate their neighbour's id
BAD_SOURCE_PCT = 8  # 0.8% out-of-dimension source
SHAPE_PCT = 6  # 0.6% n_tok mismatch
OOR_TOKEN_PCT = 5  # 0.5% contain one out-of-range token
EMPTY_PCT = 4  # 0.4% empty tokens array


def _bucket(salt: int) -> F.Column:
    """Deterministic per-row bucket in [0, 1000)."""
    return F.pmod(F.xxhash64(F.col("id"), F.lit(salt)), F.lit(1000))


def sequences(
    spark: SparkSession,
    n_rows: int,
    *,
    parts: int = N_PARTS,
    clean: bool = False,
) -> DataFrame:
    """The synthetic sequences DataFrame; ``clean=True`` disables plants
    (for throughput benchmarking of the pure validation pass)."""
    df = spark.range(n_rows)  # distributed, no shuffle

    base_len = (F.pmod(F.xxhash64("id"), F.lit(MAX_LEN - 1)) + 1).cast("int")
    part = F.pmod(F.xxhash64(F.col("id"), F.lit(11)), F.lit(parts)).cast("int")
    # drifted slice: part == parts-1 shifts lengths up (KS/PSI fixture)
    length = (
        base_len
        if clean
        else F.when(
            part == parts - 1,
            F.least(base_len + F.lit(DRIFT_SHIFT), F.lit(MAX_LEN)),
        ).otherwise(base_len)
    )

    tokens = F.transform(
        F.sequence(F.lit(1), length),
        lambda i: F.pmod(F.xxhash64(F.col("id"), i), F.lit(VOCAB)).cast("int"),
    )

    doc_id = F.format_string("doc%012d", F.col("id"))
    source = F.concat(
        F.lit("src"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(N_SOURCES)).cast("string"),
    )

    if not clean:
        # hot duplicate key (skew) + scattered pair duplicates
        doc_id = (
            F.when(_bucket(21) < HOT_KEY_PCT, F.lit("doc_hot"))
            .when(
                _bucket(22) < PAIR_DUP_PCT,
                F.format_string(
                    "doc%012d", F.col("id") - F.pmod(F.col("id"), F.lit(2)) - 2
                ),
            )
            .otherwise(doc_id)
        )
        source = F.when(
            _bucket(23) < BAD_SOURCE_PCT,
            F.concat(F.lit("unknown_src_"), (_bucket(24) % 3).cast("string")),
        ).otherwise(source)
        # one out-of-range token appended
        tokens = F.when(
            _bucket(25) < OOR_TOKEN_PCT,
            F.concat(tokens, F.array(F.lit(VOCAB + 7).cast("int"))),
        ).otherwise(tokens)
        # containsNull=False on the empty-plant cast keeps the WHOLE
        # tokens column's element type non-nullable (every other branch
        # already is), so the written parquet schema declares the
        # tokenizer contract "tokens are never null" and the compiler's
        # items fast path elides its per-element null scan — worth ~half
        # the predicate pass at 16M rows (compile.py)
        tokens = F.when(
            _bucket(26) < EMPTY_PCT,
            F.array().cast(T.ArrayType(T.IntegerType(), False)),
        ).otherwise(tokens)

    # declare the tokenizer contract in the SCHEMA: ArrayTransform marks
    # its output element nullable no matter what the lambda returns, so
    # wrap in an identity coalesce (non-null lambda → containsNull=false).
    # No row ever carries a null token; this makes the parquet schema SAY
    # so, letting the compiler elide its per-element null scan — ~half
    # the flagship predicate pass (compile.py items fast path).
    tokens = F.transform(tokens, lambda x: F.coalesce(x, F.lit(0)))

    n_tok = F.size(tokens)
    if not clean:
        n_tok = F.when(_bucket(27) < SHAPE_PCT, F.size(tokens) + 1).otherwise(
            F.size(tokens)
        )

    return df.select(
        doc_id.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.cast("int").alias("n_tok"),
        source.alias("source"),
        part.alias("part"),
    )


def skewed_sequences(
    spark: SparkSession,
    n_rows: int,
    *,
    zipf_vocab: int = 1000,
) -> DataFrame:
    """Zipf-skewed token sequences ``(doc_id, tokens, n_tok, source)`` —
    the heavy-hitter fixture (uniform xxhash tokens have NO heavy
    hitters, so :func:`sequences` cannot exercise top-k machinery).

    ``token = floor(zipf_vocab / (1 + u))`` with ``u`` uniform on
    [0, zipf_vocab) gives P(token=t) ≈ t⁻² (a Zipf-2 head): token 1
    covers ~half the stream.  Entirely Spark-native and deterministic
    (xxhash64 of (id, position)), like :func:`sequences`."""
    df = spark.range(n_rows)
    length = (F.pmod(F.xxhash64("id"), F.lit(MAX_LEN - 1)) + 1).cast("int")
    u = lambda i: F.pmod(F.xxhash64(F.col("id"), i), F.lit(zipf_vocab))
    tokens = F.transform(
        F.sequence(F.lit(1), length),
        lambda i: F.floor(F.lit(zipf_vocab) / (u(i) + 1)).cast("int"),
    )
    tokens = F.transform(tokens, lambda x: F.coalesce(x, F.lit(0)))
    return df.select(
        F.format_string("doc%012d", F.col("id")).alias("doc_id"),
        tokens.alias("tokens"),
        F.size(tokens).cast("int").alias("n_tok"),
        F.concat(
            F.lit("src"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(3)),
                   F.lit(N_SOURCES)).cast("string"),
        ).alias("source"),
    )


def sources_dim(spark: SparkSession) -> DataFrame:
    """Allowed-values dimension ``(source, active)`` — the broadcast side of
    the referential check (FIXTURES.md §1)."""
    return spark.range(N_SOURCES).select(
        F.concat(F.lit("src"), F.col("id").cast("string")).alias("source"),
        F.lit(True).alias("active"),
    )


def ntok_baseline(
    spark: SparkSession, n_rows: int, *, bucket_width: int = 32
) -> DataFrame:
    """Baseline histogram snapshot for the drift check: the n_tok
    distribution of a CLEAN generation (no drifted slice)."""
    clean = sequences(spark, n_rows, clean=True)
    return (
        clean.groupBy(
            F.floor(F.col("n_tok") / F.lit(float(bucket_width))).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("snapshot_id", F.lit("baseline_clean"))
    )


# ---------------------------------------------------------------------------
# The flagship validation spec over this table (SURVEY.md §7 step 3)
# ---------------------------------------------------------------------------

def sequences_table_spec():
    """TableSpec for the north-star checks: per-column predicates, the
    n_tok==size(tokens) shape invariant, uniqueness, referential integrity,
    stats, drift."""
    from go_jsonschema_spark.spec import TableSpec

    return TableSpec(
        columns={
            "doc_id": {"type": "string", "minLength": 1, "pattern": "^doc"},
            "tokens": {
                "type": "array",
                "items": {"type": "integer", "minimum": 0,
                          "exclusiveMaximum": VOCAB},
                "minItems": 1,
            },
            "n_tok": {"type": "integer", "minimum": 1,
                      "maximum": MAX_LEN + 2},
            "source": {"type": "string", "pattern": "^src[0-9]+$"},
        },
        row_checks=[
            {
                "id": "shape.n_tok",
                "expr": "n_tok = size(tokens)",
                "observed": "n_tok",
            }
        ],
        table_checks=[
            # one partial+final count over doc_id: the violations action is
            # the predicate pass plus this doc_id-only aggregation
            {"kind": "unique", "id": "unique:doc_id", "columns": ["doc_id"]},
            {"kind": "foreign_key", "id": "fk:source", "column": "source",
             "dim": "sources_dim"},
            {"kind": "stats", "columns": ["n_tok"]},
            {"kind": "drift", "id": "drift:n_tok", "column": "n_tok",
             "bucket_width": 32},
        ],
    )
