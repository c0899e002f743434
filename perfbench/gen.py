"""Seeded input generators for the benchmark workloads.

Inputs are written by DuckDB, not by the engine under test, so the program
only ever sees finished parquet files.  The same ``(rows, seed)`` always
yields the same files, byte for byte.

``sequences`` keeps the schema and plant rates of
``go_jsonschema_spark.sources.synth.sequences`` (see that module for what
each plant exercises); the seed is folded into every hash salt.

``events`` carries two JSON-string columns drawn from seeded pools of
distinct payloads, with planted invalid payloads in each pool:

* ``props`` matches a static object schema that qualifies for the native
  ``from_json`` path (``functions/json_native.py``);
* ``attrs`` uses ``additionalProperties: false`` and an array of strings,
  which forces the Arrow-batched interpreter UDF
  (``compile.json_column_predicate``).
"""

from __future__ import annotations

import json
import os
import random

import duckdb

N_FILES = 8

# synth.py constants and plant rates (per mille of rows)
VOCAB = 32000
N_SOURCES = 20
MAX_LEN = 512
DRIFT_SHIFT = 256
N_PARTS = 8
HOT_KEY_PCT = 50
PAIR_DUP_PCT = 10
BAD_SOURCE_PCT = 8
SHAPE_PCT = 6
OOR_TOKEN_PCT = 5
EMPTY_PCT = 4

EVENT_POOL = 4096

PROPS_SCHEMA = {
    "type": "object",
    "properties": {
        "user": {"type": "integer", "minimum": 0},
        "amount": {"type": "number", "minimum": 0, "maximum": 10000},
        "kind": {"type": "string", "enum": ["click", "view", "buy"]},
        "items": {"type": "array", "items": {"type": "integer",
                                             "minimum": 1}},
        "ok": {"type": "boolean"},
    },
    "required": ["user", "amount", "kind", "items", "ok"],
}

ATTRS_SCHEMA = {
    "type": "object",
    "properties": {
        "labels": {"type": "array", "maxItems": 6,
                   "items": {"type": "string", "maxLength": 12}},
        "score": {"type": "number", "minimum": -1, "maximum": 1},
    },
    "required": ["labels"],
    "additionalProperties": False,
}


def _sequences_sql(n: int, seed: int, lo: int) -> str:
    def b(salt: int) -> str:
        return f"(hash({seed}, {salt}, id) % 1000)"

    return f"""
WITH base AS (
  SELECT id,
    (hash({seed}, 11, id) % {N_PARTS})::INTEGER AS part,
    (hash({seed}, 0, id) % {MAX_LEN - 1} + 1)::INTEGER AS base_len,
    (hash({seed}, 3, id) % {N_SOURCES})::INTEGER AS src,
    {b(21)} AS b21, {b(22)} AS b22, {b(23)} AS b23, {b(24)} AS b24,
    {b(25)} AS b25, {b(26)} AS b26, {b(27)} AS b27
  FROM range({lo}, {n}, {N_FILES}) t(id)
), toks AS (
  SELECT *, list_transform(
      range(1, (CASE WHEN part = {N_PARTS - 1}
                     THEN least(base_len + {DRIFT_SHIFT}, {MAX_LEN})
                     ELSE base_len END) + 1),
      i -> (hash({seed}, id, i) % {VOCAB})::INTEGER) AS t0
  FROM base
), planted AS (
  SELECT *, CASE WHEN b26 < {EMPTY_PCT} THEN []::INTEGER[]
                 WHEN b25 < {OOR_TOKEN_PCT} THEN list_append(t0, {VOCAB + 7})
                 ELSE t0 END AS tokens
  FROM toks
)
SELECT
  CASE WHEN b21 < {HOT_KEY_PCT} THEN 'doc_hot'
       WHEN b22 < {PAIR_DUP_PCT} THEN printf('doc%012d', id - id % 2 - 2)
       ELSE printf('doc%012d', id) END AS doc_id,
  tokens,
  (CASE WHEN b27 < {SHAPE_PCT} THEN len(tokens) + 1
        ELSE len(tokens) END)::INTEGER AS n_tok,
  CASE WHEN b23 < {BAD_SOURCE_PCT} THEN 'unknown_src_' || (b24 % 3)::VARCHAR
       ELSE 'src' || src::VARCHAR END AS source,
  part
FROM planted ORDER BY id
"""


def _props_pool(rng: random.Random) -> list[str]:
    out = []
    for _ in range(EVENT_POOL):
        doc = {
            "user": rng.randrange(0, 10**6),
            "amount": round(rng.uniform(0, 10000), 2),
            "kind": rng.choice(["click", "view", "buy"]),
            "items": [rng.randrange(1, 500) for _ in range(rng.randrange(0, 6))],
            "ok": rng.random() < 0.5,
        }
        r = rng.random()
        if r < 0.01:
            doc["user"] = -doc["user"] - 1  # minimum
        elif r < 0.02:
            doc["amount"] = 10000.5 + doc["amount"]  # maximum
        elif r < 0.03:
            doc["kind"] = "refund"  # enum
        elif r < 0.04:
            doc["user"] = str(doc["user"])  # type
        elif r < 0.05:
            del doc["ok"]  # required
        elif r < 0.06:
            doc["items"] = doc["items"] + [0]  # items.minimum
        s = json.dumps(doc)
        if 0.06 <= r < 0.07:
            s = s[: len(s) // 2]  # malformed JSON
        out.append(s)
    return out


def _attrs_pool(rng: random.Random) -> list[str]:
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa", "lambda", "mu"]
    out = []
    for _ in range(EVENT_POOL):
        doc: dict = {"labels": [rng.choice(words)
                                for _ in range(rng.randrange(0, 5))]}
        if rng.random() < 0.5:
            doc["score"] = round(rng.uniform(-1, 1), 3)
        r = rng.random()
        if r < 0.01:
            doc["extra"] = 1  # additionalProperties
        elif r < 0.02:
            doc["labels"] = doc["labels"] + ["x" * 13]  # items.maxLength
        elif r < 0.03:
            doc["labels"] = doc["labels"] + [7]  # items.type
        elif r < 0.04:
            del doc["labels"]  # required
        elif r < 0.05:
            doc["labels"] = ["a"] * 7  # maxItems
        out.append(json.dumps(doc))
    return out


def _events_sql(n: int, seed: int, lo: int) -> str:
    return f"""
SELECT printf('ev%010d', id) AS event_id,
       (hash({seed}, 11, id) % {N_PARTS})::INTEGER AS part,
       p.s AS props, a.s AS attrs
FROM range({lo}, {n}, {N_FILES}) t(id)
JOIN props_pool p ON p.i = hash({seed}, 1, id) % {EVENT_POOL}
JOIN attrs_pool a ON a.i = hash({seed}, 2, id) % {EVENT_POOL}
ORDER BY id
"""


def write_input(kind: str, n: int, seed: int, out_dir: str) -> dict:
    """Write ``N_FILES`` parquet files of ``kind`` into ``out_dir`` and
    return ``{"rows", "bytes", "files"}``."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads=4")
        if kind == "events":
            for name, pool in zip(("props_pool", "attrs_pool"),
                                  event_pools(seed)):
                con.execute(f"CREATE TABLE {name} (i UBIGINT, s VARCHAR)")
                con.executemany(f"INSERT INTO {name} VALUES (?, ?)",
                                list(enumerate(pool)))
            make_sql = _events_sql
        elif kind == "sequences":
            make_sql = _sequences_sql
        else:
            raise ValueError(f"unknown input kind {kind!r}")
        files = []
        for k in range(N_FILES):
            path = os.path.join(out_dir, f"part-{k:02d}.parquet")
            con.execute(f"COPY ({make_sql(n, seed, k)}) TO '{path}' "
                        "(FORMAT PARQUET, ROW_GROUP_SIZE 16384)")
            files.append(path)
    finally:
        con.close()
    return {"rows": n, "bytes": sum(os.path.getsize(f) for f in files),
            "files": N_FILES}


def event_pools(seed: int) -> tuple[list[str], list[str]]:
    """The ``(props, attrs)`` payload pools behind ``events`` for ``seed``."""
    rng = random.Random(seed)
    return _props_pool(rng), _attrs_pool(rng)
