"""Independent oracle for the benchmark inputs.

The expected outputs are computed without Spark and without
``go_jsonschema_spark``:

* ``sequences``: DuckDB re-states each constraint of
  ``synth.sequences_table_spec()`` as SQL over the same parquet files;
* ``events``: the ``jsonschema`` package validates every distinct payload,
  and DuckDB aggregates the verdicts per partition.

An oracle is a dict::

    {"total": <violation rows>,
     "partitions": {"<part>": {"n_rows": .., "n_fail": ..,
                               "fail_by_constraint": {cid: n, ..}}},
     "fingerprint": <sha256 over the sorted violation rows>}

``fail_by_constraint`` lists only constraints with at least one failure.
The ``sequences`` oracle also carries ``"table_checks"``: the violation rows
of ``fk:source`` and ``unique:doc_id``.
"""

from __future__ import annotations

import hashlib
import json

import duckdb

# the engine's observed value for an array: JSON of its first 32 items
_JSON_HEAD = "'[' || coalesce(array_to_string(tokens[1:32], ','), '') || ']'"
# row constraints of synth.sequences_table_spec(): id -> (fails, observed).
# The type keywords (doc_id/tokens/n_tok/source ``type``) can never fail
# on this schema and are left out.
_SEQ_ROW = {
    "doc_id.minLength": ("length(doc_id) < 1", "doc_id"),
    "doc_id.pattern": ("NOT regexp_matches(doc_id, '^doc')", "doc_id"),
    "tokens.items": ("len(list_filter(tokens, x -> x < 0 OR x >= 32000)) > 0",
                     _JSON_HEAD),
    "tokens.minItems": ("len(tokens) < 1", _JSON_HEAD),
    "n_tok.minimum": ("n_tok < 1", "n_tok::VARCHAR"),
    "n_tok.maximum": ("n_tok > 514", "n_tok::VARCHAR"),
    "source.pattern": ("NOT regexp_matches(source, '^src[0-9]+$')",
                       "source"),
    "shape.n_tok": ("n_tok <> len(tokens)", "n_tok::VARCHAR"),
}
_SOURCES = ", ".join(f"'src{i}'" for i in range(20))


def fingerprint(rows) -> str:
    """sha256 over sorted ``(doc_id, constraint_id, observed)`` rows."""
    h = hashlib.sha256()
    for r in sorted("\x1f".join("" if x is None else str(x) for x in r)
                    for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _partitions(con, flags_sql: str, cids: list[str]) -> dict:
    cols = ", ".join(f'sum("{c}"::INT) AS "{c}"' for c in cids)
    any_fail = " OR ".join(f'"{c}"' for c in cids)
    q = (f"SELECT part, count(*) AS n_rows, sum(({any_fail})::INT) AS n_fail, "
         f"{cols} FROM ({flags_sql}) GROUP BY part")
    out = {}
    for row in con.execute(q).fetchall():
        part, n_rows, n_fail, *counts = row
        out[str(part)] = {
            "n_rows": int(n_rows),
            "n_fail": int(n_fail),
            "fail_by_constraint": {
                c: int(n) for c, n in zip(cids, counts) if n
            },
        }
    return out


def sequences_oracle(glob: str) -> dict:
    con = duckdb.connect()
    try:
        src = f"read_parquet('{glob}')"
        cids = list(_SEQ_ROW)
        flags = ", ".join(f'({fail}) AS "{c}"'
                          for c, (fail, _) in _SEQ_ROW.items())
        parts = _partitions(con, f"SELECT part, {flags} FROM {src}", cids)
        viol = " UNION ALL ".join(
            f"SELECT doc_id, '{c}', left({obs}, 256) FROM {src} WHERE {fail}"
            for c, (fail, obs) in _SEQ_ROW.items()
        )
        viol += (
            f" UNION ALL SELECT doc_id, 'fk:source', source FROM {src}"
            f" WHERE source NOT IN ({_SOURCES})"
            f" UNION ALL SELECT doc_id, 'unique:doc_id',"
            f" 'count=' || count(*)::VARCHAR FROM {src}"
            f" GROUP BY doc_id HAVING count(*) > 1"
        )
        rows = con.execute(viol).fetchall()
    finally:
        con.close()
    table = {"fk:source": 0, "unique:doc_id": 0}
    for _, cid, _ in rows:
        if cid in table:
            table[cid] += 1
    return {"total": len(rows), "partitions": parts, "table_checks": table,
            "fingerprint": fingerprint(rows)}


def events_oracle(glob: str, columns: dict[str, dict]) -> dict:
    """``columns`` maps a JSON-string column to its schema; constraint ids
    follow the engine's ``<column>.json`` naming."""
    import jsonschema

    con = duckdb.connect()
    try:
        src = f"read_parquet('{glob}')"
        for col, schema in columns.items():
            validator = jsonschema.Draft7Validator(schema)
            verdicts = []
            for (s,) in con.execute(
                    f"SELECT DISTINCT {col} FROM {src}").fetchall():
                try:
                    ok = validator.is_valid(json.loads(s))
                except ValueError:
                    ok = False
                verdicts.append((s, ok))
            con.execute(f"CREATE TABLE v_{col} (s VARCHAR, ok BOOLEAN)")
            con.executemany(f"INSERT INTO v_{col} VALUES (?, ?)", verdicts)
        joins = " ".join(f"JOIN v_{c} ON v_{c}.s = t.{c}" for c in columns)
        flags = ", ".join(f'NOT v_{c}.ok AS "{c}.json"' for c in columns)
        base = f"SELECT t.*, {flags} FROM {src} t {joins}"
        cids = [f"{c}.json" for c in columns]
        parts = _partitions(con, base, cids)
        viol = " UNION ALL ".join(
            f"SELECT event_id, '{c}.json', left({c}, 256) FROM ({base}) "
            f'WHERE "{c}.json"'
            for c in columns
        )
        rows = con.execute(viol).fetchall()
    finally:
        con.close()
    return {"total": len(rows), "partitions": parts,
            "fingerprint": fingerprint(rows)}
