"""Expected outputs, computed with DuckDB from the generated inputs.

Every check reduces an output to a signature: row count, sorted column
names, and an order-insensitive hash. Gates are compared with the repo's
own canonicalizer (``tests.oracle_harness.value_hash``) against their
``oracle_sql()``; the ETL pipelines are compared by reading the parquet the
pipeline wrote back into DuckDB and hashing it with the same canonical SQL
that is applied to a DuckDB re-implementation of the pipeline over the
NDJSON. Nested children are compared as a sorted multiset per artist,
because children with equal ``position`` have no fixed order (and so no
fixed chunk either once ``split_repeated`` splits an artist).
"""

from __future__ import annotations

import os

import duckdb

STAR_TABLES = ("region", "nation", "customer", "orders", "lineitem",
               "events", "documents")
MB_TYPES = {
    "artist": {
        "id": "BIGINT", "gid": "VARCHAR", "name": "VARCHAR",
        "sort_name": "VARCHAR", "begin_date_year": "BIGINT",
        "begin_date_month": "BIGINT", "begin_date_day": "BIGINT",
        "end_date_year": "BIGINT", "end_date_month": "BIGINT",
        "end_date_day": "BIGINT", "type": "BIGINT", "area": "BIGINT",
        "gender": "BIGINT", "comment": "VARCHAR", "edits_pending": "BIGINT",
        "last_updated": "VARCHAR", "ended": "BOOLEAN",
        "begin_area": "BIGINT", "end_area": "BIGINT"},
    "artist_credit_name": {
        "artist_credit": "BIGINT", "position": "BIGINT", "artist": "BIGINT",
        "name": "VARCHAR", "join_phrase": "VARCHAR"},
    "recording": {
        "id": "BIGINT", "gid": "VARCHAR", "name": "VARCHAR",
        "artist_credit": "BIGINT", "length": "BIGINT", "comment": "VARCHAR",
        "edits_pending": "BIGINT", "last_updated": "VARCHAR",
        "video": "BOOLEAN"},
    "area": {"id": "BIGINT", "name": "VARCHAR"},
    "gender": {"id": "BIGINT", "name": "VARCHAR"},
}
# output column -> (lookup dimension alias, FK column) for decoded FKs
LOOKUPS = {"artist_area": ("ar", "area"), "artist_gender": ("ge", "gender"),
           "artist_begin_area": ("ba", "begin_area")}
NULL = "'∅'"

def star_connection(data_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    return con


def mb_connection(bucket: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    for t, cols in MB_TYPES.items():
        spec = ", ".join(f"'{c}': '{ty}'" for c, ty in cols.items())
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_json("
                    f"'{os.path.join(bucket, t)}.json', "
                    f"format='newline_delimited', columns={{{spec}}})")
    return con


def gate_signature(cols: list[str], rows: list[tuple]) -> tuple:
    from tests.oracle_harness import value_hash

    return len(rows), tuple(sorted(cols)), value_hash(list(cols), rows)


def expected_gates(con, names, oracles) -> dict[str, tuple]:
    out = {}
    for name in names:
        rel = con.sql(oracles[name])
        out[name] = gate_signature(rel.columns, rel.fetchall())
    return out


# ---------------------------------------------------------------- ETL ----

def _canon(expr: str, kind: str) -> str:
    if kind == "timestamp":
        expr = f"epoch_us(CAST({expr} AS TIMESTAMPTZ))"
    return f"coalesce(CAST({expr} AS VARCHAR), {NULL})"


def _row(parts: list[str]) -> str:
    return "concat_ws('|', " + ", ".join(parts) + ")"


def _source(col: str) -> str:
    """Source expression of a flat output column over the NDJSON join
    (aliases a = artist, c = artist_credit_name, r = recording)."""
    if col in LOOKUPS:
        alias, fk = LOOKUPS[col]
        return f"coalesce({alias}.name, CAST(a.{fk} AS VARCHAR))"
    for prefix, alias in (("artist_credit_name_", "c"), ("recording_", "r"),
                          ("artist_", "a")):
        if col.startswith(prefix):
            src = col[len(prefix):]
            if src == "last_updated":  # ISO-8601 string with offset
                return f"CAST({alias}.{src} AS TIMESTAMPTZ)"
            return f"{alias}.{src}"
    raise ValueError(f"unmapped output column {col!r}")


def _flat_fields(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.typeName()) for f in schema.fields]


_LOOKUP_JOINS = """
    LEFT JOIN area ar ON a.area = ar.id
    LEFT JOIN area ba ON a.begin_area = ba.id
    LEFT JOIN gender ge ON a.gender = ge.id"""


def _digest(con, row_sql: str) -> tuple:
    n, h = con.sql(f"SELECT count(*), md5(coalesce(string_agg(r, chr(10) "
                   f"ORDER BY r), '')) FROM ({row_sql})").fetchone()
    return int(n), h


def simple_expected(con, schema, lookups: bool) -> tuple:
    fields = _flat_fields(schema)
    row = _row([_canon(_source(c) if lookups or c not in LOOKUPS
                       else f"a.{LOOKUPS[c][1]}", k) for c, k in fields])
    sql = (f"SELECT {row} AS r FROM artist a "
           f"JOIN artist_credit_name c ON a.id = c.artist "
           f"JOIN recording r ON c.artist_credit = r.artist_credit"
           + (_LOOKUP_JOINS if lookups else ""))
    return _digest(con, sql)


def simple_observed(con, schema, out_dir: str) -> tuple:
    row = _row([_canon(c, k) for c, k in _flat_fields(schema)])
    return _digest(con, f"SELECT {row} AS r FROM "
                        f"read_parquet('{out_dir}/*.parquet')")


def _nested_parts(schema):
    parent = [(f.name, f.dataType.typeName()) for f in schema.fields
              if f.name != "artist_recordings"]
    child = [(f.name, f.dataType.typeName()) for f in
             schema["artist_recordings"].dataType.elementType.fields]
    return parent, child


def nested_expected(con, schema, limit: int = 1000) -> tuple:
    parent, child = _nested_parts(schema)
    kid = _row([_canon(_source(c), k) for c, k in child])
    n = "coalesce(agg.n, 0)"
    chunks = f"greatest(1, CAST(ceil({n} / {limit}.0) AS BIGINT))"
    row = _row([_canon(_source(c), k) for c, k in parent] + [
        f"CAST({chunks} AS VARCHAR)",
        f"array_to_string(list_sort(list_transform(range({chunks}), "
        f"i -> least({limit}, {n} - i * {limit}))), ',')",
        "array_to_string(coalesce(agg.ks, []), '#')"])
    sql = f"""
        WITH kids AS (
          SELECT c.artist AS aid, {kid} AS k
          FROM artist_credit_name c
          JOIN recording r ON c.artist_credit = r.artist_credit),
        agg AS (SELECT aid, list_sort(list(k)) AS ks, count(*) AS n
                FROM kids GROUP BY aid)
        SELECT {row} AS r FROM artist a
        LEFT JOIN area ar ON a.area = ar.id
        LEFT JOIN gender ge ON a.gender = ge.id
        LEFT JOIN agg ON agg.aid = a.id"""
    return _digest(con, sql)


def nested_observed(con, schema, out_dir: str) -> tuple:
    parent, child = _nested_parts(schema)
    kid = _row([_canon(f"x.{c}", k) for c, k in child])
    pcols = ", ".join(c for c, _ in parent)
    prow = [_canon(c, k) for c, k in parent]
    sql = f"""
        WITH g AS (
          SELECT {pcols}, count(*) AS chunks,
                 list_sort(list(len(artist_recordings))) AS sizes,
                 list_sort(flatten(list(list_transform(artist_recordings,
                                                       x -> {kid})))) AS ks
          FROM read_parquet('{out_dir}/*.parquet') GROUP BY ALL)
        SELECT {_row(prow + ["CAST(chunks AS VARCHAR)",
                             "array_to_string(sizes, ',')",
                             "array_to_string(ks, '#')"])} AS r FROM g"""
    return _digest(con, sql)
