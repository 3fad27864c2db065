"""SQLite database-file reading for app-data and export corpora.

SQLite files turn up everywhere data is dumped (mobile app exports,
browser profiles, ad-hoc research datasets); Python 3.11's sqlite3
can mount one FROM BYTES via Connection.deserialize, so reading them
Spark-side needs no filesystem staging: census the tables, stream the
rows out as the repo's shared deterministic JSON (column-keyed
objects; blobs as base64; NULL as null), in rowid order.

Safety: connections are opened query_only with a defensive row budget
(a crafted many-billion-row file raises the typed malformed error before
materializing); sqlite3.DatabaseError (not a database / corrupt pages)
maps to ValueError; payloads without the 16-byte magic are a
capability limit (the two-tier contract of operators/records.py).
Virtual-table/extension-backed schemas surface whatever core SQLite
can read — no extensions are loaded.

The decoder family's one Arrow stage, row fan-out inside the batch
(the warc_parse shape). Reference parity: n/a (geist is JSON-only).
"""

from __future__ import annotations

import base64
import sqlite3

from pyspark.sql import DataFrame

from geist_spark.operators.records import payload_stage, to_json

SQLITE_MAGIC = b"SQLite format 3\x00"

SQLITE_TABLES_SCHEMA = (
    "file_id long, table_name string, n_rows long, n_cols int, "
    "sql string"
)
SQLITE_ROWS_SCHEMA = (
    "file_id long, table_name string, row_idx long, row_json string"
)


def _open(b: bytes) -> sqlite3.Connection:
    if b[:16] != SQLITE_MAGIC:
        raise NotImplementedError(
            "payload is not a SQLite database (no magic header)"
        )
    con = sqlite3.connect(":memory:")
    try:
        con.deserialize(b)
        con.execute("PRAGMA query_only=1")
    except sqlite3.DatabaseError as exc:
        raise ValueError(f"malformed SQLite database: {exc}") from None
    return con


def _tables(con: sqlite3.Connection):
    try:
        return [
            (name, sql)
            for name, sql in con.execute(
                "SELECT name, sql FROM sqlite_master WHERE type='table' "
                "AND name NOT LIKE 'sqlite_%' ORDER BY name"
            )
        ]
    except sqlite3.DatabaseError as exc:
        raise ValueError(f"malformed SQLite database: {exc}") from None


def _jsonable(v):
    if isinstance(v, bytes):
        return base64.b64encode(v).decode()
    return v


def sqlite_tables(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
    on_unsupported: str = "error",
) -> DataFrame:
    """Database census: one row per user table (name, exact row
    count, column count, CREATE sql)."""

    def decode(b: bytes) -> list:
        con = _open(b)
        try:
            rows = []
            for name, sql in _tables(con):
                try:
                    (n,) = con.execute(
                        f'SELECT count(*) FROM "{name}"'
                    ).fetchone()
                    cols = con.execute(
                        f'PRAGMA table_info("{name}")'
                    ).fetchall()
                except sqlite3.DatabaseError as exc:
                    raise ValueError(
                        f"malformed SQLite database: {exc}"
                    ) from None
                rows.append((name, n, len(cols), sql))
            return rows
        finally:
            con.close()

    return payload_stage(
        files, decode, SQLITE_TABLES_SCHEMA, on_unsupported,
        in_col=payload_col, id_col=id_col, null_row=False,
    )


def sqlite_rows(
    files: DataFrame,
    payload_col: str = "payload",
    id_col: str = "file_id",
    max_rows: int = 1_000_000,
    on_unsupported: str = "error",
) -> DataFrame:
    """Every user-table row as column-keyed compact JSON, rowid
    order, bounded at max_rows per file."""

    def decode(b: bytes) -> list:
        con = _open(b)
        try:
            rows, budget = [], max_rows
            for name, _sql in _tables(con):
                try:
                    cur = con.execute(f'SELECT * FROM "{name}"')
                except sqlite3.DatabaseError as exc:
                    raise ValueError(
                        f"malformed SQLite database: {exc}"
                    ) from None
                cols = [d[0] for d in cur.description]
                for i, row in enumerate(cur):
                    budget -= 1
                    if budget < 0:
                        raise ValueError(
                            "SQLite row budget exceeded "
                            f"(max_rows={max_rows})"
                        )
                    rows.append((name, i, to_json(
                        {c: _jsonable(v) for c, v in zip(cols, row)}
                    )))
            return rows
        finally:
            con.close()

    return payload_stage(
        files, decode, SQLITE_ROWS_SCHEMA, on_unsupported,
        in_col=payload_col, id_col=id_col, null_row=False,
    )


def sqlite_build(tables: dict) -> bytes:
    """Fixture builder: {name: (cols_sql, [row tuples])} -> db bytes
    via the stdlib serialize (an independent writer path)."""
    con = sqlite3.connect(":memory:")
    for name, (cols_sql, rows) in tables.items():
        con.execute(f'CREATE TABLE "{name}" ({cols_sql})')
        if rows:
            ph = ",".join("?" * len(rows[0]))
            con.executemany(
                f'INSERT INTO "{name}" VALUES ({ph})', rows
            )
    con.commit()
    blob = con.serialize()
    con.close()
    return bytes(blob)
