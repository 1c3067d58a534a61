"""The event-stream registry: uuid → routing_key catalog.

Mirrors the reference's SQLite table ``es (id INTEGER PRIMARY KEY, uuid TEXT,
routing_key TEXT)`` (/root/reference/app/app.py:97-98,123-131) — same
engine (stdlib sqlite3), same schema, but parameterized statements instead
of the reference's injection-prone f-strings (app/app.py:284,631,686;
SURVEY §2.7 note).

This is control-plane state (a few rows per deployment).
"""

from __future__ import annotations

import os
import sqlite3
import threading
import uuid as uuid_mod

_ALPHABET = "23456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"


def short_uuid() -> str:
    """shortuuid-style compact id (the reference uses shortuuid.uuid(),
    app/app.py:618-619); base-57 encoding of a uuid4."""
    n = uuid_mod.uuid4().int
    out = []
    while n:
        n, rem = divmod(n, len(_ALPHABET))
        out.append(_ALPHABET[rem])
    return "".join(reversed(out))


class Registry:
    def __init__(self, db_path: str):
        os.makedirs(os.path.dirname(db_path) or ".", exist_ok=True)
        self.db_path = db_path
        self._lock = threading.Lock()
        with self._conn() as con:
            con.execute(
                "CREATE TABLE IF NOT EXISTS es"
                " (id INTEGER PRIMARY KEY AUTOINCREMENT, uuid TEXT, routing_key TEXT)"
            )

    def _conn(self) -> sqlite3.Connection:
        return sqlite3.connect(self.db_path)

    def create(self, routing_key: str) -> dict:
        es_uuid = short_uuid()
        with self._lock, self._conn() as con:
            cur = con.execute(
                "INSERT INTO es (uuid, routing_key) VALUES (?, ?)",
                (es_uuid, routing_key),
            )
            return {"id": cur.lastrowid, "uuid": es_uuid, "routing_key": routing_key}

    def get_by_uuid(self, es_uuid: str) -> dict | None:
        with self._conn() as con:
            row = con.execute(
                "SELECT id, uuid, routing_key FROM es WHERE uuid = ?", (es_uuid,)
            ).fetchone()
        return dict(zip(("id", "uuid", "routing_key"), row)) if row else None

    def get_by_id(self, es_id: int) -> dict | None:
        with self._conn() as con:
            row = con.execute(
                "SELECT id, uuid, routing_key FROM es WHERE id = ?", (es_id,)
            ).fetchone()
        return dict(zip(("id", "uuid", "routing_key"), row)) if row else None

    def list_all(self) -> list[dict]:
        with self._conn() as con:
            rows = con.execute("SELECT id, uuid, routing_key FROM es ORDER BY id").fetchall()
        return [dict(zip(("id", "uuid", "routing_key"), r)) for r in rows]

    def delete(self, es_id: int) -> bool:
        with self._lock, self._conn() as con:
            cur = con.execute("DELETE FROM es WHERE id = ?", (es_id,))
            return cur.rowcount > 0
