"""Durable online store on sqlite3 (stdlib — no vendor dependency).

The reference serves features from external KV systems
(provider/online.go:42-64 — Redis, DynamoDB, Cassandra); none of those
clients can install in this environment, and the in-process
InMemoryOnlineStore (serving/online.py) loses state with the process.
This store closes that durability gap with the one real KV engine the
standard library ships: the SAME table-plane contract — ``set`` /
``set_if_newer`` / ``get`` / ``serve_features`` / ``ensure_table`` /
``table_size`` with Redis-EXPIRE-style lazy TTL — persisted to a
sqlite file in WAL mode, so a restarted serving process reopens the
path and keeps serving.

Scale position: this is the SERVING side of the chunked
offline→online copy (rows funnel through the driver exactly like the
in-memory store; a production deployment swaps in a distributed KV by
reimplementing this same interface — the one-method-change promise in
serving/online.py's module note). Values and entities are pickled, so
anything the in-memory store accepted round-trips.
"""

from __future__ import annotations

import os
import pickle
import sqlite3
import time
from typing import Any


def _k(entity: Any) -> bytes:
    """Deterministic key bytes for an entity (pickle of primitives is
    stable for a fixed protocol)."""
    return pickle.dumps(entity, protocol=4)


class SqliteOnlineStore:
    """Table-plane twin of InMemoryOnlineStore, durable on disk.

    The vector plane (register_vectors / ANN indexes) intentionally
    stays with the in-memory store — indexes are rebuilt in RAM at
    serving start from the offline tables; persisting them is the
    index's own concern (hnswlib files, IVF codebook parquet)."""

    def __init__(self, path: str, clock=None):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        import threading

        # check_same_thread=False + a process-level lock: Structured
        # Streaming's foreachBatch upserts run on stream-execution
        # threads, not the thread that opened the store; all access
        # serializes through self._lock so the read-compare-write in
        # set_if_newer stays atomic across threads too
        self._db = sqlite3.connect(path, check_same_thread=False)
        self._lock = threading.RLock()
        # true autocommit: single statements commit themselves; the
        # one read-compare-write (set_if_newer) opens its own
        # BEGIN IMMEDIATE — no interference from the sqlite3 module's
        # implicit transaction management
        self._db.isolation_level = None
        self._db.execute("PRAGMA journal_mode=WAL")
        self._db.execute("PRAGMA synchronous=NORMAL")
        self._db.execute(
            "CREATE TABLE IF NOT EXISTS kv ("
            " tbl TEXT NOT NULL, k BLOB NOT NULL, v BLOB,"
            " ts BLOB, deadline REAL,"
            " PRIMARY KEY (tbl, k))"
        )
        self._db.execute(
            "CREATE TABLE IF NOT EXISTS tables (tbl TEXT PRIMARY KEY)"
        )
        self._db.commit()
        # WALL clock, not monotonic: deadlines PERSIST across process
        # restarts here, and a monotonic epoch resets with the process
        # — a reopened store would compare stored deadlines against a
        # fresh zero and serve expired values (or reap fresh ones).
        # The in-memory store can use monotonic because its state
        # dies with the process.
        self._clock = clock or time.time

    # -- table plane (the InMemoryOnlineStore contract) -----------------

    def ensure_table(self, table: str) -> None:
        with self._lock:
            self._db.execute(
                "INSERT OR IGNORE INTO tables (tbl) VALUES (?)",
                (table,),
            )
            self._db.commit()

    def set(
        self,
        table: str,
        entity: Any,
        value: Any,
        ttl_seconds: float | None = None,
    ) -> None:
        deadline = (
            self._clock() + float(ttl_seconds)
            if ttl_seconds is not None
            else None
        )
        with self._lock:
            self._db.execute(
                "INSERT OR IGNORE INTO tables (tbl) VALUES (?)",
                (table,),
            )
            self._db.execute(
                "INSERT INTO kv (tbl, k, v, ts, deadline)"
                " VALUES (?, ?, ?, NULL, ?)"
                " ON CONFLICT (tbl, k) DO UPDATE SET"
                " v = excluded.v, deadline = excluded.deadline",
                (table, _k(entity), pickle.dumps(value), deadline),
            )
            self._db.commit()

    def set_if_newer(
        self,
        table: str,
        entity: Any,
        value: Any,
        ts: Any,
        ttl_seconds: float | None = None,
    ) -> None:
        """Same stale-write semantics as the in-memory store: the
        write wins when no prior timestamp exists or ``ts >= prev``;
        a winning write refreshes (or clears) the TTL deadline. The
        read-compare-write runs inside one IMMEDIATE transaction."""
        key = _k(entity)
        self._lock.acquire()
        self._db.execute("BEGIN IMMEDIATE")
        try:
            row = self._db.execute(
                "SELECT ts FROM kv WHERE tbl = ? AND k = ?",
                (table, key),
            ).fetchone()
            prev = pickle.loads(row[0]) if row and row[0] is not None else None
            if prev is None or (ts is not None and ts >= prev):
                deadline = (
                    self._clock() + float(ttl_seconds)
                    if ttl_seconds is not None
                    else None
                )
                self._db.execute(
                    "INSERT OR IGNORE INTO tables (tbl) VALUES (?)",
                    (table,),
                )
                self._db.execute(
                    "INSERT INTO kv (tbl, k, v, ts, deadline)"
                    " VALUES (?, ?, ?, ?, ?)"
                    " ON CONFLICT (tbl, k) DO UPDATE SET"
                    " v = excluded.v, ts = excluded.ts,"
                    " deadline = excluded.deadline",
                    (
                        table,
                        key,
                        pickle.dumps(value),
                        pickle.dumps(ts),
                        deadline,
                    ),
                )
            self._db.commit()
        except Exception:
            self._db.rollback()
            raise
        finally:
            self._lock.release()

    def get(self, table: str, entity: Any) -> Any:
        return self.serve_features([table], entity)[0]

    def serve_features(self, tables: list[str], entity: Any) -> list[Any]:
        """The entity's value in each of ``tables``, in request order
        (names may repeat), from ONE statement: the registered tables
        LEFT JOIN their kv row, so an unknown table (``KeyError``, the
        dict store's contract) and a missing value (None) are told
        apart without a second query. Expired values are reaped on
        read, Redis-style."""
        key = _k(entity)
        with self._lock:
            rows = self._db.execute(
                "SELECT t.tbl, kv.v, kv.deadline FROM tables t"
                " LEFT JOIN kv ON kv.tbl = t.tbl AND kv.k = ?"
                f" WHERE t.tbl IN ({', '.join('?' * len(tables))})",
                (key, *tables),
            ).fetchall()
            found = {tbl: v for tbl, v, _ in rows}
            for table in tables:
                if table not in found:
                    raise KeyError(table)
            for tbl, _, deadline in rows:
                if deadline is not None and self._clock() >= deadline:
                    self._db.execute(
                        "DELETE FROM kv WHERE tbl = ? AND k = ?", (tbl, key)
                    )
                    found[tbl] = None
        return [
            None if found[t] is None else pickle.loads(found[t])
            for t in tables
        ]

    def table_size(self, table: str) -> int:
        with self._lock:
            row = self._db.execute(
                "SELECT count(*) FROM kv WHERE tbl = ?", (table,)
            ).fetchone()
        return int(row[0])

    def close(self) -> None:
        self._db.close()
