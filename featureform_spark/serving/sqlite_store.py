"""The online table store on sqlite3 (stdlib — no vendor dependency).

The reference serves features from external KV systems
(provider/online.go:42-64 — Redis, DynamoDB, Cassandra); none of those
clients can install in this environment. This module is the one
implementation of that table-plane contract here — ``set`` /
``set_many`` / ``set_if_newer`` / ``set_if_newer_many`` / ``get`` /
``serve_features`` / ``ensure_table`` / ``table_size`` with
Redis-EXPIRE-style lazy TTL and newer-or-equal-wins upserts. On a file
(WAL mode) it is durable: a restarted serving process reopens the path
and keeps serving, and Spark executors open the same file to write
(``partition_writer``). On ``":memory:"`` it is the table plane of
``InMemoryOnlineStore`` (serving/online.py).

Scale position: this is the SERVING side of the chunked offline→online
copy. A production deployment swaps in a distributed KV by
reimplementing this interface. Values and entities are pickled, so any
picklable value round-trips; numpy scalar keys are stored as the equal
Python value.
"""

from __future__ import annotations

import functools
import os
import pickle
import sqlite3
import threading
import time
from contextlib import contextmanager
from typing import Any, Iterable

import numpy as np

_REGISTER = "INSERT OR IGNORE INTO tables (tbl) VALUES (?)"
# a plain set keeps the stored timestamp: a later set_if_newer still
# compares against the last timestamped write
_SET = (
    "INSERT INTO kv (tbl, k, v, ts, deadline) VALUES (?, ?, ?, NULL, ?)"
    " ON CONFLICT (tbl, k) DO UPDATE SET"
    " v = excluded.v, deadline = excluded.deadline"
)
_SET_TS = (
    "INSERT INTO kv (tbl, k, v, ts, deadline) VALUES (?, ?, ?, ?, ?)"
    " ON CONFLICT (tbl, k) DO UPDATE SET"
    " v = excluded.v, ts = excluded.ts, deadline = excluded.deadline"
)


def _k(entity: Any) -> bytes:
    """Deterministic key bytes for an entity (pickle of primitives is
    stable for a fixed protocol). A numpy scalar keys as the equal
    Python value, so ``np.int64(5)`` finds what ``5`` wrote."""
    if isinstance(entity, np.generic):
        entity = entity.item()
    return pickle.dumps(entity, protocol=4)


class SqliteOnlineStore:
    """The online table plane, on a sqlite file or on ``":memory:"``.

    The vector plane (register_vectors / ANN indexes) lives in
    ``InMemoryOnlineStore`` — indexes are rebuilt in RAM at serving
    start from the offline tables; persisting them is the index's own
    concern (hnswlib files, IVF codebook parquet)."""

    def __init__(self, path: str, clock=None):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        # check_same_thread=False + a process-level lock: Structured
        # Streaming's foreachBatch upserts run on stream-execution
        # threads, not the thread that opened the store; all access
        # serializes through self._lock so the read-compare-write in
        # set_if_newer_many stays atomic across threads too
        self._db = sqlite3.connect(path, check_same_thread=False)
        self._lock = threading.RLock()
        # true autocommit: single statements commit themselves; every
        # write opens its own BEGIN IMMEDIATE (_transaction) — no
        # interference from the sqlite3 module's implicit transactions
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
        # WALL clock, not monotonic: deadlines PERSIST across process
        # restarts here, and a monotonic epoch resets with the process
        # — a reopened store would compare stored deadlines against a
        # fresh zero and serve expired values (or reap fresh ones).
        self._clock = clock or time.time

    # -- writes ---------------------------------------------------------

    @contextmanager
    def _transaction(self, table: str, ttl_seconds: float | None):
        """One IMMEDIATE transaction that registers ``table``; yields
        the TTL deadline its writes carry (None clears one)."""
        with self._lock:
            self._db.execute("BEGIN IMMEDIATE")
            try:
                self._db.execute(_REGISTER, (table,))
                yield (
                    self._clock() + float(ttl_seconds)
                    if ttl_seconds is not None
                    else None
                )
                self._db.execute("COMMIT")
            except BaseException:
                self._db.rollback()
                raise

    def ensure_table(self, table: str) -> None:
        """Create the table if absent (an empty deploy still serves
        misses, not unknown-table errors)."""
        self.set_many(table, ())

    def set_many(
        self,
        table: str,
        rows: Iterable[tuple[Any, Any]],
        ttl_seconds: float | None = None,
    ) -> None:
        """Write ``(entity, value)`` rows in one transaction.
        ``ttl_seconds`` mirrors Redis EXPIRE / DynamoDB TTL: the value
        reads as a miss once the deadline passes (lazy expiry — the
        entry reaps on its next read). A write without a TTL clears
        any prior deadline."""
        with self._transaction(table, ttl_seconds) as deadline:
            self._db.executemany(
                _SET,
                (
                    (table, _k(entity), pickle.dumps(value), deadline)
                    for entity, value in rows
                ),
            )

    def set(
        self,
        table: str,
        entity: Any,
        value: Any,
        ttl_seconds: float | None = None,
    ) -> None:
        self.set_many(table, [(entity, value)], ttl_seconds)

    def set_if_newer_many(
        self,
        table: str,
        rows: Iterable[tuple[Any, Any, Any]],
        ttl_seconds: float | None = None,
    ) -> None:
        """Upsert ``(entity, value, ts)`` rows in one transaction,
        ignoring stale writes (out-of-order stream batches): a row wins
        when no prior timestamp exists or ``ts >= prev``, so within a
        batch the newer row wins and ties go to the later one. A
        winning write refreshes the TTL deadline — or clears it when no
        ``ttl_seconds`` is given; leaving a stale deadline in place
        would reap the FRESH value and serve live data as a miss."""
        with self._transaction(table, ttl_seconds) as deadline:
            for entity, value, ts in rows:
                key = _k(entity)
                row = self._db.execute(
                    "SELECT ts FROM kv WHERE tbl = ? AND k = ?",
                    (table, key),
                ).fetchone()
                prev = (
                    pickle.loads(row[0])
                    if row and row[0] is not None
                    else None
                )
                if prev is None or (ts is not None and ts >= prev):
                    self._db.execute(
                        _SET_TS,
                        (
                            table,
                            key,
                            pickle.dumps(value),
                            pickle.dumps(ts),
                            deadline,
                        ),
                    )

    def set_if_newer(
        self,
        table: str,
        entity: Any,
        value: Any,
        ts: Any,
        ttl_seconds: float | None = None,
    ) -> None:
        self.set_if_newer_many(table, [(entity, value, ts)], ttl_seconds)

    @property
    def partition_writer(self):
        """``partition_writer(table)``: a picklable writer factory for
        ``foreach_partition_write`` that opens this file on the
        executor (:class:`_PartitionWriter`). A ``":memory:"`` store
        lives in one process, so it has no ``partition_writer`` and
        callers drain through the driver."""
        if self.path == ":memory:":
            raise AttributeError("a ':memory:' store has no partition_writer")
        return functools.partial(_PartitionWriter, os.path.abspath(self.path))

    # -- reads ----------------------------------------------------------

    def get(self, table: str, entity: Any) -> Any:
        return self.serve_features([table], entity)[0]

    def serve_features(self, tables: list[str], entity: Any) -> list[Any]:
        """The entity's value in each of ``tables``, in request order
        (names may repeat), from ONE statement: the registered tables
        LEFT JOIN their kv row, so an unknown table (``KeyError``) and
        a missing value (None) are told apart without a second query.
        Expired values are reaped on read, Redis-style."""
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


class _PartitionWriter:
    """Executor side of ``SqliteOnlineStore.partition_writer``: called
    once per partition, it opens the file and returns a writer that
    lands each batch of ``{entity, value, ts}`` row dicts with
    ``set_if_newer_many``. A busy file raises
    ``sqlite3.OperationalError`` once the connection timeout passes;
    ``foreach_partition_write`` does not retry it, so the job fails."""

    def __init__(self, path: str, table: str):
        self.path = path
        self.table = table

    def __call__(self):
        store = SqliteOnlineStore(self.path)

        def write_batch(rows: list[dict[str, Any]]) -> None:
            store.set_if_newer_many(
                self.table, [(r["entity"], r["value"], r["ts"]) for r in rows]
            )

        return write_batch
