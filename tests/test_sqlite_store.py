"""SqliteOnlineStore: the one online table store. One parametrized
contract suite runs the SAME assertions against it on a file and as
InMemoryOnlineStore's table plane on ":memory:" (set/get, numpy keys,
lazy TTL with an injected clock, set_if_newer stale-write rejection +
TTL refresh, batched writes, ordered multi-feature serve, unknown-table
KeyError), plus the file-only guarantees: state survives close+reopen,
the offline→online copy lands durably, and executor-side partition
writers share one file."""

import numpy as np
import pytest

from featureform_spark.serving.online import (
    InMemoryOnlineStore,
    materialize_to_online,
)
from featureform_spark.serving.sqlite_store import SqliteOnlineStore


@pytest.fixture(params=["memory", "sqlite"])
def store_factory(request, tmp_path):
    def make(clock=None):
        if request.param == "memory":
            return InMemoryOnlineStore(clock=clock)
        return SqliteOnlineStore(str(tmp_path / "kv.db"), clock=clock)

    return make


def test_contract_set_get_and_miss(store_factory):
    s = store_factory()
    s.set("t", 1, "a")
    s.set("t", "user-2", [1.5, 2.5])
    assert s.get("t", 1) == "a"
    assert s.get("t", "user-2") == [1.5, 2.5]
    assert s.get("t", 999) is None  # miss, not error
    assert s.table_size("t") == 2
    with pytest.raises(KeyError):
        s.get("never-deployed", 1)
    s.ensure_table("empty")
    assert s.get("empty", 1) is None  # deployed-empty serves misses


def test_contract_ttl_lazy_expiry(store_factory):
    clock = [0.0]
    s = store_factory(clock=lambda: clock[0])
    s.set("t", 1, "v", ttl_seconds=10)
    assert s.get("t", 1) == "v"
    clock[0] = 10.0
    assert s.get("t", 1) is None  # reaped at deadline
    # re-set without TTL clears any prior deadline
    s.set("t", 2, "w", ttl_seconds=5)
    s.set("t", 2, "w2")
    clock[0] = 100.0
    assert s.get("t", 2) == "w2"


def test_contract_set_if_newer(store_factory):
    clock = [0.0]
    s = store_factory(clock=lambda: clock[0])
    s.set_if_newer("t", 1, "new", ts=100)
    s.set_if_newer("t", 1, "stale", ts=50)
    assert s.get("t", 1) == "new"  # stale write ignored
    s.set_if_newer("t", 1, "newer", ts=100)  # ties: last write wins
    assert s.get("t", 1) == "newer"
    # a winning write with a TTL sets it; a later winning write
    # without one clears it (stale deadlines must not reap fresh data)
    s.set_if_newer("t", 2, "a", ts=1, ttl_seconds=5)
    s.set_if_newer("t", 2, "b", ts=2)
    clock[0] = 50.0
    assert s.get("t", 2) == "b"


def test_contract_serve_features_order(store_factory):
    s = store_factory()
    s.set("f1", "e", 1.0)
    s.set("f2", "e", 2.0)
    s.ensure_table("f3")
    assert s.serve_features(["f2", "f1", "f3"], "e") == [2.0, 1.0, None]


def test_contract_serve_features_repeats_and_unknown(store_factory):
    s = store_factory()
    s.set("f1", "e", 1.0)
    s.set("f2", "e", 2.0)
    assert s.serve_features(["f2", "f1", "f2"], "e") == [2.0, 1.0, 2.0]
    assert s.serve_features(["f1", "f2"], "missing") == [None, None]
    with pytest.raises(KeyError, match="nope"):
        s.serve_features(["f1", "nope", "f2"], "e")


def test_contract_serve_features_reaps_expired(store_factory):
    clock = [0.0]
    s = store_factory(clock=lambda: clock[0])
    s.set("f1", "e", "short", ttl_seconds=5)
    s.set("f2", "e", "long", ttl_seconds=50)
    s.set("f3", "e", "forever")
    assert s.serve_features(["f1", "f2", "f3"], "e") == [
        "short", "long", "forever",
    ]
    clock[0] = 5.0
    assert s.serve_features(["f3", "f1", "f2"], "e") == [
        "forever", None, "long",
    ]
    assert s.table_size("f1") == 0  # reaped on read, not just hidden
    assert s.table_size("f2") == 1


def test_contract_numpy_keys(store_factory):
    """A numpy scalar key finds what the equal Python value wrote, and
    the other way round."""
    s = store_factory()
    s.set("t", 5, "v")
    assert s.get("t", np.int64(5)) == "v"
    s.set("t", np.str_("u"), "w")
    assert s.get("t", "u") == "w"
    s.set_if_newer("t", np.int32(7), "x", ts=1)
    s.set_if_newer("t", 7, "stale", ts=0)
    assert s.get("t", 7) == "x"
    assert s.table_size("t") == 3


def test_contract_set_many(store_factory):
    clock = [0.0]
    s = store_factory(clock=lambda: clock[0])
    s.set_many("t", [(1, "a"), (2, "b"), (1, "a2")], ttl_seconds=10)
    assert s.serve_features(["t"], 1) == ["a2"]  # last write of a key wins
    assert s.table_size("t") == 2
    s.set_many("t", [(2, "b2")])  # no TTL: clears the deadline
    clock[0] = 10.0
    assert s.get("t", 1) is None
    assert s.get("t", 2) == "b2"
    s.set_many("empty", [])
    assert s.get("empty", 1) is None  # an empty batch still deploys


def test_contract_set_if_newer_many(store_factory):
    clock = [0.0]
    s = store_factory(clock=lambda: clock[0])
    s.set_if_newer_many("t", [
        (1, "a@5", 5), (1, "a@3", 3), (1, "a@5'", 5),  # newer wins, ties last
        (2, "b@1", 1), (2, "b@2", 2),
    ], ttl_seconds=10)
    assert s.serve_features(["t", "t"], 1) == ["a@5'", "a@5'"]
    assert s.get("t", 2) == "b@2"
    clock[0] = 5.0
    # a stale row leaves value and deadline alone; a winning row
    # refreshes its deadline (ttl given) or clears it (none given)
    s.set_if_newer_many("t", [(1, "a@4", 4), (2, "b@9", 9)], ttl_seconds=10)
    s.set_if_newer_many("t", [(3, "c@1", 1), (3, "c@1'", 1)])
    clock[0] = 10.0
    assert s.get("t", 1) is None   # original deadline 10 kept
    assert s.get("t", 2) == "b@9"  # refreshed to 15
    clock[0] = 15.0
    assert s.get("t", 2) is None
    assert s.get("t", 3) == "c@1'"  # no TTL: never expires


# ------------------------------------------------- sqlite-only


def test_sqlite_survives_reopen(tmp_path):
    path = str(tmp_path / "kv.db")
    s = SqliteOnlineStore(path)
    s.set("t", 1, {"a": [1, 2]})
    s.set_if_newer("t", 2, "v", ts=7)
    s.close()

    s2 = SqliteOnlineStore(path)
    assert s2.get("t", 1) == {"a": [1, 2]}
    assert s2.get("t", 2) == "v"
    # timestamps survived too: a stale write after reopen still loses
    s2.set_if_newer("t", 2, "stale", ts=3)
    assert s2.get("t", 2) == "v"
    assert s2.table_size("t") == 2


def test_sqlite_materialize_copy_durable(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from featureform_spark.operators.materialize import materialize_latest
    from featureform_spark.sources.testdata import load_table

    events = load_table(spark, sf_dir, "events")
    mat = materialize_latest(
        events, "user_id", "value", "ts", order_col="event_id"
    )
    path = str(tmp_path / "serve.db")
    s = SqliteOnlineStore(path)
    chunks = materialize_to_online(mat, s, "user_value")
    assert chunks >= 1
    n = mat.count()
    assert s.table_size("user_value") == n
    one = mat.limit(1).collect()[0]
    assert s.get("user_value", one["entity"]) == one["value"]
    s.close()
    # the serving process restarts: same file, same answers
    s2 = SqliteOnlineStore(path)
    assert s2.table_size("user_value") == n
    assert s2.get("user_value", one["entity"]) == one["value"]


def test_sqlite_ttl_survives_reopen(tmp_path):
    """Deadlines are wall-clock and persist: a reopened store honors a
    TTL set by the previous process (a monotonic clock would reset
    with the process and corrupt every stored deadline)."""
    path = str(tmp_path / "ttl.db")
    clock = [1000.0]
    s = SqliteOnlineStore(path, clock=lambda: clock[0])
    s.set("t", 1, "short", ttl_seconds=10)   # deadline 1010
    s.set("t", 2, "long", ttl_seconds=10**6)
    s.close()

    # "restart": same wall clock domain, a bit later
    clock[0] = 1500.0
    s2 = SqliteOnlineStore(path, clock=lambda: clock[0])
    assert s2.get("t", 1) is None      # expired across the restart
    assert s2.get("t", 2) == "long"    # still live
    # default clock is wall time (time.time), never monotonic
    import time as _time

    s3 = SqliteOnlineStore(str(tmp_path / "w.db"))
    before = _time.time()
    s3.set("t", 1, "v", ttl_seconds=3600)
    row = s3._db.execute("SELECT deadline FROM kv").fetchone()
    assert row[0] >= before + 3599


def test_sqlite_streaming_upsert_durable(spark, tmp_path):
    """ST1 into the durable store: stream -> per-batch latest-per-
    entity -> set_if_newer lands in sqlite; a late out-of-order batch
    can't clobber the newer value, and a RESTARTED serving process
    reads the converged state from disk."""
    import datetime

    from featureform_spark.streaming.incremental import stream_to_online

    def t(m):
        return datetime.datetime(2024, 1, 1, 0, m)

    SCHEMA = "entity string, value double, ts timestamp, event_id long"
    src = tmp_path / "ssrc"
    src.mkdir()
    path = str(tmp_path / "stream.db")
    store = SqliteOnlineStore(path)
    spark.createDataFrame(
        [("a", 1.0, t(5), 0), ("b", 2.0, t(1), 1)], SCHEMA
    ).write.mode("append").parquet(str(src))

    def run():
        stream = spark.readStream.schema(SCHEMA).parquet(str(src))
        q = stream_to_online(
            stream, store, "feat", "entity", "value", "ts",
            str(tmp_path / "sckpt"))
        q.awaitTermination(60)

    run()
    assert store.get("feat", "a") == 1.0
    spark.createDataFrame(
        [("a", 0.5, t(2), 2), ("c", 3.0, t(1), 3)], SCHEMA
    ).write.mode("append").parquet(str(src))
    run()
    assert store.get("feat", "a") == 1.0  # stale write ignored
    assert store.get("feat", "c") == 3.0
    store.close()
    reopened = SqliteOnlineStore(path)
    assert reopened.get("feat", "a") == 1.0
    assert reopened.table_size("feat") == 3


def test_sqlite_partition_writers_share_one_file(spark, tmp_path):
    """Four Spark partitions write overlapping entities into one file
    through foreach_partition_write: every entity lands with its
    newest value, whichever partition wrote it. A locked file fails
    the job with sqlite's error instead of losing the batch."""
    import sqlite3

    from featureform_spark.serving.writer import foreach_partition_write

    path = str(tmp_path / "shared.db")
    store = SqliteOnlineStore(path)
    assert not hasattr(InMemoryOnlineStore(), "partition_writer")
    # row i: entity i % 50 at ts i, spread over 4 partitions so every
    # entity has rows in several of them
    df = spark.createDataFrame(
        [(i % 50, float(i), i) for i in range(400)],
        "entity long, value double, ts long",
    ).repartition(4)
    assert df.rdd.getNumPartitions() == 4
    foreach_partition_write(df, store.partition_writer("t"), batch_size=16)
    assert store.table_size("t") == 50
    for e in range(50):
        assert store.get("t", e) == float(350 + e)

    blocker = sqlite3.connect(path, isolation_level=None)
    blocker.execute("BEGIN IMMEDIATE")
    try:
        with pytest.raises(Exception, match="database is locked"):
            foreach_partition_write(
                spark.createDataFrame(
                    [(0, -1.0, 10**6)], "entity long, value double, ts long"
                ),
                store.partition_writer("t"),
            )
    finally:
        blocker.rollback()
        blocker.close()
    assert store.get("t", 0) == 350.0
