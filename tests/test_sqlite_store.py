"""SqliteOnlineStore: the durable table-plane twin of
InMemoryOnlineStore. One parametrized contract suite runs the SAME
assertions against both implementations (set/get, lazy TTL with an
injected clock, set_if_newer stale-write rejection + TTL refresh,
ordered multi-feature serve, unknown-table KeyError), plus the
sqlite-only guarantees: state survives close+reopen, and the
offline→online copy lands durably."""

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
