"""Iceberg v2 EQUALITY-delete WRITES + streaming upsert (spec
content=2; the Flink upsert-sink commit shape): the delete file stores
key values, not positions, so the writer never scans the table —
O(batch) CDC ingestion. `upsert` commits new data files and the
batch-key equality delete at the SAME sequence number, so the delete
applies only to strictly older files (spec scan-planning rule) and the
new rows survive their own delete. The read side existed since r6
(`_scan` applies content=2 null-safe with seq scoping);
this closes the loop so both directions are in-repo."""

import os

import pytest
from pyspark.sql import functions as F

from featureform_spark.sources.iceberg_protocol import (
    IcebergProtocolError,
    IcebergProtocolTable,
)


def _events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "user_id", "value"
    )


def test_equality_delete_lifecycle(spark, sf_dir, tmp_path):
    e = _events(spark, sf_dir).limit(300)
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(e)
    keys = e.filter(F.col("event_id") % 5 == 0).select("event_id")
    sid = t.delete_by_keys(keys, ["event_id"])
    assert sid > 0
    got = t.snapshot()
    assert got.filter(F.col("event_id") % 5 == 0).count() == 0
    want = e.filter(F.col("event_id") % 5 != 0)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # the delete is sequence-scoped: re-appending the SAME keys later
    # survives (data_seq > delete_seq)
    back = e.filter(F.col("event_id") % 5 == 0).limit(10)
    t.append(back)
    assert t.snapshot().filter(
        F.col("event_id") % 5 == 0
    ).count() == back.count()
    # summary records the equality-delete file
    snaps = {s["snapshot-id"]: s for s in t.snapshots()}
    assert snaps[sid]["summary"]["added-equality-delete-files"] == "1"


def test_equality_delete_null_matching_and_refusals(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "c", 3.0)],
        "event_id long, user_id string, value double",
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(df)
    # spec: null values MATCH in equality deletes
    keys = spark.createDataFrame([(None,)], "user_id string")
    t.delete_by_keys(keys, ["user_id"])
    assert sorted(
        r["event_id"] for r in t.snapshot().collect()
    ) == [1, 3]
    with pytest.raises(IcebergProtocolError, match="unknown column"):
        t.delete_by_keys(keys, ["ghost"])
    with pytest.raises(IcebergProtocolError, match="float/double"):
        t.delete_by_keys(
            spark.createDataFrame([(1.0,)], "value double"), ["value"]
        )
    # empty key set: no commit
    assert t.delete_by_keys(
        spark.createDataFrame([], "user_id string"), ["user_id"]
    ) == -1


def test_upsert_updates_and_inserts(spark, sf_dir, tmp_path):
    e = _events(spark, sf_dir).limit(400)
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(e.filter(F.col("event_id") % 3 == 0))
    t.append(e.filter(F.col("event_id") % 3 == 1))
    v_pre = t.metadata()["current-snapshot-id"]
    batch = e.filter(
        (F.col("event_id") % 6 == 0) | (F.col("event_id") % 3 == 2)
    ).withColumn("value", F.col("value") + 1000.0)
    t.upsert(batch, ["event_id"])
    got = {
        r["event_id"]: r["value"] for r in t.snapshot().collect()
    }
    want = {
        r["event_id"]: (
            r["value"] + 1000.0
            if r["event_id"] % 6 == 0 or r["event_id"] % 3 == 2
            else r["value"]
        )
        for r in e.collect()
    }
    assert got == want
    # a second upsert stacks (two equality deletes at rising seqs)
    again = e.filter(F.col("event_id") % 6 == 0).withColumn(
        "value", F.lit(-5.0)
    )
    t.upsert(again, ["event_id"])
    got2 = {
        r["event_id"]: r["value"] for r in t.snapshot().collect()
    }
    for k, v in got2.items():
        assert v == (-5.0 if k % 6 == 0 else want[k])
    # time travel to the pre-upsert snapshot is untouched
    pre = t.snapshot(snapshot_id=v_pre)
    assert pre.count() == e.filter(F.col("event_id") % 3 != 2).count()
    assert pre.filter(F.col("value") > 999.0).count() == 0


def test_upsert_refuses_duplicate_keys_and_empty_table(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0)],
        "event_id long, user_id string, value double",
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    with pytest.raises(IcebergProtocolError, match="iceberg table"):
        t.upsert(df, ["event_id"])  # no table yet
    t.create(df.limit(1))
    with pytest.raises(IcebergProtocolError, match="duplicate key"):
        t.upsert(df, ["event_id"])


def test_upsert_v3_row_lineage(spark, tmp_path):
    """Equality deletes remain legal at format-version 3 (only new
    POSITION deletes are forbidden — DVs replace those); upserted data
    files get row lineage like any append."""
    df = spark.createDataFrame(
        [(i, f"u{i}", float(i)) for i in range(10)],
        "event_id long, user_id string, value double",
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(df)
    t.upgrade_format_version(3)
    batch = spark.createDataFrame(
        [(5, "u5", 500.0), (99, "u99", 99.0)],
        "event_id long, user_id string, value double",
    )
    t.upsert(batch, ["event_id"])
    got = {r["event_id"]: r["value"] for r in t.snapshot().collect()}
    assert got[5] == 500.0 and got[99] == 99.0 and len(got) == 11
    rid = t.snapshot_with_row_ids()
    ids = {r["event_id"]: r["_row_id"] for r in rid.collect()}
    # pre-upgrade files read NULL row ids (assigned on rewrite, per
    # spec); the upserted data files carry fresh unique lineage
    assert ids[5] is not None and ids[99] is not None
    assert ids[5] != ids[99]
    assert all(v is None for k, v in ids.items() if k not in (5, 99))


def test_rewrite_folds_upsert_state(spark, sf_dir, tmp_path):
    """Maintenance interplay: equality deletes accumulate per upsert
    batch and tax every read — rewrite_data_files materializes the
    merge-on-read state into fresh files and the delete files age out
    of scope, so reads go back to one plain scan while values stay
    row-identical."""
    e = _events(spark, sf_dir).limit(200)
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(e)
    for mod, bump in ((2, 10.0), (3, 100.0)):
        batch = e.filter(F.col("event_id") % mod == 0).withColumn(
            "value", F.col("value") + bump
        )
        t.upsert(batch, ["event_id"])
    before = sorted(map(tuple, t.snapshot().collect()))
    t.rewrite_data_files()
    after = sorted(map(tuple, t.snapshot().collect()))
    assert before == after
    # post-compaction state carries no live delete files
    snap = t.current_snapshot(t.metadata())
    _data, deletes = t._live_entries(snap)
    assert deletes == []
    # and upserts keep working on the compacted table
    t.upsert(
        e.limit(5).withColumn("value", F.lit(0.5)), ["event_id"]
    )
    got = {r["event_id"]: r["value"] for r in t.snapshot().collect()}
    for r in e.limit(5).collect():
        assert got[r["event_id"]] == 0.5


def test_upsert_null_key_batch_is_not_duplicate(spark, tmp_path):
    """count_distinct over bare columns skips any-NULL rows; the dup
    check must count struct-wrapped keys so a key-unique batch with a
    NULL key passes (null-keyed rows are first-class equality-delete
    citizens — nulls match null-safe)."""
    df = spark.createDataFrame(
        [(1, "a", 1.0), (None, "n", 2.0)],
        "event_id long, user_id string, value double",
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(df)
    batch = spark.createDataFrame(
        [(1, "a2", 10.0), (None, "n2", 20.0)],
        "event_id long, user_id string, value double",
    )
    t.upsert(batch, ["event_id"])  # must NOT raise 'duplicate'
    got = {r["user_id"] for r in t.snapshot().collect()}
    assert got == {"a2", "n2"}
    # two NULL-keyed rows in one batch ARE duplicates (same key tuple)
    dup = spark.createDataFrame(
        [(None, "x", 1.0), (None, "y", 2.0)],
        "event_id long, user_id string, value double",
    )
    with pytest.raises(IcebergProtocolError, match="duplicate"):
        t.upsert(dup, ["event_id"])


def test_txn_watermark_survives_expire_snapshots(spark, tmp_path):
    """The exactly-once watermark rides the committing snapshot's
    summary; expiring that snapshot must fold the maximum into table
    properties, or a replayed foreachBatch would re-commit."""
    df = spark.createDataFrame(
        [(i, f"u{i}", float(i)) for i in range(10)],
        "event_id long, user_id string, value double",
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(df)
    t.upsert(df.limit(3), ["event_id"], txn=("app-x", 4))
    t.append(df.limit(1).withColumn("event_id", F.lit(999)))
    assert t.txn_watermark("app-x") == 4
    out = t.expire_snapshots(retain_last=1)
    assert out["expired"] >= 1
    # watermark survived the expiry via properties
    assert t.txn_watermark("app-x") == 4
    assert t.upsert(df.limit(2), ["event_id"], txn=("app-x", 3)) == -1
    assert t.upsert(df.limit(2), ["event_id"], txn=("app-x", 5)) > 0


def test_delete_by_keys_validates_before_empty_return(spark, tmp_path):
    """A typo'd key column must raise even on a snapshot-less table —
    returning -1 there would hide the typo until data exists."""
    df = spark.createDataFrame([], "event_id long, value double")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(df)
    with pytest.raises(IcebergProtocolError, match="unknown column"):
        t.delete_by_keys(
            spark.createDataFrame([(1,)], "event_iid long"),
            ["event_iid"],
        )


def test_eq_delete_identifier_type_allowlist(tmp_path):
    """Spec: identifier fields are primitives only — variant (and any
    other non-identifier type) refuses up front with a clean error,
    never an opaque mid-write parquet crash."""
    t = IcebergProtocolTable(None, str(tmp_path / "t"))
    md = {
        "format-version": 3,
        "current-schema-id": 0,
        "schemas": [{
            "schema-id": 0,
            "type": "struct",
            "fields": [
                {"id": 1, "name": "k", "type": "long", "required": False},
                {"id": 2, "name": "v", "type": "variant",
                 "required": False},
            ],
        }],
    }
    assert t._validate_eq_fields(md, ["k"]) == [1]
    with pytest.raises(IcebergProtocolError, match="identifier"):
        t._validate_eq_fields(md, ["v"])


def test_upsert_native_table_reads_no_manifests(spark, tmp_path, monkeypatch):
    """The mirror guard short-circuits on table properties: a native
    table's upsert must never pay an O(#manifests) _live_entries read
    per micro-batch (that cost grows with history and would break the
    documented O(batch) contract)."""
    df = spark.createDataFrame(
        [(1, "a", 1.0)], "event_id long, user_id string, value double"
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(df)

    def boom(self, snap):
        raise AssertionError("_live_entries called on the native path")

    monkeypatch.setattr(IcebergProtocolTable, "_live_entries", boom)
    t.upsert(
        spark.createDataFrame(
            [(2, "b", 2.0)],
            "event_id long, user_id string, value double",
        ),
        ["event_id"],
    )
    monkeypatch.undo()
    assert t.snapshot().count() == 2


def test_upsert_on_partitioned_table(spark, tmp_path):
    """Global equality deletes (partition: {}) must apply across a
    PARTITIONED table's files — the delete is keyed on values, not
    partitions, so one delete file covers every partition."""
    df = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i)) for i in range(30)],
        "event_id long, bucket string, value double",
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(df, partition_by=["bucket"])
    batch = df.filter(F.col("event_id") % 2 == 0).withColumn(
        "value", F.col("value") + 100.0
    )
    t.upsert(batch, ["event_id"])
    got = {r["event_id"]: r["value"] for r in t.snapshot().collect()}
    assert len(got) == 30
    for k, v in got.items():
        assert v == (k + 100.0 if k % 2 == 0 else float(k))
    # keyed delete across partitions too
    t.delete_by_keys(
        spark.createDataFrame([(0,), (1,), (2,)], "event_id long"),
        ["event_id"],
    )
    assert t.snapshot().count() == 27
    # SPEC CONFORMANCE: the delete manifests ride a registered
    # UNPARTITIONED spec — external readers scope delete files by
    # their manifest's spec, and under the partitioned spec an empty
    # tuple would mean 'the null partition only'
    md = t.metadata()
    unpart = [
        s for s in md["partition-specs"] if not s.get("fields")
    ]
    assert len(unpart) == 1
    from featureform_spark.sources.iceberg_protocol import read_container

    snap = t.current_snapshot(md)
    _, manifests = read_container(t._resolve_path(snap["manifest-list"]))
    del_specs = {
        int(m["partition_spec_id"])
        for m in manifests
        if int(m.get("content", 0)) == 1
    }
    assert del_specs == {int(unpart[0]["spec-id"])}


def test_deletes_apply_to_table_with_path_column(spark, tmp_path):
    """The scan's delete joins use reserved column names: a table
    column called ``path`` survives an equality and a position
    delete."""
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, path string"
        )
    )
    t.upsert(
        spark.createDataFrame([(1, "z")], "k long, path string"), ["k"]
    )
    t.delete_rows(F.col("k") == 2)
    assert sorted(tuple(r) for r in t.snapshot().collect()) == [
        (1, "z"), (3, "c"),
    ]


def test_changelog_over_upsert(spark, tmp_path):
    """The changelog's 'overwrite' path (exceptAll of adjacent
    snapshots) renders an upsert as delete-of-old + insert-of-new per
    updated key, plus plain inserts for new keys — downstream CDC
    consumers see row-level semantics even though the commit is an
    equality delete."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "event_id long, value double"
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(df)
    batch = spark.createDataFrame(
        [(0, 99.0), (1, 99.0), (77, 7.0)], "event_id long, value double"
    )
    t.upsert(batch, ["event_id"])
    got = sorted(
        (r["event_id"], r["value"], r["_change_type"], r["_change_ordinal"])
        for r in t.changelog_scan().collect()
        if r["_change_ordinal"] == 1
    )
    assert got == [
        (0, 0.0, "delete", 1), (0, 99.0, "insert", 1),
        (1, 1.0, "delete", 1), (1, 99.0, "insert", 1),
        (77, 7.0, "insert", 1),
    ]


def test_upsert_arrow_sessionless(spark, tmp_path):
    """upsert's JVM-free twin: a pyarrow batch commits data + key
    delete at one sequence number with zero Spark involvement on the
    write path — reads (through Spark) see one live row per key;
    replays no-op through the same txn watermark, which re-checks on
    commit-race refolds; duplicates and empty uploads behave like the
    Spark path."""
    import pyarrow as pa

    df = spark.createDataFrame(
        [(i, f"u{i}", float(i)) for i in range(8)],
        "event_id long, user_id string, value double",
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(df)
    batch = pa.table(
        {
            "event_id": pa.array([0, 1, 99], type=pa.int64()),
            "user_id": pa.array(["x0", "x1", "x99"]),
            "value": pa.array([100.0, 101.0, 199.0]),
        }
    )
    sid = t.upsert_arrow(batch, ["event_id"], txn=("pod-1", 0))
    assert sid > 0
    got = {r["event_id"]: (r["user_id"], r["value"])
           for r in t.snapshot().collect()}
    assert len(got) == 9
    assert got[0] == ("x0", 100.0) and got[99] == ("x99", 199.0)
    assert got[2] == ("u2", 2.0)  # untouched key
    # replay no-ops
    assert t.upsert_arrow(batch, ["event_id"], txn=("pod-1", 0)) == -1
    assert t.snapshot().count() == 9
    # duplicate key tuple in one upload refuses
    dup = pa.table(
        {
            "event_id": pa.array([5, 5], type=pa.int64()),
            "user_id": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0]),
        }
    )
    with pytest.raises(IcebergProtocolError, match="duplicate"):
        t.upsert_arrow(dup, ["event_id"])
    # empty upload -> -1, nothing committed
    empty = batch.slice(0, 0)
    assert t.upsert_arrow(empty, ["event_id"]) == -1
    assert t.snapshot().count() == 9
    # no orphan staging files from the refused/empty paths: every
    # parquet under data/ is referenced by the live state
    snap = t.current_snapshot(t.metadata())
    data_entries, deletes = t._live_entries(snap)
    referenced = {
        os.path.basename(e["data_file"]["file_path"])
        for e in data_entries + deletes
    }
    import glob
    on_disk = {
        os.path.basename(p)
        for p in glob.glob(str(tmp_path / "t" / "data" / "*.parquet"))
    }
    assert on_disk == referenced


def test_upsert_arrow_fills_write_defaults(spark, tmp_path):
    """upsert_arrow honors the same write-default writer duty as
    append_arrow: a batch omitting a defaulted column materializes the
    default instead of hard-failing the CDC pipeline."""
    import pyarrow as pa

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "event_id long, value double"
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(df)
    t.upgrade_format_version(3)  # defaults are a v3 feature
    new = df.withColumn("region", F.lit("emea")).schema
    t.evolve_schema(new, defaults={"region": "emea"})
    batch = pa.table(
        {
            "event_id": pa.array([0, 99], type=pa.int64()),
            "value": pa.array([100.0, 99.0]),
        }
    )  # omits 'region' — the write-default must materialize
    t.upsert_arrow(batch, ["event_id"])
    got = {
        r["event_id"]: (r["value"], r["region"])
        for r in t.snapshot().collect()
    }
    assert got[0] == (100.0, "emea") and got[99] == (99.0, "emea")
    assert len(got) == 6
    # pre-existing rows read the initial-default too
    assert got[2] == (2.0, "emea")


def test_concurrent_upserts_converge(spark, tmp_path):
    """The commit CAS under real contention: N threads upsert DISJOINT
    key batches concurrently — every batch must land exactly once
    (losers refold and retry through the O_EXCL race), the final state
    carries every update, and sequence numbers stay strictly
    increasing so each batch's delete scopes correctly."""
    import threading

    df = spark.createDataFrame(
        [(i, 0.0) for i in range(40)], "event_id long, value double"
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(df)
    errors: list[Exception] = []

    def worker(w: int) -> None:
        try:
            batch = spark.createDataFrame(
                [(i, float(w + 1)) for i in range(w * 10, w * 10 + 10)],
                "event_id long, value double",
            )
            t.upsert_arrow(batch.toArrow(), ["event_id"])
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=worker, args=(w,)) for w in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    got = {r["event_id"]: r["value"] for r in t.snapshot().collect()}
    assert len(got) == 40
    for k, v in got.items():
        assert v == float(k // 10 + 1), (k, v)
    # every upsert made its own snapshot at a distinct sequence number
    md = t.metadata()
    seqs = sorted(
        int(s.get("sequence-number") or 0) for s in t.snapshots(md)
    )
    assert len(seqs) == len(set(seqs)) == 5  # create + 4 upserts
