"""The registered icebergprotocol data source: batch parity with the
native snapshot reader and Structured Streaming over snapshot-lineage
ordinals — the reference's iceberg streamer contract
(streamer/iceberg_streamer.py) on Spark's own offset machinery."""

import os

import pytest
from pyspark.sql import functions as F

from featureform_spark.sources.iceberg_protocol import IcebergProtocolTable
from featureform_spark.sources.icebergprotocol_datasource import register


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@pytest.fixture()
def reg(spark):
    register(spark)
    return spark


def test_batch_read_matches_snapshot(reg, spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "b"))
    t.create(
        orders.filter(F.col("o_orderkey") % 3 == 0),
        partition_by=["bucket(4, o_custkey)"],
    )
    t.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    via_ds = spark.read.format("icebergprotocol").options(
        path=str(tmp_path / "b")
    ).load()
    native = t.snapshot().select(*via_ds.columns)
    assert sorted(map(tuple, via_ds.collect())) == sorted(
        map(tuple, native.collect())
    )


def test_batch_read_applies_row_deletes(reg, spark, sf_dir, tmp_path):
    """The batch source returns snapshot()'s rows after an upsert
    (equality deletes), a v2 delete_rows (position deletes) and a v3
    delete_rows (deletion vectors)."""
    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "d")
    t = IcebergProtocolTable(spark, path)
    t.create(orders.limit(60).repartition(2))

    def check():
        via_ds = spark.read.format("icebergprotocol").options(
            path=path
        ).load()
        native = t.snapshot().select(*via_ds.columns)
        assert sorted(map(tuple, via_ds.collect())) == sorted(
            map(tuple, native.collect())
        )

    t.upsert(
        orders.limit(5).withColumn("o_totalprice", F.lit(1.5)),
        ["o_orderkey"],
    )
    check()
    t.delete_rows(F.col("o_orderkey") % 4 == 0)
    check()
    t.upgrade_format_version(3)
    t.delete_rows(F.col("o_orderkey") % 3 == 0)
    check()


def test_stream_snapshot_ordinal_offsets_and_resume(
    reg, spark, sf_dir, tmp_path
):
    orders = _orders(spark, sf_dir)
    tdir = str(tmp_path / "s")
    t = IcebergProtocolTable(spark, tdir)
    t.create(orders.filter(F.col("o_orderkey") % 4 == 0))
    t.append(orders.filter(F.col("o_orderkey") % 4 == 1))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("icebergprotocol")
            .options(path=tdir)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    assert drain().count() == orders.filter(
        F.col("o_orderkey") % 4 <= 1
    ).count()
    t.append(orders.filter(F.col("o_orderkey") % 4 == 2))
    got = drain()
    n = orders.filter(F.col("o_orderkey") % 4 <= 2).count()
    assert got.count() == n and got.distinct().count() == n


def test_offsets_are_snapshot_ids_and_expiry_raises(
    reg, spark, sf_dir, tmp_path
):
    """Offsets checkpoint snapshot IDs, not list ordinals —
    expire_snapshots shifts ordinals, so an ordinal-based resume would
    silently remap to different snapshots (ADVICE r5). An expired
    checkpointed id must raise; surviving ids resolve to the same
    snapshot regardless of position shift."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolError,
    )
    from featureform_spark.sources.icebergprotocol_datasource import (
        IcebergProtocolStreamReader,
    )

    orders = _orders(spark, sf_dir)
    tdir = str(tmp_path / "exp")
    t = IcebergProtocolTable(spark, tdir)
    t.create(orders.limit(30))
    t.append(orders.limit(60).subtract(orders.limit(30)))
    t.append(orders.limit(90).subtract(orders.limit(60)))
    r = IcebergProtocolStreamReader({"path": tdir})
    snaps = t.snapshots(t.metadata())
    ids = [int(s["snapshot-id"]) for s in snaps]
    assert r.latestOffset() == {"snapshot_id": ids[-1]}
    assert r.initialOffset() == {"snapshot_id": -1}
    # full range plans one partition per appended file
    parts = r.partitions(
        {"snapshot_id": -1}, {"snapshot_id": ids[-1]}
    )
    assert len(parts) >= 3
    t.expire_snapshots(retain_last=2)
    snaps2 = t.snapshots(t.metadata())
    assert [int(s["snapshot-id"]) for s in snaps2] == ids[1:]
    # a surviving checkpointed id still resolves (position shifted)
    r.partitions({"snapshot_id": ids[1]}, {"snapshot_id": ids[2]})
    # the expired id raises instead of remapping
    with pytest.raises(IcebergProtocolError, match="no longer"):
        r.partitions({"snapshot_id": ids[0]}, {"snapshot_id": ids[2]})
    # legacy ordinal checkpoints still resolve positionally
    assert r.partitions({"ordinal": 0}, {"ordinal": 1}) != []


def test_stream_refuses_change_snapshots_unless_skipped(
    reg, spark, sf_dir, tmp_path
):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    orders = _orders(spark, sf_dir)
    tdir = str(tmp_path / "c")
    t = IcebergProtocolTable(spark, tdir)
    t.create(orders.limit(80))
    t.rewrite_data_files()  # 'replace' snapshot: not an append

    def run(name, extra):
        q = (
            spark.readStream.format("icebergprotocol")
            .options(path=tdir, **extra)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with pytest.raises((StreamingQueryException, Py4JJavaError)) as ei:
        run("ip_fail", {})
    assert "skipChangeSnapshots" in str(ei.value)
    run("ip_ok", {"skipChangeSnapshots": "true"})
    n = spark.sql("SELECT count(*) c FROM ip_ok").first()["c"]
    assert n == 80  # the initial append only; the rewrite is skipped


def test_stream_read_change_feed(reg, spark, sf_dir, tmp_path):
    """readChangeFeed=true on the registered iceberg source: inserts
    from appends, delete replays SELECTING freshly-deleted positions
    from the referenced files (v2 parquet deletes AND v3 DV diffs),
    parity with changelog_scan, checkpointed resume."""
    orders = _orders(spark, sf_dir)
    tdir = str(tmp_path / "icdf")
    t = IcebergProtocolTable(spark, tdir)
    t.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    t.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    t.delete_rows(F.col("o_orderkey") % 6 == 0)   # v2 pos deletes
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("icebergprotocol")
            .options(path=tdir, readChangeFeed="true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    got = drain()
    want = t.changelog_scan().select(*got.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # resume: upgrade to v3, DV delete, drain only the new changes
    t.upgrade_format_version(3)
    t.delete_rows(F.col("o_orderkey") % 9 == 0)   # v3 DV
    got2 = drain()
    n_new = (
        t.changelog_scan(
            from_snapshot_id=t.snapshots(t.metadata())[-2]["snapshot-id"]
        ).count()
    )
    assert got2.count() == got.count() + n_new
    assert got2.count() == got2.distinct().count()


def test_batch_read_change_feed(reg, spark, sf_dir, tmp_path):
    """Batch CDF via the registered source: snapshot-id range options
    mirror the delta source's version options; parity with
    changelog_scan over the same range."""
    orders = _orders(spark, sf_dir)
    tdir = str(tmp_path / "bicdf")
    t = IcebergProtocolTable(spark, tdir)
    t.create(orders.limit(100))
    t.append(orders.limit(150).subtract(orders.limit(100)))
    t.delete_rows(F.col("o_orderkey") % 5 == 0)
    snaps = t.snapshots(t.metadata())
    got = (
        spark.read.format("icebergprotocol")
        .options(path=tdir, readChangeFeed="true")
        .load()
    )
    want = t.changelog_scan().select(*got.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # bounded range: only the delete snapshot's changes
    rng = (
        spark.read.format("icebergprotocol")
        .options(
            path=tdir,
            readChangeFeed="true",
            startingSnapshotId=str(snaps[1]["snapshot-id"]),
            endingSnapshotId=str(snaps[2]["snapshot-id"]),
        )
        .load()
    )
    assert set(
        r["_change_type"]
        for r in rng.select("_change_type").distinct().collect()
    ) == {"delete"}


def test_stream_read_change_feed_equality_deletes(reg, spark, sf_dir, tmp_path):
    """Equality deletes (the Flink streaming-upsert shape) in a
    streamed CDF range: delete rows are the PARENT-live rows matching
    the new key tuples — parity with changelog_scan, including a
    second equality delete whose replay must not re-emit rows already
    equality-deleted by the first, and composition with positional
    deletes in the parent."""
    orders = _orders(spark, sf_dir)
    tdir = str(tmp_path / "ieqcdf")
    t = IcebergProtocolTable(spark, tdir)
    t.create(orders.limit(120))
    t.delete_rows(F.col("o_orderkey") % 7 == 0)  # parent positional
    keys1 = orders.limit(120).filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey"
    )
    t.delete_by_keys(keys1, ["o_orderkey"])      # equality delete 1
    keys2 = orders.limit(120).filter(F.col("o_orderkey") % 6 == 0).select(
        "o_orderkey"
    )
    t.delete_by_keys(keys2, ["o_orderkey"])      # overlaps 1 on %12
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("icebergprotocol")
        .options(path=tdir, readChangeFeed="true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    want = t.changelog_scan().select(*got.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # sanity on the semantics themselves: the second delete must not
    # re-emit %12 rows (already gone after delete 1), nor %28 rows
    # (gone to the positional delete before either)
    # ordinals: create=0, positional delete=1, eq delete 1=2, eq 2=3
    dels2 = got.filter(
        (F.col("_change_type") == "delete")
        & (F.col("_change_ordinal") == 3)
    )
    assert dels2.filter(F.col("o_orderkey") % 12 == 0).count() == 0
    # rows positionally deleted BEFORE either equality delete must not
    # re-emit from the equality replays (they do emit at ordinal 1)
    assert (
        got.filter(
            (F.col("_change_type") == "delete")
            & (F.col("_change_ordinal") >= 2)
            & (F.col("o_orderkey") % 28 == 0)
        ).count()
        == 0
    )
    assert dels2.count() > 0
