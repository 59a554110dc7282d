"""The change feeds of both table formats, checked against the
snapshots they describe rather than against each other.

For every commit of a short mixed history the feed's net change must
equal the snapshot diff: parent ⊎ inserts = snapshot ⊎ deletes, as
multisets of rows (Delta's update_preimage / update_postimage count as
delete / insert). Checked on the Spark feeds (``changelog_scan``,
``table_changes``) and on the sessionless batch ``readChangeFeed``.
One table per format serves every test here.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from featureform_spark.sources import deltaprotocol_datasource
from featureform_spark.sources import icebergprotocol_datasource
from featureform_spark.sources.delta_protocol import DeltaProtocolTable
from featureform_spark.sources.iceberg_protocol import IcebergProtocolTable
from featureform_spark.sources.icebergprotocol_datasource import (
    IcebergProtocolStreamReader,
)
from featureform_spark.sources.slice_scan import read_slice

_INSERT = {"insert", "update_postimage"}


def _rows(spark, keys):
    return spark.createDataFrame(
        [(k, k * 10, f"s{k}") for k in keys], "k long, v long, s string"
    )


def _multiset(df, cols):
    return Counter(tuple(r) for r in df.select(*cols).collect())


def _check_oracle(changes, commit_col, commits, snapshot_of, cols):
    """``commits``: [(commit, parent commit or None)] in order."""
    rows = changes.collect()
    for commit, parent in commits:
        before = Counter() if parent is None else snapshot_of(parent)
        after = snapshot_of(commit)
        ins, dels = Counter(), Counter()
        for r in rows:
            if r[commit_col] == commit:
                side = ins if r["_change_type"] in _INSERT else dels
                side[tuple(r[c] for c in cols)] += 1
        assert before + ins == after + dels, commit


# ------------------------------------------------------------- iceberg


@pytest.fixture(scope="module")
def ice(spark, tmp_path_factory):
    """append; v2 position delete; v3 upgrade; deletion-vector delete
    (which folds the v2 positions into its vector); equality delete;
    equality upsert."""
    icebergprotocol_datasource.register(spark)
    t = IcebergProtocolTable(spark, str(tmp_path_factory.mktemp("cf") / "i"))
    t.create(_rows(spark, range(60)).repartition(2))
    t.delete_rows(F.col("k") % 6 == 0)
    t.upgrade_format_version(3)
    t.delete_rows(F.col("k") % 9 == 0)
    t.delete_by_keys(_rows(spark, range(0, 60, 10)).select("k"), ["k"])
    t.upsert(_rows(spark, [1, 2, 70]).withColumn("v", F.lit(-1).cast("long")),
             ["k"])
    return t


def _ice_ids(t):
    return [int(s["snapshot-id"]) for s in t.main_lineage(t.metadata())]


def _ice_snapshot(t, cols):
    memo = {}

    def of(sid):
        if sid not in memo:
            memo[sid] = _multiset(t.snapshot(snapshot_id=sid), cols)
        return memo[sid]

    return of


def test_iceberg_dv_delete_reports_only_fresh_rows(spark, ice):
    """A v3 deletion vector folds in the positions an earlier v2
    position delete removed; every feed reports only the rows this
    commit deleted (k % 9 == 0 and k % 6 != 0)."""
    ids = _ice_ids(ice)
    assert len(ids) == 5
    parent, dv = ids[1], ids[2]
    want = [9, 27, 45]
    spark_feed = ice.changelog_scan(parent, dv)
    assert sorted(r["k"] for r in spark_feed.collect()) == want
    assert {r["_change_type"] for r in spark_feed.collect()} == {"delete"}
    batch = (
        spark.read.format("icebergprotocol")
        .options(
            path=ice.path,
            readChangeFeed="true",
            startingSnapshotId=str(parent),
            endingSnapshotId=str(dv),
        )
        .load()
        .filter(F.col("_commit_snapshot_id") == dv)
    )
    assert sorted(r["k"] for r in batch.collect()) == want
    stream = IcebergProtocolStreamReader(
        {"path": ice.path, "readchangefeed": "true"}
    )
    slices = stream.partitions({"snapshot_id": parent}, {"snapshot_id": dv})
    got = [
        row
        for s in slices
        for batch_ in read_slice(s)
        for row in batch_.to_pylist()
    ]
    assert sorted(r["k"] for r in got) == want
    assert {r["_change_type"] for r in got} == {"delete"}


def test_iceberg_feeds_match_snapshot_diffs(spark, ice):
    ids = _ice_ids(ice)
    cols = [f.name for f in ice.spark_schema(ice.metadata()).fields]
    snapshot_of = _ice_snapshot(ice, cols)
    commits = list(zip(ids, [None] + ids[:-1]))
    _check_oracle(
        ice.changelog_scan(), "_commit_snapshot_id", commits, snapshot_of,
        cols,
    )
    # the sessionless feed refuses overwrites (the upsert): its range
    # ends at the equality delete
    batch = (
        spark.read.format("icebergprotocol")
        .options(
            path=ice.path, readChangeFeed="true", endingSnapshotId=str(ids[3])
        )
        .load()
    )
    _check_oracle(
        batch, "_commit_snapshot_id", commits[:4], snapshot_of, cols
    )


# --------------------------------------------------------------- delta


@pytest.fixture(scope="module")
def delta(spark, tmp_path_factory):
    """v0 create (20 files); v1 DV delete_where over all 20 files and
    v2 a delete_where that drops one whole file, both before the change
    feed was enabled (no cdc files: the feed derives them); v3 enables
    the change feed; v4 DV delete_where; v5 the same delete_where
    again; v6 MERGE."""
    deltaprotocol_datasource.register(spark)
    t = DeltaProtocolTable(spark, str(tmp_path_factory.mktemp("cf") / "d"))
    t.create(_rows(spark, range(400)).repartitionByRange(20, "k"))
    t.delete_where(F.col("k") % 7 == 0)
    t.delete_where(F.col("k") < 20)
    st = t.state()
    meta = dict(st.metadata)
    meta["configuration"] = {
        **(meta.get("configuration") or {}),
        "delta.enableChangeDataFeed": "true",
    }
    t._commit(st.version + 1, [{"metaData": meta}], "SET TBLPROPERTIES")
    t.delete_where(F.col("k") % 5 == 0)
    t.delete_where(F.col("k") % 5 == 0)
    t.merge(
        _rows(spark, [21, 22, 500]).withColumn("v", F.lit(-1).cast("long")),
        key="k",
    )
    return t


def _delta_snapshot(t, cols):
    memo = {}

    def of(v):
        if v not in memo:
            memo[v] = _multiset(t.snapshot(version=v), cols)
        return memo[v]

    return of


def test_delta_dv_delete_is_one_data_file_scan(delta):
    """A DV delete over 20 files derives its change rows from ONE
    parquet scan of the touched files semi-joined to the fresh
    positions, not a union of one scan per file."""
    touched = [a for a in delta._read_commit(1) if "add" in a]
    assert len(touched) >= 20
    assert not any("cdc" in a for a in delta._read_commit(1))
    changes = delta.table_changes(0, 1)
    plan = changes._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert changes.count() == len([k for k in range(400) if k % 7 == 0])


def test_delta_feeds_match_snapshot_diffs(spark, delta):
    latest = delta.version()
    cols = [f.name for f in delta.state().schema.fields]
    snapshot_of = _delta_snapshot(delta, cols)
    commits = [(v, v - 1 if v else None) for v in range(latest + 1)]
    assert delta.properties()["delta.enableChangeDataFeed"] == "true"
    _check_oracle(
        delta.table_changes(-1), "_commit_version", commits, snapshot_of, cols
    )
    batch = (
        spark.read.format("deltaprotocol")
        .options(path=delta.path, readChangeFeed="true")
        .load()
    )
    assert set(batch.columns) - set(cols) == {
        "_change_type", "_commit_version", "_commit_timestamp",
    }
    _check_oracle(batch, "_commit_version", commits, snapshot_of, cols)
