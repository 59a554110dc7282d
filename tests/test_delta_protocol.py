"""Real Delta Lake protocol tables (sources/delta_protocol.py): log
shape conformance against the published PROTOCOL.md, round-trips, time
travel, partition recovery, stats/partition pruning, checkpoints, log
retention, SetTransaction idempotence, and honest feature gates."""

import json
import os

import pytest
from pyspark.sql import functions as F

from featureform_spark.sources.delta_protocol import (
    DeltaProtocolTable,
    DeltaProtocolError,
    UnsupportedTableFeatureError,
    read_delta_path,
)


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_roundtrip_and_time_travel(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.filter(F.col("o_orderkey") % 3 == 0))          # v0
    t.append(orders.filter(F.col("o_orderkey") % 3 == 1))          # v1
    t.overwrite(orders.filter(F.col("o_orderkey") % 3 == 2))       # v2

    assert t.version() == 2
    assert _sorted_rows(t.snapshot()) == _sorted_rows(
        orders.filter(F.col("o_orderkey") % 3 == 2)
    )
    assert _sorted_rows(t.snapshot(0)) == _sorted_rows(
        orders.filter(F.col("o_orderkey") % 3 == 0)
    )
    assert _sorted_rows(t.snapshot(1)) == _sorted_rows(
        orders.filter(F.col("o_orderkey") % 3 < 2)
    )
    # read_delta_path falls back to the protocol reader (no vendor jar)
    assert read_delta_path(spark, str(tmp_path / "t"), 0).count() == (
        t.snapshot(0).count()
    )


def test_log_shape_conforms_to_protocol(spark, sf_dir, tmp_path):
    """The commit JSON must be what delta-spark/delta-rs expect: 20-digit
    zero-padded file names, one action per line, protocol+metaData in
    commit 0, add actions with URL-encoded relative path,
    partitionValues map, size, modificationTime, dataChange, stats."""
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(100))

    log = tmp_path / "t" / "_delta_log"
    assert (log / ("0" * 20 + ".json")).exists()
    actions = [json.loads(l) for l in (log / ("0" * 20 + ".json")).read_text().splitlines()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["format"] == {"provider": "parquet", "options": {}}
    assert json.loads(meta["schemaString"])["type"] == "struct"
    for a in actions:
        if "add" in a:
            add = a["add"]
            assert not add["path"].startswith("/")
            assert set(add) >= {
                "path", "partitionValues", "size",
                "modificationTime", "dataChange", "stats",
            }
            stats = json.loads(add["stats"])
            assert stats["numRecords"] > 0
            assert "minValues" in stats and "maxValues" in stats
            assert os.path.exists(tmp_path / "t" / add["path"])


def test_partitioned_write_and_recovery(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir).withColumn(
        "bucket", (F.col("o_orderkey") % 4).cast("int")
    )
    t = DeltaProtocolTable(spark, str(tmp_path / "p"))
    t.create(orders, partition_by=["bucket"])

    got = t.snapshot()
    assert got.schema["bucket"].dataType.simpleString() == "int"
    assert _sorted_rows(got.select(*orders.columns)) == _sorted_rows(orders)

    # add actions carry partitionValues; files live in Hive-style dirs
    st = t.state()
    pvs = {a["partitionValues"]["bucket"] for a in st.adds.values()}
    assert pvs == {"0", "1", "2", "3"}

    # partition pruning reads only matching files
    pruned = t.snapshot_where({"bucket": 2})
    assert t._last_prune["files_read"] < t._last_prune["files_total"]
    assert _sorted_rows(pruned.select(*orders.columns)) == _sorted_rows(
        orders.filter(F.col("bucket") == 2)
    )


def test_stats_pruning_skips_disjoint_files(spark, sf_dir, tmp_path):
    orders = (
        _orders(spark, sf_dir)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    t = DeltaProtocolTable(spark, str(tmp_path / "z"))
    t.create(orders)
    got = t.snapshot_pruned("o_orderkey", 1000, 3000)
    assert t._last_prune["files_read"] < t._last_prune["files_total"]
    expect = orders.filter(
        (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") <= 3000)
    )
    assert _sorted_rows(got) == _sorted_rows(expect)


def test_checkpoint_and_log_retention(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "c"))
    t.create(orders.filter(F.col("o_orderkey") % 7 == 0))
    for k in range(1, 5):
        t.append(orders.filter(F.col("o_orderkey") % 7 == k))
    before = _sorted_rows(t.snapshot())

    cp_v = t.checkpoint()
    assert cp_v == 4
    assert (tmp_path / "c" / "_delta_log" / "_last_checkpoint").exists()
    last = json.loads(
        (tmp_path / "c" / "_delta_log" / "_last_checkpoint").read_text()
    )
    assert last["version"] == 4

    t.append(orders.filter(F.col("o_orderkey") % 7 == 5))          # v5
    removed = t.clean_log()
    assert removed == 5  # commits 0..4 folded into the checkpoint
    got = _sorted_rows(t.snapshot())
    assert got == _sorted_rows(
        orders.filter(F.col("o_orderkey") % 7 <= 5)
    )
    # state below the horizon without its commits is an error, not wrong rows
    with pytest.raises(DeltaProtocolError):
        t.state(2)
    # but the checkpointed version itself is still readable
    assert _sorted_rows(t.snapshot(4)) == before


def test_set_transaction_idempotent_append(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "x"))
    t.create(orders.limit(0))
    batch = orders.limit(50)
    assert t.append(batch, txn=("job-1", 7)) == 1
    n = t.snapshot().count()
    assert t.append(batch, txn=("job-1", 7)) == -1      # replay: no-op
    assert t.snapshot().count() == n
    assert t.txn_version("job-1") == 7
    assert t.append(batch, txn=("job-1", 8)) == 2       # newer: applies
    assert t.snapshot().count() == 2 * n


def test_feature_gates(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "g"))
    t.create(orders.limit(10))
    log = tmp_path / "g" / "_delta_log"

    # a deletion vector with an UNKNOWN storage type must refuse, not
    # return deleted rows (u/i/p are supported — test_delta_dv covers
    # the read path)
    dv = {"add": {"path": "nope.parquet", "partitionValues": {},
                  "size": 1, "modificationTime": 0, "dataChange": True,
                  "deletionVector": {"storageType": "z", "pathOrInlineDv": "x",
                                     "offset": 1, "sizeInBytes": 1, "cardinality": 1}}}
    (log / ("%020d.json" % 1)).write_text(json.dumps(dv) + "\n")
    with pytest.raises(UnsupportedTableFeatureError):
        t.snapshot()
    os.remove(log / ("%020d.json" % 1))

    # unknown column-mapping mode gate (name/id are supported —
    # test_column_mapping_read covers the read path)
    st = t.state()
    meta = dict(st.metadata)
    meta["configuration"] = {"delta.columnMapping.mode": "weird"}
    (log / ("%020d.json" % 1)).write_text(
        json.dumps({"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}})
        + "\n" + json.dumps({"metaData": meta}) + "\n"
    )
    with pytest.raises(UnsupportedTableFeatureError):
        t.snapshot()
    os.remove(log / ("%020d.json" % 1))

    # unknown reader feature gate (protocol v3) — v2Checkpoint became
    # supported in round 6 and typeWidening in round 8, so probe with
    # a feature we genuinely lack
    (log / ("%020d.json" % 1)).write_text(
        json.dumps({"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                                 "readerFeatures": ["collations"]}}) + "\n"
    )
    with pytest.raises(UnsupportedTableFeatureError):
        t.snapshot()


def test_concurrent_commit_loses_cleanly(spark, sf_dir, tmp_path):
    """Two writers racing to the same version: O_EXCL makes the second
    put-if-absent fail (Delta LogStore contract) instead of clobbering."""
    from featureform_spark.sources.delta_protocol import ConcurrentCommitError

    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "r"))
    t.create(orders.limit(10))
    t._commit(1, [], "WRITE")
    with pytest.raises(ConcurrentCommitError):
        t._commit(1, [], "WRITE")


def test_append_retries_past_concurrent_commit(spark, sf_dir, tmp_path):
    """A blind append that loses the O_EXCL race folds the winning
    commit and retries at the next version (appends commute); a
    non-commuting overwrite surfaces ConcurrentCommitError instead."""
    from featureform_spark.sources.delta_protocol import ConcurrentCommitError

    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "occ"))
    t.create(orders.limit(10))
    # simulate a winner landing at the version append will try first
    t._commit(1, [], "NOOP")
    b = orders.limit(20).subtract(orders.limit(10))
    v = t.append(b)
    assert v == 2
    assert t.snapshot().count() == 20
    # SetTransaction replay still no-ops across a retry
    t._commit(3, [], "NOOP")
    assert t.append(b, txn=("app", 5)) == 4
    t._commit(5, [], "NOOP")
    assert t.append(b, txn=("app", 5)) == -1
    # an overwrite must NOT silently retry
    real_commit = t._commit
    calls = {"n": 0}

    def racing_commit(version, actions, op):
        if calls["n"] == 0:
            calls["n"] += 1
            real_commit(version, [], "RACER")
        return real_commit(version, actions, op)

    t._commit = racing_commit
    with pytest.raises(ConcurrentCommitError):
        t.overwrite(orders.limit(3))
    t._commit = real_commit


def test_exists_with_only_version_zero(spark, sf_dir, tmp_path):
    """Regression: any([0]) is False — exists() must be True right
    after create() (single version-0 commit) so a re-create refuses
    instead of writing orphan files / forking a conflicting history."""
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "e"))
    assert not t.exists()
    t.create(orders.limit(5))
    assert t.exists()
    with pytest.raises(DeltaProtocolError):
        t.create(orders.limit(5))


def test_exists_after_checkpoint_only_log(spark, sf_dir, tmp_path):
    """After checkpoint() + clean_log() the log holds only the parquet
    checkpoint; exists() must still be True and create() must refuse."""
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "c"))
    t.create(orders.limit(5))
    t.checkpoint()
    t.clean_log()
    assert t._commit_versions() == []
    assert t.exists()
    with pytest.raises(DeltaProtocolError):
        t.create(orders.limit(5))


def test_dv_add_survives_checkpoint_fold(spark, sf_dir, tmp_path):
    """A deletion-vector add folded from a parquet CHECKPOINT (not a
    JSON commit) must keep applying the DV — checkpoints written by
    real delta-spark carry the descriptor in the add struct (r4: this
    path refused; now it reads correct rows)."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = DeltaProtocolTable(spark, str(tmp_path / "dv"))
    t.create(orders.limit(50))
    keys = [r["o_orderkey"] for r in t.snapshot().limit(7).collect()]
    t.delete_where(F.col("o_orderkey").isin(keys))
    expect = {
        r["o_orderkey"] for r in t.snapshot().collect()
    }
    t.checkpoint()
    t.clean_log()  # force state to fold from the checkpoint only
    assert t._commit_versions() == []
    got = {r["o_orderkey"] for r in t.snapshot().collect()}
    assert got == expect and len(got) == 43


def test_optimize_zorder_prunes_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER BY on the real-protocol table: identical rows,
    dataChange=false commit, and the log-carried zone maps prune range
    probes on BOTH clustered columns — which no lexicographic sort can
    provide."""
    import random

    random.seed(5)
    rows = [
        (i, random.randrange(10_000), random.randrange(10_000))
        for i in range(40_000)
    ]
    df = spark.createDataFrame(rows, "id long, a long, b long").repartition(8)
    t = DeltaProtocolTable(spark, str(tmp_path / "z"))
    t.create(df)
    before = sorted(r["id"] for r in t.snapshot().collect())
    v = t.compact(target_rows_per_file=5_000, zorder_by=["a", "b"])
    assert sorted(r["id"] for r in t.snapshot().collect()) == before
    # physical-only: dataChange=false on every add/remove
    for act in t._read_commit(v):
        for k in ("add", "remove"):
            if k in act:
                assert act[k]["dataChange"] is False
    for col in ("a", "b"):
        t.snapshot_pruned(col, 100, 400).collect()
        pr = t._last_prune
        assert pr["files_read"] < pr["files_total"], (col, pr)
    # incremental reads survive the z-order rewrite (dataChange=false)
    from featureform_spark.sources.delta_protocol import incremental_adds

    assert incremental_adds(t, 0).count() == 0


def test_in_commit_timestamps(spark, sf_dir, tmp_path):
    """delta.enableInCommitTimestamps: commits carry a monotonically
    increasing inCommitTimestamp in commitInfo (the feature exists
    because file mtimes lie after a log copy), and TIMESTAMP AS OF
    prefers it over the plain timestamp field."""
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "ict"))
    t.create(
        orders.limit(10),
        properties={"delta.enableInCommitTimestamps": "true"},
    )
    t.append(orders.limit(20).subtract(orders.limit(10)))
    t.append(orders.limit(25).subtract(orders.limit(20)))
    icts = []
    for v in t._commit_versions():
        for a in t._read_commit(v):
            if "commitInfo" in a:
                icts.append(a["commitInfo"]["inCommitTimestamp"])
    assert len(icts) == 3 and icts == sorted(icts)
    assert len(set(icts)) == 3  # strictly increasing even when same ms
    # TIMESTAMP AS OF reads the in-commit value, not the file clock:
    # rewrite v1's commitInfo with a far-future plain timestamp — ict
    # must still win
    path = os.path.join(t.log_path, "%020d.json" % 1)
    lines = open(path).read().splitlines()
    ci = json.loads(lines[0])["commitInfo"]
    ci["timestamp"] = ci["inCommitTimestamp"] + 10**10
    lines[0] = json.dumps({"commitInfo": ci})
    os.remove(path)
    open(path, "w").write("\n".join(lines) + "\n")
    assert t.version_at_timestamp(icts[1]) == 1
    assert t.version_at_timestamp(icts[2]) == 2


def test_multipart_classic_checkpoint_read(spark, sf_dir, tmp_path):
    """Multi-part classic checkpoints (n.checkpoint.o.p.parquet — what
    delta-spark writes for large tables) fold identically to the
    single-file form; an incomplete part set is ignored rather than
    half-read."""
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "mp"))
    t.create(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    t.checkpoint()
    expect = _sorted_rows(t.snapshot())
    # split the classic checkpoint's actions across two parts
    cp = os.path.join(t.log_path, "%020d.checkpoint.parquet" % 1)
    acts = t._read_checkpoint(1)
    half = len(acts) // 2
    t._write_checkpoint_parquet(
        [
            {k: a.get(k) for k in ("protocol", "metaData", "add", "remove", "txn")}
            for a in acts[:half]
        ],
        os.path.join(t.log_path, "%020d.checkpoint.%010d.%010d.parquet" % (1, 1, 2)),
    )
    t._write_checkpoint_parquet(
        [
            {k: a.get(k) for k in ("protocol", "metaData", "add", "remove", "txn")}
            for a in acts[half:]
        ],
        os.path.join(t.log_path, "%020d.checkpoint.%010d.%010d.parquet" % (1, 2, 2)),
    )
    os.remove(cp)
    t.clean_log()
    assert t._commit_versions() == []
    info = t._checkpoint_files()[1]
    assert info["kind"] == "multipart" and len(info["paths"]) == 2
    assert _sorted_rows(t.snapshot()) == expect
    # an incomplete part set must not be treated as a checkpoint
    os.remove(info["paths"][1])
    assert 1 not in t._checkpoint_files()


def test_v2_checkpoint_with_sidecars_read(spark, sf_dir, tmp_path):
    """V2 UUID-named checkpoint manifests: protocol/metaData +
    checkpointMetadata live in the manifest; add actions live in
    sidecar parquet files under _delta_log/_sidecars/ (the layout the
    v2Checkpoint table feature produces)."""
    import uuid as _uuid

    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "v2"))
    t.create(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    t.checkpoint()
    expect = _sorted_rows(t.snapshot())
    acts = t._read_checkpoint(1)
    adds = [a for a in acts if "add" in a]
    rest = [a for a in acts if "add" not in a]
    side_dir = os.path.join(t.log_path, "_sidecars")
    os.makedirs(side_dir, exist_ok=True)
    side_names = []
    half = len(adds) // 2 or 1
    for i, chunk in enumerate([adds[:half], adds[half:]]):
        name = f"{_uuid.uuid4().hex}.parquet"
        t._write_checkpoint_parquet(
            [{"add": a["add"]} for a in chunk],
            os.path.join(side_dir, name),
        )
        side_names.append(name)
    manifest_rows = [
        {k: a.get(k) for k in ("protocol", "metaData", "txn")} for a in rest
    ]
    manifest_rows.append({"checkpointMetadata": {"version": 1, "tags": None}})
    manifest_rows += [
        {"sidecar": {"path": n, "sizeInBytes": 1, "modificationTime": 0}}
        for n in side_names
    ]
    t._write_checkpoint_parquet(
        manifest_rows,
        os.path.join(
            t.log_path, "%020d.checkpoint.%s.parquet" % (1, _uuid.uuid4())
        ),
    )
    os.remove(os.path.join(t.log_path, "%020d.checkpoint.parquet" % 1))
    t.clean_log()
    assert t._commit_versions() == []
    assert t._checkpoint_files()[1]["kind"] == "v2"
    assert _sorted_rows(t.snapshot()) == expect


def test_merge_copy_on_write(spark, sf_dir, tmp_path):
    """MERGE on the real-protocol table: only files holding matched
    keys are rewritten; unmatched keys insert; new source columns
    evolve the schema (old rows NULL); untouched files carry by
    reference across the commit."""
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = DeltaProtocolTable(spark, str(tmp_path / "mg"))
    # key-ranged files so the touched-file set is a strict subset
    t.create(
        orders.limit(300).repartitionByRange(6, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    base = {r["o_orderkey"]: r for r in t.snapshot().collect()}
    some_keys = sorted(base)[:20]

    src = spark.createDataFrame(
        [(k, 999.5, "touched") for k in some_keys]
        + [(10**9 + 1, 1.0, "new"), (10**9 + 2, 2.0, "new")],
        "o_orderkey long, o_totalprice double, tag string",
    )
    out = t.merge(src, key="o_orderkey")
    assert 0 < out["files_rewritten"] < out["files_total"]

    got = {r["o_orderkey"]: r for r in t.snapshot().collect()}
    assert len(got) == 302
    for k in some_keys:
        assert got[k]["o_totalprice"] == 999.5        # updated
        assert got[k]["tag"] == "touched"             # evolved col
        assert got[k]["o_custkey"] == base[k]["o_custkey"]  # kept
    assert got[10**9 + 1]["tag"] == "new"             # inserted
    untouched = [k for k in base if k not in set(some_keys)][0]
    assert got[untouched]["o_totalprice"] == base[untouched]["o_totalprice"]
    assert got[untouched]["tag"] is None              # old rows NULL
    # pre-merge version still readable (time travel across MERGE)
    assert t.snapshot(0).count() == 300


def test_column_mapping_read(spark, sf_dir, tmp_path):
    """A table written with delta.columnMapping (mode=name — what
    delta-spark emits after a column rename): data files carry
    PHYSICAL column names; the reader must return LOGICAL names with
    the right values."""
    import json as _json

    path = tmp_path / "cm"
    # physical data files
    phys = spark.createDataFrame(
        [(i, float(i) * 1.5) for i in range(50)],
        "`col-9a8b` long, `col-1c2d` double",
    )
    data_dir = path / "d"
    phys.coalesce(1).write.mode("overwrite").parquet(str(data_dir))
    parts = [
        f for f in os.listdir(data_dir) if f.endswith(".parquet")
    ]
    for f in parts:
        os.replace(data_dir / f, path / f)

    schema = {
        "type": "struct",
        "fields": [
            {
                "name": "order_id",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-9a8b",
                },
            },
            {
                "name": "amount",
                "type": "double",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-1c2d",
                },
            },
        ],
    }
    log = path / "_delta_log"
    log.mkdir()
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "x",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(schema),
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "name"},
                "createdTime": 0,
            }
        },
    ] + [
        {
            "add": {
                "path": f,
                "partitionValues": {},
                "size": os.path.getsize(path / f),
                "modificationTime": 0,
                "dataChange": True,
            }
        }
        for f in parts
    ]
    (log / ("%020d.json" % 0)).write_text(
        "\n".join(_json.dumps(a) for a in actions) + "\n"
    )

    t = DeltaProtocolTable(spark, str(path))
    got = t.snapshot()
    assert got.columns == ["order_id", "amount"]
    rows = sorted(map(tuple, got.collect()))
    assert rows[:3] == [(0, 0.0), (1, 1.5), (2, 3.0)]
    assert len(rows) == 50


def test_column_mapping_write_roundtrip(spark, tmp_path):
    """Writes into a column-mapped table go under PHYSICAL names so
    they read back correctly (r4: logical-name writes read as
    all-NULL). create → append → overwrite → compact, partitioned."""
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(40)],
        "k long, part string, v double",
    )
    t = DeltaProtocolTable(spark, str(tmp_path / "cmw"))
    t.create(
        df,
        partition_by=["part"],
        properties={"delta.columnMapping.mode": "name"},
    )
    # physical names in the metadata, logical on read
    st = t.state()
    assert st.column_mapping is not None
    phys_names = [ph for ph, _lo in st.column_mapping]
    assert all(ph.startswith("col-") for ph in phys_names)
    got = t.snapshot()
    assert got.columns == ["k", "part", "v"]
    assert got.count() == 40
    # data files + partition dirs carry physical names only
    import urllib.parse

    ph_part = {lo: ph for ph, lo in st.column_mapping}["part"]
    for p in st.adds:
        assert "part=" not in p
        assert f"{ph_part}=" in urllib.parse.unquote(p)
    # append reads back with values (the r4 bug returned NULLs)
    extra = spark.createDataFrame(
        [(100 + i, "s9", -1.0) for i in range(5)],
        "k long, part string, v double",
    )
    t.append(extra)
    rows = {r["k"]: r for r in t.snapshot().collect()}
    assert len(rows) == 45
    assert rows[100]["part"] == "s9" and rows[100]["v"] == -1.0
    # merge updates through the mapping
    src = spark.createDataFrame(
        [(0, "s0", 999.0)], "k long, part string, v double"
    )
    t.merge(src, key="k")
    rows = {r["k"]: r for r in t.snapshot().collect()}
    assert rows[0]["v"] == 999.0 and len(rows) == 45
    # compact must NOT corrupt the table
    t.compact()
    rows = {r["k"]: r for r in t.snapshot().collect()}
    assert len(rows) == 45 and rows[0]["v"] == 999.0 and rows[3]["v"] == 3.0


def test_merge_leaves_null_key_rows_untouched(spark, tmp_path):
    """A target row whose merge key IS NULL, colocated in a rewritten
    file, must survive a MERGE on unrelated keys verbatim (r4 bug:
    key-nullness origin detection replaced it with the null source
    side)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "keepme")], "k long, v string"
    )
    t = DeltaProtocolTable(spark, str(tmp_path / "nk"))
    t.create(df.coalesce(1))  # one file: the NULL-key row is colocated
    src = spark.createDataFrame([(2, "b2"), (7, "new")], "k long, v string")
    t.merge(src, key="k")
    rows = sorted(
        ((r["k"], r["v"]) for r in t.snapshot().collect()),
        key=lambda x: (x[0] is None, x[0]),
    )
    assert rows == [(1, "a"), (2, "b2"), (7, "new"), (None, "keepme")]


def test_merge_refuses_duplicate_source_keys(spark, tmp_path):
    """Two source rows sharing a key would both match one target row
    and write two rows for it: MERGE refuses before any write. NULL
    keys never match, so several of them stay legal inserts."""
    t = DeltaProtocolTable(spark, str(tmp_path / "dup"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    dup = spark.createDataFrame(
        [(1, "x"), (1, "y"), (3, "z"), (3, "w"), (3, "q")], "k long, v string"
    )
    with pytest.raises(DeltaProtocolError, match="3 duplicate"):
        t.merge(dup, key="k")
    assert t.version() == 0
    assert t.row_count() == 2

    nulls = spark.createDataFrame(
        [(None, "n1"), (None, "n2"), (2, "b2")], "k long, v string"
    )
    t.merge(nulls, key="k")
    assert sorted(
        ((r["k"], r["v"]) for r in t.snapshot().collect()),
        key=lambda x: (x[0] is None, x[0], x[1]),
    ) == [(1, "a"), (2, "b2"), (None, "n1"), (None, "n2")]


def test_merge_matched_only_and_partitioned(spark, sf_dir, tmp_path):
    """insert=False drops unmatched source rows; MERGE on a PARTITIONED
    table recovers partition columns through the basePath scan and
    rewrites within the Hive layout."""
    orders = spark.read.parquet(
        os.path.join(sf_dir, "orders.parquet")
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = DeltaProtocolTable(spark, str(tmp_path / "mp"))
    t.create(orders.limit(200), partition_by=["o_orderstatus"])
    base = {r["o_orderkey"]: r for r in t.snapshot().collect()}
    keys = sorted(base)[:10]

    src = spark.createDataFrame(
        [(k, 111.0) for k in keys] + [(10**9, 1.0)],
        "o_orderkey long, o_totalprice double",
    )
    t.merge(src, key="o_orderkey", insert=False)
    got = {r["o_orderkey"]: r for r in t.snapshot().collect()}
    assert len(got) == 200                      # unmatched NOT inserted
    assert 10**9 not in got
    for k in keys:
        assert got[k]["o_totalprice"] == 111.0
        # partition column survived the rewrite
        assert got[k]["o_orderstatus"] == base[k]["o_orderstatus"]
    untouched = [k for k in base if k not in set(keys)][0]
    assert got[untouched]["o_totalprice"] == base[untouched]["o_totalprice"]


def test_table_changes_cdf(spark, sf_dir, tmp_path):
    """Real-protocol CDF: appends derive inserts, overwrites derive
    delete+insert, OPTIMIZE (dataChange=false) contributes nothing,
    vacuumed files refuse, and explicit cdc actions are honored."""
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "cdf"))
    a = orders.filter(F.col("o_orderkey") % 3 == 0)
    b = orders.filter(F.col("o_orderkey") % 3 == 1)
    t.create(a)                     # v0
    t.append(b)                     # v1: inserts
    t.overwrite(orders.limit(10))   # v2: deletes (a+b) + inserts (10)
    t.compact()                     # v3: dataChange=false -> silent

    ch = t.table_changes(0)
    na, nb = a.count(), b.count()
    by = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in ch.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("n")).collect()
    }
    assert by == {
        (1, "insert"): nb,
        (2, "delete"): na + nb,
        (2, "insert"): 10,
    }
    # bounded range
    assert t.table_changes(0, 1).count() == nb
    assert t.table_changes(3).count() == 0

    # explicit cdc action wins over derivation
    import pyarrow as pa
    import pyarrow.parquet as pq

    cdc_rows = orders.limit(3).toPandas()
    cdc_rows["_change_type"] = "update_postimage"
    cdc_path = tmp_path / "cdf" / "_change_data"
    os.makedirs(cdc_path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(cdc_rows, preserve_index=False),
        str(cdc_path / "c0.parquet"),
    )
    t._commit(
        4,
        [{"cdc": {"path": "_change_data/c0.parquet", "partitionValues": {},
                  "size": 1, "dataChange": False}}],
        "MERGE",
    )
    got = t.table_changes(3)
    assert got.count() == 3
    assert {r["_change_type"] for r in got.collect()} == {
        "update_postimage"
    }

    # vacuum kills the feed honestly
    t2 = DeltaProtocolTable(spark, str(tmp_path / "cdf2"))
    t2.create(a.limit(20))
    t2.overwrite(b.limit(5))
    t2.vacuum(retain_versions=0)
    with pytest.raises(DeltaProtocolError, match="vacuumed"):
        t2.table_changes(0).count()


def test_v2_checkpoint_write_roundtrip(spark, sf_dir, tmp_path):
    """Round-6 (verdict r5 #5): checkpoint() writes the V2 Spec
    Checkpoint form when delta.checkpointPolicy=v2 — UUID manifest with
    checkpointMetadata + sidecar pointers, adds (incl. DV descriptors)
    in _delta_log/_sidecars/ — and the existing reader folds it back,
    including after clean_log and sessionless."""
    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "v2w")
    t = DeltaProtocolTable(spark, path)
    t.create(
        orders.limit(80).repartition(3),
        properties={"delta.checkpointPolicy": "v2"},
    )
    proto = t.state().protocol
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert "v2Checkpoint" in proto["writerFeatures"]
    t.append(orders.limit(120).subtract(orders.limit(80)))
    t.delete_where(F.col("o_orderkey") % 6 == 0)  # DV descriptor
    expect = sorted(tuple(r) for r in t.snapshot().collect())
    v = t.checkpoint()
    info = t._checkpoint_files()[v]
    assert info["kind"] == "v2"
    assert len(info["paths"]) == 1 and ".checkpoint." in info["paths"][0]
    side_dir = os.path.join(t.log_path, "_sidecars")
    assert os.path.isdir(side_dir) and os.listdir(side_dir)
    # the manifest itself carries NO add actions — they live in sidecars
    import pyarrow.parquet as pq

    man = pq.read_table(info["paths"][0]).to_pylist()
    assert all(r.get("add") is None for r in man)
    assert any(r.get("sidecar") is not None for r in man)
    assert any(r.get("checkpointMetadata") is not None for r in man)
    t.clean_log()
    assert sorted(tuple(r) for r in t.snapshot().collect()) == expect
    # DV descriptor survived the v2 fold
    assert any(
        a.get("deletionVector") for a in t.state().adds.values()
    )
    # sessionless fold (Python Data Source schema path)
    t2 = DeltaProtocolTable(None, path)
    st2 = t2.state()
    assert len(st2.adds) == len(t.state().adds)
    # further commits + a second v2 checkpoint keep working
    t.append(orders.limit(130).subtract(orders.limit(120)))
    v2 = t.checkpoint()
    assert t._checkpoint_files()[v2]["kind"] == "v2"
    t.clean_log()
    assert t.snapshot().count() == len(expect) + 10


def test_describe_detail(spark, sf_dir, tmp_path):
    """DESCRIBE DETAIL summary row: file/byte/deleted-record counts,
    partitioning, properties, protocol versions."""
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "det"))
    t.create(
        orders.limit(100).repartition(2),
        properties={"delta.appendOnly": "false"},
    )
    t.delete_where(F.col("o_orderkey") % 4 == 0)
    d = t.detail()
    assert d["format"] == "delta" and d["numFiles"] == 2
    assert d["version"] == 1
    assert d["numDeletedRecords"] == orders.limit(100).filter(
        F.col("o_orderkey") % 4 == 0
    ).count()
    assert d["sizeInBytes"] > 0
    assert d["minReaderVersion"] == 3  # DV upgrade
    assert "deletionVectors" in d["readerFeatures"]
    assert d["properties"]["delta.appendOnly"] == "false"


def test_concurrent_sessionless_appends(spark, sf_dir, tmp_path):
    """Eight threads blind-append via append_arrow simultaneously: the
    O_EXCL commit race resolves by retry, every row lands exactly once,
    and the log holds one commit per writer."""
    import threading

    import pyarrow as pa

    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "ccr"))
    t.create(orders.limit(10))
    base = orders.limit(90).subtract(orders.limit(10)).toArrow()
    chunks = [base.slice(i * 10, 10) for i in range(8)]
    errs = []

    def put(tbl):
        try:
            DeltaProtocolTable(None, str(tmp_path / "ccr")).append_arrow(
                tbl
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=put, args=(c,)) for c in chunks]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t.version() == 8  # create + 8 appends
    assert t.snapshot().count() == 10 + sum(c.num_rows for c in chunks)
    got = sorted(tuple(r) for r in t.snapshot().collect())
    want = sorted(
        tuple(r)
        for r in orders.limit(10)
        .unionByName(orders.limit(90).subtract(orders.limit(10)))
        .collect()
    )
    assert got == want


def test_auto_checkpoint_interval(spark, sf_dir, tmp_path):
    """delta.checkpointInterval: every Nth commit writes a checkpoint
    without an explicit call — sessionless appends included."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    path = str(tmp_path / "t")
    t = DeltaProtocolTable(spark, path)
    df = spark.range(10).select(F.col("id").alias("k"))
    t.create(df, properties={"delta.checkpointInterval": "2"})
    assert t._checkpoint_versions() == []
    t.append(df)            # v1
    assert t._checkpoint_versions() == []
    t.append(df)            # v2 -> checkpoint
    assert t._checkpoint_versions() == [2]
    t.delete_where(F.col("k") > 8)   # v3
    t.compact()                      # v4 -> checkpoint
    assert t._checkpoint_versions() == [2, 4]
    # sessionless path honors it too
    t2 = DeltaProtocolTable(None, path)
    t2.append_arrow(df.toArrow())    # v5
    t2.append_arrow(df.toArrow())    # v6 -> checkpoint
    assert t._checkpoint_versions() == [2, 4, 6]
    # the folded state still reads right
    assert t.snapshot().count() == 47


def test_rename_drop_column_mapping(spark, sf_dir, tmp_path):
    """RENAME/DROP COLUMN are metadata-only under column mapping:
    physical names and field ids never change, so existing files keep
    resolving; a re-added logical name gets a fresh physical name and
    can NEVER resurrect dropped data (the contract that makes mapping
    a writer requirement for these ops)."""
    from featureform_spark.sources.delta_protocol import (
        DeltaProtocolTable,
        UnsupportedTableFeatureError,
    )

    t = DeltaProtocolTable(spark, str(tmp_path / "t"))
    df = spark.range(10).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b"),
        F.lit("x").alias("c"),
    )
    t.create(df, properties={"delta.columnMapping.mode": "name"})
    t.rename_column("b", "bb")
    got = t.snapshot()
    assert got.columns == ["a", "bb", "c"]
    assert got.agg(F.sum("bb")).first()[0] == 90  # old files resolve
    t.append(
        spark.range(10, 12).select(
            F.col("id").alias("a"), (F.col("id") * 2).alias("bb"),
            F.lit("y").alias("c"),
        )
    )
    assert t.snapshot().count() == 12
    t.drop_column("c")
    assert t.snapshot().columns == ["a", "bb"]
    # re-add 'c' via merge schema evolution: fresh physical name
    t.merge(
        spark.range(5).select(
            F.col("id").alias("a"), F.lit(0).cast("long").alias("bb"),
            F.lit("NEW").alias("c"),
        ),
        "a",
    )
    old_row = t.snapshot().filter(F.col("a") == 7).select("c").first()
    assert old_row[0] is None  # dropped data never resurrects
    assert (
        t.snapshot().filter(F.col("a") == 3).select("c").first()[0]
        == "NEW"
    )
    # guards: unmapped tables refuse; referenced columns refuse
    p = DeltaProtocolTable(spark, str(tmp_path / "plain"))
    p.create(spark.range(3).select(F.col("id").alias("a"), F.lit(1).alias("z")))
    with pytest.raises(UnsupportedTableFeatureError, match="columnMapping"):
        p.rename_column("a", "aa")
    g = DeltaProtocolTable(spark, str(tmp_path / "guard"))
    g.create(
        spark.range(3).select(F.col("id").alias("a"), F.lit(1).alias("z")),
        properties={
            "delta.columnMapping.mode": "name",
            "delta.constraints.pos": "a >= 0",
        },
    )
    with pytest.raises(DeltaProtocolError, match="constraint"):
        g.drop_column("a")


def test_add_columns_metadata_only(spark, sf_dir, tmp_path):
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable
    from pyspark.sql import types as T

    t = DeltaProtocolTable(spark, str(tmp_path / "t"))
    t.create(spark.range(5).select(F.col("id").alias("a")))
    t.add_columns(T.StructType([T.StructField("b", T.LongType())]))
    got = t.snapshot()
    assert got.columns == ["a", "b"]
    assert got.filter(F.col("b").isNull()).count() == 5  # old files NULL
    t.append(
        spark.range(2).select(
            F.col("id").alias("a"), (F.col("id") + 100).alias("b")
        )
    )
    assert t.snapshot().filter(F.col("b").isNotNull()).count() == 2
    with pytest.raises(DeltaProtocolError, match="already exists"):
        t.add_columns(T.StructType([T.StructField("b", T.LongType())]))
    # mapped table: fresh id + physical name assigned
    m = DeltaProtocolTable(spark, str(tmp_path / "m"))
    m.create(
        spark.range(3).select(F.col("id").alias("a")),
        properties={"delta.columnMapping.mode": "name"},
    )
    m.add_columns(T.StructType([T.StructField("z", T.StringType())]))
    pairs = dict(m.state().column_mapping)
    assert "z" in pairs.values()
    phys = [p for p, lo in pairs.items() if lo == "z"][0]
    assert phys.startswith("col-")
    m.append(
        spark.range(2).select(F.col("id").alias("a"), F.lit("q").alias("z"))
    )
    assert m.snapshot().filter(F.col("z") == "q").count() == 2


def test_checkpoint_fold_reserializes_valid_json_actions(
    spark, sf_dir, tmp_path
):
    """After a SESSIONLESS checkpoint fold, re-committed actions must
    carry real JSON objects for map fields (configuration,
    partitionValues) — the pyarrow fold renders empty maps as [] and
    that shape must not leak into the log (review r6)."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    path = str(tmp_path / "t")
    t = DeltaProtocolTable(spark, path)
    t.create(spark.range(6).select(F.col("id").alias("k")))
    t.checkpoint()
    t.clean_log()
    # sessionless fold -> metadata-rewriting commit
    t2 = DeltaProtocolTable(None, path)
    st = t2.state()
    assert isinstance(st.metadata.get("configuration", {}), dict)
    assert all(
        isinstance(a.get("partitionValues", {}), dict)
        for a in st.adds.values()
    )
    # a commit writing folded state back must serialize dicts
    t3 = DeltaProtocolTable(spark, path)
    t3.delete_where(F.col("k") > 4)
    import json as _json

    with open(
        os.path.join(path, "_delta_log", "%020d.json" % t3.version())
    ) as f:
        for line in f:
            a = _json.loads(line)
            if "add" in a:
                assert isinstance(a["add"]["partitionValues"], dict)
            if "metaData" in a:
                assert isinstance(a["metaData"]["configuration"], dict)
    assert t3.snapshot().count() == 5


def test_rename_refuses_own_invariant(spark, sf_dir, tmp_path):
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    t = DeltaProtocolTable(spark, str(tmp_path / "t"))
    t.create(
        spark.range(3).select(F.col("id").alias("a")),
        properties={"delta.columnMapping.mode": "name"},
    )
    # forge an invariant on 'a' (legacy writer form)
    st = t.state()
    sj = json.loads(st.metadata["schemaString"])
    sj["fields"][0]["metadata"]["delta.invariants"] = json.dumps(
        {"expression": {"expression": "a >= 0"}}
    )
    meta = dict(st.metadata)
    meta["schemaString"] = json.dumps(sj)
    with open(
        os.path.join(t.log_path, "%020d.json" % (st.version + 1)), "w"
    ) as f:
        f.write(json.dumps({"metaData": meta}) + "\n")
    with pytest.raises(DeltaProtocolError, match="own invariant"):
        t.rename_column("a", "b")


def test_data_skipping_stats_properties(spark, sf_dir, tmp_path):
    """delta.dataSkippingStatsColumns / dataSkippingNumIndexedCols:
    stats cover only the configured columns (the wide-table log-bloat
    lever); numRecords/nullCount stay complete for covered columns
    and pruning on an uncovered column degrades to scan-all, never
    wrong results."""
    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "cols"))
    t.create(
        orders,
        properties={"delta.dataSkippingStatsColumns": "o_orderkey"},
    )
    st = t.state()
    for a in st.adds.values():
        s = json.loads(a["stats"])
        assert set(s["minValues"]) <= {"o_orderkey"}
        assert set(s["maxValues"]) <= {"o_orderkey"}
        assert s["numRecords"] > 0
    # uncovered column: no file can be skipped, results still exact
    df = t.snapshot_pruned("o_custkey", 1, 50)
    assert t._last_prune["files_read"] == t._last_prune["files_total"]
    assert df.count() == orders.filter(
        (F.col("o_custkey") >= 1) & (F.col("o_custkey") <= 50)
    ).count()

    u = DeltaProtocolTable(spark, str(tmp_path / "ncols"))
    u.create(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        properties={"delta.dataSkippingNumIndexedCols": "2"},
    )
    for a in u.state().adds.values():
        s = json.loads(a["stats"])
        assert "o_totalprice" not in s["minValues"]
        assert {"o_orderkey", "o_custkey"} <= set(s["minValues"])


def test_restore_to_timestamp(spark, sf_dir, tmp_path):
    """RESTORE ... TIMESTAMP AS OF: resolves through the same
    version_at_timestamp rule as reads, then restores by reference."""
    import time as _time

    orders = _orders(spark, sf_dir)
    t = DeltaProtocolTable(spark, str(tmp_path / "rt"))
    t.create(orders.limit(100))                       # v0
    ts_after_v0 = int(_time.time() * 1000)
    _time.sleep(0.05)
    t.overwrite(orders.limit(10))                     # v1
    t.append(orders.limit(5))                         # v2
    v = t.restore_to_timestamp(ts_after_v0)
    assert v == 3
    assert t.snapshot().count() == 100
    assert _sorted_rows(t.snapshot()) == _sorted_rows(orders.limit(100))


def test_fsck_repair_drops_missing_files(spark, tmp_path):
    """FSCK REPAIR TABLE: adds whose data file (or on-disk DV blob)
    vanished out-of-band are dropped from the log in one commit, so
    scans stop failing; dry_run only reports."""
    import os

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"x{i}") for i in range(100)], "id long, s string"
    )
    t = DeltaProtocolTable(spark, str(tmp_path / "fsck"))
    t.create(df.repartition(4))
    healthy = t.fsck_repair(dry_run=True)
    assert healthy == {"missing": [], "repaired": False}
    # delete one data file out-of-band
    st = t.state()
    victim = sorted(st.adds)[0]
    os.remove(t._abs_data_path(victim))
    rep = t.fsck_repair(dry_run=True)
    assert rep["missing"] == [victim] and not rep["repaired"]
    with pytest.raises(Exception):
        t.snapshot().count()  # scan still broken before repair
    rep = t.fsck_repair()
    assert rep["repaired"] and rep["missing"] == [victim]
    n = t.snapshot().count()
    assert 0 < n < 100  # survivors still read
    # DV-blob loss: delete some rows (writes a DV), then remove the blob
    t2 = DeltaProtocolTable(spark, str(tmp_path / "fsck_dv"))
    t2.create(df.repartition(2))
    t2.delete_where(F.col("id") < 5)
    st2 = t2.state()
    dv_add = next(
        (p, a) for p, a in st2.adds.items() if a.get("deletionVector")
    )
    loc = t2._dv_file_location(dv_add[1]["deletionVector"])
    os.remove(loc[0])
    rep2 = t2.fsck_repair()
    assert dv_add[0] in rep2["missing"]
    # dropping the whole entry is conservative: deleted rows must NOT
    # resurrect
    assert t2.snapshot().filter(F.col("id") < 5).count() == 0


# ------------------------------------------------ one blind-append loop


def _stray_parquet(t):
    """Parquet files under the table root that the current snapshot
    does not reference (hidden staging names included)."""
    live = {t._abs_data_path(p) for p in t.state().adds}
    return {
        os.path.join(d, fn)
        for d, _dirs, files in os.walk(t.path)
        if "_delta_log" not in d
        for fn in files
        if ".parquet" in fn and os.path.join(d, fn) not in live
    }


def test_snapshot_pruned_skips_flight_appended_files(spark, tmp_path):
    """Sessionless adds carry min/max stats like Spark-written ones, so
    range pruning skips Flight-appended files whose keys are disjoint."""
    import pyarrow as pa

    path = str(tmp_path / "prune")
    t = DeltaProtocolTable(spark, path)
    t.create(
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "entity long, value double"
        ).coalesce(1)
    )
    for n in range(1, 5):
        DeltaProtocolTable(None, path).append_arrow(
            pa.table({
                "entity": pa.array(range(100 * n, 100 * n + 5), pa.int64()),
                "value": pa.array([1.0] * 5),
            })
        )
    assert t.snapshot_pruned("entity", 0, 5).count() == 6
    assert t._last_prune == {"files_total": 5, "files_read": 1}


def test_append_arrow_counts_a_lost_race(spark, tmp_path):
    """One lost O_EXCL race: the retry lands, commitInfo records two
    attempts, and nothing is left unreferenced."""
    import pyarrow as pa

    path = str(tmp_path / "lost")
    t = DeltaProtocolTable(spark, path)
    t.create(spark.createDataFrame([(0, 0.0)], "entity long, value double"))
    loser = DeltaProtocolTable(None, path)
    real = loser._commit

    def racing(v, actions, op):
        if not getattr(loser, "_raced", False):
            loser._raced = True
            DeltaProtocolTable(None, path).append_arrow(
                pa.table({"entity": [1], "value": [1.0]})
            )
        return real(v, actions, op)

    loser._commit = racing
    assert loser.append_arrow(pa.table({"entity": [2], "value": [2.0]})) == 2
    assert t.history()[0]["ffspark.commit-attempts"] == 2
    assert t.history()[1]["ffspark.commit-attempts"] == 1
    assert sorted(r["entity"] for r in t.snapshot().collect()) == [0, 1, 2]
    assert _stray_parquet(t) == set()


def test_append_arrow_conflict_removes_its_file(spark, tmp_path):
    """A winner that changed the schema makes the written file invalid:
    the sessionless append raises and removes it."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from featureform_spark.sources.delta_protocol import ConcurrentCommitError

    path = str(tmp_path / "conflict")
    t = DeltaProtocolTable(spark, path)
    t.create(spark.createDataFrame([(0, 0.0)], "entity long, value double"))
    loser = DeltaProtocolTable(None, path)
    real = loser._commit

    def racing(v, actions, op):
        if not getattr(loser, "_raced", False):
            loser._raced = True
            DeltaProtocolTable(spark, path).add_columns(
                T.StructType([T.StructField("extra", T.LongType())])
            )
        return real(v, actions, op)

    loser._commit = racing
    with pytest.raises(ConcurrentCommitError, match="schema"):
        loser.append_arrow(pa.table({"entity": [2], "value": [2.0]}))
    assert _stray_parquet(t) == set()
    assert t.snapshot().count() == 1


def _dv_table(spark, path):
    """Ten rows in one file, row ``k = 3`` deleted by a deletion
    vector."""
    t = DeltaProtocolTable(spark, path)
    t.create(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k long, s string"
        ).coalesce(1)
    )
    assert t.delete_where("k = 3")["rows_deleted"] == 1
    return t


def _dv_files(path):
    return sorted(
        f for f in os.listdir(path) if f.startswith("deletion_vector_")
    )


def test_repeated_delete_where_is_a_no_op(spark, tmp_path):
    """DELETE matches over the DV-applied scan: deleting an
    already-deleted row touches no file and writes no vector."""
    path = str(tmp_path / "redel")
    t = _dv_table(spark, path)
    dvs = _dv_files(path)
    res = t.delete_where("k = 3")
    assert (res["files_touched"], res["rows_deleted"]) == (0, 0)
    assert _dv_files(path) == dvs
    assert t.snapshot().count() == 9


def test_merge_skips_file_of_dv_deleted_match(spark, tmp_path):
    """MERGE discovery reads the DV-applied scan: a source key whose
    only target row a deletion vector removed rewrites no file and
    inserts the row."""
    t = _dv_table(spark, str(tmp_path / "mdv"))
    res = t.merge(
        spark.createDataFrame([(3, "new")], "k long, s string"), key="k"
    )
    assert res["files_rewritten"] == 0
    assert sorted(tuple(r) for r in t.snapshot().collect()) == sorted(
        [(i, f"v{i}") for i in range(10) if i != 3] + [(3, "new")]
    )
