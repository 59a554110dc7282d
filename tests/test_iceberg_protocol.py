"""Iceberg table-format protocol: round-trip, time travel, pruning,
gates. Mirrors the read surface of the reference's IcebergSource scan
(offline_store_spark_runner.py:966-980) and pyiceberg streamer
(streamer/iceberg_streamer.py:17-106) without the vendor jar."""

import json
import os

import pytest
from pyspark.sql import functions as F

from featureform_spark.sources.avro_codec import read_container
from featureform_spark.sources.iceberg_protocol import (
    IcebergCatalog,
    IcebergProtocolError,
    IcebergProtocolTable,
    UnsupportedIcebergFeatureError,
    decode_bound,
    encode_bound,
    read_iceberg_path,
)


def _orders(spark, sf_dir):
    from featureform_spark.sources.testdata import load_table

    return load_table(spark, sf_dir, "orders")


def _sorted_rows(df):
    cols = sorted(df.columns)
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_roundtrip_append_overwrite_time_travel(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    assert not t.exists()

    first = orders.filter(F.col("o_orderkey") % 3 == 0)
    s0 = t.create(first)
    assert t.exists()
    assert _sorted_rows(t.snapshot()) == _sorted_rows(first)
    assert t.snapshot().schema == first.schema

    second = orders.filter(F.col("o_orderkey") % 3 == 1)
    s1 = t.append(second)
    both = first.unionByName(second)
    assert _sorted_rows(t.snapshot()) == _sorted_rows(both)

    # time travel: by snapshot id and by snapshot-log ordinal
    assert _sorted_rows(t.snapshot(snapshot_id=s0)) == _sorted_rows(first)
    assert _sorted_rows(t.snapshot(ordinal=0)) == _sorted_rows(first)
    assert _sorted_rows(t.snapshot(ordinal=1)) == _sorted_rows(both)

    third = orders.limit(10)
    s2 = t.overwrite(third)
    assert t.snapshot().count() == 10
    assert _sorted_rows(t.snapshot(snapshot_id=s1)) == _sorted_rows(both)
    assert [h["snapshot-id"] for h in t.history()] == [s0, s1, s2]

    with pytest.raises(IcebergProtocolError):
        t.create(orders.limit(1))


def test_metadata_layout_conforms_to_spec(spark, sf_dir, tmp_path):
    """The on-disk layout must be what the public spec says: v2
    metadata JSON with schemas/specs/snapshots, Avro manifest list with
    spec field names, Avro manifest whose entries carry field-id-keyed
    stats."""
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(100))

    meta_dir = tmp_path / "t" / "metadata"
    assert (meta_dir / "version-hint.text").read_text() == "1"
    md = json.loads((meta_dir / "v1.metadata.json").read_text())
    assert md["format-version"] == 2
    assert md["current-schema-id"] == 0
    names = [f["name"] for f in md["schemas"][0]["fields"]]
    assert names == orders.columns
    ids = [f["id"] for f in md["schemas"][0]["fields"]]
    assert ids == sorted(set(ids))  # unique, assigned
    assert md["last-column-id"] == max(ids)
    # name mapping property for engines that resolve by field-id
    nm = json.loads(md["properties"]["schema.name-mapping.default"])
    assert {m["names"][0] for m in nm} == set(names)

    snap = md["snapshots"][0]
    ml_schema, manifests = read_container(snap["manifest-list"])
    assert ml_schema["name"] == "manifest_file"
    assert len(manifests) == 1
    m = manifests[0]
    assert m["content"] == 0 and m["added_files_count"] >= 1

    entry_schema, entries = read_container(m["manifest_path"])
    assert entry_schema["name"] == "manifest_entry"
    total = sum(e["data_file"]["record_count"] for e in entries)
    assert total == 100
    e0 = entries[0]["data_file"]
    lb = {kv["key"]: kv["value"] for kv in e0["lower_bounds"]}
    ub = {kv["key"]: kv["value"] for kv in e0["upper_bounds"]}
    okey_id = names.index("o_orderkey") + 1
    assert decode_bound("long", lb[okey_id]) <= decode_bound(
        "long", ub[okey_id]
    )


def test_partitioned_write_keeps_source_columns_in_files(
    spark, sf_dir, tmp_path
):
    """Identity partitioning: per spec the source column stays IN the
    data files; each data file holds exactly one partition tuple."""
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "p"))
    t.create(orders, partition_by=["o_orderstatus"])
    assert _sorted_rows(t.snapshot()) == _sorted_rows(orders)

    md = t.metadata()
    spec = t.partition_spec(md)
    assert spec[0]["transform"] == "identity"
    snap = t.current_snapshot(md)
    _, manifests = read_container(snap["manifest-list"])
    _, entries = read_container(manifests[0]["manifest_path"])
    statuses = {e["data_file"]["partition"]["o_orderstatus"] for e in entries}
    assert statuses == {
        r["o_orderstatus"]
        for r in orders.select("o_orderstatus").distinct().collect()
    }
    # every data file physically contains the partition source column
    import pyarrow.parquet as pq

    one = entries[0]["data_file"]["file_path"]
    assert "o_orderstatus" in pq.read_schema(one).names


def test_scan_planning_prunes_from_log_stats(spark, sf_dir, tmp_path):
    """File skipping must come from log-carried bounds (no footer
    reads): a narrow o_orderkey range over a table appended in key
    ranges reads a strict subset of files."""
    orders = _orders(spark, sf_dir)
    lo_df = orders.filter(F.col("o_orderkey") < 1000)
    hi_df = orders.filter(F.col("o_orderkey") >= 1000)
    t = IcebergProtocolTable(spark, str(tmp_path / "s"))
    t.create(lo_df.coalesce(1))
    t.append(hi_df.coalesce(1))

    got = t.scan_planned("o_orderkey", 0, 500)
    expect = orders.filter(
        (F.col("o_orderkey") >= 0) & (F.col("o_orderkey") <= 500)
    )
    assert _sorted_rows(got) == _sorted_rows(expect)
    assert t._last_prune["files_read"] < t._last_prune["files_total"]


def test_partition_summary_prunes_whole_manifests(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "m"))
    t.create(
        orders.filter(F.col("o_orderstatus") == "F"),
        partition_by=["o_orderstatus"],
    )
    t.append(orders.filter(F.col("o_orderstatus") == "O"))
    got = t.scan_planned("o_orderstatus", "O", "O")
    assert got.count() == orders.filter(F.col("o_orderstatus") == "O").count()
    assert t._last_prune["files_read"] < t._last_prune["files_total"]


def test_equality_delete_merge_on_read(spark, sf_dir, tmp_path):
    """Equality deletes (the streaming-upsert shape): delete_by_keys
    writes key tuples + equality_ids; the reader drops matching rows
    from files with data_seq < delete_seq — later appends with the same
    keys survive."""
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "eq"))
    t.create(orders.limit(100))
    keys = orders.limit(100).filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    n_del = keys.count()
    t.delete_by_keys(keys, ["o_orderkey"])
    got = t.snapshot()
    assert got.count() == 100 - n_del
    assert got.filter(F.col("o_orderstatus") == "F").count() == 0
    # re-appending a deleted key AFTER the delete survives (strict <)
    one = orders.limit(100).filter(F.col("o_orderstatus") == "F").limit(1)
    t.append(one)
    assert t.snapshot().count() == 100 - n_del + 1
    # multi-column keys with the same machinery
    t2 = IcebergProtocolTable(spark, str(tmp_path / "eq2"))
    t2.create(orders.limit(50))
    k2 = orders.limit(50).select("o_orderkey", "o_custkey").limit(7)
    t2.delete_by_keys(k2, ["o_orderkey", "o_custkey"])
    assert t2.snapshot().count() == 43
    # position + equality deletes compose
    t2.delete_rows(F.col("o_orderstatus") == "O")
    expect = (
        orders.limit(50)
        .join(k2, ["o_orderkey", "o_custkey"], "left_anti")
        .filter(F.col("o_orderstatus") != "O")
    )
    assert _sorted_rows(t2.snapshot()) == _sorted_rows(expect)


def test_unknown_content_gate(spark, sf_dir, tmp_path):
    """An unknown data_file content id must refuse (future delete
    encodings must not silently read as data)."""
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "d"))
    t.create(orders.limit(20))
    md = t.metadata()
    snap = t.current_snapshot(md)
    from featureform_spark.sources.avro_codec import write_container

    man = t._resolve_path(
        read_container(t._resolve_path(snap["manifest-list"]))[1][0][
            "manifest_path"
        ]
    )
    schema, recs = read_container(man)
    for r in recs:
        r["data_file"]["content"] = 7
    write_container(man, schema, recs)
    with pytest.raises(UnsupportedIcebergFeatureError):
        t.snapshot()


def test_catalog_addressing(spark, sf_dir, tmp_path):
    """ff_catalog.<namespace>.<table> shape from the reference runner."""
    orders = _orders(spark, sf_dir)
    cat = IcebergCatalog(spark, str(tmp_path / "wh"))
    assert not cat.table_exists("featureform.orders")
    cat.create_table("featureform.orders", orders.limit(50))
    assert cat.table_exists("featureform.orders")
    got = cat.load_table("featureform.orders").snapshot()
    assert got.count() == 50
    with pytest.raises(IcebergProtocolError):
        cat.load_table("featureform.missing")


def test_read_iceberg_path_fallback(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "rp"))
    s0 = t.create(orders.limit(30))
    got = read_iceberg_path(spark, str(tmp_path / "rp"))
    assert got.count() == 30
    assert read_iceberg_path(
        spark, str(tmp_path / "rp"), snapshot_id=s0
    ).count() == 30


def test_bound_serialization_roundtrip():
    import datetime
    from decimal import Decimal

    cases = [
        ("int", 42),
        ("int", -7),
        ("long", 1 << 40),
        ("double", 3.5),
        ("float", 1.25),
        ("string", "héllo"),
        ("boolean", True),
        ("date", datetime.date(2024, 3, 1)),
        ("timestamptz", datetime.datetime(2024, 3, 1, 12, 30, 0, 250)),
        ("decimal(10,2)", Decimal("123.45")),
    ]
    for t, v in cases:
        out = decode_bound(t, encode_bound(t, v))
        if t == "date":
            assert out == v
        elif t == "float":
            assert abs(out - v) < 1e-6
        else:
            assert out == v or str(out) == str(v)


def test_schema_with_timestamp_roundtrips(spark, sf_dir, tmp_path):
    """orders has a timestamptz column — type mapping must round-trip
    through metadata JSON exactly."""
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "ts"))
    t.create(orders.limit(10))
    assert t.spark_schema() == orders.schema
    ice = t.schema()
    types = {f["name"]: f["type"] for f in ice["fields"]}
    assert types["o_orderdate"] == "timestamptz"
    assert types["o_orderkey"] == "long"
    assert types["o_totalprice"] == "double"


def test_schema_evolution_add_column(spark, sf_dir, tmp_path):
    """Additive evolution: existing field-ids survive by name, new
    column gets a fresh id, old files read the new column as NULL."""
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "ev"))
    t.create(orders.limit(20))
    old_ids = {f["name"]: f["id"] for f in t.schema()["fields"]}

    evolved = orders.limit(10).withColumn(
        "priority", F.lit("HIGH")
    )
    t.evolve_schema(evolved.schema)
    t.append(evolved)

    new_fields = {f["name"]: f["id"] for f in t.schema()["fields"]}
    for name, fid in old_ids.items():
        assert new_fields[name] == fid            # ids stable by name
    assert new_fields["priority"] == max(old_ids.values()) + 1

    got = t.snapshot()
    assert got.count() == 30
    assert got.filter(F.col("priority").isNull()).count() == 20
    assert got.filter(F.col("priority") == "HIGH").count() == 10

    # type change + column drop both gate
    with pytest.raises(UnsupportedIcebergFeatureError):
        t.evolve_schema(
            orders.limit(1)
            .withColumn("priority", F.lit(1))
            .schema
        )
    with pytest.raises(UnsupportedIcebergFeatureError):
        t.evolve_schema(orders.limit(1).schema)


def test_position_delete_merge_on_read(spark, sf_dir, tmp_path):
    """Row-level DELETE via v2 position deletes: data files untouched,
    reader applies the delete set; second delete composes; time travel
    to the pre-delete snapshot still sees every row."""
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "mor"))
    s0 = t.create(orders.limit(200))
    n_files_before = len(
        [f for f in os.listdir(tmp_path / "mor" / "data")]
    )

    s1 = t.delete_rows(F.col("o_orderstatus") == "F")
    expect = orders.limit(200).filter(F.col("o_orderstatus") != "F")
    assert _sorted_rows(t.snapshot()) == _sorted_rows(expect)
    # data files were NOT rewritten — only delete files were added
    data_files = [
        f for f in os.listdir(tmp_path / "mor" / "data")
        if not f.endswith("-deletes.parquet")
    ]
    assert len(data_files) == n_files_before
    # pre-delete snapshot unchanged
    assert t.snapshot(snapshot_id=s0).count() == 200
    assert [h["snapshot-id"] for h in t.history()] == [s0, s1]

    # composing second delete
    t.delete_rows(F.col("o_orderkey") % 2 == 0)
    expect2 = expect.filter(F.col("o_orderkey") % 2 != 0)
    assert _sorted_rows(t.snapshot()) == _sorted_rows(expect2)

    # delete of nothing is a no-op
    assert t.delete_rows(F.lit(False)) == -1


def test_position_delete_scopes_by_sequence_number(
    spark, sf_dir, tmp_path
):
    """A data file appended AFTER a delete (higher sequence number)
    must not lose rows to that older delete even if positions collide."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    t = IcebergProtocolTable(spark, str(tmp_path / "seq"))
    batch = orders.limit(50).coalesce(1)
    t.create(batch)                                  # seq 1
    t.delete_rows(F.lit(True))                       # seq 2: delete all
    assert t.snapshot().count() == 0
    t.append(batch)                                  # seq 3: same rows
    # the seq-2 delete does NOT apply to the seq-3 file
    assert t.snapshot().count() == 50


def test_scan_planned_applies_deletes(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "sp"))
    t.create(orders.limit(100).coalesce(1))
    t.delete_rows(F.col("o_orderkey") % 3 == 0)
    got = t.scan_planned("o_orderkey", -10**9, 10**9)
    expect = orders.limit(100).filter(F.col("o_orderkey") % 3 != 0)
    assert _sorted_rows(got) == _sorted_rows(expect)


def test_incremental_append_scan(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    t = IcebergProtocolTable(spark, str(tmp_path / "inc"))
    s0 = t.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    s1 = t.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    s2 = t.append(orders.filter(F.col("o_orderkey") % 3 == 2))

    inc = t.incremental_append_scan(s0)
    expect = orders.filter(F.col("o_orderkey") % 3 != 0)
    assert _sorted_rows(inc) == _sorted_rows(expect)
    # bounded range: only the middle append
    mid = t.incremental_append_scan(s0, to_snapshot_id=s1)
    assert _sorted_rows(mid) == _sorted_rows(
        orders.filter(F.col("o_orderkey") % 3 == 1)
    )
    # empty range
    assert t.incremental_append_scan(s2).count() == 0
    # an overwrite in range refuses
    t.overwrite(orders.limit(5))
    with pytest.raises(IcebergProtocolError, match="not append"):
        t.incremental_append_scan(s0)


def test_rewrite_data_files_folds_deletes(spark, sf_dir, tmp_path):
    """Compaction: after rewrite_data_files the table reads identically
    but from fresh files with no delete joins; old snapshots still
    time-travel."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_orderstatus")
    t = IcebergProtocolTable(spark, str(tmp_path / "rw"))
    s0 = t.create(orders.limit(100))
    t.delete_rows(F.col("o_orderstatus") == "F")
    expect = _sorted_rows(t.snapshot())
    s_c = t.rewrite_data_files()
    assert _sorted_rows(t.snapshot()) == expect
    data_e, del_e = t._live_entries(t.current_snapshot())
    assert del_e == []            # deletes folded away
    assert all(e["snapshot_id"] == s_c for e in data_e)
    assert t.snapshot(snapshot_id=s0).count() == 100   # time travel


def test_pushdown_reaches_scan_through_protocol_reader(
    spark, sf_dir, tmp_path
):
    """The protocol reader returns a plain native parquet relation, so
    Catalyst pushdown/pruning must work through it: a filter on the
    snapshot lands in PushedFilters and a 2-column projection prunes
    ReadSchema."""
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "pd"))
    t.create(orders)
    df = (
        t.snapshot()
        .filter(F.col("o_orderkey") > 1000)
        .select("o_orderkey", "o_totalprice")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderkey" in plan.split(
        "PushedFilters"
    )[1][:200]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_totalprice" in read_schema
    assert "o_orderdate" not in read_schema  # pruned


def test_murmur3_spec_vectors():
    """Iceberg spec Appendix B bucket-hash test vectors (signed int32
    view of our unsigned result)."""
    import datetime

    from featureform_spark.sources.iceberg_protocol import (
        bucket_hash,
        bucket_value,
        murmur3_32,
    )

    def signed(v):
        return v - (1 << 32) if v >= (1 << 31) else v

    assert signed(bucket_hash("int", 34)) == 2017239379
    assert signed(bucket_hash("long", 34)) == 2017239379
    assert signed(bucket_hash("string", "iceberg")) == 1210000089
    ts = datetime.datetime(2017, 11, 16, 22, 31, 8)
    assert signed(bucket_hash("timestamp", ts)) == -2047944441
    days = (datetime.date(2017, 11, 16) - datetime.date(1970, 1, 1)).days
    assert signed(bucket_hash("date", days)) == -653330422
    assert 0 <= bucket_value("long", 34, 16) < 16


def test_equality_pruning_through_bucket_partitioning(spark, sf_dir, tmp_path):
    """Hidden partitioning for equality probes: a bucket[N]-partitioned
    table prunes files for `col = literal` via bucket_value(literal)
    against partition summaries and per-file partition tuples — the
    pruning path range planning can't use (bucket is not
    order-preserving). Values must equal a plain filter."""
    import pyspark.sql.functions as F

    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    orders = spark.read.parquet(
        os.path.join(sf_dir, "orders.parquet")
    ).select("o_orderkey", "o_custkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "beq"))
    t.create(orders, partition_by=["bucket(8, o_custkey)"])
    probe = orders.select("o_custkey").first()["o_custkey"]
    got = t.scan_planned_eq("o_custkey", int(probe))
    expect = orders.filter(F.col("o_custkey") == int(probe))
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in expect.collect()
    )
    pr = t._last_prune
    assert pr["files_read"] < pr["files_total"]  # real skips
    assert pr["files_read"] >= 1
    # a value hashing to an absent bucket still returns correct (empty)
    # rows rather than scanning everything
    missing = int(orders.agg(F.max("o_custkey")).first()[0]) + 10**6
    assert t.scan_planned_eq("o_custkey", missing).count() == 0
    # SQL equality with NULL matches nothing, and reads nothing
    assert t.scan_planned_eq("o_custkey", None).count() == 0
    assert t._last_prune == {"files_total": 0, "files_read": 0}


def test_equality_pruning_through_truncate_partitioning(spark, sf_dir, tmp_path):
    """truncate[W] string partitioning prunes equality probes through
    the transform (prefix compare), incl. per-file tuple checks."""
    import pyspark.sql.functions as F

    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    orders = spark.read.parquet(
        os.path.join(sf_dir, "orders.parquet")
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "teq"))
    t.create(orders, partition_by=["truncate(1, o_orderstatus)"])
    got = t.scan_planned_eq("o_orderstatus", "F")
    expect = orders.filter(F.col("o_orderstatus") == "F")
    assert got.count() == expect.count() > 0
    pr = t._last_prune
    assert pr["files_read"] < pr["files_total"]


def test_vectorized_murmur3_matches_scalar():
    """The numpy bucket kernels (murmur3_32_longs_vec / _bytes_vec /
    bucket_values_vec) must equal the scalar spec implementation bit
    for bit on every supported key type — including negatives, empty
    strings, multi-byte UTF-8, all tail lengths, and nulls."""
    import datetime

    import numpy as np
    import pandas as pd

    from featureform_spark.sources.iceberg_protocol import (
        bucket_value,
        bucket_values_vec,
        murmur3_32,
        murmur3_32_bytes_vec,
        murmur3_32_longs_vec,
    )
    import struct as _struct

    rng = np.random.default_rng(3)
    longs = np.concatenate(
        [
            rng.integers(-(2**62), 2**62, size=2000),
            np.array([0, 1, -1, 34, 2**62, -(2**62)]),
        ]
    ).astype(np.int64)
    got = murmur3_32_longs_vec(longs)
    for v, h in zip(longs.tolist(), got.tolist()):
        assert murmur3_32(_struct.pack("<q", v)) == h

    strs = [
        "", "a", "ab", "abc", "abcd", "abcde", "iceberg",
        "naïve—utf8✓", "x" * 100, "\x00embedded\x00nulls",
    ] + ["s%d" % i for i in range(500)]
    bufs = [s.encode("utf-8") for s in strs]
    got_b = murmur3_32_bytes_vec(bufs)
    for b, h in zip(bufs, got_b.tolist()):
        assert murmur3_32(b) == h

    # full bucket path incl. nulls, dates, timestamps
    n = 16
    s_long = pd.Series([3, None, -7, 2**40], dtype="object")
    assert bucket_values_vec("long", s_long, n).tolist() == [
        bucket_value("long", v, n) if v is not None else None
        for v in s_long
    ]
    dates = pd.Series(
        [datetime.date(2017, 11, 16), None, datetime.date(1969, 12, 31)]
    )
    expect = [
        None
        if d is None
        else bucket_value(
            "date", (d - datetime.date(1970, 1, 1)).days, n
        )
        for d in dates
    ]
    assert bucket_values_vec("date", dates, n).tolist() == expect
    tss = pd.Series(
        [datetime.datetime(2017, 11, 16, 22, 31, 8), pd.NaT,
         datetime.datetime(1970, 1, 1)]
    )
    expect_ts = [
        None if pd.isna(t) else bucket_value("timestamp", t, n)
        for t in tss
    ]
    assert bucket_values_vec("timestamp", tss, n).tolist() == expect_ts
    s_str = pd.Series(["iceberg", None, "", "naïve"])
    assert bucket_values_vec("string", s_str, n).tolist() == [
        None if v is None else bucket_value("string", v, n) for v in s_str
    ]


def test_vectorized_murmur3_throughput():
    """The write-path kernel must be vectorized-fast: >=5x the scalar
    loop on 1M long keys (typically ~100x; 5x guards against timer
    noise without flaking)."""
    import time

    import numpy as np

    from featureform_spark.sources.iceberg_protocol import (
        bucket_value,
        murmur3_32_longs_vec,
    )

    rng = np.random.default_rng(0)
    keys = rng.integers(-(2**60), 2**60, size=1_000_000).astype(np.int64)
    # min-of-3: a single pass flakes when a host steal burst lands on
    # the vectorized call (observed under full-suite load); a burst on
    # the scalar arm only widens the margin, so that side stays single
    vec_s = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        murmur3_32_longs_vec(keys)
        vec_s = min(vec_s, time.perf_counter() - t0)
    sample = keys[:20_000].tolist()
    t0 = time.perf_counter()
    for v in sample:
        bucket_value("long", v, 16)
    scalar_s = (time.perf_counter() - t0) * (len(keys) / len(sample))
    assert scalar_s > 5 * vec_s, (scalar_s, vec_s)


def test_partition_transforms_roundtrip(spark, sf_dir, tmp_path):
    """day + bucket + truncate partitioning: rows unchanged, manifests
    carry the TRANSFORMED partition values, appends keep working, and
    source columns stay in the data files."""
    import datetime

    from featureform_spark.sources.iceberg_protocol import bucket_value

    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus",
        "o_totalprice",
    )
    half_a = orders.filter(F.col("o_orderkey") % 2 == 0)
    half_b = orders.filter(F.col("o_orderkey") % 2 == 1)
    t = IcebergProtocolTable(spark, str(tmp_path / "tr"))
    t.create(
        half_a,
        partition_by=[
            "month(o_orderdate)",
            "bucket(4, o_custkey)",
            "truncate(1, o_orderstatus)",
        ],
    )
    t.append(half_b)
    assert _sorted_rows(t.snapshot()) == _sorted_rows(orders)

    spec = t.partition_spec()
    assert [pf["transform"] for pf in spec] == [
        "month", "bucket[4]", "truncate[1]"
    ]
    snap = t.current_snapshot()
    _, manifests = read_container(snap["manifest-list"])
    _, entries = read_container(manifests[0]["manifest_path"])
    pv = entries[0]["data_file"]["partition"]
    assert set(pv) == {
        "o_orderdate_month", "o_custkey_bucket", "o_orderstatus_trunc"
    }
    assert 0 <= pv["o_custkey_bucket"] < 4
    assert pv["o_orderstatus_trunc"] in ("F", "O", "P")
    # month value is months-since-epoch of some real order date
    assert 300 <= pv["o_orderdate_month"] <= 1000

    # the recorded bucket matches the spec murmur3 of an actual row
    # in that file
    import pyarrow.parquet as pq

    fpath = entries[0]["data_file"]["file_path"]
    tbl = pq.read_table(fpath, columns=["o_custkey"])
    for v in tbl["o_custkey"].to_pylist()[:20]:
        assert bucket_value("long", v, 4) == pv["o_custkey_bucket"]


def test_hidden_partitioning_prunes_through_day_transform(
    spark, sf_dir, tmp_path
):
    """A range filter on the SOURCE timestamp column must prune
    manifests of a day(ts)-partitioned table — Iceberg's hidden
    partitioning contract (the user never mentions the partition
    column)."""
    orders = _orders(spark, sf_dir)
    early = orders.filter(F.col("o_orderdate") < "1996-01-01")
    late = orders.filter(F.col("o_orderdate") >= "1996-01-01")
    t = IcebergProtocolTable(spark, str(tmp_path / "hp"))
    t.create(early, partition_by=["day(o_orderdate)"])
    t.append(late)

    import datetime

    lo = datetime.datetime(1996, 6, 1)
    hi = datetime.datetime(1997, 1, 1)
    got = t.scan_planned("o_orderdate", lo, hi)
    expect = orders.filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi))
    )
    assert _sorted_rows(got) == _sorted_rows(expect)
    assert t._last_prune["files_read"] < t._last_prune["files_total"]


def test_legacy_v1_metadata_layout_reads(spark, sf_dir, tmp_path):
    """Format-version 1 tables: single 'schema' field (no schemas
    list), 'partition-spec' field list, and snapshots that embed the
    'manifests' path list instead of a manifest-list file."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "v1"))
    t.create(orders.limit(60))

    meta_dir = tmp_path / "v1" / "metadata"
    md = json.loads((meta_dir / "v1.metadata.json").read_text())
    snap = md["snapshots"][0]
    _, manifests = read_container(snap["manifest-list"])
    legacy = {
        "format-version": 1,
        "table-uuid": md["table-uuid"],
        "location": md["location"],
        "last-updated-ms": md["last-updated-ms"],
        "last-column-id": md["last-column-id"],
        "schema": {k: v for k, v in md["schemas"][0].items()
                   if k != "schema-id"},
        "partition-spec": [],
        "properties": {},
        "current-snapshot-id": snap["snapshot-id"],
        "snapshots": [
            {
                "snapshot-id": snap["snapshot-id"],
                "timestamp-ms": snap["timestamp-ms"],
                "manifests": [m["manifest_path"] for m in manifests],
            }
        ],
        "snapshot-log": [
            {"timestamp-ms": snap["timestamp-ms"],
             "snapshot-id": snap["snapshot-id"]}
        ],
    }
    (meta_dir / "v2.metadata.json").write_text(json.dumps(legacy))
    (meta_dir / "version-hint.text").write_text("2")

    got = t.snapshot()
    assert got.count() == 60
    assert got.columns == ["o_orderkey", "o_totalprice"]
    assert t.scan_planned("o_orderkey", 0, 10**9).count() == 60


def test_equality_delete_null_keys_match(spark, sf_dir, tmp_path):
    """Spec: null values MATCH in equality deletes — a NULL key tuple
    deletes rows whose key is NULL (eqNullSafe join)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)],
        "id long, k string",
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "nk"))
    t.create(df)
    keys = spark.createDataFrame([(None,)], "k string")
    t.delete_by_keys(keys, ["k"])
    got = sorted(r["id"] for r in t.snapshot().collect())
    assert got == [1, 3]


def test_v3_deletion_vector_read(spark, sf_dir, tmp_path):
    """Round-6 stretch (verdict r5 #8): Iceberg v3 deletion vectors —
    framed roaring-portable puffin blobs referenced from a delete
    manifest via referenced_data_file/content_offset — decode with the
    SAME codec as Delta DVs (dv_bitmap) and apply through the broadcast
    anti-join. The format-version gate narrows to the genuinely
    unsupported rest of v3 (row lineage)."""
    import numpy as np
    import pyarrow.parquet as pq

    from featureform_spark.sources.dv_bitmap import (
        append_dv_to_file,
        encode_rbm_array,
    )

    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "v3")
    t = IcebergProtocolTable(spark, path)
    t.create(orders.limit(100).repartition(2))
    md = t.metadata()
    snap = t._snapshot_by(None, md=md)
    data_entries, _ = t._live_entries(snap)
    files = sorted(
        t._resolve_path(e["data_file"]["file_path"]) for e in data_entries
    )
    assert len(files) == 2
    target = files[0]
    n = pq.read_metadata(target).num_rows
    pos = np.arange(0, n, 2, dtype=np.uint64)  # delete even positions

    # a (minimal) puffin file: header magic + the framed DV blob
    puffin = os.path.join(path, "metadata", "dv.puffin")
    with open(puffin, "wb") as fh:
        fh.write(b"PFA1\x00\x00\x00\x00")
        offset, size = append_dv_to_file(fh, encode_rbm_array(pos))

    seq = int(md.get("last-sequence-number", 0)) + 1
    snapshot_id = 424242
    dv_file = {
        "content": 1,
        "file_path": puffin,
        "file_format": "PUFFIN",
        "partition": {},
        "record_count": len(pos),
        "file_size_in_bytes": os.path.getsize(puffin),
        "value_counts": [],
        "null_value_counts": [],
        "lower_bounds": [],
        "upper_bounds": [],
        "referenced_data_file": target,
        "content_offset": offset,
        "content_size_in_bytes": size,
    }
    del_manifest = t._write_manifest(
        [
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": dv_file,
            }
        ],
        t.schema(md),
        [],
        0,
        snapshot_id,
        seq,
        content=1,
    )
    manifests = t._manifest_files(snap) + [del_manifest]
    t._advance(md, manifests, "delete", 0, 0, snapshot_id=snapshot_id)

    # a modern writer would stamp format-version 3 — do the same
    md3 = t.metadata()
    md3["format-version"] = 3
    v = max(ver for ver, _ in t._metadata_files()) + 1
    t._commit_metadata(md3, v)

    got = t.snapshot()
    base = spark.read.parquet(*files).select(
        "*",
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/").alias(
            "__fp"
        ),
        F.col("_metadata.row_index").alias("__pos"),
    )
    keep = base.filter(
        (F.col("__fp") != target) | (F.col("__pos") % 2 == 1)
    ).drop("__fp", "__pos")
    assert _sorted_rows(got) == _sorted_rows(keep.select(*got.columns))
    assert got.count() == 100 - len(pos)

    # row-lineage metadata is ACCEPTED since round 6 (read via
    # snapshot_with_row_ids); plain reads are unchanged by it
    md_rl = t.metadata()
    md_rl["format-version"] = 3
    md_rl["next-row-id"] = 0
    t._commit_metadata(md_rl, v + 1)
    assert t.snapshot().count() == 100 - len(pos)
    assert t.snapshot_with_row_ids().count() == 100 - len(pos)


def test_v3_deletion_vector_write(spark, sf_dir, tmp_path):
    """v3 DV WRITES: after upgrade_format_version(3), delete_rows emits
    puffin deletion vectors (executor-side roaring encode, no new
    position-delete parquet), folds prior DV state per file, and keeps
    the one-DV-per-file invariant by rewriting superseded delete
    manifest entries."""
    import pyspark.sql as pssql

    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "v3w")
    t = IcebergProtocolTable(spark, path)
    t.create(orders.limit(120).repartition(3))
    t.upgrade_format_version(3)
    assert t.metadata()["format-version"] == 3

    # no position-level toPandas on the write path
    orig = pssql.DataFrame.toPandas
    try:
        pssql.DataFrame.toPandas = lambda self: (_ for _ in ()).throw(
            AssertionError("v3 delete must not collect positions")
        )
        sid = t.delete_rows(F.col("o_orderkey") % 5 == 0)
    finally:
        pssql.DataFrame.toPandas = orig
    assert sid > 0
    expect1 = _sorted_rows(
        orders.limit(120).filter(F.col("o_orderkey") % 5 != 0)
    )
    assert _sorted_rows(t.snapshot()) == expect1
    # the delete landed as puffin DVs, not parquet position deletes
    snap = t._snapshot_by(None, md=t.metadata())
    _, deletes = t._live_entries(snap)
    assert deletes and all(
        str(e["data_file"]["file_format"]).upper() == "PUFFIN"
        for e in deletes
    )
    n_dvs_1 = len(deletes)

    # re-delete: per-file DVs merge, superseded entries are dropped —
    # at most one live DV per referenced data file
    t.delete_rows(F.col("o_orderkey") % 5 == 1)
    snap = t._snapshot_by(None, md=t.metadata())
    _, deletes = t._live_entries(snap)
    refs = [
        t._resolve_path(e["data_file"]["referenced_data_file"])
        for e in deletes
    ]
    assert len(refs) == len(set(refs)), "multiple live DVs for one file"
    expect2 = _sorted_rows(
        orders.limit(120).filter(F.col("o_orderkey") % 5 >= 2)
    )
    assert _sorted_rows(t.snapshot()) == expect2
    # deleting rows already deleted is a no-op
    assert t.delete_rows(F.col("o_orderkey") % 5 == 0) == -1
    # time travel across the DV snapshots still works
    snaps = t.snapshots(t.metadata())
    assert _sorted_rows(
        t.snapshot(snapshot_id=snaps[-2]["snapshot-id"])
    ) == expect1


def test_v3_upgrade_folds_v2_position_deletes(spark, sf_dir, tmp_path):
    """A v2 table with parquet position deletes upgraded to v3: new DVs
    fold the old parquet rows for touched files (union-exact), old
    manifests stay carried, reads remain exact."""
    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "v3up")
    t = IcebergProtocolTable(spark, path)
    t.create(orders.limit(100).repartition(2))
    t.delete_rows(F.col("o_orderkey") % 4 == 0)  # v2 parquet deletes
    t.upgrade_format_version(3)
    t.delete_rows(F.col("o_orderkey") % 4 == 1)  # v3 puffin DVs
    expect = _sorted_rows(
        orders.limit(100).filter(F.col("o_orderkey") % 4 >= 2)
    )
    assert _sorted_rows(t.snapshot()) == expect


def test_changelog_scan(spark, sf_dir, tmp_path):
    """Iceberg changelog / CDC read: inserts from appends, deletes from
    position deletes / equality deletes / v3 DV diffs, nothing from
    compaction, delete+insert from overwrite — tagged with
    _change_type/_change_ordinal/_commit_snapshot_id."""
    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "cl")
    t = IcebergProtocolTable(spark, path)
    base = orders.limit(120)
    t.create(base.filter(F.col("o_orderkey") % 3 == 0))           # s0
    t.append(base.filter(F.col("o_orderkey") % 3 == 1))           # s1
    t.delete_rows(F.col("o_orderkey") % 6 == 0)                   # s2 pos
    t.rewrite_data_files()                                        # s3 replace
    snaps = t.snapshots(t.metadata())
    ch = t.changelog_scan()
    k = lambda df: sorted(
        (r["o_orderkey"], r["_change_type"], r["_change_ordinal"])
        for r in df.collect()
    )
    got = k(ch)
    expect = sorted(
        [(r["o_orderkey"], "insert", 0)
         for r in base.filter(F.col("o_orderkey") % 3 == 0).collect()]
        + [(r["o_orderkey"], "insert", 1)
           for r in base.filter(F.col("o_orderkey") % 3 == 1).collect()]
        + [(r["o_orderkey"], "delete", 2)
           for r in base.filter(
               (F.col("o_orderkey") % 3 <= 1)
               & (F.col("o_orderkey") % 6 == 0)
           ).collect()]
    )
    assert got == expect
    # incremental window: only s2's deletes
    win = t.changelog_scan(
        from_snapshot_id=snaps[1]["snapshot-id"],
        to_snapshot_id=snaps[2]["snapshot-id"],
    )
    assert all(r["_change_type"] == "delete" for r in win.collect())
    assert win.count() == base.filter(
        (F.col("o_orderkey") % 3 <= 1) & (F.col("o_orderkey") % 6 == 0)
    ).count()

    # equality deletes + v3 DVs also produce exact delete rows
    p2 = str(tmp_path / "cl2")
    t2 = IcebergProtocolTable(spark, p2)
    t2.create(base.limit(80))
    keys = spark.createDataFrame(
        [(r["o_orderkey"],) for r in base.limit(20).collect()],
        "o_orderkey long",
    )
    t2.delete_by_keys(keys, ["o_orderkey"])                      # eq
    t2.upgrade_format_version(3)
    t2.delete_rows(F.col("o_orderkey") % 7 == 0)                 # v3 DV
    ch2 = t2.changelog_scan()
    live = t2.snapshot()
    ins = ch2.filter(F.col("_change_type") == "insert").count()
    dels = ch2.filter(F.col("_change_type") == "delete").count()
    assert ins == 80
    assert ins - dels == live.count()


def test_rewrite_sorted_and_zorder(spark, sf_dir, tmp_path):
    """rewrite_data_files(sort_by=...) records a real spec sort order
    and produces files whose tightened bounds make scan planning prune
    harder; zorder_by clusters multi-dimensionally; both rewrites stay
    row-identical."""
    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "srt")
    t = IcebergProtocolTable(spark, path)
    t.create(orders.limit(4000).repartition(8))  # random row placement
    before = _sorted_rows(t.snapshot())
    lo_key = t.snapshot().agg(F.min("o_orderkey")).first()[0]
    t.scan_planned("o_orderkey", lo_key, lo_key + 50)
    unsorted_read = t._last_prune["files_read"]

    sid = t.rewrite_data_files(sort_by=["o_orderkey"])
    assert sid > 0
    assert _sorted_rows(t.snapshot()) == before
    md = t.metadata()
    assert md["default-sort-order-id"] == 1
    so = [o for o in md["sort-orders"] if o["order-id"] == 1][0]
    assert so["fields"][0]["transform"] == "identity"
    assert so["fields"][0]["direction"] == "asc"
    # files now carry the sort_order_id and tight ranges: the same
    # narrow probe reads fewer files than the unsorted layout
    t.scan_planned("o_orderkey", lo_key, lo_key + 50)
    assert t._last_prune["files_read"] <= unsorted_read
    assert t._last_prune["files_read"] <= 2

    t2 = IcebergProtocolTable(spark, str(tmp_path / "zo"))
    t2.create(orders.limit(4000).repartition(8))
    before2 = _sorted_rows(t2.snapshot())
    t2.rewrite_data_files(zorder_by=["o_orderkey", "o_custkey"])
    assert _sorted_rows(t2.snapshot()) == before2
    with pytest.raises(IcebergProtocolError, match="zorder supports"):
        t2.rewrite_data_files(zorder_by=["o_nope"])  # unknown column


def test_v3_dv_puffin_expiry(spark, sf_dir, tmp_path):
    """Superseded puffin DV files age out with expire_snapshots once no
    kept snapshot references them; live DVs survive and reads stay
    exact."""
    import glob

    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "pexp")
    t = IcebergProtocolTable(spark, path)
    t.create(orders.limit(100).repartition(2))
    t.upgrade_format_version(3)
    t.delete_rows(F.col("o_orderkey") % 4 == 0)   # puffin #1
    t.delete_rows(F.col("o_orderkey") % 4 == 1)   # puffin #2 (merges #1)
    assert len(glob.glob(os.path.join(path, "data", "*.puffin"))) == 2
    expect = _sorted_rows(t.snapshot())
    res = t.expire_snapshots(retain_last=1)
    assert res["expired"] >= 2
    left = glob.glob(os.path.join(path, "data", "*.puffin"))
    assert len(left) == 1  # superseded vector collected
    assert _sorted_rows(t.snapshot()) == expect


def test_metadata_tables(spark, sf_dir, tmp_path):
    """Inspection tables (tbl.snapshots / files / delete_files /
    manifests / history / refs) — metadata-scale relations for ops
    tooling, matching Iceberg's SQL inspection surface."""
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "meta"))
    t.create(orders.limit(100).repartition(2))
    t.append(orders.limit(150).subtract(orders.limit(100)))
    t.delete_rows(F.col("o_orderkey") % 7 == 0)
    t.create_ref("v1", "tag")
    snaps = t.metadata_table("snapshots")
    assert snaps.count() == 3
    assert [r["operation"] for r in snaps.orderBy("committed_at_ms").collect()] \
        == ["append", "append", "delete"]
    files = t.metadata_table("files")
    assert files.count() == len(
        t._live_entries(t._snapshot_by(None, md=t.metadata()))[0]
    )
    assert files.filter(F.col("content") != 0).count() == 0
    dels = t.metadata_table("delete_files")
    assert dels.count() >= 1
    assert set(r["content"] for r in dels.collect()) == {1}
    mans = t.metadata_table("manifests")
    assert mans.filter(F.col("content") == 1).count() >= 1
    hist = t.metadata_table("history")
    assert hist.count() == 3
    refs = t.metadata_table("refs")
    assert refs.collect()[0]["name"] == "v1"
    with pytest.raises(IcebergProtocolError, match="unknown metadata"):
        t.metadata_table("nope")


def test_concurrent_sessionless_iceberg_appends(spark, sf_dir, tmp_path):
    """Six threads append_arrow simultaneously: the metadata O_EXCL
    race resolves by refold+retry and every row lands exactly once."""
    import threading

    orders = _orders(spark, sf_dir)
    path = str(tmp_path / "icc")
    t = IcebergProtocolTable(spark, path)
    t.create(orders.limit(10))
    base = orders.limit(70).subtract(orders.limit(10)).toArrow()
    chunks = [base.slice(i * 10, 10) for i in range(6)]
    errs = []

    def put(tbl):
        try:
            IcebergProtocolTable(None, path).append_arrow(tbl)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=put, args=(c,)) for c in chunks]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert len(t.snapshots(t.metadata())) == 7  # create + 6 appends
    assert t.snapshot().count() == 10 + sum(c.num_rows for c in chunks)


def test_branch_write_and_fast_forward(spark, sf_dir, tmp_path):
    """Branch-WAP: append(branch=) advances only the branch ref; main
    publishes via fast_forward; tags stay immutable; diverged
    fast-forwards refuse."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(20))
    t.append(orders.limit(30).subtract(orders.limit(20)), branch="audit")
    assert t.snapshot().count() == 20          # main untouched
    assert t.snapshot_ref("audit").count() == 30
    # refs metadata table sees the branch
    refs = {r[0]: r for r in t.metadata_table("refs").collect()}
    assert refs["audit"][1] == "branch"
    t.fast_forward("main", "audit")
    assert t.snapshot().count() == 30
    # second branch write on top of the new main
    t.append(orders.limit(35).subtract(orders.limit(30)), branch="audit")
    assert t.snapshot_ref("audit").count() == 35
    # diverge main, then ff must refuse
    t.append(orders.limit(40).subtract(orders.limit(35)))
    with pytest.raises(IcebergProtocolError, match="not an ancestor"):
        t.fast_forward("main", "audit")
    # tags refuse writes
    t.create_ref("v1", kind="tag")
    with pytest.raises(IcebergProtocolError, match="tag"):
        t.append(orders.limit(5), branch="v1")


def test_wap_stage_and_cherrypick(spark, sf_dir, tmp_path):
    """wap.id staging: snapshot recorded unreferenced, invisible on
    main until cherrypick_snapshot re-applies its manifests; duplicate
    wap ids refuse at stage AND publish; staging requires the table
    property; non-append snapshots refuse cherry-pick."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(20),
             properties={"write.wap.enabled": "true"})
    staged = t.append(
        orders.limit(30).subtract(orders.limit(20)), wap_id="w1"
    )
    assert t.snapshot().count() == 20
    assert t.snapshot(snapshot_id=staged).count() == 30
    with pytest.raises(IcebergProtocolError, match="duplicate wap.id"):
        t.append(orders.limit(5), wap_id="w1")
    # interleaved main commit BEFORE publish: cherry-pick re-applies
    # the staged manifests on the new head (not the staged lineage)
    t.append(orders.limit(45).subtract(orders.limit(30)))
    t.cherrypick_snapshot(staged)
    assert t.snapshot().count() == 45
    rows = {r["o_orderkey"] for r in t.snapshot().collect()}
    assert rows == {
        r["o_orderkey"] for r in orders.limit(45).collect()
    }
    head = t.current_snapshot()
    assert head["summary"]["published-wap-id"] == "w1"
    with pytest.raises(IcebergProtocolError, match="already published"):
        t.cherrypick_snapshot(staged)
    # property gate
    t2 = IcebergProtocolTable(spark, str(tmp_path / "t2"))
    t2.create(orders.limit(5))
    with pytest.raises(IcebergProtocolError, match="write.wap.enabled"):
        t2.append(orders.limit(5), wap_id="w9")
    # non-append snapshots refuse cherry-pick
    t.delete_rows(F.col("o_orderkey") % 2 == 0)
    with pytest.raises(UnsupportedIcebergFeatureError, match="append"):
        t.cherrypick_snapshot(t.current_snapshot()["snapshot-id"])


def test_unpublished_stage_expires_published_survives(spark, sf_dir,
                                                      tmp_path):
    """expire_snapshots drops an unreferenced staged snapshot (its
    manifest list goes away) while published rows are unaffected."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(10),
             properties={"write.wap.enabled": "true"})
    t.append(orders.limit(20).subtract(orders.limit(10)))
    staged = t.append(
        orders.limit(25).subtract(orders.limit(20)), wap_id="dead"
    )
    res = t.expire_snapshots(retain_last=1)
    assert res["expired"] == 2  # the create snapshot + the staged one
    with pytest.raises(IcebergProtocolError):
        t.snapshot(snapshot_id=staged)
    assert t.snapshot().count() == 20


def test_v3_row_lineage_lifecycle(spark, sf_dir, tmp_path):
    """v3 row lineage (spec §Row Lineage): ids enumerate from
    next-row-id; pre-upgrade files read NULL until rewritten; DV
    deletes never move ids; rewrites materialize carried ids and
    assign fresh ones to previously-NULL rows; sessionless appends
    reserve ranges through the CAS retry."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(10))
    with pytest.raises(UnsupportedIcebergFeatureError, match="format-version 3"):
        t.snapshot_with_row_ids()
    t.upgrade_format_version(3)
    assert t.metadata()["next-row-id"] == 0

    def ids():
        pdf = (
            t.snapshot_with_row_ids()
            .toPandas()
            .set_index("o_orderkey")
            .sort_index()
        )
        nn = pdf["_row_id"].dropna()
        assert nn.nunique() == len(nn), "duplicate row ids"
        return pdf

    s0 = ids()
    assert s0["_row_id"].isna().all()  # pre-upgrade file: no lineage
    t.append(orders.limit(20).subtract(orders.limit(10)))
    s1 = ids()
    added = s1["_row_id"].dropna()
    assert set(added) == set(range(10))
    assert t.metadata()["next-row-id"] == 10
    # DV delete: ids stable
    t.delete_rows(F.col("o_orderkey") % 2 == 0)
    s2 = ids()
    live = s2["_row_id"].dropna()
    assert (live == s1.loc[live.index, "_row_id"]).all()
    # rewrite: carried ids preserved (materialized), NULL rows get
    # fresh ids (the spec's lazy assignment), enumeration advances
    t.rewrite_data_files()
    s3 = ids()
    assert (s3.loc[live.index, "_row_id"] == live).all()
    assert s3["_row_id"].notna().all()
    assert t.metadata()["next-row-id"] == 10 + len(s3)
    # sessionless append reserves a fresh range
    t2 = IcebergProtocolTable(None, str(tmp_path / "t"))
    t2.append_arrow(
        orders.limit(23).subtract(orders.limit(20)).toArrow()
    )
    s4 = ids()
    assert s4["_row_id"].notna().all()
    # _last_updated_sequence_number tracks the writing commit
    assert s4["_last_updated_sequence_number"].max() == max(
        int(s.get("sequence-number", 0))
        for s in t.metadata()["snapshots"]
    )


def test_v3_row_lineage_wap_reserves_ranges(spark, sf_dir, tmp_path):
    """WAP staging on a lineage table reserves the id range AT STAGE
    TIME, so interleaved main commits and the later cherry-pick never
    collide ids; an abandoned stage leaves a gap (ids unique, not
    dense — spec-permitted)."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(
        orders.limit(5), properties={"write.wap.enabled": "true"}
    )
    t.upgrade_format_version(3)
    staged = t.append(
        orders.limit(10).subtract(orders.limit(5)), wap_id="w1"
    )
    after_stage = t.metadata()["next-row-id"]
    assert after_stage == 5  # range reserved while unreferenced
    t.append(orders.limit(15).subtract(orders.limit(10)))
    t.cherrypick_snapshot(staged)
    pdf = t.snapshot_with_row_ids().toPandas()
    nn = pdf["_row_id"].dropna()
    assert nn.nunique() == len(nn)
    assert len(nn) == 10  # the two post-upgrade appends


def test_rewrite_manifests_combines_without_moving_data(
    spark, sf_dir, tmp_path
):
    """rewrite_manifests: N per-commit manifests fold to ONE; entries
    keep their snapshot/sequence identity so delete scoping and row
    lineage hold; data files are untouched (no rewrite)."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(10))
    for lo, hi in [(10, 20), (20, 30), (30, 40)]:
        t.append(orders.limit(hi).subtract(orders.limit(lo)))
    t.delete_rows(F.col("o_orderkey") % 2 == 0)
    before_rows = _sorted_rows(t.snapshot())
    snap = t.current_snapshot()
    pre = t._manifest_files(snap)
    pre_data = [m for m in pre if int(m.get("content", 0)) == 0]
    assert len(pre_data) == 4
    data_files_before = {
        r["file_path"]
        for r in t.metadata_table("files").collect()
    }
    assert t.rewrite_manifests() != -1
    post = t._manifest_files(t.current_snapshot())
    post_data = [m for m in post if int(m.get("content", 0)) == 0]
    assert len(post_data) == 1
    assert post_data[0]["existing_files_count"] >= 4
    assert post_data[0]["added_files_count"] == 0
    # same rows, same physical files, deletes still scoped right
    assert _sorted_rows(t.snapshot()) == before_rows
    assert {
        r["file_path"] for r in t.metadata_table("files").collect()
    } == data_files_before
    # nothing further to combine
    assert t.rewrite_manifests() == -1


def test_rewrite_manifests_preserves_row_lineage(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(10))
    t.upgrade_format_version(3)
    t.append(orders.limit(20).subtract(orders.limit(10)))
    t.append(orders.limit(30).subtract(orders.limit(20)))
    before = (
        t.snapshot_with_row_ids()
        .toPandas()
        .set_index("o_orderkey")["_row_id"]
        .sort_index()
    )
    assert t.rewrite_manifests() != -1
    after = (
        t.snapshot_with_row_ids()
        .toPandas()
        .set_index("o_orderkey")["_row_id"]
        .sort_index()
    )
    assert (
        before.isna() == after.isna()
    ).all() and (before.dropna() == after.dropna()).all()
    assert t.metadata()["next-row-id"] == 20


def test_remove_orphan_files_and_time_based_expiry(
    spark, sf_dir, tmp_path
):
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(10))
    t.append(orders.limit(20).subtract(orders.limit(10)))
    rows = _sorted_rows(t.snapshot())
    # plant orphans: abandoned staging + stray data file
    stray = os.path.join(str(tmp_path / "t"), "data", "stray.parquet")
    os.makedirs(os.path.dirname(stray), exist_ok=True)
    with open(stray, "wb") as f:
        f.write(b"junk")
    staging = os.path.join(str(tmp_path / "t"), ".staging", "x", "y.parquet")
    os.makedirs(os.path.dirname(staging), exist_ok=True)
    with open(staging, "wb") as f:
        f.write(b"junk")
    # the DEFAULT cutoff is now-3-days (real Iceberg's guard): fresh
    # files — including a concurrent writer's in-flight output —
    # survive a default collection even when unreferenced
    res = t.remove_orphan_files()
    assert res["deleted"] == 0 and os.path.exists(stray)
    res = t.remove_orphan_files(older_than_ms=0)
    assert res["deleted"] == 0 and os.path.exists(stray)
    # an explicit future cutoff collects everything unreferenced
    res = t.remove_orphan_files(older_than_ms=2**60)
    assert res["deleted"] >= 2
    assert not os.path.exists(stray)
    assert not os.path.exists(staging)
    assert _sorted_rows(t.snapshot()) == rows  # table unharmed
    # time-based expiry: cutoff between the two snapshots
    snaps = t.metadata()["snapshots"]
    assert len(snaps) == 2
    cut = int(snaps[1]["timestamp-ms"])
    res = t.expire_snapshots(retain_last=1, older_than_ms=cut + 1)
    # head survives via retain_last even though it's past the cutoff
    assert res["expired"] == 1
    assert _sorted_rows(t.snapshot()) == rows


def test_auto_manifest_merge_and_ref_source_reads(spark, sf_dir, tmp_path):
    """commit.manifest-merge.enabled folds manifests once the append
    chain reaches min-count; the registered source reads branches/
    snapshots via option('ref'/'snapshotId')."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(
        orders.limit(5),
        properties={
            "commit.manifest-merge.enabled": "true",
            "commit.manifest.min-count-to-merge": "3",
        },
    )
    t.append(orders.limit(10).subtract(orders.limit(5)))
    t.append(orders.limit(15).subtract(orders.limit(10)))  # triggers
    post = t._manifest_files(t.current_snapshot())
    assert len([m for m in post if int(m.get("content", 0)) == 0]) == 1
    assert t.snapshot().count() == 15
    # ref reads through the registered source
    from featureform_spark.sources.icebergprotocol_datasource import (
        register,
    )

    register(spark)
    t.append(orders.limit(20).subtract(orders.limit(15)), branch="audit")
    main_n = (
        spark.read.format("icebergprotocol")
        .option("path", str(tmp_path / "t"))
        .load()
        .count()
    )
    audit_n = (
        spark.read.format("icebergprotocol")
        .option("path", str(tmp_path / "t"))
        .option("ref", "audit")
        .load()
        .count()
    )
    assert (main_n, audit_n) == (15, 20)


def test_type_promotion_evolution(spark, sf_dir, tmp_path):
    """Spec §Schema Evolution type promotion: int->long and
    float->double keep the field id; old int32/float files read
    correctly under the widened schema; unsupported changes still
    refuse."""
    from pyspark.sql import types as T

    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(
        spark.range(10).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("float").alias("v"),
        )
    )
    old_ids = {f["name"]: f["id"] for f in t.schema()["fields"]}
    new = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    t.evolve_schema(new)
    assert {f["name"]: f["id"] for f in t.schema()["fields"]} == old_ids
    t.append(spark.createDataFrame([(2**40, 1.5)], new))
    out = t.snapshot()
    assert out.schema.simpleString() == "struct<k:bigint,v:double>"
    assert out.count() == 11
    assert out.agg(F.max("k")).first()[0] == 2**40
    assert abs(out.agg(F.sum("v")).first()[0] - (45.0 + 1.5)) < 1e-9
    # the sessionless scans read the old files as the widened types
    import pyarrow as pa

    from featureform_spark.serving.flight_server import scan_table_arrow
    from featureform_spark.sources.icebergprotocol_datasource import (
        register,
    )

    want = sorted(map(tuple, out.collect()))
    got = scan_table_arrow(str(tmp_path / "t")).read_all()
    assert got.schema.types == [pa.int64(), pa.float64()]
    assert sorted(tuple(r.values()) for r in got.to_pylist()) == want
    register(spark)
    via_ds = (
        spark.read.format("icebergprotocol")
        .option("path", str(tmp_path / "t"))
        .load()
    )
    assert sorted(map(tuple, via_ds.collect())) == want
    with pytest.raises(UnsupportedIcebergFeatureError, match="type change"):
        t.evolve_schema(
            T.StructType(
                [
                    T.StructField("k", T.StringType()),
                    T.StructField("v", T.DoubleType()),
                ]
            )
        )


def test_partition_spec_evolution(spark, sf_dir, tmp_path):
    """Spec §Partition Evolution: update_spec registers a new default
    spec with NO data rewrite; old manifests plan under their own
    spec-id; scans stay exact across mixed specs and pruning works in
    both (monotonic range + bucket equality); (source, transform)
    pairs reuse field ids; re-declaring the current spec is a no-op."""
    import datetime

    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.filter(F.col("o_orderdate") < "1996-01-01"))
    sid = t.update_spec(["month(o_orderdate)"])
    assert sid == 1 and t.metadata()["default-spec-id"] == 1
    t.append(orders.filter(F.col("o_orderdate") >= "1996-01-01"))
    assert _sorted_rows(t.snapshot()) == _sorted_rows(orders)
    got = t.scan_planned(
        "o_orderdate",
        datetime.datetime(1996, 6, 1),
        datetime.datetime(1997, 1, 1),
    )
    exp = orders.filter(
        (F.col("o_orderdate") >= "1996-06-01")
        & (F.col("o_orderdate") <= "1997-01-01")
    )
    assert _sorted_rows(got) == _sorted_rows(exp)
    assert t._last_prune["files_read"] < t._last_prune["files_total"]

    # second evolution: bucket on the key; equality planning prunes
    sid2 = t.update_spec(["bucket(8, o_orderkey)"])
    assert sid2 == 2
    extra = orders.limit(50).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    t.append(extra)
    probe = int(extra.agg(F.min("o_orderkey")).first()[0])
    got2 = t.scan_planned_eq("o_orderkey", probe)
    assert got2.count() == 1
    assert t._last_prune["files_read"] < t._last_prune["files_total"]
    assert t.snapshot().count() == orders.count() + 50
    # no-op re-declare; (source, transform) reuse keeps the field id
    assert t.update_spec(["bucket(8, o_orderkey)"]) == 2
    sid3 = t.update_spec(["month(o_orderdate)"])
    specs = {s["spec-id"]: s["fields"] for s in t.metadata()["partition-specs"]}
    assert specs[sid3][0]["field-id"] == specs[1][0]["field-id"]
    # rewrite migrates everything under the current (month) spec
    t.rewrite_data_files()
    assert t.snapshot().count() == orders.count() + 50
    post = t._manifest_files(t.current_snapshot())
    assert {int(m.get("partition_spec_id") or 0) for m in post} == {sid3}


def test_timestamp_file_bounds_written(spark, sf_dir, tmp_path):
    """Data files carry timestamp column bounds (Spark's default INT96
    has NO parquet stats — the writer forces micros), so timestamp
    range planning prunes at file level even without partitioning."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_orderdate")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.filter(F.col("o_orderdate") < "1998-01-01").coalesce(1))
    t.append(orders.filter(F.col("o_orderdate") >= "1998-01-01").coalesce(1))
    import datetime

    got = t.scan_planned(
        "o_orderdate",
        datetime.datetime(1995, 1, 1),
        datetime.datetime(1996, 1, 1),
    )
    assert got.count() > 0
    assert t._last_prune == {"files_total": 2, "files_read": 1}


def test_expire_retains_branch_ancestry(spark, sf_dir, tmp_path):
    """Intermediate branch commits survive expiration: fast_forward's
    ancestry walk (and branch reads) need the chain back to a retained
    snapshot (review r6)."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(5))
    t.append(orders.limit(10).subtract(orders.limit(5)), branch="audit")
    t.append(orders.limit(15).subtract(orders.limit(10)), branch="audit")
    t.expire_snapshots(retain_last=1)
    # publish still fast-forwards through the intermediate commit
    t.fast_forward("main", "audit")
    assert t.snapshot().count() == 15


def test_v3_row_lineage_manifest_inheritance(spark, sf_dir, tmp_path):
    """Spec-compliant EXTERNAL v3 writers leave data_file.first_row_id
    null and rely on manifest-level inheritance — the reader derives
    manifest.first_row_id + cumulative record counts, and
    rewrite_manifests materializes the inherited values."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(orders.limit(10).coalesce(2))
    t.upgrade_format_version(3)
    t.append(orders.limit(20).subtract(orders.limit(10)).coalesce(2))
    # forge the external form: null the entry-level ids, keep the
    # manifest-level first_row_id
    from featureform_spark.sources.avro_codec import (
        read_container,
        write_container,
    )
    from featureform_spark.sources.iceberg_protocol import (
        MANIFEST_LIST_SCHEMA,
    )

    before = (
        t.snapshot_with_row_ids()
        .toPandas()
        .set_index("o_orderkey")["_row_id"]
        .sort_index()
    )
    snap = t.current_snapshot()
    ml = t._resolve_path(snap["manifest-list"])
    _, manifests = read_container(ml)
    for m in manifests:
        mp = t._resolve_path(m["manifest_path"])
        schema, recs = read_container(mp)
        for e in recs:
            e["data_file"]["first_row_id"] = None
        write_container(mp, schema, recs)
    write_container(ml, MANIFEST_LIST_SCHEMA, manifests)
    after = (
        t.snapshot_with_row_ids()
        .toPandas()
        .set_index("o_orderkey")["_row_id"]
        .sort_index()
    )
    # inherited ids must equal the explicit ones our writer assigned
    # (same enumeration: file order x record counts)
    assert (before.isna() == after.isna()).all()
    assert (before.dropna() == after.dropna()).all()
    # rewrite_manifests materializes the inherited values
    assert t.rewrite_manifests() != -1
    post = (
        t.snapshot_with_row_ids()
        .toPandas()
        .set_index("o_orderkey")["_row_id"]
        .sort_index()
    )
    assert (post.isna() == before.isna()).all()
    assert (post.dropna() == before.dropna()).all()


def test_changelog_and_streams_ignore_staged_wap(spark, sf_dir, tmp_path):
    """md['snapshots'] carries WAP-staged snapshots unreferenced by
    main; change readers must walk main's ancestry instead (ADVICE
    r6): changelog_scan must not emit unpublished wap.id data, must
    not pick a staged snapshot as a diff parent, and the streaming
    source's latestOffset must not advance to a staged id."""
    orders = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    path = str(tmp_path / "wapcl")
    t = IcebergProtocolTable(spark, path)
    t.create(orders.limit(20),
             properties={"write.wap.enabled": "true"})
    t.append(orders.limit(30).subtract(orders.limit(20)))
    staged = t.append(
        orders.limit(40).subtract(orders.limit(30)), wap_id="w1"
    )
    head_id = int(t.current_snapshot()["snapshot-id"])
    assert head_id != staged
    # changelog: only the two published commits, no staged rows
    ch = t.changelog_scan()
    keys = {r["o_orderkey"] for r in ch.collect()}
    assert keys == {r["o_orderkey"] for r in orders.limit(30).collect()}
    assert ch.count() == 30
    sids = {r["_commit_snapshot_id"] for r in ch.collect()}
    assert staged not in sids
    # incremental append scan refuses a staged 'to' snapshot
    first = int(t.main_lineage()[0]["snapshot-id"])
    with pytest.raises(IcebergProtocolError, match="not on main"):
        t.incremental_append_scan(first, staged)
    # streaming source: latestOffset is main's head, not the staged id
    from featureform_spark.sources.icebergprotocol_datasource import (
        IcebergProtocolStreamReader,
    )

    r = IcebergProtocolStreamReader({"path": path})
    assert r.latestOffset() == {"snapshot_id": head_id}
    # after publish, the cherry-picked rows appear as a NEW commit
    t.cherrypick_snapshot(staged)
    ch2 = t.changelog_scan()
    assert ch2.count() == 40
    pub = int(t.current_snapshot()["snapshot-id"])
    pub_rows = {
        r["o_orderkey"]
        for r in ch2.filter(
            F.col("_commit_snapshot_id") == pub
        ).collect()
    }
    assert pub_rows == {
        r["o_orderkey"]
        for r in orders.limit(40).subtract(orders.limit(30)).collect()
    }


def test_rollback_to_snapshot(spark, sf_dir, tmp_path):
    """rollback_to_snapshot: main's pointer moves back to an ancestor
    (metadata-only); the rolled-past snapshot stays time-travelable;
    non-ancestors refuse."""
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "rb"))
    t.create(orders.limit(100))
    md = t.metadata()
    first = t.current_snapshot(md)["snapshot-id"]
    t.append(orders.limit(40))
    md = t.metadata()
    second = t.current_snapshot(md)["snapshot-id"]
    assert t.snapshot().count() == 140
    t.rollback_to_snapshot(first)
    assert t.snapshot().count() == 100
    # the abandoned snapshot is still readable by id
    assert t.snapshot(snapshot_id=second).count() == 140
    # a new append builds on the rolled-back state
    t.append(orders.limit(7))
    assert t.snapshot().count() == 107
    # rolling back to the (now non-ancestor) abandoned head refuses
    with pytest.raises(IcebergProtocolError, match="not an ancestor"):
        t.rollback_to_snapshot(second)
    with pytest.raises(IcebergProtocolError, match="no snapshot"):
        t.rollback_to_snapshot(12345)


def test_metadata_tables_entries_and_all(spark, sf_dir, tmp_path):
    """The entry-level and cross-snapshot inspection tables: `entries`
    exposes per-manifest-entry status (incl. DELETED rows a live-files
    view hides), `all_data_files` enumerates files across every
    reachable snapshot (overwritten files included — the orphan-sweep
    input), `all_manifests` dedupes manifests across snapshots."""
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "allmeta"))
    t.create(orders.limit(80).repartition(2))
    t.overwrite(orders.limit(120).subtract(orders.limit(80)))
    cur = t.metadata_table("files")
    allf = t.metadata_table("all_data_files")
    # the overwritten v0 files are gone from `files` but reachable
    # through the v0 snapshot, so all_data_files keeps them
    assert allf.count() > cur.count()
    cur_paths = {r["file_path"] for r in cur.collect()}
    all_paths = {r["file_path"] for r in allf.collect()}
    assert cur_paths < all_paths
    entries = t.metadata_table("entries").collect()
    # this writer drops superseded manifests rather than tombstoning
    # (both are spec-valid), so a current snapshot carries only
    # ADDED(1)/EXISTING(0) entries — and entry count equals the
    # current live file count
    assert {e["status"] for e in entries} <= {0, 1}
    assert len(entries) == cur.count()
    assert all(e["record_count"] > 0 for e in entries)
    assert all(e["sequence_number"] >= 1 for e in entries)
    mans = t.metadata_table("all_manifests")
    assert mans.count() >= t.metadata_table("manifests").count()
    assert mans.count() == mans.select("path").distinct().count()


def test_snapshot_summary_totals(spark, sf_dir, tmp_path):
    """Spec summary totals (total-records / total-data-files /
    total-delete-files) derived from manifest-list entries at commit —
    the O(1) table-sizing input planners read without a manifest
    fold."""
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "totals"))
    t.create(orders.limit(60).repartition(2))
    t.append(orders.limit(100).subtract(orders.limit(60)))
    s = t.current_snapshot(t.metadata())["summary"]
    assert int(s["total-records"]) == 100
    files = t.metadata_table("files").count()
    assert int(s["total-data-files"]) == files
    assert int(s["total-delete-files"]) == 0
    t.delete_rows(F.col("o_orderkey") % 5 == 0)
    s2 = t.current_snapshot(t.metadata())["summary"]
    # data-file records are NOT delete-adjusted (Iceberg convention);
    # the delete shows up as delete files
    assert int(s2["total-records"]) == 100
    assert int(s2["total-delete-files"]) >= 1


def test_position_deletes_table(spark, sf_dir, tmp_path):
    """`t.position_deletes`: every (data file, pos) pair a live
    position delete covers — parquet delete files on a v2 table, DV
    blobs on a v3 table — each row naming its carrying delete file."""
    orders = _orders(spark, sf_dir)
    t = IcebergProtocolTable(spark, str(tmp_path / "pd"))
    t.create(orders.limit(100).repartition(2))
    empty = t.position_deletes()
    assert empty.count() == 0
    n_del = t.delete_rows(F.col("o_orderkey") % 4 == 0)
    pd_tbl = t.metadata_table("position_deletes")
    rows = pd_tbl.collect()
    deleted = orders.limit(100).filter(
        F.col("o_orderkey") % 4 == 0
    ).count()
    assert len(rows) == deleted
    assert all(r["pos"] >= 0 for r in rows)
    assert all(r["delete_file_path"] for r in rows)
    # the referenced data files are the table's own live files
    live = {
        r["file_path"] for r in t.metadata_table("files").collect()
    }
    assert {r["file_path"] for r in rows} <= live


def test_position_deletes_v3_dv(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(50)], "id long, s string"
    )
    t = IcebergProtocolTable(spark, str(tmp_path / "pdv3"))
    t.create(df)
    t.upgrade_format_version(3)
    t.delete_rows(F.col("id") < 10)
    rows = t.position_deletes().collect()
    assert len(rows) == 10
    assert all(
        r["delete_file_path"].endswith(".puffin") for r in rows
    )


def test_concurrent_plain_appends_both_survive(spark, tmp_path):
    """Two plain append() calls racing through the metadata CAS: the
    loser refolds on the winner's metadata, so BOTH snapshots land and
    no rows vanish (the stale-fold hazard: an append that read v N and
    committed at N+2 used to clobber whatever landed at N+1)."""
    import threading

    t = IcebergProtocolTable(spark, str(tmp_path / "cas"))
    t.create(
        spark.createDataFrame([(0, "base")], "id long, s string")
    )
    errs = []

    def appender(lo):
        try:
            df = spark.createDataFrame(
                [(i, f"w{lo}") for i in range(lo, lo + 50)],
                "id long, s string",
            )
            for chunk in range(2):
                t.append(df.filter(F.col("id") % 2 == chunk))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=appender, args=(lo,))
        for lo in (100, 200, 300)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errs, errs
    assert t.snapshot().count() == 1 + 3 * 50
    # every appended snapshot is in the log: 1 create + 6 appends
    assert len(t.metadata()["snapshots"]) == 7


def test_delete_append_race_is_loud_not_lossy(spark, tmp_path):
    """The pinned-CAS contract on read-modify-write paths: when a
    delete folds the file set and an append lands before the delete
    commits, the delete LOUD-FAILS retryably — and a retry on fresh
    metadata succeeds with nothing lost. (Silent clobbering would have
    vanished the appended rows.)"""
    t = IcebergProtocolTable(spark, str(tmp_path / "dr_race"))
    t.create(
        spark.createDataFrame(
            [(i, "x") for i in range(60)], "id long, s string"
        )
    )
    extra = spark.createDataFrame([(100, "y")], "id long, s string")

    # simulate the race: capture the delete's fold, commit an append
    # in the window, then let the delete commit
    orig = IcebergProtocolTable._advance_pinned
    raced = {"done": False}

    def advancing(self, op, *a, **kw):
        if op == "delete_rows" and not raced["done"]:
            raced["done"] = True
            t.append(extra)  # lands first: the delete's pin is stale
        return orig(self, op, *a, **kw)

    import pytest as _pt

    IcebergProtocolTable._advance_pinned = advancing
    try:
        with _pt.raises(
            IcebergProtocolError, match="concurrent commit race"
        ):
            t.delete_rows(F.col("id") < 10)
    finally:
        IcebergProtocolTable._advance_pinned = orig
    # nothing was lost; a retry on fresh metadata succeeds
    assert t.snapshot().count() == 61
    t.delete_rows(F.col("id") < 10)
    assert t.snapshot().count() == 51
    assert t.snapshot().filter(F.col("id") == 100).count() == 1


# ------------------------------------------------ one snapshot commit


def _unreferenced(t):
    """Files under the table that no snapshot reaches: data and delete
    files, manifests and manifest lists (plus anything left under a
    staging name)."""
    seen = set()
    for snap in t.snapshots():
        seen.add(t._resolve_path(snap["manifest-list"]))
        for m in t._manifest_files(snap):
            seen.add(t._resolve_path(m["manifest_path"]))
            for e in read_container(t._resolve_path(m["manifest_path"]))[1]:
                seen.add(t._resolve_path(e["data_file"]["file_path"]))
    on_disk = set()
    for dirpath, _dirs, files in os.walk(t.path):
        for fn in files:
            if fn.endswith((".metadata.json", "version-hint.text")):
                continue
            on_disk.add(os.path.join(dirpath, fn))
    return on_disk - seen


def test_spark_upsert_survives_flight_append_race(spark, tmp_path, monkeypatch):
    """A Spark upsert is a blind write: losing its commit to a Flight
    append_arrow refolds and retries, so both writes land, the retry is
    counted in the snapshot summary, and the lost attempt's manifests
    are gone."""
    import pyarrow as pa

    path = str(tmp_path / "race")
    t = IcebergProtocolTable(spark, path)
    t.create(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, v double"
        )
    )
    flight = IcebergProtocolTable(None, path)
    real = IcebergProtocolTable._advance
    raced = []

    def racing(self, *a, **kw):
        if self is t and not raced:
            raced.append(1)  # the Flight append lands first
            flight.append_arrow(
                pa.table({"id": [100, 101], "v": [1.0, 2.0]})
            )
        return real(self, *a, **kw)

    monkeypatch.setattr(IcebergProtocolTable, "_advance", racing)
    t.upsert(
        spark.createDataFrame([(1, 50.0), (2, 60.0)], "id long, v double"),
        ["id"],
    )
    monkeypatch.undo()
    got = {r["id"]: r["v"] for r in t.snapshot().collect()}
    assert len(got) == 12
    assert got[1] == 50.0 and got[2] == 60.0
    assert got[100] == 1.0 and got[101] == 2.0
    summary = t.current_snapshot()["summary"]
    assert summary["operation"] == "overwrite"
    assert summary["ffspark.commit-attempts"] == "2"
    assert summary["added-equality-delete-files"] == "1"
    assert _unreferenced(t) == set()


def test_update_spec_during_append_raises_and_cleans(
    spark, tmp_path, monkeypatch
):
    """Files written under spec 0 must not commit under a spec that
    landed while they were written: the append raises, removes them,
    and a retry partitions under the new spec."""
    path = str(tmp_path / "spec")
    t = IcebergProtocolTable(spark, path)
    rows = spark.createDataFrame(
        [(i, f"g{i % 2}") for i in range(6)], "id long, g string"
    )
    t.create(rows)
    real = IcebergProtocolTable._write_data_files

    def writing(self, *a, **kw):
        out = real(self, *a, **kw)
        IcebergProtocolTable(spark, path).update_spec(["g"])
        return out

    monkeypatch.setattr(IcebergProtocolTable, "_write_data_files", writing)
    with pytest.raises(IcebergProtocolError, match="spec change"):
        t.append(rows)
    monkeypatch.undo()
    assert _unreferenced(t) == set()
    assert t.snapshot().count() == 6
    t.append(rows)
    assert t.snapshot().count() == 12
    spec = int(t.metadata()["default-spec-id"])
    assert spec != 0
    assert int(t._manifest_files(t.current_snapshot())[-1][
        "partition_spec_id"
    ]) == spec


def _defaulted_v3(spark, path):
    """A v3 table of three rows, then a new column ``d`` whose
    ``initial-default`` 7 every existing file serves."""
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, s string"
    )
    t = IcebergProtocolTable(spark, path)
    t.create(df)
    t.upgrade_format_version(3)
    t.evolve_schema(
        T.StructType(
            df.schema.fields + [T.StructField("d", T.LongType())]
        ),
        defaults={"d": 7},
    )
    return t


def test_delete_rows_matches_initial_default(spark, tmp_path):
    """DELETE matches the rows snapshot() shows: a condition on a
    column served by its initial-default deletes every row, with no
    equality delete on the table."""
    t = _defaulted_v3(spark, str(tmp_path / "dflt"))
    assert [r["d"] for r in t.snapshot().collect()] == [7, 7, 7]
    assert t.delete_rows(F.col("d") == 7) != -1
    assert t.snapshot().count() == 0
    assert t.delete_rows(F.col("d") == 7) == -1  # nothing left to match


def test_changelog_delete_rows_carry_default(spark, tmp_path):
    """changelog_scan reads through the same scan as snapshot(): the
    delete row of a defaulted table carries the default, as do the
    inserts of files written before the column existed."""
    t = _defaulted_v3(spark, str(tmp_path / "cl"))
    t.delete_rows("k = 1")
    got = sorted(
        (r["k"], r["d"], r["_change_type"])
        for r in t.changelog_scan().collect()
    )
    assert got == [
        (1, 7, "delete"), (1, 7, "insert"), (2, 7, "insert"),
        (3, 7, "insert"),
    ]
