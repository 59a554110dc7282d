"""The staged-write layer shared by the Delta and Iceberg writers
(featureform_spark/sources/staged_write.py): the per-session
reference-counted TIMESTAMP_MICROS pin, the staging lifecycle, and the
footer fold every format encodes its statistics from."""

import datetime
import os
import pathlib
import re
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from featureform_spark.sources import staged_write
from featureform_spark.sources.delta_protocol import DeltaProtocolTable
from featureform_spark.sources.iceberg_protocol import IcebergProtocolTable
from featureform_spark.sources.staged_write import STAGING_DIR, micros_timestamps

TS = "spark.sql.parquet.outputTimestampType"
PKG = pathlib.Path(__file__).resolve().parents[1] / "featureform_spark"


class _FakeConf:
    def __init__(self, **kv):
        self.kv = dict(kv)

    def get(self, key, default):
        return self.kv.get(key, default)

    def set(self, key, value):
        self.kv[key] = value

    def unset(self, key):
        self.kv.pop(key, None)


class _FakeSession:
    def __init__(self, **kv):
        self.conf = _FakeConf(**kv)


@pytest.mark.parametrize("prior", [None, "TIMESTAMP_MILLIS"])
def test_pin_is_reference_counted(prior):
    s = _FakeSession(**({TS: prior} if prior else {}))
    first, second = micros_timestamps(s), micros_timestamps(s)
    first.__enter__()
    second.__enter__()
    first.__exit__(None, None, None)
    assert s.conf.kv[TS] == "TIMESTAMP_MICROS"  # second writer still in
    second.__exit__(None, None, None)
    assert s.conf.kv.get(TS) == prior  # restored, or unset again
    assert s not in staged_write._pins


def test_pin_holds_under_thread_stress():
    """More threads than cores pin and release one session with a
    shortened switch interval: every holder sees micros, and the prior
    value is back once the last one leaves."""
    s = _FakeSession(**{TS: "INT96"})
    bad = []

    def work():
        for _ in range(300):
            with micros_timestamps(s):
                if s.conf.kv.get(TS) != "TIMESTAMP_MICROS":
                    bad.append(s.conf.kv.get(TS))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert bad == []
    assert s.conf.kv[TS] == "INT96"
    assert s not in staged_write._pins


def test_one_copy_of_the_staged_write():
    """No library module outside staged_write.py touches the parquet
    timestamp conf or defines its own staging directory."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        if p.name == "staged_write.py":
            continue
        src = p.read_text()
        if "outputTimestampType" in src:
            offenders.append(f"{p.name}: outputTimestampType")
        if re.search(r"^\s*STAGING_DIR\s*=", src, re.M):
            offenders.append(f"{p.name}: STAGING_DIR defined")
    assert offenders == []


def _no_staging_left(root):
    staging = os.path.join(root, STAGING_DIR)
    return not os.path.isdir(staging) or os.listdir(staging) == []


def _ts_chunks(root):
    """(file, arrow type, physical type, has_min_max) of every ``ts``
    column chunk in every parquet file under ``root``."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            path = os.path.join(dirpath, fn)
            md = pq.read_metadata(path)
            arrow = md.schema.to_arrow_schema()
            if "ts" not in arrow.names:
                continue
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == "ts":
                        st = c.statistics
                        out.append((
                            fn, arrow.field("ts").type, c.physical_type,
                            st is not None and st.has_min_max,
                        ))
    return out


def _assert_micros_with_stats(root):
    chunks = _ts_chunks(root)
    assert chunks
    for fn, typ, phys, has_stats in chunks:
        assert phys == "INT64" and typ.unit == "us" and has_stats, (
            fn, typ, phys, has_stats,
        )


def _ts_rows(spark, lo, hi):
    return spark.createDataFrame(
        [(k, datetime.datetime(2024, 1, 1, k % 24), float(k))
         for k in range(lo, hi)],
        "k long, ts timestamp, v double",
    )


@pytest.mark.parametrize(
    "dtype,vals",
    [
        ("decimal(5,2)", ["1.25", "-3.10", "999.99"]),  # INT32-backed
        ("decimal(12,2)", ["10.50", "-7.01", "1234567890.12"]),  # INT64
        ("decimal(20,2)", ["0.01", "-5.55", "123456789012345678.90"]),
    ],
)
@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_decimal_round_trip(spark, tmp_path, fmt, dtype, vals):
    """pyarrow cannot cast INT32/INT64-backed decimal statistics; the
    column is left without bounds instead of failing the write."""
    vals = [Decimal(v) for v in vals]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], f"k long, d {dtype}"
    )
    root = str(tmp_path / fmt)
    cls = DeltaProtocolTable if fmt == "delta" else IcebergProtocolTable
    t = cls(spark, root)
    t.create(df)
    assert sorted(r["d"] for r in t.snapshot().collect()) == sorted(vals)
    assert _no_staging_left(root)


def test_iceberg_binary_bounds(spark, tmp_path):
    """Binary values that happen to be UTF-8 fold to str bounds; the
    Iceberg encoder turns them back into bytes."""
    t = IcebergProtocolTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame([(1, b"ab"), (2, b"cd")], "k long, b binary")
        .coalesce(1)
    )
    (entry,) = t._live_entries(t.current_snapshot(t.metadata()))[0]
    fid = {f["name"]: f["id"] for f in t.schema()["fields"]}["b"]
    bound = {
        key: {x["key"]: bytes(x["value"]) for x in entry["data_file"][key]}
        for key in ("lower_bounds", "upper_bounds")
    }
    assert bound["lower_bounds"][fid] == b"ab"
    assert bound["upper_bounds"][fid] == b"cd"


def test_all_null_row_group_keeps_null_count_and_bounds(tmp_path):
    """A row group whose column is all NULL has statistics with a null
    count but no min/max: its NULLs still count, and the bounds come
    from the row groups that have them."""
    import json

    import pyarrow as pa

    from featureform_spark.sources.delta_protocol import _delta_stats

    tbl = pa.table({"k": [1, 2, 3, 4], "s": ["a", "b", None, None]})
    rec = staged_write.write_arrow(
        tbl.to_batches(max_chunksize=2), str(tmp_path / "f.parquet")
    )
    assert pq.read_metadata(rec.path).num_row_groups == 2
    stats = json.loads(_delta_stats(rec))
    assert stats["nullCount"] == {"k": 0, "s": 2}
    assert (stats["minValues"]["s"], stats["maxValues"]["s"]) == ("a", "b")


@pytest.mark.parametrize(
    "write", ["data", "cdc", "position_delete", "equality_delete"]
)
def test_every_file_writes_int64_timestamps(spark, tmp_path, write):
    """Data, change-data and delete files all carry INT64 micros with
    min/max: INT96 has no statistics, and the Iceberg spec requires
    INT64 timestamps."""
    root = str(tmp_path / write)
    if write in ("data", "cdc"):
        t = DeltaProtocolTable(spark, root)
        t.create(
            _ts_rows(spark, 0, 40),
            properties={"delta.enableChangeDataFeed": "true"},
        )
        if write == "cdc":
            t.delete_where(F.col("k") < 10)
            assert os.listdir(os.path.join(root, "_change_data"))
    else:
        t = IcebergProtocolTable(spark, root)
        t.create(_ts_rows(spark, 0, 40))
        if write == "position_delete":
            assert t.delete_rows(F.col("k") < 10) > 0
        else:
            keys = _ts_rows(spark, 0, 10).select("k", "ts")
            assert t.delete_by_keys(keys, ["k", "ts"]) > 0
            assert any(
                f.endswith("-eq-deletes.parquet")
                for f in os.listdir(os.path.join(root, "data"))
            )
        assert t.snapshot().count() == 30
    _assert_micros_with_stats(root)


def test_concurrent_writers_share_one_pin(spark, tmp_path):
    """Two Iceberg creates and an upsert keyed on a timestamp, all at
    once: every data and delete file is INT64 micros with stats, and
    the session's own setting survives."""
    roots = [str(tmp_path / n) for n in ("a", "b", "u")]
    spark.conf.set(TS, "TIMESTAMP_MILLIS")
    try:
        target = IcebergProtocolTable(spark, roots[2])
        target.create(_ts_rows(spark, 0, 30))
        upd = _ts_rows(spark, 20, 40).withColumn("v", F.col("v") + 1)
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(
                    IcebergProtocolTable(spark, roots[0]).create,
                    _ts_rows(spark, 0, 50),
                ),
                pool.submit(
                    IcebergProtocolTable(spark, roots[1]).create,
                    _ts_rows(spark, 50, 90),
                ),
                pool.submit(target.upsert, upd, ["k", "ts"]),
            ]
            for f in futures:
                f.result(timeout=300)
        assert spark.conf.get(TS) == "TIMESTAMP_MILLIS"
    finally:
        spark.conf.unset(TS)
    for root in roots:
        _assert_micros_with_stats(root)
    assert any(
        f.endswith("-eq-deletes.parquet")
        for f in os.listdir(os.path.join(roots[2], "data"))
    )
    got = {r["k"]: r["v"] for r in target.snapshot().collect()}
    assert len(got) == 40 and got[25] == 26.0 and got[5] == 5.0


@pytest.mark.parametrize("failure", ["spark_job", "footer_fold"])
def test_failed_write_cleans_up(spark, tmp_path, monkeypatch, failure):
    """A write that fails in its Spark job or in the footer fold leaves
    no staging output, moves no file into the table, and restores the
    session's timestamp setting."""
    df = _ts_rows(spark, 0, 20)
    if failure == "spark_job":
        @F.udf("double")
        def boom(v):
            raise ValueError("boom")

        # one task: no sibling task outlives the aborted job
        df = df.coalesce(1).withColumn("v", boom("v"))
        expected = Exception
    else:
        def fold_fails(path):
            raise RuntimeError("fold failed")

        monkeypatch.setattr(staged_write, "fold_footer", fold_fails)
        expected = RuntimeError
    root = str(tmp_path / "t")
    spark.conf.set(TS, "TIMESTAMP_MILLIS")
    try:
        with pytest.raises(expected):
            IcebergProtocolTable(spark, root).create(df)
        assert spark.conf.get(TS) == "TIMESTAMP_MILLIS"
    finally:
        spark.conf.unset(TS)
    assert _no_staging_left(root)
    assert not [
        fn for _d, _s, files in os.walk(root) for fn in files
        if fn.endswith(".parquet")
    ]
