"""Source/sink layer: versioned writes, newest-dir resolution, CSV
roundtrip, wide feature-table upsert, Arrow streamer, row appends."""

import time

import pytest

import pyarrow as pa

from featureform_spark.sources.feature_table import WideFeatureTable
from featureform_spark.sources.readers import read_file, read_location
from featureform_spark.sources.writers import latest_version_dir, write_versioned
from featureform_spark.registry import FileLocation
from featureform_spark.serving.streamer import append_rows, arrow_batches, serve_arrow


def small_df(spark, tag):
    return spark.createDataFrame([(1, tag), (2, tag)], "id long, tag string")


def test_unknown_location_kind_is_a_clear_error(spark):
    """A persisted location dict naming a kind this build does not know
    (e.g. the retired ``deltalite``) fails with the known kinds listed,
    not a bare KeyError."""
    with pytest.raises(ValueError, match="unknown location kind 'deltalite'") as e:
        read_location(spark, {"kind": "deltalite", "path": "/nowhere"})
    assert "'delta'" in str(e.value) and "'iceberg'" in str(e.value)


def test_versioned_write_and_newest_resolution(spark, tmp_path):
    out = str(tmp_path / "table")
    v1 = write_versioned(small_df(spark, "v1"), out)
    time.sleep(0.002)
    v2 = write_versioned(small_df(spark, "v2"), out)
    assert v1 != v2
    assert latest_version_dir(out) == v2
    df = read_location(spark, FileLocation(path=out))
    assert {r["tag"] for r in df.collect()} == {"v2"}


def test_csv_roundtrip(spark, tmp_path):
    out = str(tmp_path / "csv_table")
    write_versioned(small_df(spark, "x"), out, file_format="csv")
    df = read_file(spark, latest_version_dir(out), "csv")
    assert df.count() == 2 and set(df.columns) == {"id", "tag"}


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    out = str(tmp_path / "orc_table")
    write_versioned(small_df(spark, "x"), out, file_format="orc")
    df = read_file(spark, latest_version_dir(out), "orc")
    assert df.count() == 2 and set(df.columns) == {"id", "tag"}
    # ORC goes through the same vectorized scan: filters reach the reader
    plan = (
        df.filter(df.id == 1).select("id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,1)]" in plan


def test_wide_feature_table_merge_semantics(spark, tmp_path):
    ft = WideFeatureTable(spark, str(tmp_path / "wide"))
    m1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "entity string, value double")
    snap = ft.upsert_feature("f1", m1)
    assert {(r["entity"], r["f1"]) for r in snap.collect()} == {("a", 1.0), ("b", 2.0)}

    # schema evolution: new feature column; entity c inserted
    m2 = spark.createDataFrame([("a", 10.0), ("c", 30.0)], "entity string, value double")
    snap = ft.upsert_feature("f2", m2)
    rows = {r["entity"]: (r["f1"], r["f2"]) for r in snap.collect()}
    assert rows["a"] == (1.0, 10.0)
    assert rows["b"] == (2.0, None)
    assert rows["c"] == (None, 30.0)

    # matched update: f1 for b changes, a keeps old f1 (absent from mat)
    m3 = spark.createDataFrame([("b", 20.0)], "entity string, value double")
    snap = ft.upsert_feature("f1", m3)
    rows = {r["entity"]: r["f1"] for r in snap.collect()}
    assert rows["b"] == 20.0 and rows["a"] == 1.0


def test_arrow_streamer(spark):
    df = spark.range(100_000).selectExpr("id", "id * 2 AS dbl")
    table = serve_arrow(df, limit=10_000)
    assert isinstance(table, pa.Table) and table.num_rows == 10_000
    batches = list(arrow_batches(df, batch_rows=1024, limit=5_000))
    assert sum(b.num_rows for b in batches) == 5_000
    assert all(b.num_rows <= 1024 for b in batches)


def test_append_rows(spark, tmp_path):
    path = str(tmp_path / "primary")
    append_rows(spark, path, [(1, "x")], "id long, v string")
    append_rows(spark, path, [(2, "y")], "id long, v string")
    df = spark.read.parquet(path)
    assert {r["id"] for r in df.collect()} == {1, 2}


def test_jdbc_location_gated_with_clear_error(spark):
    from featureform_spark.registry import JDBCLocation, _LOCATION_KINDS
    from featureform_spark.sources.readers import read_jdbc, _from_dict

    loc = JDBCLocation(url="jdbc:postgresql://db:5432/x", table="features")
    with pytest.raises(RuntimeError, match="JDBC driver jar"):
        read_jdbc(spark, loc)
    # dict round-trip through the location registry
    assert _from_dict(
        {"kind": "jdbc", "url": loc.url, "table": loc.table}
    ) == loc
    assert _LOCATION_KINDS["jdbc"] is JDBCLocation
