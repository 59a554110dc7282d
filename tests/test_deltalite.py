"""Delta tables (``DeltaProtocolTable``) through the surface the feature
store builds on: snapshots, time travel, copy-on-write MERGE (matched
files only), schema evolution, log-carried row counts and zone maps,
OPTIMIZE / Z-order, and the reference's CDF incremental contract
(enableChangeDataFeed gate + overwrite detection,
offline_store_spark_runner.py:1076-1136).

These behaviours were first specified against a home-grown log format
that the Delta protocol implementation replaced; the tests keep their
names."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from featureform_spark.sources.delta_protocol import (
    DeltaProtocolError,
    DeltaProtocolTable,
    incremental_records,
)

CDF = {"delta.enableChangeDataFeed": "true"}


def mk(spark, tmp_path, rows, cols, name="t", **kw):
    t = DeltaProtocolTable(spark, str(tmp_path / name))
    t.create(spark.createDataFrame(rows, cols), **kw)
    return t


def active_files(t, version=None):
    return set(t.state(version).adds)


def test_create_append_snapshot_and_time_travel(spark, tmp_path):
    t = mk(spark, tmp_path, [(1, "a"), (2, "b")], ["k", "v"])
    assert t.version() == 0
    assert t.row_count() == 2

    t.append(spark.createDataFrame([(3, "c")], ["k", "v"]))
    assert t.version() == 1
    assert {r["k"] for r in t.snapshot().collect()} == {1, 2, 3}
    # time travel to v0
    assert {r["k"] for r in t.snapshot(0).collect()} == {1, 2}
    assert t.row_count(0) == 2 and t.row_count() == 3


def test_overwrite_replaces_state(spark, tmp_path):
    t = mk(spark, tmp_path, [(1, "a")], ["k", "v"])
    t.append(spark.createDataFrame([(2, "b")], ["k", "v"]))
    t.overwrite(spark.createDataFrame([(9, "z")], ["k", "v"]))
    assert [r["k"] for r in t.snapshot().collect()] == [9]
    assert {r["k"] for r in t.snapshot(0).collect()} == {1}
    hist = t.history()
    assert [h["operation"] for h in hist] == [
        "WRITE", "WRITE", "CREATE TABLE AS SELECT"
    ]
    # delta-spark's WRITE mode, which the change feed's overwrite check reads
    assert [h["operationParameters"]["mode"] for h in hist[:2]] == [
        "Overwrite", "Append"
    ]


def test_create_modes(spark, tmp_path):
    """create() refuses an existing table and leaves it as it was;
    write_delta's ``mode`` chooses append, overwrite or refusal."""
    from featureform_spark.sources.writers import write_delta

    t = mk(spark, tmp_path, [(1, "a")], ["k", "v"])
    with pytest.raises(DeltaProtocolError, match="already exists"):
        t.create(spark.createDataFrame([(2, "b")], ["k", "v"]))
    assert t.row_count() == 1
    with pytest.raises(ValueError, match="already exists"):
        write_delta(
            spark.createDataFrame([(2, "b")], ["k", "v"]), t.path,
            mode="errorifexists",
        )
    assert write_delta(
        spark.createDataFrame([(3, "c")], ["k", "v"]), t.path,
        mode="overwrite",
    ) == 1
    assert [r["k"] for r in t.snapshot().collect()] == [3]


def test_merge_rewrites_only_matched_files(spark, tmp_path):
    """The scale contract: files without matched keys are carried by
    reference — their part files survive the MERGE untouched."""
    t = DeltaProtocolTable(spark, str(tmp_path / "m"))
    # 4 files with disjoint key ranges (one append each => >=4 files)
    t.create(spark.createDataFrame([(i, float(i)) for i in range(10)], ["k", "v"]))
    for lo in (10, 20, 30):
        t.append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo, lo + 10)], ["k", "v"]
            ).coalesce(1)
        )
    before_files = active_files(t)
    assert len(before_files) >= 4

    # merge touches only keys 30..34 → only the files holding 30..39
    src = spark.createDataFrame(
        [(k, 100.0 + k) for k in range(30, 35)] + [(99, 999.0)], ["k", "v"]
    )
    stats = t.merge(src, key="k")
    after_files = active_files(t)

    untouched = {f for f in before_files if f in after_files}
    # the three files holding keys 0..29 survive by name
    assert len(untouched) >= 3
    assert stats["files_rewritten"] < stats["files_total"]

    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert len(got) == 41
    assert got[30] == 130.0 and got[34] == 134.0   # updated
    assert got[35] == 35.0 and got[0] == 0.0       # untouched
    assert got[99] == 999.0                        # inserted


def test_merge_leaves_null_key_rows_untouched(spark, tmp_path):
    """NULL-key target rows colocated in rewritten files survive a
    MERGE on other keys (origin markers, not key nullness)."""
    t = DeltaProtocolTable(spark, str(tmp_path / "nk"))
    t.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (None, "keepme")], "k long, v string"
        ).coalesce(1)
    )
    t.merge(
        spark.createDataFrame([(2, "b2"), (7, "new")], "k long, v string"),
        key="k",
    )
    rows = sorted(
        ((r["k"], r["v"]) for r in t.snapshot().collect()),
        key=lambda x: (x[0] is None, x[0]),
    )
    assert rows == [(1, "a"), (2, "b2"), (7, "new"), (None, "keepme")]


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    """ALTER ADD COLUMNS analog (reference :719-731): a new source
    column appears on the table; pre-evolution rows read as NULL."""
    t = mk(spark, tmp_path, [(1, "a"), (2, "b")], ["entity", "f1"])
    t.merge(
        spark.createDataFrame([(2, 2.5), (3, 3.5)], ["entity", "f2"]),
        key="entity",
    )
    rows = {r["entity"]: (r["f1"], r["f2"]) for r in t.snapshot().collect()}
    assert rows[1] == ("a", None)      # untouched row, evolved column NULL
    assert rows[2] == ("b", 2.5)       # matched: f1 kept, f2 set
    assert rows[3] == (None, 3.5)      # inserted: f1 NULL


def test_merge_without_insert(spark, tmp_path):
    t = mk(spark, tmp_path, [(1, 1.0), (2, 2.0)], ["k", "v"])
    t.merge(
        spark.createDataFrame([(2, 20.0), (9, 90.0)], ["k", "v"]),
        key="k",
        insert=False,
    )
    got = {r["k"]: r["v"] for r in t.snapshot().collect()}
    assert got == {1: 1.0, 2: 20.0}


def test_change_feed_appends_and_merge(spark, tmp_path):
    t = mk(spark, tmp_path, [(1, 1.0)], ["k", "v"], properties=CDF)
    t.append(spark.createDataFrame([(2, 2.0)], ["k", "v"]))          # v1
    t.merge(spark.createDataFrame([(2, 20.0), (3, 3.0)], ["k", "v"]), key="k")  # v2

    # update preimages are not new records: only inserts + postimages
    feed = incremental_records(t, last_version=0)
    got = {(r["k"], r["_change_type"], r["_commit_version"]) for r in feed.collect()}
    assert got == {
        (2, "insert", 1),
        (2, "update_postimage", 2),
        (3, "insert", 2),
    }
    vals = {(r["k"], r["_change_type"]): r["v"] for r in feed.collect()}
    assert vals[(2, "update_postimage")] == 20.0


def test_incremental_contract_errors(spark, tmp_path):
    # CDF not enabled
    t = mk(spark, tmp_path, [(1, 1.0)], ["k", "v"], name="nocdf")
    t.append(spark.createDataFrame([(2, 2.0)], ["k", "v"]))
    with pytest.raises(DeltaProtocolError, match="enableChangeDataFeed"):
        incremental_records(t, 0)

    # overwrite since last run
    t2 = mk(
        spark, tmp_path, [(1, 1.0)], ["k", "v"], name="ow", properties=CDF,
    )
    t2.overwrite(spark.createDataFrame([(9, 9.0)], ["k", "v"]))
    with pytest.raises(DeltaProtocolError, match="overwritten"):
        incremental_records(t2, 0)
    # a range past the overwrite reads normally
    t2.append(spark.createDataFrame([(10, 10.0)], ["k", "v"]))
    assert [r["k"] for r in incremental_records(t2, 1).collect()] == [10]

    # no new commits: an empty range, not an error
    t3 = mk(
        spark, tmp_path, [(1, 1.0)], ["k", "v"], name="nonew", properties=CDF,
    )
    assert incremental_records(t3, 0).count() == 0


def test_row_count_is_log_fold_no_scan(spark, tmp_path):
    t = mk(spark, tmp_path, [(i,) for i in range(100)], ["k"])
    t.append(spark.createDataFrame([(i,) for i in range(100, 150)], ["k"]))
    # deletion vectors subtract their cardinality
    t.delete_where("k < 10")
    files = [t._abs_data_path(p) for p in active_files(t)]
    # hide the data files: the count must still answer from the log
    for f in files:
        os.rename(f, f + ".hidden")
    try:
        assert t.row_count() == 140
        assert t.row_count(1) == 150
    finally:
        for f in files:
            os.rename(f + ".hidden", f)


def test_schema_read_of_pre_evolution_files(spark, tmp_path):
    """ADD COLUMNS then an append carrying the new column: files
    written before the evolution read NULL for it."""
    t = mk(spark, tmp_path, [(1, "a")], ["k", "v"])
    t.add_columns(T.StructType([T.StructField("w", T.DoubleType())]))
    t.append(spark.createDataFrame([(2, "b", 5.0)], ["k", "v", "w"]))
    got = {r["k"]: r["w"] for r in t.snapshot().collect()}
    assert got == {1: None, 2: 5.0}
    assert [f.name for f in t.state().schema.fields] == ["k", "v", "w"]


def test_deltalite_incremental_transformation(spark, tmp_path):
    from featureform_spark.streaming.incremental import (
        DeltaIncrementalTransformation,
    )

    src = mk(
        spark, tmp_path, [(1, 10.0), (2, 20.0)], ["k", "v"], name="itsrc",
        properties=CDF,
    )
    inc = DeltaIncrementalTransformation(
        src, str(tmp_path / "itwork"),
        lambda df: df.select("k", (F.col("v") * 2).alias("v2")),
    )
    assert inc.refresh() == 2   # first run: the create commit
    assert {(r["k"], r["v2"]) for r in inc.output().collect()} == {(1, 20.0), (2, 40.0)}

    assert inc.refresh() == 0   # caught up: no-op

    src.append(spark.createDataFrame([(3, 30.0)], ["k", "v"]))
    assert inc.refresh() == 1   # only the new row processed
    assert {(r["k"], r["v2"]) for r in inc.output().collect()} == {
        (1, 20.0), (2, 40.0), (3, 60.0)
    }


def test_append_retries_past_concurrent_commit(spark, tmp_path):
    """Losing the version-slot race retargets the append at the new log
    tail instead of failing (blind appends conflict with nothing)."""
    t = mk(spark, tmp_path, [(1, "a")], ["k", "v"])
    orig_write = t._write_files

    def write_then_get_raced(*args, **kwargs):
        adds = orig_write(*args, **kwargs)
        if not getattr(t, "_raced", False):  # thief commits v1 mid-flight
            t._raced = True
            t._commit(1, [], "WRITE")
        return adds

    t._write_files = write_then_get_raced
    v = t.append(spark.createDataFrame([(9, "z")], ["k", "v"]))
    assert v == 2                                # targeted v1, lost, retried
    assert {r["k"] for r in t.snapshot().collect()} == {1, 9}


def test_optimize_compacts_without_logical_change(spark, tmp_path):
    t = mk(spark, tmp_path, [(1, 1.0)], ["k", "v"], properties=CDF)
    for i in range(2, 7):
        t.append(spark.createDataFrame([(i, float(i))], ["k", "v"]).coalesce(1))
    before = {r["k"]: r["v"] for r in t.snapshot().collect()}
    n_before = len(active_files(t))
    assert n_before >= 6

    v = t.compact(target_rows_per_file=1000)
    assert len(active_files(t)) < n_before
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == before
    assert t.row_count() == 6

    # physical-only: no change-feed rows, not an overwrite for incrementals
    assert incremental_records(t, last_version=v - 1).count() == 0
    assert [h["operation"] for h in t.history()][0] == "OPTIMIZE"


def test_vacuum_deletes_unreferenced_and_guards_time_travel(spark, tmp_path):
    t = mk(spark, tmp_path, [(1, "a"), (2, "b")], ["k", "v"])
    t.overwrite(spark.createDataFrame([(9, "z")], ["k", "v"]))

    v0_files = active_files(t, 0)
    assert all(os.path.exists(t._abs_data_path(p)) for p in v0_files)

    stats = t.vacuum(retain_versions=0)
    assert stats["deleted"] == len(v0_files)
    assert not any(os.path.exists(t._abs_data_path(p)) for p in v0_files)
    assert [r["k"] for r in t.snapshot().collect()] == [9]  # current intact

    with pytest.raises(Exception, match="(?i)not exist|FileNotFound|PATH_NOT_FOUND"):
        t.snapshot(0).collect()  # time travel below the horizon fails


def test_zone_map_pruned_snapshot(spark, tmp_path):
    """Pruned read plans from the log: disjoint-range files are skipped
    without opening footers; results equal the unpruned filter."""
    t = DeltaProtocolTable(spark, str(tmp_path / "zm"))
    t.create(spark.createDataFrame(
        [(i, f"r{i}") for i in range(0, 100)], ["k", "v"]).coalesce(1))
    for lo in (100, 200, 300):
        t.append(spark.createDataFrame(
            [(i, f"r{i}") for i in range(lo, lo + 100)], ["k", "v"]).coalesce(1))
    assert len(active_files(t)) == 4

    got = t.snapshot_pruned("k", 150, 250)
    expect = t.snapshot().filter((F.col("k") >= 150) & (F.col("k") <= 250))
    assert {r["k"] for r in got.collect()} == {r["k"] for r in expect.collect()}
    assert t._last_prune == {"files_total": 4, "files_read": 2}

    # one-file and fully-out-of-range prunes
    t.snapshot_pruned("k", 350, 10**9)
    assert t._last_prune["files_read"] == 1
    assert t.snapshot_pruned("k", 1000, 2000).count() == 0
    assert t._last_prune["files_read"] == 0

    # string column zone maps work too (lexicographic)
    got_s = t.snapshot_pruned("v", "r100", "r199")
    assert got_s.count() == spark.createDataFrame(
        [(f"r{i}",) for i in range(0, 400)], ["v"]
    ).filter((F.col("v") >= "r100") & (F.col("v") <= "r199")).count()


def test_zone_maps_survive_merge_and_optimize(spark, tmp_path):
    import json

    t = DeltaProtocolTable(spark, str(tmp_path / "zm2"))
    t.create(spark.createDataFrame(
        [(i, float(i)) for i in range(10)], ["k", "v"]).coalesce(1))
    t.append(spark.createDataFrame(
        [(i, float(i)) for i in range(100, 110)], ["k", "v"]).coalesce(1))
    t.merge(spark.createDataFrame([(5, 55.0)], ["k", "v"]), key="k")
    t.compact(target_rows_per_file=1000)
    for a in t.state().adds.values():
        assert "k" in json.loads(a["stats"])["minValues"]
    got = t.snapshot_pruned("k", 0, 10)
    assert {r["v"] for r in got.filter(F.col("k") == 5).collect()} == {55.0}


def test_incremental_sql_transformation(spark, tmp_path):
    """ff.incremental semantics (SQLTransformation proto is_incremental +
    incremental_source): the incremental ref binds only NEW rows per
    refresh; the dimension ref binds its full snapshot every time."""
    from featureform_spark.streaming.incremental import IncrementalSQLTransformation

    ev = mk(
        spark, tmp_path, [(1, "click", 10.0), (2, "view", 20.0)],
        ["user_id", "etype", "value"], name="ev", properties=CDF,
    )
    dim = spark.createDataFrame(
        [("click", 2.0), ("view", 3.0)], ["etype", "weight"]
    )

    inc = IncrementalSQLTransformation(
        spark,
        """SELECT e.user_id, e.value * d.weight AS score
           FROM {{ev}} e JOIN {{dim}} d ON e.etype = d.etype""",
        sources={"ev": ev, "dim": dim},
        incremental=["ev"],
        work_dir=str(tmp_path / "inc_sql"),
    )
    assert inc.refresh() == 2
    assert {(r["user_id"], r["score"]) for r in inc.output().collect()} == {
        (1, 20.0), (2, 60.0)
    }
    assert inc.refresh() == 0                    # caught up

    ev.append(spark.createDataFrame([(3, "click", 5.0)], ["user_id", "etype", "value"]))
    assert inc.refresh() == 1                    # only the new row joined
    assert {(r["user_id"], r["score"]) for r in inc.output().collect()} == {
        (1, 20.0), (2, 60.0), (3, 10.0)
    }


def test_incremental_sql_transformation_validation(spark, tmp_path):
    from featureform_spark.streaming.incremental import IncrementalSQLTransformation

    ev = mk(spark, tmp_path, [(1, 1.0)], ["k", "v"], name="vev")
    df = spark.createDataFrame([(1, 1.0)], ["k", "v"])
    with pytest.raises(ValueError, match="without sources"):
        IncrementalSQLTransformation(
            spark, "SELECT * FROM {{missing}}", {"ev": ev}, ["ev"],
            str(tmp_path / "w1"),
        )
    with pytest.raises(ValueError, match="not in template"):
        IncrementalSQLTransformation(
            spark, "SELECT * FROM {{ev}}", {"ev": ev, "x": df}, ["x"],
            str(tmp_path / "w2"),
        )
    with pytest.raises(TypeError, match="change feed"):
        IncrementalSQLTransformation(
            spark, "SELECT * FROM {{plain}}", {"plain": df}, ["plain"],
            str(tmp_path / "w3"),
        )


def test_deltalite_location_dispatch(spark, tmp_path):
    from featureform_spark.registry import DeltaPathLocation
    from featureform_spark.sources.readers import read_location
    from featureform_spark.sources.writers import write_delta

    path = str(tmp_path / "loc")
    assert write_delta(spark.createDataFrame([(1, "a")], ["k", "v"]), path) == 0
    assert write_delta(spark.createDataFrame([(2, "b")], ["k", "v"]), path) == 1

    df = read_location(spark, DeltaPathLocation(path=path))
    assert {r["k"] for r in df.collect()} == {1, 2}
    v0 = read_location(spark, DeltaPathLocation(path=path, version=0))
    assert {r["k"] for r in v0.collect()} == {1}
    # dict-shaped location (driver/registry serialization path)
    d = read_location(spark, {"kind": "delta", "path": path})
    assert d.count() == 2


def test_zorder_reclusters_for_multi_column_pruning(spark, tmp_path):
    """Before zorder: files are tight on x only (append order), so a
    y-filter reads everything. After OPTIMIZE ZORDER BY (x, y): files
    cover z-curve octants, so single-column filters on EITHER column
    prune."""
    t = DeltaProtocolTable(spark, str(tmp_path / "zo"))
    # 8 x-sorted files: x tight per file, y spans full range everywhere
    rows = [(x, y) for x in range(64) for y in range(64)]
    t.create(spark.createDataFrame(rows[:512], ["x", "y"]).coalesce(1))
    for i in range(1, 8):
        t.append(
            spark.createDataFrame(rows[512 * i : 512 * (i + 1)], ["x", "y"])
            .coalesce(1)
        )
    before_rows = sorted((r["x"], r["y"]) for r in t.snapshot().collect())

    t.snapshot_pruned("y", 0, 7).count()
    assert t._last_prune["files_read"] == 8  # y-prune useless

    v = t.compact(target_rows_per_file=512, zorder_by=["x", "y"])
    assert len(active_files(t)) >= 4

    # row set byte-identical
    after_rows = sorted((r["x"], r["y"]) for r in t.snapshot().collect())
    assert after_rows == before_rows
    # change feed silent for the physical-only commit
    assert t.table_changes(v - 1).count() == 0

    got = t.snapshot_pruned("y", 0, 7)
    assert sorted((r["x"], r["y"]) for r in got.collect()) == sorted(
        (x, y) for x in range(64) for y in range(8)
    )
    y_prune = t._last_prune
    assert y_prune["files_read"] < y_prune["files_total"]

    t.snapshot_pruned("x", 0, 7).count()
    x_prune = t._last_prune
    assert x_prune["files_read"] < x_prune["files_total"]


def test_zorder_partition_keys_match_spark_hash(spark):
    """The analytic z-slice router picks partition keys driver-side
    with a reimplementation of Spark's Murmur3 long hash; pin both the
    hash values and the bijection (slot j's key must land in physical
    partition j under repartition(n, key)) against Spark itself."""
    from featureform_spark.sources.zorder import (
        _murmur3_hash_long,
        _partition_bijection_keys,
    )

    vals = [0, 1, 7, 42, 2**31, 2**33 + 5, 999999999999]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v long")
        .select("v", F.hash("v").alias("h"))
        .collect()
    )
    for r in rows:
        assert _murmur3_hash_long(r["v"]) == r["h"]
    for n in (1, 2, 5, 12, 31):
        keys = _partition_bijection_keys(n)
        slots = (
            spark.createDataFrame([(k,) for k in keys], "k long")
            .select(F.pmod(F.hash("k"), F.lit(n)).alias("s"))
            .collect()
        )
        assert [r["s"] for r in slots] == list(range(n))
        # end-to-end: each key owns exactly one partition
        df = spark.createDataFrame(
            [(k, i) for k in keys for i in range(3)], "k long, i int"
        ).repartition(n, "k")
        per = (
            df.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.countDistinct("k").alias("nk"))
            .collect()
        )
        assert len(per) == n and all(r["nk"] == 1 for r in per)


def test_zorder_large_nout_broadcast_mapping(spark):
    """n_out > 256 routes the slice->key mapping through a broadcast
    LocalRelation join instead of a giant array literal; rows are
    preserved and each partition holds at most one z-slice."""
    from featureform_spark.sources.zorder import zorder_cluster

    df = spark.range(2000).selectExpr(
        "id as x", "(id * 37) % 2000 as y"
    )
    out = zorder_cluster(df, ["x", "y"], 300)
    assert sorted(
        (r["x"], r["y"]) for r in out.select("x", "y").collect()
    ) == sorted((i, (i * 37) % 2000) for i in range(2000))
    assert out.rdd.getNumPartitions() == 300
    per = (
        out.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.countDistinct("__zsid").alias("ns"))
        .collect()
    )
    assert all(r["ns"] == 1 for r in per)


def test_zorder_wide_key_stays_analytic(spark):
    """r13 (r12 verdict #2): 7-8 z-columns previously overflowed the
    52-bit slice arithmetic and silently fell back to
    repartitionByRange — whose range-bounds SAMPLING pass re-executes
    the whole scan + z-kernel — on exactly the widest inputs.
    bits_per_col now adapts downward so the analytic one-pass path
    holds; the plan must carry no RangePartitioning/sampling subtree
    and rows are preserved."""
    from featureform_spark.sources.zorder import zorder_cluster

    cols = [f"c{i}" for i in range(8)]
    df = spark.range(500).selectExpr(
        *[f"(id * {3 + i}) % 97 as c{i}" for i in range(8)]
    )
    out = zorder_cluster(df, cols, 12)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    assert out.count() == 500
    # every row keeps its column tuple (clustering is layout-only)
    assert sorted(
        tuple(r[c] for c in cols) for r in out.select(*cols).collect()
    ) == sorted(
        tuple((i * (3 + j)) % 97 for j in range(8)) for i in range(500)
    )


def test_zorder_validation_and_nulls(spark, tmp_path):
    t = DeltaProtocolTable(spark, str(tmp_path / "zv"))
    t.create(
        spark.createDataFrame(
            [(1, "a", None), (2, "b", 5), (None, "c", 6)],
            "x int, s string, y int",
        )
    )
    with pytest.raises(DeltaProtocolError, match="numeric"):
        t.compact(zorder_by=["s"])
    with pytest.raises(DeltaProtocolError, match="unknown"):
        t.compact(zorder_by=["nope"])
    t.compact(target_rows_per_file=10, zorder_by=["x", "y"])
    got = sorted(
        ((r["x"], r["s"], r["y"]) for r in t.snapshot().collect()), key=str
    )
    assert len(got) == 3  # nulls survive re-clustering


# ------------------------------------------------ r12: DELETE + replace


def test_delete_where_cow_matched_files_only(spark, tmp_path):
    """DELETE touches only the files holding matching rows (a deletion
    vector each); the other files are carried by reference."""
    t = DeltaProtocolTable(spark, str(tmp_path / "dw"))
    t.create(
        spark.createDataFrame(
            [(i, i % 3) for i in range(30)], "id long, g long"
        ).repartition(3, "g"),
        properties=CDF,
    )
    files_before = active_files(t)
    out = t.delete_where("id >= 20 AND g = 0")
    assert out["rows_deleted"] == sum(
        1 for i in range(20, 30) if i % 3 == 0
    )
    assert 0 < out["files_touched"] < len(files_before)
    assert t.snapshot().count() == 30 - out["rows_deleted"]
    # survivors colocated in touched files are intact
    assert t.snapshot().filter("id < 20 AND g = 0").count() == 7
    # the change feed carries the deleted rows ...
    feed = t.table_changes(out["version"] - 1).collect()
    assert {r["_change_type"] for r in feed} == {"delete"}
    assert {r["id"] for r in feed} == {21, 24, 27}
    # ... which are not incremental records
    assert incremental_records(t, out["version"] - 1).count() == 0
    # time travel still serves the pre-delete rows
    assert t.snapshot(version=out["version"] - 1).count() == 30

    # a predicate matching nothing deletes nothing
    noop = t.delete_where("id = 99999")
    assert noop["rows_deleted"] == 0 and noop["files_touched"] == 0
    assert t.row_count() == 30 - out["rows_deleted"]


def test_overwrite_properties_ride_the_commit(spark, tmp_path):
    t = DeltaProtocolTable(spark, str(tmp_path / "op"))
    t.create(
        spark.createDataFrame([(1,)], "x long"),
        properties={"scheme": "a", "keep": "yes"},
    )
    v = t.overwrite(
        spark.createDataFrame([(2,)], "x long"),
        properties={"scheme": "b"},
    )
    props = t.properties()
    assert props["scheme"] == "b"  # updated atomically with the rows
    assert props["keep"] == "yes"  # untouched keys fold through
    assert [r["x"] for r in t.snapshot().collect()] == [2]
    # one commit: the old rows read under the old scheme
    assert v == 1
    assert t.state(0).metadata["configuration"]["scheme"] == "a"
