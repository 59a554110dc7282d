"""Delta log checkpoints: the ``delta.checkpointInterval`` cadence,
checkpoint+tail fold parity, log retention (``clean_log``) and the
SetTransaction watermark across both."""

import pytest

from featureform_spark.sources.delta_protocol import (
    DeltaProtocolError,
    DeltaProtocolTable,
)


def _mk(spark, path, n_appends=12, interval=5):
    t = DeltaProtocolTable(spark, str(path))
    df0 = spark.createDataFrame([(0, "seed")], "id long, v string")
    t.create(df0, properties={"delta.checkpointInterval": str(interval)})
    for i in range(1, n_appends + 1):
        t.append(spark.createDataFrame([(i, f"r{i}")], "id long, v string"))
    return t


def test_auto_checkpoint_cadence(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n_appends=12, interval=5)
    assert t._checkpoint_versions() == [5, 10]


def test_checkpoint_fold_matches_full_fold(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n_appends=12, interval=5)
    # state via checkpoint+tail
    assert t.row_count() == 13
    assert {r.id for r in t.snapshot().collect()} == set(range(13))
    # time travel below the newest checkpoint still works (older
    # checkpoint or full fold)
    assert t.row_count(3) == 4
    assert {r.id for r in t.snapshot(7).collect()} == set(range(8))


def test_reads_do_not_touch_pre_checkpoint_commits(spark, tmp_path):
    """The point of checkpointing: after clean_log removes old commit
    JSONs, latest-state reads still work from checkpoint + tail."""
    t = _mk(spark, tmp_path / "t", n_appends=12, interval=5)
    assert t.clean_log() == 11  # commits 0..10: at or below checkpoint 10
    assert t.row_count() == 13
    assert {r.id for r in t.snapshot().collect()} == set(range(13))
    assert t.version() == 12
    # time travel to the checkpoint and above: fine
    assert t.row_count(10) == 11
    # below it: a clear error, not a mis-fold
    with pytest.raises(DeltaProtocolError):
        t.snapshot(3)
    with pytest.raises(DeltaProtocolError, match="cleaned"):
        t.table_changes(2)
    # the change feed past the checkpoint still works
    assert t.table_changes(10).count() == 2


def test_checkpoint_is_idempotent_and_explicit(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n_appends=3, interval=0)  # auto off
    assert t._checkpoint_versions() == []
    assert t.checkpoint() == 3
    assert t.checkpoint() == 3
    assert t._checkpoint_versions() == [3]
    assert t.row_count() == 4


def test_properties_and_schema_survive_checkpoint(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n_appends=10, interval=5)
    t.clean_log()
    assert t.properties()["delta.checkpointInterval"] == "5"
    assert [f.name for f in t.state().schema.fields] == ["id", "v"]


def test_idempotent_append_exactly_once(spark, tmp_path):
    """SetTransaction contract: a replayed (app_id, version) append is a
    no-op, including across log checkpoints."""
    t = DeltaProtocolTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame([(0, "seed")], "id long, v string"),
        properties={"delta.checkpointInterval": "3"},
    )
    batch = spark.createDataFrame([(1, "b0")], "id long, v string")
    assert t.append(batch, txn=("streamA", 0)) != -1
    assert t.append(batch, txn=("streamA", 0)) == -1  # replay
    assert t.row_count() == 2
    # later batch goes through; stale batch after it is still rejected
    assert t.append(
        spark.createDataFrame([(2, "b1")], "id long, v string"),
        txn=("streamA", 1),
    ) != -1
    assert t.append(batch, txn=("streamA", 0)) == -1
    assert t.txn_version("streamA") == 1
    # a different writer id has its own watermark
    assert t.append(batch, txn=("streamB", 0)) != -1
    assert t.row_count() == 4
    # watermark survives checkpoint + log retention
    for i in range(3, 7):
        t.append(spark.createDataFrame([(10 + i, "x")], "id long, v string"))
    t.clean_log()
    assert t.txn_version("streamA") == 1
    assert t.append(batch, txn=("streamA", 1)) == -1


def test_stream_to_deltalite_exactly_once(spark, tmp_path):
    """File stream -> Delta with SetTransaction idempotence: a second
    run over the same source (fresh checkpoint, same app_id and batch
    ids) must not duplicate rows."""
    import os

    from featureform_spark.streaming.incremental import (
        stream_to_delta_protocol,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).coalesce(1).write.parquet(str(src / "p0"))

    schema = "id long, v string"
    def run(cp):
        stream = (
            spark.readStream.schema(schema).parquet(str(src / "p0"))
        )
        q = stream_to_delta_protocol(
            stream, str(tmp_path / "tbl"), "ingestA", str(tmp_path / cp)
        )
        q.awaitTermination(60)

    run("cp1")
    t = DeltaProtocolTable(spark, str(tmp_path / "tbl"))
    assert t.row_count() == 2
    # replay: same source, NEW checkpoint -> same batch ids re-delivered
    run("cp2")
    assert t.row_count() == 2  # no double-write
    assert t.txn_version("ingestA") == 0
