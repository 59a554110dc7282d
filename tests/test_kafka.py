"""Kafka topic I/O (S8/ST2): option-set contract for the real connector,
and the FileTopic broker emulator driving the full
topic → wire-schema parse → stream_to_online loop end-to-end (reference
KafkaClient, provider/scripts/spark/offline_store_spark_runner.py:271-415)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from featureform_spark.sources.kafka import (
    KAFKA_WIRE_SCHEMA,
    FileTopic,
    TopicNotFoundError,
    kafka_options,
    parse_topic,
)

VALUE_SCHEMA = T.StructType(
    [
        T.StructField("entity", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts", T.LongType()),
    ]
)


def test_kafka_option_contract():
    """Pin the exact reader options handed to format('kafka') — earliest
    offsets + no-fail-on-loss, the reference consumer's posture (:388-396)."""
    opts = kafka_options("broker1:9092,broker2:9092", "features")
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "features",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
    }


def test_read_kafka_stream_gated_without_connector(spark):
    from featureform_spark.sources.kafka import read_kafka_stream

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        read_kafka_stream(spark, "localhost:9092", "t")


def test_topic_crud_and_roundtrip(spark, tmp_path):
    t = FileTopic(str(tmp_path), "events", num_partitions=3)
    assert not t.exists()
    with pytest.raises(TopicNotFoundError):
        t.batch(spark)

    t.create_topic_if_not_exists()
    assert t.exists()

    t.write([("u1", {"entity": "u1", "value": 1.5, "ts": 10})])
    t.write([("u2", {"entity": "u2", "value": 2.5, "ts": 11})])
    got = dict(t.read(spark))
    assert got == {
        "u1": {"entity": "u1", "value": 1.5, "ts": 10},
        "u2": {"entity": "u2", "value": 2.5, "ts": 11},
    }

    t.delete()
    assert not t.exists()


def test_batch_matches_kafka_wire_schema(spark, tmp_path):
    t = FileTopic(str(tmp_path), "wire")
    t.write([("k", {"entity": "k", "value": 0.0, "ts": 0})])
    df = t.batch(spark)
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in KAFKA_WIRE_SCHEMA.fields
    ]

    parsed = parse_topic(df, VALUE_SCHEMA)
    row = parsed.collect()[0]
    assert row["key"] == "k" and row["entity"] == "k"
    assert row["offset"] == 0 and row["topic"] == "wire"


def test_per_key_partition_ordering(spark, tmp_path):
    """Same key → same partition, offsets strictly increasing — the only
    ordering Kafka guarantees and the one stream_to_online relies on."""
    t = FileTopic(str(tmp_path), "ordered", num_partitions=4)
    for i in range(12):
        t.write([(f"u{i % 3}", {"entity": f"u{i % 3}", "value": float(i), "ts": i})])
    parsed = parse_topic(t.batch(spark), VALUE_SCHEMA)
    rows = parsed.select("key", "partition", "offset", "ts").collect()
    by_key, by_part = {}, {}
    for r in rows:
        by_key.setdefault(r["key"], []).append(r)
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for key, krows in by_key.items():
        assert len({r["partition"] for r in krows}) == 1, f"{key} spread over partitions"
        # produce order (ts) and log order (offset) agree per key
        by_offset = [r["ts"] for r in sorted(krows, key=lambda r: r["offset"])]
        assert by_offset == sorted(by_offset)
    for p, offsets in by_part.items():
        assert sorted(offsets) == list(range(len(offsets)))  # dense per partition


def test_stream_topic_to_online_end_to_end(spark, tmp_path):
    """ST1+ST2: produce JSON records to a topic, stream them through the
    wire-schema parse into stream_to_online; the store holds the latest
    value per entity (executor-side partition writer path)."""
    from featureform_spark.serving.sqlite_store import SqliteOnlineStore
    from featureform_spark.streaming.incremental import stream_to_online

    t = FileTopic(str(tmp_path / "spool"), "feat", num_partitions=2)
    t.write(
        [
            ("u1", {"entity": "u1", "value": 1.0, "ts": 100}),
            ("u2", {"entity": "u2", "value": 2.0, "ts": 100}),
            ("u1", {"entity": "u1", "value": 9.0, "ts": 200}),  # newer wins
            ("u2", {"entity": "u2", "value": 0.5, "ts": 50}),   # stale loses
        ]
    )

    parsed = parse_topic(t.stream(spark), VALUE_SCHEMA).select(
        "entity", "value", F.col("ts").cast("timestamp").alias("ts")
    )
    store = SqliteOnlineStore(str(tmp_path / "store.db"))
    q = stream_to_online(
        parsed, store, "feat", "entity", "value", "ts",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    assert store.get("feat", "u1") == 9.0
    assert store.get("feat", "u2") == 2.0
