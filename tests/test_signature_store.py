"""SignatureStore: continuous-ingestion dedup lifecycle over a Delta table."""

from __future__ import annotations

import pytest

from featureform_spark.streaming.signature_store import SignatureStore

# 12+-token docs so 3-shingle MinHash has signal; B near-dup of A
DOC_A = "the quick brown fox jumps over the lazy dog near the old river bank today"
DOC_B = "the quick brown fox jumps over the lazy dog near the old river bank tonight"
DOC_C = "completely different words about spark shuffles partitions and broadcast joins here"
DOC_D = "yet another unrelated document discussing parquet footers and column pruning tricks"


def _store(spark, tmp_path, **kw):
    return SignatureStore(spark, str(tmp_path / "sigstore"), **kw)


def test_ingest_then_flag_near_dup(spark, tmp_path):
    store = _store(spark, tmp_path)
    b1 = spark.createDataFrame([(1, DOC_A), (2, DOC_C)], ["doc_id", "text"])
    flags1 = {r["doc_id"]: r["is_dup"] for r in store.ingest(b1).collect()}
    assert flags1 == {1: 0, 2: 0}  # empty store: nothing flagged

    b2 = spark.createDataFrame([(3, DOC_B), (4, DOC_D)], ["doc_id", "text"])
    flags2 = {r["doc_id"]: r["is_dup"] for r in store.ingest(b2).collect()}
    assert flags2 == {3: 1, 4: 0}  # B collides with A's buckets

    # rejected doc 3 was NOT admitted: store holds buckets for 1, 2, 4
    stored_ids = {
        r["doc_id"] for r in store.stored_buckets().select("doc_id").distinct().collect()
    }
    assert stored_ids == {1, 2, 4}


def test_near_dup_of_rejected_doc_still_caught(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.ingest(spark.createDataFrame([(1, DOC_A)], ["doc_id", "text"]))
    store.ingest(spark.createDataFrame([(2, DOC_B)], ["doc_id", "text"]))  # rejected
    # another copy of B must still be flagged, via A's accepted buckets
    flags = {
        r["doc_id"]: r["is_dup"]
        for r in store.flag(
            spark.createDataFrame([(3, DOC_B)], ["doc_id", "text"])
        ).collect()
    }
    assert flags == {3: 1}


def test_param_mismatch_rejected(spark, tmp_path):
    store = _store(spark, tmp_path)
    store.ingest(spark.createDataFrame([(1, DOC_A)], ["doc_id", "text"]))
    with pytest.raises(ValueError, match="banding"):
        _store(spark, tmp_path, bands=4)


def test_flag_persists_across_reopen(spark, tmp_path):
    _store(spark, tmp_path).ingest(
        spark.createDataFrame([(1, DOC_A)], ["doc_id", "text"])
    )
    reopened = _store(spark, tmp_path)
    flags = {
        r["doc_id"]: r["is_dup"]
        for r in reopened.flag(
            spark.createDataFrame([(9, DOC_B), (10, DOC_C)], ["doc_id", "text"])
        ).collect()
    }
    assert flags == {9: 1, 10: 0}


def test_continuous_dedup_cdf_pipeline(spark, tmp_path):
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable
    from featureform_spark.streaming.signature_store import ContinuousDedup

    feed = DeltaProtocolTable(spark, str(tmp_path / "docs"))
    feed.create(
        spark.createDataFrame([(1, DOC_A), (2, DOC_C)], ["doc_id", "text"]),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    cd = ContinuousDedup(
        feed, _store(spark, tmp_path), str(tmp_path / "work")
    )

    f1 = {r["doc_id"]: r["is_dup"] for r in cd.refresh().collect()}
    assert f1 == {1: 0, 2: 0}
    assert cd.refresh() is None  # caught up

    feed.append(spark.createDataFrame([(3, DOC_B), (4, DOC_D)], ["doc_id", "text"]))
    f2 = {r["doc_id"]: r["is_dup"] for r in cd.refresh().collect()}
    assert f2 == {3: 1, 4: 0}  # only the NEW batch is processed

    # cursor survives a reopen
    cd2 = ContinuousDedup(
        feed, _store(spark, tmp_path), str(tmp_path / "work")
    )
    assert cd2.refresh() is None
