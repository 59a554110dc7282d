"""EmbeddingStore: continuous-ingestion embedding near-dup (the vector
twin of SignatureStore)."""

import pytest
from pyspark.sql import functions as F

from featureform_spark.streaming.vector_store import EmbeddingStore

DIM = 8


def _vec(i, scale=1.0):
    return [scale * float((i * 7 + j * 3) % 11 - 5) for j in range(DIM)]


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_flag_ingest_lifecycle(spark, tmp_path):
    st = EmbeddingStore(
        spark, str(tmp_path / "emb"), dim=DIM, cosine_threshold=0.999
    )
    batch1 = _emb(spark, [(i, _vec(i)) for i in range(10)])
    f1 = {r["vec_id"]: r for r in st.ingest(batch1).collect()}
    assert all(r["is_dup"] == 0 for r in f1.values())  # empty store

    # batch 2: vec 100 duplicates vec 0 EXACTLY, vec 101 is a scaled
    # copy of vec 3 (cosine 1.0 — direction match), vec 102 is fresh
    batch2 = _emb(
        spark,
        [(100, _vec(0)), (101, _vec(3, scale=2.5)), (102, [1.0] * DIM)],
    )
    f2 = {r["vec_id"]: r for r in st.ingest(batch2).collect()}
    assert f2[100]["is_dup"] == 1 and f2[100]["dup_of"] == 0
    assert f2[101]["is_dup"] == 1 and f2[101]["dup_of"] == 3
    assert f2[102]["is_dup"] == 0 and f2[102]["dup_of"] is None

    # rejected vectors were NOT admitted; their originals still flag
    batch3 = _emb(spark, [(200, _vec(0))])
    f3 = st.flag(batch3).collect()[0]
    assert f3["is_dup"] == 1 and f3["dup_of"] == 0
    # the clean 102 WAS admitted
    f4 = st.flag(_emb(spark, [(201, [2.0] * DIM)])).collect()[0]
    assert f4["is_dup"] == 1 and f4["dup_of"] == 102


def test_bucket_collision_below_threshold_does_not_flag(spark, tmp_path):
    """Exactness: sharing a bucket is necessary, not sufficient — the
    cosine verify gates the flag (unlike the text store's candidate
    semantics)."""
    st = EmbeddingStore(
        spark, str(tmp_path / "emb2"), dim=DIM,
        num_planes=1,  # 2 buckets: collisions guaranteed
        cosine_threshold=0.9999,
    )
    st.ingest(_emb(spark, [(0, _vec(0))]))
    flags = {
        r["vec_id"]: r["is_dup"]
        for r in st.flag(
            _emb(spark, [(1, _vec(1)), (2, _vec(0))])
        ).collect()
    }
    assert flags[2] == 1      # true duplicate
    assert flags[1] == 0      # bucket-mate but below threshold


def test_scheme_pinning_and_auto(spark, tmp_path):
    path = str(tmp_path / "emb3")
    st = EmbeddingStore.auto(
        spark, path, dim=DIM, expected_corpus_rows=200_000
    )
    assert st.num_planes == 14  # destination-sized
    st.ingest(_emb(spark, [(0, _vec(0))]))
    # reopen with a different expectation: pinned scheme wins
    st2 = EmbeddingStore.auto(
        spark, path, dim=DIM, expected_corpus_rows=10
    )
    assert st2.num_planes == 14
    # mismatched explicit scheme refuses
    with pytest.raises(ValueError, match="cannot be mixed"):
        EmbeddingStore(spark, path, dim=DIM, num_planes=6)


@pytest.mark.parametrize("estimate", [None, 1 << 40])
def test_flag_broadcasts_hits_unless_batch_estimated_large(
    spark, tmp_path, monkeypatch, estimate
):
    """An unavailable size estimate keeps the hits broadcast (hits is
    bounded by the batch); only an estimate past the cap drops it."""
    import featureform_spark.streaming.vector_store as vs

    st = EmbeddingStore(
        spark, str(tmp_path / "emb"), dim=DIM, cosine_threshold=0.999
    )
    st.ingest(_emb(spark, [(i, _vec(i)) for i in range(10)])).collect()
    monkeypatch.setattr(vs, "_plan_size_bytes", lambda df: estimate)
    flagged = st.flag(_emb(spark, [(100, _vec(0)), (101, [1.0] * DIM)]))
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    # the hits join is the outermost join of the plan
    top_join = next(
        line.strip(" +-:*()0123456789")
        for line in plan.splitlines()
        if "Join" in line
    )
    if estimate is None:
        assert top_join.startswith("BroadcastHashJoin"), plan
    else:
        assert not top_join.startswith("BroadcastHashJoin"), plan
    got = {r["vec_id"]: r["dup_of"] for r in flagged.collect()}
    assert got == {100: 0, 101: None}
