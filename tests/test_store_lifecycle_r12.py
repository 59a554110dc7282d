"""Round-12 store lifecycle: re-bucketing migration, occupancy
triggers, compaction, eviction (VERDICT r11 tasks #1 and #8).

The r11 scale fix sized LSH bucket schemes at construction; these
tests pin the remaining seam — a long-lived store that OUTGROWS its
sizing can migrate in one O(n) atomic versioned replace, with flag()
output identical before/after (asserted on exact-duplicate content,
where bucket agreement is guaranteed under every scheme).
"""

import warnings

import pytest
from pyspark.sql import functions as F

from featureform_spark.streaming.signature_store import SignatureStore
from featureform_spark.streaming.vector_store import EmbeddingStore


def _vecs(spark, ids, dim=8, dup_of=None):
    """Deterministic non-collinear integer vectors; dup_of maps an id
    to the id whose vector it copies exactly."""
    rows = []
    for i in ids:
        src = dup_of(i) if dup_of else i
        rows.append(
            (
                i,
                [float(1000 + src)]
                + [float((src * k + 7 * k * k) % 997 + 1) for k in range(1, dim)],
            )
        )
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _flags(store, batch):
    return sorted(
        (r["vec_id"], r["is_dup"], r["dup_of"])
        for r in store.flag(batch).collect()
    )


# ------------------------------------------ EmbeddingStore.rebucket


def test_rebucket_flags_identical_and_atomic(spark, tmp_path):
    """Grown 16x past its sizing, the store re-buckets in one atomic
    replace and flag() output is IDENTICAL before/after (threshold
    0.999999: only exact duplicates clear, and identical vectors share
    buckets under every scheme)."""
    store = EmbeddingStore(
        spark,
        str(tmp_path / "vs"),
        dim=8,
        num_planes=4,
        cosine_threshold=0.999999,
    )
    n = 4200  # 16 * 2^4 * 16 = 4096 < n: 16x past the target occupancy
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # occupancy warning is tested below
        store.ingest(_vecs(spark, range(n)))
    probe = _vecs(
        spark, range(n, n + 60), dup_of=lambda i: i - n if i % 2 else i
    )
    before = _flags(store, probe)
    assert sum(1 for _, d, _ in before if d == 1) == 30
    assert all(
        dup == vid - n for vid, d, dup in before if d == 1
    )

    rep = store.occupancy_report()
    assert rep["needs_rebucket"] and rep["recommended_planes"] > 4
    v_pre = store.table.version()
    v_post = store.rebucket(rep["recommended_planes"])
    assert v_post == v_pre + 1  # ONE commit: rows + scheme descriptor
    assert store.table.properties()["emb.num_planes"] == str(
        rep["recommended_planes"]
    )
    assert _flags(store, probe) == before

    # time travel serves the OLD scheme at pre-migration versions, and
    # raising planes strictly REFINES: new bucket = old bucket + bits
    old = {
        r["vec_id"]: r["bucket"]
        for r in store.table.snapshot(version=v_pre).collect()
    }
    new = {
        r["vec_id"]: r["bucket"]
        for r in store.table.snapshot().collect()
    }
    assert set(old) == set(new)
    assert all(new[i].startswith(old[i]) for i in old)

    # a fresh .auto open loads the MIGRATED scheme
    again = EmbeddingStore.auto(
        spark,
        str(tmp_path / "vs"),
        dim=8,
        expected_corpus_rows=1,
        cosine_threshold=0.999999,
    )
    assert again.num_planes == rep["recommended_planes"]
    assert _flags(again, probe) == before


def test_rebucket_noop_and_occupancy_warning(spark, tmp_path):
    store = EmbeddingStore(
        spark, str(tmp_path / "vs2"), dim=4, num_planes=4
    )
    assert store.rebucket(4) is None
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        store.ingest(_vecs(spark, range(1100), dim=4))
    # 1100 > 16 * 16 * 4: the next ingest warns and names the fix
    with pytest.warns(UserWarning, match="rebucket"):
        store.ingest(_vecs(spark, range(1100, 1110), dim=4))
    # ... or migrates inline when asked
    store.ingest(
        _vecs(spark, range(1110, 1120), dim=4), on_overflow="migrate"
    )
    assert store.num_planes == store.occupancy_report()["recommended_planes"]
    assert not store.occupancy_report()["needs_rebucket"]


def test_compact_preserves_flags_and_time_travel(spark, tmp_path):
    store = EmbeddingStore(
        spark,
        str(tmp_path / "vs3"),
        dim=4,
        num_planes=4,
        cosine_threshold=0.999999,
    )
    for b in range(5):
        store.ingest(
            _vecs(spark, range(b * 20, b * 20 + 20), dim=4),
            on_overflow="ignore",
        )
    probe = _vecs(spark, [0, 1, 2, 999], dim=4)
    before = _flags(store, probe)
    v_pre = store.table.version()
    files_before = len(store.table.state().adds)
    assert store.compact(target_rows_per_file=1000) == v_pre + 1
    assert len(store.table.state().adds) < files_before
    assert _flags(store, probe) == before
    # time-travel guard: the pre-compaction version still reads
    assert store.table.snapshot(version=v_pre).count() == 100


def test_evict_and_reingest(spark, tmp_path):
    store = EmbeddingStore(
        spark,
        str(tmp_path / "vs4"),
        dim=4,
        num_planes=4,
        cosine_threshold=0.999999,
    )
    store.ingest(_vecs(spark, range(50), dim=4), on_overflow="ignore")
    dup_probe = _vecs(spark, [100], dim=4, dup_of=lambda i: 7)
    assert _flags(store, dup_probe) == [(100, 1, 7)]

    out = store.evict(F.col("vec_id") == 7)
    assert out["rows_deleted"] == 1
    assert out["files_touched"] == 1
    assert _flags(store, dup_probe) == [(100, 0, None)]
    assert store.accepted_count() == 49

    # reingest supersedes: id 8 gets id 7's old vector; the probe for
    # that content now flags against 8
    store.reingest(_vecs(spark, [8], dim=4, dup_of=lambda i: 7))
    assert store.accepted_count() == 49  # replaced, not duplicated
    assert _flags(store, dup_probe) == [(100, 1, 8)]


# ------------------------------------------- SignatureStore.reband


def _docs(spark, ids, dup_of=None):
    """Per-doc-unique vocabularies: distinct docs share ~no shingles,
    so flags are scheme-invariant (no false band collisions under ANY
    banding) and the reband-identity assertion is sound."""
    rows = []
    for i in ids:
        src = dup_of(i) if dup_of else i
        text = " ".join(f"w{src}x{(src * 31 + j) % 997}q" for j in range(30))
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_reband_flags_identical_and_partial_source_refused(
    spark, tmp_path
):
    store = SignatureStore(spark, str(tmp_path / "ss"))
    corpus = _docs(spark, range(300))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        store.ingest(corpus)
    probe = _docs(
        spark, range(300, 340), dup_of=lambda i: i - 300 if i % 2 else i
    )
    before = sorted(
        (r["doc_id"], r["is_dup"]) for r in store.flag(probe).collect()
    )
    assert sum(d for _, d in before) == 20

    with pytest.raises(ValueError, match="covers"):
        store.reband(corpus.filter("doc_id < 100"), num_hashes=64, bands=16)

    v = store.reband(corpus, num_hashes=64, bands=16)
    assert store.params["num_hashes"] == 64
    assert store.table.properties()["lsh.bands"] == "16"
    assert store.accepted_count() == 300  # 300 docs x 16 bands rows
    after = sorted(
        (r["doc_id"], r["is_dup"]) for r in store.flag(probe).collect()
    )
    assert after == before

    # a fresh .auto open loads the migrated banding
    again = SignatureStore.auto(
        spark, str(tmp_path / "ss"), expected_corpus_rows=1
    )
    assert again.params["num_hashes"] == 64
    assert again.params["bands"] == 16


def test_signature_store_occupancy_model(spark, tmp_path):
    store = SignatureStore(spark, str(tmp_path / "ss2"))
    rep_empty = store.occupancy_report()
    assert rep_empty["n_docs"] == 0 and not rep_empty["needs_reband"]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        store.ingest(_docs(spark, range(40)))
    rep = store.occupancy_report()
    assert rep["n_docs"] == 40
    # r=3 at j=0.05 holds 64k docs; 40 is far inside capacity
    assert rep["capacity_docs"] == pytest.approx(64000)
    assert not rep["needs_reband"]
    assert rep["recommended"] == (24, 8)
