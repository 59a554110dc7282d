"""S18 completed: a REAL Arrow Flight gRPC endpoint serving table
scans as record-batch streams (reference:
streamer/iceberg_streamer.py:17-106 — JSON ticket naming the table,
do_get -> RecordBatchStream, 2M default cap). The serving path here is
sessionless (pyarrow, no Spark/JVM): round-trips below run a localhost
server and compare client-read rows against the native Spark scans."""

import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

fl = pytest.importorskip("pyarrow.flight")

from featureform_spark.serving.flight_server import (  # noqa: E402
    DatasetStreamerServer,
    scan_table_arrow,
)
from featureform_spark.sources.delta_protocol import (  # noqa: E402
    DeltaProtocolTable,
)
from featureform_spark.sources.iceberg_protocol import (  # noqa: E402
    IcebergProtocolTable,
)


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@pytest.fixture(scope="module")
def served(spark, sf_dir, tmp_path_factory):
    """One server over a catalog root holding a delta table (with a
    DV), an iceberg table (with a position delete), and a parquet dir."""
    root = tmp_path_factory.mktemp("flight_catalog")
    ns = root / "ns"
    ns.mkdir()
    orders = _orders(spark, sf_dir)

    dt = DeltaProtocolTable(spark, str(ns / "orders_delta"))
    dt.create(orders.limit(500).repartition(4))
    dt.delete_where(F.col("o_orderkey") % 7 == 0)

    it = IcebergProtocolTable(spark, str(ns / "orders_ice"))
    it.create(orders.limit(400).repartition(3))
    it.delete_rows(F.col("o_orderkey") % 5 == 0)

    orders.limit(300).write.parquet(str(ns / "orders_pq"))

    server = DatasetStreamerServer({"default": str(root)})
    yield spark, server, dt, it, orders
    server.shutdown()


def _client_read(server, ticket: dict) -> pa.Table:
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        return client.do_get(
            fl.Ticket(json.dumps(ticket).encode())
        ).read_all()
    finally:
        client.close()


def test_delta_with_dv_roundtrip(served):
    spark, server, dt, _it, _orders = served
    got = _client_read(
        server, {"namespace": "ns", "table": "orders_delta"}
    )
    native = dt.snapshot()
    assert sorted(tuple(r.values()) for r in got.to_pylist()) == sorted(
        map(tuple, native.collect())
    )
    assert got.schema.names == native.columns


def test_iceberg_with_position_deletes_roundtrip(served):
    spark, server, _dt, it, _orders = served
    got = _client_read(server, {"namespace": "ns", "table": "orders_ice"})
    native = it.snapshot()
    assert sorted(tuple(r.values()) for r in got.to_pylist()) == sorted(
        map(tuple, native.collect())
    )


def test_parquet_dir_and_limit_cap(served):
    _spark, server, _dt, _it, orders = served
    got = _client_read(server, {"namespace": "ns", "table": "orders_pq"})
    assert got.num_rows == 300
    capped = _client_read(
        server, {"namespace": "ns", "table": "orders_pq", "limit": 57}
    )
    assert capped.num_rows == 57


def test_get_flight_info_schema(served):
    _spark, server, dt, _it, _orders = served
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        info = client.get_flight_info(
            fl.FlightDescriptor.for_command(
                json.dumps(
                    {"namespace": "ns", "table": "orders_delta"}
                ).encode()
            )
        )
        assert info.schema.names == dt.snapshot().columns
        # the endpoint's ticket replays through do_get
        got = client.do_get(info.endpoints[0].ticket).read_all()
        assert got.num_rows == dt.snapshot().count()
    finally:
        client.close()


def test_bad_tickets_surface_errors(served):
    _spark, server, *_ = served
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        with pytest.raises((fl.FlightServerError, pa.ArrowInvalid), match="invalid JSON"):
            client.do_get(fl.Ticket(b"not json")).read_all()
    finally:
        client.close()
    with pytest.raises((fl.FlightServerError, pa.ArrowInvalid), match="missing required"):
        _client_read(server, {"namespace": "ns"})
    with pytest.raises((fl.FlightServerError, pa.ArrowInvalid), match="unknown catalog"):
        _client_read(
            server, {"catalog": "nope", "namespace": "ns", "table": "x"}
        )
    with pytest.raises((fl.FlightServerError, pa.ArrowInvalid), match="limit"):
        _client_read(
            server, {"namespace": "ns", "table": "orders_pq", "limit": -3}
        )


def test_direct_path_ticket_and_2m_default_cap(served, tmp_path):
    """A {"path": ...} ticket and the default-cap contract: the capped
    reader never materializes more than `limit` rows."""
    _spark, server, _dt, _it, _orders = served
    # scan_table_arrow cap unit check without a 2M-row table
    reader = scan_table_arrow(
        server._resolve({"namespace": "ns", "table": "orders_pq"}), 10
    )
    assert reader.read_all().num_rows == 10
    got = _client_read(
        server,
        {"path": server._resolve({"namespace": "ns", "table": "orders_pq"})},
    )
    assert got.num_rows == 300


def test_do_put_appends_to_delta_sessionless(served, spark):
    """Flight ingest: uploaded batches commit into the Delta
    transaction log with NO Spark on the serving path, exactly-once via
    app_id/txn_version, and Spark reads them back."""
    _spark, server, dt, _it, orders = served
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        n_before = dt.snapshot().count()
        new_rows = orders.limit(520).subtract(orders.limit(500))
        tbl = new_rows.toArrow()
        desc = fl.FlightDescriptor.for_command(
            json.dumps(
                {
                    "namespace": "ns",
                    "table": "orders_delta",
                    "app_id": "flight-test",
                    "txn_version": 1,
                }
            ).encode()
        )
        writer, _meta = client.do_put(desc, tbl.schema)
        writer.write_table(tbl)
        writer.close()
        assert dt.snapshot().count() == n_before + tbl.num_rows
        # exactly-once: replaying the same txn version is a no-op
        writer, _meta = client.do_put(desc, tbl.schema)
        writer.write_table(tbl)
        writer.close()
        assert dt.snapshot().count() == n_before + tbl.num_rows
        # round-trip: the appended rows come back through do_get
        got = client.do_get(
            fl.Ticket(
                json.dumps(
                    {"namespace": "ns", "table": "orders_delta"}
                ).encode()
            )
        ).read_all()
        assert got.num_rows == n_before + tbl.num_rows
    finally:
        client.close()


def test_list_flights_enumerates_catalog(served):
    _spark, server, _dt, _it, _orders = served
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        infos = list(client.list_flights())
        names = sorted(
            json.loads(i.descriptor.command.decode())["table"]
            for i in infos
        )
        assert names == ["orders_delta", "orders_ice", "orders_pq"]
        # each descriptor replays through do_get
        got = client.do_get(infos[0].endpoints[0].ticket).read_all()
        assert got.num_rows > 0
    finally:
        client.close()


def test_iceberg_v3_dv_roundtrip(served, spark, sf_dir, tmp_path):
    """v3 deletion-vector tables serve over Flight too: the sessionless
    scan decodes the referenced puffin blobs and masks rows. Direct
    paths outside every registered catalog root refuse (tickets are
    not a license to read arbitrary directories)."""
    _spark0, server0, *_ = served
    with pytest.raises((fl.FlightServerError, pa.ArrowInvalid),
                       match="outside every registered"):
        _client_read(server0, {"path": str(tmp_path)})
    orders = _orders(spark, sf_dir)
    root2 = tmp_path / "flightroot2"
    (root2 / "ns").mkdir(parents=True)
    tdir = str(root2 / "ns" / "v3f")
    t = IcebergProtocolTable(spark, tdir)
    t.create(orders.limit(200).repartition(2))
    t.upgrade_format_version(3)
    t.delete_rows(F.col("o_orderkey") % 3 == 0)
    from featureform_spark.serving.flight_server import (
        DatasetStreamerServer,
    )

    server = DatasetStreamerServer({"default": str(root2)})
    try:
        got = _client_read(server, {"path": tdir})
    finally:
        server.shutdown()
    assert sorted(tuple(r.values()) for r in got.to_pylist()) == sorted(
        map(tuple, t.snapshot().collect())
    )


def test_do_put_appends_to_iceberg_sessionless(served, spark):
    """Flight ingest into Iceberg: batches stream into a data file and
    commit one append snapshot through the metadata O_EXCL race —
    JVM-free, then Spark reads them back."""
    _spark, server, _dt, it, orders = served
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        n_before = it.snapshot().count()
        new_rows = orders.limit(430).subtract(orders.limit(400))
        tbl = new_rows.toArrow()
        desc = fl.FlightDescriptor.for_command(
            json.dumps({"namespace": "ns", "table": "orders_ice"}).encode()
        )
        writer, _meta = client.do_put(desc, tbl.schema)
        writer.write_table(tbl)
        writer.close()
        assert it.snapshot().count() == n_before + tbl.num_rows
        snaps = it.snapshots(it.metadata())
        assert (snaps[-1].get("summary") or {}).get("operation") == "append"
        got = sorted(map(tuple, it.snapshot().collect()))
        want = sorted(
            map(
                tuple,
                it.snapshot(snapshot_id=snaps[-2]["snapshot-id"])
                .unionByName(new_rows.select(*it.snapshot().columns))
                .collect(),
            )
        )
        assert got == want
    finally:
        client.close()


def test_do_get_with_row_ids(served):
    """Tickets with with_row_ids stream _row_id/_row_commit_version
    computed in the sessionless scan (DV-masked original indexes,
    materialized columns win) — matching the native Spark scan."""
    spark, server, dt, _it, _orders = served
    root = os.path.dirname(os.path.dirname(dt.path))
    path = os.path.join(root, "ns", "rt")
    t = DeltaProtocolTable(spark, path)
    df = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t.create(df, properties={"delta.enableRowTracking": "true"})
    t.delete_where(F.col("k") % 5 == 0)
    t.merge(
        spark.range(25, 35).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        "k",
    )
    got = _client_read(
        server,
        {
            "catalog": "default", "namespace": "ns", "table": "rt",
            "with_row_ids": True,
        },
    ).to_pandas()
    assert list(got.columns) == ["k", "v", "_row_id", "_row_commit_version"]
    native = t.snapshot_with_row_ids().toPandas()
    a = got.sort_values("k").reset_index(drop=True)
    b = native.sort_values("k").reset_index(drop=True).astype(a.dtypes)
    assert a.equals(b)
    # untracked tables refuse the flag
    with pytest.raises(Exception, match="enableRowTracking"):
        _client_read(
            server,
            {
                "catalog": "default", "namespace": "ns",
                "table": "orders_delta", "with_row_ids": True,
            },
        )


def test_namespace_traversal_escapes_refuse(served, tmp_path):
    """namespace/table are single path components off an untrusted
    ticket: '..' hops and absolute components must not escape the
    registered catalog root (ADVICE r6 — without the realpath
    containment, {"namespace": "../.."} read arbitrary directories
    and do_put wrote to arbitrary locations)."""
    _spark, server, *_ = served
    for ns, tbl in [
        ("..", ".."),
        ("../..", "etc"),
        (os.sep + "tmp", "x"),
        ("ns", "../../.."),
    ]:
        with pytest.raises(
            (fl.FlightServerError, pa.ArrowInvalid),
            match="escapes catalog root|no table directory",
        ):
            _client_read(server, {"namespace": ns, "table": tbl})
    # the in-process resolver refuses before touching the filesystem
    from featureform_spark.serving.flight_server import TicketError

    with pytest.raises(TicketError, match="escapes catalog root"):
        server._resolve({"namespace": "..", "table": "x"})
    with pytest.raises(TicketError, match="escapes catalog root"):
        server._resolve({"namespace": "a", "table": "../../b"})
    # legitimate lookups still resolve
    assert server._resolve({"namespace": "ns", "table": "orders_pq"})


def test_nearest_over_flight(served, sf_dir):
    """embeddinghub parity: Nearest() served over the wire from the
    in-RAM IVFADC index (do_get {'nearest': ...}), with do_put
    {'index_add': ...} making uploaded vectors queryable immediately —
    the reference's embeddingstore gRPC surface
    (embeddinghub/embeddingstore/index.h:19-33)."""
    from featureform_spark.serving.ann_index import IvfPqIndex
    from featureform_spark.sources.testdata import load_table

    spark, server, _dt, _it, _orders = served
    emb = load_table(spark, sf_dir, "embeddings")
    server.register_index("emb", IvfPqIndex.build(emb, num_cells=16, m=8))
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 4).first()["embedding"]
    ]
    got = _client_read(
        server,
        {"nearest": {"index": "emb", "vector": qvec, "k": 5, "nprobe": 8}},
    )
    assert got.column("vec_id")[0].as_py() == 4  # self nearest
    assert got.column("distance")[0].as_py() == 0.0
    assert got.num_rows == 5

    # upload a near-duplicate through do_put index_add
    new_id = 10_000_000
    upload = pa.table(
        {
            "vec_id": pa.array([new_id], pa.int64()),
            "embedding": pa.array(
                [[v + 1e-4 for v in qvec]], pa.list_(pa.float64())
            ),
        }
    )
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        desc = fl.FlightDescriptor.for_command(
            json.dumps({"index_add": {"index": "emb"}}).encode()
        )
        writer, _meta = client.do_put(desc, upload.schema)
        writer.write_table(upload)
        writer.close()
    finally:
        client.close()
    got2 = _client_read(
        server,
        {"nearest": {"index": "emb", "vector": qvec, "k": 3, "nprobe": 8}},
    )
    ids = set(got2.column("vec_id").to_pylist())
    assert {4, new_id} <= ids

    # unknown index -> clean error surfaced to the client, not a dead
    # connection (TicketError crosses the wire as ArrowInvalid)
    with pytest.raises((fl.FlightError, pa.lib.ArrowInvalid)):
        _client_read(server, {"nearest": {"index": "nope", "vector": qvec}})


def test_nearest_hnsw_over_flight(served, sf_dir):
    """The graph index behind the same wire surface: register an
    HnswIndex under a second name, query with an 'ef' ticket param
    (IVF-style nprobe/rerank params are swallowed, so one client code
    path serves both index kinds)."""
    from featureform_spark.serving.hnsw_index import HnswIndex
    from featureform_spark.sources.testdata import load_table

    spark, server, _dt, _it, _orders = served
    emb = load_table(spark, sf_dir, "embeddings")
    server.register_index("emb_hnsw", HnswIndex.build(emb, m=8, ef_construction=50))
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 4).first()["embedding"]
    ]
    got = _client_read(
        server,
        {"nearest": {"index": "emb_hnsw", "vector": qvec, "k": 5, "ef": 64}},
    )
    assert got.column("vec_id")[0].as_py() == 4
    assert got.column("distance")[0].as_py() == 0.0
    assert got.num_rows == 5
    # a ticket carrying IVF params against the graph index still works
    got2 = _client_read(
        server,
        {
            "nearest": {
                "index": "emb_hnsw", "vector": qvec, "k": 3,
                "nprobe": 8, "rerank": 100,
            }
        },
    )
    assert got2.column("vec_id")[0].as_py() == 4


def test_vector_get_over_flight(served, sf_dir):
    """embeddinghub Get over the wire: {'vector_get': ...} returns the
    stored (live) vector, zero rows for an absent id, clean error for
    an unknown index."""
    from featureform_spark.serving.hnsw_index import HnswIndex
    from featureform_spark.sources.testdata import load_table

    spark, server, _dt, _it, _orders = served
    emb = load_table(spark, sf_dir, "embeddings")
    server.register_index("emb_get", HnswIndex.build(emb, m=8, ef_construction=50))
    expected = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 6).first()["embedding"]
    ]
    got = _client_read(
        server, {"vector_get": {"index": "emb_get", "vec_id": 6}}
    )
    assert got.num_rows == 1
    assert got.column("vec_id")[0].as_py() == 6
    import numpy as np

    assert np.allclose(got.column("embedding")[0].as_py(), expected, atol=1e-6)
    empty = _client_read(
        server, {"vector_get": {"index": "emb_get", "vec_id": 10**9}}
    )
    assert empty.num_rows == 0
    with pytest.raises((fl.FlightError, pa.lib.ArrowInvalid)):
        _client_read(server, {"vector_get": {"index": "nope", "vec_id": 1}})


def test_frozen_space_rejects_index_add(served, sf_dir):
    """FreezeSpace parity must hold on the WIRE path too: after a
    store-side freeze, an index_add DoPut is rejected (previously the
    shared live index object let Flight clients bypass the store's
    immutability)."""
    from featureform_spark.serving.hnsw_index import HnswIndex
    from featureform_spark.serving.online import InMemoryOnlineStore
    from featureform_spark.sources.testdata import load_table

    spark, server, _dt, _it, _orders = served
    emb = load_table(spark, sf_dir, "embeddings")
    store = InMemoryOnlineStore()
    store.register_vectors("spc", emb)
    store.build_ann_index("spc", algo="hnsw", m=8, ef_construction=50)
    server.register_index(
        "spc", store._ann["spc"], frozen=lambda: store.is_frozen("spc")
    )

    def _put(vid):
        upload = pa.table(
            {
                "vec_id": pa.array([vid], pa.int64()),
                "embedding": pa.array(
                    [[0.5] * 64], pa.list_(pa.float64())
                ),
            }
        )
        client = fl.connect(f"grpc://127.0.0.1:{server.port}")
        try:
            desc = fl.FlightDescriptor.for_command(
                json.dumps({"index_add": {"index": "spc"}}).encode()
            )
            writer, _meta = client.do_put(desc, upload.schema)
            writer.write_table(upload)
            writer.close()
        finally:
            client.close()

    _put(8_000_001)  # live space: write lands
    assert store.get_vector("spc", 8_000_001) is not None

    store.freeze_vectors("spc")
    with pytest.raises((fl.FlightError, pa.lib.ArrowInvalid)):
        _put(8_000_002)
    assert store.get_vector("spc", 8_000_002) is None

    # an explicitly frozen registration (bool flag) behaves the same
    server.freeze_index("spc")
    with pytest.raises((fl.FlightError, pa.lib.ArrowInvalid)):
        _put(8_000_003)


def test_multi_get_over_flight(served, sf_dir):
    """embeddinghub MultiGet parity: ONE do_get answers N point
    lookups with rows aligned to request order — missing ids keep
    their position with found=false and NULL embedding (the
    reference's empty-values Embedding, server.cc:151-171)."""
    import numpy as np

    from featureform_spark.serving.hnsw_index import HnswIndex
    from featureform_spark.sources.testdata import load_table

    spark, server, _dt, _it, _orders = served
    emb = load_table(spark, sf_dir, "embeddings")
    server.register_index("mg", HnswIndex.build(emb, m=8, ef_construction=50))
    want = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(3, 7, 1)).collect()
    }
    req_ids = [7, 10**9, 1, 3, 7]  # dup + missing, arbitrary order
    got = _client_read(
        server, {"vector_multi_get": {"index": "mg", "vec_ids": req_ids}}
    )
    assert got.num_rows == len(req_ids)  # row per request, in order
    assert got.column("vec_id").to_pylist() == req_ids
    assert got.column("found").to_pylist() == [True, False, True, True, True]
    embs = got.column("embedding").to_pylist()
    assert embs[1] is None
    for pos, vid in ((0, 7), (2, 1), (3, 3), (4, 7)):
        assert np.allclose(embs[pos], want[vid], atol=1e-6)
    with pytest.raises((fl.FlightError, pa.lib.ArrowInvalid)):
        _client_read(
            server, {"vector_multi_get": {"index": "nope", "vec_ids": [1]}}
        )


def test_multi_set_over_flight(served, sf_dir):
    """embeddinghub MultiSet parity: ONE do_put sets vectors across
    multiple spaces (per-row space column); a frozen space rejects the
    write (FAILED_PRECONDITION analog, server.cc:131-149)."""
    from featureform_spark.serving.hnsw_index import HnswIndex
    from featureform_spark.sources.testdata import load_table

    spark, server, _dt, _it, _orders = served
    emb = load_table(spark, sf_dir, "embeddings")
    server.register_index("ms_a", HnswIndex.build(emb, m=8, ef_construction=50))
    server.register_index("ms_b", HnswIndex.build(emb, m=8, ef_construction=50))

    def _put(rows):
        upload = pa.table(
            {
                "space": pa.array([s for s, _, _ in rows], pa.string()),
                "vec_id": pa.array([i for _, i, _ in rows], pa.int64()),
                "embedding": pa.array(
                    [v for _, _, v in rows], pa.list_(pa.float64())
                ),
            }
        )
        client = fl.connect(f"grpc://127.0.0.1:{server.port}")
        try:
            desc = fl.FlightDescriptor.for_command(
                json.dumps({"multi_set": {}}).encode()
            )
            writer, _meta = client.do_put(desc, upload.schema)
            writer.write_table(upload)
            writer.close()
        finally:
            client.close()

    va, vb = [0.25] * 64, [0.75] * 64
    _put([("ms_a", 7_100_001, va), ("ms_b", 7_100_002, vb),
          ("ms_a", 7_100_003, vb)])
    got = _client_read(
        server,
        {"vector_multi_get": {
            "index": "ms_a", "vec_ids": [7_100_001, 7_100_003]}},
    )
    assert got.column("found").to_pylist() == [True, True]
    got_b = _client_read(
        server,
        {"vector_multi_get": {"index": "ms_b", "vec_ids": [7_100_002]}},
    )
    assert got_b.column("found").to_pylist() == [True]

    # frozen space rejects the whole batch naming it
    server.freeze_index("ms_b")
    with pytest.raises((fl.FlightError, pa.lib.ArrowInvalid)):
        _put([("ms_b", 7_100_004, va)])
    got2 = _client_read(
        server,
        {"vector_multi_get": {"index": "ms_b", "vec_ids": [7_100_004]}},
    )
    assert got2.column("found").to_pylist() == [False]
    # unknown space errors cleanly
    with pytest.raises((fl.FlightError, pa.lib.ArrowInvalid)):
        _put([("nope", 1, va)])


def test_nearest_filtered_over_flight(served, sf_dir):
    """Filtered vector search over the wire: {'nearest': {...,
    'allow': [ids]}} returns only allowed ids; malformed filters 400."""
    from featureform_spark.serving.ann_index import IvfPqIndex
    from featureform_spark.sources.testdata import load_table

    spark, server, _dt, _it, _orders = served
    emb = load_table(spark, sf_dir, "embeddings")
    server.register_index(
        "embf", IvfPqIndex.build(emb, num_cells=16, m=8)
    )
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 4).first()["embedding"]
    ]
    allow = [1, 2, 3, 5, 8, 13, 21]
    got = _client_read(
        server,
        {"nearest": {"index": "embf", "vector": qvec, "k": 5,
                     "nprobe": 16, "allow": allow}},
    )
    ids = got.column("vec_id").to_pylist()
    assert ids and set(ids) <= set(allow)
    assert 4 not in ids  # the otherwise-nearest id is filtered out
    with pytest.raises(Exception, match="allow"):
        _client_read(
            server,
            {"nearest": {"index": "embf", "vector": qvec,
                         "allow": "not-a-list"}},
        )


def test_do_put_upsert_mode_iceberg(served, spark, tmp_path):
    """Flight CDC ingest: mode=upsert commits the uploaded batch's
    data file AND a key equality delete at one sequence number —
    JVM-free on the pod; old key versions disappear, new keys insert,
    replays with the same txn no-op."""
    _spark, server, _dt, _it, orders = served
    # a fresh unpartitioned iceberg table inside the served namespace
    t = IcebergProtocolTable(
        spark, str(_served_root(server) / "ns" / "orders_ups")
    )
    t.create(orders.limit(50))
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        rows = orders.limit(3).collect()
        tbl = pa.table(
            {
                "o_orderkey": pa.array(
                    [int(rows[0][0]), int(rows[1][0]), 9_999_999],
                    type=pa.int64(),
                ),
                "o_custkey": pa.array(
                    [int(rows[0][1]), int(rows[1][1]), 7],
                    type=pa.int64(),
                ),
                "o_totalprice": pa.array([1.5, 2.5, 3.5]),
            }
        )
        desc = fl.FlightDescriptor.for_command(
            json.dumps(
                {
                    "namespace": "ns",
                    "table": "orders_ups",
                    "mode": "upsert",
                    "keys": ["o_orderkey"],
                    "app_id": "cdc-pod",
                    "txn_version": 1,
                }
            ).encode()
        )
        writer, _meta = client.do_put(desc, tbl.schema)
        writer.write_table(tbl)
        writer.close()
        got = {
            r["o_orderkey"]: r["o_totalprice"]
            for r in t.snapshot().collect()
        }
        assert len(got) == 51
        assert got[int(rows[0][0])] == 1.5
        assert got[9_999_999] == 3.5
        # replay: same txn no-ops
        writer, _meta = client.do_put(desc, tbl.schema)
        writer.write_table(tbl)
        writer.close()
        assert t.snapshot().count() == 51
        # malformed: upsert without keys errors at the wire
        bad = fl.FlightDescriptor.for_command(
            json.dumps(
                {"namespace": "ns", "table": "orders_ups",
                 "mode": "upsert"}
            ).encode()
        )
        with pytest.raises(Exception, match="keys"):
            w, _m = client.do_put(bad, tbl.schema)
            w.write_table(tbl)
            w.close()
    finally:
        client.close()


def _served_root(server):
    """The catalog root the module fixture handed the server."""
    from pathlib import Path

    return Path(server.catalogs["default"])


def test_do_put_unknown_mode_and_iceberg_append_txn(served, spark, tmp_path):
    """An unrecognized mode must error at the wire, never degrade to a
    blind append; and the Iceberg APPEND path honors app_id/txn_version
    exactly like Delta's (a replayed upload is a recorded no-op)."""
    _spark, server, _dt, _it, orders = served
    t = IcebergProtocolTable(
        spark, str(_served_root(server) / "ns" / "orders_appx")
    )
    t.create(orders.limit(20))
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        tbl = pa.table(
            {
                "o_orderkey": pa.array([8_888_888], type=pa.int64()),
                "o_custkey": pa.array([1], type=pa.int64()),
                "o_totalprice": pa.array([1.0]),
            }
        )
        bad = fl.FlightDescriptor.for_command(
            json.dumps({"namespace": "ns", "table": "orders_appx",
                        "mode": "Upsert"}).encode()
        )
        with pytest.raises(Exception, match="unknown do_put mode"):
            w, _m = client.do_put(bad, tbl.schema)
            w.write_table(tbl)
            w.close()
        assert t.snapshot().count() == 20  # nothing appended
        desc = fl.FlightDescriptor.for_command(
            json.dumps({"namespace": "ns", "table": "orders_appx",
                        "app_id": "app-pod", "txn_version": 3}).encode()
        )
        for _ in range(2):  # second upload is the replay
            w, _m = client.do_put(desc, tbl.schema)
            w.write_table(tbl)
            w.close()
        assert t.snapshot().count() == 21  # landed exactly once
    finally:
        client.close()


# ------------------------------------------ one-pass snapshot scans


def test_delta_partitioned_with_dvs_roundtrip(served, tmp_path):
    """Partition literals and deletion-vector masks are applied per
    file inside the one dataset scan; the result equals snapshot()."""
    spark, server, dt, _it, orders = served
    root = os.path.dirname(os.path.dirname(dt.path))
    t = DeltaProtocolTable(spark, os.path.join(root, "ns", "parted"))
    t.create(
        orders.limit(300).select(
            "o_orderkey",
            "o_totalprice",
            (F.col("o_orderkey") % 3).alias("shard"),
            F.when(F.col("o_custkey") % 2 == 0, "even")
            .otherwise("odd")
            .alias("parity"),
        ).repartition(2),
        partition_by=["shard", "parity"],
    )
    t.delete_where(F.col("o_orderkey") % 4 == 1)
    assert any(a.get("deletionVector") for a in t.state().adds.values())
    got = _client_read(server, {"namespace": "ns", "table": "parted"})
    native = t.snapshot()
    assert got.schema.names == native.columns
    assert sorted(tuple(r.values()) for r in got.to_pylist()) == sorted(
        map(tuple, native.collect())
    )


def _hand_made_delta(path: str, files: list[list[int]]) -> DeltaProtocolTable:
    """A one-column Delta table without Spark: version 0 by hand, then
    one sessionless append per entry of ``files``."""
    import uuid

    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}}
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": [],
                "configuration": {},
            }
        },
    ]
    with open(os.path.join(log, "%020d.json" % 0), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    t = DeltaProtocolTable(None, path)
    for rows in files:
        t.append_arrow(pa.table({"k": pa.array(rows, pa.int64())}))
    return t


def test_delta_scan_keeps_file_order_and_caps(tmp_path):
    """Files stream in sorted add-path order, rows in file order, and
    the limit cuts across file boundaries."""
    import pyarrow.parquet as pq

    files = [list(range(i * 100, i * 100 + 7)) for i in range(6)]
    t = _hand_made_delta(str(tmp_path / "t"), files)
    by_path = {}
    for rel in t.state().adds:
        first = pq.read_table(os.path.join(t.path, rel))["k"][0]
        by_path[rel] = files[first.as_py() // 100]
    want = [k for rel in sorted(by_path) for k in by_path[rel]]
    got = scan_table_arrow(t.path).read_all()
    assert got["k"].to_pylist() == want
    for limit in (1, 7, 10, 41, 42, 1000):
        capped = scan_table_arrow(t.path, limit).read_all()
        assert capped["k"].to_pylist() == want[:limit]
    empty = _hand_made_delta(str(tmp_path / "empty"), [])
    assert scan_table_arrow(empty.path).read_all().num_rows == 0


def test_delta_scan_schema_same_with_and_without_files(tmp_path):
    """An empty table reports the schema its first file will: a
    decimal partition column is decimal128 either way."""
    import uuid

    import pyarrow.parquet as pq

    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {
                "name": "d",
                "type": "decimal(10,2)",
                "nullable": True,
                "metadata": {},
            },
        ],
    }
    meta = {
        "metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["d"],
            "configuration": {},
        }
    }
    proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    schemas = {}
    for name, with_file in (("empty", False), ("one", True)):
        path = str(tmp_path / name)
        os.makedirs(os.path.join(path, "_delta_log"))
        actions = [proto, meta]
        if with_file:
            rel = "d=1.50/part-0.parquet"
            os.makedirs(os.path.join(path, "d=1.50"))
            pq.write_table(
                pa.table({"k": pa.array([1, 2], pa.int64())}),
                os.path.join(path, rel),
            )
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {"d": "1.50"},
                        "size": os.path.getsize(os.path.join(path, rel)),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
        with open(os.path.join(path, "_delta_log", "%020d.json" % 0), "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions) + "\n")
        got = scan_table_arrow(path).read_all()
        schemas[name] = got.schema
    assert schemas["empty"] == schemas["one"]
    assert schemas["one"].field("d").type == pa.decimal128(10, 2)


# ------------------------------------------------------ stats action


@pytest.fixture()
def stats_server(tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    from featureform_spark.serving.hnsw_index import HnswIndex

    (tmp_path / "ns" / "pq").mkdir(parents=True)
    pq.write_table(
        pa.table({"k": list(range(50))}), str(tmp_path / "ns" / "pq" / "a.parquet")
    )
    index = HnswIndex(4, m=4, ef_construction=16)
    rng = np.random.default_rng(0)
    index.add(np.arange(20, dtype=np.int64), rng.normal(size=(20, 4)))
    server = DatasetStreamerServer({"default": str(tmp_path)})
    server.register_index("vec", index)
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    yield server, client
    client.close()
    server.shutdown()


def _stats(client) -> dict:
    (result,) = client.do_action(fl.Action("stats", b""))
    return json.loads(result.body.to_pybytes())


def _get(client, ticket: dict) -> pa.Table:
    return client.do_get(fl.Ticket(json.dumps(ticket).encode())).read_all()


def test_stats_counts_requests_per_kind(stats_server):
    _server, client = stats_server
    assert _stats(client) == {}
    for _ in range(3):
        _get(client, {"namespace": "ns", "table": "pq"})
    for _ in range(2):
        _get(client, {"nearest": {"index": "vec", "vector": [0.0] * 4, "k": 3}})
    _get(client, {"vector_get": {"index": "vec", "vec_id": 1}})
    writer, _ = client.do_put(
        fl.FlightDescriptor.for_command(b'{"index_add": "vec"}'),
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64()))]),
    )
    writer.write_table(
        pa.table({"vec_id": [99], "embedding": [[1.0, 2.0, 3.0, 4.0]]})
    )
    writer.close()
    got = {k: v["requests"] for k, v in _stats(client).items()}
    assert got == {"scan": 3, "nearest": 2, "vector_get": 1, "index_add": 1}


def test_stats_counts_errors(stats_server):
    _server, client = stats_server
    _get(client, {"nearest": {"index": "vec", "vector": [0.0] * 4}})
    for bad in (
        {"nearest": {"index": "missing", "vector": [0.0] * 4}},
        {"namespace": "ns", "table": "no_such_table"},
        {"namespace": "ns", "table": "pq", "limit": -1},
    ):
        with pytest.raises((fl.FlightServerError, pa.ArrowInvalid)):
            _get(client, bad)
    stats = _stats(client)
    assert (stats["nearest"]["requests"], stats["nearest"]["errors"]) == (2, 1)
    assert (stats["scan"]["requests"], stats["scan"]["errors"]) == (2, 2)
    with pytest.raises(
        (fl.FlightServerError, pa.ArrowInvalid), match="unknown action"
    ):
        list(client.do_action(fl.Action("nope", b"")))


def test_stats_latency_histogram(stats_server):
    server, client = stats_server
    for _ in range(4):
        _get(client, {"namespace": "ns", "table": "pq"})
    hist = _stats(client)["scan"]["latency_us"]
    assert sum(hist.values()) == 4
    for bound in map(int, hist):
        assert bound & (bound - 1) == 0  # powers of two
    # recording maps a duration to the bucket of its exclusive bound
    import time

    server.stats.record("probe", time.perf_counter() - 0.0015, ok=True)
    assert list(server.stats.snapshot()["probe"]["latency_us"]) == ["2048"]
