"""Arrow Flight dataset streamer (S18) — a real gRPC endpoint.

The reference serves Iceberg table scans to clients as Arrow record
batches over Flight (streamer/iceberg_streamer.py:17-106: a
FlightServerBase whose ``do_get`` parses a JSON ticket naming the
table, scans it through a catalog, and returns a RecordBatchStream
capped at 2M records). This module provides the same wire surface over
the in-repo table formats, with a design difference that matters at
scale: the serving path holds NO Spark session. Tickets resolve to
table directories; the scan streams pyarrow record batches (the same
sessionless read machinery the registered Python data sources use),
so a fleet of streamer pods can serve training workers without a JVM
each.

Ticket protocol (JSON, reference-compatible field names):

    {"catalog": "default", "namespace": "ns", "table": "t",
     "limit": 2000000}

``catalog`` selects a registered root directory; the table path is
``<root>/<namespace>/<table>``. A direct ``{"path": "/abs/table"}``
is also accepted. ``limit`` defaults to the reference's 2M-record cap.

Format handling per table directory:
- Delta protocol (``_delta_log``): the snapshot's live files stream
  through ONE pyarrow dataset scan (the Python Data Source's slice
  reader), deletion vectors applied as per-file row-index masks and
  Hive partition values attached as constant columns. Column-mapped
  tables gate to the native Spark reader.
- Iceberg protocol (``metadata/``): current-snapshot scan with
  position deletes applied (sequence-number aware, matching
  ``_read_with_deletes``); equality deletes gate.
- Anything else: a plain parquet dataset directory.
"""

from __future__ import annotations

import json
import os
import threading
import time
from typing import Iterator

import numpy as np
import pyarrow as pa

from featureform_spark.serving.streamer import TWO_MILLION_RECORD_LIMIT


class TicketError(ValueError):
    """Malformed or unresolvable flight ticket."""


# do_get tickets answered from a registered index instead of a table
# scan (embeddinghub parity): Nearest() from the in-RAM index, Get of
# one stored vector, and MultiGet of N ids in one round trip. Each is
# served by the server method of the same name with a leading "_".
_VECTOR_GETS = ("nearest", "vector_get", "vector_multi_get")


class RequestStats:
    """Per ticket kind: requests, errors and a latency histogram.

    ``do_action("stats")`` returns ``snapshot()`` as JSON. Histogram
    buckets are powers of two in microseconds, keyed by their
    exclusive upper bound: ``"2048": 7`` counts seven requests that
    took 1024-2047 µs. Recording is one lock and three integer
    updates, cheap enough to leave on."""

    def __init__(self):
        self._lock = threading.Lock()
        # kind -> [requests, errors, {bucket: count}]
        self._kinds: dict[str, list] = {}

    def record(self, kind: str, t0: float, ok: bool) -> None:
        """Count one request of ``kind`` that started at
        ``time.perf_counter()`` value ``t0``."""
        bucket = int((time.perf_counter() - t0) * 1e6).bit_length()
        with self._lock:
            entry = self._kinds.setdefault(kind, [0, 0, {}])
            entry[0] += 1
            entry[1] += not ok
            entry[2][bucket] = entry[2].get(bucket, 0) + 1

    def timed(self, kind: str, t0: float, batches) -> Iterator:
        """``batches`` passed through, recorded once they are drained
        (or fail)."""
        ok = False
        try:
            yield from batches
            ok = True
        finally:
            self.record(kind, t0, ok)

    def snapshot(self) -> dict:
        with self._lock:
            return {
                kind: {
                    "requests": n,
                    "errors": errors,
                    "latency_us": {
                        str(1 << b): c for b, c in sorted(hist.items())
                    },
                }
                for kind, (n, errors, hist) in sorted(self._kinds.items())
            }


# --------------------------------------------------------- table scans


def _detect_format(path: str) -> str:
    if os.path.isdir(os.path.join(path, "_delta_log")):
        return "delta"
    if os.path.isdir(os.path.join(path, "metadata")):
        return "iceberg"
    return "parquet"


def _mask_batches(
    batches: Iterator[pa.RecordBatch], deleted_pos: np.ndarray
) -> Iterator[pa.RecordBatch]:
    """Drop rows whose file-relative row index is in ``deleted_pos``
    (sorted uint64) while streaming — the sessionless analog of the
    broadcast anti-join on ``_metadata.row_index``."""
    offset = 0
    for batch in batches:
        n = batch.num_rows
        lo = np.searchsorted(deleted_pos, offset)
        hi = np.searchsorted(deleted_pos, offset + n)
        if hi > lo:
            keep = np.ones(n, dtype=bool)
            keep[(deleted_pos[lo:hi] - offset).astype(np.int64)] = False
            batch = batch.filter(pa.array(keep))
        offset += n
        if batch.num_rows:
            yield batch


def _delta_batches(
    path: str, with_row_ids: bool = False
) -> tuple[pa.Schema, Iterator[pa.RecordBatch]]:
    from featureform_spark.sources.delta_protocol import (
        DeltaProtocolError,
        DeltaProtocolTable,
        UnsupportedTableFeatureError,
    )
    from featureform_spark.sources.deltaprotocol_datasource import (
        _output_schema,
        _scan_slices,
        snapshot_slices,
    )

    t = DeltaProtocolTable(None, path)
    st = t.state()
    if st.column_mapping:
        raise UnsupportedTableFeatureError(
            "flight streamer: column-mapped Delta tables are served by "
            "the native Spark reader, not the sessionless scan"
        )
    mat = None
    if with_row_ids:
        if not st.row_tracking:
            raise DeltaProtocolError(
                "with_row_ids requires delta.enableRowTracking"
            )
        mat = st.materialized_row_id_cols or ("", "")
    slices = snapshot_slices(t, st, mat)
    if slices:
        return _scan_slices(slices)
    # no file to read column types from: every column takes its
    # logical type, as partition columns do
    schema = _output_schema(
        [f.name for f in st.schema.fields],
        {f.name: f.dataType.simpleString() for f in st.schema.fields},
        None,
        with_row_ids,
    )
    return schema, iter(())


def _iceberg_batches(path: str) -> tuple[pa.Schema, Iterator[pa.RecordBatch]]:
    import pyarrow.parquet as pq

    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
        UnsupportedIcebergFeatureError,
    )

    t = IcebergProtocolTable(None, path)
    md = t.metadata()
    order = [f.name for f in t.spark_schema(md).fields]
    snap = t._snapshot_by(None, md=md)
    if snap is None:
        raise TicketError(f"iceberg table at {path} has no snapshot")
    data_entries, delete_entries = t._live_entries(snap)
    if any(
        int(e["data_file"].get("content", 0)) == 2 for e in delete_entries
    ):
        raise UnsupportedIcebergFeatureError(
            "flight streamer: equality deletes are served by the "
            "native merge-on-read reader (IcebergProtocolTable.snapshot)"
        )
    # position deletes: (file_path, pos) parquet rows, applicable when
    # the delete's sequence number >= the data file's (same rule as
    # _read_with_deletes) — folded into per-file sorted position arrays
    from featureform_spark.sources.iceberg_protocol import _is_dv_file
    from featureform_spark.sources.dv_bitmap import (
        decode_rbm_array,
        read_dv_from_file,
    )

    data_files = [
        (
            t._resolve_path(e["data_file"]["file_path"]),
            int(e.get("sequence_number") or 0),
        )
        for e in data_entries
    ]
    seq_by_path = dict(data_files)
    del_by_path: dict[str, list[np.ndarray]] = {}
    for e in delete_entries:
        del_seq = int(e.get("sequence_number") or 0)
        df_ = e["data_file"]
        if _is_dv_file(df_):
            # v3 deletion vector: decode the referenced puffin blob
            ref = t._resolve_path(df_["referenced_data_file"])
            if del_seq >= seq_by_path.get(ref, 0):
                del_by_path.setdefault(ref, []).append(
                    decode_rbm_array(
                        read_dv_from_file(
                            t._resolve_path(df_["file_path"]),
                            int(df_["content_offset"]),
                            int(df_["content_size_in_bytes"]),
                        )
                    )
                )
            continue
        dtbl = pq.read_table(
            t._resolve_path(df_["file_path"]),
            columns=["file_path", "pos"],
        )
        fp = dtbl.column("file_path").to_numpy(zero_copy_only=False)
        pos = dtbl.column("pos").to_numpy(zero_copy_only=False)
        for p in np.unique(fp):
            p_str = str(p)
            if del_seq >= seq_by_path.get(p_str, 0):
                del_by_path.setdefault(p_str, []).append(
                    pos[fp == p].astype(np.uint64)
                )

    def _schema() -> pa.Schema:
        if data_files:
            fs = pq.read_schema(data_files[0][0])
            missing = [n for n in order if n not in fs.names]
            if missing:
                raise UnsupportedIcebergFeatureError(
                    f"flight streamer: columns {missing} are not stored "
                    "under their logical names (name-mapped / "
                    "metadata-partitioned table) — served by the native "
                    "Spark reader"
                )
            return pa.schema([fs.field(n) for n in order])
        return pa.schema([])

    def _gen() -> Iterator[pa.RecordBatch]:
        for p, _seq in sorted(data_files):
            pf = pq.ParquetFile(p)
            batches = (
                pa.RecordBatch.from_arrays(
                    [
                        b.column(b.schema.names.index(n))
                        for n in order
                    ],
                    names=order,
                )
                for b in pf.iter_batches()
            )
            dels = del_by_path.get(p)
            if dels:
                merged = np.unique(np.concatenate(dels))
                batches = _mask_batches(batches, merged)
            yield from batches

    return _schema(), _gen()


def _parquet_batches(path: str) -> tuple[pa.Schema, Iterator[pa.RecordBatch]]:
    import pyarrow.dataset as ds

    dataset = ds.dataset(path, format="parquet")

    def _gen() -> Iterator[pa.RecordBatch]:
        yield from dataset.to_batches()

    return dataset.schema, _gen()


def scan_table_arrow(
    path: str,
    limit: int = TWO_MILLION_RECORD_LIMIT,
    with_row_ids: bool = False,
) -> pa.RecordBatchReader:
    """Sessionless capped scan of a table directory as a
    RecordBatchReader — the payload ``do_get`` streams.
    ``with_row_ids`` appends _row_id/_row_commit_version on
    row-tracked Delta tables (ticket key ``with_row_ids``)."""
    fmt = _detect_format(path)
    if fmt == "delta":
        schema, gen = _delta_batches(path, with_row_ids=with_row_ids)
    elif fmt == "iceberg":
        if with_row_ids:
            raise TicketError(
                "with_row_ids is served for Delta row-tracked tables; "
                "Iceberg v3 row lineage reads go through "
                "snapshot_with_row_ids"
            )
        schema, gen = _iceberg_batches(path)
    else:
        if with_row_ids:
            raise TicketError("with_row_ids requires a Delta table")
        schema, gen = _parquet_batches(path)

    def _capped() -> Iterator[pa.RecordBatch]:
        remaining = limit
        for batch in gen:
            if remaining <= 0:
                return
            if batch.num_rows > remaining:
                yield batch.slice(0, remaining)
                return
            remaining -= batch.num_rows
            yield batch

    return pa.RecordBatchReader.from_batches(schema, _capped())


# --------------------------------------------------------- the server


class DatasetStreamerServer:
    """Flight gRPC server over registered catalog roots.

    ``catalogs`` maps catalog name -> root directory; tickets resolve
    ``<root>/<namespace>/<table>``. Bind port 0 for an ephemeral port
    (read it back from ``.port``). ``stats`` counts every do_get and
    do_put by ticket kind; clients read it with
    ``do_action(Action("stats", b""))``."""

    def __init__(
        self,
        catalogs: dict[str, str],
        location: str = "grpc://127.0.0.1:0",
    ):
        import pyarrow.flight as fl

        self.catalogs = dict(catalogs)
        self.stats = RequestStats()
        self.indexes: dict = {}  # name -> serving IvfPqIndex
        self._index_frozen: dict = {}  # name -> bool | callable
        outer = self

        class _Server(fl.FlightServerBase):
            def do_get(self, context, ticket):
                t0 = time.perf_counter()
                kind = "scan"
                try:
                    req = outer._parse(ticket.ticket)
                    kind = next((k for k in _VECTOR_GETS if k in req), kind)
                    if kind == "scan":
                        limit = outer._limit(req)
                        reader = scan_table_arrow(
                            outer._resolve(req), limit,
                            with_row_ids=bool(req.get("with_row_ids")),
                        )
                        # a scan's cost is paid while the stream drains
                        return fl.RecordBatchStream(
                            pa.RecordBatchReader.from_batches(
                                reader.schema,
                                outer.stats.timed(kind, t0, reader),
                            )
                        )
                    reader = getattr(outer, f"_{kind}")(req)
                except Exception:
                    outer.stats.record(kind, t0, ok=False)
                    raise
                outer.stats.record(kind, t0, ok=True)
                return fl.RecordBatchStream(reader)

            def do_action(self, context, action):
                if action.type != "stats":
                    raise TicketError(f"unknown action {action.type!r}")
                return [fl.Result(json.dumps(outer.stats.snapshot()).encode())]

            def get_flight_info(self, context, descriptor):
                req = outer._parse(descriptor.command)
                reader = scan_table_arrow(
                    outer._resolve(req), 0,
                    with_row_ids=bool(req.get("with_row_ids")),
                )
                endpoint = fl.FlightEndpoint(
                    fl.Ticket(descriptor.command), []
                )
                return fl.FlightInfo(
                    reader.schema, descriptor, [endpoint], -1, -1
                )

            def list_flights(self, context, criteria):
                # enumerate <catalog>/<namespace>/<table> dirs as
                # descriptors whose command replays through do_get
                for cat, root in sorted(outer.catalogs.items()):
                    if not os.path.isdir(root):
                        continue
                    for ns in sorted(os.listdir(root)):
                        ns_dir = os.path.join(root, ns)
                        if not os.path.isdir(ns_dir):
                            continue
                        for tbl in sorted(os.listdir(ns_dir)):
                            if not os.path.isdir(
                                os.path.join(ns_dir, tbl)
                            ):
                                continue
                            cmd = json.dumps(
                                {
                                    "catalog": cat,
                                    "namespace": ns,
                                    "table": tbl,
                                }
                            ).encode()
                            yield self.get_flight_info(
                                context,
                                fl.FlightDescriptor.for_command(cmd),
                            )

            def do_put(self, context, descriptor, reader, writer):
                t0 = time.perf_counter()
                kind = "put"
                try:
                    req = outer._parse(descriptor.command)
                    if "index_add" in req:
                        # embeddinghub write path: uploaded (vec_id,
                        # embedding) batches become queryable at once
                        kind = "index_add"
                        outer._index_add(req["index_add"], reader)
                    elif "multi_set" in req:
                        # embeddinghub MultiSet: one upload sets vectors
                        # across MULTIPLE spaces (per-row space column)
                        kind = "multi_set"
                        outer._multi_set(reader)
                    else:
                        outer._table_put(req, reader)
                except Exception:
                    outer.stats.record(kind, t0, ok=False)
                    raise
                outer.stats.record(kind, t0, ok=True)

        self._server = _Server(location)
        self.port = self._server.port

    def _parse(self, raw: bytes) -> dict:
        try:
            req = json.loads(raw.decode("utf-8"))
        except (UnicodeDecodeError, json.JSONDecodeError) as e:
            raise TicketError(f"invalid JSON ticket: {e}") from e
        if not isinstance(req, dict):
            raise TicketError("ticket must be a JSON object")
        return req

    def _table_put(self, req: dict, reader) -> None:
        """Ingest: uploaded record batches append to the target table —
        a Delta table commits through the sessionless transaction-log
        writer (exactly-once via an optional {"app_id", "txn_version"}
        in the descriptor), a plain parquet dir gains one part file.
        No Spark on the pod."""
        path = self._resolve(req)
        fmt = _detect_format(path)
        if fmt == "delta":
            from featureform_spark.sources.delta_protocol import (
                DeltaProtocolTable,
            )

            txn = None
            if req.get("app_id") is not None:
                txn = (
                    str(req["app_id"]),
                    int(req.get("txn_version", 0)),
                )
            # to_reader(): the upload STREAMS into the part
            # file — never materialized in pod memory
            DeltaProtocolTable(None, path).append_arrow(
                reader.to_reader(), txn=txn
            )
        elif fmt == "iceberg":
            from featureform_spark.sources.iceberg_protocol import (
                IcebergProtocolTable,
            )

            t = IcebergProtocolTable(None, path)
            mode = req.get("mode", "append")
            if mode not in ("append", "upsert"):
                # an unrecognized/misspelled mode must never
                # degrade to a blind append — for a CDC client
                # that silently duplicates every key version
                raise ValueError(
                    f"unknown do_put mode {mode!r}: expected "
                    "'append' or 'upsert'"
                )
            if mode == "upsert":
                # CDC ingest: data files + a key equality
                # delete at one sequence number (the Flink
                # upsert-sink shape) — still zero Spark on the
                # pod; optional {"app_id", "txn_version"} gives
                # exactly-once replays via snapshot-summary
                # watermarks
                keys = req.get("keys")
                if not isinstance(keys, list) or not keys:
                    raise ValueError(
                        "upsert mode needs a non-empty 'keys' "
                        "list in the descriptor"
                    )
                txn = None
                if req.get("app_id") is not None:
                    txn = (
                        str(req["app_id"]),
                        int(req.get("txn_version", 0)),
                    )
                t.upsert_arrow(
                    reader.to_reader(),
                    [str(k) for k in keys],
                    txn=txn,
                )
            else:
                txn = None
                if req.get("app_id") is not None:
                    txn = (
                        str(req["app_id"]),
                        int(req.get("txn_version", 0)),
                    )
                t.append_arrow(reader.to_reader(), txn=txn)
        else:
            import uuid as _uuid

            import pyarrow.parquet as pq

            target = os.path.join(
                path, f"part-{_uuid.uuid4().hex}.parquet"
            )
            pqw = None
            try:
                for chunk in reader:
                    batch = chunk.data
                    if batch is None:
                        continue
                    if pqw is None:
                        pqw = pq.ParquetWriter(
                            target, batch.schema
                        )
                    pqw.write_batch(batch)
            finally:
                if pqw is not None:
                    pqw.close()

    # -- vector plane (embeddinghub parity) -----------------------------------

    def register_index(self, name: str, index, frozen=False) -> None:
        """Attach a built serving index (IvfPqIndex / HnswIndex /
        ShardedHnsw) so ``{"nearest": ...}`` tickets and
        ``{"index_add": ...}`` uploads can serve it — the reference's
        embeddingstore gRPC surface.

        ``frozen`` is a bool or a zero-arg callable consulted per
        write; pass ``lambda: store.is_frozen(name)`` when the space's
        lifecycle lives in an ``InMemoryOnlineStore`` so a
        ``freeze_vectors()`` there also closes the Flight write path
        (FreezeSpace parity — without this a DoPut could mutate a
        frozen space the store layer refuses to write)."""
        self.indexes[name] = index
        self._index_frozen[name] = frozen

    def freeze_index(self, name: str) -> None:
        """Mark a registered index immutable for Flight writes."""
        if name not in self.indexes:
            raise KeyError(name)
        self._index_frozen[name] = True

    def _is_index_frozen(self, name: str) -> bool:
        flag = self._index_frozen.get(name, False)
        return bool(flag() if callable(flag) else flag)

    def _nearest(self, req: dict):
        import pyarrow as pa

        spec = req["nearest"]
        if not isinstance(spec, dict):
            raise TicketError("'nearest' must be an object")
        try:
            ix = self.indexes[spec["index"]]
        except KeyError as e:
            raise TicketError(f"unknown index {spec.get('index')!r}") from e
        vector = spec.get("vector")
        if not isinstance(vector, list) or not vector:
            raise TicketError("'nearest.vector' must be a non-empty list")
        kwargs = {
            key: int(spec[key])
            for key in ("nprobe", "rerank", "ef", "probe_shards")
            if key in spec
        }
        kwargs.setdefault("nprobe", 8)
        kwargs.setdefault("rerank", 100)
        if "allow" in spec:
            allow = spec["allow"]
            if not isinstance(allow, list) or not all(
                isinstance(i, int) for i in allow
            ):
                raise TicketError(
                    "'nearest.allow' must be a list of int ids"
                )
            kwargs["allow"] = frozenset(allow)
        hits = ix.query(
            [float(x) for x in vector],
            k=int(spec.get("k", 10)),
            **kwargs,
        )
        table = pa.table(
            {
                "vec_id": pa.array([i for i, _ in hits], pa.int64()),
                "distance": pa.array([d for _, d in hits], pa.float64()),
            }
        )
        return table.to_reader()

    def _vector_get(self, req: dict):
        import pyarrow as pa

        spec = req["vector_get"]
        if not isinstance(spec, dict):
            raise TicketError("'vector_get' must be an object")
        try:
            ix = self.indexes[spec["index"]]
        except KeyError as e:
            raise TicketError(f"unknown index {spec.get('index')!r}") from e
        if "vec_id" not in spec:
            raise TicketError("'vector_get.vec_id' is required")
        vid = int(spec["vec_id"])
        vec = ix.get(vid)
        hits = [] if vec is None else [(vid, vec)]
        table = pa.table(
            {
                "vec_id": pa.array([i for i, _ in hits], pa.int64()),
                "embedding": pa.array(
                    [v for _, v in hits], pa.list_(pa.float64())
                ),
            }
        )
        return table.to_reader()

    def _vector_multi_get(self, req: dict):
        """MultiGet parity (embeddingstore/server.cc:151-171): one
        do_get answers N point lookups. The reference's bidirectional
        stream writes one response PER request in order — here one
        Arrow table whose rows align 1:1 with ``vec_ids`` (missing ids
        keep their row with ``found=false`` and a NULL embedding, the
        stream analog of the reference's empty-values Embedding)."""
        import pyarrow as pa

        spec = req["vector_multi_get"]
        if not isinstance(spec, dict):
            raise TicketError("'vector_multi_get' must be an object")
        try:
            ix = self.indexes[spec["index"]]
        except KeyError as e:
            raise TicketError(f"unknown index {spec.get('index')!r}") from e
        vec_ids = spec.get("vec_ids")
        if not isinstance(vec_ids, list):
            raise TicketError("'vector_multi_get.vec_ids' must be a list")
        out_ids: list[int] = []
        out_vecs: list[list[float] | None] = []
        for vid in vec_ids:
            vid = int(vid)
            out_ids.append(vid)
            out_vecs.append(ix.get(vid))
        table = pa.table(
            {
                "vec_id": pa.array(out_ids, pa.int64()),
                "found": pa.array(
                    [v is not None for v in out_vecs], pa.bool_()
                ),
                "embedding": pa.array(out_vecs, pa.list_(pa.float64())),
            }
        )
        return table.to_reader()

    def _multi_set(self, reader) -> None:
        """MultiSet parity (embeddingstore/server.cc:131-149): one
        do_put streams (space, vec_id, embedding) rows into MULTIPLE
        spaces. Like the reference's client-stream loop, batches apply
        as they arrive — an unknown or frozen space aborts the stream
        at that batch (FAILED_PRECONDITION analog) with earlier
        batches already applied. Rows within a batch are grouped per
        space so each index sees one batched add."""
        for chunk in reader:
            batch = chunk.data
            if batch is None:
                continue
            spaces = batch.column("space").to_pylist()
            ids = batch.column("vec_id").to_pylist()
            vecs = batch.column("embedding").to_pylist()
            groups: dict[str, tuple[list, list]] = {}
            for s, i, v in zip(spaces, ids, vecs):
                name = str(s)
                if name not in self.indexes:
                    raise TicketError(
                        f"unknown index in multi_set: {name!r}"
                    )
                if self._is_index_frozen(name):
                    raise TicketError(
                        f"Cannot write to immutable space: {name!r}"
                    )
                g = groups.setdefault(name, ([], []))
                g[0].append(i)
                g[1].append(v)
            for name, (gids, gvecs) in groups.items():
                self.indexes[name].add(gids, gvecs)

    def _index_add(self, spec, reader) -> None:
        if isinstance(spec, str):
            spec = {"index": spec}
        try:
            name = spec["index"]
            ix = self.indexes[name]
        except (TypeError, KeyError) as e:
            raise TicketError(f"unknown index in index_add: {spec!r}") from e
        if self._is_index_frozen(name):
            raise TicketError(
                f"Cannot write to immutable space: {name!r}"
            )
        for chunk in reader:
            batch = chunk.data
            if batch is None:
                continue
            ids = batch.column("vec_id").to_pylist()
            vecs = batch.column("embedding").to_pylist()
            if ids:
                ix.add(ids, vecs)

    @staticmethod
    def _limit(req: dict) -> int:
        limit = req.get("limit", TWO_MILLION_RECORD_LIMIT)
        if not isinstance(limit, int) or isinstance(limit, bool) or limit <= 0:
            raise TicketError(
                f"invalid 'limit' value: {limit!r} — must be a "
                "positive integer"
            )
        return limit

    def _resolve(self, req: dict) -> str:
        if req.get("path"):
            # direct paths must live under a registered catalog root —
            # a ticket is not a license to read arbitrary directories
            path = os.path.realpath(req["path"])
            roots = [
                os.path.realpath(r) for r in self.catalogs.values()
            ]
            if not any(
                path == r or path.startswith(r + os.sep) for r in roots
            ):
                raise TicketError(
                    f"path {req['path']!r} is outside every registered "
                    "catalog root"
                )
        else:
            missing = [
                f for f in ("namespace", "table") if not req.get(f)
            ]
            if missing:
                raise TicketError(
                    "missing required request fields: "
                    + ", ".join(missing)
                )
            cat = req.get("catalog", "default")
            root = os.path.realpath(self._catalog_root(cat))
            # namespace/table are single path components, not paths —
            # realpath-confine the join so "../..", absolute names, or
            # symlink hops cannot escape the catalog root (same check
            # as the direct-path branch above)
            path = os.path.realpath(
                os.path.join(root, req["namespace"], req["table"])
            )
            if not path.startswith(root + os.sep):
                raise TicketError(
                    f"namespace/table {req['namespace']!r}/"
                    f"{req['table']!r} escapes catalog root"
                )
        if not os.path.isdir(path):
            raise TicketError(f"no table directory at {path}")
        return path

    def _catalog_root(self, name: str) -> str:
        try:
            return self.catalogs[name]
        except KeyError:
            raise TicketError(f"unknown catalog {name!r}") from None

    # lifecycle passthroughs
    def serve(self) -> None:
        self._server.serve()

    def shutdown(self) -> None:
        self._server.shutdown()

    def wait(self) -> None:
        self._server.wait()

    def __enter__(self) -> "DatasetStreamerServer":
        return self

    def __exit__(self, *exc) -> None:
        self.shutdown()
