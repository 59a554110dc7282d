"""serving_mix: one closed-loop client (a model server that waits for
each reply) running a fixed, seeded mix against the serving plane.

Per block of 200 requests: 165 ``SqliteOnlineStore.serve_features``
lookups (1 entity x 3 tables, Zipf(1.1) keys), 20 Flight ``nearest``
queries against an ``IvfPqIndex`` and 5 against an ``HnswIndex``, 5
Flight ``do_get`` scans of a Delta feature table and 5 Flight
``do_put`` 1k-row appends to that table. The Flight server runs in a
child process and loads the indexes saved in set-up. Spark runs only
in set-up (the online copy and the feature table); the indexes are
built without it, see ``ivfpq_index``."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import traceback

import numpy as np
import pyarrow as pa

from common import median, percentile
from inputs import events, vectors, write_parquet_dir, zipf_users

N_KEYS = 10_000
N_EVENTS = 30_000
N_VECTORS = 5_000
N_HNSW = 500  # the graph is built by sequential inserts in Python
DIM = 64
N_QUERIES = 256
SCAN_ROWS = 20_000
PUT_ROWS = 1_000
MIX = {"lookup": 165, "nearest": 20, "hnsw": 5, "scan": 5, "put": 5}
TABLES = ("f_value", "f_type", "f_event")
# request parameters per ANN kind: IVF-PQ probes and exact rerank, HNSW beam
ANN_PARAMS = {"nearest": {"nprobe": 8, "rerank": 200}, "hnsw": {"ef": 64}}
ANN_INDEX = {"nearest": "vec", "hnsw": "hnsw"}
HNSW_BUILD = {"m": 8, "ef_construction": 40}
RECALL_FLOOR = 0.8
IVF = {"num_cells": 32, "m": 8, "ksub": 16}


def ivfpq_index(vecs: np.ndarray, rng: np.random.Generator):
    """An ``IvfPqIndex`` seeded as ``IvfPqIndex.build`` seeds it, with
    coarse centroids and per-subspace codewords sampled from the data,
    then filled through the library's own ``add``. The Spark build
    (which also runs one Lloyd round on the codewords) costs ~13 s of
    cold start per run, more than a run can spend on set-up that the
    end-to-end metrics do not count."""
    from featureform_spark.serving.ann_index import IvfPqIndex

    n, dim = vecs.shape
    m, ksub = IVF["m"], IVF["ksub"]
    cents = vecs[rng.choice(n, IVF["num_cells"], replace=False)].astype(np.float64)
    empty = dict(ids=np.empty(0, np.int64), cells=np.empty(0, np.int32),
                 codes=np.empty((0, m), np.uint8), vectors=np.empty((0, dim), np.float32))
    # a one-codeword index places every vector in its cell by the
    # library's rule; codewords are sampled from the residuals
    cells = IvfPqIndex(cents, np.zeros((m, 1, dim // m)), **empty)
    cells.add(np.arange(n), vecs)
    resid = vecs[cells.ids] - cents[cells.cells]
    pick = rng.choice(n, ksub, replace=False)
    codebook = resid[pick].reshape(ksub, m, dim // m).transpose(1, 0, 2)
    index = IvfPqIndex(cents, np.ascontiguousarray(codebook), **empty)
    index.add(np.arange(n), vecs)
    return index


class ServingMix:
    pass_len = sum(MIX.values())

    def __init__(self, name: str, seed: int, run, tracer):
        self.name = name
        self.seed = seed
        self.run = run
        self.tracer = tracer
        self.rng = np.random.default_rng(seed + 1)
        self.n_setups = 0
        self.server = None
        self.copy_rows_per_s: list[float] = []
        self.ann_results: dict[str, list[tuple[int, list[int]]]] = {k: [] for k in ANN_INDEX}
        self.multiget: list[float] = []

    def prepare(self) -> None:
        ev = events(self.seed, N_EVENTS, N_KEYS)
        self.events_dir = write_parquet_dir(ev, self.run.sub("data", "serving_events"))
        pdf = ev.to_pandas()
        latest = pdf.loc[pdf.groupby("user_id")["ts"].idxmax()].set_index("user_id")
        self.expected = {
            int(u): (float(v), str(t), int(e))
            for u, v, t, e in zip(latest.index, latest["value"], latest["event_type"], latest["event_id"])
        }
        self.vectors = vectors(self.seed, N_VECTORS, DIM)
        # each index is queried near its own vectors; the HNSW graph
        # holds the first N_HNSW of them
        self.base = {"nearest": self.vectors, "hnsw": self.vectors[:N_HNSW]}
        self.queries = {}
        for kind, base in self.base.items():
            pick = self.rng.choice(len(base), N_QUERIES, replace=False)
            noise = self.rng.normal(0, 0.05, (N_QUERIES, DIM)).astype(np.float32)
            self.queries[kind] = base[pick] + noise
        self.scan_init = pa.table(
            {
                "entity": np.arange(SCAN_ROWS, dtype=np.int64),
                "score": self.rng.normal(0, 1, SCAN_ROWS),
                "bucket": self.rng.integers(0, 100, SCAN_ROWS),
            }
        )

    def setup(self, spark) -> None:
        """Online copy, index builds, feature table and server start,
        each into fresh directories."""
        from featureform_spark import Registry
        from featureform_spark.plans.engine import Engine
        from featureform_spark.registry import FeatureVariant
        from featureform_spark.serving.hnsw_index import HnswIndex
        from featureform_spark.serving.online import materialize_to_online
        from featureform_spark.serving.sqlite_store import SqliteOnlineStore
        from featureform_spark.sources.delta_protocol import DeltaProtocolTable

        self.close()
        self.n_setups += 1
        root = self.run.sub("data", f"serving-{self.n_setups}")

        reg = Registry()
        reg.register_file("events", self.events_dir, timestamp_column="ts")
        for table, col, vtype in zip(TABLES, ("value", "event_type", "event_id"),
                                     ("float64", "string", "int64")):
            reg.register(FeatureVariant(
                name=table, source="events.default", entity="user",
                entity_column="user_id", value_column=col,
                timestamp_column="ts", value_type=vtype,
            ))
        engine = Engine(spark, reg)
        self.store = SqliteOnlineStore(os.path.join(root, "online.sqlite"))
        t0 = time.perf_counter()
        for table in TABLES:
            materialize_to_online(engine.materialize(f"{table}.default"), self.store, table)
        t1 = time.perf_counter()
        self.copy_rows_per_s.append(len(TABLES) * len(self.expected) / (t1 - t0))

        index_path = os.path.join(root, "index.npz")
        hnsw_path = os.path.join(root, "hnsw.npz")
        self.index = {"nearest": ivfpq_index(self.vectors, np.random.default_rng(self.seed + 2))}
        self.index["nearest"].save(index_path)
        t2 = time.perf_counter()
        # HnswIndex.build is a collect followed by this sequential add
        self.index["hnsw"] = HnswIndex(DIM, **HNSW_BUILD)
        self.index["hnsw"].add(np.arange(N_HNSW, dtype=np.int64), self.base["hnsw"])
        self.index["hnsw"].save(hnsw_path)
        t3 = time.perf_counter()

        catalog = os.path.join(root, "catalog")
        self.scan_path = os.path.join(catalog, "ns", "features")
        DeltaProtocolTable(spark, self.scan_path).create(spark.createDataFrame(self.scan_init.to_pandas()))
        self.scan_rows = SCAN_ROWS
        self.next_entity = SCAN_ROWS

        self.server = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "flight_child.py"),
             catalog, index_path, hnsw_path],
            stdout=subprocess.PIPE, text=True,
        )
        port = int(self.server.stdout.readline())
        import pyarrow.flight as fl

        self.client = fl.connect(f"grpc://127.0.0.1:{port}")
        self.client.wait_for_available(timeout=30)
        self.setup_parts = {"online_copy_s": round(t1 - t0, 4), "index_build_s": round(t2 - t1, 4),
                            "hnsw_build_s": round(t3 - t2, 4),
                            "table_and_server_s": round(time.perf_counter() - t3, 4)}

    # -- one block of requests --------------------------------------------------

    def _block(self) -> list[tuple[str, object]]:
        kinds = np.array([k for k, n in MIX.items() for _ in range(n)])
        self.rng.shuffle(kinds)
        args = {"lookup": iter(zipf_users(self.rng, MIX["lookup"], N_KEYS, 1.1))}
        for kind in ANN_INDEX:
            args[kind] = iter(self.rng.integers(0, N_QUERIES, MIX[kind]))
        return [(str(k), int(next(args[k])) if k in args else None) for k in kinds]

    def run_pass(self, deadline: float | None = None) -> list[dict]:
        import pyarrow.flight as fl

        table = json.dumps({"catalog": "bench", "namespace": "ns", "table": "features"}).encode()
        scan_ticket = fl.Ticket(table)
        put_desc = fl.FlightDescriptor.for_command(table)
        out = []
        for kind, arg in self._block():
            if deadline is not None and time.perf_counter() >= deadline:
                break
            if kind == "put":
                ids = np.arange(self.next_entity, self.next_entity + PUT_ROWS, dtype=np.int64)
                batch = pa.table({"entity": ids, "score": self.rng.normal(0, 1, PUT_ROWS),
                                  "bucket": self.rng.integers(0, 100, PUT_ROWS)})
            elif kind in ANN_INDEX:
                ticket = fl.Ticket(json.dumps({"nearest": {
                    "index": ANN_INDEX[kind], "vector": self.queries[kind][arg].tolist(), "k": 10,
                    **ANN_PARAMS[kind]}}).encode())
            res: dict = {"kind": kind, "ok": True}
            try:
                with self.tracer.op(kind) as rec:
                    if kind == "lookup":
                        got = self.store.serve_features(list(TABLES), arg)
                    elif kind in ANN_INDEX:
                        got = self.client.do_get(ticket).read_all()
                    elif kind == "scan":
                        reader = self.client.do_get(scan_ticket)
                        first = reader.read_chunk().data
                        res["ttfb_s"] = time.perf_counter() - rec["t0"]
                        rest = reader.read_all()
                        got = first.num_rows + rest.num_rows, first.nbytes + rest.nbytes
                    else:
                        writer, _ = self.client.do_put(put_desc, batch.schema)
                        writer.write_table(batch)
                        writer.close()
                        got = None
            except Exception:  # noqa: BLE001 - counted as a failed op
                traceback.print_exc()
                res["ok"] = False
            res.update(dur=rec["dur"], span=rec["id"], part="serving")
            if res["ok"]:
                res["ok"] = self._check(kind, arg, got, res)
            out.append(res)
        if self.tracer.enabled:
            self._multiget()
        return out

    def _check(self, kind: str, arg, got, res: dict) -> bool:
        """Outside the op's timing: lookups return the materialized
        values, nearest returns k ids, scans return every committed
        row. Recall is checked over all queries at the end."""
        if kind == "lookup":
            want = self.expected.get(arg)
            return got == (list(want) if want else [None] * len(TABLES))
        if kind in ANN_INDEX:
            ids = got.column("vec_id").to_pylist()
            self.ann_results[kind].append((arg, ids))
            if self.tracer.enabled:
                t0 = time.perf_counter()
                self.index[kind].query(self.queries[kind][arg].tolist(), k=10, **ANN_PARAMS[kind])
                res["direct_s"] = time.perf_counter() - t0
            return len(ids) == 10
        if kind == "scan":
            res["mb"] = got[1] / 1e6
            return got[0] == self.scan_rows
        self.scan_rows += PUT_ROWS
        self.next_entity += PUT_ROWS
        return True

    def _multiget(self, n: int = 20, keys: int = 100) -> None:
        """Batches of 100 entities x 3 tables, the online layer alone."""
        for _ in range(n):
            entities = zipf_users(self.rng, keys, N_KEYS, 1.1).tolist()
            t0 = time.perf_counter()
            for e in entities:
                self.store.serve_features(list(TABLES), e)
            self.multiget.append((time.perf_counter() - t0) * 1e6)

    # -- checks and metrics -------------------------------------------------------

    def verify(self) -> list[str]:
        self.recall = {kind: self._recall(kind) for kind in ANN_INDEX}
        return [f"{kind} recall@10 {r:.3f} below {RECALL_FLOOR}"
                for kind, r in self.recall.items() if r < RECALL_FLOOR]

    def _recall(self, kind: str) -> float:
        """True top-10 found / 10, over every query of the run."""
        base, found = self.base[kind], []
        for q, ids in self.ann_results[kind]:
            d = ((base - self.queries[kind][q]) ** 2).sum(axis=1)
            exact = set(np.argpartition(d, 10)[:10].tolist())
            found.append(len(exact & set(ids)) / 10.0)
        return float(np.mean(found)) if found else 0.0

    def layer_metrics(self, records: list[dict], ledgers: dict) -> dict:
        def us(kind, key="dur"):
            return [r[key] * 1e6 for r in records if r["kind"] == kind and r["ok"] and key in r]

        lookups, nearest, direct = us("lookup"), us("nearest"), us("nearest", "direct_s")
        hnsw, hnsw_direct = us("hnsw"), us("hnsw", "direct_s")
        scans = [r for r in records if r["kind"] == "scan" and r["ok"]]
        return {
            "online.lookup_p50_us": median(lookups),
            "online.lookup_p90_us": percentile(lookups, 90) or 0.0,
            "online.multiget100_p50_us": median(self.multiget),
            "online.multiget100_p90_us": percentile(self.multiget, 90) or 0.0,
            "online.copy_rows_per_s": median(self.copy_rows_per_s),
            "ann.query_p50_us": median(direct),
            "ann.query_p90_us": percentile(direct, 90) or 0.0,
            "ann.recall_at_10": self.recall["nearest"],
            "hnsw.query_p50_us": median(hnsw_direct),
            "hnsw.recall_at_10": self.recall["hnsw"],
            "flight.nearest_p50_us": median(nearest),
            "flight.nearest_p90_us": percentile(nearest, 90) or 0.0,
            "flight.nearest_transport_us": median(nearest) - median(direct),
            "flight.hnsw_nearest_p50_us": median(hnsw),
            "flight.scan_p50_ms": median([r["dur"] * 1e3 for r in scans]),
            "flight.scan_ttfb_ms": median([r["ttfb_s"] * 1e3 for r in scans]),
            "flight.scan_mb_per_s": median([r["mb"] / r["dur"] for r in scans]),
            "flight.put_p50_ms": median([x / 1e3 for x in us("put")]),
        }

    def close(self) -> None:
        if self.server is not None:
            self.client.close()
            self.server.terminate()
            try:
                self.server.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.server.kill()
                self.server.wait()
            self.server.stdout.close()
            self.server = None
            self.store.close()
