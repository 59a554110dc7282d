"""table_commits: a fixed, seeded cycle of commits and reads on one
Delta table, one Iceberg table and one wide feature table, shaped like
the reference benchmark table (entity 1..10^4, int64 features) but 64
features wide, not 250, so a run fits its time budget.

The logs grow through the run and writes sit beside reads on the same
tables. Expected contents are replayed in pandas from the same op
sequence and compared with the final snapshots."""

from __future__ import annotations

import glob
import os
import time
import traceback

import numpy as np
import pandas as pd

from common import force, median
from inputs import wide_rows

N_ENTITIES = 10_000
N_FEATURES = 64
APPEND_ROWS = 500
MERGE_ROWS = 500
WIDE_ROWS = 2_000
STRIPE = 97
ROW_BYTES = (N_FEATURES + 1) * 8

OPS = (
    "delta_append", "delta_merge", "delta_delete", "delta_read",
    "iceberg_append", "iceberg_upsert", "iceberg_delete", "iceberg_read",
    "wide_upsert",
)


def data_files(table_dir: str) -> dict[str, int]:
    """Data, delete and deletion-vector files under a table (its log
    and metadata excluded), with their sizes."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(table_dir):
        dirnames[:] = [d for d in dirnames if d not in ("_delta_log", "metadata")]
        for name in filenames:
            if not name.startswith((".", "_")) and not name.endswith(".crc"):
                path = os.path.join(dirpath, name)
                out[path] = os.path.getsize(path)
    return out


class TableCommits:
    pass_len = len(OPS)

    def __init__(self, name: str, seed: int, run, tracer):
        self.name = name
        self.seed = seed
        self.run = run
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.base = pd.DataFrame(
            wide_rows(self.rng, np.arange(1, N_ENTITIES + 1), N_FEATURES)
        ).set_index("entity")
        self.n_setups = 0
        self.passes = 0

    def setup(self, spark) -> None:
        """Create the three tables afresh; the last set-up is the one
        the run uses."""
        from featureform_spark.sources.delta_protocol import DeltaProtocolTable
        from featureform_spark.sources.feature_table import WideFeatureTable
        from featureform_spark.sources.iceberg_protocol import IcebergProtocolTable

        self.spark = spark
        self.n_setups += 1
        root = self.run.sub("data", f"tables-{self.n_setups}")
        df = spark.createDataFrame(self.base.reset_index())
        self.delta = DeltaProtocolTable(spark, os.path.join(root, "delta"))
        self.delta.create(df)
        self.iceberg = IcebergProtocolTable(spark, os.path.join(root, "iceberg"))
        self.iceberg.create(df)
        self.wide = WideFeatureTable(spark, os.path.join(root, "wide"))
        self.wide.upsert_feature("feat_0", self._wide_batch())
        self.expected = {"delta": self.base.copy(), "iceberg": self.base.copy()}
        self.next_entity = N_ENTITIES + 1

    # -- seeded batches -------------------------------------------------------

    def _fresh(self, n: int) -> np.ndarray:
        ids = np.arange(self.next_entity, self.next_entity + n)
        self.next_entity += n
        return ids

    def _batch(self, entities: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame(wide_rows(self.rng, entities, N_FEATURES)).set_index("entity")

    def _wide_batch(self):
        ids = self.rng.choice(np.arange(1, N_ENTITIES + 1), WIDE_ROWS, replace=False)
        vals = self.rng.normal(0.0, 1.0, WIDE_ROWS)
        return self.spark.createDataFrame(pd.DataFrame({"entity": ids, "value": vals}))

    # -- one pass ---------------------------------------------------------------

    def run_pass(self, deadline: float | None = None) -> list[dict]:
        self.passes += 1
        stripe = f"entity % {STRIPE} = {self.passes % STRIPE}"
        appended = self._batch(self._fresh(APPEND_ROWS))
        # updates hit a contiguous key range (recently active entities),
        # so copy-on-write touches few files
        start = int(self.rng.integers(1, N_ENTITIES - MERGE_ROWS))
        existing = np.arange(start, start + MERGE_ROWS // 2)
        merged = self._batch(np.concatenate([existing, self._fresh(MERGE_ROWS - MERGE_ROWS // 2)]))
        sdf_append = self.spark.createDataFrame(appended.reset_index())
        sdf_merge = self.spark.createDataFrame(merged.reset_index())
        wide_mat = self._wide_batch()

        steps = (
            ("delta_append", lambda: self.delta.append(sdf_append)),
            ("delta_merge", lambda: self.delta.merge(sdf_merge, key="entity")),
            ("delta_delete", lambda: self.delta.delete_where(stripe)),
            ("delta_read", lambda: force(self.delta.snapshot())),
            ("iceberg_append", lambda: self.iceberg.append(sdf_append)),
            ("iceberg_upsert", lambda: self.iceberg.upsert(sdf_merge, ["entity"])),
            ("iceberg_delete", lambda: self.iceberg.delete_rows(stripe)),
            ("iceberg_read", lambda: force(self.iceberg.snapshot())),
            ("wide_upsert", lambda: self.wide.upsert_feature(f"feat_{self.passes % 3}", wide_mat)),
        )
        out = []
        for kind, call in steps:
            if deadline is not None and time.perf_counter() >= deadline:
                break
            ok = True
            table_dir = getattr(self, kind.split("_")[0]).path
            before = data_files(table_dir) if self.tracer.enabled else {}
            with self.tracer.op(kind) as rec:
                try:
                    call()
                except Exception:  # noqa: BLE001 - counted as a failed op
                    traceback.print_exc()
                    ok = False
            user_rows = self._replay(kind, appended, merged) if ok else 0
            added = {}
            if self.tracer.enabled:
                added = {p: n for p, n in data_files(table_dir).items() if p not in before}
            out.append({"kind": kind, "part": "tables", "dur": rec["dur"], "ok": ok, "span": rec["id"],
                        "files_added": len(added), "bytes_added": sum(added.values()),
                        "user_bytes": user_rows * ROW_BYTES})
        return out

    def _replay(self, kind: str, appended: pd.DataFrame, merged: pd.DataFrame) -> int:
        """Apply the op to the expected table; return the rows the
        user handed over (written or deleted)."""
        fmt = kind.split("_")[0]
        if fmt not in self.expected:
            return 0
        exp = self.expected[fmt]
        rows = 0
        if kind.endswith("append"):
            exp, rows = pd.concat([exp, appended]), len(appended)
        elif kind.endswith(("merge", "upsert")):
            exp, rows = pd.concat([exp.drop(merged.index, errors="ignore"), merged]), len(merged)
        elif kind.endswith("delete"):
            kept = exp[exp.index % STRIPE != self.passes % STRIPE]
            exp, rows = kept, len(exp) - len(kept)
        self.expected[fmt] = exp
        return rows

    # -- checks and metrics -------------------------------------------------------

    def verify(self) -> list[str]:
        errors = []
        for fmt, table in (("delta", self.delta), ("iceberg", self.iceberg)):
            got = table.snapshot().toPandas().set_index("entity").sort_index()
            want = self.expected[fmt].sort_index()
            if got.shape != want.shape:
                errors.append(f"{fmt}: shape {got.shape}, want {want.shape}")
            elif not (got.index.equals(want.index) and np.array_equal(
                got[want.columns].to_numpy(), want.to_numpy()
            )):
                errors.append(f"{fmt}: contents differ from the replayed ops")
        self.end_state = self._end_state()
        return errors

    def _end_state(self) -> dict:
        """Log and storage shape at the end of the run."""
        out = {"delta.log_entries": len(glob.glob(os.path.join(self.delta.log_path, "*.json")))}
        live = sum(int(a.get("size", 0)) for a in self.delta.state().adds.values())
        on_disk = sum(data_files(self.delta.path).values())
        out["delta.space_amplification"] = on_disk / live if live else 0.0
        out["iceberg.manifests"] = len(
            [p for p in glob.glob(os.path.join(self.iceberg.metadata_path, "*.avro"))
             if not os.path.basename(p).startswith("snap-")]
        )
        return out

    def layer_metrics(self, records: list[dict], ledgers: dict) -> dict:
        out = {}
        for kind in OPS:
            recs = [r for r in records if r["kind"] == kind and r["ok"]]
            leds = [ledgers[r["span"]] for r in recs if r["span"] in ledgers]
            fmt, op = kind.split("_")
            prefix = "wide.upsert" if fmt == "wide" else f"{fmt}.{op}"
            out[f"{prefix}.jobs"] = median([x.jobs for x in leds])
            if fmt == "wide":
                continue
            out[f"{prefix}.driver_only_s"] = median([x.driver_only_s for x in leds])
            if op == "read":
                continue
            out[f"{prefix}.files_added"] = median([r["files_added"] for r in recs])
            out[f"{prefix}.bytes_written_per_user_byte"] = median(
                [r["bytes_added"] / r["user_bytes"] for r in recs if r["user_bytes"]]
            )
        out.update(self.end_state)
        return out
