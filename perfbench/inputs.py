"""Seeded input generation. The program under test only ever sees
these generated files and batches; the same seed gives byte-identical
inputs, another seed different ones."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "error"])
EVENT_TYPE_P = [0.5, 0.25, 0.15, 0.1]
BASE_TS_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00 UTC
TS_STEP_S = 7
N_FILES = 8


def zipf_users(rng: np.random.Generator, n: int, n_users: int, s: float) -> np.ndarray:
    """Bounded Zipf(s) over 0..n_users-1 by inverse CDF."""
    weights = 1.0 / np.arange(1, n_users + 1, dtype=np.float64) ** s
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n), side="right").astype(np.int64)


def events(seed: int, n_events: int, n_users: int, zipf_s: float | None = None) -> pa.Table:
    """The ``events`` schema (event_id, ts, user_id, event_type, value).

    Timestamps are unique, so latest-value and as-of semantics never
    depend on a tie-break and any engine's answer is comparable."""
    rng = np.random.default_rng(seed)
    if zipf_s:
        users = zipf_users(rng, n_events, n_users, zipf_s)
    else:
        users = rng.integers(0, n_users, n_events, dtype=np.int64)
    ts_us = BASE_TS_US + rng.permutation(n_events).astype(np.int64) * TS_STEP_S * 1_000_000
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array(EVENT_TYPES[rng.choice(4, n_events, p=EVENT_TYPE_P)]),
            "value": pa.array(np.round(rng.normal(50.0, 20.0, n_events), 2)),
        }
    )


def write_parquet_dir(table: pa.Table, path: str, n_files: int = N_FILES) -> str:
    """Split across files so the scan fans out over every core."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )
    return path


def wide_rows(rng: np.random.Generator, entities: np.ndarray, n_features: int) -> dict:
    """Rows of the reference benchmark table's shape: int64 entity plus
    ``n_features`` int64 feature columns."""
    vals = rng.integers(0, 1_000_000, (len(entities), n_features), dtype=np.int64)
    cols = {"entity": np.asarray(entities, dtype=np.int64)}
    for j in range(n_features):
        cols[f"f{j}"] = vals[:, j]
    return cols


def vectors(seed: int, n: int, dim: int, n_clusters: int = 64) -> np.ndarray:
    """Clustered float32 embeddings (Gaussian blobs), like real ones."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (n_clusters, dim))
    assign = rng.integers(0, n_clusters, n)
    out = centers[assign] + rng.normal(0.0, 0.35, (n, dim))
    return out.astype(np.float32)
