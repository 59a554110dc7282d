"""Real Delta Lake protocol tables — no vendor jar required.

The reference reads/writes actual Delta tables through the Delta Lake
Spark connector (`spark.read.format("delta")`,
offline_store_spark_runner.py:981-987; sinks :920-949). That connector
is a jar we can't ship here, but the Delta *transaction protocol*
itself is public and simple: a `_delta_log/` directory of JSON commit
files (one action per line: `protocol`, `metaData`, `add`, `remove`,
`txn`, `commitInfo`) over immutable parquet data files, plus parquet
checkpoints every N commits and a `_last_checkpoint` pointer
(delta-io/delta PROTOCOL.md). This module implements that protocol
directly:

- **Reader**: folds checkpoint + JSON tail into table state, time
  travel (`VERSION AS OF`), Hive-style partition recovery in ONE scan
  (explicit schema + basePath so Spark casts partition dir values),
  partition pruning and log-carried stats pruning (`minValues` /
  `maxValues` data skipping) — both plan file skips from the log
  without touching parquet footers.
- **Writer**: protocol-conformant commits (reader v1 / writer v2):
  URL-encoded relative paths, per-file `stats` JSON with
  numRecords/minValues/maxValues/nullCount from parquet footers
  (metadata-only reads), Hive-layout partitioned writes, atomic
  put-if-absent commit files (O_EXCL — the same primitive Delta's
  LogStore contract requires), parquet checkpoints, SetTransaction
  idempotence (`txn` actions).
- **Column mapping** (mode name/id, reader v2): data files, partition
  directories and partitionValues keys carry PHYSICAL names; the
  reader scans the physical schema and aliases back to logical names,
  and every write path (create/append/merge/overwrite/compact) renames
  logical→physical before writing — including partitioned tables and
  MERGE schema evolution (fresh physical names + field ids).
  Top-level only; nested-mapped fields gate.
- **Honest gates**: v2 checkpoints, nested column mapping, unknown
  deletion-vector storage types, and unknown reader table-features
  raise instead of silently returning wrong rows.

Tables written here carry only `minReaderVersion=1` /
`minWriterVersion=2`, so any real Delta implementation (delta-spark,
delta-rs, DuckDB's delta extension) can read them; conversely this
reader accepts any table those writers produce within the gated
feature set. Scale note: state folding is driver-side over the log
(file-count-scale, not data-scale), same O(interval) bound as Delta
itself once checkpoints exist; the data path is a single native
parquet scan.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
import threading
import time
import urllib.parse
import uuid
from collections import OrderedDict
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from featureform_spark.sources.local_df import position_df
from featureform_spark.sources.staged_write import (
    STAGING_DIR,
    FileRecord,
    discard,
    fold_footer,
    write_arrow,
    write_staged,
)

LOG_DIR = "_delta_log"
LAST_CHECKPOINT = "_last_checkpoint"

# Reader table features (protocol v3) this implementation actually
# honors. Anything else listed in readerFeatures → hard gate.
_SUPPORTED_READER_FEATURES = {
    "timestampNtz",
    "columnMapping",
    "deletionVectors",
    "v2Checkpoint",  # _read_checkpoint resolves manifests + sidecars
    "typeWidening",  # logical schema drives the scan; parquet upcasts
    "variantType",  # Spark-native VARIANT scan/write (no shredding)
}


def _has_variant(schema: T.DataType) -> bool:
    """True when any (possibly nested) field is Spark's VariantType."""
    if isinstance(schema, T.StructType):
        return any(_has_variant(f.dataType) for f in schema.fields)
    if isinstance(schema, T.ArrayType):
        return _has_variant(schema.elementType)
    if isinstance(schema, T.MapType):
        return _has_variant(schema.keyType) or _has_variant(
            schema.valueType
        )
    return isinstance(schema, getattr(T, "VariantType", ()))


def _decimal_ps(t: str) -> tuple[int, int] | None:
    """(precision, scale) of a ``decimal(p,s)`` type string."""
    if not t.startswith("decimal(") or not t.endswith(")"):
        return None
    try:
        p, s = t[len("decimal(") : -1].split(",")
        return int(p), int(s)
    except ValueError:
        return None


def _widening_allowed(old: str, new: str) -> bool:
    """PROTOCOL.md §Type Widening allowed-transition table (stable
    set). Decimal rules: scale never shrinks and integral digits
    (p - s) never shrink; integral→decimal needs enough integral
    digits for the source range (int: 10, long: 20)."""
    if old == new:
        return False
    simple = {
        "byte": {"short", "integer", "long", "double"},
        "short": {"integer", "long", "double"},
        "integer": {"long", "double"},
        "float": {"double"},
        "date": {"timestamp_ntz"},
    }
    if new in simple.get(old, set()):
        return True
    nps = _decimal_ps(new)
    if nps is None:
        return False
    p, s = nps
    if old == "integer":
        return p - s >= 10
    if old == "long":
        return p - s >= 20
    ops = _decimal_ps(old)
    if ops is None:
        return False
    return s >= ops[1] and p - s >= ops[0] - ops[1]

# Writer table features (protocol v7) this implementation actually
# ENFORCES on write (_write_guard). generatedColumns: append/overwrite
# COMPUTE omitted generation-expression columns and VALIDATE provided
# values (one aggregate pass); MERGE refuses (no recompute), the
# sessionless arrow path refuses (no expression engine).
# identityColumns: implemented conservatively — row-writing operations
# refuse when an identity spec exists (we never allocate values);
# DELETE/OPTIMIZE stay legal.
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "columnMapping",
    "deletionVectors",
    "changeDataFeed",
    "timestampNtz",
    "inCommitTimestamp",  # _commit maintains the monotonic chain
    "generatedColumns",  # computed/validated on the Spark write path
    "identityColumns",  # enforced by refusal on row-writing ops
    "v2Checkpoint",  # checkpoint() honors delta.checkpointPolicy=v2
    "rowTracking",  # baseRowId/defaultRowCommitVersion + materialization
    "domainMetadata",  # folded into state, carried through checkpoints
    "typeWidening",  # widen_column validates transitions + history
    "clustering",  # cluster_by create + OPTIMIZE recluster + ALTER
    "variantType",  # VARIANT columns written via the Spark scan path
    "allowColumnDefaults",  # omitted columns filled from CURRENT_DEFAULT
}


def _legacy_writer_features(version: int) -> set[str]:
    """Features IMPLIED by a legacy minWriterVersion (PROTOCOL.md
    "Writer Version Requirements" table). When upgrading such a table
    to protocol v7, every implied feature must be carried into
    writerFeatures explicitly — otherwise external engines stop
    enforcing CHECK constraints / CDF / generated columns that the
    table was already relying on."""
    out: set[str] = set()
    if version >= 2:
        out |= {"appendOnly", "invariants"}
    if version >= 3:
        out |= {"checkConstraints"}
    if version >= 4:
        out |= {"changeDataFeed", "generatedColumns"}
    if version >= 5:
        out |= {"columnMapping"}
    if version >= 6:
        out |= {"identityColumns"}
    return out


def _legacy_reader_features(version: int) -> set[str]:
    """Reader features implied by a legacy minReaderVersion (v2 =
    columnMapping)."""
    return {"columnMapping"} if version >= 2 else set()


def _feature_upgrade(proto: dict, need: set[str]) -> dict | None:
    """The protocol action that moves a table to (3, 7) with the
    reader-writer features ``need``; None when it lists them all. Every
    feature the old minReader/minWriterVersion IMPLIED is listed
    explicitly, or external engines silently stop enforcing them (e.g.
    a v5 table's checkConstraints / CDF)."""
    feats = set(proto.get("readerFeatures") or [])
    if not need - feats:
        return None
    old_reader = int(proto.get("minReaderVersion", 1))
    old_writer = int(proto.get("minWriterVersion", 1))
    return {
        "protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(
                feats | _legacy_reader_features(old_reader) | need
            ),
            "writerFeatures": sorted(
                set(proto.get("writerFeatures") or [])
                | _legacy_writer_features(old_writer)
                | need
            ),
        }
    }


class DeltaProtocolError(Exception):
    pass


class UnsupportedTableFeatureError(DeltaProtocolError):
    """The table requires reader capabilities (deletion vectors, column
    mapping, v2 checkpoints, …) this implementation does not have.
    Raised instead of returning silently-wrong rows."""


class ConcurrentCommitError(DeltaProtocolError):
    """A non-commuting operation (MERGE/overwrite/DELETE/…) lost the
    commit race: its snapshot is stale against the winning commit, so
    blind retry could drop the winner's rows — the caller must re-run
    against the new state (Delta's ConcurrentModificationException)."""


@dataclass
class _State:
    """Folded table state at a version."""

    version: int
    metadata: dict
    protocol: dict
    adds: dict = field(default_factory=dict)       # path -> add action
    txns: dict = field(default_factory=dict)       # appId -> version
    domains: dict = field(default_factory=dict)    # domain -> config json

    def copy(self) -> "_State":
        """A copy whose maps can be changed without touching this
        state. Add actions themselves are shared: writers copy an add
        before editing it."""
        metadata = dict(self.metadata)
        if isinstance(metadata.get("configuration"), dict):
            metadata["configuration"] = dict(metadata["configuration"])
        return _State(
            version=self.version,
            metadata=metadata,
            protocol=dict(self.protocol or {}),
            adds=dict(self.adds),
            txns=dict(self.txns),
            domains=dict(self.domains),
        )

    @property
    def row_tracking(self) -> bool:
        return (self.metadata.get("configuration") or {}).get(
            "delta.enableRowTracking"
        ) == "true"

    @property
    def row_id_high_water_mark(self) -> int:
        """Highest row id ever assigned (domainMetadata
        ``delta.rowTracking``), -1 when none."""
        cfg = self.domains.get("delta.rowTracking")
        if not cfg:
            return -1
        try:
            return int(json.loads(cfg).get("rowIdHighWaterMark", -1))
        except (ValueError, TypeError):
            return -1

    @property
    def clustering_columns(self) -> list[str]:
        """Liquid-clustering column list (domainMetadata
        ``delta.clustering``); [] on unclustered tables. Top-level
        columns only (each spec entry is a field path)."""
        cfg = self.domains.get("delta.clustering")
        if not cfg:
            return []
        try:
            cols = json.loads(cfg).get("clusteringColumns") or []
        except (ValueError, TypeError):
            return []
        return [c[0] if isinstance(c, list) else c for c in cols]

    @property
    def materialized_row_id_cols(self) -> tuple[str, str] | None:
        """(row-id column, row-commit-version column) physical names
        used to materialize row ids into REWRITTEN files (rows a
        rewrite carries keep their ids; NULL means fresh-from-
        baseRowId per PROTOCOL.md §Row Tracking)."""
        conf = self.metadata.get("configuration") or {}
        a = conf.get("delta.rowTracking.materializedRowIdColumnName")
        b = conf.get(
            "delta.rowTracking.materializedRowCommitVersionColumnName"
        )
        return (a, b) if a and b else None

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list[str]:
        return list(self.metadata.get("partitionColumns") or [])

    @property
    def column_mapping(self) -> list[tuple[str, str]] | None:
        """[(physical, logical)] when delta.columnMapping is active
        (mode name/id — data files store columns under physical names),
        else None. Nested mapped fields gate (top-level only)."""
        mode = (self.metadata.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if mode in ("none", None):
            return None
        sj = json.loads(self.metadata["schemaString"])
        pairs = []
        for f in sj["fields"]:
            md = f.get("metadata") or {}
            phys = md.get("delta.columnMapping.physicalName")
            if isinstance(f.get("type"), dict) and json.dumps(
                f["type"]
            ).find("physicalName") >= 0:
                raise UnsupportedTableFeatureError(
                    "column mapping on nested fields is not supported"
                )
            pairs.append((phys or f["name"], f["name"]))
        return pairs

    @property
    def physical_schema(self) -> T.StructType:
        sj = json.loads(self.metadata["schemaString"])
        mapping = self.column_mapping
        if not mapping:
            return self.schema
        for f, (phys, _logical) in zip(sj["fields"], mapping):
            f["name"] = phys
        return T.StructType.fromJson(sj)


def _crc_name(version: int) -> str:
    return f"{version:020d}.crc"


# Process-level folded snapshots, one per table log directory, most
# recently used last — the role of delta-spark's DeltaLog cache. Each
# entry is (state at the latest version seen, digest of that version's
# commit file); state() extends a valid entry by the newer commits
# only. Flight serves requests on several threads, hence the lock.
_SNAPSHOT_CACHE_SIZE = 16
_snapshots: "OrderedDict[str, tuple[_State, bytes]]" = OrderedDict()
_snapshots_lock = threading.Lock()


def _digest(raw: bytes) -> bytes:
    return hashlib.blake2b(raw, digest_size=16).digest()


def _parse_commit(raw: bytes) -> list[dict]:
    return [json.loads(line) for line in raw.splitlines() if line.strip()]


def _fold_actions(
    st: "_State", actions: list[dict], checkpoint: bool = False
) -> None:
    """Apply ONE commit's actions, or a checkpoint's, to ``st`` in
    place — Delta's snapshot-construction fold, shared by the full fold
    from disk, the incremental one onto a cached snapshot and the
    change-feed planner. PROTOCOL.md §Action Reconciliation keys a
    logical file by (path, deletion vector id), so within a commit a
    remove and an add of one path are the old and the new file: removes
    apply first, whatever the action order. A checkpoint's remove rows
    are tombstones and never drop a live add."""
    if not checkpoint:
        for a in actions:
            if "remove" in a:
                st.adds.pop(a["remove"]["path"], None)
    for a in actions:
        if "protocol" in a:
            st.protocol = a["protocol"]
        elif "metaData" in a:
            st.metadata = a["metaData"]
        elif "add" in a:
            add = a["add"]
            dv = add.get("deletionVector")
            if dv and dv.get("storageType") not in ("u", "i", "p"):
                raise UnsupportedTableFeatureError(
                    "deletion vector with unknown storageType "
                    f"{dv.get('storageType')!r} — refusing rather "
                    "than returning deleted rows"
                )
            st.adds[add["path"]] = add
        elif "txn" in a:
            t = a["txn"]
            st.txns[t["appId"]] = max(
                int(t["version"]), int(st.txns.get(t["appId"], -1))
            )
        elif "domainMetadata" in a:
            dm = a["domainMetadata"]
            if dm.get("removed"):
                st.domains.pop(dm["domain"], None)
            else:
                st.domains[dm["domain"]] = dm.get("configuration", "")
        # commitInfo / cdc do not affect state


class ChangePiece(NamedTuple):
    """One piece of a Delta change feed, planned by
    ``DeltaProtocolTable._changes``: the rows commit ``version``
    inserted or deleted in the data files ``files`` (add actions, or
    the removed file's add; each masks its ``deletionVector``), all
    rows or only those at ``keep`` ({absolute path: positions}). A
    ``cdc`` piece's ``files`` are the commit's cdc actions, read
    verbatim."""

    version: int
    change: str  # 'insert' | 'delete' | 'cdc'
    files: list
    keep: dict | None = None


def strip_file_scheme(p: str) -> str:
    """'file:...' URI -> plain absolute path (no-op otherwise)."""
    if p.startswith("file:"):
        return "/" + p.split(":", 1)[1].lstrip("/")
    return p


def abs_data_path(root: str, p: str) -> str:
    """Resolve an add/remove ``path`` field to an absolute filesystem
    path against ``root``. PROTOCOL.md §Add File and Remove File: the
    field is a RELATIVE percent-encoded path within the table
    directory or an ABSOLUTE URI — the absolute form is how SHALLOW
    CLONE tables reference the source's files. Shared by every
    consumer of Delta add paths (the table class, UniForm, CDF)."""
    raw = strip_file_scheme(urllib.parse.unquote(p))
    return raw if os.path.isabs(raw) else os.path.join(root, raw)


def _delta_stats(rec: FileRecord, allow: set[str] | None = None) -> str:
    """Per-file stats JSON per PROTOCOL.md: numRecords, minValues,
    maxValues, nullCount over atomic top-level columns. ``allow``
    restricts covered columns (the dataSkipping properties); None =
    all. A footer pyarrow cannot parse yields numRecords only."""
    if rec.columns is None:
        return json.dumps({"numRecords": rec.rows})
    cols = {
        n: c
        for n, c in rec.columns.items()
        if "." not in n and (allow is None or n in allow)
    }
    out: dict[str, Any] = {
        "numRecords": rec.rows,
        "minValues": {},
        "maxValues": {},
        "nullCount": {
            n: c.nulls for n, c in cols.items() if c.nulls is not None
        },
    }
    for n, c in cols.items():
        if c.bounds is None:
            continue
        lo, hi = c.bounds
        if isinstance(lo, datetime.datetime):
            lo, hi = lo.isoformat(sep=" "), hi.isoformat(sep=" ")
        elif isinstance(lo, datetime.date):
            lo, hi = lo.isoformat(), hi.isoformat()
        elif isinstance(lo, decimal.Decimal):
            lo, hi = str(lo), str(hi)
        out["minValues"][n] = lo
        out["maxValues"][n] = hi
    return json.dumps(out)


def _stats_columns(
    conf: dict[str, str] | None,
    columns: list[str],
    mapping: list[tuple[str, str]] | None = None,
) -> set[str] | None:
    """The columns a written file's stats cover, by the
    ``delta.dataSkippingStatsColumns`` / ``dataSkippingNumIndexedCols``
    properties (delta-spark's stats-bloat lever — at wide-table scale,
    minValues/maxValues for hundreds of columns dominate the log): an
    explicit column list wins; else the FIRST N written ``columns``
    (-1 = all); None = all. Names are in the written (physical under
    ``mapping``) namespace."""
    raw_cols = (conf or {}).get("delta.dataSkippingStatsColumns")
    if raw_cols is not None:
        phys = {lo: ph for ph, lo in mapping or ()}
        return {
            phys.get(c.strip(), c.strip())
            for c in raw_cols.split(",")
            if c.strip()
        }
    raw_n = (conf or {}).get("delta.dataSkippingNumIndexedCols")
    if raw_n is not None and int(raw_n) >= 0:
        return set(columns[: int(raw_n)])
    return None


def _commit_name(version: int) -> str:
    return f"{version:020d}.json"


def _checkpoint_name(version: int) -> str:
    return f"{version:020d}.checkpoint.parquet"


# Checkpoint parquet schema per PROTOCOL.md (classic single-file
# checkpoint): one action per row, exactly one non-null struct column.
_CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField(
            "protocol",
            T.StructType(
                [
                    T.StructField("minReaderVersion", T.IntegerType()),
                    T.StructField("minWriterVersion", T.IntegerType()),
                    # (3, 7) tables list features; omitting them here
                    # would strip the lists at checkpoint time and
                    # disarm both gates on post-checkpoint reads
                    T.StructField(
                        "readerFeatures", T.ArrayType(T.StringType())
                    ),
                    T.StructField(
                        "writerFeatures", T.ArrayType(T.StringType())
                    ),
                ]
            ),
        ),
        T.StructField(
            "metaData",
            T.StructType(
                [
                    T.StructField("id", T.StringType()),
                    T.StructField("name", T.StringType()),
                    T.StructField("description", T.StringType()),
                    T.StructField(
                        "format",
                        T.StructType(
                            [
                                T.StructField("provider", T.StringType()),
                                T.StructField(
                                    "options",
                                    T.MapType(T.StringType(), T.StringType()),
                                ),
                            ]
                        ),
                    ),
                    T.StructField("schemaString", T.StringType()),
                    T.StructField(
                        "partitionColumns", T.ArrayType(T.StringType())
                    ),
                    T.StructField(
                        "configuration",
                        T.MapType(T.StringType(), T.StringType()),
                    ),
                    T.StructField("createdTime", T.LongType()),
                ]
            ),
        ),
        T.StructField(
            "add",
            T.StructType(
                [
                    T.StructField("path", T.StringType()),
                    T.StructField(
                        "partitionValues",
                        T.MapType(T.StringType(), T.StringType()),
                    ),
                    T.StructField("size", T.LongType()),
                    T.StructField("modificationTime", T.LongType()),
                    T.StructField("dataChange", T.BooleanType()),
                    T.StructField("stats", T.StringType()),
                    # liquid clustering: per-file clustered-ness (the
                    # ZCUBE_ZORDER_BY fingerprint tag) must survive
                    # checkpointing or incremental OPTIMIZE would
                    # re-cluster the whole table after every checkpoint
                    T.StructField(
                        "tags", T.MapType(T.StringType(), T.StringType())
                    ),
                    T.StructField("clusteringProvider", T.StringType()),
                    # row tracking: identity survives checkpointing
                    T.StructField("baseRowId", T.LongType()),
                    T.StructField(
                        "defaultRowCommitVersion", T.LongType()
                    ),
                    # Read the DV descriptor if present so checkpoints
                    # written by real delta-spark can't smuggle deleted
                    # rows past the per-add gate in state().
                    T.StructField(
                        "deletionVector",
                        T.StructType(
                            [
                                T.StructField("storageType", T.StringType()),
                                T.StructField(
                                    "pathOrInlineDv", T.StringType()
                                ),
                                T.StructField("offset", T.IntegerType()),
                                T.StructField("sizeInBytes", T.IntegerType()),
                                T.StructField("cardinality", T.LongType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "remove",
            T.StructType(
                [
                    T.StructField("path", T.StringType()),
                    T.StructField("deletionTimestamp", T.LongType()),
                    T.StructField("dataChange", T.BooleanType()),
                ]
            ),
        ),
        T.StructField(
            "txn",
            T.StructType(
                [
                    T.StructField("appId", T.StringType()),
                    T.StructField("version", T.LongType()),
                    T.StructField("lastUpdated", T.LongType()),
                ]
            ),
        ),
        # v2-checkpoint actions (PROTOCOL.md §V2 Spec Checkpoints):
        # the manifest carries sidecar pointers whose parquet files hold
        # the add/remove actions; classic checkpoints read NULL here.
        T.StructField(
            "sidecar",
            T.StructType(
                [
                    T.StructField("path", T.StringType()),
                    T.StructField("sizeInBytes", T.LongType()),
                    T.StructField("modificationTime", T.LongType()),
                ]
            ),
        ),
        T.StructField(
            "checkpointMetadata",
            T.StructType(
                [
                    T.StructField("version", T.LongType()),
                    T.StructField(
                        "tags", T.MapType(T.StringType(), T.StringType())
                    ),
                ]
            ),
        ),
        T.StructField(
            "domainMetadata",
            T.StructType(
                [
                    T.StructField("domain", T.StringType()),
                    T.StructField("configuration", T.StringType()),
                    T.StructField("removed", T.BooleanType()),
                ]
            ),
        ),
    ]
)


class DeltaProtocolTable:
    """A Delta Lake table addressed by filesystem path, speaking the
    public transaction protocol. See module docstring."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.log_path = os.path.join(path, LOG_DIR)
        # when True, checkpoint folds read via pyarrow even with a
        # session attached (commit-path folds must not cost Spark jobs)
        self._fold_with_arrow = False

    # ------------------------------------------------------------- log

    def exists(self) -> bool:
        # bool() of the lists, not any() of the versions: any([0]) is
        # False, which would report a freshly-created table (single
        # version-0 commit) or a checkpoint-only log as non-existent.
        commits, cps = self._scan_log()
        return bool(commits or cps)

    def _scan_log(self) -> tuple[list[int], dict[int, dict]]:
        """One listing of ``_delta_log``: the sorted JSON commit
        versions, and every checkpoint form a real Delta writer emits
        (PROTOCOL.md §Checkpoints) by version: classic single-file
        ``n.checkpoint.parquet``, multi-part classic
        ``n.checkpoint.o.p.parquet`` (kept only when all p parts are
        present), and v2 UUID-named ``n.checkpoint.<uuid>.parquet`` /
        ``.json`` manifests (sidecar pointers resolved at read time).
        Checkpoints map to {"kind", "paths"}; when a version has
        several forms, classic wins (cheapest read), then v2, then
        multi-part."""
        try:
            names = os.listdir(self.log_path)
        except (FileNotFoundError, NotADirectoryError):
            return [], {}
        commits = []
        classic: dict[int, list[str]] = {}
        v2: dict[int, list[str]] = {}
        parts: dict[int, dict[int, tuple[int, str]]] = {}
        for name in names:
            if name.endswith(".json") and len(name) == 25:
                try:
                    commits.append(int(name[:-5]))
                except ValueError:
                    pass
            bits = name.split(".")
            if len(bits) < 3 or bits[1] != "checkpoint":
                continue
            try:
                v = int(bits[0])
            except ValueError:
                continue
            full = os.path.join(self.log_path, name)
            if len(bits) == 3 and bits[2] == "parquet":
                classic[v] = [full]
            elif len(bits) == 5 and bits[4] == "parquet":
                try:
                    o, p = int(bits[2]), int(bits[3])
                except ValueError:
                    continue
                parts.setdefault(v, {})[o] = (p, full)
            elif len(bits) == 4 and bits[3] in ("parquet", "json"):
                v2.setdefault(v, []).append(full)
        cps: dict[int, dict] = {}
        for v, by_part in parts.items():
            total = {p for p, _ in by_part.values()}
            if len(total) == 1 and set(by_part) == set(
                range(1, next(iter(total)) + 1)
            ):
                cps[v] = {
                    "kind": "multipart",
                    "paths": [by_part[i][1] for i in sorted(by_part)],
                }
        for v, paths in v2.items():
            cps[v] = {"kind": "v2", "paths": sorted(paths)[:1]}
        for v, paths in classic.items():
            cps[v] = {"kind": "classic", "paths": paths}
        return sorted(commits), cps

    def _commit_versions(self) -> list[int]:
        return self._scan_log()[0]

    def _checkpoint_files(self) -> dict[int, dict]:
        return self._scan_log()[1]

    def _checkpoint_versions(self) -> list[int]:
        return sorted(self._checkpoint_files())

    def _latest(self, commits: list[int], cps: dict[int, dict]) -> int:
        if not commits and not cps:
            raise DeltaProtocolError(f"not a Delta table: {self.path}")
        return max([*commits, *cps])

    def version(self) -> int:
        return self._latest(*self._scan_log())

    def _commit_bytes(self, version: int) -> bytes:
        with open(
            os.path.join(self.log_path, _commit_name(version)), "rb"
        ) as f:
            return f.read()

    def _read_commit(self, version: int) -> list[dict]:
        return _parse_commit(self._commit_bytes(version))

    def _read_checkpoint(
        self, version: int, info: dict | None = None
    ) -> list[dict]:
        """Checkpoint → action dicts (metadata-scale collect), handling
        every discovered form: classic single-file, multi-part classic
        (parts concatenated), and v2 manifests whose ``sidecar``
        pointers are resolved against ``_delta_log/_sidecars/``.
        ``info`` is the version's entry of a _scan_log() listing."""
        info = info or self._checkpoint_files().get(version)
        if info is None:
            raise DeltaProtocolError(f"no checkpoint at version {version}")

        def _fix_maps(obj):
            # pyarrow to_pylist renders map<string,string> as a list of
            # (k, v) tuples; the action consumers expect dicts. An
            # EMPTY list must stay a list — [] is ambiguous between an
            # empty map and an empty array (partitionColumns), and
            # turning it into {} corrupts array fields when the folded
            # state is re-checkpointed (empty-map consumers coalesce
            # falsy values, so a [] where {} was meant is harmless).
            if isinstance(obj, list) and obj and all(
                isinstance(e, tuple) and len(e) == 2 for e in obj
            ):
                return dict(obj)
            if isinstance(obj, list):
                return [_fix_maps(e) for e in obj]
            if isinstance(obj, dict):
                return {k: _fix_maps(v) for k, v in obj.items()}
            return obj

        def _rows_of(paths: list[str]) -> list[dict]:
            out = []
            for p in paths:
                if p.endswith(".json"):
                    with open(p) as f:
                        out.extend(
                            json.loads(line) for line in f if line.strip()
                        )
                elif self.spark is None or self._fold_with_arrow:
                    # sessionless fold (Python Data Source drivers) or
                    # a commit-path fold (_write_crc) that must not
                    # launch a Spark job: checkpoints are
                    # metadata-scale, pyarrow suffices
                    import pyarrow.parquet as pq

                    out.extend(
                        _fix_maps(d) for d in pq.read_table(p).to_pylist()
                    )
                else:
                    out.extend(
                        r.asDict(recursive=True)
                        for r in self.spark.read.schema(_CHECKPOINT_SCHEMA)
                        .parquet(p)
                        .collect()
                    )
            return out

        rows = _rows_of(info["paths"])
        sidecars = [
            d["sidecar"]["path"]
            for d in rows
            if d.get("sidecar") is not None and d["sidecar"].get("path")
        ]
        if sidecars:
            rows.extend(
                _rows_of(
                    [
                        os.path.join(self.log_path, "_sidecars", s)
                        for s in sidecars
                    ]
                )
            )
        def _norm_maps(dt, v):
            # type-driven: [] is ambiguous between an empty arrow map
            # and an empty array in the pyarrow fold — the checkpoint
            # SCHEMA knows which fields are maps, and actions that get
            # re-serialized into JSON commits must carry real dicts
            # there (spec: configuration/partitionValues are objects)
            if v is None:
                return None
            if isinstance(dt, T.MapType):
                return dict(v) if isinstance(v, list) else v
            if isinstance(dt, T.StructType) and isinstance(v, dict):
                by_name = {f.name: f.dataType for f in dt.fields}
                return {
                    k: _norm_maps(by_name[k], x) if k in by_name else x
                    for k, x in v.items()
                }
            return v

        top = {f.name: f.dataType for f in _CHECKPOINT_SCHEMA.fields}
        actions = []
        for d in rows:
            for key in (
                "protocol", "metaData", "add", "remove", "txn",
                "domainMetadata",
            ):
                if d.get(key) is not None:
                    body = {
                        k: v for k, v in d[key].items() if v is not None
                    }
                    actions.append({key: _norm_maps(top[key], body)})
        return actions

    def _check_protocol(self, protocol: dict, metadata: dict) -> None:
        reader = int(protocol.get("minReaderVersion", 1))
        if reader > 3:
            raise UnsupportedTableFeatureError(
                f"minReaderVersion={reader} is beyond protocol v3"
            )
        feats = set(protocol.get("readerFeatures") or [])
        if reader == 3:
            unknown = feats - _SUPPORTED_READER_FEATURES
            if unknown:
                raise UnsupportedTableFeatureError(
                    f"unsupported reader features: {sorted(unknown)}"
                )
        mapping = (metadata.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if mapping not in ("none", None, "name", "id"):
            raise UnsupportedTableFeatureError(
                f"column mapping mode {mapping!r} is not supported"
            )

    def state(self, version: int | None = None) -> _State:
        """Table state at ``version`` (latest if None) — Delta's
        snapshot construction, returned as the caller's own copy.

        The process keeps one folded snapshot per table path
        (``_snapshots``). When it is at or below ``version`` and the
        commit file it ended on still holds the bytes it folded, only
        the newer commits are folded on top of it. Content, not inode
        or mtime: a table deleted and re-created at the same path
        rewrites that commit (new table id, new file names) even
        within one millisecond. Older versions and misses fold
        checkpoint + JSON tail from disk (``_fold``)."""
        commits, cps = self._scan_log()
        latest = self._latest(commits, cps)
        if version is None:
            version = latest
        if version > latest:
            raise DeltaProtocolError(
                f"version {version} > latest {latest}"
            )
        cp_v = self._fold_start(version, commits, cps)
        key = os.path.abspath(self.log_path)
        with _snapshots_lock:
            hit = _snapshots.get(key)
        st = digest = None
        if hit is not None and hit[0].version <= version:
            st, digest = self._extend(hit, version, commits)
        if st is None:
            st, digest = self._fold(version, cp_v, commits, cps)
        if version == latest and digest is not None:
            with _snapshots_lock:
                _snapshots[key] = (st, digest)
                _snapshots.move_to_end(key)
                if len(_snapshots) > _SNAPSHOT_CACHE_SIZE:
                    _snapshots.popitem(last=False)
        return st.copy()

    def _extend(
        self, hit: tuple[_State, bytes], version: int, commits: list[int]
    ) -> tuple[_State | None, bytes | None]:
        """``hit`` folded forward to ``version``, with the digest of
        the last commit folded; (None, None) when ``hit`` is stale or
        a commit it needs is gone (cleaned log)."""
        base, digest = hit
        try:
            if _digest(self._commit_bytes(base.version)) != digest:
                return None, None
        except FileNotFoundError:
            return None, None
        tail = range(base.version + 1, version + 1)
        if not tail:
            return base, digest
        if not set(tail) <= set(commits):
            return None, None
        st = base.copy()
        st.version = version
        for v in tail:
            raw = self._commit_bytes(v)
            _fold_actions(st, _parse_commit(raw))
        self._check_protocol(st.protocol, st.metadata)
        return st, _digest(raw)

    @staticmethod
    def _fold_start(
        version: int, commits: list[int], cps: dict[int, dict]
    ) -> int | None:
        """The newest checkpoint at or below ``version`` (None when
        there is none), after checking that JSON commits cover every
        version past it. A hole refuses even when a cached snapshot
        could answer: the log is damaged."""
        cp_v = max((v for v in cps if v <= version), default=None)
        start = 0 if cp_v is None else cp_v + 1
        have = set(commits)
        missing = [v for v in range(start, version + 1) if v not in have]
        if missing:
            raise DeltaProtocolError(
                f"log is missing commits {missing} and no checkpoint "
                f"covers them (cleaned log?)"
            )
        return cp_v

    def _fold(
        self,
        version: int,
        cp_v: int | None,
        commits: list[int],
        cps: dict[int, dict],
    ) -> tuple[_State, bytes | None]:
        """Fold checkpoint ``cp_v`` (from ``_fold_start``) plus the
        JSON tail up to ``version`` from disk; also returns the digest
        of the commit file at ``version`` (None when only a checkpoint
        holds it)."""
        st = _State(version=version, metadata={}, protocol={})
        start = 0
        if cp_v is not None:
            _fold_actions(
                st, self._read_checkpoint(cp_v, cps[cp_v]), checkpoint=True
            )
            start = cp_v + 1
        raw = None
        for v in range(start, version + 1):
            raw = self._commit_bytes(v)
            _fold_actions(st, _parse_commit(raw))
        if raw is None and version in commits:
            raw = self._commit_bytes(version)

        if not st.metadata:
            raise DeltaProtocolError("log has no metaData action")
        self._check_protocol(st.protocol, st.metadata)
        return st, (_digest(raw) if raw is not None else None)

    def _write_guard(
        self, st: _State, df: DataFrame | None, operation: str
    ) -> None:
        """The writer-side mirror of _check_protocol — a conformant
        Delta writer must refuse to write into a table whose writer
        requirements it cannot honor (PROTOCOL.md §Writer Requirements),
        and must ENFORCE the ones it claims:

        - protocol gate: minWriterVersion > 7 or unknown writerFeatures
          refuse (we cannot know what invariant we'd break);
        - ``delta.appendOnly``: any operation that removes or modifies
          existing rows (overwrite / MERGE / DELETE / RESTORE) raises;
          blind appends and dataChange=false OPTIMIZE remain legal;
        - CHECK constraints (``delta.constraints.*``): the rows being
          written are validated with one aggregate pass — a row where
          the expression evaluates to FALSE (NULL passes, SQL CHECK
          semantics) aborts the commit;
        - legacy column invariants (``delta.invariants`` field
          metadata): enforced the same way.

        ``df`` is the data being committed (None for metadata-only /
        position-delete commits, which still get the protocol +
        append-only checks)."""
        proto = st.protocol or {}
        writer = int(proto.get("minWriterVersion", 1))
        if writer > 7:
            raise UnsupportedTableFeatureError(
                f"minWriterVersion={writer} is beyond protocol v7; "
                "refusing to write"
            )
        feats = set(proto.get("writerFeatures") or [])
        unknown = feats - _SUPPORTED_WRITER_FEATURES
        if writer == 7 and unknown:
            raise UnsupportedTableFeatureError(
                f"unsupported writer features: {sorted(unknown)} — "
                "writing could break an invariant this engine does not "
                "implement"
            )
        # Legacy minWriterVersion 4-6 imply generatedColumns (v4+) and
        # identityColumns (v6) WITHOUT listing them in writerFeatures.
        # Generated columns are COMPUTED/validated on the Spark write
        # path (_apply_generated_columns, called by append/overwrite);
        # MERGE does not recompute them, so it refuses when one exists.
        # Identity values are ALLOCATED on the append/create path
        # (_apply_identity_columns: HWM-continuing generation, metaData
        # HWM advance in the same commit); MERGE and overwrite do not
        # run the allocator, so they refuse rather than breaking the
        # high-water-mark contract (spec-legal: a writer may reject
        # operations it cannot perform correctly).
        if 4 <= writer <= 6 or feats & {"generatedColumns", "identityColumns"}:
            for f in st.schema.fields:
                md = f.metadata or {}
                if (
                    "delta.generationExpression" in md
                    and operation == "MERGE"
                ):
                    raise UnsupportedTableFeatureError(
                        f"column {f.name!r} is a generated column "
                        f"({md['delta.generationExpression']!r}); MERGE "
                        "does not recompute generated values — refusing"
                    )
                if operation == "WRITE-OVERWRITE" and any(
                    k.startswith("delta.identity.") for k in md
                ):
                    raise UnsupportedTableFeatureError(
                        f"column {f.name!r} is an identity column; "
                        f"{operation} does not run the identity "
                        "allocator — append instead"
                    )
        conf = st.metadata.get("configuration") or {}
        if conf.get("delta.appendOnly") == "true" and operation in (
            "WRITE-OVERWRITE", "MERGE", "DELETE", "RESTORE"
        ):
            raise DeltaProtocolError(
                f"table is delta.appendOnly=true; {operation} would "
                "remove or modify existing rows"
            )
        if df is None:
            return
        checks: list[tuple[str, str]] = [
            (k[len("delta.constraints.") :], v)
            for k, v in conf.items()
            if k.startswith("delta.constraints.")
        ]
        for f in st.schema.fields:
            inv = (f.metadata or {}).get("delta.invariants")
            if inv:
                try:
                    expr = json.loads(inv)["expression"]["expression"]
                except (ValueError, KeyError, TypeError):
                    raise UnsupportedTableFeatureError(
                        f"unparseable invariant on column {f.name!r}: "
                        f"{inv!r}"
                    ) from None
                checks.append((f"invariant({f.name})", expr))
        if not checks:
            return
        # one aggregate pass over the written rows for ALL constraints
        aggs = [
            F.sum(
                F.when(F.expr(expr) == False, 1).otherwise(0)  # noqa: E712
            ).alias(f"_c{i}")
            for i, (_n, expr) in enumerate(checks)
        ]
        row = df.agg(*aggs).first()
        for i, (name, expr) in enumerate(checks):
            bad = row[f"_c{i}"]
            if bad:
                raise DeltaProtocolError(
                    f"CHECK constraint {name!r} ({expr}) violated by "
                    f"{bad} row(s); commit aborted"
                )

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT: validates EXISTING rows against
        ``expr`` (one scan), then commits the constraint into table
        configuration so every subsequent write enforces it."""
        st = self.state()
        key = f"delta.constraints.{name}"
        if key in (st.metadata.get("configuration") or {}):
            raise DeltaProtocolError(f"constraint {name!r} already exists")
        bad = self.snapshot().filter(
            F.expr(expr) == False  # noqa: E712 — NULL passes, like SQL CHECK
        ).count()
        if bad:
            raise DeltaProtocolError(
                f"cannot add constraint {name!r}: {bad} existing row(s) "
                "violate it"
            )
        meta = dict(st.metadata)
        conf = dict(meta.get("configuration") or {})
        conf[key] = expr
        meta["configuration"] = conf
        v = st.version + 1
        self._commit(v, [{"metaData": meta}], "ADD CONSTRAINT")
        return v

    def drop_constraint(self, name: str) -> int:
        st = self.state()
        key = f"delta.constraints.{name}"
        conf = dict(st.metadata.get("configuration") or {})
        if key not in conf:
            raise DeltaProtocolError(f"no constraint {name!r}")
        conf.pop(key)
        meta = dict(st.metadata)
        meta["configuration"] = conf
        v = st.version + 1
        self._commit(v, [{"metaData": meta}], "DROP CONSTRAINT")
        return v

    def _require_mapping(self, st: _State, op: str) -> None:
        if st.column_mapping is None:
            raise UnsupportedTableFeatureError(
                f"{op} requires delta.columnMapping (mode name/id): "
                "without stable physical names the data files would "
                "stop resolving — enable mapping at create"
            )

    def _col_referenced_by(self, st: _State, name: str) -> list[str]:
        """Table machinery that names the column: CHECK constraints,
        invariants, generation expressions, partition columns."""
        import re

        hits: list[str] = []
        pat = re.compile(rf"\b{re.escape(name)}\b")
        conf = st.metadata.get("configuration") or {}
        for k, expr in conf.items():
            if k.startswith("delta.constraints.") and pat.search(expr):
                hits.append(f"constraint {k.split('.', 2)[2]!r}")
        for f in st.schema.fields:
            md = f.metadata or {}
            gen = md.get("delta.generationExpression")
            if gen and pat.search(gen):
                hits.append(f"generated column {f.name!r}")
            if f.name != name and md.get("delta.invariants") and pat.search(
                md["delta.invariants"]
            ):
                hits.append(f"invariant on {f.name!r}")
        if name in st.partition_columns:
            hits.append("partitioning")
        return hits

    def add_columns(self, new_fields: T.StructType) -> int:
        """ALTER TABLE ADD COLUMNS: append nullable fields as a
        metadata-only commit — existing files simply lack them and
        read NULL. Column-mapped tables assign a fresh field id +
        physical name (same rule as MERGE schema evolution, so a
        previously-dropped logical name can never resurrect old
        data)."""
        st = self.state()
        self._write_guard(st, None, "WRITE")
        sj = json.loads(st.metadata["schemaString"])
        have = {f["name"] for f in sj["fields"]}
        conf = dict(st.metadata.get("configuration") or {})
        mapped = st.column_mapping is not None
        max_id = int(conf.get("delta.columnMapping.maxColumnId", 0))
        for f in sj["fields"]:
            md_f = f.get("metadata") or {}
            if "delta.columnMapping.id" in md_f:
                max_id = max(max_id, int(md_f["delta.columnMapping.id"]))
        for f_ in new_fields.fields:
            if f_.name in have:
                raise DeltaProtocolError(
                    f"column {f_.name!r} already exists"
                )
            if (f_.metadata or {}).get("CURRENT_DEFAULT"):
                # spec: defaults may only be SET on existing columns —
                # a new column's default could not be served for
                # pre-existing files (Delta has no initial-default)
                raise DeltaProtocolError(
                    f"cannot add column {f_.name!r} with a default "
                    "value; add it first, then set_column_default"
                )
            fj = T.StructField(f_.name, f_.dataType, True).jsonValue()
            if mapped:
                max_id += 1
                fj["metadata"] = {
                    "delta.columnMapping.id": max_id,
                    "delta.columnMapping.physicalName":
                        f"col-{uuid.uuid4().hex[:8]}",
                }
            sj["fields"].append(fj)
        meta = dict(st.metadata)
        meta["schemaString"] = json.dumps(sj)
        if mapped:
            conf["delta.columnMapping.maxColumnId"] = str(max_id)
            meta["configuration"] = conf
        v = st.version + 1
        self._commit(v, [{"metaData": meta}], "ADD COLUMNS")
        return v

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN — metadata-only under column
        mapping (the physical name and field id never change, so every
        existing data file keeps resolving; this is WHY Delta requires
        mapping for rename)."""
        st = self.state()
        self._require_mapping(st, "RENAME COLUMN")
        self._write_guard(st, None, "WRITE")
        sj = json.loads(st.metadata["schemaString"])
        names = [f["name"] for f in sj["fields"]]
        if old not in names:
            raise DeltaProtocolError(f"no column {old!r}")
        if new in names:
            raise DeltaProtocolError(f"column {new!r} already exists")
        hits = self._col_referenced_by(st, old)
        # the column's OWN invariant names it too: renaming would leave
        # the expression referencing the old name, bricking every
        # future write's guard evaluation (drop_column is different —
        # the metadata leaves with the field)
        for f_ in st.schema.fields:
            if f_.name == old and (f_.metadata or {}).get(
                "delta.invariants"
            ):
                hits.append(f"its own invariant")
        if hits:
            raise DeltaProtocolError(
                f"cannot rename {old!r}: referenced by "
                + ", ".join(hits)
            )
        for f in sj["fields"]:
            if f["name"] == old:
                f["name"] = new
        meta = dict(st.metadata)
        meta["schemaString"] = json.dumps(sj)
        v = st.version + 1
        self._commit(v, [{"metaData": meta}], "RENAME COLUMN")
        return v

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN — metadata-only under column
        mapping: the field leaves the schema, the physical column
        stays in the files (unreadable — its physical name is no
        longer mapped). A later add of the same LOGICAL name gets a
        fresh field id + physical name, so dropped data can never
        resurrect."""
        st = self.state()
        self._require_mapping(st, "DROP COLUMN")
        self._write_guard(st, None, "WRITE")
        sj = json.loads(st.metadata["schemaString"])
        names = [f["name"] for f in sj["fields"]]
        if name not in names:
            raise DeltaProtocolError(f"no column {name!r}")
        if len(names) == 1:
            raise DeltaProtocolError("cannot drop the last column")
        hits = self._col_referenced_by(st, name)
        if hits:
            raise DeltaProtocolError(
                f"cannot drop {name!r}: referenced by " + ", ".join(hits)
            )
        sj["fields"] = [f for f in sj["fields"] if f["name"] != name]
        meta = dict(st.metadata)
        meta["schemaString"] = json.dumps(sj)
        v = st.version + 1
        self._commit(v, [{"metaData": meta}], "DROP COLUMN")
        return v

    def widen_column(self, name: str, new_type: str) -> int:
        """ALTER TABLE ... TYPE — the ``typeWidening`` table feature
        (PROTOCOL.md §Type Widening): a metadata-only type change to a
        strictly wider type. Existing data files keep their narrow
        physical type; readers upcast per file against the logical
        schema (Spark's parquet reader does this natively — verified
        for every transition below), so at 100 TB a widen is one
        metadata commit, never a rewrite.

        Allowed transitions (the spec's stable set, minus the two this
        engine's reader cannot honor — see the gate below):
        byte→short→int→long, byte/short/int→double, float→double,
        date→timestamp_ntz, int→decimal(p-s>=10),
        long→decimal(p-s>=20), decimal(p,s)→decimal(p',s') with
        s'>=s and p'-s'>=p-s.

        Gate: parquet's int32 physical type only promotes to decimal
        when it is NOT annotated int8/int16, so a column that was EVER
        byte or short (current type or any recorded
        ``delta.typeChanges`` fromType) refuses →decimal — files
        written at the narrow type would fail to read.

        Each widen appends a ``delta.typeChanges`` entry to the field
        metadata and upgrades the protocol to (3, 7) with
        ``typeWidening`` in BOTH feature lists (it is a reader-writer
        feature: readers that ignore it would read the narrow type)."""
        st = self.state()
        self._write_guard(st, None, "WRITE")
        sj = json.loads(st.metadata["schemaString"])
        field = next((f for f in sj["fields"] if f["name"] == name), None)
        if field is None:
            raise DeltaProtocolError(f"no column {name!r}")
        old_type = field["type"]
        if not isinstance(old_type, str):
            raise UnsupportedTableFeatureError(
                f"type widening inside nested type {name!r} is not "
                "supported by this writer"
            )
        if not _widening_allowed(old_type, new_type):
            raise DeltaProtocolError(
                f"cannot widen {name!r}: {old_type} -> {new_type} is "
                "not an allowed type-widening transition"
            )
        md = dict(field.get("metadata") or {})
        changes = list(md.get("delta.typeChanges") or [])
        if new_type.startswith("decimal"):
            ever = {old_type} | {c["fromType"] for c in changes}
            if ever & {"byte", "short"}:
                raise UnsupportedTableFeatureError(
                    f"cannot widen {name!r} to {new_type}: the column "
                    "was previously byte/short and parquet int8/int16 "
                    "pages do not promote to decimal in this engine's "
                    "reader"
                )
        changes.append({"fromType": old_type, "toType": new_type})
        md["delta.typeChanges"] = changes
        field["metadata"] = md
        field["type"] = new_type
        meta = dict(st.metadata)
        meta["schemaString"] = json.dumps(sj)
        # a widen to timestamp_ntz also introduces the NTZ type itself
        upgrade = _feature_upgrade(
            st.protocol or {},
            {"typeWidening"}
            | ({"timestampNtz"} if new_type == "timestamp_ntz" else set()),
        )
        actions = [upgrade] if upgrade else []
        actions.append({"metaData": meta})
        v = st.version + 1
        self._commit(v, actions, "CHANGE COLUMN")
        return v

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: commitInfo per version, newest first."""
        out = []
        for v in reversed(self._commit_versions()):
            for a in self._read_commit(v):
                if "commitInfo" in a:
                    out.append({"version": v, **a["commitInfo"]})
        return out

    def txn_version(self, app_id: str) -> int:
        """Latest SetTransaction version for app_id; -1 if none."""
        return int(self.state().txns.get(app_id, -1))

    def properties(self) -> dict[str, str]:
        """The table configuration (``metaData.configuration``)."""
        return dict(self.state().metadata.get("configuration") or {})

    def row_count(self, version: int | None = None) -> int:
        """Live rows at ``version`` from the log alone: each add's stats
        ``numRecords`` minus its deletion vector's cardinality — no data
        scan. An add written without ``numRecords`` (allowed by the
        spec) costs one parquet footer read."""
        n = 0
        for p, a in self.state(version).adds.items():
            rec = json.loads(a.get("stats") or "{}").get("numRecords")
            if rec is None:
                import pyarrow.parquet as pq

                rec = pq.read_metadata(self._abs_data_path(p)).num_rows
            dv = a.get("deletionVector") or {}
            n += int(rec) - int(dv.get("cardinality") or 0)
        return n

    def detail(self) -> dict:
        """DESCRIBE DETAIL: one summary row of the current state —
        format, id/location, file/byte counts, partition columns,
        properties, protocol versions (delta-spark's surface)."""
        st = self.state()
        proto = st.protocol or {}
        total_deleted = 0
        for a in st.adds.values():
            dv = a.get("deletionVector")
            if dv:
                total_deleted += int(dv.get("cardinality") or 0)
        return {
            "format": "delta",
            "location": self.path,
            "version": st.version,
            "numFiles": len(st.adds),
            "sizeInBytes": sum(
                int(a.get("size") or 0) for a in st.adds.values()
            ),
            "numDeletedRecords": total_deleted,
            "partitionColumns": list(st.partition_columns),
            "properties": dict(st.metadata.get("configuration") or {}),
            "minReaderVersion": int(proto.get("minReaderVersion", 1)),
            "minWriterVersion": int(proto.get("minWriterVersion", 1)),
            "readerFeatures": sorted(proto.get("readerFeatures") or []),
            "writerFeatures": sorted(proto.get("writerFeatures") or []),
        }

    # ------------------------------------------------------------ read

    def _abs_data_path(self, p: str) -> str:
        """Resolve an add/remove ``path`` field to an absolute
        filesystem path. PROTOCOL.md §Add File and Remove File: the
        field is a RELATIVE path within the table directory
        (percent-encoded) or an ABSOLUTE URI — absolute entries are
        how SHALLOW CLONE tables reference the source table's data
        files without copying bytes. Handles ``file:`` URIs and plain
        absolute paths; everything else joins under the table root."""
        return abs_data_path(self.path, p)

    def _data_paths(self, st: _State) -> list[str]:
        return [self._abs_data_path(p) for p in sorted(st.adds)]

    def _dv_blob(self, dv: dict) -> bytes:
        """Resolve a deletionVector descriptor to its raw bitmap blob
        (PROTOCOL.md §Deletion Vector Descriptor Schema): storageType
        'i' = inline z85 bytes; 'u' = z85-encoded UUID (optionally
        behind a random path prefix) naming
        <table>/<prefix>/deletion_vector_<uuid>.bin; 'p' = absolute
        path. On-disk blobs are CRC-framed (dv_bitmap.read_dv_from_file)."""
        from featureform_spark.sources.dv_bitmap import (
            read_dv_from_file,
            z85_decode,
        )

        stype = dv["storageType"]
        if stype == "i":
            return z85_decode(dv["pathOrInlineDv"])
        path, offset, size = self._dv_file_location(dv)
        return read_dv_from_file(path, offset, size)

    def _dv_file_location(
        self, dv: dict
    ) -> tuple[str, int, int] | None:
        """(absolute path, offset, sizeInBytes) of an ON-DISK deletion
        vector blob; None for inline ('i') vectors. Lets UniForm
        reference the same framed bytes from Iceberg v3 DV entries
        without any conversion."""
        from featureform_spark.sources.dv_bitmap import z85_decode

        stype = dv["storageType"]
        if stype == "i":
            return None
        if stype == "p":
            path = strip_file_scheme(dv["pathOrInlineDv"])
        elif stype == "u":
            enc = dv["pathOrInlineDv"]
            prefix, uuid_enc = enc[:-20], enc[-20:]
            u = uuid.UUID(bytes=z85_decode(uuid_enc))
            base = os.path.join(self.path, prefix) if prefix else self.path
            path = os.path.join(base, f"deletion_vector_{u}.bin")
        else:
            raise UnsupportedTableFeatureError(
                f"deletion vector storageType {stype!r}"
            )
        return path, int(dv["offset"]), int(dv["sizeInBytes"])

    def _dv_positions(self, dv: dict):
        """Deleted row indexes (sorted uint64 numpy array) for one
        descriptor; cardinality cross-checked against the bitmap."""
        from featureform_spark.sources.dv_bitmap import dv_positions

        return dv_positions(
            self._dv_blob(dv), dv.get("cardinality"), DeltaProtocolError
        )

    def _position_frame(self, positions: dict[str, Any]) -> DataFrame:
        """The one (file, position) frame: ``__dv_file``/``__dv_pos``
        rows for each absolute data-file path's row indexes (a numpy
        array, e.g. one decoded deletion vector), JVM-side."""
        return position_df(self.spark, positions, "__dv_file", "__dv_pos")

    def _deleted_frame(
        self, st: _State, paths: list[str]
    ) -> DataFrame | None:
        """The :meth:`_position_frame` of the deletion vectors of
        ``paths``' files; None when none has one."""
        path_set = set(paths)
        deleted = {}
        for rel, a in st.adds.items():
            abs_p = self._abs_data_path(rel)
            if a.get("deletionVector") and abs_p in path_set:
                deleted[abs_p] = self._dv_positions(a["deletionVector"])
        return self._position_frame(deleted) if deleted else None

    def _read_files(
        self,
        st: _State,
        paths: list[str],
        keep_pos: bool = False,
        deleted: DataFrame | None = None,
    ) -> DataFrame:
        """The one Spark scan of a table's data files: every Spark-side
        reader of rows — snapshots, MERGE discovery and rewrite,
        DELETE matching, the change feed — goes through it, so
        deletion vectors, partition values and column mapping mean the
        same thing to each. Files with a DV are read with Spark's
        ``_metadata.row_index`` and the deleted (file, position) pairs
        are removed with one broadcast anti-join — the same
        merge-on-read shape as iceberg_protocol position deletes. DV
        decode is driver-side and cardinality-scale (the blobs are a
        few MB for millions of deleted rows), never data-scale.

        ``keep_pos`` keeps ``__dv_file``/``__dv_pos`` (absolute file
        path + ORIGINAL row index, i.e. pre-DV position) in the output
        — what row-id computation and DELETE need. ``deleted`` is the
        :meth:`_deleted_frame` of ``paths`` when the caller holds it."""
        if deleted is None:
            deleted = self._deleted_frame(st, paths)
        base = self._read_files_plain(
            st, paths, with_pos=keep_pos or deleted is not None
        )
        if deleted is None:
            return base
        out = base.join(
            F.broadcast(deleted), on=["__dv_file", "__dv_pos"], how="left_anti"
        )
        if keep_pos:
            return out
        return out.select(*[f.name for f in st.schema.fields])

    def _assign_row_ids(
        self, st: _State, adds: list[dict], commit_version: int
    ) -> dict | None:
        """Row tracking writer duty (PROTOCOL.md §Row Tracking): stamp
        each new add action with ``baseRowId`` (fresh ids start past
        the high-water mark) and ``defaultRowCommitVersion``, and
        return the ``delta.rowTracking`` domainMetadata action carrying
        the advanced mark. Mutates ``adds`` in place; None when the
        table does not track rows. Safe to call again on a commit
        retry (re-reads the winner's mark and restamps)."""
        if not st.row_tracking:
            return None
        hwm = st.row_id_high_water_mark
        for a in adds:
            if not a.get("stats"):
                raise DeltaProtocolError(
                    "row tracking requires numRecords stats on every "
                    f"written file (missing for {a['path']!r})"
                )
            n = int(json.loads(a["stats"])["numRecords"])
            a["baseRowId"] = hwm + 1
            a["defaultRowCommitVersion"] = commit_version
            hwm += n
        return {
            "domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": hwm}
                ),
                "removed": False,
            }
        }

    def _scan_with_row_ids(
        self, st: _State, paths: list[str]
    ) -> DataFrame:
        """Table scan carrying ``_row_id`` / ``_row_commit_version``:
        ``coalesce(materialized column, baseRowId + original row
        index)`` per the spec — one per-file-metadata broadcast join on
        top of the ordinary (DV-applying) scan; files that predate a
        rewrite simply lack the materialized columns and read NULL."""
        mat = st.materialized_row_id_cols
        if mat is None:
            raise DeltaProtocolError(
                "table does not materialize row ids "
                "(delta.rowTracking.materialized*ColumnName unset)"
            )
        sj = json.loads(st.metadata["schemaString"])
        for name in mat:
            sj["fields"].append(
                {
                    "name": name,
                    "type": "long",
                    "nullable": True,
                    "metadata": {},
                }
            )
        ext_md = dict(st.metadata)
        ext_md["schemaString"] = json.dumps(sj)
        path_set = set(paths)
        sub_adds = {
            rel: a
            for rel, a in st.adds.items()
            if self._abs_data_path(rel) in path_set
        }
        sub = _State(
            version=st.version,
            metadata=ext_md,
            protocol=st.protocol,
            adds=sub_adds,
            domains=st.domains,
        )
        base = self._read_files(sub, paths, keep_pos=True)
        from featureform_spark.sources.local_df import local_df

        info = local_df(
            self.spark,
            [
                (
                    self._abs_data_path(rel),
                    a.get("baseRowId"),
                    a.get("defaultRowCommitVersion"),
                )
                for rel, a in sorted(sub_adds.items())
            ],
            "__dv_file string, __rt_base long, __rt_dcv long",
        )
        cols = [f.name for f in st.schema.fields]
        return base.join(F.broadcast(info), "__dv_file", "left").select(
            *cols,
            F.coalesce(
                F.col(mat[0]), F.col("__rt_base") + F.col("__dv_pos")
            ).alias("_row_id"),
            F.coalesce(F.col(mat[1]), F.col("__rt_dcv")).alias(
                "_row_commit_version"
            ),
        )

    def snapshot_with_row_ids(self, version: int | None = None) -> DataFrame:
        """The table at ``version`` with two extra columns, ``_row_id``
        and ``_row_commit_version`` — Delta row tracking's stable row
        identity (survives DV deletes untouched and rewrites via
        materialized columns). Requires delta.enableRowTracking."""
        st = self.state(version)
        if not st.row_tracking:
            raise DeltaProtocolError(
                "delta.enableRowTracking is not set on this table"
            )
        paths = self._data_paths(st)
        return self._scan_with_row_ids(st, paths)

    def _read_files_plain(
        self, st: _State, paths: list[str], with_pos: bool = False
    ) -> DataFrame:
        """:meth:`_read_files` before deletion vectors: one parquet
        scan (Hive-layout partitions recovered by Spark, other layouts
        grouped by ``partitionValues``), column-mapped names aliased
        back to logical ones; ``with_pos`` adds the file path and
        original row index."""
        schema = st.schema
        parts = st.partition_columns
        meta = (
            [
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/+", "/"
                ).alias("__dv_file"),
                F.col("_metadata.row_index").alias("__dv_pos"),
            ]
            if with_pos
            else []
        )
        if not paths:
            out_schema = (
                T.StructType(
                    list(schema.fields)
                    + [
                        T.StructField("__dv_file", T.StringType()),
                        T.StructField("__dv_pos", T.LongType()),
                    ]
                )
                if with_pos
                else schema
            )
            return self.spark.createDataFrame([], out_schema)
        mapping = st.column_mapping
        if mapping:
            # column mapping (mode name/id): data files store columns —
            # and partition DIRECTORIES — under PHYSICAL names; read the
            # physical schema (+ basePath so Spark recovers physical
            # partition dirs) and alias back to the logical names.
            phys_by_logical = {lo: ph for ph, lo in mapping}
            r = self.spark.read.schema(st.physical_schema)
            if parts:
                phys_parts = [phys_by_logical[c] for c in parts]
                rel = [os.path.relpath(p, self.path) for p in paths]
                if all(
                    all(
                        f"{c}=" in s.replace("%3D", "=")
                        for c in phys_parts
                    )
                    for s in rel
                ):
                    r = r.option("basePath", self.path)
                else:
                    # non-Hive layout: group by partitionValues
                    # (physical keys per spec) and attach literals
                    return self._read_grouped(
                        st, paths, st.physical_schema, phys_parts, meta
                    ).select(
                        *[F.col(ph).alias(lo) for ph, lo in mapping],
                        *(
                            [F.col("__dv_file"), F.col("__dv_pos")]
                            if with_pos
                            else []
                        ),
                    )
            return r.parquet(*paths).select(
                *[F.col(phys).alias(logical) for phys, logical in mapping],
                *meta,
            )
        if not parts:
            return self.spark.read.schema(schema).parquet(*paths).select(
                *[f.name for f in schema.fields], *meta
            )
        # Hive-style layout (what this writer and delta-spark both
        # produce): one scan with explicit schema + basePath — Spark
        # recovers and casts partition columns from directory names.
        rel = [os.path.relpath(p, self.path) for p in paths]
        if all(
            all(f"{c}=" in r.replace("%3D", "=") for c in parts) for r in rel
        ):
            return (
                self.spark.read.schema(schema)
                .option("basePath", self.path)
                .parquet(*paths)
                .select(*[f.name for f in schema.fields], *meta)
            )
        # Fallback: group files by partitionValues, attach literals.
        return self._read_grouped(st, paths, schema, parts, meta)

    def _read_grouped(
        self,
        st: _State,
        paths: list[str],
        schema: T.StructType,
        parts: list[str],
        meta: list,
    ) -> DataFrame:
        """Non-Hive-layout partitioned read: group files by the log's
        ``partitionValues`` and attach partition literals. ``schema``
        and ``parts`` name columns in the same namespace as the add
        actions' partitionValues keys (physical under column mapping,
        logical otherwise); ``meta`` is :meth:`_read_files_plain`'s
        file-path/row-index column list."""
        by_pv: dict[tuple, list[str]] = {}
        for p in sorted(st.adds):
            pv = st.adds[p].get("partitionValues") or {}
            key = tuple(pv.get(c) for c in parts)
            full = self._abs_data_path(p)
            if full in paths:
                by_pv.setdefault(key, []).append(full)
        data_schema = T.StructType(
            [f for f in schema.fields if f.name not in parts]
        )
        types = {f.name: f.dataType for f in schema.fields}
        out = None
        for key, group in sorted(by_pv.items(), key=lambda kv: str(kv[0])):
            df = self.spark.read.schema(data_schema).parquet(*group)
            for c, raw in zip(parts, key):
                df = df.withColumn(
                    c,
                    F.lit(raw).cast(types[c])
                    if raw is not None
                    else F.lit(None).cast(types[c]),
                )
            df = df.select(*[f.name for f in schema.fields], *meta)
            out = df if out is None else out.unionByName(df)
        return out

    def snapshot(self, version: int | None = None) -> DataFrame:
        """The table at ``version`` (Delta VERSION AS OF; latest if
        None) as one native parquet scan."""
        st = self.state(version)
        return self._read_files(st, self._data_paths(st))

    def snapshot_where(
        self, partition_filter: dict[str, Any], version: int | None = None
    ) -> DataFrame:
        """Partition pruning from the log: only files whose
        ``partitionValues`` match the filter are scanned."""
        st = self.state(version)
        want = {k: (None if v is None else str(v)) for k, v in partition_filter.items()}
        keep = []
        for p in sorted(st.adds):
            pv = st.adds[p].get("partitionValues") or {}
            if all(pv.get(k) == v for k, v in want.items()):
                keep.append(self._abs_data_path(p))
        self._last_prune = {"files_total": len(st.adds), "files_read": len(keep)}
        return self._read_files(st, keep)

    @staticmethod
    def _generated_partition_bounds(
        st: _State, col: str, lo: Any, hi: Any
    ) -> list[tuple[str, Any, Any]]:
        """Partition filters DERIVED from generated columns — the
        delta-spark optimization that makes `WHERE ts BETWEEN ..`
        prune a table partitioned by `date GENERATED ALWAYS AS
        (CAST(ts AS DATE))` without the user naming the partition
        column. Returns [(partition_col, lo', hi')] for every
        partition column whose generation expression is a RECOGNIZED
        MONOTONIC shape over ``col``:

        - ``CAST(col AS DATE)``            → ISO date-prefix bounds
        - ``DATE_FORMAT(col, 'yyyy-MM-dd')`` → same (lexicographic ==
          chronological for this format)
        - ``YEAR(col)``                    → integer year bounds

        Non-monotonic shapes (bare month/day/hour) are never used —
        deriving bounds from them would skip matching files."""
        import re as _re

        def _iso(v: Any) -> str | None:
            if isinstance(v, str):
                return v[:10] if len(v) >= 10 else None
            if isinstance(v, datetime.datetime):
                return v.date().isoformat()
            if isinstance(v, datetime.date):
                return v.isoformat()
            return None

        out: list[tuple[str, Any, Any]] = []
        parts = set(st.partition_columns)
        for f in st.schema.fields:
            if f.name not in parts:
                continue
            gen = (f.metadata or {}).get("delta.generationExpression")
            if not gen:
                continue
            e = _re.sub(r"\s+", " ", gen.strip())
            c_re = _re.escape(col)
            ilo, ihi = _iso(lo), _iso(hi)
            # function/keyword names match case-insensitively, but the
            # FORMAT PATTERN is case-sensitive: 'yyyy-MM-dd' is a date
            # prefix while 'yyyy-mm-dd' means MINUTES — lowercasing
            # both would derive date bounds from a non-monotonic
            # expression and silently prune matching files
            if _re.fullmatch(
                rf"(?i:cast)\( ?(?i:{c_re}) (?i:as) (?i:date) ?\)", e
            ) or _re.fullmatch(
                rf"(?i:date_format)\( ?(?i:{c_re}), ?'yyyy-MM-dd' ?\)", e
            ):
                if ilo is not None and ihi is not None:
                    out.append((f.name, ilo, ihi))
            elif _re.fullmatch(rf"(?i:year)\( ?(?i:{c_re}) ?\)", e):
                if ilo is not None and ihi is not None:
                    out.append((f.name, int(ilo[:4]), int(ihi[:4])))
        return out

    def snapshot_pruned(
        self, col: str, lo: Any, hi: Any, version: int | None = None
    ) -> DataFrame:
        """Stats-based data skipping: drop files whose log-carried
        [minValues, maxValues] range for ``col`` is disjoint from
        [lo, hi], then apply the exact filter. Zero footer reads.
        When a PARTITION column is generated from ``col`` in a
        recognized monotonic shape, files are additionally pruned by
        the derived partition bounds (see
        :meth:`_generated_partition_bounds`) — so the common
        "timestamp filter over a date-partitioned table" shape skips
        whole partitions even for files with no stats."""
        st = self.state(version)
        derived = self._generated_partition_bounds(st, col, lo, hi)
        # Temporal stats are ISO strings, but the SEPARATOR is
        # writer-specific: this writer emits 'YYYY-MM-DD hh:mm:ss',
        # delta-spark emits 'YYYY-MM-DDThh:mm:ss.mmmZ'. Since
        # 'T' > ' ' lexicographically, comparing raw strings against a
        # space-separated bound wrongly prunes same-day files from
        # externally-written tables — so temporal bounds compare as
        # parsed datetimes, and any stats value that fails to parse
        # keeps its file (skipping is an optimization, never a filter).
        temporal = isinstance(lo, (datetime.datetime, datetime.date))

        def _as_naive_utc(v: Any) -> Any:
            if isinstance(v, datetime.datetime):
                if v.tzinfo is not None:
                    v = v.astimezone(datetime.timezone.utc).replace(
                        tzinfo=None
                    )
                return v
            if isinstance(v, datetime.date):
                return datetime.datetime(v.year, v.month, v.day)
            return v

        def _parse_stat(v: Any) -> Any:
            """ISO string → naive-UTC datetime; None on any ambiguity."""
            if not isinstance(v, str):
                return None
            s = v.strip().replace("T", " ")
            if s.endswith("Z"):
                s = s[:-1] + "+00:00"
            try:
                return _as_naive_utc(datetime.datetime.fromisoformat(s))
            except ValueError:
                return None

        if temporal:
            slo, shi = _as_naive_utc(lo), _as_naive_utc(hi)
        else:
            slo, shi = lo, hi
        keep = []
        for p in sorted(st.adds):
            a = st.adds[p]
            stats = a.get("stats")
            rng = None
            if stats:
                s = json.loads(stats)
                mn = (s.get("minValues") or {}).get(col)
                mx = (s.get("maxValues") or {}).get(col)
                if temporal:
                    mn, mx = _parse_stat(mn), _parse_stat(mx)
                if mn is not None and mx is not None:
                    rng = (mn, mx)
            if rng is not None and (rng[1] < slo or rng[0] > shi):
                continue
            pv = a.get("partitionValues") or {}
            pruned = False
            for pcol, plo, phi in derived:
                raw = pv.get(pcol)
                if raw is None:
                    continue  # null partition: never prune on it
                v: Any = raw
                if isinstance(plo, int):
                    try:
                        v = int(raw)
                    except ValueError:
                        continue
                if v < plo or v > phi:
                    pruned = True
                    break
            if pruned:
                continue
            keep.append(self._abs_data_path(p))
        self._last_prune = {"files_total": len(st.adds), "files_read": len(keep)}
        df = self._read_files(st, keep)
        return df.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))

    # ----------------------------------------------------------- write

    def _write_files(
        self,
        df: DataFrame,
        partition_by: list[str],
        mapping: list[tuple[str, str]] | None = None,
        table_conf: dict[str, str] | None = None,
    ) -> list[dict]:
        """Write immutable part files (Hive layout when partitioned);
        return protocol add-actions with footer-derived stats.

        ``mapping`` ([(physical, logical)], from _State.column_mapping)
        makes this a column-mapped write: the df arrives with LOGICAL
        names and is renamed to physical before writing, so data files,
        partition directories, partitionValues keys and stats all carry
        physical names — the delta column-mapping contract. Without
        this, files written under logical names read back as all-NULL
        through the physical-schema scan."""
        if mapping:
            phys_by_logical = {lo: ph for ph, lo in mapping}
            missing = [c for c in df.columns if c not in phys_by_logical]
            if missing:
                raise DeltaProtocolError(
                    f"columns {missing} have no column-mapping physical "
                    "name; evolve the table metadata first"
                )
            df = df.select(
                *[
                    F.col(c).alias(phys_by_logical[c])
                    for c in df.columns
                ]
            )
            partition_by = [phys_by_logical[c] for c in partition_by]

        allow = _stats_columns(table_conf, df.columns, mapping)
        return [
            {
                "path": urllib.parse.quote(
                    os.path.relpath(r.path, self.path).replace(os.sep, "/")
                ),
                "partitionValues": r.partition,
                "size": r.size,
                "modificationTime": int(time.time() * 1000),
                "dataChange": True,
                "stats": _delta_stats(r, allow),
            }
            for r in write_staged(
                df,
                self.path,
                lambda d, _n: os.path.join(
                    d, f"part-{uuid.uuid4().hex}.parquet"
                ),
                partition_by,
            )
        ]

    def _write_cdc_files(self, changes: DataFrame) -> list[dict]:
        """Write a change-data file set under ``_change_data/`` and
        return the cdc actions for the commit (PROTOCOL.md §Change Data
        Files — dataChange=false; CDF readers use these INSTEAD of
        deriving from the add/remove actions). ``changes`` carries the
        table columns plus ``_change_type``."""
        return [
            {
                "cdc": {
                    "path": os.path.relpath(r.path, self.path).replace(
                        os.sep, "/"
                    ),
                    "partitionValues": {},
                    "size": r.size,
                    "dataChange": False,
                }
            }
            for r in write_staged(
                changes,
                self.path,
                lambda _d, _n: os.path.join(
                    "_change_data", f"cdc-{uuid.uuid4().hex}.parquet"
                ),
            )
        ]

    def _commit(self, version: int, actions: list[dict], op: str) -> None:
        """Atomic put-if-absent commit — the primitive Delta's LogStore
        contract requires; O_EXCL makes concurrent writers lose cleanly
        (retry at the next version) instead of corrupting the log.
        WRITE commits record ``operationParameters.mode`` as delta-spark
        does (the change feed's overwrite check reads it): Overwrite
        when the commit removes files, else Append.

        When the table runs in-commit timestamps (the feature exists
        because file mtimes lie after a log copy), the chain is
        continued monotonically: max(now, previous + 1)."""
        os.makedirs(self.log_path, exist_ok=True)
        now = int(time.time() * 1000)
        ci = {
            "timestamp": now,
            "operation": op,
            "engineInfo": "featureform-spark-deltaprotocol",
        }
        # a caller's extra commitInfo fields ride in as a commitInfo
        # action; the log gets one merged commitInfo line
        for a in [a for a in actions if "commitInfo" in a]:
            ci.update(a["commitInfo"])
            actions = [b for b in actions if b is not a]
        if op == "WRITE":
            removes = any("remove" in a for a in actions)
            ci["operationParameters"] = {
                "mode": "Overwrite" if removes else "Append"
            }
        prev_ict = None
        if version > 0:
            try:
                for a in self._read_commit(version - 1):
                    if "commitInfo" in a:
                        prev_ict = a["commitInfo"].get("inCommitTimestamp")
                        break
            except FileNotFoundError:
                pass
        enable = prev_ict is not None
        for a in actions:
            md = a.get("metaData")
            if md and (md.get("configuration") or {}).get(
                "delta.enableInCommitTimestamps"
            ) == "true":
                enable = True
        if enable:
            ci["inCommitTimestamp"] = max(now, (prev_ict or 0) + 1)
        lines = [json.dumps({"commitInfo": ci})] + [
            json.dumps(a) for a in actions
        ]
        target = os.path.join(self.log_path, _commit_name(version))
        # stage + hard-link: atomic put-if-absent whose content is
        # fully visible the instant the name exists (an O_EXCL create
        # followed by an in-place write lets a concurrent log reader
        # catch a partially-written commit file)
        tmp = os.path.join(
            self.log_path,
            f".{_commit_name(version)}.{uuid.uuid4().hex}.tmp",
        )
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        try:
            os.link(tmp, target)
        except FileExistsError:
            os.unlink(tmp)
            raise ConcurrentCommitError(
                f"version {version} was committed concurrently; this "
                "operation's snapshot is stale — re-run against the new "
                "state (blind appends retry automatically)"
            ) from None
        # the commit is durable: nothing below may raise, or a writer
        # would take it for a failed commit and remove its files. The
        # version-checksum sidecar is best-effort (a missing .crc just
        # means validate_checksum() returns False for this version)
        try:
            os.unlink(tmp)
            self._write_crc(version)
        except OSError:
            pass

    def _maybe_auto_checkpoint(self, version: int, st: _State) -> None:
        """Honor ``delta.checkpointInterval``: after committing
        ``version``, write a checkpoint when the interval divides it —
        the cadence delta-spark runs so the log folds in O(interval).
        Sessionless-safe (the checkpoint writer is pyarrow)."""
        raw = (st.metadata.get("configuration") or {}).get(
            "delta.checkpointInterval"
        )
        if not raw:
            return
        try:
            interval = int(raw)
        except ValueError:
            return
        if interval > 0 and version > 0 and version % interval == 0:
            try:
                self.checkpoint()
            except Exception:  # noqa: BLE001
                # the commit is already durable; a failed checkpoint is
                # a lost optimization, not a failed write — surfacing
                # it would invite a retry that duplicates the commit
                pass

    def _metadata_action(
        self,
        schema: T.StructType,
        partition_by: list[str],
        properties: dict[str, str] | None,
    ) -> dict:
        props = dict(properties or {})
        schema_json = schema.jsonValue()
        if props.get("delta.columnMapping.mode") in ("name", "id"):
            # assign physical names + field ids at table creation (what
            # delta-spark's mapping-enabled CREATE does); data files are
            # then written under the physical names
            for i, f in enumerate(schema_json["fields"], start=1):
                md_f = dict(f.get("metadata") or {})
                md_f.setdefault("delta.columnMapping.id", i)
                md_f.setdefault(
                    "delta.columnMapping.physicalName",
                    f"col-{uuid.uuid4().hex[:8]}",
                )
                f["metadata"] = md_f
            props.setdefault(
                "delta.columnMapping.maxColumnId",
                str(len(schema_json["fields"])),
            )
        return {
            "metaData": {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema_json),
                "partitionColumns": partition_by,
                "configuration": props,
                "createdTime": int(time.time() * 1000),
            }
        }

    _ZORDERABLE = {"byte", "short", "integer", "long", "float", "double",
                   "date", "timestamp"}

    def _check_cluster_cols(
        self, schema: T.StructType, cols: list[str]
    ) -> None:
        for c in cols:
            f_ = next((f for f in schema.fields if f.name == c), None)
            if f_ is None:
                raise DeltaProtocolError(f"unknown column {c!r}")
            if f_.dataType.typeName() not in self._ZORDERABLE:
                raise DeltaProtocolError(
                    f"clustering supports numeric/temporal columns, "
                    f"{c!r} is {f_.dataType.simpleString()}"
                )

    def create(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        cluster_by: list[str] | None = None,
        target_rows_per_file: int = 1_000_000,
    ) -> int:
        """``cluster_by`` = CREATE TABLE ... CLUSTER BY (Delta's
        clustered-table / liquid-clustering writer feature): the
        clustering columns live in the ``delta.clustering``
        domainMetadata, the initial data is written Morton-clustered
        on them, and every OPTIMIZE re-clusters on the CURRENT
        columns (changeable via :meth:`alter_cluster_by` — the
        flexibility partitioning and static ZORDER lack). Mutually
        exclusive with ``partition_by`` per the spec."""
        if self.exists():
            raise DeltaProtocolError(f"table already exists: {self.path}")
        for f_ in df.schema.fields:
            if (f_.metadata or {}).get("CURRENT_DEFAULT"):
                # the same smuggling gate add_columns has: a default
                # entering through create would stamp CURRENT_DEFAULT
                # into the schema WITHOUT the allowColumnDefaults
                # feature — this engine would then fill it while
                # conformant external writers (seeing no flag) write
                # NULLs. Create plain, then set_column_default.
                raise DeltaProtocolError(
                    f"cannot create with a default on column "
                    f"{f_.name!r}; create without it, then "
                    "set_column_default"
                )
        partition_by = list(partition_by or [])
        if cluster_by:
            if partition_by:
                raise DeltaProtocolError(
                    "CLUSTER BY and PARTITIONED BY are mutually "
                    "exclusive (spec: clustered tables are unpartitioned)"
                )
            self._check_cluster_cols(df.schema, list(cluster_by))
        os.makedirs(self.path, exist_ok=True)
        row_tracked = (properties or {}).get(
            "delta.enableRowTracking"
        ) == "true"
        if row_tracked:
            properties = dict(properties or {})
            if properties.get("delta.columnMapping.mode") not in (
                None, "none",
            ):
                raise UnsupportedTableFeatureError(
                    "row tracking + column mapping is not supported by "
                    "this writer (materialized row-id columns would "
                    "need physical-name surgery)"
                )
            properties.setdefault(
                "delta.rowTracking.materializedRowIdColumnName",
                f"_row-id-col-{uuid.uuid4().hex[:8]}",
            )
            properties.setdefault(
                "delta.rowTracking."
                "materializedRowCommitVersionColumnName",
                f"_row-commit-version-col-{uuid.uuid4().hex[:8]}",
            )
        meta_action = self._metadata_action(df.schema, partition_by, properties)
        # derive the mapping from the metadata just built so the first
        # write already uses physical names
        probe = _State(
            version=0, metadata=meta_action["metaData"], protocol={}
        )
        # identity columns: validate/record explicit initial values (a
        # schema-only empty df is the usual CREATE shape; appends then
        # generate from the recorded HWM)
        df, ident_meta, _ig = self._apply_identity_columns(probe, df)
        if ident_meta is not None:
            meta_action = {"metaData": ident_meta}
            probe = _State(
                version=0, metadata=meta_action["metaData"], protocol={}
            )
        has_identity = any(
            k.startswith("delta.identity.")
            for f in probe.schema.fields
            for k in (f.metadata or {})
        )
        # constraints passed via properties bind from the first commit
        self._write_guard(probe, df, "CREATE")
        if cluster_by:
            from concurrent.futures import ThreadPoolExecutor

            from featureform_spark.sources.zorder import zorder_cluster

            # the row count (file-count sizing) and the z-order
            # quantile pass are independent full reads of the input —
            # run them concurrently (guide §2.6); zorder_cluster
            # resolves the callable n_out only after its quantile job
            with ThreadPoolExecutor(max_workers=1) as _pool:
                _f_rows = _pool.submit(df.count)
                df = zorder_cluster(
                    df,
                    list(cluster_by),
                    lambda: max(
                        1,
                        -(-_f_rows.result() // target_rows_per_file),
                    ),
                ).select(*[f.name for f in df.schema.fields])
        adds = self._write_files(
            df,
            partition_by,
            probe.column_mapping,
            probe.metadata.get("configuration"),
        )
        if cluster_by:
            for a in adds:
                a["clusteringProvider"] = "liquid"
                # fingerprint of the columns this file is clustered on
                # (delta-spark's ZCube tag): incremental OPTIMIZE
                # rewrites only files whose fingerprint mismatches the
                # CURRENT clustering columns
                a["tags"] = {
                    **(a.get("tags") or {}),
                    "ZCUBE_ZORDER_BY": json.dumps(list(cluster_by)),
                }
        mapped = probe.column_mapping is not None
        protocol = (
            # column mapping requires reader v2 / writer v5 per PROTOCOL.md
            {"minReaderVersion": 2, "minWriterVersion": 5}
            if mapped
            else {"minReaderVersion": 1, "minWriterVersion": 2}
        )
        # table features force the (3, 7) form; every legacy-implied
        # feature must then be listed explicitly
        extra_writer: set[str] = set()
        extra_reader: set[str] = set()
        if (properties or {}).get("delta.checkpointPolicy") == "v2":
            extra_writer |= {"v2Checkpoint"}
            extra_reader |= {"v2Checkpoint"}
        if row_tracked:
            # rowTracking depends on domainMetadata (writer features
            # only — readers without the feature still read correctly)
            extra_writer |= {"rowTracking", "domainMetadata"}
        if has_identity:
            # writer-only feature (readers see plain long columns)
            extra_writer |= {"identityColumns"}
        if cluster_by:
            # writer-only: readers see ordinary files; the domain
            # carries the column list for future OPTIMIZEs
            extra_writer |= {"clustering", "domainMetadata"}
        if _has_variant(df.schema):
            # reader-writer feature: files carry the VARIANT logical
            # type, unreadable to engines without it
            extra_writer |= {"variantType"}
            extra_reader |= {"variantType"}
        if extra_writer:
            new_proto = {
                "minReaderVersion": (
                    # readerFeatures exist only at minReaderVersion 3;
                    # writer-only features leave the reader bar alone
                    3 if extra_reader
                    else int(protocol["minReaderVersion"])
                ),
                "minWriterVersion": 7,
                "writerFeatures": sorted(
                    _legacy_writer_features(
                        int(protocol["minWriterVersion"])
                    )
                    | extra_writer
                ),
            }
            if extra_reader:
                new_proto["readerFeatures"] = sorted(
                    _legacy_reader_features(
                        int(protocol["minReaderVersion"])
                    )
                    | extra_reader
                )
            protocol = new_proto
        actions = [
            {"protocol": protocol},
            meta_action,
        ]
        if cluster_by:
            actions.append(
                {
                    "domainMetadata": {
                        "domain": "delta.clustering",
                        "configuration": json.dumps(
                            {
                                "clusteringColumns": [
                                    [c] for c in cluster_by
                                ]
                            }
                        ),
                    }
                }
            )
        actions += [{"add": a} for a in adds]
        probe.protocol = protocol
        dm = self._assign_row_ids(probe, adds, 0)
        if dm is not None:
            actions.append(dm)
        self._commit(0, actions, "CREATE TABLE AS SELECT")
        return 0

    def _apply_column_defaults(self, st: _State, df: DataFrame) -> DataFrame:
        """The ``allowColumnDefaults`` writer requirement (PROTOCOL.md
        §Column Default Values, delta-spark's ALTER COLUMN SET
        DEFAULT): a write that OMITS a column carrying a
        ``CURRENT_DEFAULT`` expression writes the default value for
        every row instead of refusing. Provided columns always win —
        defaults never overwrite explicit values (including explicit
        NULLs). Runs BEFORE generated columns so generation
        expressions can reference defaulted columns.

        Gated on ``allowColumnDefaults`` actually being in the
        protocol: a schema carrying CURRENT_DEFAULT metadata WITHOUT
        the feature flag is one no conformant writer would honor —
        materializing it here while external writers write NULLs would
        put writer-divergent data in the same table."""
        feats = set((st.protocol or {}).get("writerFeatures") or [])
        if "allowColumnDefaults" not in feats:
            return df
        defaults = [
            (f, (f.metadata or {}).get("CURRENT_DEFAULT"))
            for f in st.schema.fields
        ]
        defaults = [
            (f, d) for f, d in defaults if d and f.name not in df.columns
        ]
        for f, d in defaults:
            df = df.withColumn(f.name, F.expr(d).cast(f.dataType))
        return df

    def set_column_default(self, name: str, expr: str) -> int:
        """ALTER TABLE ALTER COLUMN ... SET DEFAULT: stamps the SQL
        expression into the field's ``CURRENT_DEFAULT`` metadata and
        enables the ``allowColumnDefaults`` writer feature (writer-only
        — readers are unaffected, existing files simply lack the
        column and read NULL). Delta defaults are WRITE-time only:
        changing the default affects future omitted-column writes, and
        values already materialized in files never change.

        The expression must be self-contained (no column references)
        and cast-compatible with the column type — both validated here
        by analyzing ``SELECT (expr)`` with the cast, so a typo fails
        the ALTER, not some later append. Spec restriction: defaults
        may only be ADDED to existing columns; ``add_columns`` refuses
        fields that arrive with one (existing files could not serve
        it — that is Iceberg ``initial-default`` territory, which
        Delta does not have)."""
        if self.spark is None:
            raise DeltaProtocolError(
                "set_column_default needs a Spark session to validate "
                "the default expression"
            )
        st = self.state()
        self._write_guard(st, None, "WRITE")
        sj = json.loads(st.metadata["schemaString"])
        field = next((f for f in sj["fields"] if f["name"] == name), None)
        if field is None:
            raise DeltaProtocolError(f"no column {name!r}")
        md = dict(field.get("metadata") or {})
        if any(k.startswith("delta.identity.") for k in md):
            raise DeltaProtocolError(
                f"column {name!r} is an identity column; the allocator "
                "supplies its values — a default cannot apply"
            )
        if md.get("delta.generationExpression"):
            raise DeltaProtocolError(
                f"column {name!r} is a generated column; its expression "
                "supplies omitted values — a default cannot apply"
            )
        spark_field = next(
            f for f in st.schema.fields if f.name == name
        )
        try:
            # standalone analysis proves the expression references no
            # columns (the probe row has ZERO columns — range(1) would
            # let a stray `id` reference slip through); the cast proves
            # type compatibility
            self.spark.range(1).select().select(
                F.expr(expr).cast(spark_field.dataType)
            ).first()
        except Exception as exc:  # noqa: BLE001 — surface analysis errors
            raise DeltaProtocolError(
                f"invalid default for {name!r}: {expr!r} must be a "
                f"self-contained expression castable to "
                f"{spark_field.dataType.simpleString()} ({exc})"
            ) from None
        md["CURRENT_DEFAULT"] = expr
        field["metadata"] = md
        meta = dict(st.metadata)
        meta["schemaString"] = json.dumps(sj)
        actions: list[dict] = []
        proto = st.protocol or {}
        wfeats = set(proto.get("writerFeatures") or [])
        if "allowColumnDefaults" not in wfeats:
            old_writer = int(proto.get("minWriterVersion", 1))
            new_proto = {
                "minReaderVersion": int(proto.get("minReaderVersion", 1)),
                "minWriterVersion": 7,
                "writerFeatures": sorted(
                    wfeats
                    | _legacy_writer_features(old_writer)
                    | {"allowColumnDefaults"}
                ),
            }
            if proto.get("readerFeatures") is not None:
                new_proto["readerFeatures"] = proto["readerFeatures"]
            actions.append({"protocol": new_proto})
        actions.append({"metaData": meta})
        v = st.version + 1
        self._commit(v, actions, "CHANGE COLUMN")
        return v

    def drop_column_default(self, name: str) -> int:
        """ALTER COLUMN ... DROP DEFAULT: after this, a write that
        omits the column goes back to materializing nothing (rows read
        NULL); the feature flag stays in the protocol — features are
        never removed."""
        st = self.state()
        self._write_guard(st, None, "WRITE")
        sj = json.loads(st.metadata["schemaString"])
        field = next((f for f in sj["fields"] if f["name"] == name), None)
        if field is None:
            raise DeltaProtocolError(f"no column {name!r}")
        md = dict(field.get("metadata") or {})
        if "CURRENT_DEFAULT" not in md:
            raise DeltaProtocolError(f"column {name!r} has no default")
        md.pop("CURRENT_DEFAULT")
        field["metadata"] = md
        meta = dict(st.metadata)
        meta["schemaString"] = json.dumps(sj)
        v = st.version + 1
        self._commit(v, [{"metaData": meta}], "CHANGE COLUMN")
        return v

    def _apply_generated_columns(self, st: _State, df: DataFrame) -> DataFrame:
        """Compute ``delta.generationExpression`` columns the writer
        omitted and VALIDATE the ones it provided (one aggregate pass,
        like CHECK constraints) — the writer requirement the
        generatedColumns feature imposes (PROTOCOL.md)."""
        gens = [
            (f.name, (f.metadata or {}).get("delta.generationExpression"))
            for f in st.schema.fields
        ]
        gens = [(n, g) for n, g in gens if g]
        if not gens:
            return df
        missing = [(n, g) for n, g in gens if n not in df.columns]
        present = [(n, g) for n, g in gens if n in df.columns]
        for n, g in missing:
            df = df.withColumn(n, F.expr(g))
        if present:
            aggs = [
                F.sum(
                    F.when(
                        ~F.col(n).eqNullSafe(F.expr(g)), 1
                    ).otherwise(0)
                ).alias(f"_g{i}")
                for i, (n, g) in enumerate(present)
            ]
            row = df.agg(*aggs).first()
            for i, (n, g) in enumerate(present):
                if row[f"_g{i}"]:
                    raise DeltaProtocolError(
                        f"generated column {n!r} received "
                        f"{row[f'_g{i}']} value(s) inconsistent with "
                        f"its expression {g!r}; commit aborted"
                    )
        # schema-order reselect. ONLY an omitted identity column is
        # legitimately absent here (the allocator adds it after this
        # pass); any other missing column keeps raising — silently
        # dropping a typo'd column would commit files missing it
        ident = {
            f.name
            for f in st.schema.fields
            if any(
                k.startswith("delta.identity.")
                for k in (f.metadata or {})
            )
        }
        return df.select(
            *[
                f.name
                for f in st.schema.fields
                if f.name in df.columns or f.name not in ident
            ]
        )

    def _apply_identity_columns(
        self, st: _State, df: DataFrame
    ) -> tuple[DataFrame, dict | None, bool]:
        """Assign IDENTITY column values per PROTOCOL.md's Identity
        Columns writer requirements: generated values continue the
        ``start + k*step`` arithmetic from the column's
        ``delta.identity.highWaterMark``, and the commit carries a
        metaData action with the advanced high-water mark (the same
        per-writer-HWM-in-metadata machinery row tracking uses with
        domainMetadata). Explicit values are refused unless
        ``delta.identity.allowExplicitInsert`` (GENERATED BY DEFAULT);
        accepted explicit values advance the HWM past their extreme so
        later generated values never collide.

        Allocation is dense and distributed: one cheap per-partition
        count pass, then ``value = base + step * (partition_offset +
        row_in_partition)`` as a projection — no global window, no
        single-partition sort. ``row_in_partition`` is the low 33 bits
        of ``monotonically_increasing_id()`` (its documented layout).

        Returns ``(df, new_metadata_or_None, generated)`` —
        ``generated`` tells the caller whether data files embed
        allocated values (a lost HWM race then requires re-allocating
        AND rewriting files; explicit values survive a retry as-is).
        """
        schema_json = json.loads(st.metadata["schemaString"])
        specs = [
            f
            for f in schema_json["fields"]
            if any(
                k.startswith("delta.identity.")
                for k in (f.get("metadata") or {})
            )
        ]
        if not specs:
            return df, None, False
        gen: list[tuple[dict, int, int]] = []  # (field, base, step)
        new_hwm: dict[str, int] = {}
        for f in specs:
            name = f["name"]
            md = f.get("metadata") or {}
            step = int(md.get("delta.identity.step", 1))
            if step == 0:
                raise DeltaProtocolError(
                    f"identity column {name!r} has step 0"
                )
            start = int(md.get("delta.identity.start", 1))
            hwm = md.get("delta.identity.highWaterMark")
            allow = bool(md.get("delta.identity.allowExplicitInsert", False))
            if name in df.columns:
                row = df.agg(
                    F.count(F.lit(1)).alias("_cnt"),
                    F.max(F.col(name)).alias("_mx"),
                    F.min(F.col(name)).alias("_mn"),
                    F.sum(
                        F.when(F.col(name).isNull(), 1).otherwise(0)
                    ).alias("_nulls"),
                ).first()
                if not row["_cnt"]:
                    continue  # empty batch (CREATE with schema-only df)
                if not allow:
                    raise DeltaProtocolError(
                        f"column {name!r} is GENERATED ALWAYS AS "
                        "IDENTITY (allowExplicitInsert=false); explicit "
                        "values are not allowed"
                    )
                if row["_nulls"]:
                    raise DeltaProtocolError(
                        f"identity column {name!r} received NULL "
                        "explicit values"
                    )
                ext = int(row["_mx"] if step > 0 else row["_mn"])
                if hwm is None:
                    new_hwm[name] = ext
                else:
                    new_hwm[name] = (
                        max(int(hwm), ext) if step > 0 else min(int(hwm), ext)
                    )
                    if new_hwm[name] == int(hwm):
                        del new_hwm[name]  # no advance needed
            else:
                base = start if hwm is None else int(hwm) + step
                gen.append((f, base, step))
        if gen:
            # the allocator runs TWO jobs over df (per-partition count,
            # then the projection the write evaluates); a lineage whose
            # row->partition mapping is not re-execution-stable (round-
            # robin repartition, sampling, task retries) could disagree
            # between them, assigning duplicate values. localCheckpoint
            # materializes the batch once so both jobs read the SAME
            # frozen layout — batch-scale cost, identical to what any
            # engine pays to make a nondeterministic input exactly-once.
            df = df.localCheckpoint(eager=True)
            counts = {
                int(r["_p"]): int(r["_c"])
                for r in df.groupBy(
                    F.spark_partition_id().alias("_p")
                )
                .agg(F.count(F.lit(1)).alias("_c"))
                .collect()
            }
            offsets: dict[int, int] = {}
            acc = 0
            for p in sorted(counts):
                offsets[p] = acc
                acc += counts[p]
            if acc > 0:
                off_map = F.create_map(
                    *[
                        F.lit(x)
                        for kv in offsets.items()
                        for x in kv
                    ]
                )
                k = off_map[F.spark_partition_id()].cast("long") + (
                    F.monotonically_increasing_id().bitwiseAND(
                        F.lit((1 << 33) - 1)
                    )
                )
                for f, base, step in gen:
                    df = df.withColumn(
                        f["name"],
                        (F.lit(base) + F.lit(step) * k).cast("long"),
                    )
                    new_hwm[f["name"]] = base + step * (acc - 1)
            else:
                # zero-row batch: no values, no HWM advance — but the
                # schema columns must still exist (MERGE unions this
                # back against carried rows)
                for f, _base, _step in gen:
                    df = df.withColumn(
                        f["name"], F.lit(None).cast("long")
                    )
        if not new_hwm:
            return df, None, bool(gen)
        for f in schema_json["fields"]:
            if f["name"] in new_hwm:
                md = dict(f.get("metadata") or {})
                md["delta.identity.highWaterMark"] = new_hwm[f["name"]]
                f["metadata"] = md
        new_meta = dict(st.metadata)
        new_meta["schemaString"] = json.dumps(schema_json)
        return df, new_meta, bool(gen)

    @staticmethod
    def _hwm_only_schema_change(old_schema: str, new_schema: str) -> bool:
        """True when two schemaStrings differ ONLY in identity
        high-water marks — the one concurrent metadata change a blind
        identity append can survive by re-allocating."""
        def _strip(s: str) -> str:
            j = json.loads(s)
            for f in j["fields"]:
                md = dict(f.get("metadata") or {})
                md.pop("delta.identity.highWaterMark", None)
                f["metadata"] = md
            return json.dumps(j, sort_keys=True)

        return _strip(old_schema) == _strip(new_schema)

    def append(
        self, df: DataFrame, txn: tuple[str, int] | None = None
    ) -> int:
        """Blind append. ``txn=(app_id, version)`` records a
        SetTransaction for exactly-once ingestion; a replay with
        version <= the recorded one is a no-op returning -1. Data files
        are written once; only the commit retries, through
        :meth:`_blind_append`."""
        st = self.state()
        raw_df = self._apply_generated_columns(
            st, self._apply_column_defaults(st, df)
        )
        df, ident_meta, _gen = self._apply_identity_columns(st, raw_df)
        self._write_guard(st, df, "WRITE")
        if txn is not None and int(txn[1]) <= int(st.txns.get(txn[0], -1)):
            return -1

        def _write(st: _State, df: DataFrame) -> list[dict]:
            return self._write_files(
                df,
                st.partition_columns,
                st.column_mapping,
                st.metadata.get("configuration"),
            )

        def _reallocate(st: _State, adds: list[dict]):
            # the winner only advanced identity high-water marks (a
            # concurrent identity append): re-allocate our values above
            # its HWM. Generated values are embedded in the staged
            # files, so those rewrite; explicit values keep their files
            # and just recompute the HWM advance.
            nonlocal df
            df, meta, gen = self._apply_identity_columns(st, raw_df)
            if not gen:
                return adds, meta
            discard(self._abs_data_path(a["path"]) for a in adds)
            return _write(st, df), meta

        has_identity = any(
            k.startswith("delta.identity.")
            for f in st.schema.fields
            for k in (f.metadata or {})
        )
        return self._blind_append(
            st,
            _write(st, df),
            txn,
            lambda st: self._write_guard(st, df, "WRITE"),
            _reallocate if has_identity else None,
            ident_meta,
        )

    def _blind_append(
        self,
        st: _State,
        adds: list[dict],
        txn: tuple[str, int] | None,
        revalidate: Callable[[_State], None],
        reallocate: Callable | None = None,
        meta: dict | None = None,
    ) -> int:
        """The one commit loop of both blind appends (``append`` and
        ``append_arrow``): Delta's winningCommit-then-retry protocol for
        AddFile-only transactions. ``adds`` were written against
        ``st``; a lost O_EXCL race folds the winner and retries at the
        next version, up to 20 attempts, under these conflict rules:

        - a winner that changed the protocol, the schema or the
          partitioning makes the written files invalid: raise, like
          real Delta's Protocol/MetadataChangedException. The one
          exception is a schema change that only advanced identity
          high-water marks, which ``reallocate(st, adds)`` survives by
          re-allocating (it returns the adds, rewritten or not, and the
          ``metaData`` action to commit);
        - a winner that changed only the configuration (a new CHECK
          constraint, an appendOnly flip) is survivable if the rows
          still validate: ``revalidate(st)`` re-runs the full guard
          against the data;
        - every attempt re-checks the ``txn`` watermark (a hit
          returns -1: the winner was our own replay) and re-stamps
          row ids against the winner's high-water mark.

        The attempt count lands in commitInfo as
        ``ffspark.commit-attempts``. The written files are removed
        whenever this returns or raises without its commit landing, and
        never after it landed."""
        proto = dict(st.protocol or {})
        schema = st.metadata.get("schemaString")
        parts = list(st.metadata.get("partitionColumns") or [])
        conf = dict(st.metadata.get("configuration") or {})
        landed = False
        try:
            for attempt in range(20):
                if attempt:
                    st = self.state()  # fold the winner
                    now = st.metadata
                    if dict(st.protocol or {}) != proto:
                        raise ConcurrentCommitError(
                            "concurrent protocol change; staged append "
                            "cannot be validated against the new protocol"
                        )
                    if (
                        reallocate is not None
                        and now.get("schemaString") != schema
                        and self._hwm_only_schema_change(
                            schema, now["schemaString"]
                        )
                    ):
                        adds, meta = reallocate(st, adds)
                        schema = now["schemaString"]
                    if (
                        now.get("schemaString") != schema
                        or list(now.get("partitionColumns") or []) != parts
                    ):
                        raise ConcurrentCommitError(
                            "concurrent schema/partitioning change; "
                            "staged files were written under the old "
                            "metadata"
                        )
                    if dict(now.get("configuration") or {}) != conf:
                        revalidate(st)
                    else:
                        self._write_guard(st, None, "WRITE")
                if txn is not None and int(txn[1]) <= int(
                    st.txns.get(txn[0], -1)
                ):
                    return -1
                v = st.version + 1
                actions: list[dict] = [{"add": a} for a in adds]
                dm = self._assign_row_ids(st, adds, v)
                if dm is not None:
                    actions.append(dm)
                if txn is not None:
                    actions.append(
                        {
                            "txn": {
                                "appId": txn[0],
                                "version": int(txn[1]),
                                "lastUpdated": int(time.time() * 1000),
                            }
                        }
                    )
                if meta is not None:
                    actions.append({"metaData": meta})
                actions.append(
                    {"commitInfo": {"ffspark.commit-attempts": attempt + 1}}
                )
                try:
                    self._commit(v, actions, "WRITE")
                except ConcurrentCommitError:
                    continue
                landed = True
                self._maybe_auto_checkpoint(v, st)
                return v
            raise DeltaProtocolError(
                "append lost the commit race 20 times; giving up"
            )
        finally:
            if not landed:
                discard(self._abs_data_path(a["path"]) for a in adds)

    def merge(
        self,
        source: DataFrame,
        key: str,
        update_cols: list[str] | None = None,
        insert: bool = True,
    ) -> dict:
        """``MERGE INTO`` with copy-on-write of matched files only
        (reference semantics offline_store_spark_runner.py:744-765:
        ``ON t.key = s.key WHEN MATCHED THEN UPDATE SET <update_cols>
        WHEN NOT MATCHED THEN INSERT``). Touched-file discovery is one
        key-column semi-join over the scan (Spark prunes to the key
        column); only those files are rewritten, the rest carry by
        reference. New source columns evolve the schema via a new
        ``metaData`` action (old rows read NULL). Returns {"version",
        "files_rewritten", "files_total"}.

        Each non-null key may appear in at most one source row: two
        rows sharing a key would both match one target row and write
        two rows for it, so such a source raises before anything is
        written (delta-spark's multiple-source-rows-matched error).
        NULL keys never match, so any number of them are inserts.
        """
        st = self.state()
        self._write_guard(st, None, "MERGE")  # fail fast pre-join
        from concurrent.futures import ThreadPoolExecutor

        # the duplicate-key count and touched-file discovery are
        # independent reads of the source: run them concurrently
        # (guide §2.6); the count is checked before anything is written
        pool = ThreadPoolExecutor(max_workers=1)
        dup_count = pool.submit(
            lambda: source.agg(
                (F.count(key) - F.count_distinct(key)).alias("d")
            ).first()["d"]
        )
        pool.shutdown(wait=False)
        schema = st.schema
        mapping = st.column_mapping
        # identity columns: MERGE allocates values for INSERTED rows
        # (matched/carried rows keep theirs); the identity column must
        # stay out of the update set and out of the source — the one
        # legal source-carried case is key == identity with
        # insert=False (update-only merge on the surrogate key)
        ident_names = [
            f.name
            for f in schema.fields
            if any(
                k.startswith("delta.identity.")
                for k in (f.metadata or {})
            )
        ]
        eff_update = update_cols or [c for c in source.columns if c != key]
        for n in ident_names:
            if n in eff_update:
                raise UnsupportedTableFeatureError(
                    f"identity column {n!r} cannot be MERGE-updated — "
                    "exclude it from update_cols / the source"
                )
            if n in source.columns and n != key:
                raise UnsupportedTableFeatureError(
                    f"identity column {n!r} in the MERGE source would "
                    "set explicit values — drop it (values are "
                    "allocated for inserts)"
                )
            if n == key and insert:
                raise UnsupportedTableFeatureError(
                    f"MERGE keyed on identity column {n!r} with "
                    "insert=True would take source-supplied identity "
                    "values; merge on a business key or pass "
                    "insert=False"
                )
        if insert:
            omitted_defaults = [
                f.name
                for f in schema.fields
                if (f.metadata or {}).get("CURRENT_DEFAULT")
                and f.name not in source.columns
            ]
            if omitted_defaults:
                # inserted rows would silently take NULL where the
                # allowColumnDefaults contract promises the default —
                # refuse with the fix spelled out (the append path
                # fills defaults; MERGE sources must carry the column)
                raise UnsupportedTableFeatureError(
                    f"MERGE source omits column(s) {omitted_defaults} "
                    "which carry a CURRENT_DEFAULT; add them to the "
                    "source (e.g. selectExpr with the default) or run "
                    "with insert=False"
                )
        ident_alloc = [
            n for n in ident_names if n not in source.columns
        ] if insert else []
        if ident_alloc and (
            (st.metadata.get("configuration") or {}).get(
                "delta.enableChangeDataFeed"
            )
            == "true"
        ):
            raise UnsupportedTableFeatureError(
                "CDF MERGE with inserts on an identity table is not "
                "supported: cdc insert rows are written before value "
                "allocation — run with insert=False or disable CDF"
            )
        have = set(schema.fieldNames())
        extra = [f for f in source.schema.fields if f.name not in have]
        new_meta: dict | None = None
        if extra and mapping:
            # schema evolution on a column-mapped table: new columns
            # get fresh physical names + field ids in the metaData
            sj = json.loads(st.metadata["schemaString"])
            conf = dict(st.metadata.get("configuration") or {})
            max_id = int(conf.get("delta.columnMapping.maxColumnId", 0))
            for f in sj["fields"]:
                md_f = f.get("metadata") or {}
                if "delta.columnMapping.id" in md_f:
                    max_id = max(max_id, int(md_f["delta.columnMapping.id"]))
            extra_struct = []
            for f_ in extra:
                max_id += 1
                phys = f"col-{uuid.uuid4().hex[:8]}"
                extra_struct.append(
                    T.StructField(
                        f_.name,
                        f_.dataType,
                        True,
                        {
                            "delta.columnMapping.id": max_id,
                            "delta.columnMapping.physicalName": phys,
                        },
                    )
                )
                mapping = mapping + [(phys, f_.name)]
            conf["delta.columnMapping.maxColumnId"] = str(max_id)
            evolved = T.StructType(list(schema.fields) + extra_struct)
            new_meta = dict(st.metadata)
            # preserve existing fields' mapping metadata verbatim
            sj["fields"] += [f.jsonValue() for f in extra_struct]
            new_meta["schemaString"] = json.dumps(sj)
            new_meta["configuration"] = conf
        else:
            evolved = T.StructType(
                list(schema.fields)
                + [T.StructField(f.name, f.dataType, True) for f in extra]
            )
        update_cols = eff_update  # derived once, above the identity guard

        rel_by_abs = {
            self._abs_data_path(p): p for p in st.adds
        }
        # no distinct(): the broadcast left_semi build dedups keys in
        # its hash relation anyway, and the distinct costs an extra
        # exchange + two aggregate stages inside the broadcast build
        # (merge sources are key-unique by the MERGE contract, so the
        # shipped row count is the same)
        src_keys = source.select(key)
        matched_abs: list[str] = []
        if rel_by_abs:
            # over the DV-applied scan: a key whose only target row a
            # deletion vector removed matches nothing, so no file is
            # rewritten for it
            tagged = self._read_files(
                st, sorted(rel_by_abs), keep_pos=True
            ).select(key, "__dv_file")
            matched_abs = sorted(
                r["__dv_file"]
                for r in tagged.join(F.broadcast(src_keys), key, "left_semi")
                .select("__dv_file")
                .distinct()
                .collect()
            )
        dup = dup_count.result()
        if dup:
            raise DeltaProtocolError(
                f"MERGE source has {dup} duplicate non-null value(s) of "
                f"key {key!r}; each target row may match at most one "
                "source row — dedupe the source first"
            )

        rt = st.row_tracking
        mat = st.materialized_row_id_cols if rt else None
        if matched_abs:
            # through _read_files so deletion vectors apply: rewriting a
            # DV'd file materializes the deletes (the new file carries
            # no DV) instead of resurrecting deleted rows
            abs_set = set(matched_abs)
            sub = _State(
                version=st.version,
                metadata=st.metadata,
                protocol=st.protocol,
                adds={
                    rel: st.adds[rel]
                    for ab, rel in rel_by_abs.items()
                    if ab in abs_set
                },
                domains=st.domains,
            )
            if rt:
                # rewritten rows must KEEP their row ids: scan with
                # _row_id/_row_commit_version and materialize them into
                # the new files (spec §Row Tracking)
                target = self._scan_with_row_ids(sub, matched_abs)
                target = target.withColumnRenamed(
                    "_row_id", "__rt_id"
                ).withColumnRenamed("_row_commit_version", "__rt_rcv")
            else:
                target = self._read_files(sub, matched_abs)
        else:
            target = self.spark.createDataFrame([], schema)
            if rt:
                target = target.withColumn(
                    "__rt_id", F.lit(None).cast("long")
                ).withColumn("__rt_rcv", F.lit(None).cast("long"))
        target = target.select(
            *[
                F.col(f.name)
                if f.name in target.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in evolved.fields
            ],
            *([F.col("__rt_id"), F.col("__rt_rcv")] if rt else []),
        )
        # Row-origin marker: key nullness cannot distinguish "source-only
        # row" from "target row whose merge key IS NULL" — a NULL-key row
        # colocated in a rewritten file must survive the rewrite untouched.
        target = target.withColumn("__t_origin", F.lit(True))
        src_pref = source.select(
            *[F.col(c).alias(f"__src_{c}") for c in source.columns]
        ).withColumn("__s_origin", F.lit(True))
        joined = target.join(
            src_pref, target[key] == src_pref[f"__src_{key}"], "full_outer"
        )
        is_matched = (
            F.col("__t_origin").isNotNull() & F.col("__s_origin").isNotNull()
        )
        is_insert = F.col("__t_origin").isNull()
        out_cols = []
        for f_ in evolved.fields:
            c = f_.name
            if c in update_cols or c == key:
                val = F.when(
                    is_matched | is_insert, F.col(f"__src_{c}")
                ).otherwise(F.col(c))
            else:
                src_side = (
                    F.col(f"__src_{c}") if c in source.columns else F.lit(None)
                )
                val = F.when(is_insert, src_side).otherwise(F.col(c))
            out_cols.append(val.cast(f_.dataType).alias(c))
        if rt:
            # materialized row identity: carried AND updated rows keep
            # their _row_id; inserted rows read NULL (fresh id from the
            # new file's baseRowId). The commit version column stays
            # only for CARRIED rows — an update re-versions the row via
            # the new file's defaultRowCommitVersion.
            out_cols.append(
                F.when(is_insert, F.lit(None).cast("long"))
                .otherwise(F.col("__rt_id"))
                .alias(mat[0])
            )
            out_cols.append(
                F.when(
                    is_insert | is_matched, F.lit(None).cast("long")
                )
                .otherwise(F.col("__rt_rcv"))
                .alias(mat[1])
            )
        merged = (
            joined.select(*out_cols)
            if insert
            else joined.filter(~is_insert).select(*out_cols)
        )

        ident_meta: dict | None = None
        if ident_alloc:
            # allocate identity values for inserted rows: freeze the
            # join output once (split/union below must see one layout,
            # same determinism argument as the append allocator), send
            # the all-null-identity rows through the standard allocator
            # (drop + regenerate against the CURRENT high-water mark),
            # and union the carried rows back
            merged = merged.localCheckpoint(eager=True)
            null_cond = F.lit(True)
            for n in ident_alloc:
                null_cond = null_cond & F.col(n).isNull()
            meta_for_ident = st.metadata
            if new_meta is not None:
                meta_for_ident = new_meta
            elif extra:
                meta_for_ident = dict(st.metadata)
                meta_for_ident["schemaString"] = json.dumps(
                    evolved.jsonValue()
                )
            ident_state = _State(
                version=st.version,
                metadata=meta_for_ident,
                protocol=st.protocol,
            )
            to_fill = merged.filter(null_cond).drop(*ident_alloc)
            filled, ident_meta, _ig = self._apply_identity_columns(
                ident_state, to_fill
            )
            carried = merged.filter(~null_cond)
            merged = carried.unionByName(
                filled.select(*carried.columns)
            )

        self._write_guard(st, merged, "MERGE")  # CHECK constraints

        # CDF: when delta.enableChangeDataFeed is set, emit a cdc
        # action carrying update_preimage / update_postimage / insert
        # rows — the exact _change_type vocabulary the reference
        # consumes (offline_store_spark_runner.py:1076-1136). Readers
        # then use the cdc file INSTEAD of deriving whole-file
        # insert+delete churn from the add/remove actions (PROTOCOL.md
        # §Change Data Files). Column-mapped tables skip the cdc file
        # (derived CDF still works) to keep one canonical cdc schema.
        cdf_on = (
            (st.metadata.get("configuration") or {}).get(
                "delta.enableChangeDataFeed"
            )
            == "true"
            and not mapping
        )
        changes: DataFrame | None = None
        if cdf_on:
            pre = joined.filter(is_matched).select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in evolved.fields
                ],
                F.lit("update_preimage").alias("_change_type"),
            )
            post = (
                joined.filter(is_matched)
                .select(*out_cols)
                .select(  # drop materialized row-id cols from cdc rows
                    *[f.name for f in evolved.fields],
                    F.lit("update_postimage").alias("_change_type"),
                )
            )
            changes = pre.unionByName(post)
            if insert:
                ins = (
                    joined.filter(is_insert)
                    .select(*out_cols)
                    .select(
                        *[f.name for f in evolved.fields],
                        F.lit("insert").alias("_change_type"),
                    )
                )
                changes = changes.unionByName(ins)

        cdc_actions: list[dict] = []
        if changes is not None:
            # overlap the two independent writes (guide §2.6): the cdc
            # rows and the data rewrite both derive from `joined` but
            # neither depends on the other's output — sequential calls
            # just serialized two sub-second jobs
            with ThreadPoolExecutor(max_workers=2) as pool:
                f_data = pool.submit(
                    self._write_files,
                    merged,
                    st.partition_columns,
                    mapping,
                    st.metadata.get("configuration"),
                )
                f_cdc = pool.submit(self._write_cdc_files, changes)
                adds = f_data.result()
                cdc_actions = f_cdc.result()
        else:
            adds = self._write_files(
                merged,
                st.partition_columns,
                mapping,
                st.metadata.get("configuration"),
            )
        now = int(time.time() * 1000)
        actions: list[dict] = []
        if ident_meta is not None:
            # carries BOTH the evolved schema (ident_state was built
            # from it) and the advanced identity high-water mark
            actions.append({"metaData": ident_meta})
        elif extra:
            meta = new_meta or dict(st.metadata)
            if new_meta is None:
                meta["schemaString"] = json.dumps(evolved.jsonValue())
            actions.append({"metaData": meta})
        actions += cdc_actions

        actions += [
            {
                "remove": {
                    "path": rel_by_abs[p],
                    "deletionTimestamp": now,
                    "dataChange": True,
                }
            }
            for p in matched_abs
        ] + [{"add": a} for a in adds]
        v = st.version + 1
        dm = self._assign_row_ids(st, adds, v)
        if dm is not None:
            actions.append(dm)
        self._commit(v, actions, "MERGE")
        self._maybe_auto_checkpoint(v, st)
        return {
            "version": v,
            "files_rewritten": len(matched_abs),
            "files_total": len(st.adds),
        }

    def delete_where(self, condition) -> dict:
        """Row-level ``DELETE WHERE`` via deletion vectors — the
        merge-on-read path modern delta-spark uses by default for DML:
        no data file is rewritten. Each touched file's vector (its new
        matches unioned with its prior vector) comes from
        :func:`dv_bitmap.encode_vectors`, which encodes EXECUTOR-side
        after ONE distributed scan, so only (file, blob, cardinality)
        rows reach the driver; it frames them verbatim into a
        ``deletion_vector_<uuid>.bin`` file and re-commits each touched
        file's add with the descriptor (storageType 'u'). Files whose
        every row is deleted are plainly removed. The first DV upgrades
        the protocol to (3, 7) with the deletionVectors feature.

        Matching runs over :meth:`_read_files` with deletion vectors
        applied, so rows an earlier DELETE removed never match again:
        ``rows_deleted`` is the new cardinalities less the prior
        descriptors', and a repeated DELETE touches no file and
        reports 0."""
        from featureform_spark.sources.dv_bitmap import (
            append_dv_to_file,
            encode_vectors,
            z85_encode,
        )

        st = self.state()
        self._write_guard(st, None, "DELETE")
        paths = self._data_paths(st)
        prior = self._deleted_frame(st, paths)
        matched = self._read_files(
            st, paths, keep_pos=True, deleted=prior
        ).filter(condition)
        encoded = encode_vectors(
            matched.select("__dv_file", "__dv_pos"), prior
        )
        rel_by_abs = {
            self._abs_data_path(p): p for p in st.adds
        }
        now = int(time.time() * 1000)
        upgrade = _feature_upgrade(
            st.protocol,
            {"deletionVectors"}
            | ({"columnMapping"} if st.column_mapping else set()),
        )
        actions = [upgrade] if upgrade else []

        rows_deleted = 0
        files_touched = 0
        cdf_on = (
            (st.metadata.get("configuration") or {}).get(
                "delta.enableChangeDataFeed"
            )
            == "true"
            and not st.column_mapping
        )
        if encoded:
            u = uuid.uuid4()
            dv_rel = f"deletion_vector_{u}.bin"
            dv_enc = z85_encode(u.bytes)
            with open(os.path.join(self.path, dv_rel), "wb") as fh:
                fh.write(b"\x01")  # DV file format version
                for r in encoded:
                    rel = rel_by_abs[r["file"]]
                    add = dict(st.adds[rel])
                    card = int(r["card"])
                    rows_deleted += card - int(
                        (add.get("deletionVector") or {}).get("cardinality", 0)
                    )
                    files_touched += 1
                    actions.append(
                        {
                            "remove": {
                                "path": rel,
                                "deletionTimestamp": now,
                                "dataChange": True,
                            }
                        }
                    )
                    stats = json.loads(add.get("stats") or "{}")
                    if int(stats.get("numRecords") or -1) == card:
                        continue  # whole file deleted: plain remove
                    offset, size = append_dv_to_file(fh, bytes(r["blob"]))
                    add["deletionVector"] = {
                        "storageType": "u",
                        "pathOrInlineDv": dv_enc,
                        "offset": offset,
                        "sizeInBytes": size,
                        "cardinality": card,
                    }
                    add["dataChange"] = True
                    actions.append({"add": add})

        if cdf_on and encoded:
            # CDF: emit the deleted rows as a cdc action (delta-spark's
            # DV-DML shape) so table_changes serves them from the cdc
            # file instead of deriving from DV diffs; the DV-applied
            # match holds only newly deleted rows
            actions += self._write_cdc_files(
                matched.select(
                    *[f.name for f in st.schema.fields]
                ).withColumn("_change_type", F.lit("delete"))
            )

        v = st.version + 1
        self._commit(v, actions, "DELETE")
        self._maybe_auto_checkpoint(v, st)
        return {
            "version": v,
            "files_touched": files_touched,
            "rows_deleted": int(rows_deleted),
        }

    def overwrite(
        self, df: DataFrame, properties: dict[str, str] | None = None
    ) -> int:
        """Atomic replace of every row (INSERT OVERWRITE). ``properties``
        update the table configuration in the SAME commit, so rows
        rewritten under a new scheme (an LSH store re-bucket) never
        land apart from the scheme descriptor; unnamed keys keep their
        values."""
        st = self.state()
        df = self._apply_generated_columns(
            st, self._apply_column_defaults(st, df)
        )
        self._write_guard(st, df, "WRITE-OVERWRITE")
        adds = self._write_files(
            df,
            st.partition_columns,
            st.column_mapping,
            st.metadata.get("configuration"),
        )
        now = int(time.time() * 1000)
        actions = [
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now,
                    "dataChange": True,
                }
            }
            for p in sorted(st.adds)
        ] + [{"add": a} for a in adds]
        if properties:
            meta = dict(st.metadata)
            meta["configuration"] = {
                **(meta.get("configuration") or {}), **properties
            }
            actions.append({"metaData": meta})
        v = st.version + 1
        dm = self._assign_row_ids(st, adds, v)
        if dm is not None:
            actions.append(dm)
        self._commit(v, actions, "WRITE")
        self._maybe_auto_checkpoint(v, st)
        return v

    # ------------------------------------------------------ checkpoint

    def version_at_timestamp(self, ts_millis: int) -> int:
        """TIMESTAMP AS OF: the newest version whose commit timestamp
        is <= ``ts_millis``. Tables with the inCommitTimestamp feature
        carry the authoritative monotonic timestamp INSIDE commitInfo
        (file mtimes lie after a log copy/restore — that is the
        feature's whole point), so it wins over the plain field; plain
        ``timestamp`` next; file mtime last for commits written without
        either."""
        best = None
        for v in self._commit_versions():
            t = None
            for a in self._read_commit(v):
                if "commitInfo" in a:
                    ci = a["commitInfo"]
                    t = ci.get("inCommitTimestamp", ci.get("timestamp"))
                    break
            if t is None:
                t = int(
                    os.path.getmtime(
                        os.path.join(self.log_path, _commit_name(v))
                    )
                    * 1000
                )
            if t <= ts_millis:
                best = v
        if best is None:
            raise DeltaProtocolError(
                f"no commit at or before timestamp {ts_millis}"
            )
        return best

    def append_arrow(
        self, table, txn: tuple[str, int] | None = None
    ) -> int:
        """Blind append of a pyarrow Table or RecordBatchReader WITHOUT
        a Spark session — the ingest primitive behind the Flight
        ``do_put`` surface: a fleet of ingest pods can commit into the
        transaction log with no JVM. Batches stream into one part file
        through ``staged_write.write_arrow`` (an upload never
        materializes in pod memory), whose footer gives the add its
        stats like a Spark-written add. Sessionless means no expression
        engine, so tables whose writes require evaluation gate
        honestly (:meth:`_arrow_gates`) — use ``append`` through Spark
        for those. The commit is :meth:`_blind_append`, the same loop
        and SetTransaction exactly-once semantics as append()."""
        st = self.state()
        self._write_guard(st, None, "WRITE")
        self._arrow_gates(st)
        want = [f.name for f in st.schema.fields]
        got = list(table.schema.names)  # Table and RecordBatchReader both
        if set(got) != set(want):
            raise DeltaProtocolError(
                f"append_arrow schema mismatch: table has {got}, "
                f"expected {want}"
            )
        if txn is not None and int(txn[1]) <= int(st.txns.get(txn[0], -1)):
            return -1
        rel = f"part-{uuid.uuid4().hex}-arrow.parquet"
        rec = write_arrow(table, os.path.join(self.path, rel), want)
        if rec is None:  # empty upload: nothing to commit
            return -1
        conf = st.metadata.get("configuration")
        add = {
            "path": rel,
            "partitionValues": {},
            "size": rec.size,
            "modificationTime": int(time.time() * 1000),
            "dataChange": True,
            "stats": _delta_stats(rec, _stats_columns(conf, want)),
        }
        return self._blind_append(
            st,
            [add],
            txn,
            lambda st: (
                self._write_guard(st, None, "WRITE"), self._arrow_gates(st)
            ),
        )

    def _arrow_gates(self, st: _State) -> None:
        """Refuse a sessionless write into a table whose writes need
        the expression engine or row routing."""
        if st.column_mapping:
            raise UnsupportedTableFeatureError(
                "append_arrow: column-mapped tables need the Spark "
                "write path (physical-name rename)"
            )
        if any(
            (f.metadata or {}).get("delta.generationExpression")
            for f in st.schema.fields
        ):
            raise UnsupportedTableFeatureError(
                "append_arrow: generated columns need the Spark write "
                "path (expression evaluation)"
            )
        if any(
            k.startswith("delta.identity.")
            for f in st.schema.fields
            for k in (f.metadata or {})
        ):
            # the sessionless path never runs the identity allocator,
            # and accepting uploader-supplied values would both violate
            # GENERATED ALWAYS and leave the high-water mark stale
            # (later Spark appends would allocate colliding ids)
            raise UnsupportedTableFeatureError(
                "append_arrow: identity columns need the Spark write "
                "path (value allocation + high-water-mark advance)"
            )
        if st.partition_columns:
            raise UnsupportedTableFeatureError(
                "append_arrow: partitioned tables need the Spark "
                "write path (partition routing)"
            )
        conf = st.metadata.get("configuration") or {}
        if any(k.startswith("delta.constraints.") for k in conf) or any(
            (f.metadata or {}).get("delta.invariants")
            for f in st.schema.fields
        ):
            raise UnsupportedTableFeatureError(
                "append_arrow: CHECK constraints/invariants need the "
                "Spark write path (expression evaluation)"
            )

    def compact(
        self,
        target_rows_per_file: int = 1_000_000,
        zorder_by: list[str] | None = None,
        full: bool = False,
    ) -> int:
        """OPTIMIZE bin-packing: rewrite the current file set into
        fewer, larger files and commit remove+add with
        ``dataChange=false`` (readers see identical rows; streams must
        not re-emit them — the Delta OPTIMIZE contract). Partitioned
        tables re-cluster per partition via the normal write path.

        ``zorder_by`` = OPTIMIZE ZORDER BY: the rewrite clusters rows
        on a Morton curve over the listed numeric/temporal columns
        (zorder.zorder_cluster — one sampled quantile pass + one
        range shuffle), so the log-carried zone maps prune range scans
        on ANY listed dimension, not just a lexicographic leading
        column. Unpartitioned tables only (real Delta z-orders within
        partitions; this writer raises rather than silently
        un-clustering).

        On a liquid-clustered table OPTIMIZE is **incremental** by
        default, like real Delta's (ZCube-tracked) clustering: each
        clustered write tags its adds with a ``ZCUBE_ZORDER_BY``
        fingerprint of the columns it was clustered on, and OPTIMIZE
        rewrites ONLY files that (a) lack the current fingerprint —
        plain appends, or every file after ``alter_cluster_by``
        changed the columns — (b) carry a deletion vector (the
        rewrite purges it), or (c) are undersized (< 1/4 of
        ``target_rows_per_file``, and only when at least two such
        files exist so repeated OPTIMIZE converges instead of
        rewriting a lone small table forever). Already-clustered
        files are untouched — at 100 TB the maintenance cost is
        O(new data), not O(table). ``full=True`` is OPTIMIZE FULL:
        today's whole-table recluster. With no candidates the call is
        a no-op returning the current version (no empty commit)."""
        st = self.state()
        self._write_guard(st, None, "OPTIMIZE")  # legal under appendOnly
        liquid = st.clustering_columns
        if liquid:
            if zorder_by:
                raise DeltaProtocolError(
                    "ZORDER BY is not allowed on a clustered table — "
                    "OPTIMIZE re-clusters on the table's own "
                    f"clustering columns {liquid}"
                )
            # OPTIMIZE on a clustered table = recluster on the CURRENT
            # column list (which alter_cluster_by may have changed)
            zorder_by = liquid
        if liquid and not full:
            fingerprint = json.dumps(list(liquid))
            stale, small = [], []
            for rel in sorted(st.adds):
                a = st.adds[rel]
                is_clustered = (
                    a.get("clusteringProvider") == "liquid"
                    and (a.get("tags") or {}).get("ZCUBE_ZORDER_BY")
                    == fingerprint
                )
                if not is_clustered or a.get("deletionVector"):
                    stale.append(rel)
                    continue
                stats = a.get("stats")
                nr = (
                    int(json.loads(stats).get("numRecords", 0))
                    if stats
                    else None
                )
                if nr is not None and nr * 4 < target_rows_per_file:
                    small.append(rel)
            rewrite = stale + (small if len(small) >= 2 else [])
            if not rewrite:
                return st.version
        else:
            rewrite = sorted(st.adds)
        paths = [self._abs_data_path(p) for p in rewrite]
        n_rows = 0
        for rel in rewrite:
            stats = st.adds[rel].get("stats")
            if stats:
                n_rows += int(json.loads(stats).get("numRecords", 0))
        mat = st.materialized_row_id_cols if st.row_tracking else None
        if mat is not None:
            # OPTIMIZE carries every row: materialize each row's id and
            # commit version into the rewritten files so identity
            # survives the rewrite (spec §Row Tracking)
            df = self._scan_with_row_ids(st, paths).withColumnsRenamed(
                {"_row_id": mat[0], "_row_commit_version": mat[1]}
            )
        else:
            df = self._read_files(st, paths)
        n_files = max(1, -(-n_rows // target_rows_per_file))
        if zorder_by:
            if st.partition_columns:
                raise UnsupportedTableFeatureError(
                    "ZORDER BY on a partitioned table is not supported "
                    "(the partition re-clustering would undo the curve)"
                )
            self._check_cluster_cols(st.schema, list(zorder_by))
            from featureform_spark.sources.zorder import zorder_cluster

            df = zorder_cluster(df, zorder_by, n_files).select(
                *[f.name for f in st.schema.fields],
                *(list(mat) if mat is not None else []),
            )
        elif not st.partition_columns:
            df = df.coalesce(n_files)
        adds = self._write_files(
            df,
            st.partition_columns,
            st.column_mapping,
            st.metadata.get("configuration"),
        )
        v = st.version + 1
        dm = self._assign_row_ids(st, adds, v)
        now = int(time.time() * 1000)
        actions = [
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now,
                    "dataChange": False,
                }
            }
            for p in rewrite
        ] + [
            {
                "add": {
                    **a,
                    "dataChange": False,
                    **(
                        {
                            "clusteringProvider": "liquid",
                            "tags": {
                                **(a.get("tags") or {}),
                                "ZCUBE_ZORDER_BY": json.dumps(
                                    list(liquid)
                                ),
                            },
                        }
                        if liquid
                        else {}
                    ),
                }
            }
            for a in adds
        ]
        if dm is not None:
            actions.append(dm)
        self._commit(v, actions, "OPTIMIZE")
        self._maybe_auto_checkpoint(v, st)
        return v

    def alter_cluster_by(self, cluster_by: list[str]) -> int:
        """ALTER TABLE ... CLUSTER BY — swap the clustering column
        list (the liquid-clustering capability static partitioning
        lacks): metadata-only; existing files keep their old layout
        and the next OPTIMIZE re-clusters on the new columns."""
        st = self.state()
        self._write_guard(st, None, "WRITE")
        if not st.clustering_columns:
            raise DeltaProtocolError(
                "not a clustered table (create with cluster_by=...)"
            )
        self._check_cluster_cols(st.schema, list(cluster_by))
        v = st.version + 1
        self._commit(
            v,
            [
                {
                    "domainMetadata": {
                        "domain": "delta.clustering",
                        "configuration": json.dumps(
                            {
                                "clusteringColumns": [
                                    [c] for c in cluster_by
                                ]
                            }
                        ),
                    }
                }
            ],
            "CLUSTER BY",
        )
        return v

    def checkpoint(self) -> int:
        """Write a checkpoint at the current version + the
        `_last_checkpoint` pointer, enabling O(interval) state reads
        and log retention. Classic single-file parquet by default;
        table property ``delta.checkpointPolicy=v2`` writes the V2
        Spec Checkpoint form (PROTOCOL.md §V2 Spec Checkpoints): a
        UUID-named manifest holding checkpointMetadata + protocol /
        metaData / txn actions and ``sidecar`` pointers, with the add
        actions — including any deletion-vector descriptors — in
        ``_delta_log/_sidecars/<uuid>.parquet`` files. Both forms
        round-trip through the same reader (_read_checkpoint)."""
        st = self.state()
        meta_rows: list[dict] = [
            {"protocol": st.protocol or
                {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": st.metadata},
        ]
        add_rows = [{"add": st.adds[p]} for p in sorted(st.adds)]
        txn_rows = [
            {"txn": {"appId": k, "version": v, "lastUpdated": None}}
            for k, v in sorted(st.txns.items())
        ]
        # live domainMetadata (row-tracking high-water mark et al.)
        # must survive log truncation past the checkpoint
        txn_rows += [
            {
                "domainMetadata": {
                    "domain": d,
                    "configuration": c,
                    "removed": False,
                }
            }
            for d, c in sorted(st.domains.items())
        ]
        policy = (st.metadata.get("configuration") or {}).get(
            "delta.checkpointPolicy", "classic"
        )
        # metadata-scale writes: pyarrow directly on the driver — a
        # Spark job for a <file-count>-row local relation with nested
        # types costs ~5s of fixed Python-serialization overhead and
        # buys nothing (real Delta checkpoints are single files anyway)
        if policy == "v2":
            side_dir = os.path.join(self.log_path, "_sidecars")
            os.makedirs(side_dir, exist_ok=True)
            side_name = f"{uuid.uuid4().hex}.parquet"
            side_path = os.path.join(side_dir, side_name)
            self._write_checkpoint_parquet(add_rows, side_path)
            manifest_rows = (
                [
                    {
                        "checkpointMetadata": {
                            "version": st.version,
                            "tags": None,
                        }
                    }
                ]
                + meta_rows
                + txn_rows
                + [
                    {
                        "sidecar": {
                            "path": side_name,
                            "sizeInBytes": os.path.getsize(side_path),
                            "modificationTime": int(
                                os.path.getmtime(side_path) * 1000
                            ),
                        }
                    }
                ]
            )
            self._write_checkpoint_parquet(
                manifest_rows,
                os.path.join(
                    self.log_path,
                    "%020d.checkpoint.%s.parquet"
                    % (st.version, uuid.uuid4().hex),
                ),
            )
            n_rows = len(manifest_rows) + len(add_rows)
        else:
            rows = meta_rows + add_rows + txn_rows
            self._write_checkpoint_parquet(
                rows,
                os.path.join(self.log_path, _checkpoint_name(st.version)),
            )
            n_rows = len(rows)
        tmp = os.path.join(self.log_path, f".{LAST_CHECKPOINT}.tmp")
        with open(tmp, "w") as f:
            json.dump({"version": st.version, "size": n_rows}, f)
        os.replace(tmp, os.path.join(self.log_path, LAST_CHECKPOINT))
        return st.version

    def _changes(self, from_version: int, to_version: int):
        """The one Delta change-feed planner: walks commits
        (from_version, to_version] once and yields their
        :class:`ChangePiece` s. ``table_changes`` runs the pieces as
        Spark scans, the ``deltaprotocol`` source as slices.

        A commit's ``cdc`` actions are its whole change set (one piece,
        files read verbatim). Otherwise, per PROTOCOL.md, adds and
        removes with dataChange=true are the changes:

        - an add of a new path inserts the file minus its deletion
          vector;
        - a remove deletes the file's live rows at removal time: the
          file minus the vector it carried going into the commit (the
          fold's add, else the remove's own descriptor);
        - a remove+re-add of one path with a changed vector deletes
          the newly deleted positions and re-inserts restored ones,
          not the whole file.

        The rolling fold is :func:`_fold_actions`, as in snapshot
        construction. Raises when a commit in range was cleaned or a
        file a piece reads was vacuumed (the feed would lose rows)."""
        import numpy as np

        have = set(self._commit_versions())
        missing = [
            v for v in range(from_version + 1, to_version + 1)
            if v not in have
        ]
        if missing:
            raise DeltaProtocolError(
                f"commits {missing} were cleaned; change feed from "
                f"{from_version} is no longer possible"
            )
        try:
            st = self.state(from_version)
        except DeltaProtocolError:
            # base version no longer reconstructable (cleaned log with
            # a later checkpoint, or before the first commit): only
            # pre-range DV context is lost — files read as DV-less
            st = _State(version=from_version, metadata={}, protocol={})

        def _positions(a: dict):
            dv = a.get("deletionVector")
            if not dv:
                return np.empty(0, dtype=np.uint64)
            return self._dv_positions(dv)

        for v in range(from_version + 1, to_version + 1):
            actions = self._read_commit(v)
            adds, removes = (
                {
                    a[kind]["path"]: a[kind] for a in actions
                    if kind in a and a[kind].get("dataChange", True)
                }
                for kind in ("add", "remove")
            )
            prior = {p: st.adds.get(p) or r for p, r in removes.items()}
            _fold_actions(st, actions)
            cdc = [a["cdc"] for a in actions if "cdc" in a]
            if cdc:
                yield ChangePiece(v, "cdc", cdc)
                continue
            # per path whose vector changed: (new, old) positions
            dvs = {
                p: (_positions(adds[p]), _positions(prior[p]))
                for p in sorted(prior.keys() & adds.keys())
            }
            pieces = [
                ChangePiece(
                    v, "delete", [o for p, o in prior.items() if p not in adds]
                ),
                ChangePiece(
                    v, "insert", [a for p, a in adds.items() if p not in removes]
                ),
            ]
            # newly deleted (new - old) and restored (old - new) rows
            for change, side in (("delete", 0), ("insert", 1)):
                keep = {}
                for p, pair in dvs.items():
                    pos = np.setdiff1d(pair[side], pair[1 - side])
                    if len(pos):
                        keep[p] = pos
                pieces.append(
                    ChangePiece(
                        v,
                        change,
                        [
                            {k: x for k, x in prior[p].items()
                             if k != "deletionVector"}
                            for p in keep
                        ],
                        {self._abs_data_path(p): x for p, x in keep.items()},
                    )
                )
            for piece in pieces:
                if not piece.files:
                    continue
                for a in piece.files:
                    if not os.path.exists(self._abs_data_path(a["path"])):
                        raise DeltaProtocolError(
                            f"file {a['path']!r} of version {v} was "
                            "vacuumed; change feed would lose rows"
                        )
                yield piece

    def table_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change-data-feed read over versions (from_version,
        to_version] — the real Delta CDF contract
        (spark.read.format("delta").option("readChangeFeed")).

        The commits are planned by :meth:`_changes`: a commit's ``cdc``
        files yield exactly their rows (they already embed
        ``_change_type``); otherwise each piece — a commit's inserted
        or deleted files, or the newly deleted / restored positions of
        files whose deletion vector changed — is ONE
        :meth:`_read_files` scan over all of its files, semi-joined to
        the piece's positions when it has them. dataChange=false
        actions (OPTIMIZE/compaction) contribute nothing.

        Output: table columns + (_change_type, _commit_version).
        Raises when a commit was cleaned or a removed file was already
        vacuumed (the feed would silently lose deletes)."""
        if to_version is None:
            to_version = self.version()
        st = self.state()  # schema for reads
        schema = st.schema
        cols = [f.name for f in schema.fields]
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
            ]
        )
        pieces: list[DataFrame] = []
        for p in self._changes(from_version, to_version):
            if p.change == "cdc":
                df = self.spark.read.schema(
                    T.StructType(out_schema.fields[:-1])
                ).parquet(*[self._abs_data_path(c["path"]) for c in p.files])
            else:
                sub = _State(
                    version=p.version, metadata=st.metadata,
                    protocol=st.protocol,
                    adds={a["path"]: a for a in p.files},
                )
                df = self._read_files(
                    sub, self._data_paths(sub), keep_pos=p.keep is not None
                )
                if p.keep is not None:
                    df = df.join(
                        F.broadcast(self._position_frame(p.keep)),
                        on=["__dv_file", "__dv_pos"],
                        how="left_semi",
                    )
                df = df.select(*cols).withColumn(
                    "_change_type", F.lit(p.change)
                )
            pieces.append(
                df.withColumn("_commit_version", F.lit(p.version).cast("long"))
            )
        if not pieces:
            return self.spark.createDataFrame([], out_schema)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION AS OF: commit a new version whose
        state equals the target version's — removes files not in it,
        re-adds files it had (by reference; no data is rewritten or
        copied). History is preserved: the restore is itself a commit,
        so the pre-restore state stays time-travelable."""
        target = self.state(version)
        cur = self.state()
        self._write_guard(cur, None, "RESTORE")
        now = int(time.time() * 1000)
        actions: list[dict] = []
        if json.dumps(target.metadata, sort_keys=True) != json.dumps(
            cur.metadata, sort_keys=True
        ):
            actions.append({"metaData": target.metadata})
        for p in sorted(set(cur.adds) - set(target.adds)):
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now,
                        "dataChange": True,
                    }
                }
            )
        for p in sorted(set(target.adds) - set(cur.adds)):
            full = self._abs_data_path(p)
            if not os.path.exists(full):
                raise DeltaProtocolError(
                    f"cannot RESTORE to version {version}: data file "
                    f"{p!r} was vacuumed"
                )
            actions.append({"add": target.adds[p]})
        v = cur.version + 1
        self._commit(v, actions, "RESTORE")
        return v

    def restore_to_timestamp(self, ts_millis: int) -> int:
        """RESTORE TABLE ... TO TIMESTAMP AS OF: restore to the last
        version committed at or before ``ts_millis`` (same resolution
        rule as time-travel reads — in-commit timestamps when the
        table runs them, commitInfo timestamps otherwise)."""
        return self.restore(self.version_at_timestamp(ts_millis))

    @classmethod
    def convert_from_parquet(
        cls,
        spark: SparkSession,
        path: str,
        partition_schema: dict[str, str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> "DeltaProtocolTable":
        """CONVERT TO DELTA (delta-spark's ``CONVERT TO DELTA
        parquet.`/dir/` [PARTITIONED BY ...]``): in-place, metadata-only
        import of an existing parquet directory — the migration front
        door. The existing files become version-0 add actions (with
        footer-derived stats, so data skipping works from commit 0)
        and ``_delta_log`` is created inside the directory; zero data
        bytes move or rewrite — the whole conversion is O(files)
        footer reads. Afterwards the table is an ordinary Delta table:
        appends, DELETEs, OPTIMIZE, time travel all compose.

        ``partition_schema`` maps partition column name -> Spark type
        string for hive-layout directories (``col=value`` components;
        delta-spark likewise requires PARTITIONED BY — partition types
        are not reliably inferrable from path strings). Directories
        with hive components but no ``partition_schema`` are rejected
        rather than silently flattened."""
        import urllib.parse

        t = cls(spark, path)
        if t.exists():
            raise DeltaProtocolError(
                f"already a Delta table: {path} (CONVERT is only for "
                "plain parquet directories)"
            )
        root = os.path.abspath(path)
        if not os.path.isdir(root):
            raise DeltaProtocolError(f"not a directory: {path}")
        part_cols = list((partition_schema or {}).keys())
        files: list[str] = []
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = sorted(
                d for d in dirnames if not d.startswith(("_", "."))
            )
            files.extend(
                os.path.join(dirpath, fn)
                for fn in sorted(filenames)
                if fn.endswith(".parquet") and not fn.startswith(("_", "."))
            )
        if not files:
            raise DeltaProtocolError(f"no parquet files under {path}")
        adds: list[dict] = []
        for fpath in files:
            rel = os.path.relpath(fpath, root)
            comps = rel.split(os.sep)[:-1]
            pv: dict[str, str | None] = {}
            for comp in comps:
                if "=" not in comp:
                    raise DeltaProtocolError(
                        f"non-hive directory component {comp!r} in "
                        f"{rel!r} — CONVERT expects flat or "
                        "col=value layouts"
                    )
                k, _, v = comp.partition("=")
                v = urllib.parse.unquote(v)
                pv[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else v
                )
            if sorted(pv) != sorted(part_cols):
                raise DeltaProtocolError(
                    f"partition columns in path {rel!r} are "
                    f"{sorted(pv)} but partition_schema declares "
                    f"{sorted(part_cols)} — pass the full PARTITIONED "
                    "BY schema"
                )
            try:
                stats = _delta_stats(fold_footer(fpath))
            except Exception:
                stats = None  # unparseable footer: convert without stats
            adds.append(
                {
                    "path": "/".join(rel.split(os.sep)),
                    "partitionValues": pv,
                    "size": os.path.getsize(fpath),
                    "modificationTime": int(
                        os.path.getmtime(fpath) * 1000
                    ),
                    "dataChange": True,
                    **({"stats": stats} if stats else {}),
                }
            )
        # data schema from one footer via Spark (CONVERT assumes a
        # consistent schema across files, like delta-spark); partition
        # columns append with their declared types
        schema = spark.read.parquet(files[0]).schema
        for f in schema.fields:
            if f.name in part_cols:
                raise DeltaProtocolError(
                    f"partition column {f.name!r} also exists in the "
                    "data files — hive layouts keep it only in the path"
                )
        full = T.StructType(
            list(schema.fields)
            + [
                T.StructField(
                    c, T._parse_datatype_string(ts), True
                )
                for c, ts in (partition_schema or {}).items()
            ]
        )
        meta_action = t._metadata_action(full, part_cols, properties)
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            meta_action,
        ] + [{"add": a} for a in adds]
        t._commit(0, actions, "CONVERT")
        return t

    def shallow_clone(
        self, target_path: str, version: int | None = None
    ) -> "DeltaProtocolTable":
        """CREATE TABLE <target> SHALLOW CLONE <this> [VERSION AS OF
        v] — a zero-copy fork (delta-spark's CLONE command; the
        protocol carrier is PROTOCOL.md's rule that ``add.path`` may
        be "a path ... or an absolute path"): the target gets its own
        log whose version-0 add actions reference THIS table's data
        files by absolute ``file:`` URI. No data bytes move — at 100
        TB a clone is a metadata-sized commit, which is the whole
        point (dev/test forks, schema experiments, snapshot pinning).

        Carried verbatim: schema (incl. identity high-water marks in
        field metadata), partition columns, configuration, protocol,
        domainMetadata (row-tracking HWM), setTransactions (so an
        idempotent streaming writer doesn't double-apply to the
        clone), per-file stats/partitionValues/baseRowId. The metaData
        ``id`` is fresh — a clone is a new table. UUID-relative ('u')
        deletion vectors are re-anchored as absolute-path ('p')
        descriptors, since 'u' resolves against the TARGET root where
        the blob does not live.

        Writes to the clone land under the clone's directory; CoW
        rewrites remove the absolute-path references without touching
        the source's files; the clone's VACUUM only walks its own
        directory, so source files are never deleted by it. The
        source table is never modified (reads only)."""
        st = self.state(version)
        if os.path.realpath(target_path) == os.path.realpath(self.path):
            raise DeltaProtocolError("cannot clone a table onto itself")
        target = DeltaProtocolTable(self.spark, target_path)
        if target.exists():
            raise DeltaProtocolError(
                f"clone target already exists: {target_path}"
            )
        md = json.loads(json.dumps(st.metadata))
        md["id"] = str(uuid.uuid4())
        md["createdTime"] = int(time.time() * 1000)
        actions: list[dict] = [
            {"protocol": json.loads(json.dumps(st.protocol or {
                "minReaderVersion": 1, "minWriterVersion": 2,
            }))},
            {"metaData": md},
        ]
        for domain, conf in sorted(st.domains.items()):
            actions.append(
                {"domainMetadata": {"domain": domain,
                                    "configuration": conf}}
            )
        for app_id, ver in sorted(st.txns.items()):
            actions.append(
                {"txn": {"appId": app_id, "version": int(ver)}}
            )
        for rel in sorted(st.adds):
            a = json.loads(json.dumps(st.adds[rel]))
            abs_p = self._abs_data_path(rel)
            a["path"] = "file://" + urllib.parse.quote(abs_p)
            a["dataChange"] = True
            dv = a.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                loc = self._dv_file_location(dv)
                a["deletionVector"] = {
                    "storageType": "p",
                    "pathOrInlineDv": loc[0],
                    "offset": loc[1],
                    "sizeInBytes": loc[2],
                    "cardinality": int(dv.get("cardinality") or 0),
                }
            actions.append({"add": a})
        os.makedirs(target_path, exist_ok=True)
        target._commit(0, actions, "CLONE")
        return target

    def fsck_repair(self, dry_run: bool = False) -> dict:
        """delta-spark's ``FSCK REPAIR TABLE``: drop log entries whose
        underlying files no longer exist on storage (out-of-band
        deletion, botched restore) so scans stop failing on missing
        files. An add is dropped when its DATA file is gone, or when
        its on-disk deletion-vector blob is gone (keeping the add
        without its DV would resurrect deleted rows — removing the
        whole entry is the conservative repair delta-spark performs;
        inline DVs can't go missing). ``dry_run`` lists without
        committing. Returns {"missing": [paths], "repaired": bool}.

        O(live files) existence checks, zero data reads; the repair is
        ONE commit of remove actions."""
        st = self.state()
        now = int(time.time() * 1000)
        missing: list[str] = []
        for rel, a in sorted(st.adds.items()):
            abs_p = self._abs_data_path(rel)
            gone = not os.path.exists(abs_p)
            if not gone:
                dv = a.get("deletionVector")
                if dv and dv.get("storageType") != "i":
                    loc = self._dv_file_location(dv)
                    if loc is not None and not os.path.exists(loc[0]):
                        gone = True
            if gone:
                missing.append(rel)
        if dry_run or not missing:
            return {"missing": missing, "repaired": False}
        actions = [
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now,
                    "dataChange": True,
                }
            }
            for p in missing
        ]
        self._commit(st.version + 1, actions, "FSCK")
        return {"missing": missing, "repaired": True}

    def vacuum(self, retain_versions: int = 0) -> dict:
        """Delete data files no longer referenced by any retained
        version: files referenced by the versions within
        ``retain_versions`` of latest (plus the checkpoint fold base)
        survive; everything else under the table dir goes. Time travel
        below the retention horizon stops working — same contract as
        Delta VACUUM. Returns {"deleted", "kept"}."""
        latest = self.version()
        horizon = max(0, latest - retain_versions)
        keep: set[str] = set()
        versions = [v for v in self._commit_versions() if v >= horizon]
        cps = [v for v in self._checkpoint_versions() if v <= horizon]
        candidates = sorted(set(versions + ([max(cps)] if cps else [])))
        # deletion-vector files referenced by any retained version also
        # survive; orphaned deletion_vector_*.bin go with the data files
        keep_dv: set[str] = set()
        for v in candidates or [latest]:
            try:
                st = self.state(v)
            except DeltaProtocolError:
                continue
            keep.update(
                os.path.relpath(p, self.path) for p in self._data_paths(st)
            )
            for a in st.adds.values():
                dv = a.get("deletionVector")
                if dv and dv.get("storageType") == "u":
                    from featureform_spark.sources.dv_bitmap import z85_decode

                    enc = dv["pathOrInlineDv"]
                    prefix, uuid_enc = enc[:-20], enc[-20:]
                    u = uuid.UUID(bytes=z85_decode(uuid_enc))
                    keep_dv.add(
                        os.path.normpath(
                            os.path.join(
                                prefix or ".", f"deletion_vector_{u}.bin"
                            )
                        )
                    )
        deleted = 0
        for dirpath, _dirs, files in os.walk(self.path):
            if LOG_DIR in dirpath or STAGING_DIR in dirpath:
                continue
            # a UniForm Iceberg mirror (sources/uniform.py) keeps its
            # manifests + position-delete parquet under metadata/ —
            # not Delta data files, never vacuum targets
            if os.path.sep + "metadata" in dirpath:
                continue
            for name in files:
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, self.path)
                if rel.startswith(LOG_DIR):
                    continue
                if name.endswith(".parquet"):
                    if rel not in keep:
                        os.remove(full)
                        deleted += 1
                elif name.startswith("deletion_vector_") and name.endswith(
                    ".bin"
                ):
                    if os.path.normpath(rel) not in keep_dv:
                        os.remove(full)
                        deleted += 1
        return {"deleted": deleted, "kept": len(keep)}

    @staticmethod
    def _write_checkpoint_parquet(rows: list[dict], target: str) -> None:
        """Write checkpoint rows as parquet via pyarrow with the exact
        arrow rendering of _CHECKPOINT_SCHEMA (maps as map<string,
        string>, structs nested) so both this reader's
        spark.read.schema(...) scan and real engines parse it."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql import types as T

        def to_arrow(dt):
            if isinstance(dt, T.StructType):
                return pa.struct(
                    [pa.field(f.name, to_arrow(f.dataType)) for f in dt.fields]
                )
            if isinstance(dt, T.MapType):
                return pa.map_(to_arrow(dt.keyType), to_arrow(dt.valueType))
            if isinstance(dt, T.StringType):
                return pa.string()
            if isinstance(dt, T.LongType):
                return pa.int64()
            if isinstance(dt, T.IntegerType):
                return pa.int32()
            if isinstance(dt, T.BooleanType):
                return pa.bool_()
            if isinstance(dt, T.ArrayType):
                return pa.list_(to_arrow(dt.elementType))
            raise TypeError(f"unmapped checkpoint type {dt}")

        def to_py(dt, v):
            # pyarrow wants maps as item lists
            if v is None:
                return None
            if isinstance(dt, T.StructType):
                return {
                    f.name: to_py(f.dataType, v.get(f.name))
                    for f in dt.fields
                }
            if isinstance(dt, T.MapType):
                # a sessionless-folded empty map arrives as [] (the
                # _fix_maps ambiguity) — already item-list shaped
                return v if isinstance(v, list) else list(v.items())
            return v

        schema = pa.schema(
            [
                pa.field(f.name, to_arrow(f.dataType))
                for f in _CHECKPOINT_SCHEMA.fields
            ]
        )
        cols = {
            f.name: [to_py(f.dataType, r.get(f.name)) for r in rows]
            for f in _CHECKPOINT_SCHEMA.fields
        }
        table = pa.Table.from_pydict(cols, schema=schema)
        tmp = target + ".tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, target)

    def clean_log(self) -> int:
        """Delete JSON commits at or below the newest checkpoint (Delta
        log retention); state reads fold checkpoint + tail only.
        Matching ``.crc`` sidecars leave with their commits."""
        cps = self._checkpoint_versions()
        if not cps:
            return 0
        horizon = max(cps)
        n = 0
        for v in self._commit_versions():
            if v <= horizon:
                os.remove(os.path.join(self.log_path, _commit_name(v)))
                crc = os.path.join(self.log_path, _crc_name(v))
                if os.path.exists(crc):
                    os.remove(crc)
                n += 1
        return n

    # ------------------------------------------------- version checksum

    def _crc_content(self, st: _State) -> dict:
        """The VERSION CHECKSUM summary of a folded state — the
        delta-spark ``<version>.crc`` sidecar (public delta-io/delta
        behavior; spec'd as the optional Version Checksum File): a
        snapshot-level digest other writers use to validate their
        incremental state fold without re-reading the whole log."""
        dvs = [
            a["deletionVector"]
            for a in st.adds.values()
            if a.get("deletionVector")
        ]
        return {
            "tableSizeBytes": sum(
                int(a.get("size") or 0) for a in st.adds.values()
            ),
            "numFiles": len(st.adds),
            "numMetadata": 1,
            "numProtocol": 1,
            "metadata": st.metadata,
            "protocol": st.protocol or {},
            "setTransactions": [
                {"appId": k, "version": int(v)}
                for k, v in sorted(st.txns.items())
            ],
            "domainMetadata": [
                {"domain": d, "configuration": c, "removed": False}
                for d, c in sorted(st.domains.items())
            ],
            "numDeletedRecordsOpt": sum(
                int(dv.get("cardinality") or 0) for dv in dvs
            ),
            "numDeletionVectorsOpt": len(dvs),
        }

    def _write_crc(self, version: int) -> None:
        """Write ``<version>.crc`` next to the commit. Atomic replace
        (identical content regardless of writer, so last-wins is
        fine); never raced through O_EXCL like commits are.

        state() extends the process-level snapshot by the one commit
        just written, so a run of N commits folds each commit once.
        A miss folds from disk with the pyarrow checkpoint reader:
        a commit must never launch a Spark job."""
        prev = self._fold_with_arrow
        self._fold_with_arrow = True
        try:
            st = self.state(version)
        finally:
            self._fold_with_arrow = prev
        tmp = os.path.join(
            self.log_path, f".{_crc_name(version)}.{uuid.uuid4().hex}.tmp"
        )
        with open(tmp, "w") as f:
            f.write(json.dumps(self._crc_content(st)) + "\n")
        os.replace(tmp, os.path.join(self.log_path, _crc_name(version)))

    def validate_checksum(self, version: int | None = None) -> bool:
        """Validate the folded state against the stored ``.crc``
        sidecar — catches log tampering/corruption between write and
        read (a torn commit file, a hand-edited add, a lost domain).
        Returns False when no sidecar exists for the version; raises
        ``DeltaProtocolError`` naming every diverging field. Folds
        the whole log from disk: a check for tampering must not trust
        the process-level snapshot."""
        commits, cps = self._scan_log()
        latest = self._latest(commits, cps)
        v = latest if version is None else version
        st, _ = self._fold(
            v, self._fold_start(v, commits, cps), commits, cps
        )
        path = os.path.join(self.log_path, _crc_name(st.version))
        if not os.path.exists(path):
            return False
        with open(path) as f:
            stored = json.loads(f.read())
        actual = self._crc_content(st)
        # Optional fields (setTransactions, domainMetadata,
        # numDeletedRecordsOpt, ...) may legitimately be omitted by
        # other conformant writers — absence is not divergence, so only
        # fields the sidecar actually stored participate in the check.
        bad = [
            k
            for k in actual
            if k in stored
            and json.dumps(actual[k], sort_keys=True)
            != json.dumps(stored[k], sort_keys=True)
        ]
        if bad:
            raise DeltaProtocolError(
                f"version checksum mismatch at v{st.version}: "
                f"fields {bad} diverge from {_crc_name(st.version)} — "
                "the log was modified after the commit"
            )
        return True


def read_delta_path(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_millis: int | None = None,
) -> DataFrame:
    """Read a real Delta table at a filesystem path. Tries the vendor
    connector first (identical to the reference's
    spark.read.format("delta"), offline_store_spark_runner.py:981-987);
    falls back to the protocol reader ONLY when the jar is absent —
    genuine read failures with the connector present (corrupt table,
    unsupported feature, bad versionAsOf) propagate unmasked.
    ``timestamp_millis`` is TIMESTAMP AS OF (mutually exclusive with
    ``version``, like the connector's options)."""
    if version is not None and timestamp_millis is not None:
        raise DeltaProtocolError(
            "versionAsOf and timestampAsOf are mutually exclusive"
        )
    try:
        r = spark.read.format("delta")
        if version is not None:
            r = r.option("versionAsOf", str(version))
        if timestamp_millis is not None:
            import datetime

            # Millisecond precision, rendered in the SPARK SESSION
            # timezone (the connector parses the string under
            # spark.sql.session.timeZone): whole-second local-time
            # truncation would resolve a different version than the
            # protocol fallback's exact-millis compare near commit
            # boundaries or when the session tz differs from the OS tz.
            try:
                import zoneinfo

                tz = zoneinfo.ZoneInfo(
                    spark.conf.get("spark.sql.session.timeZone")
                )
            except Exception:  # noqa: BLE001 — fall back to OS-local
                tz = None
            r = r.option(
                "timestampAsOf",
                datetime.datetime.fromtimestamp(
                    timestamp_millis / 1000, tz=tz
                ).strftime("%Y-%m-%d %H:%M:%S.%f"),
            )
        return r.load(path)
    except Exception as e:  # noqa: BLE001 — filtered below
        msg = str(e)
        connector_absent = (
            "Failed to find data source" in msg
            or "DATA_SOURCE_NOT_FOUND" in msg
            or "Failed to find the data source" in msg
        )
        if not connector_absent:
            raise
        t = DeltaProtocolTable(spark, path)
        if timestamp_millis is not None:
            version = t.version_at_timestamp(timestamp_millis)
        return t.snapshot(version)


def incremental_adds(
    table: DeltaProtocolTable, last_version: int
) -> DataFrame:
    """Rows appended after ``last_version`` (exclusive): fold the add
    actions of versions (last_version, latest] and scan only those
    files — the blind-append incremental-read shape of the reference's
    isIncremental sources (offline_store_spark_runner.py:1076-1136).
    Commits in range that remove files with dataChange=true
    (overwrite/MERGE) raise: an append-only incremental read over them
    would be wrong (``incremental_records`` covers those through the
    change data feed). dataChange=false actions
    (OPTIMIZE/compaction) are skipped entirely — per the Delta
    contract, streams must ignore them, so a compact() never breaks
    blind-append incremental reads."""
    latest = table.version()
    if last_version >= latest:
        return table.spark.createDataFrame([], table.state().schema)
    have = set(table._commit_versions())
    missing = [
        v for v in range(last_version + 1, latest + 1) if v not in have
    ]
    if missing:
        raise DeltaProtocolError(
            f"commits {missing} were cleaned; incremental read from "
            f"{last_version} is no longer possible"
        )
    st = table.state()  # for schema/partition layout
    adds: dict[str, dict] = {}
    for v in range(last_version + 1, latest + 1):
        for a in table._read_commit(v):
            if "remove" in a:
                if not a["remove"].get("dataChange", True):
                    continue  # OPTIMIZE rewrite — no logical change
                raise DeltaProtocolError(
                    f"version {v} removes files (not a blind append); "
                    "incremental add-scan would return wrong rows"
                )
            if "add" in a:
                if not a["add"].get("dataChange", True):
                    continue  # re-added by OPTIMIZE — rows already seen
                adds[a["add"]["path"]] = a["add"]
    sub = _State(
        version=latest,
        metadata=st.metadata,
        protocol=st.protocol,
        adds=adds,
    )
    return table._read_files(sub, table._data_paths(sub))


def incremental_records(
    table: DeltaProtocolTable, last_version: int
) -> DataFrame:
    """The reference's incremental contract
    (offline_store_spark_runner.py:1076-1136) over the change data
    feed: the records committed in (``last_version``, latest], tagged
    ``_change_type`` and ``_commit_version``.

    - refuses a table without ``delta.enableChangeDataFeed=true``;
    - refuses a range holding an overwrite (a WRITE commit whose
      ``operationParameters.mode`` is ``Overwrite``) — "overwritten
      since last run";
    - keeps only ``insert`` and ``update_postimage`` rows: deleted rows
      and update preimages are not new records, and an append-only
      consumer fed them would re-ingest rows the table dropped.

    Callers return early when latest <= ``last_version``; such a range
    yields an empty frame."""
    if table.properties().get("delta.enableChangeDataFeed") != "true":
        raise DeltaProtocolError(
            f"{table.path} does not have property "
            "delta.enableChangeDataFeed enabled; cannot read incremental "
            "records"
        )
    latest = table.version()
    # table_changes first: it refuses a range whose commits were cleaned
    changes = table.table_changes(last_version, latest)
    for v in range(last_version + 1, latest + 1):
        for a in table._read_commit(v):
            ci = a.get("commitInfo") or {}
            mode = (ci.get("operationParameters") or {}).get("mode")
            if ci.get("operation") == "WRITE" and mode == "Overwrite":
                raise DeltaProtocolError(
                    f"{table.path} has been overwritten since last run "
                    f"(version {v})"
                )
    return changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    )
