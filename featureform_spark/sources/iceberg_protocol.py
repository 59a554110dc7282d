"""Real Apache Iceberg tables — no vendor jar required.

The reference reads Iceberg catalog tables through the Iceberg Spark
connector (``spark.read.format("org.apache.iceberg.spark.source.
IcebergSource").load("ff_catalog." + location)``,
offline_store_spark_runner.py:966-980) and streams them through
pyiceberg (streamer/iceberg_streamer.py:17-106). Neither jar nor
pyiceberg ships in this container, but the Iceberg *table format* is a
public spec (https://iceberg.apache.org/spec/): a ``metadata/``
directory of JSON table-metadata files, Avro manifest lists
(``snap-*.avro``) and Avro manifests pointing at immutable parquet data
files. This module implements that format directly on top of the
in-repo Avro container codec (sources/avro_codec.py):

- **Reader**: version-hint / highest-version metadata discovery,
  snapshot → manifest list → manifests → live data files, time travel
  by snapshot-id or snapshot-log ordinal, and scan planning from
  log-carried stats: partition summaries in the manifest list prune
  whole manifests, per-file ``lower_bounds``/``upper_bounds`` (Iceberg
  single-value binary serialization) prune files — zero parquet footer
  reads on the pruning path; the data plane is ONE native Spark
  parquet scan.
- **Writer**: format-version 2 metadata JSON, v2 manifest-list +
  manifest Avro files with correct field-ids, per-file stats from
  parquet footers (record_count, value/null counts, bounds), identity
  partitioning with the source columns kept IN the data files (per
  spec — Iceberg directories are convention, not semantics), linear
  snapshot history with sequence numbers, and a
  ``schema.name-mapping.default`` property so engines that want
  parquet field-ids can resolve columns by name (spec §Name Mapping).
- **Merge-on-read**: v2 position AND equality deletes are APPLIED on
  read by the one Spark scan, ``IcebergProtocolTable._scan`` (data
  scan with Spark's ``_metadata.row_index``, anti-joins against the
  delete sets, sequence-number-scoped per spec), and
  PRODUCED by ``delete_rows`` (position) / ``delete_by_keys``
  (equality, the streaming-upsert shape) — row-level DELETE without
  rewriting data files.
- **Partition transforms**: identity / bucket[N] (spec murmur3,
  Appendix B vectors asserted) / truncate[W] / year / month / day /
  hour are computed on BOTH read (hidden-partition pruning through the
  transform) and write (transform values into partition summaries +
  data_file partition structs).
- **Honest gates**: format-version 3 and unknown data_file content
  raise instead of returning wrong rows.

Scale note: metadata decisions (manifest-list pruning, snapshot
folds) are driver-side over KB–MB Avro/JSON, but the O(#data files)
manifest-ENTRY decode distributes: above
``DISTRIBUTED_PLAN_MIN_ENTRIES`` estimated live entries (from the
manifest list's counts — no manifest is opened to decide), scan
planning fans the Avro decode + per-entry pruning across executors
(the same distributed planning real Iceberg does for large tables)
and only survivors return to the driver; below it, the sequential
driver fold avoids a job launch. The data path stays a single
distributed parquet scan with Spark's own pushdown on top of the
log-level skipping.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid
from collections.abc import Sequence
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from featureform_spark.sources.local_df import local_df, position_df
from pyspark.sql import types as T

from featureform_spark.sources.avro_codec import read_container, write_container
from featureform_spark.sources.staged_write import (
    FileRecord,
    discard,
    fold_footer,
    write_arrow,
    write_staged,
)

METADATA_DIR = "metadata"
DATA_DIR = "data"
VERSION_HINT = "version-hint.text"

# Above this many live manifest entries (summed from the manifest
# list's added/existing counts — no manifest is opened to decide),
# scan planning decodes manifests EXECUTOR-side instead of folding
# them one-by-one in driver Python. At 100 TB (~10^6 data files) the
# sequential driver fold is minutes per query; distributed decode is
# one narrow job over the manifest paths. Env-tunable for tests.
DISTRIBUTED_PLAN_MIN_ENTRIES = int(
    os.environ.get("FFSPARK_DISTRIBUTED_PLAN_ENTRIES", "20000")
)


def _decode_manifest_partition(rows: list[tuple]) -> list[tuple]:
    """Executor-side manifest decode (module-level so Spark pickles a
    reference, not the table object): each input row is
    ``(manifest_idx, resolved_path, inherited_seq_or_None)``; output is
    ``(manifest_idx, entry_idx, pickled_entry)`` for every LIVE
    (status != DELETED) entry, with v2 sequence-number inheritance
    already applied. Entries ride back pickled — manifest entry
    structs mix nested dicts, bytes bounds, and per-spec optional
    fields that have no stable Arrow shape."""
    import pickle

    from featureform_spark.sources.avro_codec import read_container

    out: list[tuple] = []
    for mi, path, man_seq in rows:
        _, recs = read_container(path)
        for ei, e in enumerate(recs):
            if int(e.get("status", 1)) == 2:  # DELETED
                continue
            if e.get("sequence_number") is None and man_seq is not None:
                e["sequence_number"] = man_seq
            out.append((int(mi), int(ei), pickle.dumps(e)))
    return out


def _manifest_paths_partition(rows: list[tuple]) -> list[tuple]:
    """Executor-side path-only manifest decode for maintenance keep
    sets (expire_snapshots, remove_orphan_files): each input row is
    ``(mi, resolved_manifest_path)``; output ``(mi, [raw file_path
    strings])`` over EVERY entry (including DELETED — a keep set must
    reference what historic snapshots still reach). Unreadable
    manifests yield an empty list, matching the driver folds'
    tolerant try/except."""
    out: list[tuple] = []
    for mi, path in rows:
        try:
            _, recs = read_container(path)
        except Exception:
            out.append((int(mi), []))
            continue
        out.append(
            (int(mi), [e["data_file"]["file_path"] for e in recs])
        )
    return out


def _scan_prune_partition(
    rows: list[tuple], fid: int, ice_type: str, lo: Any, hi: Any
) -> list[tuple]:
    """Executor-side scan fold shared by scan_planned (range) and
    scan_planned_eq (``lo == hi``): decode each manifest with the
    in-repo codec, apply status + v2 sequence inheritance, then prune
    per entry on the partition tuple and the log-carried column
    bounds — survivors ship back, pruned entries never leave the
    executor. Input row: ``(mi, resolved_path, man_seq, probe,
    is_delete)``; probe is ``None`` (no partition pruning on this
    manifest) | ``("range", part_name, lo_raw, hi_raw)`` | ``("eq",
    ((part_name, transformed_raw), ...))``. Output: one row per
    manifest — ``(mi, is_delete, live_data_count, pickle([kept
    entries]))``; delete manifests keep every live entry and count 0
    toward the pruning accounting."""
    import pickle

    out: list[tuple] = []
    for mi, path, man_seq, probe, is_delete in rows:
        _, recs = read_container(path)
        kept: list[dict] = []
        live = 0
        for e in recs:
            if int(e.get("status", 1)) == 2:  # DELETED
                continue
            if e.get("sequence_number") is None and man_seq is not None:
                e["sequence_number"] = man_seq
            if is_delete:
                kept.append(e)
                continue
            df_ = e["data_file"]
            live += 1
            part = df_.get("partition") or {}
            if probe is not None and probe[0] == "range":
                _, pname, plo_raw, phi_raw = probe
                pv = part.get(pname)
                try:
                    if pv is not None and (pv < plo_raw or pv > phi_raw):
                        continue
                except TypeError:
                    pass  # mixed tuple domains: bounds still apply
            elif probe is not None and probe[0] == "eq":
                if any(
                    name in part
                    and part[name] is not None
                    and part[name] != tv_raw
                    for name, tv_raw in probe[1]
                ):
                    continue
            lbs = _as_int_map(df_.get("lower_bounds"))
            ubs = _as_int_map(df_.get("upper_bounds"))
            fmn = decode_bound(ice_type, lbs.get(fid))
            fmx = decode_bound(ice_type, ubs.get(fid))
            if fmn is not None and fmx is not None and (fmx < lo or fmn > hi):
                continue
            kept.append(e)
        out.append((int(mi), bool(is_delete), live, pickle.dumps(kept)))
    return out


class IcebergProtocolError(Exception):
    pass


class UnsupportedIcebergFeatureError(IcebergProtocolError):
    """The table requires reader capabilities (delete files, v3 row
    lineage, …) this implementation does not have. Raised instead of
    returning silently-wrong rows."""


class CommitConflictError(IcebergProtocolError):
    """A pinned-CAS commit lost the race to a concurrent writer.
    Retryable by design: refold on fresh metadata and re-run. Kept as
    a distinct subclass so best-effort follow-ons (append's auto
    manifest-merge) can swallow ONLY the lost race, never a real
    failure like a corrupt manifest or an unsupported feature."""


class AppendCommittedMaintenanceError(IcebergProtocolError):
    """An append's snapshot COMMITTED durably, but the follow-on
    auto manifest-merge failed with a non-conflict error. Distinct
    type because the failure mode is the opposite of a failed append:
    retrying the append would double-append the committed rows.
    ``snapshot_id`` is the durably-committed append snapshot; callers
    should treat the append as succeeded and surface the maintenance
    failure (``__cause__``) separately — e.g. run
    ``rewrite_manifests()`` out of band once the cause is fixed."""

    def __init__(self, message: str, snapshot_id: int):
        super().__init__(message)
        self.snapshot_id = snapshot_id


# ------------------------------------------------------------ type mapping

_ICE_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
    # Iceberg v3 variant <-> Spark's native VariantType
    **(
        {"variant": T.VariantType()}
        if hasattr(T, "VariantType")
        else {}
    ),
}


def iceberg_type_to_spark(t: Any) -> T.DataType:
    if isinstance(t, str):
        if t in _ICE_TO_SPARK:
            return _ICE_TO_SPARK[t]
        if t.startswith("decimal("):
            p, s = t[len("decimal(") : -1].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed["):
            return T.BinaryType()
        raise IcebergProtocolError(f"unknown iceberg type: {t!r}")
    kind = t["type"]
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    iceberg_type_to_spark(f["type"]),
                    not f.get("required", False),
                )
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(
            iceberg_type_to_spark(t["element"]),
            not t.get("element-required", False),
        )
    if kind == "map":
        return T.MapType(
            iceberg_type_to_spark(t["key"]),
            iceberg_type_to_spark(t["value"]),
            not t.get("value-required", False),
        )
    raise IcebergProtocolError(f"unknown iceberg type: {t!r}")


def iceberg_schema_to_spark(schema: dict) -> T.StructType:
    out = iceberg_type_to_spark(
        {"type": "struct", "fields": schema["fields"]}
    )
    # v3 default values ride the Spark schema as field metadata so the
    # read paths can serve them without re-deriving the Iceberg schema
    # (stamped ONLY on defaulted fields — undecorated tables produce
    # bit-identical StructTypes to before)
    fields = []
    for sf, f in zip(out.fields, schema["fields"]):
        md = {}
        if "initial-default" in f:
            md["iceberg.initial-default"] = f["initial-default"]
        if "write-default" in f:
            md["iceberg.write-default"] = f["write-default"]
        if md:
            md["iceberg.field-id"] = f["id"]
            sf = T.StructField(sf.name, sf.dataType, sf.nullable, md)
        fields.append(sf)
    return T.StructType(fields)


def default_value_to_json(ice_t: Any, v: Any) -> Any:
    """Spec §JSON single-value serialization: the representation of a
    field's ``initial-default`` / ``write-default`` in the schema JSON.
    Primitive types only — nested/binary defaults are not supported by
    this writer."""
    import datetime
    import decimal

    if v is None:
        raise IcebergProtocolError("a column default cannot be null")
    if ice_t == "boolean":
        if not isinstance(v, bool):
            raise IcebergProtocolError(f"boolean default, got {v!r}")
        return v
    if ice_t in ("int", "long"):
        if not isinstance(v, int) or isinstance(v, bool):
            raise IcebergProtocolError(f"{ice_t} default, got {v!r}")
        return v
    if ice_t in ("float", "double"):
        return float(v)
    if ice_t == "string":
        if not isinstance(v, str):
            raise IcebergProtocolError(f"string default, got {v!r}")
        return v
    if ice_t == "date":
        if isinstance(v, str):
            v = datetime.date.fromisoformat(v)
        if not isinstance(v, datetime.date):
            raise IcebergProtocolError(f"date default, got {v!r}")
        return v.isoformat()
    if isinstance(ice_t, str) and ice_t.startswith("timestamp"):
        if isinstance(v, str):
            v = datetime.datetime.fromisoformat(v)
        if not isinstance(v, datetime.datetime):
            raise IcebergProtocolError(f"timestamp default, got {v!r}")
        if ice_t == "timestamptz":
            if v.tzinfo is None:
                v = v.replace(tzinfo=datetime.timezone.utc)
            v = v.astimezone(datetime.timezone.utc)
            return v.strftime("%Y-%m-%dT%H:%M:%S.%f+00:00")
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(ice_t, str) and ice_t.startswith("decimal("):
        return str(decimal.Decimal(str(v)))
    raise UnsupportedIcebergFeatureError(
        f"column defaults for type {ice_t!r} are not supported"
    )


def default_value_from_json(ice_t: Any, jv: Any) -> Any:
    """Inverse of :func:`default_value_to_json`: the JSON single-value
    back to a Python value (what an Arrow writer materializes)."""
    import datetime
    import decimal

    if ice_t == "date":
        return datetime.date.fromisoformat(jv)
    if isinstance(ice_t, str) and ice_t.startswith("timestamp"):
        return datetime.datetime.fromisoformat(jv)
    if isinstance(ice_t, str) and ice_t.startswith("decimal("):
        return decimal.Decimal(jv)
    return jv


def _ice_primitive_to_arrow(t: str):
    import pyarrow as pa

    m = {
        "boolean": pa.bool_(),
        "int": pa.int32(),
        "long": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
        "timestamptz": pa.timestamp("us", tz="UTC"),
    }
    if t in m:
        return m[t]
    if t.startswith("decimal("):
        p, s = t[len("decimal(") : -1].split(",")
        return pa.decimal128(int(p), int(s))
    raise UnsupportedIcebergFeatureError(
        f"no arrow mapping for default of type {t!r}"
    )


class _IdGen:
    def __init__(self, start: int = 0):
        self.last = start

    def next(self) -> int:
        self.last += 1
        return self.last


def spark_type_to_iceberg(dt: T.DataType, ids: _IdGen) -> Any:
    if hasattr(T, "VariantType") and isinstance(dt, T.VariantType):
        return "variant"  # format-version 3 only (callers gate)
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return {
            "type": "list",
            "element-id": ids.next(),
            "element": spark_type_to_iceberg(dt.elementType, ids),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        return {
            "type": "map",
            "key-id": ids.next(),
            "key": spark_type_to_iceberg(dt.keyType, ids),
            "value-id": ids.next(),
            "value": spark_type_to_iceberg(dt.valueType, ids),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = ids.next()
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": spark_type_to_iceberg(f.dataType, ids),
                }
            )
        return {"type": "struct", "fields": fields}
    raise IcebergProtocolError(f"cannot map spark type {dt} to iceberg")


def _ice_has_variant(t: Any) -> bool:
    """True when an Iceberg type tree contains ``variant`` (v3-only)."""
    if isinstance(t, str):
        return t == "variant"
    kind = t.get("type")
    if kind == "struct":
        return any(_ice_has_variant(f["type"]) for f in t["fields"])
    if kind == "list":
        return _ice_has_variant(t["element"])
    if kind == "map":
        return _ice_has_variant(t["key"]) or _ice_has_variant(t["value"])
    return False


def spark_schema_to_iceberg(schema: T.StructType, schema_id: int = 0) -> dict:
    ids = _IdGen()
    struct = spark_type_to_iceberg(schema, ids)
    return {
        "type": "struct",
        "schema-id": schema_id,
        "fields": struct["fields"],
        "_last_column_id": ids.last,
    }


# ------------------------------------- single-value binary serialization
# Iceberg spec §Binary single-value serialization: used for manifest
# lower/upper bounds and partition summaries.


def encode_bound(ice_type: str, val: Any) -> bytes | None:
    if val is None:
        return None
    if ice_type == "boolean":
        return b"\x01" if val else b"\x00"
    if ice_type == "int":
        return struct.pack("<i", int(val))
    if ice_type == "long":
        return struct.pack("<q", int(val))
    if ice_type == "float":
        return struct.pack("<f", float(val))
    if ice_type == "double":
        return struct.pack("<d", float(val))
    if ice_type == "date":
        import datetime

        if isinstance(val, datetime.date):
            val = (val - datetime.date(1970, 1, 1)).days
        return struct.pack("<i", int(val))
    if ice_type in ("timestamp", "timestamptz"):
        import datetime

        if isinstance(val, datetime.datetime):
            epoch = datetime.datetime(1970, 1, 1, tzinfo=val.tzinfo)
            val = int((val - epoch).total_seconds() * 1_000_000)
        return struct.pack("<q", int(val))
    if ice_type == "string":
        return str(val).encode("utf-8")
    if ice_type == "binary":
        # footer folds hand back UTF-8-decodable bytes as str
        return val.encode() if isinstance(val, str) else bytes(val)
    if ice_type.startswith("decimal("):
        from decimal import Decimal

        scale = int(ice_type[:-1].split(",")[1])
        unscaled = int(Decimal(str(val)).scaleb(scale))
        n = max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(n, "big", signed=True)
    return None  # unknown type: no bound (never prune on it)


def decode_bound(ice_type: str, b: bytes | None) -> Any:
    if b is None:
        return None
    if ice_type == "boolean":
        return b == b"\x01"
    if ice_type == "int":
        return struct.unpack("<i", b)[0]
    if ice_type == "long":
        return struct.unpack("<q", b)[0]
    if ice_type == "float":
        return struct.unpack("<f", b)[0]
    if ice_type == "double":
        return struct.unpack("<d", b)[0]
    if ice_type == "date":
        import datetime

        return datetime.date(1970, 1, 1) + datetime.timedelta(
            days=struct.unpack("<i", b)[0]
        )
    if ice_type in ("timestamp", "timestamptz"):
        import datetime

        micros = struct.unpack("<q", b)[0]
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=micros
        )
    if ice_type == "string":
        return b.decode("utf-8")
    if ice_type == "binary":
        return b
    if ice_type.startswith("decimal("):
        from decimal import Decimal

        scale = int(ice_type[:-1].split(",")[1])
        return Decimal(int.from_bytes(b, "big", signed=True)).scaleb(-scale)
    return None


def _summary_excludes(
    summaries: list[dict], pos: int, rtype: str, lo: Any, hi: Any,
    null_blocks: bool,
) -> bool:
    """Whether a manifest's partition summary at ``pos`` rules out
    every value in [lo, hi] (its decoded bounds are disjoint from it).
    With ``null_blocks``, a summary that contains NULL never does."""
    if pos >= len(summaries):
        return False
    s = summaries[pos]
    smn = decode_bound(rtype, s.get("lower_bound"))
    smx = decode_bound(rtype, s.get("upper_bound"))
    if smn is None or smx is None:
        return False
    if null_blocks and s.get("contains_null", False):
        return False
    return smx < lo or smn > hi


def data_file_record(
    rec: FileRecord, name_to_field: dict[str, dict], partition: dict
) -> dict:
    """Manifest data_file record (content 0) for one folded parquet
    file: value/null counts and binary bounds keyed by field id, over
    top-level primitive columns (``name_to_field`` is keyed by the name
    the footer carries)."""
    vcounts: dict[int, int] = {}
    ncounts: dict[int, int] = {}
    lower: dict[int, bytes] = {}
    upper: dict[int, bytes] = {}
    for name, c in (rec.columns or {}).items():
        f = name_to_field.get(name)
        if f is None or not isinstance(f["type"], str):
            continue
        fid = f["id"]
        vcounts[fid] = c.values
        if c.nulls is not None:
            ncounts[fid] = c.nulls
        if c.bounds is not None:
            lb, ub = (encode_bound(f["type"], v) for v in c.bounds)
            if lb is not None and ub is not None:
                lower[fid], upper[fid] = lb, ub

    def kv(d: dict) -> list[dict]:
        return [{"key": k, "value": v} for k, v in sorted(d.items())]

    return {
        "content": 0,
        "file_path": rec.path,
        "file_format": "PARQUET",
        "partition": partition,
        "record_count": rec.rows,
        "file_size_in_bytes": rec.size,
        "value_counts": kv(vcounts),
        "null_value_counts": kv(ncounts),
        "lower_bounds": kv(lower),
        "upper_bounds": kv(upper),
    }


def _delete_records(
    recs: list[FileRecord], content: int, **extra: Any
) -> list[dict]:
    """Manifest data_file records for staged delete files (content 1 =
    position, 2 = equality), unpartitioned and without column stats."""
    return [
        {
            "content": content,
            "file_path": r.path,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": r.rows,
            "file_size_in_bytes": r.size,
            **extra,
        }
        for r in recs
    ]


def dv_record(
    puffin: str, data_file: str, offset: int, size: int, card: int
) -> dict:
    """Manifest data_file record of one v3 deletion vector: the blob at
    ``offset`` of the Puffin file ``puffin``, ``size`` bytes counting
    its frame, deleting ``card`` rows of ``data_file``."""
    return {
        "content": 1,
        "file_path": puffin,
        "file_format": "PUFFIN",
        "partition": {},
        "record_count": card,
        "file_size_in_bytes": os.path.getsize(puffin),
        "referenced_data_file": data_file,
        "content_offset": offset,
        "content_size_in_bytes": size,
    }


def _added_summary(deletes: Sequence[dict]) -> dict[str, str]:
    """Spec snapshot-summary counts of a commit's delete files."""
    if not deletes:
        return {}
    out = {"added-delete-files": str(len(deletes))}
    for content, kind in ((1, "position"), (2, "equality")):
        recs = [d for d in deletes if int(d["content"]) == content]
        if recs:
            out[f"added-{kind}-delete-files"] = str(len(recs))
            out[f"added-{kind}-deletes"] = str(
                sum(int(d["record_count"]) for d in recs)
            )
    return out


def _partition_tuple(
    raw: dict[str, str | None], result_types: dict[str, str]
) -> dict[str, Any]:
    """Typed partition tuple from the shadow ``_p_<field>`` directory
    values of one staged data file."""
    out: dict[str, Any] = {}
    for k, v in raw.items():
        name = k[len("_p_") :]
        if v is not None and result_types[name] in ("int", "long", "date"):
            try:
                v = int(v)  # int/long, and day-transform shadow values
            except ValueError:
                import datetime

                v = (
                    datetime.date.fromisoformat(v) - datetime.date(1970, 1, 1)
                ).days
        out[name] = v
    return out


# ------------------------------------------------------------ transforms
# Partition transforms per spec §Partition Transforms. Bucket uses the
# spec's 32-bit Murmur3 (x86 variant, seed 0) over the single-value
# binary encoding with int/date widened to long — test vectors from the
# spec appendix are asserted in tests/test_iceberg_protocol.py.


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Murmur3 x86 32-bit (public algorithm, Austin Appleby)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    length = len(data)
    rounded = length - (length % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _mm3_mix_k(k):
    import numpy as np

    k = k * np.uint32(0xCC9E2D51)
    k = (k << np.uint32(15)) | (k >> np.uint32(17))
    return k * np.uint32(0x1B873593)


def _mm3_step(h, k):
    import numpy as np

    h = h ^ _mm3_mix_k(k)
    h = (h << np.uint32(13)) | (h >> np.uint32(19))
    return h * np.uint32(5) + np.uint32(0xE6546B64)


def _mm3_final(h, lengths):
    import numpy as np

    h = h ^ lengths.astype(np.uint32)
    h = h ^ (h >> np.uint32(16))
    h = h * np.uint32(0x85EBCA6B)
    h = h ^ (h >> np.uint32(13))
    h = h * np.uint32(0xC2B2AE35)
    return h ^ (h >> np.uint32(16))


def murmur3_32_longs_vec(vals) -> "Any":
    """Vectorized spec murmur3 over int64 values encoded as 8-byte
    little-endian (the Appendix B encoding for int/long/date/
    timestamp): two fixed mix rounds on the low/high words — the exact
    scalar sequence of murmur3_32, column-vectorized (uint32 wraps are
    numpy's native modular arithmetic). Equality with the scalar
    implementation is asserted in tests."""
    import numpy as np

    v = np.ascontiguousarray(np.asarray(vals, dtype=np.int64)).view(np.uint64)
    h = np.zeros(len(v), dtype=np.uint32)
    h = _mm3_step(h, (v & np.uint64(0xFFFFFFFF)).astype(np.uint32))
    h = _mm3_step(h, (v >> np.uint64(32)).astype(np.uint32))
    return _mm3_final(h, np.full(len(v), 8, dtype=np.uint32))


def murmur3_32_bytes_vec(buffers: list) -> "Any":
    """Vectorized spec murmur3 over variable-length byte strings
    (string/binary bucket keys): rows are scattered into one
    offset-indexed byte matrix, word rounds run masked across all rows
    (round w touches only rows with >= 4(w+1) bytes), and the 0-3-byte
    tail is gathered per row — no per-value Python in the hash loop."""
    import numpy as np

    n = len(buffers)
    if n == 0:
        return np.empty(0, dtype=np.uint32)
    lens = np.fromiter((len(b) for b in buffers), dtype=np.int64, count=n)
    maxlen = int(lens.max())
    width = ((maxlen // 4) + 1) * 4  # room so tail gathers never run off
    mat = np.zeros((n, width), dtype=np.uint8)
    flat = np.frombuffer(b"".join(buffers), dtype=np.uint8)
    col = np.arange(width)
    mat[col[None, :] < lens[:, None]] = flat  # row-major == concat order
    words = mat.view("<u4")
    h = np.zeros(n, dtype=np.uint32)
    nwords = lens // 4
    for w in range(int(nwords.max())):
        m = nwords > w
        h = np.where(m, _mm3_step(h, words[:, w].astype(np.uint32)), h)
    rounded = (nwords * 4).astype(np.int64)
    tail_len = lens - rounded
    b0 = np.take_along_axis(mat, rounded[:, None], axis=1)[:, 0].astype(np.uint32)
    b1 = np.take_along_axis(mat, (rounded + 1)[:, None], axis=1)[:, 0].astype(np.uint32)
    b2 = np.take_along_axis(mat, (rounded + 2)[:, None], axis=1)[:, 0].astype(np.uint32)
    k = np.zeros(n, dtype=np.uint32)
    k = np.where(tail_len >= 3, k ^ (b2 << np.uint32(16)), k)
    k = np.where(tail_len >= 2, k ^ (b1 << np.uint32(8)), k)
    has_tail = tail_len >= 1
    k = np.where(has_tail, k ^ b0, k)
    h = np.where(has_tail, h ^ _mm3_mix_k(k), h)
    return _mm3_final(h, lens)


def bucket_values_vec(ice_type: str, series, n: int):
    """Bucket-transform a pandas Series without per-value Python in the
    hash path: nulls masked out, non-null values hashed by the
    vectorized murmur3 kernels, result returned as an object Series of
    int/None (the pandas_udf int32 carrier)."""
    import numpy as np
    import pandas as pd

    m = series.notna().to_numpy()
    out = np.full(len(series), None, dtype=object)
    if not m.any():
        return pd.Series(out)
    sub = series[m]
    if ice_type in ("int", "long"):
        h = murmur3_32_longs_vec(sub.to_numpy().astype(np.int64))
    elif ice_type == "date":
        days = (
            pd.to_datetime(sub)
            .to_numpy()
            .astype("datetime64[D]")
            .astype(np.int64)
        )
        h = murmur3_32_longs_vec(days)
    elif ice_type in ("timestamp", "timestamptz"):
        micros = (
            pd.to_datetime(sub)
            .to_numpy()
            .astype("datetime64[us]")
            .astype(np.int64)
        )
        h = murmur3_32_longs_vec(micros)
    elif ice_type == "string":
        h = murmur3_32_bytes_vec(sub.astype(str).str.encode("utf-8").tolist())
    elif ice_type == "binary":
        h = murmur3_32_bytes_vec([bytes(v) for v in sub])
    else:
        raise UnsupportedIcebergFeatureError(
            f"bucket transform on type {ice_type!r} unsupported"
        )
    buckets = (h & np.uint32(0x7FFFFFFF)).astype(np.int64) % n
    out[m] = buckets.astype(object)
    return pd.Series(out)


def bucket_hash(ice_type: str, val: Any) -> int:
    """Spec §Appendix B hash: int/long/date/timestamp hash as 8-byte
    little-endian LONG; strings as UTF-8 bytes."""
    if val is None:
        raise ValueError("bucket hash of null")
    if ice_type in ("int", "long", "date"):
        data = struct.pack("<q", int(val))
    elif ice_type in ("timestamp", "timestamptz"):
        import datetime

        if isinstance(val, datetime.datetime):
            epoch = datetime.datetime(1970, 1, 1, tzinfo=val.tzinfo)
            val = int((val - epoch).total_seconds() * 1_000_000)
        data = struct.pack("<q", int(val))
    elif ice_type == "string":
        data = str(val).encode("utf-8")
    elif ice_type == "binary":
        data = bytes(val)
    else:
        raise UnsupportedIcebergFeatureError(
            f"bucket transform on type {ice_type!r} unsupported"
        )
    return murmur3_32(data)


def bucket_value(ice_type: str, val: Any, n: int) -> int | None:
    if val is None:
        return None
    return (bucket_hash(ice_type, val) & 0x7FFFFFFF) % n


def _parse_transform(spec: str) -> tuple[str, int | None, str]:
    """'col' | 'day(col)' | 'bucket(16, col)' → (transform, param, col).
    Transform string follows the metadata-JSON convention
    ('bucket[16]', 'truncate[4]', 'day', …)."""
    s = spec.strip()
    if "(" not in s:
        return "identity", None, s
    fn, _, rest = s.partition("(")
    args = [a.strip() for a in rest.rstrip(")").split(",")]
    fn = fn.strip().lower()
    if fn in ("day", "hour", "month", "year"):
        return fn, None, args[0]
    if fn in ("bucket", "truncate"):
        return f"{fn}[{int(args[0])}]", int(args[0]), args[1]
    raise UnsupportedIcebergFeatureError(f"unknown transform {fn!r}")


def _transform_result_type(transform: str, src_type: str) -> str:
    if transform == "identity":
        return src_type
    if transform == "day":
        return "date"
    if transform in ("hour", "month", "year"):
        return "int"
    if transform.startswith("bucket["):
        return "int"
    if transform.startswith("truncate["):
        return src_type
    raise UnsupportedIcebergFeatureError(f"unknown transform {transform!r}")


def apply_transform_py(transform: str, src_type: str, v: Any) -> Any:
    """Driver-side transform of a literal — used to push a filter on
    the SOURCE column through a transformed partition (Iceberg's hidden
    partitioning). Only monotonic transforms belong here (bucket is
    deliberately absent: it is not order-preserving, so range filters
    cannot prune through it)."""
    import datetime

    if transform == "identity":
        return v
    if isinstance(v, datetime.datetime):
        d = v.date()
    elif isinstance(v, datetime.date):
        d = v
    else:
        d = None
    if transform == "day":
        return d  # decode_bound('date') yields datetime.date
    if transform == "hour":
        micros = int(
            (v - datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)).total_seconds()
            * 1_000_000
        )
        return micros // 3_600_000_000
    if transform == "month":
        return (d.year - 1970) * 12 + d.month - 1
    if transform == "year":
        return d.year - 1970
    if transform.startswith("truncate["):
        w = int(transform[len("truncate[") : -1])
        if isinstance(v, str):
            return v[:w]
        return int(v) - (((int(v) % w) + w) % w)
    raise UnsupportedIcebergFeatureError(
        f"cannot push a range filter through transform {transform!r}"
    )


_MONOTONIC_TRANSFORMS = ("identity", "day", "hour", "month", "year")


def _transform_expr(transform: str, src_type: str, col):
    """Spark expression computing a partition-transform value. Bucket
    rides an Arrow kernel (spec murmur3 has no Spark builtin — F.hash
    is Murmur3 over Spark's internal row format, a different function).
    """
    c = F.col(col) if isinstance(col, str) else col
    if transform == "identity":
        return c
    if transform in ("day", "hour"):
        div = 86_400_000_000 if transform == "day" else 3_600_000_000
        if src_type == "date":
            return F.datediff(c, F.lit("1970-01-01").cast("date"))
        return F.floor(F.unix_micros(c) / div).cast("int")
    if transform == "month":
        return ((F.year(c) - 1970) * 12 + F.month(c) - 1).cast("int")
    if transform == "year":
        return (F.year(c) - 1970).cast("int")
    if transform.startswith("truncate["):
        w = int(transform[len("truncate[") : -1])
        if src_type == "string":
            return F.substring(c, 1, w)
        # floor semantics for negatives: v - (((v % W) + W) % W)
        return c - (((c % w) + w) % w)
    if transform.startswith("bucket["):
        n = int(transform[len("bucket[") : -1])
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _bucket(a):
            return bucket_values_vec(src_type, a, n)

        _bucket.__annotations__ = {"a": pd.Series, "return": pd.Series}
        return pandas_udf(_bucket, "int")(c)
    raise UnsupportedIcebergFeatureError(f"unknown transform {transform!r}")


# --------------------------------------------------------- avro schemas
# v2 manifest-list / manifest-entry schemas per the Iceberg spec, with
# the spec's field-ids attached so real readers resolve columns.


def _f(name: str, typ: Any, fid: int, **kw: Any) -> dict:
    out = {"name": name, "type": typ, "field-id": fid}
    out.update(kw)
    return out


def _opt(typ: Any) -> list:
    return ["null", typ]


_FIELD_SUMMARY = {
    "type": "record",
    "name": "r508",
    "fields": [
        _f("contains_null", "boolean", 509),
        _f("contains_nan", _opt("boolean"), 518, default=None),
        _f("lower_bound", _opt("bytes"), 510, default=None),
        _f("upper_bound", _opt("bytes"), 511, default=None),
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        _f("manifest_path", "string", 500),
        _f("manifest_length", "long", 501),
        _f("partition_spec_id", "int", 502),
        _f("content", "int", 517),
        _f("sequence_number", "long", 515),
        _f("min_sequence_number", "long", 516),
        _f("added_snapshot_id", "long", 503),
        _f("added_files_count", "int", 504),
        _f("existing_files_count", "int", 505),
        _f("deleted_files_count", "int", 506),
        _f("added_rows_count", "long", 512),
        _f("existing_rows_count", "long", 513),
        _f("deleted_rows_count", "long", 514),
        _f(
            "partitions",
            _opt({"type": "array", "items": _FIELD_SUMMARY}),
            507,
            default=None,
        ),
        _f("key_metadata", _opt("bytes"), 519, default=None),
        # v3 row lineage: first row id assigned to this manifest
        _f("first_row_id", _opt("long"), 520, default=None),
    ],
}


def _kv_map(name: str, key_id: int, val_id: int, val_type: str) -> dict:
    """Iceberg serializes int-keyed maps as Avro arrays of k/v records
    (Avro maps require string keys)."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                _f("key", "int", key_id),
                _f("value", val_type, val_id),
            ],
        },
        "logicalType": "map",
    }


def manifest_entry_schema(partition_fields: list[dict]) -> dict:
    """v2 manifest_entry Avro schema; ``partition_fields`` are avro
    fields for the r102 partition record (per the table's spec)."""
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            _f("content", "int", 134),
            _f("file_path", "string", 100),
            _f("file_format", "string", 101),
            _f(
                "partition",
                {"type": "record", "name": "r102", "fields": partition_fields},
                102,
            ),
            _f("record_count", "long", 103),
            _f("file_size_in_bytes", "long", 104),
            _f("column_sizes", _opt(_kv_map("k117_v118", 117, 118, "long")), 108, default=None),
            _f("value_counts", _opt(_kv_map("k119_v120", 119, 120, "long")), 109, default=None),
            _f("null_value_counts", _opt(_kv_map("k121_v122", 121, 122, "long")), 110, default=None),
            _f("nan_value_counts", _opt(_kv_map("k138_v139", 138, 139, "long")), 137, default=None),
            _f("lower_bounds", _opt(_kv_map("k126_v127", 126, 127, "bytes")), 125, default=None),
            _f("upper_bounds", _opt(_kv_map("k129_v130", 129, 130, "bytes")), 128, default=None),
            _f("key_metadata", _opt("bytes"), 131, default=None),
            _f("split_offsets", _opt({"type": "array", "items": "long"}), 132, default=None),
            _f("equality_ids", _opt({"type": "array", "items": "int"}), 135, default=None),
            _f("sort_order_id", _opt("int"), 140, default=None),
            # v3 deletion-vector references (optional; null in v2)
            _f("referenced_data_file", _opt("string"), 143, default=None),
            _f("content_offset", _opt("long"), 144, default=None),
            _f("content_size_in_bytes", _opt("long"), 145, default=None),
            # v3 row lineage: rows read ids first_row_id + position
            # unless the file materializes a _row_id column
            _f("first_row_id", _opt("long"), 142, default=None),
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _f("status", "int", 0),
            _f("snapshot_id", _opt("long"), 1, default=None),
            _f("sequence_number", _opt("long"), 3, default=None),
            _f("file_sequence_number", _opt("long"), 4, default=None),
            _f("data_file", data_file, 2),
        ],
    }


def _is_dv_file(df_: dict) -> bool:
    """v3 deletion vector: a puffin blob referenced from the delete
    manifest instead of a (file_path, pos) parquet."""
    return bool(df_.get("referenced_data_file")) or (
        str(df_.get("file_format", "")).upper() == "PUFFIN"
    )


class ChangePiece(NamedTuple):
    """One piece of an Iceberg change feed, planned by
    ``IcebergProtocolTable._changes``: the rows of the data files
    ``entries`` that commit ``sid`` (``ordinal`` within the range)
    inserted or deleted. ``deletes`` are delete entries applied as a
    snapshot read applies them (sequence-scoped); ``keep`` and ``drop``
    are {data file: sorted positions} to keep only and to leave out;
    ``keep_keys`` are equality-delete entries a row must match (any of
    them). An ``overwrite`` piece names only its commit and parent:
    the Spark feed diffs the two snapshots."""

    ordinal: int
    sid: int
    change: str  # 'insert' | 'delete' | 'overwrite'
    entries: list = []
    deletes: list = []
    keep: dict | None = None
    drop: dict | None = None
    keep_keys: list | None = None
    parent: int | None = None


def _entry_key(df_: dict) -> tuple:
    """A manifest entry's file identity: deletion vectors share one
    puffin file at distinct offsets."""
    return df_["file_path"], df_.get("content_offset")


def _as_int_map(v: Any) -> dict[int, Any]:
    """Normalize an Iceberg int-keyed map decoded from Avro: either a
    list of {key, value} records (spec layout) or a str-keyed map."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return {int(k): val for k, val in v.items()}
    return {int(e["key"]): e["value"] for e in v}


# -------------------------------------------------------------- the table


class IcebergProtocolTable:
    """An Apache Iceberg v2 table addressed by filesystem path,
    speaking the public table format. See module docstring."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.metadata_path = os.path.join(path, METADATA_DIR)

    # -------------------------------------------------------- discovery

    def _metadata_files(self) -> list[tuple[int, str]]:
        if not os.path.isdir(self.metadata_path):
            return []
        out = []
        for name in os.listdir(self.metadata_path):
            if not name.endswith(".metadata.json"):
                continue
            stem = name[: -len(".metadata.json")]
            # two public conventions: v<N> (Hadoop catalog) and
            # <NNNNN>-<uuid> (rest/glue-style)
            try:
                if stem.startswith("v"):
                    out.append((int(stem[1:]), name))
                else:
                    out.append((int(stem.split("-", 1)[0]), name))
            except ValueError:
                continue
        return sorted(out)

    def exists(self) -> bool:
        return bool(self._metadata_files())

    def _current_metadata_file(self) -> str:
        hint = os.path.join(self.metadata_path, VERSION_HINT)
        if os.path.exists(hint):
            with open(hint) as f:
                v = int(f.read().strip())
            cand = os.path.join(self.metadata_path, f"v{v}.metadata.json")
            if os.path.exists(cand):
                return cand
        files = self._metadata_files()
        if not files:
            raise IcebergProtocolError(f"not an iceberg table: {self.path}")
        return os.path.join(self.metadata_path, files[-1][1])

    def metadata(self, _file: str | None = None) -> dict:
        with open(_file or self._current_metadata_file()) as f:
            md = json.load(f)
        fv = md.get("format-version", 1)
        if fv > 3:
            raise UnsupportedIcebergFeatureError(
                f"format-version {fv} is beyond v3"
            )
        # v3 is accepted for deletion vectors referenced from delete
        # manifests, row lineage (next-row-id / first-row-id / data-file
        # first_row_id, read via snapshot_with_row_ids), and the v2
        # metadata layout.
        return md

    def schema(self, md: dict | None = None) -> dict:
        md = md or self.metadata()
        if "schemas" in md:
            sid = md.get("current-schema-id", 0)
            for s in md["schemas"]:
                if s.get("schema-id") == sid:
                    return s
        if "schema" in md:  # v1 layout
            return md["schema"]
        raise IcebergProtocolError("metadata has no schema")

    def spark_schema(self, md: dict | None = None) -> T.StructType:
        return iceberg_schema_to_spark(self.schema(md))

    def partition_spec(self, md: dict | None = None) -> list[dict]:
        md = md or self.metadata()
        if "partition-specs" in md:
            sid = md.get("default-spec-id", 0)
            for s in md["partition-specs"]:
                if s.get("spec-id") == sid:
                    return s.get("fields", [])
        return md.get("partition-spec", [])  # v1 layout

    def snapshots(self, md: dict | None = None) -> list[dict]:
        md = md or self.metadata()
        return list(md.get("snapshots") or [])

    def current_snapshot(self, md: dict | None = None) -> dict | None:
        md = md or self.metadata()
        sid = md.get("current-snapshot-id")
        if sid is None or sid == -1:
            return None
        for s in self.snapshots(md):
            if s["snapshot-id"] == sid:
                return s
        raise IcebergProtocolError(f"current snapshot {sid} not in log")

    def history(self) -> list[dict]:
        md = self.metadata()
        return list(md.get("snapshot-log") or [])

    # ------------------------------------------------------------- scan

    def _resolve_path(self, p: str) -> str:
        """Manifest/data paths may be absolute URIs recorded by another
        engine; re-anchor anything under the table location so copied/
        moved tables still read."""
        for scheme in ("file://", "s3://", "s3a://", "hdfs://", "gs://"):
            if p.startswith(scheme):
                p = p[len(scheme) :]
                if "/" in p and not p.startswith("/"):
                    p = p[p.index("/") :]
                break
        if not os.path.exists(p):
            for marker in (f"/{METADATA_DIR}/", f"/{DATA_DIR}/"):
                if marker in p:
                    return os.path.join(self.path, p[p.index(marker) + 1 :])
        return p

    def _snapshot_by(
        self,
        snapshot_id: int | None = None,
        ordinal: int | None = None,
        md: dict | None = None,
    ) -> dict | None:
        md = md or self.metadata()
        if snapshot_id is not None:
            for s in self.snapshots(md):
                if s["snapshot-id"] == snapshot_id:
                    return s
            raise IcebergProtocolError(f"no snapshot {snapshot_id}")
        if ordinal is not None:
            log = md.get("snapshot-log") or []
            if not (0 <= ordinal < len(log)):
                raise IcebergProtocolError(
                    f"snapshot ordinal {ordinal} out of range (0..{len(log)-1})"
                )
            return self._snapshot_by(log[ordinal]["snapshot-id"], md=md)
        return self.current_snapshot(md)

    def _live_entries(
        self, snap: dict
    ) -> tuple[list[dict], list[dict]]:
        """Manifest list → manifests → live (non-deleted) entries,
        split into (data_entries, delete_entries). Both position
        (content=1) and equality (content=2) deletes are APPLIED in the
        scan (merge-on-read, see ``_scan``).

        Scale: the manifest list's added/existing counts estimate the
        live entry volume WITHOUT opening a manifest; above
        ``DISTRIBUTED_PLAN_MIN_ENTRIES`` the Avro decode runs
        executor-side (real Iceberg distributes planning the same way)
        so driver time stays O(#manifests), not O(#data files). Below
        it, the sequential driver fold is cheaper than a job launch.
        ``last_plan_mode`` records which path ran."""
        manifests = self._manifest_files(snap)
        est = 0
        have_counts = bool(manifests)
        for m in manifests:
            a = m.get("added_files_count", m.get("added_data_files_count"))
            x = m.get("existing_files_count")
            if a is None and x is None:
                have_counts = False  # legacy v1 inline list: no counts
                break
            est += int(a or 0) + int(x or 0)
        tasks = []
        for mi, m in enumerate(manifests):
            man_seq = m.get("sequence_number")
            tasks.append(
                (
                    mi,
                    self._resolve_path(m["manifest_path"]),
                    int(man_seq) if man_seq is not None else None,
                )
            )
        if (
            have_counts
            and est >= DISTRIBUTED_PLAN_MIN_ENTRIES
            and len(manifests) > 1
            # sessionless readers (Flight, Data Source planning) have
            # no executors to fan out to
            and self.spark is not None
        ):
            self.last_plan_mode = "distributed"
            entries = self._decode_manifests_distributed(tasks)
        else:
            self.last_plan_mode = "driver"

            def _driver_decode():
                for _mi, path, man_seq in tasks:
                    _, recs = read_container(path)
                    for e in recs:
                        if int(e.get("status", 1)) == 2:  # DELETED
                            continue
                        if (
                            e.get("sequence_number") is None
                            and man_seq is not None
                        ):
                            e["sequence_number"] = man_seq
                        yield e

            entries = _driver_decode()
        data_entries: list[dict] = []
        delete_entries: list[dict] = []
        for e in entries:
            content = int(e["data_file"].get("content", 0))
            if content == 0:
                data_entries.append(e)
            elif content in (1, 2):
                delete_entries.append(e)
            else:
                raise UnsupportedIcebergFeatureError(
                    f"unknown data_file content {content} — refusing"
                )
        return data_entries, delete_entries

    def _decode_manifests_distributed(
        self, tasks: list[tuple], with_index: bool = False
    ) -> list:
        """Fan the manifest Avro decode across executors: one narrow
        job over resolved manifest paths, entries shipped back pickled
        and re-sorted to the sequential fold's (manifest, entry) order
        so every consumer sees identical ordering on either path. The
        per-partition worker is module-level — Spark serializes a
        function reference plus the path list, never the table.
        ``with_index`` returns ``(manifest_idx, entry)`` pairs for
        consumers that need the carrying manifest (rewrite_manifests'
        per-manifest sequence fallbacks)."""
        import pickle

        sc = self.spark.sparkContext
        slices = max(1, min(len(tasks), sc.defaultParallelism * 2))
        raw = (
            sc.parallelize(tasks, slices)
            .mapPartitions(
                lambda it: _decode_manifest_partition(list(it))
            )
            .collect()
        )
        raw.sort(key=lambda r: (r[0], r[1]))
        if with_index:
            return [(mi, pickle.loads(b)) for mi, _, b in raw]
        return [pickle.loads(b) for _, _, b in raw]

    def _fold_scan_entries(
        self,
        tasks: list[tuple],
        fid: int,
        ice_type: str,
        lo: Any,
        hi: Any,
        est: int,
    ) -> tuple[list[dict], list[dict], int]:
        """Run the shared scan fold (:func:`_scan_prune_partition`)
        over the post-manifest-prune task list — executor-side above
        ``DISTRIBUTED_PLAN_MIN_ENTRIES`` estimated entries, driver-side
        below (same worker either way, so the paths cannot diverge).
        Returns (keep_entries, delete_entries, live_data_files) in the
        sequential manifest order."""
        import pickle

        if (
            est >= DISTRIBUTED_PLAN_MIN_ENTRIES
            and len(tasks) > 1
        ):
            self.last_plan_mode = "distributed"
            sc = self.spark.sparkContext
            slices = max(1, min(len(tasks), sc.defaultParallelism * 2))
            raw = (
                sc.parallelize(tasks, slices)
                .mapPartitions(
                    lambda it: _scan_prune_partition(
                        list(it), fid, ice_type, lo, hi
                    )
                )
                .collect()
            )
        else:
            self.last_plan_mode = "driver"
            raw = _scan_prune_partition(tasks, fid, ice_type, lo, hi)
        raw.sort(key=lambda r: r[0])
        keep: list[dict] = []
        deletes: list[dict] = []
        live = 0
        for _mi, is_delete, live_n, blob in raw:
            ents = pickle.loads(blob)
            if is_delete:
                deletes.extend(ents)
            else:
                live += live_n
                keep.extend(ents)
        return keep, deletes, live

    def _manifest_data_paths(
        self, man_paths: list[str], est: int
    ) -> set[str]:
        """Every data_file.file_path referenced by the given manifest
        files (RESOLVED, all statuses) — the entry-volume half of the
        maintenance keep sets. Executor-side above the distributed-
        planning threshold, tolerant driver fold below."""
        tasks = [(i, p) for i, p in enumerate(man_paths)]
        if est >= DISTRIBUTED_PLAN_MIN_ENTRIES and len(tasks) > 1:
            self.last_plan_mode = "distributed"
            sc = self.spark.sparkContext
            slices = max(1, min(len(tasks), sc.defaultParallelism * 2))
            raw = (
                sc.parallelize(tasks, slices)
                .mapPartitions(
                    lambda it: _manifest_paths_partition(list(it))
                )
                .collect()
            )
        else:
            self.last_plan_mode = "driver"
            raw = _manifest_paths_partition(tasks)
        return {
            self._resolve_path(p) for _mi, paths in raw for p in paths
        }

    def _manifest_files(self, snap: dict) -> list[dict]:
        """The snapshot's manifest_file records — from the Avro
        manifest list (v2 / modern v1), or synthesized from the legacy
        v1 inline ``manifests`` path list."""
        if snap.get("manifest-list"):
            ml_path = self._resolve_path(snap["manifest-list"])
            _, manifests = read_container(ml_path)
            return manifests
        # pre-manifest-list v1 snapshots embed manifest paths directly
        return [
            {"manifest_path": p, "content": 0, "sequence_number": 0}
            for p in (snap.get("manifests") or [])
        ]

    def _dv_positions(self, df_: dict):
        """Deleted row positions (sorted uint64) of one v3
        deletion-vector entry: its puffin blob read at the entry's
        offset (``content_size_in_bytes`` counts the frame), decoded,
        and checked against ``record_count``."""
        from featureform_spark.sources.dv_bitmap import (
            dv_positions,
            read_puffin_dv,
        )

        if not df_.get("referenced_data_file"):
            raise UnsupportedIcebergFeatureError(
                "puffin delete file without referenced_data_file"
            )
        return dv_positions(
            read_puffin_dv(
                self._resolve_path(df_["file_path"]),
                int(df_["content_offset"]),
                int(df_["content_size_in_bytes"]),
            ),
            df_.get("record_count"),
            IcebergProtocolError,
        )

    def _delete_positions(self, df_: dict) -> dict:
        """{data file: deleted positions (uint64)} of one position-
        delete entry, read on the driver: a v3 deletion vector or a
        (file_path, pos) parquet file."""
        import numpy as np
        import pyarrow.parquet as pq

        if _is_dv_file(df_):
            return {
                self._resolve_path(df_["referenced_data_file"]):
                self._dv_positions(df_)
            }
        dtbl = pq.read_table(
            self._resolve_path(df_["file_path"]), columns=["file_path", "pos"]
        )
        fp = dtbl.column("file_path").to_numpy(zero_copy_only=False)
        pos = dtbl.column("pos").to_numpy(zero_copy_only=False)
        return {
            self._resolve_path(str(p)): np.sort(pos[fp == p]).astype(np.uint64)
            for p in np.unique(fp)
        }

    def _eq_columns(self, md: dict, df_: dict) -> list[str]:
        """The columns an equality-delete file matches on (its
        ``equality_ids``, by the current schema)."""
        by_id = {f["id"]: f["name"] for f in self.schema(md)["fields"]}
        eq_ids = df_.get("equality_ids") or []
        if not eq_ids:
            raise UnsupportedIcebergFeatureError(
                "equality delete file without equality_ids"
            )
        try:
            return [by_id[int(i)] for i in eq_ids]
        except KeyError as exc:
            raise UnsupportedIcebergFeatureError(
                f"equality delete on unknown field id {exc}"
            ) from None

    def _eq_match(self, md: dict, df: DataFrame, e: dict) -> tuple:
        """(key rows, join condition) of one equality-delete entry
        against ``df``: null values match, as the spec requires."""
        cols = self._eq_columns(md, e["data_file"])
        drows = self.spark.read.parquet(
            self._resolve_path(e["data_file"]["file_path"])
        ).select(*[F.col(c).alias(f"__d_{c}") for c in cols])
        cond = F.lit(True)
        for c in cols:
            cond = cond & df[c].eqNullSafe(drows[f"__d_{c}"])
        return drows, cond

    def _identity_patch(
        self, md: dict, data_entries: list[dict]
    ) -> tuple[list[tuple], list[str]] | None:
        """(attach_rows, column_names) for identity-partition columns
        whose values may live only in the manifest ``partition`` tuple,
        not the data files — UniForm mirrors of Hive-partitioned Delta
        tables and migrated Hive tables. Per spec, readers source
        identity partition values from metadata when the column is
        absent from a file. None when the spec has no identity fields
        or no entry carries a value (the common all-columns-in-file
        case pays nothing). Activated by table property — the v2 spec
        requires native writers to put partition source columns IN the
        data files, so only metadata-mirror tables (UniForm,
        ``delta.uniform.delta-version``) or tables explicitly marked
        ``featureform.partition-values-from-metadata=true`` (e.g.
        migrated Hive imports) pay the broadcast reattach join."""
        import datetime

        props = md.get("properties") or {}
        if (
            props.get("featureform.partition-values-from-metadata")
            != "true"
            and "delta.uniform.delta-version" not in props
        ):
            return None
        spec = self.partition_spec(md)
        by_id = {
            f["id"]: (f["name"], f["type"])
            for f in self.schema(md)["fields"]
        }
        names = [
            (pf["name"], *by_id[pf["source-id"]])
            for pf in spec
            if pf.get("transform", "identity") == "identity"
            and pf.get("source-id") in by_id
        ]
        if not names:
            return None

        def _as_cast_str(v, ice_type):
            # storage domain -> a string Spark can cast to the column
            # type (dates ride as epoch days, timestamps as micros)
            if v is None:
                return None
            if ice_type == "date":
                return (
                    datetime.date(1970, 1, 1)
                    + datetime.timedelta(days=int(v))
                ).isoformat()
            if isinstance(ice_type, str) and ice_type.startswith(
                "timestamp"
            ):
                return (
                    datetime.datetime(1970, 1, 1)
                    + datetime.timedelta(microseconds=int(v))
                ).strftime("%Y-%m-%d %H:%M:%S.%f")
            return str(v)

        rows: list[tuple] = []
        any_val = False
        for e in data_entries:
            part = e["data_file"].get("partition") or {}
            vals = [
                _as_cast_str(part.get(pn), t) for pn, _c, t in names
            ]
            if any(v is not None for v in vals):
                any_val = True
            rows.append(
                (
                    self._resolve_path(e["data_file"]["file_path"]),
                    *vals,
                )
            )
        if not any_val:
            return None
        return rows, [c for _pn, c, _t in names]

    def _apply_identity_patch(
        self, df: DataFrame, patch: tuple[list[tuple], list[str]],
        schema: T.StructType,
    ) -> DataFrame:
        """Coalesce identity-partition columns with manifest partition
        values: one broadcast (file-count scale) join on the scan's
        ``__fp`` file path. A non-null stored value always wins — by
        identity partitioning it necessarily equals the tuple value."""
        rows, cols = patch
        attach_schema = "__pf string" + "".join(
            f", __pv_{i} string" for i in range(len(cols))
        )
        adf = local_df(self.spark, rows, attach_schema)
        types = {f.name: f.dataType for f in schema.fields}
        df = df.join(
            F.broadcast(adf), df["__fp"] == adf["__pf"], "left"
        ).drop("__pf")
        for i, c in enumerate(cols):
            df = df.withColumn(
                c,
                F.coalesce(F.col(c), F.col(f"__pv_{i}").cast(types[c])),
            ).drop(f"__pv_{i}")
        return df

    @staticmethod
    def _footer_column_names(path: str) -> set[str] | None:
        """Top-level column names in a parquet footer; None when the
        footer is unparseable (e.g. VARIANT logical types crash
        pyarrow) — callers must then treat every column as present,
        degrading a default to NULL rather than corrupting data."""
        try:
            import pyarrow.parquet as pq

            return {n.split(".")[0] for n in pq.read_schema(path).names}
        except Exception:
            return None

    def _defaults_patch(
        self, schema: T.StructType, data_entries: list[dict]
    ) -> tuple[list[tuple], list[tuple]] | None:
        """Per-file ``initial-default`` resolution (v3 spec §Default
        values): a defaulted field reads its default from every data
        file that does NOT contain the field, and the file's actual
        values (including real NULLs) everywhere else. Presence is
        decided from the manifest's field-id-keyed ``value_counts``
        (zero I/O) with a parquet-footer probe as the fallback for
        stats-less external files. None when no field carries a
        default or every file contains every defaulted field — the
        overwhelmingly common case pays nothing."""
        dcols = [
            (
                f.name,
                f.dataType,
                (f.metadata or {}).get("iceberg.initial-default"),
                (f.metadata or {}).get("iceberg.field-id"),
            )
            for f in schema.fields
            if "iceberg.initial-default" in (f.metadata or {})
        ]
        if not dcols:
            return None
        rows: list[tuple] = []
        any_missing = False
        for e in data_entries:
            dfile = e["data_file"]
            path = self._resolve_path(dfile["file_path"])
            vcs = dfile.get("value_counts")
            if isinstance(vcs, dict):
                present_ids: set[int] | None = {int(k) for k in vcs}
            elif vcs:
                present_ids = {int(kv["key"]) for kv in vcs}
            else:
                present_ids = None
            footer_names: set[str] | None = None
            probed = False
            flags = []
            for name, _dt, _jv, fid in dcols:
                if present_ids is not None:
                    has = int(fid) in present_ids
                else:
                    if not probed:
                        footer_names = self._footer_column_names(path)
                        probed = True
                    has = footer_names is None or name in footer_names
                flags.append(has)
                any_missing = any_missing or not has
            rows.append((path, *flags))
        if not any_missing:
            return None
        return rows, dcols

    def _apply_defaults_patch(
        self, df: DataFrame, dflt: tuple[list[tuple], list[tuple]]
    ) -> DataFrame:
        """Serve initial-defaults: one broadcast (file-count scale)
        join on the scan's ``__fp`` file path flips each defaulted
        column to its literal for exactly the files that lack it."""
        rows, dcols = dflt
        attach_schema = "__dfp string" + "".join(
            f", __dhas_{i} boolean" for i in range(len(dcols))
        )
        adf = local_df(self.spark, rows, attach_schema)
        df = df.join(
            F.broadcast(adf), df["__fp"] == adf["__dfp"], "left"
        ).drop("__dfp")
        for i, (name, dt, jv, _fid) in enumerate(dcols):
            df = df.withColumn(
                name,
                F.when(
                    F.coalesce(F.col(f"__dhas_{i}"), F.lit(True)),
                    F.col(name),
                ).otherwise(F.lit(jv).cast(dt)),
            ).drop(f"__dhas_{i}")
        return df

    def _nm_resolution(
        self, md: dict, data_entries: list[dict]
    ) -> list[tuple[str, str]] | None:
        """(physical, logical) column renames from
        ``schema.name-mapping.default`` when the data files store
        columns under alternate names (spec §Column Projection: files
        without Iceberg field ids resolve through the name mapping) —
        e.g. a UniForm mirror of a column-mapped Delta table. None in
        the native case: the one sample-footer read happens only when a
        mapping with alternate names exists."""
        import pyarrow.parquet as pq

        props = md.get("properties") or {}
        nm = props.get("schema.name-mapping.default")
        if not nm or not data_entries:
            return None
        try:
            mapping = json.loads(nm)
        except ValueError:
            return None
        if not any(len(e.get("names") or []) > 1 for e in mapping):
            return None  # identity mapping only — nothing to resolve
        sample = self._resolve_path(
            data_entries[0]["data_file"]["file_path"]
        )
        file_cols = set(pq.read_schema(sample).names)
        by_id = {f["id"]: f["name"] for f in self.schema(md)["fields"]}
        out: list[tuple[str, str]] = []
        changed = False
        for e in mapping:
            logical = by_id.get(e.get("field-id"))
            if logical is None:
                continue
            if logical in file_cols:
                out.append((logical, logical))
                continue
            phys = next(
                (n for n in e.get("names") or [] if n in file_cols), None
            )
            if phys is not None:
                out.append((phys, logical))
                changed = True
        return out if changed else None

    @staticmethod
    def _nm_read_plan(
        schema: T.StructType, nm: list[tuple[str, str]] | None
    ) -> tuple[T.StructType, list]:
        """(physical read schema, aliased select list) for a scan that
        must rename file columns back to logical names."""
        if nm is None:
            return schema, [f.name for f in schema.fields]
        phys_by_logical = {lo: ph for ph, lo in nm}
        read_schema = T.StructType(
            [
                T.StructField(
                    phys_by_logical.get(f.name, f.name), f.dataType
                )
                for f in schema.fields
            ]
        )
        sel = [
            F.col(phys_by_logical.get(f.name, f.name)).alias(f.name)
            for f in schema.fields
        ]
        return read_schema, sel

    @staticmethod
    def _strip_scheme(col):
        # `_metadata.file_path` yields file:/abs/... while manifests
        # record plain absolute paths — normalize both join sides
        return F.regexp_replace(col, "^file:/+", "/")

    def _position_frame(self, delete_entries: list[dict]) -> DataFrame | None:
        """The (data file, position) frame of every position delete in
        ``delete_entries``: columns ``path``, ``pos``, ``del_seq`` (the
        delete's sequence number) and ``delete_file`` (the file that
        carries it), one row per deleted position. Parquet position
        deletes read as ordinary distributed scans; v3 deletion vectors
        — the SAME framed roaring-portable blobs this repo codecs for
        Delta (dv_bitmap), Iceberg v3 adopted Delta's layout — decode on
        the driver, cardinality-scale. None when no entry is a
        position delete."""
        import pandas as pd

        parts: list[DataFrame] = []
        dvs: list[pd.DataFrame] = []
        for e in delete_entries:
            df_ = e["data_file"]
            if int(df_.get("content", 0)) != 1:
                continue
            seq = int(e.get("sequence_number") or 0)
            own = self._resolve_path(df_["file_path"])
            if _is_dv_file(df_):
                dvs.append(
                    pd.DataFrame(
                        {
                            "path": self._resolve_path(
                                df_["referenced_data_file"]
                            ),
                            "pos": self._dv_positions(df_).astype("int64"),
                            "del_seq": seq,
                            "delete_file": own,
                        }
                    )
                )
            else:
                parts.append(
                    self.spark.read.parquet(own).select(
                        self._strip_scheme(F.col("file_path")).alias("path"),
                        F.col("pos").cast("long").alias("pos"),
                        F.lit(seq).cast("long").alias("del_seq"),
                        F.lit(own).alias("delete_file"),
                    )
                )
        if dvs:
            parts.append(
                self.spark.createDataFrame(
                    pd.concat(dvs, ignore_index=True),
                    "path string, pos long, del_seq long, delete_file string",
                )
            )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _scan(
        self,
        md: dict,
        schema: T.StructType,
        data_entries: list[dict],
        delete_entries: list[dict],
        keep_pos: bool = False,
    ) -> DataFrame:
        """The one Spark scan of a set of data files: every reader of
        table rows — snapshots, planned scans, DELETE matching, the
        changelog — goes through it, so deletes, defaults and partition
        values mean the same thing to each.

        The data files are ONE native parquet scan carrying the file
        path (``__fp``) and, when a position delete applies or
        ``keep_pos`` asks for it, Spark's ``_metadata.row_index``
        (``__pos``, the position before any delete). On top of it, in
        order: name-mapping renames, identity-partition values from the
        manifests, ``initial-default`` values for files that lack a
        field, then the deletes, sequence-scoped per spec §Scan
        Planning — a POSITION delete (parquet or v3 DV) applies to data
        files with data_seq <= delete_seq, an EQUALITY delete to
        strictly earlier files (data_seq < delete_seq) on its
        ``equality_ids`` columns with null-safe equality. The (path,
        seq) map and the delete sets are broadcast side inputs (file-
        and delete-scale). With nothing to apply and no positions
        asked for, the plan is the bare parquet scan."""
        cols = [f.name for f in schema.fields]
        if not data_entries:
            pos_fields = [
                T.StructField("__fp", T.StringType()),
                T.StructField("__pos", T.LongType()),
            ]
            return self.spark.createDataFrame(
                [],
                T.StructType(schema.fields + (pos_fields if keep_pos else [])),
            )
        paths = sorted(
            self._resolve_path(e["data_file"]["file_path"])
            for e in data_entries
        )
        positions = self._position_frame(delete_entries)
        eq_entries = [
            e
            for e in delete_entries
            if int(e["data_file"].get("content", 0)) == 2
        ]
        nm = self._nm_resolution(md, data_entries)
        patch = self._identity_patch(md, data_entries)
        dflt = self._defaults_patch(schema, data_entries)
        read_schema, sel = self._nm_read_plan(schema, nm)
        files = self.spark.read.schema(read_schema).parquet(*paths)
        if not (
            keep_pos or positions is not None or eq_entries
            or nm or patch or dflt
        ):
            return files.select(*sel)
        meta = [self._strip_scheme(F.col("_metadata.file_path")).alias("__fp")]
        if keep_pos or positions is not None:
            meta.append(F.col("_metadata.row_index").alias("__pos"))
        df = files.select(*sel, *meta)
        if patch is not None:
            # reattach BEFORE equality-delete matching: a delete keyed
            # on a partition column must see the manifest value
            df = self._apply_identity_patch(df, patch, schema)
        if dflt is not None:
            # defaults resolve BEFORE delete matching too: a delete
            # keyed on a defaulted column must see the default
            df = self._apply_defaults_patch(df, dflt)
        if positions is not None or eq_entries:
            seq_df = local_df(
                self.spark,
                [
                    (
                        self._resolve_path(e["data_file"]["file_path"]),
                        int(e.get("sequence_number") or 0),
                    )
                    for e in data_entries
                ],
                # reserved names: a table column may be called path
                "__fp string, __dseq long",
            )
        if positions is not None:
            applicable = (
                positions.join(
                    F.broadcast(seq_df), positions["path"] == seq_df["__fp"]
                )
                .filter(F.col("del_seq") >= F.col("__dseq"))
                .select("__fp", F.col("pos").alias("__pos"))
            )
            df = df.join(
                F.broadcast(applicable), ["__fp", "__pos"], "left_anti"
            )
        if eq_entries:
            df = df.join(F.broadcast(seq_df), "__fp")
            for e in eq_entries:
                drows, cond = self._eq_match(md, df, e)
                cond = cond & (
                    df["__dseq"] < F.lit(int(e.get("sequence_number") or 0))
                )
                df = df.join(F.broadcast(drows), cond, "left_anti")
        if keep_pos:
            return df.select(*cols, "__fp", "__pos")
        return df.select(*cols)

    def snapshot(
        self, snapshot_id: int | None = None, ordinal: int | None = None
    ) -> DataFrame:
        """The table at a snapshot (latest if None) as one native
        parquet scan. Identity-partition source columns normally live
        in the data files per spec; when a file omits one (UniForm
        mirror of a Hive-partitioned Delta table), the value is
        reattached from the manifest partition tuple via a broadcast
        file-path join. Position AND equality deletes (v2
        merge-on-read) are applied, sequence-scoped per spec."""
        md = self.metadata()
        snap = self._snapshot_by(snapshot_id, ordinal, md)
        schema = self.spark_schema(md)
        if snap is None:
            return self.spark.createDataFrame([], schema)
        data_entries, delete_entries = self._live_entries(snap)
        return self._scan(md, schema, data_entries, delete_entries)

    def append_arrow(
        self, data, txn: tuple[str, int] | None = None
    ) -> int:
        """Blind append of a pyarrow Table or RecordBatchReader WITHOUT
        a Spark session — the Flight ``do_put`` ingest primitive
        (mirrors delta_protocol.append_arrow): batches stream into one
        data file through ``staged_write.write_arrow`` and commit as a
        blind write of :meth:`_commit`, which refolds and retries
        through the metadata O_EXCL race. Partitioned tables gate (row
        routing needs the engine).

        ``txn=(app_id, version)`` gives exactly-once replay semantics
        through the same snapshot-summary watermark
        (``ffspark.txn.<app>``) the upsert paths use — re-checked on
        every commit attempt, so a replayed Flight upload cannot
        double-commit even against a concurrent replica."""
        md = self.metadata()
        if txn is not None and int(txn[1]) <= self.txn_watermark(
            txn[0], md
        ):
            return -1
        record = self._arrow_data_file(md, data, "append_arrow")
        if record is None:
            return -1  # empty upload
        return self._commit(
            "append_arrow", "append", md, [record],
            staged=[record["file_path"]], txn=txn,
        )

    def _arrow_data_file(self, md: dict, data, op: str, check=None):
        """Write an Arrow upload as one unpartitioned data file of the
        table at ``md`` and return its data_file record (None for an
        empty upload). Columns with a write-default may be omitted by
        the uploader: the writer duty is to materialize them (spec
        §Default values)."""
        import pyarrow as pa

        if self.partition_spec(md):
            raise UnsupportedIcebergFeatureError(
                f"{op}: partitioned tables need the Spark write path "
                "(partition routing)"
            )
        fields = self.schema(md)["fields"]
        want = [f["name"] for f in fields]
        in_names = list(data.schema.names)
        fill = {
            f["name"]: pa.scalar(
                default_value_from_json(f["type"], f["write-default"]),
                _ice_primitive_to_arrow(f["type"]),
            )
            for f in fields
            if f["name"] not in in_names and "write-default" in f
        }
        if set(in_names) | set(fill) != set(want):
            raise IcebergProtocolError(
                f"{op} schema mismatch: got {in_names}, expected {want}"
            )
        rec = write_arrow(
            data,
            os.path.join(
                self.path, DATA_DIR, f"{uuid.uuid4().hex}-arrow.parquet"
            ),
            want,
            fill,
            check,
        )
        if rec is None:
            return None
        return data_file_record(rec, {f["name"]: f for f in fields}, {})

    def add_files(self, source_dir: str) -> int:
        """Iceberg's ``add_files`` procedure: metadata-only import of
        an existing parquet directory into THIS table — each file
        becomes a manifest entry with footer-derived stats (record
        count, value/null counts, bounds keyed by field-id) in one new
        'append' snapshot. Zero data bytes move or rewrite: the
        manifest references the files in place by absolute path, so
        the conversion is O(files) footer reads — the migration front
        door for warehouses with existing parquet data.

        Unpartitioned identity import only (hive-partitioned imports
        need partition-tuple synthesis AND the
        ``featureform.partition-values-from-metadata`` read property —
        create the table partitioned and import per-partition
        directories if needed). Re-importing a file already referenced
        by the current snapshot raises, like the reference procedure's
        duplicate check."""
        md, pinned = self._pinned_metadata()
        if self.partition_spec(md):
            raise UnsupportedIcebergFeatureError(
                "add_files into a partitioned table is not supported "
                "(partition tuples cannot be derived from flat files)"
            )
        root = os.path.abspath(source_dir)
        if not os.path.isdir(root):
            raise IcebergProtocolError(f"not a directory: {source_dir}")
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
            raise IcebergProtocolError(
                f"no parquet files under {source_dir}"
            )
        ice_schema = self.schema(md)
        name_to_field = {f["name"]: f for f in ice_schema["fields"]}
        snap = self.current_snapshot(md)
        already = set()
        if snap is not None:
            data_entries, _ = self._live_entries(snap)
            already = {
                self._resolve_path(e["data_file"]["file_path"])
                for e in data_entries
            }
        dup = sorted(set(files) & already)
        if dup:
            raise IcebergProtocolError(
                f"add_files: {len(dup)} file(s) already referenced by "
                f"the current snapshot (first: {dup[0]})"
            )
        records = [
            data_file_record(fold_footer(fpath), name_to_field, {})
            for fpath in files
        ]
        # the files stay the caller's: nothing is staged to remove
        return self._commit("add_files", "append", md, records, pinned=pinned)

    def metadata_table(self, kind: str) -> DataFrame:
        """Inspection tables (Iceberg's ``SELECT * FROM tbl.<kind>``
        SQL surface): ``snapshots``, ``files``, ``delete_files``,
        ``manifests``, ``history``, ``refs``, ``partitions``,
        ``entries``, ``all_data_files``, ``all_manifests``,
        ``statistics`` — metadata-scale local relations built from the
        table's own metadata/manifests, no data-file reads."""
        md = self.metadata()
        if kind == "snapshots":
            rows = [
                (
                    int(s["snapshot-id"]),
                    s.get("parent-snapshot-id"),
                    int(s.get("sequence-number") or 0),
                    int(s["timestamp-ms"]),
                    (s.get("summary") or {}).get("operation", "append"),
                    s["manifest-list"],
                )
                for s in self.snapshots(md)
            ]
            return local_df(
                self.spark,
                rows,
                "snapshot_id long, parent_id long, sequence_number long,"
                " committed_at_ms long, operation string,"
                " manifest_list string",
            )
        if kind == "history":
            rows = [
                (int(h["timestamp-ms"]), int(h["snapshot-id"]))
                for h in (md.get("snapshot-log") or [])
            ]
            return local_df(
                self.spark, rows,
                "made_current_at_ms long, snapshot_id long"
            )
        if kind == "refs":
            rows = [
                (name_, r.get("type", "branch"), int(r["snapshot-id"]))
                for name_, r in sorted((md.get("refs") or {}).items())
            ]
            return local_df(
                self.spark, rows,
                "name string, type string, snapshot_id long"
            )
        snap = self._snapshot_by(None, md=md)
        if kind == "manifests":
            manifests = self._manifest_files(snap) if snap else []
            rows = [
                (
                    m["manifest_path"],
                    int(m.get("manifest_length") or 0),
                    int(m.get("partition_spec_id") or 0),
                    int(m.get("content") or 0),
                    int(m.get("added_files_count") or 0),
                    int(m.get("existing_files_count") or 0),
                    int(m.get("deleted_files_count") or 0),
                )
                for m in manifests
            ]
            return local_df(
                self.spark,
                rows,
                "path string, length long, partition_spec_id int,"
                " content int, added_data_files_count int,"
                " existing_data_files_count int,"
                " deleted_data_files_count int",
            )
        if kind in ("files", "delete_files"):
            data_entries, delete_entries = (
                self._live_entries(snap) if snap else ([], [])
            )
            entries = (
                data_entries if kind == "files" else delete_entries
            )
            rows = [
                (
                    int(e["data_file"].get("content") or 0),
                    self._resolve_path(e["data_file"]["file_path"]),
                    str(e["data_file"].get("file_format", "PARQUET")),
                    int(e["data_file"].get("record_count") or 0),
                    int(e["data_file"].get("file_size_in_bytes") or 0),
                    int(e.get("sequence_number") or 0),
                    json.dumps(
                        e["data_file"].get("partition") or {},
                        default=str,
                    ),
                )
                for e in entries
            ]
            return local_df(
                self.spark,
                rows,
                "content int, file_path string, file_format string,"
                " record_count long, file_size_in_bytes long,"
                " sequence_number long, partition string",
            )
        if kind == "partitions":
            # Iceberg's `SELECT * FROM t.partitions` — the same fold
            # compute_partition_statistics persists, served live (one
            # JSON row per unified partition tuple, no files written)
            fields = self._unified_partition_fields(md)
            if snap is None or not fields:
                return local_df(
                    self.spark,
                    [],
                    "partition string, spec_id int, record_count long,"
                    " file_count int, total_size_bytes long,"
                    " position_delete_record_count long,"
                    " equality_delete_record_count long",
                )
            data_entries, delete_entries = self._live_entries(snap)
            agg: dict[tuple, list] = {}

            def _slot(e):
                df_ = e["data_file"]
                part = df_.get("partition") or {}
                key = (
                    int(df_.get("spec_id") or e.get("spec_id") or 0),
                    json.dumps(
                        {n: part.get(n) for n in fields}, sort_keys=True
                    ),
                )
                return agg.setdefault(key, [0, 0, 0, 0, 0])

            for e in data_entries:
                df_ = e["data_file"]
                s = _slot(e)
                s[0] += int(df_.get("record_count") or 0)
                s[1] += 1
                s[2] += int(df_.get("file_size_in_bytes") or 0)
            for e in delete_entries:
                df_ = e["data_file"]
                s = _slot(e)
                idx = 3 if int(df_.get("content", 1)) == 1 else 4
                s[idx] += int(df_.get("record_count") or 0)
            rows = [
                (pj, sid, s[0], s[1], s[2], s[3], s[4])
                for (sid, pj), s in sorted(
                    agg.items(), key=lambda kv: (kv[0][0], kv[0][1])
                )
            ]
            return local_df(
                self.spark,
                rows,
                "partition string, spec_id int, record_count long,"
                " file_count int, total_size_bytes long,"
                " position_delete_record_count long,"
                " equality_delete_record_count long",
            )
        if kind == "entries":
            # manifest-entry level (Iceberg's `t.entries`): one row per
            # live-or-deleted entry with its status — the audit view
            # compactions and debuggers read
            rows = []
            if snap is not None:
                for m in self._manifest_files(snap):
                    man_path = self._resolve_path(m["manifest_path"])
                    _, recs = read_container(man_path)
                    man_seq = m.get("sequence_number")
                    for e in recs:
                        df_ = e["data_file"]
                        seq = e.get("sequence_number")
                        if seq is None and man_seq is not None:
                            seq = man_seq
                        rows.append(
                            (
                                int(e.get("status", 1)),
                                int(e.get("snapshot_id") or 0),
                                int(seq or 0),
                                int(df_.get("content") or 0),
                                self._resolve_path(df_["file_path"]),
                                int(df_.get("record_count") or 0),
                                int(df_.get("file_size_in_bytes") or 0),
                            )
                        )
            rows.sort(key=lambda r: (r[4], r[1]))
            return local_df(
                self.spark,
                rows,
                "status int, snapshot_id long, sequence_number long,"
                " content int, file_path string, record_count long,"
                " file_size_in_bytes long",
            )
        if kind in ("all_data_files", "all_manifests"):
            # across ALL reachable snapshots (Iceberg's `t.all_*`
            # tables), deduped by path — what maintenance jobs
            # (orphan-file sweeps, compaction planning) enumerate
            seen: dict[str, tuple] = {}
            for s in self.snapshots(md):
                if kind == "all_manifests":
                    for m in self._manifest_files(s):
                        p = self._resolve_path(m["manifest_path"])
                        seen.setdefault(
                            p,
                            (
                                p,
                                int(m.get("manifest_length") or 0),
                                int(m.get("partition_spec_id") or 0),
                                int(m.get("content") or 0),
                                int(s["snapshot-id"]),
                            ),
                        )
                else:
                    data_entries, _ = self._live_entries(s)
                    for e in data_entries:
                        df_ = e["data_file"]
                        p = self._resolve_path(df_["file_path"])
                        seen.setdefault(
                            p,
                            (
                                p,
                                int(df_.get("record_count") or 0),
                                int(df_.get("file_size_in_bytes") or 0),
                                int(e.get("snapshot_id") or 0),
                            ),
                        )
            rows = sorted(seen.values())
            if kind == "all_manifests":
                return local_df(
                    self.spark,
                    rows,
                    "path string, length long, partition_spec_id int,"
                    " content int, reference_snapshot_id long",
                )
            return local_df(
                self.spark,
                rows,
                "file_path string, record_count long,"
                " file_size_in_bytes long, snapshot_id long",
            )
        if kind == "position_deletes":
            return self.position_deletes()
        if kind == "statistics":
            names = {
                int(f["id"]): f["name"]
                for f in self.schema(md)["fields"]
            }
            rows = []
            for e in md.get("statistics") or []:
                for b in e.get("blob-metadata") or []:
                    fids = b.get("fields") or []
                    props = b.get("properties") or {}
                    resolved = [names.get(int(i)) for i in fids]
                    if len(resolved) == 1:
                        cname = resolved[0]
                    elif resolved and all(resolved):
                        cname = "(" + ",".join(resolved) + ")"
                    else:
                        cname = None
                    rows.append(
                        (
                            int(e["snapshot-id"]),
                            e["statistics-path"],
                            int(e.get("file-size-in-bytes") or 0),
                            b.get("type"),
                            cname,
                            int(props["ndv"]) if "ndv" in props else None,
                        )
                    )
            rows.sort(key=lambda r: (r[0], r[4] or ""))
            return local_df(
                self.spark,
                rows,
                "snapshot_id long, statistics_path string,"
                " file_size_in_bytes long, blob_type string,"
                " column_name string, ndv long",
            )
        raise IcebergProtocolError(
            f"unknown metadata table {kind!r} (snapshots, files, "
            "delete_files, manifests, history, refs, partitions, "
            "entries, all_data_files, all_manifests, statistics, "
            "position_deletes)"
        )

    def position_deletes(
        self, snapshot_id: int | None = None
    ) -> DataFrame:
        """Iceberg's ``t.position_deletes`` table: one row per deleted
        (data file, position) pair across the snapshot's live position
        deletes — parquet delete files AND v3 deletion vectors —
        with the delete file that carries each. Unlike the other
        inspection tables this one is DATA-scale: it is the same
        position frame the scan anti-joins (:meth:`_position_frame`).
        Both path columns hold plain absolute paths, so they join
        against ``metadata_table('files'/'delete_files')``."""
        md = self.metadata()
        snap = self._snapshot_by(snapshot_id, md=md)
        schema = (
            "file_path string, pos long, delete_file_path string"
        )
        if snap is None:
            return local_df(self.spark, [], schema)
        _, delete_entries = self._live_entries(snap)
        frame = self._position_frame(delete_entries)
        if frame is None:
            return local_df(self.spark, [], schema)
        return frame.select(
            F.col("path").alias("file_path"),
            "pos",
            F.col("delete_file").alias("delete_file_path"),
        )

    # ------------------------------------------------ partition stats

    def _unified_partition_fields(self, md: dict) -> list[str]:
        """Spec §Partition Statistics: the stats file's ``partition``
        struct is the UNIFIED partition tuple — the union of every
        spec's fields in field-id order, so rows written under any
        historical spec fit one schema (absent fields are null)."""
        seen: dict[int, str] = {}
        specs = md.get("partition-specs") or [
            {"spec-id": 0, "fields": md.get("partition-spec", [])}
        ]
        for s in specs:
            for f in s.get("fields", []):
                seen.setdefault(int(f["field-id"]), f["name"])
        return [seen[i] for i in sorted(seen)]

    def compute_partition_statistics(
        self, snapshot_id: int | None = None
    ) -> str:
        """Write the spec's Partition Statistics file for a snapshot
        (one row per (unified partition tuple, spec_id): data record/
        file counts, total bytes, position/equality delete record/file
        counts, last_updated snapshot) and register it under the table
        metadata's ``partition-statistics`` list — the planning input
        engines use to size partition-grained work without opening
        manifests. Metadata-scale: folds the snapshot's manifest
        entries on the driver, no data-file reads. Returns the stats
        file path."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        md, pinned = self._pinned_metadata()
        snap = self._snapshot_by(snapshot_id, md=md)
        if snap is None:
            raise IcebergProtocolError("table has no snapshot")
        fields = self._unified_partition_fields(md)
        if not fields:
            raise IcebergProtocolError(
                "unpartitioned table has no partition statistics — "
                "use metadata_table('files') / detail-level counts"
            )
        data_entries, delete_entries = self._live_entries(snap)
        agg: dict[tuple, dict] = {}

        def _slot(e: dict) -> dict:
            df_ = e["data_file"]
            part = df_.get("partition") or {}
            key = (
                int(df_.get("spec_id") or e.get("spec_id") or 0),
                tuple(part.get(n) for n in fields),
            )
            s = agg.setdefault(
                key,
                {
                    "data_record_count": 0,
                    "data_file_count": 0,
                    "total_data_file_size_in_bytes": 0,
                    "position_delete_record_count": 0,
                    "position_delete_file_count": 0,
                    "equality_delete_record_count": 0,
                    "equality_delete_file_count": 0,
                    "last_updated_snapshot_id": None,
                },
            )
            sid = e.get("snapshot_id")
            if sid is not None and (
                s["last_updated_snapshot_id"] is None
                or int(sid) > s["last_updated_snapshot_id"]
            ):
                s["last_updated_snapshot_id"] = int(sid)
            return s

        for e in data_entries:
            df_ = e["data_file"]
            s = _slot(e)
            s["data_record_count"] += int(df_.get("record_count") or 0)
            s["data_file_count"] += 1
            s["total_data_file_size_in_bytes"] += int(
                df_.get("file_size_in_bytes") or 0
            )
        for e in delete_entries:
            df_ = e["data_file"]
            s = _slot(e)
            kind = (
                "position" if int(df_.get("content", 1)) == 1
                else "equality"
            )
            s[f"{kind}_delete_record_count"] += int(
                df_.get("record_count") or 0
            )
            s[f"{kind}_delete_file_count"] += 1
        keys = sorted(agg, key=lambda k: (k[0], str(k[1])))

        def _typed(values: list) -> "pa.Array":
            arr = pa.array(values)
            if pa.types.is_null(arr.type):
                # a unified field no live file carries (old-spec files
                # after partition evolution): parquet can't store a
                # null-typed column Spark reads back — anchor as string
                arr = arr.cast(pa.string())
            return arr

        part_arr = pa.StructArray.from_arrays(
            [
                _typed([k[1][i] for k in keys])
                for i in range(len(fields))
            ],
            names=fields,
        )
        cols: dict[str, Any] = {"partition": part_arr}
        cols["spec_id"] = pa.array(
            [k[0] for k in keys], type=pa.int32()
        )
        for name, typ in (
            ("data_record_count", pa.int64()),
            ("data_file_count", pa.int32()),
            ("total_data_file_size_in_bytes", pa.int64()),
            ("position_delete_record_count", pa.int64()),
            ("position_delete_file_count", pa.int32()),
            ("equality_delete_record_count", pa.int64()),
            ("equality_delete_file_count", pa.int32()),
        ):
            cols[name] = pa.array([agg[k][name] for k in keys], type=typ)
        cols["last_updated_at"] = pa.array(
            [int(snap.get("timestamp-ms") or 0)] * len(keys),
            type=pa.int64(),
        )
        cols["last_updated_snapshot_id"] = pa.array(
            [agg[k]["last_updated_snapshot_id"] for k in keys],
            type=pa.int64(),
        )
        sid = int(snap["snapshot-id"])
        rel = os.path.join(
            "metadata", f"partition-stats-{sid}-{uuid.uuid4().hex}.parquet"
        )
        target = os.path.join(self.path, rel)
        pq.write_table(pa.table(cols), target)
        md = dict(md)
        md["partition-statistics"] = [
            e
            for e in (md.get("partition-statistics") or [])
            if int(e["snapshot-id"]) != sid
        ] + [
            {
                "snapshot-id": sid,
                "statistics-path": target,
                "file-size-in-bytes": os.path.getsize(target),
            }
        ]
        md["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata_cas(
            md, pinned, "compute_partition_statistics"
        )
        return target

    def partition_statistics(
        self, snapshot_id: int | None = None
    ) -> DataFrame:
        """Read the registered Partition Statistics file for a
        snapshot (current if None) as a DataFrame — raises when none
        was computed (spec: the files are optional, produced on
        demand)."""
        md = self.metadata()
        snap = self._snapshot_by(snapshot_id, md=md)
        if snap is None:
            raise IcebergProtocolError("table has no snapshot")
        sid = int(snap["snapshot-id"])
        entry = next(
            (
                e
                for e in (md.get("partition-statistics") or [])
                if int(e["snapshot-id"]) == sid
            ),
            None,
        )
        if entry is None:
            raise IcebergProtocolError(
                f"no partition statistics for snapshot {sid} — run "
                "compute_partition_statistics() first"
            )
        return self.spark.read.parquet(
            self._resolve_path(entry["statistics-path"])
        )

    # ------------------------------------------------ table statistics

    def analyze_table(
        self,
        columns: list[str] | None = None,
        lg_k: int = 12,
        snapshot_id: int | None = None,
    ) -> str:
        """ANALYZE TABLE: compute per-column NDV theta sketches for a
        snapshot (current if None), write them to a Puffin statistics
        file (blob type ``apache-datasketches-theta-v1``), and register
        it under the table metadata's ``statistics`` field — the
        spec surface engines (Trino ANALYZE, Spark's Iceberg CBO
        support) read for cardinality estimates. Replaces any prior
        statistics entry for the same snapshot, per the spec's
        one-file-per-snapshot rule.

        Distributed shape: ONE pass over the delete-applied snapshot;
        each partition emits a fixed-size serialized sketch per column
        (≤ 8·2^lg_k + 24 bytes) via ``mapInPandas`` — values dedupe
        partition-side (pandas ``unique``) before hashing, so hot
        low-cardinality columns hash each distinct once per partition,
        and only sketch bytes reach the driver fold. At 100 TB the
        driver collects (partitions × columns) sketches, never rows.
        Sketches are exact below 2^lg_k distinct values (theta 1.0);
        beyond that the blob property ``ndv`` carries the standard
        theta estimate. Returns the statistics file path."""
        from featureform_spark.sources.puffin_stats import (
            THETA_BLOB_TYPE,
            ThetaSketch,
            write_puffin,
        )

        md = self.metadata()
        snap = self._snapshot_by(snapshot_id, md=md)
        if snap is None:
            raise IcebergProtocolError("table has no snapshot to analyze")
        ice_schema = self.schema(md)
        field_ids = {
            f["name"]: int(f["id"])
            for f in ice_schema["fields"]
            if isinstance(f.get("type"), str)  # atomic top-level only
        }
        df = self.snapshot(snapshot_id=snapshot_id)
        # each entry is a column name OR a tuple of names (composite
        # key: one sketch over the value tuple — the multi-column join
        # cardinality planners need; spec blob metadata carries the
        # full field-id list)
        raw = list(columns) if columns else [
            c for c in df.columns if c in field_ids
        ]
        specs = [
            (c,) if isinstance(c, str) else tuple(c) for c in raw
        ]
        bad = sorted(
            {c for sp in specs for c in sp if c not in field_ids}
        )
        if bad:
            raise IcebergProtocolError(
                f"analyze_table: {bad} are not atomic top-level columns"
            )
        if not specs:
            raise IcebergProtocolError("analyze_table: no columns")
        _lg_k = int(lg_k)
        _cols = sorted({c for sp in specs for c in sp})
        _specs = [tuple(sp) for sp in specs]
        _keys = [
            sp[0] if len(sp) == 1 else "(" + ",".join(sp) + ")"
            for sp in _specs
        ]
        # Integral columns hash as decimal strings: Arrow→pandas turns
        # an int64 batch CONTAINING a null into float64 while null-free
        # batches stay int64, so the same value would hash under two
        # encodings (NDV inflation) and bigints beyond 2^53 would
        # collapse. A string cast in the projection is null-safe,
        # lossless, and identical across partitions.
        integral = {
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString() in
            ("tinyint", "smallint", "int", "bigint")
        }
        proj = [
            F.col(c).cast("string").alias(c) if c in integral
            else F.col(c)
            for c in _cols
        ]

        def _partials(batches):
            import pandas as _pd

            from featureform_spark.sources.puffin_stats import (
                ThetaSketch as _TS,
                composite_bytes as _cb,
            )

            sketches = {k: _TS(_lg_k) for k in _keys}
            for pdf in batches:
                for key, sp in zip(_keys, _specs):
                    sk = sketches[key]
                    if len(sp) == 1:
                        # partition-side dedup: hash each distinct
                        # value once per batch, not once per row
                        for v in pdf[sp[0]].dropna().unique():
                            sk.update(v)
                    else:
                        sub = pdf[list(sp)].dropna().drop_duplicates()
                        for tup in sub.itertuples(index=False):
                            b = _cb(tuple(tup))
                            if b is not None:
                                sk.update(b)
            yield _pd.DataFrame(
                {
                    "col": _keys,
                    "sk": [sketches[k].serialize() for k in _keys],
                }
            )

        partials = df.select(*proj).mapInPandas(
            _partials, "col string, sk binary"
        ).collect()
        merged = {k: ThetaSketch(_lg_k) for k in _keys}
        for r in partials:
            merged[r["col"]].union(
                ThetaSketch.deserialize(bytes(r["sk"]), lg_k=_lg_k)
            )
        sid = int(snap["snapshot-id"])
        seq = int(snap.get("sequence-number") or 0)
        blobs = []
        for key, sp in zip(_keys, _specs):
            sk = merged[key]
            blobs.append(
                {
                    "type": THETA_BLOB_TYPE,
                    "fields": [field_ids[c] for c in sp],
                    "snapshot-id": sid,
                    "sequence-number": seq,
                    "properties": {
                        "ndv": str(int(round(sk.estimate()))),
                        "value-encoding": (
                            "utf8-strings;int-decimal-string;"
                            "double-bits-le;str-temporal-decimal"
                        ),
                    },
                    "data": sk.serialize(),
                }
            )
        rel = os.path.join(
            "metadata", f"{sid}-{uuid.uuid4().hex}.stats"
        )
        target = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        blob_meta, footer_size = write_puffin(
            target,
            blobs,
            properties={"created-by": "featureform-spark analyze_table"},
        )
        entry = {
            "snapshot-id": sid,
            "statistics-path": target,
            "file-size-in-bytes": os.path.getsize(target),
            "file-footer-size-in-bytes": footer_size,
            "blob-metadata": blob_meta,
        }
        # Commit against FRESH metadata in a CAS retry loop: the sketch
        # job above can run long, and committing the stale md read
        # before it would silently drop any snapshot a concurrent
        # writer appended meanwhile (the hazard every other commit path
        # here guards with expect_version).
        for _ in range(20):
            # read + pin in one step: computing the commit version any
            # later than the fold would let a concurrent commit slip
            # through the CAS (TOCTOU)
            mfiles = self._metadata_files()
            cur_version, mname = mfiles[-1]
            cur = self.metadata(
                os.path.join(self.metadata_path, mname)
            )
            if not any(
                int(s["snapshot-id"]) == sid
                for s in (cur.get("snapshots") or [])
            ):
                os.remove(target)
                raise IcebergProtocolError(
                    f"snapshot {sid} expired while analyze_table ran — "
                    "statistics not committed"
                )
            new_md = dict(cur)
            replaced = [
                e
                for e in (cur.get("statistics") or [])
                if int(e["snapshot-id"]) == sid
            ]
            new_md["statistics"] = [
                e
                for e in (cur.get("statistics") or [])
                if int(e["snapshot-id"]) != sid
            ] + [entry]
            new_md["last-updated-ms"] = int(time.time() * 1000)
            try:
                self._commit_metadata(new_md, cur_version + 1)
            except FileExistsError:
                continue  # lost the race: refold onto the winner's md
            # the replaced entry's puffin file is unreachable once the
            # commit lands — remove it (best-effort: a lagging reader
            # of the OLD metadata version may still hold the path)
            for e in replaced:
                try:
                    os.remove(self._resolve_path(e["statistics-path"]))
                except OSError:
                    pass
            return target
        os.remove(target)
        raise IcebergProtocolError(
            "analyze_table lost the metadata commit race 20 times"
        )

    def _statistics_entry(
        self,
        snapshot_id: int | None = None,
        md: dict | None = None,
        allow_stale: bool = False,
    ) -> dict:
        md = md or self.metadata()
        snap = self._snapshot_by(snapshot_id, md=md)
        if snap is None:
            raise IcebergProtocolError("table has no snapshot")
        sid = int(snap["snapshot-id"])
        entry = next(
            (
                e
                for e in (md.get("statistics") or [])
                if int(e["snapshot-id"]) == sid
            ),
            None,
        )
        if entry is None and allow_stale and snapshot_id is None:
            # fall back to the most recently analyzed MAIN-ANCESTOR
            # snapshot: approximate NDVs beat no NDVs for planning, and
            # an ancestor's stats describe a strict prefix of today's
            # data (a rolled-back or branch snapshot's stats would not)
            by_sid = {
                int(e["snapshot-id"]): e
                for e in (md.get("statistics") or [])
            }
            cur = snap
            snaps_by_id = {
                int(s["snapshot-id"]): s for s in self.snapshots(md)
            }
            while cur is not None:
                psid = cur.get("parent-snapshot-id")
                if psid is None or int(psid) not in snaps_by_id:
                    break
                cur = snaps_by_id[int(psid)]
                if int(cur["snapshot-id"]) in by_sid:
                    return by_sid[int(cur["snapshot-id"])]
        if entry is None:
            raise IcebergProtocolError(
                f"no table statistics for snapshot {sid} — run "
                "analyze_table() first"
            )
        return entry

    def ndv_estimates(
        self,
        snapshot_id: int | None = None,
        allow_stale: bool = False,
    ) -> dict[str, int]:
        """Per-column NDV from the registered statistics file's blob
        metadata — zero file reads (the ``ndv`` property rides in the
        table metadata itself, exactly so planners can cost joins
        without touching storage). ``allow_stale`` falls back to the
        most recently analyzed main-ancestor snapshot when the current
        one has no stats (post-append planning: approximate NDVs beat
        none)."""
        md = self.metadata()
        entry = self._statistics_entry(
            snapshot_id, md=md, allow_stale=allow_stale
        )
        names = {
            int(f["id"]): f["name"]
            for f in self.schema(md)["fields"]
        }
        out: dict = {}
        for b in entry.get("blob-metadata") or []:
            props = b.get("properties") or {}
            fids = b.get("fields") or []
            if "ndv" not in props or not fids:
                continue
            resolved = [names.get(int(i)) for i in fids]
            if any(n is None for n in resolved):
                continue
            key = resolved[0] if len(resolved) == 1 else tuple(resolved)
            out[key] = int(props["ndv"])
        return out

    def ndv(self, column, snapshot_id: int | None = None) -> int:
        """``column``: a name, or a tuple of names for a composite-key
        sketch written by ``analyze_table(columns=[(a, b)])``."""
        key = tuple(column) if isinstance(column, (list, tuple)) else column
        est = self.ndv_estimates(snapshot_id)
        if key not in est:
            raise IcebergProtocolError(
                f"no NDV sketch for {key!r} — re-run "
                "analyze_table() including it"
            )
        return est[key]

    def read_statistics_sketches(
        self, snapshot_id: int | None = None
    ) -> dict[str, "Any"]:
        """Deserialize the statistics file's theta sketches (column →
        ThetaSketch) — the loss-free form, unionable across tables for
        cross-table NDV (e.g. join-output cardinality upper bounds)."""
        from featureform_spark.sources.puffin_stats import (
            THETA_BLOB_TYPE,
            ThetaSketch,
            read_puffin,
        )

        md = self.metadata()
        entry = self._statistics_entry(snapshot_id, md=md)
        names = {
            int(f["id"]): f["name"]
            for f in self.schema(md)["fields"]
        }
        _, blobs = read_puffin(
            self._resolve_path(entry["statistics-path"])
        )
        out: dict[str, ThetaSketch] = {}
        for m, data in blobs:
            if m.get("type") != THETA_BLOB_TYPE:
                continue
            fields = m.get("fields") or []
            if len(fields) == 1 and int(fields[0]) in names:
                out[names[int(fields[0])]] = ThetaSketch.deserialize(data)
        return out

    def create_ref(
        self,
        name: str,
        kind: str = "tag",
        snapshot_id: int | None = None,
        max_ref_age_ms: int | None = None,
        min_snapshots_to_keep: int | None = None,
        max_snapshot_age_ms: int | None = None,
    ) -> int:
        """Branching/tagging (spec §refs): record a named snapshot
        reference in metadata. ``kind``: 'tag' (immutable pointer) or
        'branch'. Defaults to the current snapshot. The optional spec
        retention fields drive :meth:`expire_snapshots`:
        ``max_ref_age_ms`` ages the REF itself out; the other two
        bound how much of a branch's ancestry expiration retains
        (tags pin only their head, so they take just the ref age)."""
        if kind not in ("tag", "branch"):
            raise IcebergProtocolError(f"ref kind {kind!r} invalid")
        if kind == "tag" and (
            min_snapshots_to_keep is not None
            or max_snapshot_age_ms is not None
        ):
            raise IcebergProtocolError(
                "snapshot retention fields apply to branches only "
                "(spec §refs)"
            )
        md, pinned = self._pinned_metadata()
        snap = self._snapshot_by(snapshot_id, md=md)
        if snap is None:
            raise IcebergProtocolError("no snapshot to reference")
        md = dict(md)
        refs = dict(md.get("refs") or {})
        refs[name] = {
            "snapshot-id": snap["snapshot-id"],
            "type": kind,
        }
        if max_ref_age_ms is not None:
            refs[name]["max-ref-age-ms"] = int(max_ref_age_ms)
        if min_snapshots_to_keep is not None:
            refs[name]["min-snapshots-to-keep"] = int(min_snapshots_to_keep)
        if max_snapshot_age_ms is not None:
            refs[name]["max-snapshot-age-ms"] = int(max_snapshot_age_ms)
        md["refs"] = refs
        md["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata_cas(md, pinned, "create_ref")
        return snap["snapshot-id"]

    def snapshot_ref(self, name: str) -> DataFrame:
        """Read a named tag/branch (VERSION AS OF 'name')."""
        md = self.metadata()
        refs = md.get("refs") or {}
        if name not in refs:
            raise IcebergProtocolError(f"unknown ref {name!r}")
        return self.snapshot(snapshot_id=refs[name]["snapshot-id"])

    def snapshot_with_row_ids(
        self, snapshot_id: int | None = None
    ) -> DataFrame:
        """v3 row lineage read: the table plus ``_row_id`` /
        ``_last_updated_sequence_number`` — per spec,
        ``coalesce(materialized column, first_row_id + position)`` and
        ``coalesce(materialized column, data sequence number)``. Files
        written before the v3 upgrade have neither and read NULL until
        rewritten. One broadcast per-file-metadata join over the
        ordinary delete-applying scan; stable across DV deletes and
        (via rewrite materialization) compactions — the Iceberg mirror
        of delta_protocol.snapshot_with_row_ids."""
        md = self.metadata()
        if (
            int(md.get("format-version", 1)) < 3
            or "next-row-id" not in md
        ):
            raise UnsupportedIcebergFeatureError(
                "row lineage requires format-version 3 "
                "(upgrade_format_version(3))"
            )
        snap = self._snapshot_by(snapshot_id, md=md)
        if snap is None:
            raise IcebergProtocolError("table has no snapshot")
        data_entries, deletes = self._live_entries(snap)
        if self._nm_resolution(md, data_entries) or self._identity_patch(
            md, data_entries
        ):
            raise UnsupportedIcebergFeatureError(
                "row-id reads on a metadata-mirror table (UniForm) — "
                "read row ids through the owning Delta side instead"
            )
        schema = self.spark_schema(md)
        ext = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_row_id", T.LongType()),
                T.StructField(
                    "_last_updated_sequence_number", T.LongType()
                ),
            ]
        )
        if not data_entries:
            return self.spark.createDataFrame([], ext)
        base = self._scan(md, ext, data_entries, deletes, keep_pos=True)
        inh = self._inherited_first_row_ids(snap)
        info = local_df(
            self.spark,
            [
                (
                    self._resolve_path(e["data_file"]["file_path"]),
                    inh.get(e["data_file"]["file_path"]),
                    int(e.get("sequence_number") or 0),
                )
                for e in data_entries
            ],
            "__fp string, __rl_first long, __rl_seq long",
        )
        return base.join(F.broadcast(info), "__fp", "left").select(
            *[f.name for f in schema.fields],
            F.coalesce(
                F.col("_row_id"), F.col("__rl_first") + F.col("__pos")
            ).alias("_row_id"),
            F.coalesce(
                F.col("_last_updated_sequence_number"), F.col("__rl_seq")
            ).alias("_last_updated_sequence_number"),
        )

    def expire_snapshots(
        self, retain_last: int = 1, older_than_ms: int | None = None
    ) -> dict:
        """Snapshot expiration (the spec's maintenance action): keep
        the last ``retain_last`` snapshots, drop the rest from metadata
        and delete files (data, delete, manifest, manifest-list) that
        only those expired snapshots reference. Time travel below the
        horizon stops working. ``older_than_ms`` (absolute epoch
        millis, Iceberg's expireOlderThan): snapshots at or after the
        cutoff ALSO survive — only history older than the cutoff is
        eligible. Returns {"expired", "files_deleted", "removed_refs"}.

        Ref-level retention (spec §Refs): a non-main ref carrying
        ``max-ref-age-ms`` is REMOVED first when its snapshot is older
        than that age — expired tags stop pinning history, exactly
        Iceberg's expire-refs-then-snapshots order. A kept branch
        carrying ``min-snapshots-to-keep`` / ``max-snapshot-age-ms``
        retains only that many / that young of its ancestors instead
        of its whole ancestry chain (refs without the fields keep the
        conservative full-chain behavior — nothing a ref can still
        reach is ever deleted). ``main`` never ref-expires."""
        md, pinned = self._pinned_metadata()
        snaps = self.snapshots(md)
        if len(snaps) <= retain_last:
            return {"expired": 0, "files_deleted": 0, "removed_refs": []}
        now_ms = int(time.time() * 1000)
        by_ref_id = {int(s["snapshot-id"]): s for s in snaps}
        refs = dict(md.get("refs") or {})
        removed_refs: list[str] = []
        for name, r in list(refs.items()):
            if name == "main":
                continue
            max_age = r.get("max-ref-age-ms")
            head = by_ref_id.get(int(r["snapshot-id"]))
            if (
                max_age is not None
                and head is not None
                and now_ms - int(head.get("timestamp-ms") or 0)
                > int(max_age)
            ):
                removed_refs.append(name)
                del refs[name]
        # Snapshots pinned by SURVIVING tags/branches stay (real
        # Iceberg's ref retention): expiring them would leave dangling
        # refs whose snapshot_ref() reads fail on deleted files.
        ref_ids = {r["snapshot-id"] for r in refs.values()}
        # ``retain_last`` counts along the MAIN ancestry chain, not the
        # raw snapshots list: staged (WAP) snapshots are appended to the
        # list unreferenced, and counting them as "last" would expire
        # main's own head. Unreferenced staged snapshots always expire.
        by_id = {int(s["snapshot-id"]): s for s in snaps}
        main_chain: list[int] = []
        cur = md.get("current-snapshot-id")
        while cur is not None and int(cur) in by_id:
            main_chain.append(int(cur))
            cur = by_id[int(cur)].get("parent-snapshot-id")
        retained = set(main_chain[:retain_last])
        if older_than_ms is not None:
            retained |= {
                int(s["snapshot-id"])
                for s in snaps
                if int(s.get("timestamp-ms") or 0) >= older_than_ms
            }
        # a BRANCH ref needs its ancestry back to a retained snapshot:
        # fast_forward's is-ancestor walk (and branch time travel)
        # breaks if an intermediate branch commit is expired out of
        # md['snapshots']. Tags pin their head only. A branch carrying
        # spec retention fields keeps only min-snapshots-to-keep /
        # max-snapshot-age-ms of its ancestors (head always kept);
        # without them, the whole chain back to a retained snapshot
        # (the conservative default this engine has always used).
        for r in refs.values():
            if r.get("type") == "tag":
                continue
            min_keep = r.get("min-snapshots-to-keep")
            max_snap_age = r.get("max-snapshot-age-ms")
            bounded = min_keep is not None or max_snap_age is not None
            cur_id = int(r["snapshot-id"])
            n_kept = 0
            while cur_id in by_id:
                if not bounded and cur_id in retained:
                    break
                s = by_id[cur_id]
                if bounded and n_kept >= 1:
                    young = (
                        max_snap_age is not None
                        and now_ms - int(s.get("timestamp-ms") or 0)
                        <= int(max_snap_age)
                    )
                    under_min = (
                        min_keep is not None and n_kept < int(min_keep)
                    )
                    if not (young or under_min):
                        break
                retained.add(cur_id)
                n_kept += 1
                parent = s.get("parent-snapshot-id")
                if parent is None:
                    break
                cur_id = int(parent)
        keep_snaps = [
            s
            for s in snaps
            if s["snapshot-id"] in retained
            or s["snapshot-id"] in ref_ids
        ]
        keep_ids_set = {s["snapshot-id"] for s in keep_snaps}
        expired = [s for s in snaps if s["snapshot-id"] not in keep_ids_set]

        def _referenced(snapshots: list[dict]) -> set[str]:
            # manifest-list level stays driver-side (O(#manifests),
            # KBs); the O(#data files) entry decode goes through
            # _manifest_data_paths, which fans out executor-side above
            # the distributed-planning threshold
            refs: set[str] = set()
            man_paths: list[str] = []
            est = 0
            for s in snapshots:
                ml = self._resolve_path(s["manifest-list"])
                refs.add(ml)
                try:
                    _, manifests = read_container(ml)
                except Exception:
                    continue
                for m in manifests:
                    mp = self._resolve_path(m["manifest_path"])
                    if mp in refs:
                        continue  # shared across snapshots: decode once
                    refs.add(mp)
                    man_paths.append(mp)
                    est += (
                        int(m.get("added_files_count", m.get("added_data_files_count", 0)) or 0)
                        + int(m.get("existing_files_count", 0) or 0)
                        + int(m.get("deleted_files_count", 0) or 0)
                    )
            refs |= self._manifest_data_paths(man_paths, est)
            return refs

        keep_refs = _referenced(keep_snaps)
        dead_refs = _referenced(expired) - keep_refs
        # UniForm mirror: the DATA PLANE (parquet files, Delta DV
        # blobs) belongs to the Delta side — its log may still
        # reference files only old mirror snapshots point at, and
        # VACUUM is the authority that collects them. Expiring mirror
        # snapshots must only delete the mirror's OWN metadata
        # artifacts (manifests, manifest lists, conversion parquets).
        uniform = "delta.uniform.delta-version" in (
            md.get("properties") or {}
        )
        meta_prefix = self.metadata_path.rstrip(os.sep) + os.sep
        # Deletion happens AFTER the metadata commit (post-commit
        # cleanup, same pattern as analyze_table's puffin replacement):
        # deleting first would leave current metadata referencing
        # already-deleted files if the CAS loses the race or the
        # process dies — time travel and statistics reads would break
        # until a retried expire commits. Collect now, delete last.
        to_delete = [
            p
            for p in sorted(dead_refs)
            if not (uniform and not p.startswith(meta_prefix))
        ]
        keep_ids = {s["snapshot-id"] for s in keep_snaps}
        md = dict(md)
        # exactly-once txn watermarks ride snapshot summaries
        # (ffspark.txn.<app>); expiring the carrying snapshot must not
        # lower an app's watermark (a replayed foreachBatch would then
        # re-commit) — fold expired maxima into table properties, which
        # txn_watermark consults alongside the summaries
        folded: dict[str, int] = {}
        for s in expired:
            for k, v in (s.get("summary") or {}).items():
                if k.startswith("ffspark.txn."):
                    folded[k] = max(folded.get(k, -1), int(v))
        if folded:
            props = dict(md.get("properties") or {})
            for k, v in folded.items():
                props[k] = str(max(int(props.get(k, -1)), v))
            md["properties"] = props
        md["snapshots"] = keep_snaps
        md["snapshot-log"] = [
            e for e in (md.get("snapshot-log") or [])
            if e["snapshot-id"] in keep_ids
        ]
        if removed_refs:
            md["refs"] = refs  # age-expired refs leave metadata
        # statistics files (table-level puffin NDV sketches + partition
        # statistics parquets) belong to their snapshot: per spec they
        # may be removed once the snapshot expires, and keeping the
        # metadata entry would dangle
        for key in ("statistics", "partition-statistics"):
            entries = md.get(key) or []
            if not entries:
                continue
            kept_entries = []
            for e in entries:
                if int(e["snapshot-id"]) in keep_ids:
                    kept_entries.append(e)
                    continue
                to_delete.append(self._resolve_path(e["statistics-path"]))
            md[key] = kept_entries
        md["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata_cas(md, pinned, "expire_snapshots")
        # Post-commit cleanup: the trimmed metadata no longer reaches
        # these files, so deleting them cannot break any reader of the
        # committed state; a crash mid-loop only leaks orphans (which
        # remove_orphan_files collects), never dangles references.
        deleted = 0
        for p in to_delete:
            if os.path.exists(p):
                os.remove(p)
                deleted += 1
        return {
            "expired": len(expired),
            "files_deleted": deleted,
            "removed_refs": removed_refs,
        }

    def rewrite_manifests(self) -> int:
        """Manifest compaction (Iceberg's rewriteManifests maintenance
        action): every commit appends one manifest to the list, so a
        long-lived table folds N manifests per scan — at 100 TB the
        metadata fold itself becomes the planning bottleneck. This
        combines all default-spec DATA manifests into ONE manifest of
        status=0 (existing) entries that KEEP their original
        snapshot_id / sequence numbers (delete-file scoping and row
        lineage are untouched — no data file moves), and commits a
        'replace' snapshot whose list carries the combined manifest +
        the delete manifests verbatim. Returns the new snapshot id, or
        -1 when there is nothing to combine."""
        md, pinned = self._pinned_metadata()
        snap = self.current_snapshot(md)
        if snap is None:
            return -1
        manifests = self._manifest_files(snap)
        spec_id = md.get("default-spec-id", 0)
        combinable = [
            m for m in manifests
            if int(m.get("content", 0)) == 0
            and int(m.get("partition_spec_id", 0)) == spec_id
        ]
        passthrough = [m for m in manifests if m not in combinable]
        if len(combinable) <= 1:
            return -1
        # the rewrite breaks manifest-level first_row_id inheritance
        # (spec §Row Lineage), so inherited values must materialize
        # into the carried entries — a concept v3 tables alone have:
        # v2 tables skip this whole second decode pass
        v3_lineage = (
            int(md.get("format-version", 1)) >= 3
            and "next-row-id" in md
        )
        inh = self._inherited_first_row_ids(snap) if v3_lineage else {}
        est = sum(
            int(m.get("added_files_count", m.get("added_data_files_count", 0)) or 0)
            + int(m.get("existing_files_count", 0) or 0)
            for m in combinable
        )
        tasks = [
            (
                mi,
                self._resolve_path(m["manifest_path"]),
                int(m.get("sequence_number") or 0),
            )
            for mi, m in enumerate(combinable)
        ]
        if est >= DISTRIBUTED_PLAN_MIN_ENTRIES and len(tasks) > 1:
            # entry decode fans out executor-side (auto manifest-merge
            # runs this on long append chains — at 10^6 files the
            # sequential fold was minutes of driver time); the worker
            # already applies the status filter and fills null
            # sequence_number from the carrying manifest's
            self.last_plan_mode = "distributed"
            decoded = self._decode_manifests_distributed(
                tasks, with_index=True
            )
        else:
            self.last_plan_mode = "driver"

            def _driver_pairs():
                for mi, path, man_seq in tasks:
                    _, recs = read_container(path)
                    for e in recs:
                        if int(e.get("status", 1)) == 2:
                            continue  # deleted entries drop out
                        if e.get("sequence_number") is None:
                            e["sequence_number"] = man_seq
                        yield mi, e

            decoded = _driver_pairs()
        entries: list[dict] = []
        for mi, e in decoded:
            m = combinable[mi]
            if e["data_file"].get("first_row_id") is None:
                v = inh.get(e["data_file"]["file_path"])
                if v is not None:
                    e["data_file"] = dict(
                        e["data_file"], first_row_id=v
                    )
            entries.append(
                {
                    "status": 0,  # existing: lineage/seq preserved
                    "snapshot_id": e.get("snapshot_id"),
                    # inherited sequence numbers resolve from the
                    # carrying manifest before the rewrite breaks
                    # the inheritance chain (the decode already
                    # filled nulls from the carrying manifest)
                    "sequence_number": int(e["sequence_number"]),
                    "file_sequence_number": (
                        e.get("file_sequence_number")
                        if e.get("file_sequence_number") is not None
                        else int(m.get("sequence_number") or 0)
                    ),
                    "data_file": e["data_file"],
                }
            )
        seq = int(md.get("last-sequence-number", 0)) + 1
        snapshot_id = int(uuid.uuid4().int % (1 << 62))
        combined = self._write_manifest(
            entries, self.schema(md), self.partition_spec(md), spec_id,
            snapshot_id, seq,
        )
        if all(
            m.get("first_row_id") is not None for m in combinable
        ) and combinable:
            combined["first_row_id"] = min(
                int(m["first_row_id"]) for m in combinable
            )
        return self._advance_pinned(
            "rewrite_manifests",
            md, [combined] + passthrough, "replace", 0, 0,
            snapshot_id=snapshot_id,
            expect_version=pinned,
        )

    def remove_orphan_files(self, older_than_ms: int | None = None) -> dict:
        """Delete files under the table location that NO metadata
        version references (Iceberg's removeOrphanFiles): crashed
        writes, abandoned staging output. The keep set is every
        metadata JSON + every snapshot's manifest list, manifests,
        data/delete/puffin files across ALL metadata versions, plus
        the version hint. ``older_than_ms`` (epoch millis) spares
        younger files and DEFAULTS to now minus 3 days, real Iceberg's
        guard: a concurrent writer's output (staging, moved data
        files, manifest avros) looks orphaned until its metadata
        commit lands, and collecting it mid-commit corrupts that
        write. Returns {"deleted", "kept"}.

        UniForm mirror guard (same rule as expire_snapshots): when the
        table is a UniForm mirror (``delta.uniform.delta-version``
        property, or a ``_delta_log`` directory shares the table
        location), the directory is OWNED by the Delta table — its
        commit JSONs, ``_last_checkpoint``, checkpoint parquets,
        ``_change_data`` CDC files and deletion-vector blobs are
        invisible to the Iceberg keep set and would be destroyed by an
        unrestricted walk. On a mirror, only files under the mirror's
        own ``metadata/`` prefix are eligible for deletion; Delta
        VACUUM is the authority for everything else."""
        if older_than_ms is None:
            older_than_ms = int(
                (time.time() - 3 * 24 * 3600) * 1000
            )
        keep: set[str] = {
            os.path.join(self.metadata_path, name)
            for _v, name in self._metadata_files()
        }
        keep.add(os.path.join(self.metadata_path, VERSION_HINT))
        seen_md: set[str] = set()
        seen_ml: set[str] = set()
        man_paths: list[str] = []
        est = 0
        for _v, name in self._metadata_files():
            f = os.path.join(self.metadata_path, name)
            if f in seen_md:
                continue
            seen_md.add(f)
            try:
                md = self.metadata(f)
            except Exception:
                continue
            for s in self.snapshots(md):
                ml = s.get("manifest-list")
                if not ml:
                    continue
                ml = self._resolve_path(ml)
                keep.add(ml)
                if ml in seen_ml:
                    continue  # snapshots repeat across versions
                seen_ml.add(ml)
                try:
                    _, manifests = read_container(ml)
                except Exception:
                    continue
                for m in manifests:
                    mp = self._resolve_path(m["manifest_path"])
                    if mp in keep:
                        continue
                    keep.add(mp)
                    man_paths.append(mp)
                    est += (
                        int(m.get("added_files_count", m.get("added_data_files_count", 0)) or 0)
                        + int(m.get("existing_files_count", 0) or 0)
                        + int(m.get("deleted_files_count", 0) or 0)
                    )
        # O(#data files) entry decode: executor-side above the
        # distributed-planning threshold (a 10^6-file table's orphan
        # sweep must not serialize its keep set on the driver)
        keep |= self._manifest_data_paths(man_paths, est)
        try:
            props = self.metadata().get("properties") or {}
        except Exception:
            props = {}
        uniform = (
            "delta.uniform.delta-version" in props
            or os.path.isdir(os.path.join(self.path, "_delta_log"))
        )
        meta_prefix = self.metadata_path.rstrip(os.sep) + os.sep
        walk_root = self.metadata_path if uniform else self.path
        deleted = 0
        kept = 0
        for dirpath, dirs, files in os.walk(walk_root, topdown=True):
            for name in files:
                full = os.path.join(dirpath, name)
                if full in keep or name.startswith("."):
                    kept += 1
                    continue
                if uniform and not full.startswith(meta_prefix):
                    kept += 1
                    continue
                if os.path.getmtime(full) * 1000 >= older_than_ms:
                    kept += 1
                    continue
                os.remove(full)
                deleted += 1
        # prune now-empty staging dirs
        for dirpath, dirs, files in os.walk(walk_root, topdown=False):
            if not dirs and not files and dirpath != self.path:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
        return {"deleted": deleted, "kept": kept}

    def snapshot_as_of_timestamp(self, ts_millis: int) -> DataFrame:
        """TIMESTAMP AS OF over the snapshot log: the newest snapshot
        whose timestamp-ms is <= the given instant."""
        md = self.metadata()
        log = md.get("snapshot-log") or []
        best = None
        for e in log:
            if int(e["timestamp-ms"]) <= ts_millis:
                best = e["snapshot-id"]
        if best is None:
            raise IcebergProtocolError(
                f"no snapshot at or before timestamp {ts_millis}"
            )
        return self.snapshot(snapshot_id=best)

    def incremental_append_scan(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Rows appended AFTER ``from_snapshot_id`` (exclusive) up to
        ``to_snapshot_id`` (inclusive; latest if None) — the Iceberg
        incremental-read contract the reference's isIncremental path
        uses for Delta (offline_store_spark_runner.py:1076-1136),
        re-expressed over snapshot lineage: data files whose committing
        snapshot sits strictly after the cursor. Overwrite/delete
        snapshots in the range raise (an append-only incremental read
        over them would be wrong) — same refusal the reference's CDF
        path encodes."""
        md = self.metadata()
        snaps = self.main_lineage(md)
        order = {s["snapshot-id"]: i for i, s in enumerate(snaps)}
        if from_snapshot_id not in order:
            raise IcebergProtocolError(
                f"unknown from snapshot {from_snapshot_id}"
            )
        to_snap = self._snapshot_by(to_snapshot_id, md=md)
        if to_snap is None:
            return self.spark.createDataFrame([], self.spark_schema(md))
        if to_snap["snapshot-id"] not in order:
            raise IcebergProtocolError(
                f"to snapshot {to_snap['snapshot-id']} is not on main's "
                "ancestry (staged/branch snapshot)"
            )
        lo, hi = order[from_snapshot_id], order[to_snap["snapshot-id"]]
        if hi < lo:
            raise IcebergProtocolError("to-snapshot precedes from-snapshot")
        in_range = {
            s["snapshot-id"]: s for s in snaps[lo + 1 : hi + 1]
        }
        for s in in_range.values():
            op = (s.get("summary") or {}).get("operation", "append")
            if op not in ("append",):
                raise IcebergProtocolError(
                    f"snapshot {s['snapshot-id']} is {op!r}, not append — "
                    "incremental append scan would return wrong rows"
                )
        schema = self.spark_schema(md)
        data_entries, _deletes = self._live_entries(to_snap)
        # appended files = to-snapshot's live set minus from-snapshot's
        # (not a snapshot_id-stamp filter: cherry-picked WAP publishes
        # keep the staged snapshot's id on their entries)
        from_entries, _f_dels = self._live_entries(snaps[lo])
        from_files = {
            e["data_file"]["file_path"] for e in from_entries
        }
        in_entries = [
            e
            for e in data_entries
            if e["data_file"]["file_path"] not in from_files
        ]
        # an append-only range adds no delete, and the deletes live at
        # the cursor predate (so never apply to) the appended files
        return self._scan(md, schema, in_entries, [])

    def _changes(self, md: dict, snaps: list, start: int, end: int):
        """The one Iceberg change-feed planner: walks the main-lineage
        snapshots ``snaps[start..end]`` once and yields their
        :class:`ChangePiece` s. ``changelog_scan`` runs the pieces as
        Spark scans, the ``icebergprotocol`` source as slices.

        Per commit: a replace (compaction) is no logical change; an
        overwrite is one piece, its parent diffed against it. Otherwise
        the added data files — the live set minus the parent's, since a
        cherry-picked WAP publish keeps the staged snapshot's id on its
        entries — are an insert piece. The commit's new position
        deletes and deletion vectors are one delete piece keeping the
        FRESH positions: the new ones minus every position the parent
        had already deleted in that file (its vectors and parquet
        position deletes, sequence-scoped), because a v3 vector folds
        in what earlier deletes removed. New equality deletes are one
        delete piece over the parent's live rows, less this commit's
        fresh positions, that match any of the new key sets. Each
        delete file is read once per walk."""
        import numpy as np

        read: dict[tuple, dict] = {}

        def _positions(entries: list) -> list:
            out = []
            for e in entries:
                df_ = e["data_file"]
                if int(df_.get("content", 0)) != 1:
                    continue
                k = _entry_key(df_)
                if k not in read:
                    read[k] = self._delete_positions(df_)
                out.append((int(e.get("sequence_number") or 0), read[k]))
            return out

        parent = None
        for ordinal, idx in enumerate(range(start, end + 1)):
            s = snaps[idx]
            sid = int(s["snapshot-id"])
            op = (s.get("summary") or {}).get("operation", "append")
            if op in ("replace", "overwrite"):
                if op == "overwrite":
                    yield ChangePiece(
                        ordinal, sid, op,
                        parent=int(snaps[idx - 1]["snapshot-id"])
                        if idx > 0 else None,
                    )
                parent = None
                continue
            if parent is None:
                parent = (
                    self._live_entries(snaps[idx - 1]) if idx > 0 else ([], [])
                )
            p_data, p_dels = parent
            data, dels = parent = self._live_entries(s)
            known = {_entry_key(e["data_file"]) for e in p_data + p_dels}
            added = [e for e in data if _entry_key(e["data_file"]) not in known]
            if added:
                yield ChangePiece(ordinal, sid, "insert", added)
            new_dels = [
                e for e in dels if _entry_key(e["data_file"]) not in known
            ]
            live = {
                self._resolve_path(e["data_file"]["file_path"]): e
                for e in data
            }
            fresh: dict = {}
            for _seq, by_file in _positions(new_dels):
                for path, pos in by_file.items():
                    if path in live:
                        fresh.setdefault(path, []).append(pos)
            if fresh:
                gone: dict = {path: [] for path in fresh}
                for del_seq, by_file in _positions(p_dels):
                    for path, pos in by_file.items():
                        if path in gone and del_seq >= int(
                            live[path].get("sequence_number") or 0
                        ):
                            gone[path].append(pos)
                fresh = {
                    path: diff
                    for path, arrs in sorted(fresh.items())
                    if len(
                        diff := np.setdiff1d(
                            np.concatenate(arrs),
                            np.concatenate(gone[path] or [arrs[0][:0]]),
                        )
                    )
                }
            if fresh:
                yield ChangePiece(
                    ordinal, sid, "delete", [live[p] for p in fresh],
                    keep=fresh,
                )
            eq = [
                e for e in new_dels
                if int(e["data_file"].get("content", 0)) == 2
            ]
            if eq and p_data:
                yield ChangePiece(
                    ordinal, sid, "delete", p_data, p_dels,
                    drop=fresh or None, keep_keys=eq,
                )

    def changelog_scan(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Iceberg changelog / CDC read (the vendor SparkChangelogTable
        surface): one row per change across snapshots (from, to] —
        table columns + ``_change_type`` ('insert'/'delete'),
        ``_change_ordinal`` (0-based position of the commit within the
        scanned range), ``_commit_snapshot_id``.

        The commits are planned by :meth:`_changes`; each piece runs as
        one :meth:`_scan` of its data files (so every row carries what
        ``snapshot()`` shows for it, ``initial-default`` values
        included), semi-joined to its fresh positions or anti-joined to
        the positions it leaves out, and for an equality delete
        semi-joined to the new key rows. An overwrite emits multiset-
        exact delete+insert via ``exceptAll`` of the two adjacent
        snapshots (the one genuinely two-scan-priced shape)."""
        md = self.metadata()
        # main ancestry only: the raw snapshots list carries WAP-staged
        # and branch snapshots — emitting them would report changes
        # that never reached main, and a staged snapshot would become
        # a parent
        snaps = self.main_lineage(md)
        schema = self.spark_schema(md)
        cols = [f.name for f in schema.fields]
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_change_ordinal", T.IntegerType()),
                T.StructField("_commit_snapshot_id", T.LongType()),
            ]
        )
        cur = self._snapshot_by(None, md=md)
        if cur is not None:
            cur_entries, _cur_dels = self._live_entries(cur)
            if self._nm_resolution(md, cur_entries) or self._identity_patch(
                md, cur_entries
            ):
                raise UnsupportedIcebergFeatureError(
                    "changelog_scan on a metadata-mirror table "
                    "(UniForm) — consume the Delta CDF instead "
                    "(table_changes / readChangeFeed)"
                )
        ids = [s["snapshot-id"] for s in snaps]
        if from_snapshot_id is None:
            start = 0
        else:
            if from_snapshot_id not in ids:
                raise IcebergProtocolError(
                    f"unknown from snapshot {from_snapshot_id}"
                )
            start = ids.index(from_snapshot_id) + 1
        if to_snapshot_id is None:
            end = len(snaps) - 1
        else:
            if to_snapshot_id not in ids:
                raise IcebergProtocolError(
                    f"unknown to snapshot {to_snapshot_id}"
                )
            end = ids.index(to_snapshot_id)

        def _tag(df: DataFrame, ct: str, p: ChangePiece):
            return (
                df.select(*cols)
                .withColumn("_change_type", F.lit(ct))
                .withColumn("_change_ordinal", F.lit(p.ordinal))
                .withColumn("_commit_snapshot_id", F.lit(p.sid))
            )

        pieces: list[DataFrame] = []
        for p in self._changes(md, snaps, start, end):
            if p.change == "overwrite":
                cur = self.snapshot(snapshot_id=p.sid)
                if p.parent is None:
                    pieces.append(_tag(cur, "insert", p))
                    continue
                par = self.snapshot(snapshot_id=p.parent)
                pieces.append(_tag(par.exceptAll(cur), "delete", p))
                pieces.append(_tag(cur.exceptAll(par), "insert", p))
                continue
            df = self._scan(
                md, schema, p.entries, p.deletes,
                keep_pos=bool(p.keep or p.drop),
            )
            for positions, how in ((p.keep, "left_semi"), (p.drop, "left_anti")):
                if positions:
                    df = df.join(
                        F.broadcast(
                            position_df(self.spark, positions, "__fp", "__pos")
                        ),
                        ["__fp", "__pos"],
                        how,
                    )
            if p.keep_keys:
                # rows matching ANY key set: each set takes its matches
                # from the rows no earlier set matched
                hits, rest = [], df
                for e in p.keep_keys:
                    drows, cond = self._eq_match(md, rest, e)
                    hits.append(rest.join(F.broadcast(drows), cond, "left_semi"))
                    if len(hits) < len(p.keep_keys):
                        rest = rest.join(F.broadcast(drows), cond, "left_anti")
                df = hits[0]
                for h in hits[1:]:
                    df = df.unionByName(h)
            pieces.append(_tag(df, p.change, p))
        if not pieces:
            return self.spark.createDataFrame([], out_schema)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def _atomic_field(self, md: dict, col: str) -> tuple[int, str]:
        """(field id, Iceberg type) of top-level atomic column ``col``."""
        for f in self.schema(md)["fields"]:
            if f["name"] == col and isinstance(f["type"], str):
                return f["id"], f["type"]
        raise IcebergProtocolError(f"no atomic column {col!r}")

    def _planned_scan(
        self,
        md: dict,
        snap: dict,
        fid: int,
        ice_type: str,
        lo: Any,
        hi: Any,
        probes: dict[int, tuple[list[tuple], tuple | None]],
    ) -> DataFrame:
        """The manifest walk both scan planners share. ``probes`` maps
        a partition-spec id to (checks, probe): a data manifest of that
        spec is skipped whole when any check
        ``(pos, result_type, lo, hi, null_blocks)`` finds its partition
        summary at ``pos`` disjoint from [lo, hi] (with
        ``null_blocks``, a summary containing NULL never skips) — its
        files still count in ``_last_prune``; ``probe`` is the
        per-entry partition-tuple check :func:`_scan_prune_partition`
        runs (None: none). Summaries and tuples are positional in the
        manifest's OWN spec, so each spec-id resolves independently
        (partition evolution). Surviving entries are pruned by their
        ``fid`` bounds against [lo, hi] and read through :meth:`_scan`
        with the snapshot's deletes."""
        total_files = 0
        tasks: list[tuple] = []
        est = 0
        for mi, m in enumerate(self._manifest_files(snap)):
            man_seq = m.get("sequence_number")
            man_seq = int(man_seq) if man_seq is not None else None
            cnt = int(
                m.get("added_files_count", m.get("added_data_files_count", 0)) or 0
            ) + int(m.get("existing_files_count", 0) or 0)
            man_path = self._resolve_path(m["manifest_path"])
            if int(m.get("content", 0)) != 0:
                tasks.append((mi, man_path, man_seq, None, True))
                est += cnt
                continue
            checks, probe = probes.get(
                int(m.get("partition_spec_id") or 0), ([], None)
            )
            summaries = m.get("partitions") or []
            if any(
                _summary_excludes(summaries, *check) for check in checks
            ):
                total_files += cnt
                continue
            tasks.append((mi, man_path, man_seq, probe, False))
            est += cnt
        keep_entries, delete_entries, live_n = self._fold_scan_entries(
            tasks, fid, ice_type, lo, hi, est
        )
        self._last_prune = {
            "files_total": total_files + live_n,
            "files_read": len(keep_entries),
        }
        return self._scan(
            md, self.spark_schema(md), keep_entries, delete_entries
        )

    def scan_planned(
        self, col: str, lo: Any, hi: Any, snapshot_id: int | None = None
    ) -> DataFrame:
        """Stats-based scan planning: drop whole manifests whose
        partition summary for ``col`` (when ``col`` is a partition
        source) and files whose log-carried [lower, upper] bound range
        is disjoint from [lo, hi]; then apply the exact filter. Zero
        parquet footer reads."""
        import datetime

        md = self.metadata()
        snap = self._snapshot_by(snapshot_id, md=md)
        if snap is None:
            return self.spark.createDataFrame([], self.spark_schema(md))
        fid, ice_type = self._atomic_field(md, col)
        # manifest-level pruning via partition summaries — including
        # THROUGH monotonic transforms (hidden partitioning: a filter
        # on ts prunes a day(ts)-partitioned table's manifests)
        probes: dict[int, tuple[list[tuple], tuple | None]] = {}
        for sid, spec in self._spec_fields_by_id(md).items():
            pos = None
            tr = "identity"
            name = None
            for i, pf in enumerate(spec):
                t_ = pf.get("transform", "identity")
                base = t_.split("[", 1)[0]
                if pf.get("source-id") == fid and (
                    base in _MONOTONIC_TRANSFORMS or base == "truncate"
                ):
                    pos, tr, name = i, t_, pf["name"]
            if pos is None:
                continue
            rt = _transform_result_type(tr, ice_type)
            plo, phi = (
                (
                    apply_transform_py(tr, ice_type, lo),
                    apply_transform_py(tr, ice_type, hi),
                )
                if tr != "identity"
                else (lo, hi)
            )
            # partition-tuple range pruning (raw storage domain: dates
            # as epoch-day ints) happens per entry inside the worker: a
            # month(ts) file whose tuple is outside the probed month
            # range skips without any column stats — the pruning real
            # Iceberg plans partitioned scans with
            raw = [
                (v - datetime.date(1970, 1, 1)).days
                if rt == "date" and isinstance(v, datetime.date)
                else v
                for v in (plo, phi)
            ]
            probes[sid] = (
                [(pos, rt, plo, phi, True)],
                ("range", name, *raw),
            )
        df = self._planned_scan(md, snap, fid, ice_type, lo, hi, probes)
        return df.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))

    def scan_planned_eq(
        self, col: str, value: Any, snapshot_id: int | None = None
    ) -> DataFrame:
        """Equality scan planning — prunes through ANY partition
        transform on the probed column, including non-order-preserving
        ``bucket[N]`` (which range planning deliberately can't use):
        the literal is pushed through each transform
        (``bucket_value(literal)`` / truncate / day-family), manifests
        whose partition summary range excludes the transformed value
        are skipped whole, then each surviving entry's ``partition``
        tuple and per-file source-column bounds are checked. NULL
        partition rows can never satisfy an equality probe, so
        ``contains_null`` does not block a skip. Zero footer reads."""
        import datetime

        md = self.metadata()
        snap = self._snapshot_by(snapshot_id, md=md)
        schema = self.spark_schema(md)
        if snap is None:
            return self.spark.createDataFrame([], schema)
        fid, ice_type = self._atomic_field(md, col)
        if value is None:
            # SQL equality with NULL matches nothing — empty scan, no
            # file reads (col IS NULL is a different predicate)
            self._last_prune = {"files_total": 0, "files_read": 0}
            return self.spark.createDataFrame([], schema)
        hv = value
        if ice_type == "date" and isinstance(value, datetime.date):
            hv = (value - datetime.date(1970, 1, 1)).days
        # per spec: checks compare tv in the decoded summary-bound
        # domain (dates as datetime.date); the entry probe carries
        # tv_raw in the partition-tuple storage domain (dates as
        # epoch-day ints); field names may repeat across specs
        probes: dict[int, tuple[list[tuple], tuple | None]] = {}
        for sid, spec in self._spec_fields_by_id(md).items():
            checks: list[tuple] = []
            names: list[tuple] = []
            for i, pf in enumerate(spec):
                if pf.get("source-id") != fid:
                    continue
                tr = pf.get("transform", "identity")
                base = tr.split("[", 1)[0]
                if base == "bucket":
                    n = int(tr[len("bucket[") : -1])
                    tv = bucket_value(ice_type, hv, n)
                elif base in _MONOTONIC_TRANSFORMS or base == "truncate":
                    tv = apply_transform_py(tr, ice_type, value)
                else:
                    continue
                rtype = _transform_result_type(tr, ice_type)
                tv_raw = (
                    (tv - datetime.date(1970, 1, 1)).days
                    if rtype == "date" and isinstance(tv, datetime.date)
                    else tv
                )
                checks.append((i, rtype, tv, tv, False))
                names.append((pf["name"], tv_raw))
            if checks:
                probes[sid] = (checks, ("eq", tuple(names)))
        # bounds pruning with lo == hi == value is exactly the
        # equality skip (value < fmn or value > fmx)
        df = self._planned_scan(
            md, snap, fid, ice_type, value, value, probes
        )
        return df.filter(F.col(col) == F.lit(value))

    # ------------------------------------------------------------ write

    def _part_fields_info(
        self, ice_schema: dict, spec_fields: list[dict]
    ) -> list[dict]:
        """Resolve metadata spec fields → {name, transform, src_name,
        src_type, result_type} for the write path."""
        by_id = {f["id"]: f for f in ice_schema["fields"]}
        out = []
        for pf in spec_fields:
            src = by_id[pf["source-id"]]
            out.append(
                {
                    "name": pf["name"],
                    "transform": pf["transform"],
                    "src_name": src["name"],
                    "src_type": src["type"],
                    "result_type": _transform_result_type(
                        pf["transform"], src["type"]
                    ),
                }
            )
        return out

    @staticmethod
    def _fill_write_defaults(df: DataFrame, ice_schema: dict) -> DataFrame:
        """Writer duty for v3 default values: when an append omits a
        column that carries ``write-default``, materialize the default
        into the written data (spec: "fields with a write-default
        ... must be written with the default if the field is not
        supplied"). Columns present in the input — even all-NULL —
        are written as given."""
        have = set(df.columns)
        for f in ice_schema["fields"]:
            if f["name"] not in have and "write-default" in f:
                dt = iceberg_type_to_spark(f["type"])
                df = df.withColumn(
                    f["name"], F.lit(f["write-default"]).cast(dt)
                )
        return df

    def _write_data_files(
        self, df: DataFrame, ice_schema: dict, spec_fields: list[dict]
    ) -> list[dict]:
        """Write immutable parquet data files (one partition tuple per
        file) and return manifest data_file records with footer stats.

        Partition values are computed into shadow ``_p_`` columns
        (identity or any supported transform — see module transforms)
        for the directory split, so the source columns stay inside the
        data files, as the Iceberg spec requires (directories are
        convention; column values come from the files)."""
        infos = self._part_fields_info(ice_schema, spec_fields)
        for i in infos:
            df = df.withColumn(
                f"_p_{i['name']}",
                _transform_expr(i["transform"], i["src_type"], i["src_name"]),
            )
        # partitionBy consumes the shadow columns into the directory
        # layout; the source columns stay in the files
        recs = write_staged(
            df,
            self.path,
            lambda _d, _n: os.path.join(DATA_DIR, f"{uuid.uuid4().hex}.parquet"),
            [f"_p_{i['name']}" for i in infos],
        )
        name_to_field = {f["name"]: f for f in ice_schema["fields"]}
        result_types = {i["name"]: i["result_type"] for i in infos}
        return [
            data_file_record(
                r, name_to_field, _partition_tuple(r.partition, result_types)
            )
            for r in recs
        ]

    def _partition_avro_fields(
        self, ice_schema: dict, spec_fields: list[dict]
    ) -> list[dict]:
        by_id = {f["id"]: f for f in ice_schema["fields"]}
        _AVRO = {
            "int": "int", "long": "long", "string": "string",
            "date": {"type": "int", "logicalType": "date"},
            "boolean": "boolean", "double": "double", "float": "float",
        }
        out = []
        for pf in spec_fields:
            src = by_id[pf["source-id"]]
            rt = _transform_result_type(pf["transform"], src["type"])
            out.append(
                _f(pf["name"], _opt(_AVRO.get(rt, "string")), pf["field-id"], default=None)
            )
        return out

    def _write_manifest(
        self,
        entries: list[dict],
        ice_schema: dict,
        spec_fields: list[dict],
        spec_id: int,
        snapshot_id: int,
        seq: int,
        content: int = 0,
    ) -> dict:
        """Write one manifest Avro file; return its manifest_file
        record (for the manifest list) with partition summaries.
        ``content``: 0 = data manifest, 1 = (position) delete manifest."""
        part_fields = self._partition_avro_fields(ice_schema, spec_fields)
        schema = manifest_entry_schema(part_fields)
        path = os.path.join(
            self.metadata_path, f"{uuid.uuid4().hex}-m0.avro"
        )
        write_container(
            path,
            schema,
            entries,
            metadata={
                "schema": json.dumps(
                    {k: v for k, v in ice_schema.items() if not k.startswith("_")}
                ),
                "partition-spec": json.dumps(spec_fields),
                "partition-spec-id": str(spec_id),
                "format-version": "2",
                "content": "data" if content == 0 else "deletes",
            },
        )
        by_id = {f["id"]: f for f in ice_schema["fields"]}
        summaries = []
        for pf in spec_fields:
            ice_type = _transform_result_type(
                pf["transform"], by_id[pf["source-id"]]["type"]
            )
            vals = [
                e["data_file"]["partition"].get(pf["name"]) for e in entries
            ]
            non_null = [v for v in vals if v is not None]
            summaries.append(
                {
                    "contains_null": any(v is None for v in vals),
                    "contains_nan": None,
                    "lower_bound": encode_bound(ice_type, min(non_null)) if non_null else None,
                    "upper_bound": encode_bound(ice_type, max(non_null)) if non_null else None,
                }
            )
        added_rows = sum(
            e["data_file"]["record_count"] for e in entries if e["status"] == 1
        )
        existing_rows = sum(
            e["data_file"]["record_count"] for e in entries if e["status"] == 0
        )
        return {
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": spec_id,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": min(
                [e.get("sequence_number") or seq for e in entries] or [seq]
            ),
            "added_snapshot_id": snapshot_id,
            "added_files_count": sum(1 for e in entries if e["status"] == 1),
            "existing_files_count": sum(1 for e in entries if e["status"] == 0),
            "deleted_files_count": 0,
            "added_rows_count": added_rows,
            "existing_rows_count": existing_rows,
            "deleted_rows_count": 0,
            "partitions": summaries,
            "key_metadata": None,
        }

    def _build_spec_fields(
        self,
        ice_schema: dict,
        partition_by: list[str],
        next_field_id: int = 1000,
        reuse_from: list[dict] | None = None,
    ) -> tuple[list[dict], int]:
        """Validate transform specs and build partition-spec fields.
        ``reuse_from`` (all fields of prior specs): a (source-id,
        transform) pair that existed before KEEPS its field id and
        name, per spec §Partition Evolution. Returns (fields,
        last_assigned_field_id)."""
        by_name = {f["name"]: f for f in ice_schema["fields"]}
        _VALID_SRC = {
            "identity": {"int", "long", "string", "date"},
            "day": {"timestamp", "timestamptz", "date"},
            "hour": {"timestamp", "timestamptz"},
            "month": {"timestamp", "timestamptz", "date"},
            "year": {"timestamp", "timestamptz", "date"},
            "bucket": {"int", "long", "string", "date", "timestamp",
                       "timestamptz"},
            "truncate": {"int", "long", "string"},
        }
        prior = {
            (pf["source-id"], pf["transform"]): pf
            for pf in (reuse_from or [])
        }
        spec_fields = []
        last = next_field_id - 1
        for spec in partition_by:
            transform, _param, c = _parse_transform(spec)
            if c not in by_name:
                raise IcebergProtocolError(
                    f"partition column {c!r} not in schema"
                )
            src_t = by_name[c]["type"]
            base = transform.split("[", 1)[0]
            if not isinstance(src_t, str) or src_t not in _VALID_SRC[base]:
                raise UnsupportedIcebergFeatureError(
                    f"{base} partitioning on type {src_t!r} "
                    "is not supported by this writer"
                )
            reused = prior.get((by_name[c]["id"], transform))
            if reused is not None:
                spec_fields.append(dict(reused))
                continue
            name = c if transform == "identity" else (
                f"{c}_{'trunc' if base == 'truncate' else base}"
            )
            last += 1
            spec_fields.append(
                {
                    "source-id": by_name[c]["id"],
                    "field-id": last,
                    "name": name,
                    "transform": transform,
                }
            )
        return spec_fields, last

    def _spec_fields_by_id(self, md: dict) -> dict[int, list[dict]]:
        """Every partition spec in metadata, keyed by spec-id (v1
        layout degrades to {0: spec})."""
        if "partition-specs" in md:
            return {
                int(s.get("spec-id", 0)): s.get("fields", [])
                for s in md["partition-specs"]
            }
        return {0: md.get("partition-spec", [])}

    def update_spec(self, partition_by: list[str]) -> int:
        """Partition spec EVOLUTION (spec §Partition Evolution, the
        capability hidden partitioning exists for): register a new
        default spec without rewriting a single data file. Old
        manifests keep their spec-id and are planned under it; new
        writes partition under the new spec; rewrite_data_files
        migrates old files when wanted. (source-id, transform) pairs
        that existed in ANY prior spec keep their field id + name."""
        md, pinned = self._pinned_metadata()
        ice_schema = self.schema(md)
        specs = md.get("partition-specs") or [
            {"spec-id": 0, "fields": md.get("partition-spec", [])}
        ]
        all_prior = [pf for s in specs for pf in s.get("fields", [])]
        next_fid = max(
            [int(md.get("last-partition-id", 999))]
            + [int(pf["field-id"]) for pf in all_prior]
        ) + 1
        fields, last = self._build_spec_fields(
            ice_schema, list(partition_by), next_field_id=next_fid,
            reuse_from=all_prior,
        )
        cur_default = self.partition_spec(md)
        if [
            (f["source-id"], f["transform"]) for f in fields
        ] == [(f["source-id"], f["transform"]) for f in cur_default]:
            return int(md.get("default-spec-id", 0))  # no-op
        new_id = max(int(s.get("spec-id", 0)) for s in specs) + 1
        md2 = dict(md)
        md2["partition-specs"] = specs + [
            {"spec-id": new_id, "fields": fields}
        ]
        md2["default-spec-id"] = new_id
        md2["last-partition-id"] = max(
            int(md.get("last-partition-id", 999)), last
        )
        md2["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata_cas(md2, pinned, "update_spec")
        return new_id

    def _advance_pinned(self, op: str, *args, **kw) -> int:
        """_advance with the caller's pinned metadata version: a lost
        CAS race surfaces as a clear retryable error instead of
        silently clobbering the concurrent commit (data paths like
        delete/upsert fold the CURRENT file set — committing a stale
        fold would vanish whatever landed in between)."""
        try:
            return self._advance(*args, **kw)
        except FileExistsError:
            raise CommitConflictError(
                f"{op} lost a concurrent commit race — re-run it on "
                "fresh metadata"
            ) from None

    def _pinned_metadata(self) -> tuple[dict, int]:
        """(metadata dict, its version) read in ONE step — the fold
        input for CAS commits at version+1. Computing the commit
        version any later than the metadata read lets a concurrent
        commit slip between them and be silently clobbered (TOCTOU);
        with the pin, the loser's O_EXCL commit fails loudly instead
        and the caller can refold or re-run."""
        files = self._metadata_files()
        if not files:
            raise IcebergProtocolError(f"not an iceberg table: {self.path}")
        version, name = files[-1]
        return (
            self.metadata(os.path.join(self.metadata_path, name)),
            version,
        )

    def _commit_metadata_cas(
        self, md: dict, pinned_version: int, op: str
    ) -> None:
        """Commit at pinned_version+1, translating a lost race into a
        clear retryable error instead of a raw FileExistsError."""
        try:
            self._commit_metadata(md, pinned_version + 1)
        except FileExistsError:
            raise CommitConflictError(
                f"{op} lost a concurrent commit race — re-run it "
                "on fresh metadata"
            ) from None

    def _commit_metadata(self, md: dict, version: int) -> None:
        target = os.path.join(
            self.metadata_path, f"v{version}.metadata.json"
        )
        os.makedirs(self.metadata_path, exist_ok=True)
        # Atomic put-if-absent: the JSON is staged to a hidden temp
        # file first, then hard-linked into place. link(2) fails with
        # FileExistsError when the target exists (concurrent committers
        # lose cleanly, same as O_EXCL) AND readers can never observe a
        # partially-written metadata file — an O_EXCL create followed
        # by an in-place write let a concurrent reader catch empty/
        # truncated JSON (seen in the 6-writer append stress).
        tmp = os.path.join(
            self.metadata_path,
            f".v{version}.{uuid.uuid4().hex}.tmp",
        )
        with open(tmp, "w") as f:
            json.dump(md, f, indent=2)
        try:
            os.link(tmp, target)
        except FileExistsError:
            os.unlink(tmp)
            raise
        # the commit has landed: nothing below may raise, or a writer
        # would take it for a failed commit and remove its files
        try:
            os.unlink(tmp)
            # monotonic hint: a lagging concurrent committer must not
            # point readers back to an older version (the hint is an
            # optimization only — correctness comes from the O_EXCL
            # metadata files)
            hint_path = os.path.join(self.metadata_path, VERSION_HINT)
            try:
                with open(hint_path) as f:
                    cur = int(f.read().strip())
            except (OSError, ValueError):
                cur = -1
            if version > cur:
                tmp = os.path.join(
                    self.metadata_path,
                    f".{VERSION_HINT}.{uuid.uuid4().hex}.tmp",
                )
                with open(tmp, "w") as f:
                    f.write(str(version))
                os.replace(tmp, hint_path)
        except OSError:
            pass

    def _name_mapping(self, ice_schema: dict) -> str:
        return json.dumps(
            [
                {"field-id": f["id"], "names": [f["name"]]}
                for f in ice_schema["fields"]
            ]
        )

    def create(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> int:
        """CTAS: v2 metadata + first snapshot. ``partition_by`` entries
        are either plain column names (identity) or transform specs —
        ``"day(ts)"``, ``"hour(ts)"``, ``"month(ts)"``, ``"year(ts)"``,
        ``"bucket(16, col)"`` (spec murmur3), ``"truncate(4, col)"``."""
        if self.exists():
            raise IcebergProtocolError(f"table already exists: {self.path}")
        partition_by = list(partition_by or [])
        ice_schema = spark_schema_to_iceberg(df.schema)
        last_col_id = ice_schema.pop("_last_column_id")
        # the variant type exists only at format-version 3 (spec §v3),
        # and v3 tables carry row lineage from birth
        v3 = _ice_has_variant(
            {"type": "struct", "fields": ice_schema["fields"]}
        )
        spec_fields, _last_pid = self._build_spec_fields(
            ice_schema, partition_by, next_field_id=1000
        )
        snapshot_id = int(uuid.uuid4().int % (1 << 62))
        now = int(time.time() * 1000)
        os.makedirs(self.path, exist_ok=True)
        files = self._write_data_files(df, ice_schema, spec_fields)
        entries = [
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": 1,
                "file_sequence_number": 1,
                "data_file": r,
            }
            for r in files
        ]
        if v3:
            nxt = 0
            for e in entries:
                e["data_file"]["first_row_id"] = nxt
                nxt += int(e["data_file"]["record_count"])
        manifest = self._write_manifest(
            entries, ice_schema, spec_fields, 0, snapshot_id, 1
        )
        ml_path = os.path.join(
            self.metadata_path, f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
        )
        write_container(ml_path, MANIFEST_LIST_SCHEMA, [manifest])
        snap = {
            "snapshot-id": snapshot_id,
            "sequence-number": 1,
            "timestamp-ms": now,
            "manifest-list": ml_path,
            "summary": {
                "operation": "append",
                "added-data-files": str(len(files)),
                "added-records": str(sum(f["record_count"] for f in files)),
                # spec totals: at CREATE the table IS this write
                "total-records": str(
                    sum(f["record_count"] for f in files)
                ),
                "total-data-files": str(len(files)),
                "total-delete-files": "0",
            },
            "schema-id": 0,
        }
        props = {"write.format.default": "parquet"}
        props["schema.name-mapping.default"] = self._name_mapping(ice_schema)
        props.update(properties or {})
        if v3:
            snap["first-row-id"] = 0
        md = {
            "format-version": 3 if v3 else 2,
            "table-uuid": str(uuid.uuid4()),
            "location": self.path,
            "last-sequence-number": 1,
            "last-updated-ms": now,
            "last-column-id": last_col_id,
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 1000 + len(spec_fields) - 1 if spec_fields else 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": props,
            "current-snapshot-id": snapshot_id,
            "snapshots": [snap],
            "snapshot-log": [
                {"timestamp-ms": now, "snapshot-id": snapshot_id}
            ],
            "metadata-log": [],
        }
        if v3:
            md["next-row-id"] = sum(
                int(e["data_file"]["record_count"]) for e in entries
            )
        self._commit_metadata(md, 1)
        return snapshot_id

    def _advance(
        self,
        md: dict,
        new_manifests: list[dict],
        operation: str,
        nfiles: int,
        nrecords: int,
        snapshot_id: int | None = None,
        expect_version: int | None = None,
        branch: str = "main",
        stage_only: bool = False,
        parent_snapshot_id: int | None = None,
        extra_summary: dict[str, str] | None = None,
        lineage: tuple[int, int] | None = None,
    ) -> int:
        """``expect_version`` pins the commit to the metadata version
        the caller FOLDED (compare-and-swap): if another writer
        committed meanwhile, v{expect+1} already exists and the O_EXCL
        create raises FileExistsError instead of silently basing the
        new snapshot on a stale manifest list — concurrent callers
        (append_arrow) catch it, refold, retry.

        ``branch`` targets a named ref (spec §refs): the snapshot is
        recorded and ``refs[branch]`` advances, but ``main``
        (current-snapshot-id + snapshot-log) is untouched — the
        write-audit-publish staging pattern. ``stage_only`` records the
        snapshot without moving ANY ref (WAP ``wap.id`` staging);
        publish later via :meth:`cherrypick_snapshot`."""
        now = int(time.time() * 1000)
        seq = int(md.get("last-sequence-number", 0)) + 1
        if snapshot_id is None:
            snapshot_id = int(uuid.uuid4().int % (1 << 62))
        ml_path = os.path.join(
            self.metadata_path, f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
        )
        write_container(ml_path, MANIFEST_LIST_SCHEMA, new_manifests)
        if parent_snapshot_id is None:
            parent_snapshot_id = md.get("current-snapshot-id")
        summary = {
            "operation": operation,
            "added-data-files": str(nfiles),
            "added-records": str(nrecords),
        }
        # spec summary totals, derived from the manifest-list entries
        # alone (O(#manifests), no manifest opens): planners read these
        # for O(1) table sizing without a manifest fold. total-records
        # counts live data-manifest rows; applied deletes are tracked
        # by the delete manifests, not subtracted here (Iceberg's own
        # convention — total-position/equality-deletes live separately
        # and need manifest opens to split, so they are omitted).
        tot_records = 0
        tot_data_files = 0
        tot_delete_files = 0
        for m in new_manifests:
            live_rows = int(m.get("added_rows_count") or 0) + int(
                m.get("existing_rows_count") or 0
            )
            live_files = int(m.get("added_files_count") or 0) + int(
                m.get("existing_files_count") or 0
            )
            if int(m.get("content", 0)) == 0:
                tot_records += live_rows
                tot_data_files += live_files
            else:
                tot_delete_files += live_files
        summary["total-records"] = str(tot_records)
        summary["total-data-files"] = str(tot_data_files)
        summary["total-delete-files"] = str(tot_delete_files)
        summary.update(extra_summary or {})
        snap = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": parent_snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": now,
            "manifest-list": ml_path,
            "summary": summary,
            "schema-id": md.get("current-schema-id", 0),
        }
        if lineage is not None:
            # v3 row lineage: this snapshot's row-id range + the
            # advanced table-wide enumeration mark
            snap["first-row-id"] = lineage[0]
        version = (
            expect_version
            if expect_version is not None
            else max(v for v, _ in self._metadata_files())
        ) + 1
        old_file = self._current_metadata_file()
        md = dict(md)
        md["last-sequence-number"] = seq
        md["last-updated-ms"] = now
        if lineage is not None:
            md["next-row-id"] = lineage[1]
        md["snapshots"] = self.snapshots(md) + [snap]
        if not stage_only:
            if branch == "main":
                md["current-snapshot-id"] = snapshot_id
                md["snapshot-log"] = (md.get("snapshot-log") or []) + [
                    {"timestamp-ms": now, "snapshot-id": snapshot_id}
                ]
                refs = dict(md.get("refs") or {})
                if "main" in refs:
                    refs["main"] = {
                        "snapshot-id": snapshot_id, "type": "branch"
                    }
                    md["refs"] = refs
            else:
                refs = dict(md.get("refs") or {})
                prior = refs.get(branch)
                if prior is not None and prior.get("type") == "tag":
                    raise IcebergProtocolError(
                        f"cannot write to tag {branch!r} (tags are "
                        "immutable pointers; use a branch)"
                    )
                refs[branch] = {
                    "snapshot-id": snapshot_id, "type": "branch"
                }
                md["refs"] = refs
        md["metadata-log"] = (md.get("metadata-log") or []) + [
            {"timestamp-ms": now, "metadata-file": old_file}
        ]
        try:
            self._commit_metadata(md, version)
        except BaseException:
            discard([ml_path])  # no snapshot references it
            raise
        return snapshot_id

    def _commit(
        self,
        op: str,
        operation: str,
        base: dict,
        data: Sequence[dict] = (),
        deletes: Sequence[dict] = (),
        *,
        pinned: int | None = None,
        keep: list[dict] | None = None,
        staged: Sequence[str] = (),
        txn: tuple[str, int] | None = None,
        summary: dict[str, str] | None = None,
        branch: str = "main",
        stage_only: bool = False,
    ) -> int:
        """The one snapshot commit. ``data`` and ``deletes`` are the
        data_file records of files already written. Each attempt stamps
        them at the next sequence number, assigns v3 row lineage, writes
        one data manifest under the default spec and one delete manifest
        under an unpartitioned spec (external readers scope a delete
        file by its manifest's spec, and a global delete must reach
        every partition), and advances ``branch``. ``keep`` lists the
        manifests carried beside the new ones; None carries every
        manifest of the branch head (main's head for a new branch).

        The policy follows what the operation read. A fold-dependent
        write passes ``pinned``, the version of ``base`` it read the
        table's files at: it commits once, and a lost race raises
        :class:`CommitConflictError`. A blind write (``pinned`` None)
        read none of the table's files, so it refolds the newest
        metadata and retries up to 20 times; every attempt first
        re-checks the ``txn`` watermark (a hit returns -1), the mirror
        guard, and that the schema and default spec are still the
        ones of ``base`` that its files were written under (a change
        raises). The attempt count lands in the summary as
        ``ffspark.commit-attempts``.

        ``staged`` files are removed whenever this returns or raises
        without its snapshot landing, and never after it landed."""
        new: list[dict] = []  # this attempt's manifests
        landed = False
        md, version = base, pinned
        try:
            for attempt in range(20):
                if pinned is None:
                    # the NEWEST metadata file, not the version hint:
                    # the hint can lag a concurrent commit
                    version, name = self._metadata_files()[-1]
                    md = self.metadata(
                        os.path.join(self.metadata_path, name)
                    )
                    if txn is not None and int(txn[1]) <= (
                        self.txn_watermark(txn[0], md)
                    ):
                        return -1  # the race winner was this txn
                    for key in ("current-schema-id", "default-spec-id"):
                        if md.get(key, 0) != base.get(key, 0):
                            raise IcebergProtocolError(
                                f"{op} lost a commit race to a "
                                f"concurrent {key[:-3]} change — its "
                                "files were written under the old one; "
                                f"retry the {op}"
                            )
                    head = self.current_snapshot(md)
                    if head is not None:
                        self._mirror_guard(md, head, op)
                else:
                    md = dict(base)  # the delete spec may register
                seq = int(md.get("last-sequence-number", 0)) + 1
                snapshot_id = int(uuid.uuid4().int % (1 << 62))
                parent = self._branch_head(md, branch)
                if parent is None and branch != "main":
                    parent = self.current_snapshot(md)  # fork from main
                manifests = keep
                if manifests is None:
                    manifests = (
                        read_container(
                            self._resolve_path(parent["manifest-list"])
                        )[1]
                        if parent is not None
                        else []
                    )
                entries = [
                    {
                        "status": 1,
                        "snapshot_id": snapshot_id,
                        "sequence_number": seq,
                        "file_sequence_number": seq,
                        "data_file": r,
                    }
                    for r in (*data, *deletes)
                ]
                ice_schema = self.schema(md)
                lineage = self._assign_first_row_ids(md, entries)
                new = []
                if data:
                    new.append(
                        self._write_manifest(
                            entries[: len(data)],
                            ice_schema,
                            self.partition_spec(md),
                            md.get("default-spec-id", 0),
                            snapshot_id,
                            seq,
                        )
                    )
                    if lineage is not None:
                        new[-1]["first_row_id"] = lineage[0]
                if deletes:
                    new.append(
                        self._write_manifest(
                            entries[len(data) :],
                            ice_schema,
                            [],
                            self._ensure_unpartitioned_spec(md),
                            snapshot_id,
                            seq,
                            content=1,
                        )
                    )
                extra = _added_summary(deletes)
                extra.update(summary or {})
                if txn is not None:
                    extra[f"ffspark.txn.{txn[0]}"] = str(int(txn[1]))
                extra["ffspark.commit-attempts"] = str(attempt + 1)
                args = (
                    md,
                    manifests + new,
                    operation,
                    len(data),
                    sum(int(r["record_count"]) for r in data),
                )
                kw = dict(
                    snapshot_id=snapshot_id,
                    expect_version=version,
                    branch=branch,
                    stage_only=stage_only,
                    parent_snapshot_id=(
                        parent["snapshot-id"] if parent is not None else None
                    ),
                    extra_summary=extra,
                    lineage=lineage,
                )
                try:
                    if pinned is None:
                        sid = self._advance(*args, **kw)
                    else:
                        sid = self._advance_pinned(op, *args, **kw)
                except FileExistsError:
                    discard([m["manifest_path"] for m in new])
                    continue  # lost the race: refold on the winner
                landed = True
                return sid
            raise IcebergProtocolError(
                f"{op} lost the commit race 20 times; giving up"
            )
        finally:
            if not landed:
                discard([*(m["manifest_path"] for m in new), *staged])

    def evolve_schema(
        self,
        new_schema: T.StructType,
        defaults: dict[str, Any] | None = None,
    ) -> int:
        """Spec-conformant additive schema evolution: existing columns
        keep their field-ids (matched by name, type must be unchanged —
        this writer does not do type promotion), new columns get fresh
        ids past last-column-id; a new schema entry is appended and
        current-schema-id advances. Old data files simply lack the new
        columns and read as NULL (per spec). Returns the new schema-id.

        ``defaults`` (v3 tables only, spec §Default values) maps NEW
        column names to a default: the field entry gets
        ``initial-default`` — served for every pre-existing data file
        that does not contain the field, with zero rewrite — and
        ``write-default`` — stamped by writers when an append omits
        the column. Values serialize per §JSON single-value
        serialization; only new columns may receive one
        (initial-default is immutable after the field exists).
        """
        md, pinned = self._pinned_metadata()
        defaults = dict(defaults or {})
        if defaults and int(md.get("format-version", 1)) < 3:
            raise UnsupportedIcebergFeatureError(
                "column default values are a format-version 3 feature; "
                "upgrade_format_version(3) first"
            )
        cur = self.schema(md)
        by_name = {f["name"]: f for f in cur["fields"]}
        ids = _IdGen(int(md.get("last-column-id", 0)))
        fields = []
        def _promotable(from_t, to_t) -> bool:
            """Spec §Schema Evolution type promotion: int->long,
            float->double, decimal(P,S)->decimal(P',S) with P'>=P."""
            if not (isinstance(from_t, str) and isinstance(to_t, str)):
                return False
            if (from_t, to_t) in (("int", "long"), ("float", "double")):
                return True
            if from_t.startswith("decimal(") and to_t.startswith(
                "decimal("
            ):
                p0, s0 = from_t[8:-1].split(",")
                p1, s1 = to_t[8:-1].split(",")
                return int(s0) == int(s1) and int(p1) >= int(p0)
            return False

        for f in new_schema.fields:
            old = by_name.get(f.name)
            ice_t = spark_type_to_iceberg(f.dataType, ids)
            if old is not None:
                if f.name in defaults:
                    raise IcebergProtocolError(
                        f"column {f.name!r} already exists — "
                        "initial-default can only be set when a field "
                        "is added"
                    )
                if old["type"] != ice_t and not _promotable(
                    old["type"], ice_t
                ):
                    raise UnsupportedIcebergFeatureError(
                        f"type change {old['type']!r} -> {ice_t!r} for "
                        f"column {f.name!r} is not supported"
                    )
                if old["type"] != ice_t:
                    old = dict(old)
                    old["type"] = ice_t  # promoted, same field id
                fields.append(old)
            else:
                if _ice_has_variant(ice_t) and int(
                    md.get("format-version", 1)
                ) < 3:
                    raise UnsupportedIcebergFeatureError(
                        f"column {f.name!r} is variant — a v3-only "
                        "type; upgrade_format_version(3) first"
                    )
                entry_f = {
                    "id": ids.next(),
                    "name": f.name,
                    "required": False,  # new columns must be optional
                    "type": ice_t,
                }
                if f.name in defaults:
                    jv = default_value_to_json(
                        ice_t, defaults.pop(f.name)
                    )
                    entry_f["initial-default"] = jv
                    entry_f["write-default"] = jv
                fields.append(entry_f)
        if defaults:
            raise IcebergProtocolError(
                f"defaults given for unknown columns: {sorted(defaults)}"
            )
        missing = set(by_name) - {f.name for f in new_schema.fields}
        if missing:
            raise UnsupportedIcebergFeatureError(
                f"dropping columns {sorted(missing)} is not supported"
            )
        new_id = max(s.get("schema-id", 0) for s in md["schemas"]) + 1
        entry = {"type": "struct", "schema-id": new_id, "fields": fields}
        md = dict(md)
        md["schemas"] = md["schemas"] + [entry]
        md["current-schema-id"] = new_id
        md["last-column-id"] = max(
            int(md.get("last-column-id", 0)), ids.last
        )
        md["last-updated-ms"] = int(time.time() * 1000)
        props = dict(md.get("properties") or {})
        props["schema.name-mapping.default"] = self._name_mapping(entry)
        md["properties"] = props
        self._commit_metadata_cas(md, pinned, "evolve_schema")
        return new_id

    def _assign_first_row_ids(
        self, md: dict, entries: list[dict]
    ) -> tuple[int, int] | None:
        """v3 row lineage writer duty: stamp ``first_row_id`` on each
        ADDED data-file entry (ids enumerate from the table's
        ``next-row-id``) and return (first, next) for the snapshot /
        metadata fields. None on v2 tables or v3 tables that predate
        lineage. Mutates ``entries`` in place; safe to re-run on a
        commit-race refold."""
        if int(md.get("format-version", 1)) < 3 or "next-row-id" not in md:
            return None
        nxt = int(md["next-row-id"])
        first = nxt
        for e in entries:
            df_ = e["data_file"]
            if int(df_.get("content", 0)) == 0:
                df_["first_row_id"] = nxt
                nxt += int(df_["record_count"])
        return (first, nxt)

    def _inherited_first_row_ids(self, snap: dict) -> dict[str, int]:
        """file_path -> effective first_row_id with the spec's
        MANIFEST-LEVEL inheritance applied: spec-compliant external v3
        writers leave data_file.first_row_id null and derive it as the
        manifest's first_row_id plus the cumulative record counts of
        preceding inheriting entries; explicit entry values win and do
        not consume from the running assignment."""
        out: dict[str, int] = {}
        for m in self._manifest_files(snap):
            if int(m.get("content", 0)) != 0:
                continue
            running = m.get("first_row_id")
            running = int(running) if running is not None else None
            _, recs = read_container(
                self._resolve_path(m["manifest_path"])
            )
            for e in recs:
                if int(e.get("status", 1)) == 2:
                    continue
                df_ = e["data_file"]
                explicit = df_.get("first_row_id")
                if explicit is not None:
                    out[df_["file_path"]] = int(explicit)
                elif running is not None:
                    out[df_["file_path"]] = running
                    running += int(df_["record_count"])
        return out

    def _branch_head(self, md: dict, branch: str) -> dict | None:
        """Head snapshot of a named branch ('main' = current)."""
        if branch == "main":
            return self.current_snapshot(md)
        ref = (md.get("refs") or {}).get(branch)
        if ref is None:
            return None
        return self._snapshot_by(int(ref["snapshot-id"]), md=md)

    def append(
        self,
        df: DataFrame,
        branch: str = "main",
        wap_id: str | None = None,
    ) -> int:
        """Append rows. ``branch`` commits to a named branch ref
        (created from main's head if absent) without touching main —
        audit the branch, then :meth:`fast_forward` main to publish.
        ``wap_id`` stages an UNREFERENCED snapshot tagged
        ``wap.id`` (requires table property ``write.wap.enabled``);
        publish via :meth:`cherrypick_snapshot`. Mirrors
        write-audit-publish on Iceberg (SnapshotManager.cherrypick /
        spark.wap.branch); the reference only writes through vendor
        catalogs (offline_store_spark_runner.py:920-934)."""
        md = self.metadata()
        if wap_id is not None:
            if branch != "main":
                raise IcebergProtocolError(
                    "wap_id and branch are mutually exclusive"
                )
            props = md.get("properties") or {}
            if str(props.get("write.wap.enabled", "")).lower() != "true":
                raise IcebergProtocolError(
                    "wap_id staging requires table property "
                    "write.wap.enabled=true"
                )
            for s in self.snapshots(md):
                summ = s.get("summary") or {}
                if wap_id in (
                    summ.get("wap.id"), summ.get("published-wap-id")
                ):
                    raise IcebergProtocolError(
                        f"duplicate wap.id {wap_id!r}: already "
                        f"staged/published by snapshot {s['snapshot-id']}"
                    )
        ice_schema = self.schema(md)
        # data files are metadata-independent: written ONCE, then
        # committed as a blind write that refolds fresh metadata per
        # attempt (an append that read metadata at version N and
        # committed at N+2 would otherwise clobber whatever landed at
        # N+1: a concurrent append, a statistics entry, a ref move)
        df = self._fill_write_defaults(df, ice_schema)
        files = self._write_data_files(
            df, ice_schema, self.partition_spec(md)
        )
        sid = self._commit(
            "append", "append", md, files,
            staged=[r["file_path"] for r in files],
            summary={"wap.id": wap_id} if wap_id is not None else None,
            branch=branch,
            stage_only=wap_id is not None,
        )
        # commit.manifest-merge.enabled + min-count-to-merge: when a
        # long append chain has accumulated enough manifests, fold them
        # as a follow-on 'replace' commit (real Iceberg merges during
        # the commit; the follow-on form keeps this writer's commits
        # single-purpose). Main-branch plain appends only.
        if branch == "main" and wap_id is None:
            props = md.get("properties") or {}
            if str(
                props.get("commit.manifest-merge.enabled", "")
            ).lower() == "true":
                try:
                    min_count = int(
                        props.get("commit.manifest.min-count-to-merge", 100)
                    )
                except ValueError:
                    min_count = 100
                head = self.current_snapshot()
                if (
                    head is not None
                    and len(self._manifest_files(head)) >= min_count
                ):
                    # The merge is an optimization, not part of the
                    # append's atomicity: the append's snapshot has
                    # already committed above. A lost commit race here
                    # (pinned-CAS loud-fail) must not propagate — a
                    # caller retrying the "failed" append would
                    # double-append the same rows. Swallow ONLY the
                    # lost race and let the next append (or an
                    # explicit rewrite_manifests) fold on fresh
                    # metadata. Anything else is real table damage —
                    # but it must surface as a DISTINCT type carrying
                    # the committed snapshot id: a plain propagate
                    # would hit retry-on-error append loops and
                    # double-append the rows the snapshot already
                    # holds.
                    try:
                        self.rewrite_manifests()
                    except CommitConflictError:
                        pass
                    except Exception as e:
                        raise AppendCommittedMaintenanceError(
                            f"append committed snapshot {sid} durably, "
                            "but the follow-on manifest merge failed: "
                            f"{e} — do NOT retry the append; run "
                            "rewrite_manifests() once the cause is "
                            "fixed",
                            snapshot_id=sid,
                        ) from e
        return sid

    def cherrypick_snapshot(self, snapshot_id: int) -> int:
        """Publish a staged (WAP) append snapshot onto main: re-apply
        the manifests the staged snapshot ADDED on top of main's
        current head as a NEW snapshot (Iceberg's cherrypick semantics
        for appends), stamping ``published-wap-id`` so the same wap.id
        cannot publish twice. Only 'append' snapshots cherry-pick;
        anything else raises (same restriction as Iceberg's
        CherryPickOperation for non-fast-forward picks)."""
        md, pinned = self._pinned_metadata()
        staged = self._snapshot_by(snapshot_id, md=md)
        if staged is None:
            raise IcebergProtocolError(f"unknown snapshot {snapshot_id}")
        summ = staged.get("summary") or {}
        if summ.get("operation") != "append":
            raise UnsupportedIcebergFeatureError(
                "cherrypick_snapshot supports append snapshots only "
                f"(got {summ.get('operation')!r})"
            )
        wap_id = summ.get("wap.id")
        if wap_id is not None:
            for s in self.snapshots(md):
                if (s.get("summary") or {}).get(
                    "published-wap-id"
                ) == wap_id:
                    raise IcebergProtocolError(
                        f"wap.id {wap_id!r} already published by "
                        f"snapshot {s['snapshot-id']}"
                    )
        _, staged_ml = read_container(
            self._resolve_path(staged["manifest-list"])
        )
        added = [
            m for m in staged_ml
            if int(m.get("added_snapshot_id") or -1)
            == int(staged["snapshot-id"])
        ]
        if not added:
            raise IcebergProtocolError(
                f"snapshot {snapshot_id} added no manifests; "
                "nothing to cherry-pick"
            )
        head = self.current_snapshot(md)
        head_manifests = []
        if head is not None:
            _, head_manifests = read_container(
                self._resolve_path(head["manifest-list"])
            )
        extra = {"source-snapshot-id": str(staged["snapshot-id"])}
        if wap_id is not None:
            extra["published-wap-id"] = wap_id
        return self._advance_pinned(
            "cherrypick_snapshot",
            md, head_manifests + added, "append",
            sum(int(m.get("added_files_count") or 0) for m in added),
            sum(int(m.get("added_rows_count") or 0) for m in added),
            extra_summary=extra,
            expect_version=pinned,
        )

    def main_lineage(self, md: dict | None = None) -> list[dict]:
        """Snapshots on MAIN's ancestry chain, oldest → newest — the
        commit history change readers must walk. ``md['snapshots']``
        is an unordered append log that also holds WAP-staged and
        branch snapshots (unreferenced by main); treating it as
        lineage emits unpublished data as changes and picks staged
        snapshots as diff parents. Walking parent-snapshot-id from
        current-snapshot-id (the same walk expire_snapshots uses for
        retain_last) yields exactly the published history."""
        if md is None:
            md = self.metadata()
        by_id = {
            int(s["snapshot-id"]): s for s in self.snapshots(md)
        }
        chain: list[dict] = []
        cur = md.get("current-snapshot-id")
        while cur is not None and int(cur) in by_id:
            s = by_id[int(cur)]
            chain.append(s)
            cur = s.get("parent-snapshot-id")
        chain.reverse()
        return chain

    def _is_ancestor(self, md: dict, ancestor_id: int, head_id: int) -> bool:
        by_id = {
            int(s["snapshot-id"]): s for s in self.snapshots(md)
        }
        cur: int | None = head_id
        while cur is not None:
            if cur == ancestor_id:
                return True
            cur = by_id.get(cur, {}).get("parent-snapshot-id")
            cur = int(cur) if cur is not None else None
        return False

    def rollback_to_snapshot(self, snapshot_id: int) -> int:
        """Iceberg's rollback_to_snapshot procedure: set main's
        current snapshot back to an ANCESTOR snapshot — metadata-only
        (no files move; the abandoned snapshots stay time-travelable
        until expire_snapshots). The Delta mirror is RESTORE, which
        must re-commit add/remove actions; Iceberg's snapshot pointer
        makes rollback one metadata CAS."""
        md, pinned = self._pinned_metadata()
        target = self._snapshot_by(snapshot_id, md=md)
        if target is None:
            raise IcebergProtocolError(
                f"unknown snapshot {snapshot_id}"
            )
        cur = md.get("current-snapshot-id")
        if cur is not None and not self._is_ancestor(
            md, snapshot_id, int(cur)
        ):
            raise IcebergProtocolError(
                f"snapshot {snapshot_id} is not an ancestor of the "
                f"current snapshot {cur} — use set_ref/cherry-pick "
                "for non-linear moves"
            )
        now = int(time.time() * 1000)
        md = dict(md)
        refs = dict(md.get("refs") or {})
        refs["main"] = {"snapshot-id": int(snapshot_id), "type": "branch"}
        md["refs"] = refs
        md["current-snapshot-id"] = int(snapshot_id)
        md["snapshot-log"] = (md.get("snapshot-log") or []) + [
            {"timestamp-ms": now, "snapshot-id": int(snapshot_id)}
        ]
        md["last-updated-ms"] = now
        self._commit_metadata_cas(md, pinned, "rollback_to_snapshot")
        return int(snapshot_id)

    def fast_forward(self, name: str, to_ref: str) -> int:
        """Fast-forward ref ``name`` (e.g. 'main') to the head of
        branch ``to_ref`` — publish step of branch-WAP. Requires
        ``name``'s head to be an ancestor of ``to_ref``'s head (true
        fast-forward; diverged branches raise)."""
        md, pinned = self._pinned_metadata()
        target = self._branch_head(md, to_ref)
        if target is None:
            raise IcebergProtocolError(f"unknown ref {to_ref!r}")
        target_id = int(target["snapshot-id"])
        cur = self._branch_head(md, name)
        if cur is not None and not self._is_ancestor(
            md, int(cur["snapshot-id"]), target_id
        ):
            raise IcebergProtocolError(
                f"cannot fast-forward {name!r}: its head "
                f"{cur['snapshot-id']} is not an ancestor of "
                f"{to_ref!r}'s head {target_id}"
            )
        now = int(time.time() * 1000)
        md = dict(md)
        refs = dict(md.get("refs") or {})
        refs[name] = {"snapshot-id": target_id, "type": "branch"}
        md["refs"] = refs
        if name == "main":
            md["current-snapshot-id"] = target_id
            md["snapshot-log"] = (md.get("snapshot-log") or []) + [
                {"timestamp-ms": now, "snapshot-id": target_id}
            ]
        md["last-updated-ms"] = now
        self._commit_metadata_cas(md, pinned, "fast_forward")
        return target_id

    def delete_rows(self, condition) -> int:
        """Row-level DELETE via v2 position deletes (merge-on-read):
        rows matching ``condition`` have their (file_path, pos) written
        as position-delete parquet + a delete manifest (a v3 table
        writes deletion vectors, :meth:`_delete_rows_v3`); data files
        are untouched — the reader anti-joins the delete set. Matching
        runs over :meth:`_scan` with every live delete applied and
        ``keep_pos``, so it sees the rows ``snapshot()`` shows
        (defaults included), already-deleted rows never match again,
        and discovery is one distributed scan. Returns the new snapshot
        id (or -1 when nothing matched).

        Note: per spec the delete-file columns carry reserved field-ids
        (2147483546/2147483545); Spark parquet writes no field-ids, so
        cross-engine readers resolve them by name — both columns use
        the spec names ``file_path``/``pos``."""
        md, pinned = self._pinned_metadata()
        schema = self.spark_schema(md)
        snap = self.current_snapshot(md)
        if snap is None:
            return -1
        data_entries, old_deletes = self._live_entries(snap)
        if not data_entries:
            return -1
        if self._nm_resolution(md, data_entries) or self._identity_patch(
            md, data_entries
        ):
            raise UnsupportedIcebergFeatureError(
                "delete_rows on a metadata-mirror table (UniForm) — "
                "write through the owning Delta side instead"
            )
        matched = (
            self._scan(md, schema, data_entries, old_deletes, keep_pos=True)
            .filter(condition)
            .select(
                F.col("__fp").alias("file_path"),
                F.col("__pos").alias("pos"),
            )
        )
        if int(md.get("format-version", 2)) >= 3:
            return self._delete_rows_v3(
                md, snap, matched, old_deletes, pinned
            )
        recs = _delete_records(
            write_staged(
                matched.orderBy("file_path", "pos"),
                self.path,
                lambda _d, _n: os.path.join(
                    DATA_DIR, f"{uuid.uuid4().hex}-deletes.parquet"
                ),
            ),
            1,
        )
        if not recs:
            return -1
        return self._commit(
            "delete_rows", "delete", md, deletes=recs, pinned=pinned,
            staged=[r["file_path"] for r in recs],
        )

    def _validate_eq_fields(
        self, md: dict, equality_fields: list[str]
    ) -> list[int]:
        """Resolve equality-delete identifier fields to their ids,
        refusing non-identifier types up front (spec: identifier
        fields must be primitives, never float/double — NaN breaks
        equality; variant/nested have no equality semantics and their
        parquet footers would crash the stats pass mid-write)."""
        by_name = {f["name"]: f for f in self.schema(md)["fields"]}
        eq_ids: list[int] = []
        for c in equality_fields:
            f = by_name.get(c)
            if f is None:
                raise IcebergProtocolError(
                    f"equality delete on unknown column {c!r}"
                )
            t = f["type"]
            if not isinstance(t, str):
                raise UnsupportedIcebergFeatureError(
                    f"equality delete on nested column {c!r} is not "
                    "supported by this writer"
                )
            if t in ("float", "double"):
                raise IcebergProtocolError(
                    f"equality delete on {c!r}: float/double columns "
                    "cannot be identifier fields"
                )
            ok = t in (
                "boolean", "int", "long", "string", "date", "time",
                "timestamp", "timestamptz", "timestamp_ntz", "uuid",
                "binary",
            ) or t.startswith(("decimal(", "fixed["))
            if not ok:
                raise IcebergProtocolError(
                    f"equality delete on {c!r}: type {t!r} is not a "
                    "valid identifier field (spec: primitives only)"
                )
            eq_ids.append(int(f["id"]))
        return eq_ids

    def _ensure_unpartitioned_spec(self, md: dict) -> int:
        """Spec id of an UNPARTITIONED partition spec, registering one
        in ``md['partition-specs']`` when absent (the mutation rides
        the metadata the SAME commit writes). Global equality deletes
        must be written under an unpartitioned spec: spec-conforming
        external readers scope a delete file by its manifest's spec —
        under the partitioned spec an empty partition tuple means 'the
        null partition', and every other partition's old key versions
        would resurrect outside this repo's reader."""
        specs = md.get("partition-specs")
        if not specs:
            # unpartitioned table: its default spec IS unpartitioned
            return int(md.get("default-spec-id", 0))
        for s in specs:
            if not s.get("fields"):
                return int(s["spec-id"])
        new_id = 1 + max(int(s["spec-id"]) for s in specs)
        md["partition-specs"] = list(specs) + [
            {"spec-id": new_id, "fields": []}
        ]
        return new_id

    def _mirror_guard(self, md: dict, snap: dict, op: str) -> None:
        """Refuse equality-delete/upsert writes into metadata-mirror
        tables (UniForm / name-mapped imports) — property checks FIRST
        so native tables pay ZERO manifest reads per commit (both
        underlying guards short-circuit on properties; reading every
        manifest per streaming micro-batch would otherwise grow with
        table history and break the documented O(batch) cost)."""
        props = md.get("properties") or {}
        nm_alternates = False
        nm = props.get("schema.name-mapping.default")
        if nm:
            # this engine's own create stamps an IDENTITY mapping
            # (names == [own name]); only a mapping with ALTERNATE
            # names marks a mirror — a pure JSON check, still zero
            # manifest reads (same rule _nm_resolution applies)
            try:
                nm_alternates = any(
                    len(e.get("names") or []) > 1 for e in json.loads(nm)
                )
            except ValueError:
                nm_alternates = True  # unparseable: let the guard look
        if (
            not nm_alternates
            and "delta.uniform.delta-version" not in props
            and props.get("featureform.partition-values-from-metadata")
            != "true"
        ):
            return
        data_entries, _old = self._live_entries(snap)
        if self._nm_resolution(md, data_entries) or self._identity_patch(
            md, data_entries
        ):
            raise UnsupportedIcebergFeatureError(
                f"{op} on a metadata-mirror table (UniForm) — write "
                "through the owning Delta side instead"
            )

    def _eq_delete_records(
        self, keys: DataFrame, equality_fields: list[str], eq_ids: list[int]
    ) -> list[dict]:
        """Write DISTINCT key tuples as equality-delete parquet
        (content=2) and return their data_file records. The delete file
        carries ONLY the equality columns plus ``equality_ids`` (their
        field ids) in the manifest — the spec's content-2 shape any v2
        reader (including this repo's ``_scan``) applies
        with null-safe matching to data files with strictly older
        sequence numbers."""
        # one delete file per commit (Flink's per-checkpoint shape):
        # the reader broadcasts delete sets, so fewer/larger beats many
        # tiny ones; distinct() both dedupes and bounds the file to the
        # key-tuple cardinality
        recs = write_staged(
            keys.select(*equality_fields).distinct().coalesce(1),
            self.path,
            lambda _d, _n: os.path.join(
                DATA_DIR, f"{uuid.uuid4().hex}-eq-deletes.parquet"
            ),
        )
        return _delete_records(recs, 2, equality_ids=eq_ids)

    def txn_watermark(self, app_id: str, md: dict | None = None) -> int:
        """Highest committed transaction version for ``app_id``, read
        from snapshot summaries (``ffspark.txn.<app>`` keys — the same
        mechanism Flink uses for its max-committed-checkpoint-id;
        Iceberg has no SetTransaction action, so exactly-once
        watermarks ride the summary). -1 when none."""
        key = f"ffspark.txn.{app_id}"
        md = md or self.metadata()
        # expire_snapshots folds expired snapshots' watermarks into
        # properties so the guarantee survives maintenance
        best = int((md.get("properties") or {}).get(key, -1))
        for s in self.snapshots(md):
            v = (s.get("summary") or {}).get(key)
            if v is not None:
                best = max(best, int(v))
        return best

    def upsert(
        self,
        df: DataFrame,
        key_fields: list[str],
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Flink-style streaming UPSERT in ONE snapshot: new data
        files AND an equality delete on the batch's keys commit at the
        SAME sequence number — the delete applies only to STRICTLY
        older data files (spec scan-planning rule), so the new rows
        survive their own delete while every older row with a matching
        key disappears. The writer never scans the table: cost is
        O(batch), which is what makes CDC ingestion into a 100 TB
        table feasible where copy-on-write MERGE would rewrite files
        per batch.

        The batch must be key-unique (two versions of one key in a
        single batch share a sequence number, so neither could win) —
        enforced with one aggregate; dedupe upstream, as streaming
        writers do.

        ``txn=(app_id, version)`` gives exactly-once replay semantics
        (the foreachBatch sink's contract): a version at or below the
        app's committed watermark no-ops returning -1. The watermark
        rides snapshot summaries (``ffspark.txn.<app>``) — Flink's
        max-committed-checkpoint-id mechanism, since Iceberg has no
        Delta-style SetTransaction action."""
        md = self.metadata()
        if self.current_snapshot(md) is None:
            raise IcebergProtocolError(
                "upsert needs an existing table; use create/append"
            )
        if txn is not None and int(txn[1]) <= self.txn_watermark(
            txn[0], md
        ):
            return -1
        eq_ids = self._validate_eq_fields(md, key_fields)
        # three actions read this batch (dup check, data-file write,
        # key delete-file write); foreachBatch batches are uncached, so
        # pin the lineage once — an expensive upstream transform must
        # not run three times per micro-batch
        df = df.localCheckpoint(eager=True)
        # struct() so NULL keys count: count_distinct over bare columns
        # skips any-NULL rows, spuriously flagging a valid batch with
        # one NULL key as duplicate (null-keyed rows are first-class
        # equality-delete citizens — nulls match null-safe)
        dup = df.agg(
            (
                F.count(F.lit(1))
                - F.count_distinct(
                    F.struct(*[F.col(c) for c in key_fields])
                )
            ).alias("_d")
        ).first()["_d"]
        if dup:
            raise IcebergProtocolError(
                f"upsert batch has {dup} duplicate key tuple(s) on "
                f"{key_fields}; dedupe the batch first (both versions "
                "would share one sequence number)"
            )
        ice_schema = self.schema(md)
        df = self._fill_write_defaults(df, ice_schema)
        # the data-file write and the equality-delete-file write both
        # read the checkpointed batch and are independent of each
        # other's output — overlap them (guide §2.6) instead of
        # serializing two sub-second jobs; both must succeed before
        # anything commits, and a failed one takes the other's files
        from concurrent.futures import ThreadPoolExecutor, wait

        with ThreadPoolExecutor(max_workers=2) as _pool:
            futures = [
                _pool.submit(
                    self._write_data_files,
                    df, ice_schema, self.partition_spec(md),
                ),
                _pool.submit(
                    self._eq_delete_records, df, key_fields, eq_ids
                ),
            ]
            wait(futures)
        if any(f.exception() for f in futures):
            discard([
                r["file_path"]
                for f in futures
                if not f.exception()
                for r in f.result()
            ])
            next(f for f in futures if f.exception()).result()
        files, deletes = (f.result() for f in futures)
        return self._commit(
            "upsert", "overwrite", md, files, deletes,
            staged=[r["file_path"] for r in files + deletes], txn=txn,
        )

    def upsert_arrow(
        self,
        data,
        key_fields: list[str],
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Sessionless streaming UPSERT — :meth:`upsert`'s twin for
        JVM-free ingest pods (the Flight ``do_put`` shape, mirroring
        ``append_arrow``): batches stream into one data file through
        ``staged_write.write_arrow`` while the key tuples accumulate
        for the duplicate check and the equality-delete file; data file
        and key delete commit at ONE sequence number, so the delete
        applies only to strictly older files and the batch survives its
        own delete. Pod memory holds the key-tuple set — the same order
        of bytes as the delete file that must be written anyway, NOT
        the data batch.

        Same exactly-once ``txn`` watermark as :meth:`upsert`; it is a
        blind write of :meth:`_commit`, which re-checks the watermark
        on every attempt, so two pods replaying one batch id cannot
        both land it."""
        import pyarrow as pa

        md = self.metadata()
        if self.current_snapshot(md) is None:
            raise IcebergProtocolError(
                "upsert needs an existing table; use create/append"
            )
        eq_ids = self._validate_eq_fields(md, key_fields)
        if txn is not None and int(txn[1]) <= self.txn_watermark(
            txn[0], md
        ):
            return -1
        seen: set[tuple] = set()
        key_types: list = []

        def _keys(batch) -> None:
            kb = batch.select(key_fields)
            key_types[:] = kb.schema.types
            for tup in zip(*(c.to_pylist() for c in kb.columns)):
                if tup in seen:
                    raise IcebergProtocolError(
                        f"upsert batch has duplicate key tuple {tup!r} "
                        f"on {key_fields}; dedupe the batch first (both "
                        "versions would share one sequence number)"
                    )
                seen.add(tup)

        record = self._arrow_data_file(md, data, "upsert_arrow", _keys)
        if record is None or not seen:
            discard([record["file_path"]] if record else [])
            return -1  # empty upload
        # distinct key tuples -> the equality-delete parquet
        ordered = sorted(
            seen, key=lambda t: tuple((v is None, v) for v in t)
        )
        try:
            rec = write_arrow(
                pa.table({
                    name: pa.array([t[i] for t in ordered], type=key_types[i])
                    for i, name in enumerate(key_fields)
                }),
                os.path.join(
                    self.path,
                    DATA_DIR,
                    f"{uuid.uuid4().hex}-eq-deletes.parquet",
                ),
            )
        except BaseException:
            discard([record["file_path"]])
            raise
        deletes = _delete_records([rec], 2, equality_ids=eq_ids)
        return self._commit(
            "upsert_arrow", "overwrite", md, [record], deletes,
            staged=[record["file_path"], rec.path], txn=txn,
        )

    def _delete_rows_v3(
        self, md: dict, snap: dict, matched: DataFrame,
        old_deletes: list[dict], pinned: int,
    ) -> int:
        """format-version 3 DELETE: per-file deletion vectors in ONE
        Puffin file instead of position-delete parquet (v3 forbids
        writing new position deletes). Maintains the spec's one-DV-per-
        file invariant: :func:`dv_bitmap.encode_vectors` folds every
        prior position of a touched file — its vector and any v2
        PARQUET position deletes — into the new vector, and the
        superseded DV entries are dropped from the carried delete
        manifests (rewritten in place at their original sequence
        numbers); the parquet deletes' manifests stay carried — their
        rows are a subset of the new DV, so union-applying readers
        remain exact.

        Scale: one scan finds the matches and the vectors are
        roaring-encoded EXECUTOR-side; only (file, blob, cardinality)
        rows reach the driver. -1 when no new row matched."""
        from featureform_spark.sources.dv_bitmap import (
            encode_vectors,
            write_puffin_dvs,
        )

        prev = self._position_frame(old_deletes)
        encoded = encode_vectors(
            matched, None if prev is None else prev.select("path", "pos")
        )
        if not encoded:
            return -1
        os.makedirs(os.path.join(self.path, DATA_DIR), exist_ok=True)
        puffin = os.path.join(
            self.path, DATA_DIR, f"{uuid.uuid4().hex}-deletes.puffin"
        )
        metas = write_puffin_dvs(puffin, encoded)
        deletes = [
            dv_record(puffin, r["file"], m["offset"], m["length"], r["card"])
            for r, m in zip(encoded, metas)
        ]
        touched_set = {r["file"] for r in encoded}
        ice_schema = self.schema(md)
        spec_by_id = self._spec_fields_by_id(md)
        carried = []
        staged = [puffin]
        for m in self._manifest_files(snap):
            if int(m.get("content", 0)) != 1:
                carried.append(m)
                continue
            _, recs = read_container(self._resolve_path(m["manifest_path"]))
            keep = [
                e
                for e in recs
                if not (
                    _is_dv_file(e["data_file"])
                    and self._resolve_path(
                        e["data_file"]["referenced_data_file"]
                    )
                    in touched_set
                )
            ]
            if len(keep) == len(recs):
                carried.append(m)
            elif keep:
                spec_id = int(m.get("partition_spec_id") or 0)
                carried.append(
                    self._write_manifest(
                        keep,
                        ice_schema,
                        spec_by_id.get(spec_id, []),
                        spec_id,
                        m["added_snapshot_id"],
                        m["sequence_number"],
                        content=1,
                    )
                )
                staged.append(carried[-1]["manifest_path"])
            # else: every entry superseded — drop the manifest
        return self._commit(
            "delete_rows", "delete", md, deletes=deletes, pinned=pinned,
            keep=carried, staged=staged,
        )

    def upgrade_format_version(self, version: int) -> None:
        """ALTER TABLE upgrade: v2 -> v3. After the upgrade,
        delete_rows writes puffin deletion vectors instead of
        position-delete parquet (v3 forbids new position deletes);
        existing v2 delete files keep applying on read."""
        md, pinned = self._pinned_metadata()
        cur = int(md.get("format-version", 1))
        if version == cur:
            return
        if not (cur == 2 and version == 3):
            raise IcebergProtocolError(
                f"unsupported format-version upgrade {cur} -> {version}"
            )
        md2 = dict(md)
        md2["format-version"] = 3
        # v3 row lineage starts enumerating at the upgrade: files
        # written BEFORE it carry no first_row_id and read NULL row
        # ids until rewritten (the spec's upgrade semantics)
        md2.setdefault("next-row-id", 0)
        md2["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata_cas(md2, pinned, "upgrade_format_version")

    def delete_by_keys(self, keys_df: DataFrame, key_cols: list[str]) -> int:
        """Row-level DELETE via v2 EQUALITY deletes (spec content=2):
        every current row whose ``key_cols`` tuple appears in
        ``keys_df`` is deleted — without scanning the data at all (the
        streaming-engine delete shape; Flink's Iceberg sink emits
        exactly these). The delete file carries just the distinct key
        tuples + ``equality_ids``; application happens at read time,
        null-safe, scoped to files with data_seq < delete_seq, so a
        later re-append of the same keys survives. Returns the new
        snapshot id (-1 on an empty table or empty key set).

        Position deletes (:meth:`delete_rows`) need a table scan to
        find (file, pos) but make reads cheap; equality deletes are
        O(keys) to write but each read matches keys against the scan —
        fold them away periodically with :meth:`rewrite_data_files`,
        exactly as streaming Iceberg deployments do. Float/double key
        columns are refused (spec: identifier fields must not be
        float/double — NaN breaks equality)."""
        md = self.metadata()
        # validate BEFORE the empty-table early return: a typo'd key
        # column must raise even when there is nothing to delete yet
        eq_ids = self._validate_eq_fields(md, key_cols)
        if self.current_snapshot(md) is None:
            return -1
        deletes = self._eq_delete_records(keys_df, key_cols, eq_ids)
        if not deletes:
            return -1
        return self._commit(
            "delete_by_keys", "delete", md, deletes=deletes,
            staged=[r["file_path"] for r in deletes],
        )

    def rewrite_data_files(
        self,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Compaction (the spec's rewrite-data-files maintenance
        action): materialize the current merge-on-read state into fresh
        data files and commit a snapshot whose manifest list carries
        ONLY the new manifest — applied position/equality deletes are
        folded in and their files age out of scope, so subsequent reads
        pay zero delete-join cost. Row-identical to ``snapshot()`` by
        construction (it IS the write of that DataFrame); time travel
        to pre-compaction snapshots still resolves the old manifests.
        Returns the new snapshot id (or -1 for an empty/absent table).

        ``sort_by``: bin-pack into range-partitioned sorted files and
        record a REAL sort order in table metadata (spec §Sort Orders:
        identity transform, asc, nulls-first) referenced by the new
        data files' ``sort_order_id`` — the rewrite strategy Iceberg's
        rewriteDataFiles(sort) runs, tightening per-file bounds so
        scan planning prunes harder. ``zorder_by``: cluster on a
        Morton curve over several columns (shared
        zorder.zorder_cluster helper — one sampled quantile pass +
        one range repartition); multi-dimensional locality without a
        total order, so no spec sort-order is recorded (matching
        Iceberg, whose z-order is an engine strategy, not a sort
        order)."""
        if sort_by and zorder_by:
            raise IcebergProtocolError(
                "rewrite_data_files: sort_by and zorder_by are "
                "mutually exclusive"
            )
        md, pinned = self._pinned_metadata()
        snap = self.current_snapshot(md)
        if snap is None:
            return -1
        if (
            int(md.get("format-version", 1)) >= 3
            and "next-row-id" in md
        ):
            # v3 row lineage: a rewrite must PRESERVE each carried
            # row's id — materialize _row_id/_last_updated_sequence_
            # number columns into the new files (reserved names; the
            # row-id read coalesces them ahead of first_row_id+pos)
            current = self.snapshot_with_row_ids()
        else:
            current = self.snapshot()
        ice_schema = self.schema(md)
        spec_fields = self.partition_spec(md)
        cols = current.columns
        sort_order_id = None
        if sort_by:
            by_name = {f["name"]: f for f in ice_schema["fields"]}
            missing = [c for c in sort_by if c not in by_name]
            if missing:
                raise IcebergProtocolError(
                    f"unknown sort columns {missing}"
                )
            current = current.repartitionByRange(
                *sort_by
            ).sortWithinPartitions(*sort_by)
            orders = list(md.get("sort-orders") or [])
            sort_order_id = (
                max((o.get("order-id", 0) for o in orders), default=0)
                + 1
            )
            orders.append(
                {
                    "order-id": sort_order_id,
                    "fields": [
                        {
                            "transform": "identity",
                            "source-id": by_name[c]["id"],
                            "direction": "asc",
                            "null-order": "nulls-first",
                        }
                        for c in sort_by
                    ],
                }
            )
            md = dict(md)
            md["sort-orders"] = orders
            md["default-sort-order-id"] = sort_order_id
        elif zorder_by:
            from featureform_spark.sources.zorder import zorder_cluster

            by_name = {f["name"]: f for f in ice_schema["fields"]}
            for c in zorder_by:
                t_ = (by_name.get(c) or {}).get("type")
                if not isinstance(t_, str) or t_ not in (
                    "int", "long", "float", "double",
                    "date", "timestamp", "timestamptz",
                ):
                    raise IcebergProtocolError(
                        "zorder supports numeric/temporal columns, "
                        f"{c!r} is {t_!r}"
                    )
            data_entries, _d = self._live_entries(snap)
            n_files = max(1, len(data_entries))
            current = zorder_cluster(current, zorder_by, n_files).select(
                *cols
            )
        files = self._write_data_files(current, ice_schema, spec_fields)
        if sort_order_id is not None:
            for r in files:
                r["sort_order_id"] = sort_order_id
        return self._commit(
            "rewrite_data_files", "replace", md, files, pinned=pinned,
            keep=[], staged=[r["file_path"] for r in files],
        )

    def overwrite(self, df: DataFrame) -> int:
        """Full-table overwrite: the new snapshot's manifest list
        carries only the new manifest (old files age out of scope)."""
        md, pinned = self._pinned_metadata()
        ice_schema = self.schema(md)
        files = self._write_data_files(
            self._fill_write_defaults(df, ice_schema),
            ice_schema,
            self.partition_spec(md),
        )
        return self._commit(
            "overwrite", "overwrite", md, files, pinned=pinned, keep=[],
            staged=[r["file_path"] for r in files],
        )


class IcebergCatalog:
    """Hadoop-style path catalog: ``warehouse/<namespace>/<table>`` —
    the addressing shape behind the reference's ``ff_catalog.<location>``
    (offline_store_spark_runner.py:966-968)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse

    def _table_path(self, identifier: str) -> str:
        parts = [p for p in identifier.split(".") if p]
        if not parts:
            raise IcebergProtocolError("empty table identifier")
        return os.path.join(self.warehouse, *parts)

    def load_table(self, identifier: str) -> IcebergProtocolTable:
        t = IcebergProtocolTable(self.spark, self._table_path(identifier))
        if not t.exists():
            raise IcebergProtocolError(f"no such table: {identifier}")
        return t

    def table_exists(self, identifier: str) -> bool:
        return IcebergProtocolTable(
            self.spark, self._table_path(identifier)
        ).exists()

    def create_table(
        self,
        identifier: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> IcebergProtocolTable:
        t = IcebergProtocolTable(self.spark, self._table_path(identifier))
        t.create(df, partition_by)
        return t


def read_iceberg_path(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    ordinal: int | None = None,
) -> DataFrame:
    """Read a real Iceberg table at a filesystem path. Tries the vendor
    connector first (identical to the reference's IcebergSource read,
    offline_store_spark_runner.py:966-980); falls back to the protocol
    reader ONLY when the connector is absent."""
    try:
        r = spark.read.format("iceberg")
        if snapshot_id is not None:
            r = r.option("snapshot-id", str(snapshot_id))
        return r.load(path)
    except Exception as e:  # noqa: BLE001 — filtered below
        msg = str(e)
        if not (
            "Failed to find data source" in msg
            or "DATA_SOURCE_NOT_FOUND" in msg
        ):
            raise
        return IcebergProtocolTable(spark, path).snapshot(
            snapshot_id, ordinal
        )
