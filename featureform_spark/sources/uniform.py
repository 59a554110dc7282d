"""Delta UniForm: metadata-only Iceberg mirroring of a Delta table.

Delta's UniForm feature asynchronously writes Iceberg metadata next to
the Delta log so Iceberg readers can consume the SAME parquet data
files — no data is copied (delta-io PROTOCOL.md / Delta 3.x UniForm;
the reference reads both formats through vendor connectors,
offline_store_spark_runner.py:966-987, so a UniForm table serves both
of its read paths from one storage footprint). ``sync_uniform``
implements that conversion over the two in-repo format
implementations:

- the Delta state (sources/delta_protocol.py) is folded and each live
  data file becomes an Iceberg data_file entry with footer-derived
  stats (record_count, value/null counts, bounds keyed by field-id) —
  the files themselves are REFERENCED, never rewritten;
- deletion vectors: a v2 mirror converts them to POSITION DELETES
  (bitmaps decode to (file_path, pos) rows in one delete parquet); a
  v3 mirror (``iceberg_format_version=3``) references Delta's DV blob
  BYTES in place as Iceberg deletion-vector entries — zero
  conversion, the two formats share the framed roaring-portable
  layout — so merge-on-read on either side applies the same vector;
- each sync commits one Iceberg snapshot reflecting the Delta version
  (recorded in the ``delta.uniform.delta-version`` table property);
  re-syncing an unchanged table is a no-op.

Hive-partitioned Delta tables sync with an IDENTITY partition spec:
partition values (which live only in directory names on the Delta
side) are converted to typed Iceberg partition tuples per data file,
and the Iceberg reader reattaches them from metadata at scan time
(``_identity_patch``, triggered by the UniForm table property).
COLUMN-MAPPED Delta tables sync via Iceberg name mapping (spec
§Column Projection): the mirror's ``schema.name-mapping.default``
lists the Delta physical column names as alternates, and the Iceberg
reader resolves file columns back to the logical schema
(``_nm_resolution``) — exactly how real UniForm handles column
mapping.

Scale: driver-side metadata + footer reads (file-count scale) plus a
cardinality-scale DV decode — the same costs the real UniForm
conversion pays; the data plane is untouched.
"""

from __future__ import annotations

import os
import time
import urllib.parse
import uuid

from featureform_spark.sources.delta_protocol import (
    abs_data_path,
    DeltaProtocolTable,
    UnsupportedTableFeatureError,
)
from featureform_spark.sources.iceberg_protocol import (
    IcebergProtocolTable,
    MANIFEST_LIST_SCHEMA,
    data_file_record,
    spark_schema_to_iceberg,
)
from featureform_spark.sources.avro_codec import write_container
from featureform_spark.sources.staged_write import FileRecord, fold_footer

DELTA_VERSION_PROP = "delta.uniform.delta-version"


def _typed_partition_value(raw: str | None, ice_type: str):
    """Delta partitionValues string -> the Iceberg partition-tuple
    storage domain (dates as epoch days, timestamps as micros)."""
    if raw is None:
        return None
    if ice_type in ("int", "long"):
        return int(raw)
    if ice_type in ("float", "double"):
        return float(raw)
    if ice_type == "boolean":
        return raw.lower() == "true"
    if ice_type == "date":
        import datetime

        return (
            datetime.date.fromisoformat(raw) - datetime.date(1970, 1, 1)
        ).days
    if ice_type.startswith("timestamp"):
        import datetime

        dt = datetime.datetime.fromisoformat(raw)
        epoch = datetime.datetime(1970, 1, 1, tzinfo=dt.tzinfo)
        d = dt - epoch
        # exact integer micros: total_seconds() is a float and drops
        # microseconds beyond ~2242 (2^53 ns)
        return (
            d.days * 86_400_000_000
            + d.seconds * 1_000_000
            + d.microseconds
        )
    return raw


def _identity_spec(ice_schema: dict, partition_columns: list[str]) -> list:
    """Identity partition-spec fields for the Delta table's Hive
    partition columns (spec field ids from 1000 per convention)."""
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    return [
        {
            "name": c,
            "transform": "identity",
            "source-id": by_name[c]["id"],
            "field-id": 1000 + i,
        }
        for i, c in enumerate(partition_columns)
    ]


def _uniform_name_mapping(ice_schema: dict, column_mapping) -> str:
    """Iceberg name mapping (spec §Column Projection) with the Delta
    PHYSICAL column names as alternates for column-mapped tables — the
    data files store physical names, and any name-mapping-aware reader
    (including iceberg_protocol._nm_resolution) resolves them back to
    the logical schema."""
    import json

    phys_by_logical = {lo: ph for ph, lo in (column_mapping or [])}
    return json.dumps(
        [
            {
                "field-id": f["id"],
                "names": [f["name"]]
                + (
                    [phys_by_logical[f["name"]]]
                    if f["name"] in phys_by_logical
                    else []
                ),
            }
            for f in ice_schema["fields"]
        ]
    )


def _data_records(ice: IcebergProtocolTable, ice_schema: dict, st) -> list:
    phys_by_logical = {lo: ph for ph, lo in (st.column_mapping or [])}
    # footer columns carry PHYSICAL names on column-mapped tables;
    # Delta partitionValues keys are physical too
    name_to_field = {
        phys_by_logical.get(f["name"], f["name"]): f
        for f in ice_schema["fields"]
    }
    records = []
    for rel in sorted(st.adds):
        abs_p = abs_data_path(ice.path, rel)
        part = {
            c: _typed_partition_value(
                (st.adds[rel].get("partitionValues") or {}).get(
                    phys_by_logical.get(c, c)
                ),
                name_to_field[phys_by_logical.get(c, c)]["type"],
            )
            for c in st.partition_columns
        }
        try:
            rec = fold_footer(abs_p)
        except OSError:
            # footers pyarrow cannot parse (VARIANT): take numRecords
            # from the Delta add's own stats; bounds stay empty
            import json as _json

            raw = st.adds[rel].get("stats")
            n = (_json.loads(raw) or {}).get("numRecords") if raw else None
            if n is None:
                raise UnsupportedTableFeatureError(
                    f"cannot mirror {rel!r}: unparseable footer and no "
                    "numRecords in the add's stats"
                ) from None
            rec = FileRecord(abs_p, os.path.getsize(abs_p), int(n), None)
        records.append(data_file_record(rec, name_to_field, part))
    return records


def _dv_v3_records(delta: DeltaProtocolTable, st) -> list[dict] | None:
    """Delta DV descriptors as Iceberg v3 deletion-vector entries
    referencing the SAME on-disk bytes — zero conversion: both formats
    frame the roaring-portable bitmap identically (4-byte BE length +
    blob + CRC), so the Iceberg entry simply points
    (file_path=<delta dv file>, content_offset, content_size_in_bytes)
    at Delta's blob. None when any DV is inline ('i' storage — no file
    to reference; caller falls back to the v2 position-delete parquet)."""
    out: list[dict] = []
    for rel in sorted(st.adds):
        dv = st.adds[rel].get("deletionVector")
        if not dv:
            continue
        loc = delta._dv_file_location(dv)
        if loc is None:
            return None
        dv_path, off, size = loc
        out.append(
            {
                "content": 1,
                "file_path": dv_path,
                "file_format": "PUFFIN",
                "partition": {},
                "record_count": int(dv["cardinality"]),
                "file_size_in_bytes": os.path.getsize(dv_path),
                "value_counts": [],
                "null_value_counts": [],
                "lower_bounds": [],
                "upper_bounds": [],
                "referenced_data_file": abs_data_path(delta.path, rel),
                "content_offset": off,
                "content_size_in_bytes": size,
            }
        )
    return out


def _dv_records(
    delta: DeltaProtocolTable, st, format_version: int
) -> list[dict]:
    """Delete-file records for the sync: v3 mirrors reference Delta's
    DV bytes in place; v2 (or inline DVs) convert to one
    position-delete parquet."""
    if format_version >= 3:
        recs = _dv_v3_records(delta, st)
        if recs is not None:
            return recs
    rec = _dv_delete_record(delta, st)
    return [rec] if rec is not None else []


def _dv_delete_record(delta: DeltaProtocolTable, st) -> dict | None:
    """All deletion-vector positions as ONE sorted position-delete
    parquet (spec column names file_path/pos); None when no DVs.

    Streams one record batch per DV'd file through a ParquetWriter:
    peak memory is a single file's decoded positions (bounded by that
    file's row count), never the table's total deleted cardinality —
    the metadata-only sync stays driver-side like real UniForm, but a
    billions-deleted table converts file-by-file."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            pa.field("file_path", pa.string()),
            pa.field("pos", pa.int64()),
        ]
    )
    out_dir = os.path.join(delta.path, "metadata")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"uniform-delete-{uuid.uuid4().hex}.parquet")
    writer = None
    total = 0
    try:
        for rel in sorted(st.adds):
            dv = st.adds[rel].get("deletionVector")
            if not dv:
                continue
            abs_p = abs_data_path(delta.path, rel)
            pos = delta._dv_positions(dv).astype("int64")
            batch = pa.record_batch(
                [
                    pa.array(np.repeat(abs_p, len(pos))).cast(pa.string()),
                    pa.array(pos, type=pa.int64()),
                ],
                schema=schema,
            )
            if writer is None:
                writer = pq.ParquetWriter(out, schema)
            writer.write_batch(batch)
            total += len(pos)
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return None
    return {
        "content": 1,
        "file_path": out,
        "file_format": "PARQUET",
        "partition": {},
        "record_count": total,
        "file_size_in_bytes": os.path.getsize(out),
        "value_counts": [],
        "null_value_counts": [],
        "lower_bounds": [],
        "upper_bounds": [],
    }


def sync_uniform(
    spark, path: str, iceberg_format_version: int = 2
) -> int:
    """Convert the Delta table at ``path`` to (or advance) its Iceberg
    mirror; returns the committed Iceberg snapshot id (-1 when already
    in sync). ``iceberg_format_version=3`` mirrors deletion vectors as
    v3 DV entries that reference Delta's blob BYTES in place (zero
    conversion — the framed roaring layout is shared); 2 (default)
    converts them to one position-delete parquet. Resyncs keep the
    mirror's existing format version."""
    if iceberg_format_version not in (2, 3):
        raise UnsupportedTableFeatureError(
            f"iceberg_format_version {iceberg_format_version} (2 or 3)"
        )
    delta = DeltaProtocolTable(spark, path)
    st = delta.state()
    ice = IcebergProtocolTable(spark, path)
    ice_schema = spark_schema_to_iceberg(st.schema)
    from featureform_spark.sources.iceberg_protocol import _ice_has_variant

    if _ice_has_variant(
        {"type": "struct", "fields": ice_schema["fields"]}
    ) and iceberg_format_version < 3:
        raise UnsupportedTableFeatureError(
            "variant columns exist only at Iceberg format-version 3 — "
            "sync_uniform(..., iceberg_format_version=3)"
        )
    last_col_id = ice_schema.pop("_last_column_id")
    # Hive-partitioned Delta: partition values live only in directory
    # names, so the mirror carries an IDENTITY partition spec and
    # per-file partition tuples; the Iceberg reader reattaches the
    # values from metadata (triggered by DELTA_VERSION_PROP).
    spec_fields = _identity_spec(ice_schema, st.partition_columns)

    if ice.exists():
        md = ice.metadata()
        synced = (md.get("properties") or {}).get(DELTA_VERSION_PROP)
        if synced is not None and int(synced) == st.version:
            return -1
        if (
            self_schema := ice.schema(md)
        ) and [f["name"] for f in self_schema["fields"]] != [
            f["name"] for f in ice_schema["fields"]
        ]:
            ice.evolve_schema(st.schema)
            md = ice.metadata()
        seq = int(md.get("last-sequence-number", 0)) + 1
        snapshot_id = int(uuid.uuid4().int % (1 << 62))
        records = _data_records(ice, ice.schema(md), st)
        entries = [
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": r,
            }
            for r in records
        ]
        spec_id = md.get("default-spec-id", 0)
        cur_spec = ice.partition_spec(md) or spec_fields
        manifests = [
            ice._write_manifest(
                entries, ice.schema(md), cur_spec, spec_id, snapshot_id, seq
            )
        ]
        dv_recs = _dv_records(
            delta, st, int(md.get("format-version", 2))
        )
        if dv_recs:
            manifests.append(
                ice._write_manifest(
                    [
                        {
                            "status": 1,
                            "snapshot_id": snapshot_id,
                            "sequence_number": seq,
                            "file_sequence_number": seq,
                            "data_file": r,
                        }
                        for r in dv_recs
                    ],
                    ice.schema(md),
                    cur_spec,
                    spec_id,
                    snapshot_id,
                    seq,
                    content=1,
                )
            )
        props = dict(md.get("properties") or {})
        props[DELTA_VERSION_PROP] = str(st.version)
        md = dict(md)
        md["properties"] = props
        # full-state replacement: the manifest list holds ONLY the new
        # manifests, so the snapshot equals the Delta version exactly
        return ice._advance(
            md,
            manifests,
            "replace",
            len(records),
            sum(r["record_count"] for r in records),
            snapshot_id=snapshot_id,
        )

    # first sync: create the Iceberg metadata referencing delta's files
    snapshot_id = int(uuid.uuid4().int % (1 << 62))
    now = int(time.time() * 1000)
    records = _data_records(ice, ice_schema, st)
    entries = [
        {
            "status": 1,
            "snapshot_id": snapshot_id,
            "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": r,
        }
        for r in records
    ]
    manifests = [
        ice._write_manifest(
            entries, ice_schema, spec_fields, 0, snapshot_id, 1
        )
    ]
    dv_recs = _dv_records(delta, st, iceberg_format_version)
    if dv_recs:
        manifests.append(
            ice._write_manifest(
                [
                    {
                        "status": 1,
                        "snapshot_id": snapshot_id,
                        "sequence_number": 1,
                        "file_sequence_number": 1,
                        "data_file": r,
                    }
                    for r in dv_recs
                ],
                ice_schema,
                spec_fields,
                0,
                snapshot_id,
                1,
                content=1,
            )
        )
    ml_path = os.path.join(
        ice.metadata_path, f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
    )
    write_container(ml_path, MANIFEST_LIST_SCHEMA, manifests)
    snap = {
        "snapshot-id": snapshot_id,
        "sequence-number": 1,
        "timestamp-ms": now,
        "manifest-list": ml_path,
        "summary": {
            "operation": "append",
            "added-data-files": str(len(records)),
            "added-records": str(sum(r["record_count"] for r in records)),
        },
        "schema-id": 0,
    }
    md = {
        "format-version": iceberg_format_version,
        "table-uuid": str(uuid.uuid4()),
        "location": ice.path,
        "last-sequence-number": 1,
        "last-updated-ms": now,
        "last-column-id": last_col_id,
        "current-schema-id": 0,
        "schemas": [ice_schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": 999 + len(spec_fields),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "write.format.default": "parquet",
            "schema.name-mapping.default": _uniform_name_mapping(
                ice_schema, st.column_mapping
            ),
            DELTA_VERSION_PROP: str(st.version),
        },
        "current-snapshot-id": snapshot_id,
        "snapshots": [snap],
        "snapshot-log": [{"timestamp-ms": now, "snapshot-id": snapshot_id}],
        "metadata-log": [],
    }
    ice._commit_metadata(md, 1)
    return snapshot_id
