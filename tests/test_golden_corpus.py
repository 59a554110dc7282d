"""Protocol-conformance golden corpus (r9 verdict #4).

The cross-engine differential tests (test_cross_engine.py) have been
DNS-blocked for six rounds: delta-spark / pyiceberg never installed.
These fixtures stop waiting — each test HAND-CONSTRUCTS a table
directory the way the *other* writers emit them (byte-level shapes
from the public specs: Delta PROTOCOL.md, the Iceberg table spec),
deliberately differing from this repo's own writer output:

- raw JSON commits with delta-spark's action order (commitInfo first),
  extra unknown action/metadata keys, string stats, permuted field
  order;
- parquet data files written by pyarrow directly (never through the
  in-repo writers or Spark);
- classic parquet checkpoints + _last_checkpoint built by hand;
- column-mapping name mode with physical column names in the files;
- Iceberg rest-convention metadata names (00000-<uuid>.metadata.json,
  no version-hint), v2 sequence-number inheritance (entries carry
  null), schemas/current-schema-id layout, permuted Avro schema field
  order, and legacy v1 (inline schema + pre-manifest-list snapshots).

- delta-spark's v2 checkpoint WITH SIDECARS: a UUID-named checkpoint
  manifest holding checkpointMetadata + sidecar pointers, adds living
  only in _delta_log/_sidecars/ parquet files;
- column-mapping RENAME-AFTER-DATA: files written under the old
  logical name surface under the new one (same physical name / field
  id — the whole point of column mapping);
- an Iceberg v3 delete manifest carrying BOTH a deletion vector in a
  spec Puffin file (content=1, referenced_data_file, content size
  counting the blob's frame) and an equality-delete parquet
  (content=2, equality_ids), applied together under sequence-number
  rules;
- a REST-catalog golden transcript: recorded request/response pairs
  (tests/golden/rest_transcript.json) replayed against
  serving/rest_catalog.py, pinning the server to the Iceberg REST
  OpenAPI's wire shapes (ErrorModel, pagination tokens,
  UpdateNamespaceProperties triple), not to its own implementation.

If a reader only accepts its own writer's accidental byte layout,
these fail.
"""

import json
import os
import struct
import urllib.error
import urllib.request
import uuid
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from featureform_spark.sources.delta_protocol import DeltaProtocolTable
from featureform_spark.sources.iceberg_protocol import (
    IcebergProtocolTable,
)


def _pq_write(path, cols: dict):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pa_tbl = pa.table(cols)
    pq.write_table(pa_tbl, path)
    return os.path.getsize(path)


def _commit(log_dir, version, actions):
    os.makedirs(log_dir, exist_ok=True)
    p = os.path.join(log_dir, f"{version:020d}.json")
    with open(p, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


SCHEMA_STR = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "s", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _delta_actions_v0(size0):
    # delta-spark emits commitInfo FIRST and carries engineInfo /
    # operationParameters keys no reader should require
    return [
        {
            "commitInfo": {
                "timestamp": 1700000000000,
                "operation": "WRITE",
                "operationParameters": {"mode": "ErrorIfExists"},
                "engineInfo": "Apache-Spark/3.5.0 Delta-Lake/3.1.0",
                "txnId": str(uuid.uuid4()),
            }
        },
        {
            "protocol": {
                "minReaderVersion": 1,
                "minWriterVersion": 2,
            }
        },
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": SCHEMA_STR,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": 1700000000000,
            }
        },
        {
            "add": {
                "path": "part-00000-golden-a.snappy.parquet",
                "partitionValues": {},
                "size": size0,
                "modificationTime": 1700000000001,
                "dataChange": True,
                # delta-spark stats ride as a JSON *string*
                "stats": json.dumps(
                    {
                        "numRecords": 3,
                        "minValues": {"id": 1},
                        "maxValues": {"id": 3},
                        "nullCount": {"id": 0, "s": 0},
                    }
                ),
            }
        },
    ]


def test_golden_delta_basic_commits(spark, tmp_path):
    """Raw delta-spark-shaped commits: commitInfo first, unknown keys,
    string stats, remove-then-replace across versions."""
    root = str(tmp_path / "golden_delta")
    log = os.path.join(root, "_delta_log")
    s0 = _pq_write(
        os.path.join(root, "part-00000-golden-a.snappy.parquet"),
        {"id": [1, 2, 3], "s": ["a", "b", "c"]},
    )
    _commit(log, 0, _delta_actions_v0(s0))
    s1 = _pq_write(
        os.path.join(root, "part-00001-golden-b.snappy.parquet"),
        {"id": [4, 5], "s": ["d", "e"]},
    )
    _commit(
        log,
        1,
        [
            {"commitInfo": {"timestamp": 1700000001000, "operation": "WRITE"}},
            {
                "add": {
                    "path": "part-00001-golden-b.snappy.parquet",
                    "partitionValues": {},
                    "size": s1,
                    "modificationTime": 1700000001001,
                    "dataChange": True,
                }
            },
        ],
    )
    t = DeltaProtocolTable(spark, root)
    rows = sorted(tuple(r) for r in t.snapshot().collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]

    # v2: remove the first file (logical delete of ids 1-3)
    _commit(
        log,
        2,
        [
            {"commitInfo": {"timestamp": 1700000002000, "operation": "DELETE"}},
            {
                "remove": {
                    "path": "part-00000-golden-a.snappy.parquet",
                    "deletionTimestamp": 1700000002000,
                    "dataChange": True,
                    "extendedFileMetadata": True,
                    "partitionValues": {},
                    "size": s0,
                }
            },
        ],
    )
    rows = sorted(tuple(r) for r in t.snapshot().collect())
    assert rows == [(4, "d"), (5, "e")]
    # time travel below the remove still sees both files
    rows0 = sorted(tuple(r) for r in t.snapshot(version=1).collect())
    assert len(rows0) == 5


def test_golden_delta_partitioned_hive_layout(spark, tmp_path):
    """Partition values come from the LOG's partitionValues map (the
    hive-style directory name is convention, not semantics) — and the
    partition column is absent from the data files, exactly how
    delta-spark writes partitioned tables."""
    root = str(tmp_path / "golden_part")
    log = os.path.join(root, "_delta_log")
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "day", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    sizes = {}
    for day, ids in (("2024-01-01", [1, 2]), ("2024-01-02", [3])):
        p = os.path.join(root, f"day={day}", f"part-{day}.snappy.parquet")
        sizes[day] = _pq_write(p, {"id": ids})  # no 'day' column in file
    _commit(
        log,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema,
                    "partitionColumns": ["day"],
                    "configuration": {},
                }
            },
            *[
                {
                    "add": {
                        "path": f"day={day}/part-{day}.snappy.parquet",
                        "partitionValues": {"day": day},
                        "size": sizes[day],
                        "modificationTime": 1,
                        "dataChange": True,
                    }
                }
                for day in ("2024-01-01", "2024-01-02")
            ],
        ],
    )
    t = DeltaProtocolTable(spark, root)
    rows = sorted(tuple(r) for r in t.snapshot().collect())
    assert rows == [
        (1, "2024-01-01"),
        (2, "2024-01-01"),
        (3, "2024-01-02"),
    ]


def test_golden_delta_classic_checkpoint(spark, tmp_path):
    """A classic single-file parquet checkpoint + _last_checkpoint
    pointer, built with pyarrow: the reader must fold from the
    checkpoint and only replay commits after it (version 0's JSON is
    deleted to prove it)."""
    root = str(tmp_path / "golden_ckpt")
    log = os.path.join(root, "_delta_log")
    s0 = _pq_write(
        os.path.join(root, "f0.parquet"), {"id": [1], "s": ["a"]}
    )
    s1 = _pq_write(
        os.path.join(root, "f1.parquet"), {"id": [2], "s": ["b"]}
    )
    _commit(log, 0, _delta_actions_v0(s0)[:3])  # protocol+meta only
    meta_action = _delta_actions_v0(s0)[2]["metaData"]

    # checkpoint at version 1 holds protocol+metaData+one add
    add_struct = pa.array(
        [
            None,
            None,
            {
                "path": "f0.parquet",
                "partitionValues": {},
                "size": s0,
                "modificationTime": 1,
                "dataChange": False,
            },
        ],
        type=pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
            ]
        ),
    )
    proto_struct = pa.array(
        [{"minReaderVersion": 1, "minWriterVersion": 2}, None, None],
        type=pa.struct(
            [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
        ),
    )
    meta_struct = pa.array(
        [None, meta_action, None],
        type=pa.struct(
            [
                ("id", pa.string()),
                ("format", pa.struct([("provider", pa.string())])),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", pa.map_(pa.string(), pa.string())),
                ("createdTime", pa.int64()),
            ]
        ),
    )
    ckpt = pa.table(
        {"protocol": proto_struct, "metaData": meta_struct, "add": add_struct}
    )
    pq.write_table(
        ckpt, os.path.join(log, "00000000000000000001.checkpoint.parquet")
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "size": 3}, f)
    # the commit JSON for v1 does NOT exist (checkpoint supersedes);
    # delete v0's too — a reader that ignores the checkpoint dies here
    os.remove(os.path.join(log, f"{0:020d}.json"))
    _commit(
        log,
        2,
        [
            {
                "add": {
                    "path": "f1.parquet",
                    "partitionValues": {},
                    "size": s1,
                    "modificationTime": 2,
                    "dataChange": True,
                }
            }
        ],
    )
    t = DeltaProtocolTable(spark, root)
    rows = sorted(tuple(r) for r in t.snapshot().collect())
    assert rows == [(1, "a"), (2, "b")]


def test_golden_delta_column_mapping_name_mode(spark, tmp_path):
    """Column-mapping 'name' mode as delta-spark emits it: physical
    col-<uuid> names in the parquet, logical names only in the schema
    metadata. Requires reader feature handling (minReaderVersion 2 /
    reader feature columnMapping)."""
    root = str(tmp_path / "golden_cm")
    log = os.path.join(root, "_delta_log")
    phys_id, phys_s = "col-11111111", "col-22222222"
    s0 = _pq_write(
        os.path.join(root, "cm0.parquet"),
        {phys_id: [7, 8], phys_s: ["x", "y"]},
    )
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": phys_id,
                    },
                },
                {
                    "name": "s",
                    "type": "string",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": phys_s,
                    },
                },
            ],
        }
    )
    _commit(
        log,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 2,
                    "minWriterVersion": 5,
                }
            },
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema,
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "2",
                    },
                }
            },
            {
                "add": {
                    "path": "cm0.parquet",
                    "partitionValues": {},
                    "size": s0,
                    "modificationTime": 1,
                    "dataChange": True,
                }
            },
        ],
    )
    t = DeltaProtocolTable(spark, root)
    df = t.snapshot()
    assert df.columns == ["id", "s"]
    assert sorted(tuple(r) for r in df.collect()) == [(7, "x"), (8, "y")]


def test_golden_delta_deletion_vectors_foreign_layout(spark, tmp_path):
    """DV descriptors as delta-spark emits them: a 'u' vector behind a
    RANDOM PATH PREFIX (this repo's writer never emits prefixes) and
    an inline 'i' vector — both per PROTOCOL.md §Deletion Vector
    Descriptor Schema. File framing built by hand: version byte, then
    [size BE u32][blob][crc32 BE u32]."""
    import struct

    from featureform_spark.sources.dv_bitmap import (
        encode_rbm_array,
        z85_encode,
    )

    root = str(tmp_path / "golden_dv")
    log = os.path.join(root, "_delta_log")
    s0 = _pq_write(
        os.path.join(root, "d0.parquet"),
        {"id": [10, 11, 12, 13], "s": ["a", "b", "c", "d"]},
    )
    s1 = _pq_write(
        os.path.join(root, "d1.parquet"), {"id": [20, 21], "s": ["e", "f"]}
    )
    # 'u' DV under prefix "ab": kills positions 1 and 3 of d0
    u = uuid.uuid4()
    blob = encode_rbm_array([1, 3])
    os.makedirs(os.path.join(root, "ab"), exist_ok=True)
    dv_path = os.path.join(root, "ab", f"deletion_vector_{u}.bin")
    with open(dv_path, "wb") as fh:
        fh.write(b"\x01")
        offset = fh.tell()
        fh.write(struct.pack(">I", len(blob)))
        fh.write(blob)
        fh.write(struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF))
    # 'i' inline DV: kills position 0 of d1; z85 needs len % 4 == 0,
    # the spec pads via the roaring array's own sizing — pad with the
    # encoder's natural alignment
    blob_i = encode_rbm_array([0])
    pad = (-len(blob_i)) % 4
    blob_i_padded = blob_i + b"\x00" * pad  # decoder reads magic+rbm prefix
    _commit(
        log,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": SCHEMA_STR,
                    "partitionColumns": [],
                    "configuration": {
                        "delta.enableDeletionVectors": "true"
                    },
                }
            },
            {
                "add": {
                    "path": "d0.parquet",
                    "partitionValues": {},
                    "size": s0,
                    "modificationTime": 1,
                    "dataChange": True,
                    "deletionVector": {
                        "storageType": "u",
                        "pathOrInlineDv": "ab/" + z85_encode(u.bytes),
                        "offset": offset,
                        "sizeInBytes": len(blob),
                        "cardinality": 2,
                    },
                }
            },
            {
                "add": {
                    "path": "d1.parquet",
                    "partitionValues": {},
                    "size": s1,
                    "modificationTime": 1,
                    "dataChange": True,
                    "deletionVector": {
                        "storageType": "i",
                        "pathOrInlineDv": z85_encode(blob_i_padded),
                        "offset": None,
                        "sizeInBytes": len(blob_i_padded),
                        "cardinality": 1,
                    },
                }
            },
        ],
    )
    t = DeltaProtocolTable(spark, root)
    rows = sorted(tuple(r) for r in t.snapshot().collect())
    assert rows == [(10, "a"), (12, "c"), (21, "f")]


def _inline_dv(positions):
    """An inline ('i') deletion-vector descriptor: the z85 text of the
    roaring array, padded to the 4-byte z85 block."""
    from featureform_spark.sources.dv_bitmap import (
        encode_rbm_array,
        z85_encode,
    )

    blob = encode_rbm_array(positions)
    blob += b"\x00" * ((-len(blob)) % 4)
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(blob),
        "sizeInBytes": len(blob),
        "cardinality": len(positions),
    }


def _dv_table(root):
    """Version 0 of a DV table: one 4-row file whose vector deletes
    position 0. Returns (protocol, metaData, add) of that commit."""
    size = _pq_write(
        os.path.join(root, "d0.parquet"),
        {"id": [10, 11, 12, 13], "s": ["a", "b", "c", "d"]},
    )
    head = [
        {"protocol": {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors", "v2Checkpoint"],
            "writerFeatures": ["deletionVectors", "v2Checkpoint"],
        }},
        {"metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": SCHEMA_STR,
            "partitionColumns": [],
            "configuration": {"delta.enableDeletionVectors": "true"},
        }},
    ]
    add = {
        "path": "d0.parquet",
        "partitionValues": {},
        "size": size,
        "modificationTime": 1,
        "dataChange": True,
    }
    _commit(
        os.path.join(root, "_delta_log"),
        0,
        head + [{"add": {**add, "deletionVector": _inline_dv([0])}}],
    )
    return head, add


def test_golden_delta_dv_readd_listed_before_its_remove(spark, tmp_path):
    """A commit may list the re-add of a file with its new deletion
    vector BEFORE the remove of the old one: reconciliation keys a
    logical file by (path, DV id), so the file stays live under the
    new vector whatever the action order."""
    root = str(tmp_path / "golden_dv_order")
    _head, add = _dv_table(root)
    _commit(
        os.path.join(root, "_delta_log"),
        1,
        [
            {"add": {**add, "deletionVector": _inline_dv([0, 1])}},
            {"remove": {
                "path": "d0.parquet",
                "deletionTimestamp": 2,
                "dataChange": True,
                "deletionVector": _inline_dv([0]),
            }},
        ],
    )
    t = DeltaProtocolTable(spark, root)
    assert t.snapshot().count() == 2
    assert sorted(r["id"] for r in t.snapshot().collect()) == [12, 13]


def test_golden_delta_checkpoint_tombstone_after_live_add(spark, tmp_path):
    """A v2 JSON checkpoint whose tombstone row for (path, old DV)
    follows the live add of (path, new DV): checkpoint removes are
    tombstones and never drop a live file."""
    root = str(tmp_path / "golden_dv_tombstone")
    log = os.path.join(root, "_delta_log")
    head, add = _dv_table(root)
    new = {**add, "deletionVector": _inline_dv([0, 1])}
    old = {
        "path": "d0.parquet",
        "deletionTimestamp": 2,
        "dataChange": True,
        "deletionVector": _inline_dv([0]),
    }
    _commit(log, 1, [{"remove": old}, {"add": new}])
    with open(
        os.path.join(log, f"{1:020d}.checkpoint.{uuid.uuid4()}.json"), "w"
    ) as f:
        for a in [
            {"checkpointMetadata": {"version": 1}},
            *head,
            {"add": {**new, "dataChange": False}},
            {"remove": {**old, "dataChange": False}},
        ]:
            f.write(json.dumps(a) + "\n")
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "size": 5}, f)
    t = DeltaProtocolTable(spark, root)
    assert t.snapshot().count() == 2
    assert sorted(r["id"] for r in t.snapshot().collect()) == [12, 13]


# --------------------------------------------------------- iceberg


def _avro_f(name, typ, default_marker=False):
    f = {"name": name, "type": typ}
    if default_marker:
        f["default"] = None
    return f


def _opt(t):
    return ["null", t]


# a FOREIGN v2 manifest-list schema: field order permuted vs the
# in-repo writer, optional fields omitted entirely (partitions,
# key_metadata, first_row_id), own record name
GOLDEN_ML_SCHEMA = {
    "type": "record",
    "name": "manifest_file_ext",
    "fields": [
        _avro_f("content", "int"),
        _avro_f("manifest_path", "string"),
        _avro_f("manifest_length", "long"),
        _avro_f("partition_spec_id", "int"),
        _avro_f("added_snapshot_id", "long"),
        _avro_f("sequence_number", "long"),
        _avro_f("min_sequence_number", "long"),
        _avro_f("added_files_count", "int"),
        _avro_f("existing_files_count", "int"),
        _avro_f("deleted_files_count", "int"),
        _avro_f("added_rows_count", "long"),
        _avro_f("existing_rows_count", "long"),
        _avro_f("deleted_rows_count", "long"),
    ],
}

# FOREIGN v2 manifest-entry schema: data_file first (permuted), no
# stats maps at all, nullable seq fields for inheritance
GOLDEN_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry_ext",
    "fields": [
        _avro_f(
            "data_file",
            {
                "type": "record",
                "name": "data_file_ext",
                "fields": [
                    _avro_f("file_path", "string"),
                    _avro_f("file_format", "string"),
                    _avro_f("content", "int"),
                    _avro_f(
                        "partition",
                        {"type": "record", "name": "part_ext", "fields": []},
                    ),
                    _avro_f("record_count", "long"),
                    _avro_f("file_size_in_bytes", "long"),
                ],
            },
        ),
        _avro_f("status", "int"),
        _avro_f("snapshot_id", _opt("long"), default_marker=True),
        _avro_f("sequence_number", _opt("long"), default_marker=True),
    ],
}


def test_golden_iceberg_v2_foreign_layout(spark, tmp_path):
    """A v2 table laid out the rest-catalog way: 00000-<uuid> metadata
    names, NO version-hint, schemas/current-schema-id (not inline
    'schema'), file:// URI manifest paths, permuted Avro field order,
    entries with NULL sequence_number (manifest-list inheritance) and
    a DELETED entry that must be skipped."""
    from featureform_spark.sources.avro_codec import write_container

    root = str(tmp_path / "golden_ice")
    meta_dir = os.path.join(root, "metadata")
    data_dir = os.path.join(root, "data")
    s0 = _pq_write(
        os.path.join(data_dir, "00000-0-data.parquet"),
        {"id": [1, 2, 3], "s": ["a", "b", "c"]},
    )
    s1 = _pq_write(
        os.path.join(data_dir, "00001-0-data.parquet"),
        {"id": [4], "s": ["d"]},
    )
    snapshot_id = 3051729675574597004  # the spec's own example id
    man_path = os.path.join(meta_dir, "golden-m0.avro")
    entries = [
        {
            "status": 1,  # ADDED, seq inherited from the manifest list
            "snapshot_id": snapshot_id,
            "sequence_number": None,
            "data_file": {
                "file_path": "file://" + os.path.join(data_dir, "00000-0-data.parquet"),
                "file_format": "PARQUET",
                "content": 0,
                "partition": {},
                "record_count": 3,
                "file_size_in_bytes": s0,
            },
        },
        {
            "status": 0,  # EXISTING with explicit seq
            "snapshot_id": snapshot_id,
            "sequence_number": 1,
            "data_file": {
                "file_path": "file://" + os.path.join(data_dir, "00001-0-data.parquet"),
                "file_format": "PARQUET",
                "content": 0,
                "partition": {},
                "record_count": 1,
                "file_size_in_bytes": s1,
            },
        },
        {
            "status": 2,  # DELETED — a live scan must skip it
            "snapshot_id": snapshot_id,
            "sequence_number": 1,
            "data_file": {
                "file_path": "file://" + os.path.join(data_dir, "ghost.parquet"),
                "file_format": "PARQUET",
                "content": 0,
                "partition": {},
                "record_count": 99,
                "file_size_in_bytes": 1,
            },
        },
    ]
    write_container(
        man_path,
        GOLDEN_ENTRY_SCHEMA,
        entries,
        metadata={
            "schema": json.dumps(
                {
                    "type": "struct",
                    "schema-id": 0,
                    "fields": [
                        {"id": 1, "name": "id", "required": False, "type": "long"},
                        {"id": 2, "name": "s", "required": False, "type": "string"},
                    ],
                }
            ),
            "partition-spec": "[]",
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "data",
        },
    )
    ml_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-1-{uuid.uuid4()}.avro"
    )
    write_container(
        ml_path,
        GOLDEN_ML_SCHEMA,
        [
            {
                "manifest_path": "file://" + man_path,
                "manifest_length": os.path.getsize(man_path),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 2,  # inherited by the NULL-seq entry
                "min_sequence_number": 1,
                "added_snapshot_id": snapshot_id,
                "added_files_count": 1,
                "existing_files_count": 1,
                "deleted_files_count": 1,
                "added_rows_count": 3,
                "existing_rows_count": 1,
                "deleted_rows_count": 99,
            }
        ],
    )
    md = {
        # foreign key order + keys this reader must ignore
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": root,
        "last-sequence-number": 2,
        "last-updated-ms": 1700000000000,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"},
                    {"id": 2, "name": "s", "required": False, "type": "string"},
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"write.format.default": "parquet"},
        "current-snapshot-id": snapshot_id,
        "refs": {
            "main": {"snapshot-id": snapshot_id, "type": "branch"}
        },
        "snapshots": [
            {
                "snapshot-id": snapshot_id,
                "sequence-number": 2,
                "timestamp-ms": 1700000000000,
                "manifest-list": "file://" + ml_path,
                "summary": {"operation": "append"},
                "schema-id": 0,
            }
        ],
        "snapshot-log": [
            {"snapshot-id": snapshot_id, "timestamp-ms": 1700000000000}
        ],
        "metadata-log": [],
    }
    os.makedirs(meta_dir, exist_ok=True)
    # rest/glue convention: 00000-<uuid>.metadata.json, NO version-hint
    with open(
        os.path.join(meta_dir, f"00000-{uuid.uuid4()}.metadata.json"), "w"
    ) as f:
        json.dump(md, f)

    t = IcebergProtocolTable(spark, root)
    rows = sorted(tuple(r) for r in t.snapshot().collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # v2 inheritance: the NULL-seq ADDED entry reads back at seq 2
    data_entries, _ = t._live_entries(t.current_snapshot())
    by_path = {
        os.path.basename(e["data_file"]["file_path"]): e
        for e in data_entries
    }
    assert int(by_path["00000-0-data.parquet"]["sequence_number"]) == 2
    assert int(by_path["00001-0-data.parquet"]["sequence_number"]) == 1
    files = t.metadata_table("files")
    assert files.count() == 2  # DELETED entry skipped


def test_golden_iceberg_v1_legacy_layout(spark, tmp_path):
    """Legacy v1: inline 'schema' + 'partition-spec', a snapshot with
    the pre-manifest-list inline 'manifests' path array, v1 manifest
    entries with NO sequence-number fields and a data_file without
    'content'. Readers that assume v2 shapes die here."""
    from featureform_spark.sources.avro_codec import write_container

    root = str(tmp_path / "golden_ice_v1")
    meta_dir = os.path.join(root, "metadata")
    data_dir = os.path.join(root, "data")
    s0 = _pq_write(
        os.path.join(data_dir, "v1-data.parquet"),
        {"id": [7, 8], "s": ["x", "y"]},
    )
    v1_entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _avro_f("status", "int"),
            _avro_f("snapshot_id", "long"),
            _avro_f(
                "data_file",
                {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        _avro_f("file_path", "string"),
                        _avro_f("file_format", "string"),
                        _avro_f(
                            "partition",
                            {"type": "record", "name": "r102", "fields": []},
                        ),
                        _avro_f("record_count", "long"),
                        _avro_f("file_size_in_bytes", "long"),
                    ],
                },
            ),
        ],
    }
    man_path = os.path.join(meta_dir, "v1-m0.avro")
    write_container(
        man_path,
        v1_entry_schema,
        [
            {
                "status": 1,
                "snapshot_id": 42,
                "data_file": {
                    "file_path": os.path.join(data_dir, "v1-data.parquet"),
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 2,
                    "file_size_in_bytes": s0,
                },
            }
        ],
        codec="null",  # some v1 writers used uncompressed containers
        metadata={"format-version": "1"},
    )
    md = {
        "format-version": 1,
        "table-uuid": str(uuid.uuid4()),
        "location": root,
        "last-updated-ms": 1600000000000,
        "last-column-id": 2,
        "schema": {
            "type": "struct",
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "s", "required": False, "type": "string"},
            ],
        },
        "partition-spec": [],
        "properties": {},
        "current-snapshot-id": 42,
        "snapshots": [
            {
                "snapshot-id": 42,
                "timestamp-ms": 1600000000000,
                "manifests": [man_path],  # pre-manifest-list layout
            }
        ],
    }
    os.makedirs(meta_dir, exist_ok=True)
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as f:
        json.dump(md, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write("1")

    t = IcebergProtocolTable(spark, root)
    rows = sorted(tuple(r) for r in t.snapshot().collect())
    assert rows == [(7, "x"), (8, "y")]


GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


def _schema_str(fields):
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": t, "nullable": True, "metadata": m}
                for n, t, m in fields
            ],
        }
    )


# ---------------------------------------- v2 checkpoint + sidecars


def test_golden_delta_v2_checkpoint_sidecars(spark, tmp_path):
    """delta-spark's v2Checkpoint layout: <v>.checkpoint.<uuid>.parquet
    manifest with checkpointMetadata + sidecar actions; the adds live
    ONLY in _delta_log/_sidecars/<uuid>.parquet files. Version 0's
    JSON is deleted so a reader that cannot resolve sidecars has no
    fallback; a post-checkpoint JSON commit must still apply."""
    root = str(tmp_path / "golden_v2ckpt")
    log = os.path.join(root, "_delta_log")
    sidecars_dir = os.path.join(log, "_sidecars")
    os.makedirs(sidecars_dir, exist_ok=True)
    schema_str = _schema_str(
        [("id", "long", {}), ("s", "string", {})]
    )
    s0 = _pq_write(os.path.join(root, "f0.parquet"), {"id": [1], "s": ["a"]})
    s1 = _pq_write(os.path.join(root, "f1.parquet"), {"id": [2], "s": ["b"]})
    s2 = _pq_write(os.path.join(root, "f2.parquet"), {"id": [3], "s": ["c"]})
    _commit(
        log,
        0,
        [
            {"protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["v2Checkpoint"],
                "writerFeatures": ["v2Checkpoint"],
            }},
            {"metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_str,
                "partitionColumns": [],
                "configuration": {"delta.checkpointPolicy": "v2"},
            }},
        ],
    )
    meta_action = None
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        for line in f:
            a = json.loads(line)
            if "metaData" in a:
                meta_action = a["metaData"]

    def _add(path, size):
        return {
            "path": path,
            "partitionValues": {},
            "size": size,
            "modificationTime": 1,
            "dataChange": False,
        }

    add_type = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    # two sidecar files, one add each (delta-spark splits by size)
    side_names = []
    for i, (p, s) in enumerate([("f0.parquet", s0), ("f1.parquet", s1)]):
        name = f"{uuid.uuid4()}.parquet"
        side_names.append(name)
        pq.write_table(
            pa.table({"add": pa.array([_add(p, s)], type=add_type)}),
            os.path.join(sidecars_dir, name),
        )
    # the v2 manifest: checkpointMetadata + protocol + metaData +
    # sidecar pointers (NO adds here)
    n = 4 + len(side_names)
    idx = {k: i for i, k in enumerate(
        ["ckptMeta", "protocol", "metaData", *side_names]
    )}

    def _col(typ, at: dict):
        vals = [None] * n
        for k, v in at.items():
            vals[idx[k]] = v
        return pa.array(vals, type=typ)

    manifest = pa.table(
        {
            "checkpointMetadata": _col(
                pa.struct([("version", pa.int64()),
                           ("tags", pa.map_(pa.string(), pa.string()))]),
                {"ckptMeta": {"version": 0, "tags": None}},
            ),
            "protocol": _col(
                pa.struct([
                    ("minReaderVersion", pa.int32()),
                    ("minWriterVersion", pa.int32()),
                    ("readerFeatures", pa.list_(pa.string())),
                    ("writerFeatures", pa.list_(pa.string())),
                ]),
                {"protocol": {
                    "minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["v2Checkpoint"],
                    "writerFeatures": ["v2Checkpoint"],
                }},
            ),
            "metaData": _col(
                pa.struct([
                    ("id", pa.string()),
                    ("format", pa.struct([("provider", pa.string())])),
                    ("schemaString", pa.string()),
                    ("partitionColumns", pa.list_(pa.string())),
                    ("configuration", pa.map_(pa.string(), pa.string())),
                ]),
                {"metaData": {
                    "id": meta_action["id"],
                    "format": {"provider": "parquet"},
                    "schemaString": schema_str,
                    "partitionColumns": [],
                    "configuration": {"delta.checkpointPolicy": "v2"},
                }},
            ),
            "sidecar": _col(
                pa.struct([
                    ("path", pa.string()),
                    ("sizeInBytes", pa.int64()),
                    ("modificationTime", pa.int64()),
                ]),
                {
                    name: {
                        "path": name,
                        "sizeInBytes": os.path.getsize(
                            os.path.join(sidecars_dir, name)
                        ),
                        "modificationTime": 1,
                    }
                    for name in side_names
                },
            ),
        }
    )
    pq.write_table(
        manifest,
        os.path.join(
            log, f"{0:020d}.checkpoint.{uuid.uuid4()}.parquet"
        ),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 0, "size": n}, f)
    os.remove(os.path.join(log, f"{0:020d}.json"))  # checkpoint-only
    _commit(log, 1, [{"add": {
        "path": "f2.parquet", "partitionValues": {}, "size": s2,
        "modificationTime": 2, "dataChange": True,
    }}])

    t = DeltaProtocolTable(spark, root)
    rows = sorted(tuple(r) for r in t.snapshot().collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]


# --------------------------------- column-mapping rename-after-data


def test_golden_delta_column_mapping_rename_after_data(spark, tmp_path):
    """delta-spark RENAME COLUMN is metadata-only under column mapping:
    the physical name and field id never change, so files written
    BEFORE the rename must read back under the NEW logical name."""
    root = str(tmp_path / "golden_rename")
    log = os.path.join(root, "_delta_log")
    phys_id, phys_s = "col-aaaa1111", "col-bbbb2222"
    s0 = _pq_write(
        os.path.join(root, "f0.parquet"),
        {phys_id: [1, 2], phys_s: ["x", "y"]},
    )

    def _schema(logical_s: str) -> str:
        return json.dumps({
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {
                     "delta.columnMapping.id": 1,
                     "delta.columnMapping.physicalName": phys_id,
                 }},
                {"name": logical_s, "type": "string", "nullable": True,
                 "metadata": {
                     "delta.columnMapping.id": 2,
                     "delta.columnMapping.physicalName": phys_s,
                 }},
            ],
        })

    def _meta(logical_s: str) -> dict:
        return {
            "id": "golden-rename-meta",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _schema(logical_s),
            "partitionColumns": [],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "2",
            },
        }

    _commit(log, 0, [
        {"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 5,
        }},
        {"metaData": _meta("s")},
        {"add": {"path": "f0.parquet", "partitionValues": {},
                 "size": s0, "modificationTime": 1, "dataChange": True}},
    ])
    # the rename: ONLY the logical name changes
    _commit(log, 1, [{"metaData": _meta("title")}])
    t = DeltaProtocolTable(spark, root)
    snap = t.snapshot()
    assert snap.columns == ["id", "title"]
    rows = sorted(tuple(r) for r in snap.collect())
    assert rows == [(1, "x"), (2, "y")]
    # time travel to v0 sees the OLD logical name over the same bytes
    old = t.snapshot(version=0)
    assert old.columns == ["id", "s"]


# --------------------------------- iceberg v3 DV + equality mixed




GOLDEN_ML_SCHEMA_V3 = {
    "type": "record",
    "name": "manifest_file_g3",
    "fields": [
        _avro_f("content", "int"),
        _avro_f("manifest_path", "string"),
        _avro_f("manifest_length", "long"),
        _avro_f("partition_spec_id", "int"),
        _avro_f("added_snapshot_id", "long"),
        _avro_f("sequence_number", "long"),
        _avro_f("min_sequence_number", "long"),
        _avro_f("added_files_count", "int"),
        _avro_f("existing_files_count", "int"),
        _avro_f("deleted_files_count", "int"),
        _avro_f("added_rows_count", "long"),
        _avro_f("existing_rows_count", "long"),
        _avro_f("deleted_rows_count", "long"),
    ],
}

GOLDEN_ENTRY_SCHEMA_V3 = {
    "type": "record",
    "name": "manifest_entry_g3",
    "fields": [
        _avro_f("status", "int"),
        _avro_f("snapshot_id", _opt("long"), default_marker=True),
        _avro_f("sequence_number", _opt("long"), default_marker=True),
        _avro_f(
            "data_file",
            {
                "type": "record",
                "name": "data_file_g3",
                "fields": [
                    _avro_f("content", "int"),
                    _avro_f("file_path", "string"),
                    _avro_f("file_format", "string"),
                    _avro_f(
                        "partition",
                        {"type": "record", "name": "p_g3", "fields": []},
                    ),
                    _avro_f("record_count", "long"),
                    _avro_f("file_size_in_bytes", "long"),
                    _avro_f(
                        "equality_ids",
                        _opt({"type": "array", "items": "int"}),
                        default_marker=True,
                    ),
                    _avro_f("referenced_data_file", _opt("string"),
                            default_marker=True),
                    _avro_f("content_offset", _opt("long"),
                            default_marker=True),
                    _avro_f("content_size_in_bytes", _opt("long"),
                            default_marker=True),
                ],
            },
        ),
    ],
}

_ICE_SCHEMA = {
    "type": "struct",
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "s", "required": False, "type": "string"},
    ],
}


def test_golden_iceberg_v3_dv_plus_equality_mixed(spark, tmp_path):
    """One delete manifest carrying BOTH v3 delete shapes: a puffin
    deletion vector (content=1, referenced_data_file + framed blob at
    content_offset) killing two positions of d0, and an equality
    delete parquet (content=2, equality_ids=[1]) removing id=7 from
    d1. Data at seq 1, deletes at seq 2: the DV applies (>=), the
    equality delete applies (strictly after)."""
    from featureform_spark.sources.avro_codec import write_container
    from featureform_spark.sources.dv_bitmap import encode_rbm_array

    root = str(tmp_path / "golden_v3mixed")
    meta_dir = os.path.join(root, "metadata")
    data_dir = os.path.join(root, "data")
    s0 = _pq_write(
        os.path.join(data_dir, "d0.parquet"),
        {"id": [10, 11, 12, 13, 14], "s": list("abcde")},
    )
    s1 = _pq_write(
        os.path.join(data_dir, "d1.parquet"),
        {"id": [7, 8, 9], "s": list("fgh")},
    )
    # a spec Puffin file: magic, one deletion-vector-v1 blob framed as
    # BE length + blob + BE CRC-32, then the footer (magic, JSON
    # FileMetadata, LE payload size, flags, magic). The blob's length,
    # and so content_size_in_bytes, counts the frame: Iceberg's Java
    # reader requires the stored length to be content size - 8
    blob = encode_rbm_array([1, 3])
    framed = (
        struct.pack(">I", len(blob)) + blob
        + struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF)
    )
    offset, content_size = 4, len(framed)
    footer = json.dumps({
        "blobs": [{
            "type": "deletion-vector-v1",
            "fields": [2147483545],
            "snapshot-id": -1,
            "sequence-number": -1,
            "offset": offset,
            "length": content_size,
            "properties": {
                "referenced-data-file": os.path.join(data_dir, "d0.parquet"),
                "cardinality": "2",
            },
        }],
        "properties": {"created-by": "golden corpus"},
    }).encode()
    dv_path = os.path.join(data_dir, f"dv-{uuid.uuid4()}.puffin")
    with open(dv_path, "wb") as fh:
        fh.write(b"PFA1" + framed)
        fh.write(b"PFA1" + footer + struct.pack("<i", len(footer)))
        fh.write(b"\x00\x00\x00\x00PFA1")
    seq_eq = _pq_write(
        os.path.join(data_dir, "eq-del.parquet"), {"id": [7]}
    )

    snapshot_id = 7051729675574597001
    man_meta = {
        "schema": json.dumps(_ICE_SCHEMA),
        "partition-spec": "[]",
        "partition-spec-id": "0",
        "format-version": "3",
    }
    data_man = os.path.join(meta_dir, "g3-data-m0.avro")
    write_container(
        data_man,
        GOLDEN_ENTRY_SCHEMA_V3,
        [
            {
                "status": 1, "snapshot_id": snapshot_id,
                "sequence_number": 1,
                "data_file": {
                    "content": 0,
                    "file_path": os.path.join(data_dir, n),
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": rc,
                    "file_size_in_bytes": sz,
                    "equality_ids": None,
                    "referenced_data_file": None,
                    "content_offset": None,
                    "content_size_in_bytes": None,
                },
            }
            for n, rc, sz in [("d0.parquet", 5, s0), ("d1.parquet", 3, s1)]
        ],
        metadata={**man_meta, "content": "data"},
    )
    del_man = os.path.join(meta_dir, "g3-del-m0.avro")
    write_container(
        del_man,
        GOLDEN_ENTRY_SCHEMA_V3,
        [
            {  # the deletion vector
                "status": 1, "snapshot_id": snapshot_id,
                "sequence_number": 2,
                "data_file": {
                    "content": 1,
                    "file_path": dv_path,
                    "file_format": "PUFFIN",
                    "partition": {},
                    "record_count": 2,
                    "file_size_in_bytes": os.path.getsize(dv_path),
                    "equality_ids": None,
                    "referenced_data_file": os.path.join(
                        data_dir, "d0.parquet"
                    ),
                    "content_offset": offset,
                    "content_size_in_bytes": content_size,
                },
            },
            {  # the equality delete
                "status": 1, "snapshot_id": snapshot_id,
                "sequence_number": 2,
                "data_file": {
                    "content": 2,
                    "file_path": os.path.join(data_dir, "eq-del.parquet"),
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 1,
                    "file_size_in_bytes": seq_eq,
                    "equality_ids": [1],
                    "referenced_data_file": None,
                    "content_offset": None,
                    "content_size_in_bytes": None,
                },
            },
        ],
        metadata={**man_meta, "content": "deletes"},
    )
    ml_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-1-{uuid.uuid4()}.avro"
    )
    write_container(
        ml_path,
        GOLDEN_ML_SCHEMA_V3,
        [
            {
                "content": 0, "manifest_path": data_man,
                "manifest_length": os.path.getsize(data_man),
                "partition_spec_id": 0, "added_snapshot_id": snapshot_id,
                "sequence_number": 1, "min_sequence_number": 1,
                "added_files_count": 2, "existing_files_count": 0,
                "deleted_files_count": 0, "added_rows_count": 8,
                "existing_rows_count": 0, "deleted_rows_count": 0,
            },
            {
                "content": 1, "manifest_path": del_man,
                "manifest_length": os.path.getsize(del_man),
                "partition_spec_id": 0, "added_snapshot_id": snapshot_id,
                "sequence_number": 2, "min_sequence_number": 2,
                "added_files_count": 2, "existing_files_count": 0,
                "deleted_files_count": 0, "added_rows_count": 3,
                "existing_rows_count": 0, "deleted_rows_count": 0,
            },
        ],
    )
    md = {
        "format-version": 3,
        "table-uuid": str(uuid.uuid4()),
        "location": root,
        "last-sequence-number": 2,
        "last-updated-ms": 1700000000000,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [_ICE_SCHEMA],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": snapshot_id,
        "next-row-id": 8,
        "refs": {"main": {"snapshot-id": snapshot_id, "type": "branch"}},
        "snapshots": [{
            "snapshot-id": snapshot_id,
            "sequence-number": 2,
            "timestamp-ms": 1700000000000,
            "manifest-list": ml_path,
            "summary": {"operation": "overwrite"},
            "schema-id": 0,
            "first-row-id": 0,
        }],
        "snapshot-log": [
            {"snapshot-id": snapshot_id, "timestamp-ms": 1700000000000}
        ],
        "metadata-log": [],
    }
    os.makedirs(meta_dir, exist_ok=True)
    with open(
        os.path.join(meta_dir, f"00000-{uuid.uuid4()}.metadata.json"), "w"
    ) as f:
        json.dump(md, f)

    t = IcebergProtocolTable(spark, root)
    rows = sorted(tuple(r) for r in t.snapshot().collect())
    # d0 minus positions 1,3 (11,13); d1 minus id=7
    assert rows == [
        (8, "g"), (9, "h"), (10, "a"), (12, "c"), (14, "e")
    ]


# ----------------------------------- REST-catalog golden transcript


def _subset(expected, actual, path=""):
    """Recursive containment: every expected key/value must appear in
    the actual response (extra server fields allowed — the spec allows
    additive evolution)."""
    if isinstance(expected, dict):
        assert isinstance(actual, dict), f"{path}: not an object"
        for k, v in expected.items():
            assert k in actual, f"{path}.{k}: missing"
            _subset(v, actual[k], f"{path}.{k}")
    elif isinstance(expected, list):
        assert expected == actual, f"{path}: {actual!r} != {expected!r}"
    else:
        assert expected == actual, f"{path}: {actual!r} != {expected!r}"


def test_golden_rest_catalog_transcript(spark, tmp_path):
    from featureform_spark.serving.rest_catalog import (
        IcebergRestCatalogServer,
    )

    with open(os.path.join(GOLDEN_DIR, "rest_transcript.json")) as f:
        transcript = json.load(f)

    root = tmp_path / "cat"
    (root / "analytics").mkdir(parents=True)
    (root / "bar").mkdir()
    t = IcebergProtocolTable(spark, str(root / "analytics" / "orders"))
    t.create(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    )
    server = IcebergRestCatalogServer(str(root))
    try:
        for step in transcript:
            url = f"http://127.0.0.1:{server.port}{step['path']}"
            data = (
                json.dumps(step["body"]).encode()
                if "body" in step
                else None
            )
            req = urllib.request.Request(
                url,
                data=data,
                method=step["method"],
                headers={"Content-Type": "application/json"}
                if data
                else {},
            )
            try:
                with urllib.request.urlopen(req) as r:
                    status, payload = r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                status, payload = e.code, json.loads(e.read())
            assert status == step["status"], (
                step["name"], status, payload
            )
            if step.get("match") == "subset":
                _subset(step["response"], payload, step["name"])
            else:
                assert payload == step["response"], (
                    step["name"], payload
                )
            for key in step.get("expect_existing_file_keys", []):
                assert os.path.isfile(payload[key]), (step["name"], key)
    finally:
        server.shutdown()
