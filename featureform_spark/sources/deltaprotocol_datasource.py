"""A registered Spark data source for Delta protocol tables —
``spark.read.format("deltaprotocol")`` and
``spark.readStream.format("deltaprotocol")`` over the in-repo
transaction-log implementation (sources/delta_protocol.py).

The reference streams Delta tables through the vendor connector's
streaming source (``spark.readStream.format("delta")``,
offline_store_spark_runner.py:1076-1136 is the batch-incremental
flavor of the same contract). This module provides that surface
without the jar, on Spark 4's Python Data Source API:

- **Offsets are commit versions** (``{"version": N}``), exactly the
  delta streaming source's reservedId/version model: each micro-batch
  covers commits ``(start, end]``, Spark's offset log checkpoints the
  progression, and restarts replay from the committed version.
- **Append-only contract**: dataChange=false actions (OPTIMIZE) are
  skipped; a commit that removes data with dataChange=true aborts the
  stream unless ``skipChangeCommits=true`` (the delta option of the
  same name) — silently re-emitting or dropping rows is never an
  option.
- **Executor-side Arrow reads**: one input partition per data file;
  each partition streams the file's pyarrow record batches straight
  into Spark's Arrow channel (no per-row Python), with Hive partition
  values attached as constant columns.

Honest gates: column-mapped tables raise everywhere; deletion-vector
adds raise on the STREAM path only (they arrive via change commits,
which the append-only contract already refuses) — the batch reader
applies DVs executor-side: the compact roaring blob ships with each
input partition and masks rows by file-relative index during the
Arrow read. The native ``DeltaProtocolTable`` reader (JVM scan +
broadcast anti-join) remains the 100-TB path.

Options: ``path`` (table root), ``startingVersion`` (int or
``earliest`` [default] / ``latest``), ``skipChangeCommits``,
``readChangeFeed=true`` (round 6) — the CDF streaming source: each
micro-batch carries the change rows of commits (start, end] with
``_change_type`` / ``_commit_version`` / ``_commit_timestamp``
columns, served executor-side from cdc files (verbatim), blind
appends (inserts), and whole-file removes (deletes, prior DV masked).
"""

from __future__ import annotations

import os
import re
import urllib.parse
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from featureform_spark.sources.delta_protocol import (
    DeltaProtocolError,
    DeltaProtocolTable,
    UnsupportedTableFeatureError,
)


def _table(options: dict) -> DeltaProtocolTable:
    path = options.get("path")
    if not path:
        raise ValueError("deltaprotocol requires option path=<table root>")
    return DeltaProtocolTable(None, path)


def _gate(st) -> None:
    if st.column_mapping:
        raise UnsupportedTableFeatureError(
            "deltaprotocol source: column-mapped tables are served by "
            "DeltaProtocolTable.snapshot() (native scan), not this source"
        )
    for a in st.adds.values():
        if a.get("deletionVector"):
            raise UnsupportedTableFeatureError(
                "deltaprotocol source: deletion-vector adds are served "
                "by DeltaProtocolTable.snapshot() (native scan)"
            )


class _FileSlice(InputPartition):
    def __init__(
        self, abs_path: str, part_values: dict, part_types: dict,
        field_order: list, dv_blob: bytes | None = None,
        row_info: tuple | None = None, dv_cardinality: int | None = None,
    ):
        self.abs_path = abs_path
        self.part_values = part_values   # {col: raw string or None}
        self.part_types = part_types     # {col: spark simpleString}
        self.field_order = field_order   # full logical column order
        self.dv_blob = dv_blob           # roaring DV blob (compact) or None
        self.dv_cardinality = dv_cardinality  # checked against the blob
        # row tracking: (baseRowId, defaultRowCommitVersion,
        # materialized-row-id col, materialized-rcv col) or None
        self.row_info = row_info


def _pa_scalar_type(simple: str):
    import pyarrow as pa

    return {
        "string": pa.string(),
        "long": pa.int64(),
        "bigint": pa.int64(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "short": pa.int16(),
        "double": pa.float64(),
        "float": pa.float32(),
        "boolean": pa.bool_(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
    }.get(simple, pa.string())


def _py_partition_value(raw: str | None, simple: str):
    if raw is None:
        return None
    if simple in ("long", "bigint", "int", "integer", "short"):
        return int(raw)
    if simple in ("double", "float"):
        return float(raw)
    if simple == "boolean":
        return raw.lower() == "true"
    if simple == "date":
        import datetime

        return datetime.date.fromisoformat(raw)
    if simple == "timestamp":
        import datetime

        return datetime.datetime.fromisoformat(raw)
    if simple.startswith("decimal"):
        from decimal import Decimal

        return Decimal(raw)
    return raw


def _literal_type(simple: str):
    import pyarrow as pa

    m = re.match(r"decimal\((\d+),(\d+)\)", simple)
    if m:
        # keep decimals exact through arrow: the declared decimal type
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return _pa_scalar_type(simple)


def _output_schema(
    order: list, literal_types: dict, file_schema, row_ids: bool
):
    """The scan's arrow schema in logical ``order``: columns in
    ``literal_types`` (spark simpleStrings) take that type, the rest
    their type in ``file_schema``; plus the two row-id columns."""
    import pyarrow as pa

    fields = [
        pa.field(n, _literal_type(literal_types[n]))
        if n in literal_types
        else file_schema.field(n)
        for n in order
    ]
    if row_ids:
        fields += [
            pa.field("_row_id", pa.int64()),
            pa.field("_row_commit_version", pa.int64()),
        ]
    return pa.schema(fields)


def snapshot_slices(
    t: DeltaProtocolTable, st, row_ids: tuple[str, str] | None = None
) -> list[_FileSlice]:
    """One slice per live file of the folded state ``st``, in path
    order: the batch source's input partitions and the Flight scan's
    input. ``row_ids`` is the (materialized row-id, row-commit-version)
    physical column pair when row ids are requested. Deletion vectors
    travel as the compact blob and are decoded by the reader."""
    fields = st.schema.fields
    order = [f.name for f in fields]
    parts = st.partition_columns
    types = {f.name: f.dataType.simpleString() for f in fields}
    part_types = {c: types[c] for c in parts}
    out = []
    for rel in sorted(st.adds):
        a = st.adds[rel]
        dv = a.get("deletionVector")
        row_info = None
        if row_ids is not None:
            base, dcv = a.get("baseRowId"), a.get("defaultRowCommitVersion")
            row_info = (
                int(base) if base is not None else None,
                int(dcv) if dcv is not None else None,
                *row_ids,
            )
        out.append(
            _FileSlice(
                t._abs_data_path(rel),
                {c: (a.get("partitionValues") or {}).get(c) for c in parts},
                part_types,
                order,
                t._dv_blob(dv) if dv else None,
                row_info=row_info,
                dv_cardinality=dv.get("cardinality") if dv else None,
            )
        )
    return out


def _scan_slices(slices: Sequence[_FileSlice]):
    """(schema, record batches) of ``slices`` read by ONE
    pyarrow.dataset scan, in slice order — the reader behind both the
    Python Data Source (one slice per input partition) and the Flight
    scan (every live file of a snapshot). ``scan_batches()`` tags each
    batch with its file, which keys the per-file work: the
    deletion-vector mask by file-relative row index, the constant
    (partition / change-feed) columns, and the row ids. Slices name
    distinct files; the first one fixes the output schema (its logical
    order, its constants' types, its file's column types)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    by_path = {s.abs_path: s for s in slices}
    if len(by_path) != len(slices):
        raise ValueError("a slice scan reads each file once")
    first = slices[0]
    dataset = ds.dataset(list(by_path), format="parquet")
    file_schema = dataset.schema
    row_cols = (
        [c for c in first.row_info[2:] if c]
        if first.row_info is not None
        else []
    )
    missing = [c for c in row_cols if c not in file_schema.names]
    if missing:
        # only rewritten files carry materialized row ids; the others
        # read NULL there and fall back to baseRowId + row index
        file_schema = pa.schema(
            list(file_schema) + [pa.field(c, pa.int64()) for c in missing]
        )
        dataset = dataset.replace_schema(file_schema)
    constant = set(first.part_values).intersection(
        *(s.part_values for s in slices)
    )
    columns = [
        n
        for n in first.field_order
        if n not in constant and n in file_schema.names
    ] + [c for c in row_cols if c not in first.field_order]
    schema = _output_schema(
        first.field_order,
        {n: first.part_types[n] for n in first.part_values},
        file_schema,
        first.row_info is not None,
    )

    def _gen() -> Iterator:
        path = reader = None
        # threads decode a large file's columns in parallel (one
        # 150k-row x 16-column file: 30 -> 13 ms) and cost nothing
        # measurable on many small files; no pre-buffering, like
        # ParquetFile: on local files it only delays the first batch
        scanner = dataset.scanner(
            columns=columns,
            use_threads=True,
            fragment_scan_options=ds.ParquetFragmentScanOptions(
                pre_buffer=False
            ),
        )
        for tagged in scanner.scan_batches():
            if tagged.fragment.path != path:
                path = tagged.fragment.path
                reader = _SliceBatches(by_path[path], schema)
            out = reader.convert(tagged.record_batch)
            if out is not None:
                yield out

    return schema, _gen()


class _SliceBatches:
    """Per-file state of a slice scan: the decoded deletion vector,
    the running file-relative row offset, and the constant values."""

    def __init__(self, part: _FileSlice, schema):
        self.part = part
        self.schema = schema
        self.offset = 0
        self.deleted = None
        if part.dv_blob is not None:
            from featureform_spark.sources.dv_bitmap import decode_rbm_array

            self.deleted = decode_rbm_array(part.dv_blob)
            card = part.dv_cardinality
            if card is not None and int(card) != len(self.deleted):
                raise DeltaProtocolError(
                    f"deletion vector cardinality {card} != decoded "
                    f"{len(self.deleted)} positions"
                )
        self.constants = {
            name: _py_partition_value(
                part.part_values[name], part.part_types[name]
            )
            for name in part.part_values
        }

    def convert(self, batch):
        """The file's next batch in the output schema, deletion-vector
        masked; None when every row of it is deleted."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        part = self.part
        start = self.offset
        nrows = batch.num_rows
        self.offset += nrows
        # ORIGINAL file-relative indexes (pre-DV) — what row ids key on
        orig_idx = (
            np.arange(start, start + nrows, dtype=np.int64)
            if part.row_info is not None
            else None
        )
        deleted = self.deleted
        if deleted is not None and len(deleted):
            lo = np.searchsorted(deleted, start)
            hi = np.searchsorted(deleted, start + nrows)
            if hi > lo:
                keep = np.ones(nrows, dtype=bool)
                keep[(deleted[lo:hi] - start).astype(np.int64)] = False
                batch = batch.filter(pa.array(keep))
                if orig_idx is not None:
                    orig_idx = orig_idx[keep]
        n = batch.num_rows
        if n == 0:
            return None
        arrays = [
            pa.array([self.constants[name]] * n, f.type)
            if name in self.constants
            else batch.column(name)
            for name, f in zip(part.field_order, self.schema)
        ]
        if part.row_info is not None:
            base, dcv, mat_id, mat_rcv = part.row_info
            # a foreign add action without baseRowId (written while the
            # feature was supported-but-unenabled) has NO fresh ids —
            # NULL, exactly like the Spark-session scan's coalesce
            fresh = (
                pa.array(base + orig_idx, type=pa.int64())
                if base is not None
                else pa.nulls(n, pa.int64())
            )
            dflt = (
                pa.array(np.full(n, dcv, dtype=np.int64))
                if dcv is not None
                else pa.nulls(n, pa.int64())
            )
            for col, fallback in ((mat_id, fresh), (mat_rcv, dflt)):
                arrays.append(
                    pc.coalesce(
                        pc.cast(batch.column(col), pa.int64()), fallback
                    )
                    if col
                    else fallback
                )
        return pa.RecordBatch.from_arrays(arrays, schema=self.schema)


def _read_slice(part: _FileSlice) -> Iterator:
    """Executor-side read of one input partition: the one-slice case of
    _scan_slices."""
    return _scan_slices([part])[1]


class DeltaProtocolBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.t = _table(options)
        self.options = options

    def partitions(self) -> Sequence[InputPartition]:
        st = self.t.state()
        if st.column_mapping:
            raise UnsupportedTableFeatureError(
                "deltaprotocol source: column-mapped tables are served "
                "by DeltaProtocolTable.snapshot() (native scan)"
            )
        if self.options.get("readchangefeed", "false").lower() == "true":
            # batch CDF read (the connector's readChangeFeed +
            # startingVersion/endingVersion): same per-commit change
            # slices as the streaming source, over a fixed range
            lo = int(self.options.get("startingversion", 0)) - 1
            hi = int(
                self.options.get("endingversion", self.t.version())
            )
            sub = {"path": self.options["path"], "readchangefeed": "true"}
            if self.options.get("sessiontimezone"):
                sub["sessiontimezone"] = self.options["sessiontimezone"]
            return DeltaProtocolStreamReader(sub)._cdf_partitions(
                st, lo, hi
            )
        if self.options.get("withrowids", "false").lower() != "true":
            return snapshot_slices(self.t, st)
        if not st.row_tracking:
            raise UnsupportedTableFeatureError(
                "withRowIds requires delta.enableRowTracking"
            )
        return snapshot_slices(
            self.t, st, st.materialized_row_id_cols or ("", "")
        )

    def read(self, partition: _FileSlice) -> Iterator:
        return _read_slice(partition)


_CDF_COLS = ["_change_type", "_commit_version", "_commit_timestamp"]


def _cdf_schema(schema):
    from pyspark.sql import types as T

    return T.StructType(
        list(schema.fields)
        + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
            T.StructField("_commit_timestamp", T.TimestampType()),
        ]
    )


class DeltaProtocolStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.t = _table(options)
        self.options = options
        self.skip_change = (
            options.get("skipchangecommits", "false").lower() == "true"
        )
        self.cdf = (
            options.get("readchangefeed", "false").lower() == "true"
        )
        starting = options.get("startingversion", "earliest").lower()
        if starting == "earliest":
            self.start_version = -1
        elif starting == "latest":
            self.start_version = self.t.version()
        else:
            # startingVersion=N streams commits >= N (delta semantics)
            self.start_version = int(starting) - 1

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        return {"version": self.t.version()}

    def _commit_ts_iso(self, v: int) -> str:
        """Commit timestamp (inCommitTimestamp > plain > file mtime) as
        an ISO string for the literal-attachment machinery. The string
        becomes a NAIVE timestamp that Spark interprets under
        spark.sql.session.timeZone, so it must be rendered in that
        zone, not UTC (session tz defaults to the JVM/OS local zone;
        pass sessionTimeZone=<zone> in the read options when the
        session overrides it) — same fix as read_delta_path's
        timestampAsOf (delta_protocol.py:3173)."""
        import datetime

        tz = None
        tz_name = self.options.get("sessiontimezone")
        if tz_name:
            try:
                import zoneinfo

                tz = zoneinfo.ZoneInfo(tz_name)
            except Exception:  # noqa: BLE001 — fall back to OS-local
                tz = None

        t = None
        for a in self.t._read_commit(v):
            if "commitInfo" in a:
                ci = a["commitInfo"]
                t = ci.get("inCommitTimestamp", ci.get("timestamp"))
                break
        if t is None:
            t = int(
                os.path.getmtime(
                    os.path.join(
                        self.t.log_path, "%020d.json" % v
                    )
                )
                * 1000
            )
        return datetime.datetime.fromtimestamp(t / 1000, tz=tz).strftime(
            "%Y-%m-%d %H:%M:%S.%f"
        )

    def _cdf_partitions(
        self, st, lo: int, hi: int
    ) -> Sequence[InputPartition]:
        """readChangeFeed=true: per-commit change rows, served straight
        from files executor-side — cdc actions verbatim (the file
        carries _change_type), blind-append adds as inserts, whole-file
        removes as deletes with the file's PRIOR deletion vector masked
        out (already-deleted rows are not re-emitted). DV remove+re-add
        commits without cdc actions gate: under the CDF property,
        delete_where/MERGE write cdc actions, so that shape only arises
        on tables that enabled CDF after such DML — table_changes()
        covers those."""
        conf = st.metadata.get("configuration") or {}
        if conf.get("delta.enableChangeDataFeed") != "true":
            raise DeltaProtocolError(
                "readChangeFeed requires delta.enableChangeDataFeed=true"
            )
        parts = st.partition_columns
        types = {
            f.name: f.dataType.simpleString() for f in st.schema.fields
        }
        types.update(
            {
                "_change_type": "string",
                "_commit_version": "long",
                "_commit_timestamp": "timestamp",
            }
        )
        order = [f.name for f in st.schema.fields] + _CDF_COLS
        try:
            cur_adds = dict(self.t.state(lo).adds) if lo >= 0 else {}
        except DeltaProtocolError:
            cur_adds = {}
        out: list[_FileSlice] = []
        for v in range(lo + 1, hi + 1):
            actions = self.t._read_commit(v)
            ts = self._commit_ts_iso(v)
            lits = {"_commit_version": str(v), "_commit_timestamp": ts}
            cdc_paths = [a["cdc"]["path"] for a in actions if "cdc" in a]
            adds = [
                a["add"]
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            ]
            removes = [
                a["remove"]
                for a in actions
                if "remove" in a and a["remove"].get("dataChange", True)
            ]
            if cdc_paths:
                for p in cdc_paths:
                    out.append(
                        _FileSlice(
                            os.path.join(
                                self.t.path, urllib.parse.unquote(p)
                            ),
                            dict(lits),  # _change_type is IN the file
                            dict(types),
                            order,
                        )
                    )
            else:
                re_added = {a["path"] for a in adds}
                for r in removes:
                    if r["path"] in re_added:
                        raise UnsupportedTableFeatureError(
                            f"version {v} rewrites {r['path']} without "
                            "cdc actions (CDF enabled mid-history?) — "
                            "use DeltaProtocolTable.table_changes()"
                        )
                    prior = cur_adds.get(r["path"])
                    if prior is None:
                        raise DeltaProtocolError(
                            f"version {v} removes unknown file "
                            f"{r['path']!r}"
                        )
                    abs_p = os.path.join(
                        self.t.path, urllib.parse.unquote(r["path"])
                    )
                    if not os.path.exists(abs_p):
                        raise DeltaProtocolError(
                            f"file {r['path']!r} of version {v} was "
                            "vacuumed; change feed would lose rows"
                        )
                    dv = prior.get("deletionVector")
                    pv = {
                        c: (prior.get("partitionValues") or {}).get(c)
                        for c in parts
                    }
                    out.append(
                        _FileSlice(
                            abs_p,
                            {**pv, **lits, "_change_type": "delete"},
                            dict(types),
                            order,
                            self.t._dv_blob(dv) if dv else None,
                        )
                    )
                for a in adds:
                    if a.get("deletionVector"):
                        raise UnsupportedTableFeatureError(
                            f"version {v} adds a deletion-vector file "
                            "without cdc actions — use table_changes()"
                        )
                    pv = {
                        c: (a.get("partitionValues") or {}).get(c)
                        for c in parts
                    }
                    out.append(
                        _FileSlice(
                            os.path.join(
                                self.t.path,
                                urllib.parse.unquote(a["path"]),
                            ),
                            {**pv, **lits, "_change_type": "insert"},
                            dict(types),
                            order,
                        )
                    )
            for a in actions:  # roll the adds fold forward
                if "add" in a:
                    cur_adds[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    cur_adds.pop(a["remove"]["path"], None)
        return out

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        st = self.t.state()
        if st.column_mapping:
            raise UnsupportedTableFeatureError(
                "deltaprotocol source: column-mapped tables are served "
                "by DeltaProtocolTable.snapshot() (native scan)"
            )
        lo, hi = int(start["version"]), int(end["version"])
        have = set(self.t._commit_versions())
        missing = [v for v in range(lo + 1, hi + 1) if v not in have]
        if missing:
            raise DeltaProtocolError(
                f"commits {missing} were cleaned; stream from version "
                f"{lo} is no longer possible"
            )
        if self.cdf:
            return self._cdf_partitions(st, lo, hi)
        _gate(st)
        parts = st.partition_columns
        types = {f.name: f.dataType.simpleString() for f in st.schema.fields}
        order = [f.name for f in st.schema.fields]
        out = []
        for v in range(lo + 1, hi + 1):
            actions = self.t._read_commit(v)
            removes = [
                a["remove"] for a in actions
                if "remove" in a and a["remove"].get("dataChange", True)
            ]
            if removes:
                if self.skip_change:
                    continue
                raise DeltaProtocolError(
                    f"version {v} removes or changes rows (not a blind "
                    "append); set skipChangeCommits=true to skip such "
                    "commits, or consume table_changes() for the CDF"
                )
            for a in actions:
                if "add" not in a or not a["add"].get("dataChange", True):
                    continue
                add = a["add"]
                if add.get("deletionVector"):
                    raise UnsupportedTableFeatureError(
                        "deletion-vector add in streamed commit"
                    )
                pv = {
                    c: (add.get("partitionValues") or {}).get(c)
                    for c in parts
                }
                out.append(
                    _FileSlice(
                        os.path.join(
                            self.t.path, urllib.parse.unquote(add["path"])
                        ),
                        pv,
                        {c: types[c] for c in parts},
                        order,
                    )
                )
        return out

    def read(self, partition: _FileSlice) -> Iterator:
        return _read_slice(partition)

    def commit(self, end: dict) -> None:
        pass


class DeltaProtocolDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "deltaprotocol"

    def schema(self):
        from pyspark.sql import types as T

        schema = _table(self.options).state().schema
        cdf = self.options.get("readchangefeed", "false").lower() == "true"
        rid = self.options.get("withrowids", "false").lower() == "true"
        if cdf and rid:
            raise ValueError(
                "withRowIds and readChangeFeed are mutually exclusive"
            )
        if cdf:
            return _cdf_schema(schema)
        if rid:
            return T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_row_id", T.LongType()),
                    T.StructField("_row_commit_version", T.LongType()),
                ]
            )
        return schema

    def reader(self, schema) -> DataSourceReader:
        return DeltaProtocolBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return DeltaProtocolStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(DeltaProtocolDataSource)
