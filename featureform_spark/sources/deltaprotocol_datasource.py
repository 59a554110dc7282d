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
- **Executor-side Arrow reads**: one input partition per data file,
  read by the shared slice scan (``sources/slice_scan.py``); each
  partition streams the file's pyarrow record batches straight into
  Spark's Arrow channel (no per-row Python), with Hive partition
  values attached as constant columns.

Honest gates: column-mapped tables raise everywhere; deletion-vector
adds raise on the append-only STREAM path only (they arrive via change
commits, which the append-only contract already refuses) — the batch
reader and the change feed apply DVs executor-side: the compact roaring
blob ships with each input partition and masks rows by file-relative
index during the Arrow read. The native ``DeltaProtocolTable`` reader
(JVM scan + broadcast anti-join) remains the 100-TB path.

Options: ``path`` (table root), ``startingVersion`` (int or
``earliest`` [default] / ``latest``), ``skipChangeCommits``,
``readChangeFeed=true`` — the CDF source (streaming, or batch with
``startingVersion``/``endingVersion``): each micro-batch carries the
change rows of commits (start, end] with ``_change_type`` /
``_commit_version`` / ``_commit_timestamp`` columns. The commits are
planned by ``DeltaProtocolTable._changes``, the planner
``table_changes`` runs too: cdc files verbatim, inserted and removed
files with their prior DV masked, and for a remove+re-add that changes
a file's DV only the newly deleted (or restored) positions.
"""

from __future__ import annotations

import os
import urllib.parse
from typing import Iterator, Sequence

from pyspark.sql import types as T
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
from featureform_spark.sources.dv_bitmap import encode_rbm_array
from featureform_spark.sources.slice_scan import (
    Slice,
    read_slice,
    simple_types,
    table_from_options,
    with_columns,
)


def _refuse_column_mapping(st) -> None:
    """Column-mapped files store physical column names; only the
    native scan maps them back."""
    if st.column_mapping:
        raise UnsupportedTableFeatureError(
            "sessionless Delta scan: column-mapped tables are served by "
            "DeltaProtocolTable.snapshot() (native scan)"
        )


def _gate(st) -> None:
    _refuse_column_mapping(st)
    for a in st.adds.values():
        if a.get("deletionVector"):
            raise UnsupportedTableFeatureError(
                "deltaprotocol source: deletion-vector adds are served "
                "by DeltaProtocolTable.snapshot() (native scan)"
            )


def _partition_values(add: dict, parts: list) -> dict:
    return {c: (add.get("partitionValues") or {}).get(c) for c in parts}


def snapshot_slices(
    t: DeltaProtocolTable, st, row_ids: tuple[str, str] | None = None
) -> list[Slice]:
    """One slice per live file of the folded state ``st``, in path
    order: the batch source's input partitions and the Flight scan's
    input. ``row_ids`` is the (materialized row-id, row-commit-version)
    physical column pair when row ids are requested. Deletion vectors
    travel as the compact blob and are decoded by the reader."""
    _refuse_column_mapping(st)
    order = [f.name for f in st.schema.fields]
    types = simple_types(st.schema)
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
            Slice(
                t._abs_data_path(rel),
                order,
                types,
                _partition_values(a, st.partition_columns),
                drop=(t._dv_blob(dv), dv.get("cardinality")) if dv else None,
                row_info=row_info,
            )
        )
    return out


class DeltaProtocolBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.t = table_from_options(options, DeltaProtocolTable)
        self.options = options

    def partitions(self) -> Sequence[InputPartition]:
        st = self.t.state()
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

    def read(self, partition: Slice) -> Iterator:
        return read_slice(partition)


_CDF = [
    ("_change_type", T.StringType()),
    ("_commit_version", T.LongType()),
    ("_commit_timestamp", T.TimestampType()),
]


class DeltaProtocolStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.t = table_from_options(options, DeltaProtocolTable)
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
        """readChangeFeed=true: the change pieces of commits (lo, hi]
        as planned by ``DeltaProtocolTable._changes``, one executor-
        readable slice per file of each piece — cdc files verbatim (the
        file carries _change_type), inserted and deleted files with
        their deletion vector masked, and for a changed vector the
        newly deleted or restored positions only (shipped roaring-
        encoded)."""
        _refuse_column_mapping(st)
        conf = st.metadata.get("configuration") or {}
        if conf.get("delta.enableChangeDataFeed") != "true":
            raise DeltaProtocolError(
                "readChangeFeed requires delta.enableChangeDataFeed=true"
            )
        parts = st.partition_columns
        schema = with_columns(st.schema, _CDF)
        types = simple_types(schema)
        order = [f.name for f in schema.fields]
        stamps: dict[int, str] = {}
        out: list[Slice] = []
        for p in self.t._changes(lo, hi):
            if p.version not in stamps:
                stamps[p.version] = self._commit_ts_iso(p.version)
            lits = {
                "_commit_version": str(p.version),
                "_commit_timestamp": stamps[p.version],
            }
            for a in p.files:
                path = self.t._abs_data_path(a["path"])
                if p.change == "cdc":
                    out.append(Slice(path, order, types, lits))
                    continue
                dv = a.get("deletionVector")
                keep = None if p.keep is None else p.keep[path]
                out.append(
                    Slice(
                        path,
                        order,
                        types,
                        {
                            **_partition_values(a, parts),
                            **lits,
                            "_change_type": p.change,
                        },
                        drop=(
                            (self.t._dv_blob(dv), dv.get("cardinality"))
                            if dv
                            else None
                        ),
                        keep=(
                            None
                            if keep is None
                            else (encode_rbm_array(keep), len(keep))
                        ),
                    )
                )
        return out

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        st = self.t.state()
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
        types = simple_types(st.schema)
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
                out.append(
                    Slice(
                        os.path.join(
                            self.t.path, urllib.parse.unquote(add["path"])
                        ),
                        order,
                        types,
                        _partition_values(add, st.partition_columns),
                    )
                )
        return out

    def read(self, partition: Slice) -> Iterator:
        return read_slice(partition)

    def commit(self, end: dict) -> None:
        pass


class DeltaProtocolDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "deltaprotocol"

    def schema(self):
        t = table_from_options(self.options, DeltaProtocolTable)
        schema = t.state().schema
        cdf = self.options.get("readchangefeed", "false").lower() == "true"
        rid = self.options.get("withrowids", "false").lower() == "true"
        if cdf and rid:
            raise ValueError(
                "withRowIds and readChangeFeed are mutually exclusive"
            )
        if cdf:
            return with_columns(schema, _CDF)
        if rid:
            return with_columns(
                schema,
                [("_row_id", T.LongType()), ("_row_commit_version", T.LongType())],
            )
        return schema

    def reader(self, schema) -> DataSourceReader:
        return DeltaProtocolBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return DeltaProtocolStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(DeltaProtocolDataSource)
