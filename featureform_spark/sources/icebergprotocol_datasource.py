"""A registered Spark data source for Iceberg protocol tables —
``spark.read.format("icebergprotocol")`` and
``spark.readStream.format("icebergprotocol")`` over the in-repo table
format (sources/iceberg_protocol.py).

The reference streams Iceberg tables through a dedicated pyiceberg
streamer (streamer/iceberg_streamer.py:17-106) and reads them through
the vendor IcebergSource (offline_store_spark_runner.py:966-980).
Neither ships here; this module provides both surfaces on Spark 4's
Python Data Source API:

- **Offsets are snapshot IDs** (``{"snapshot_id": id}``, ``-1`` =
  before the first snapshot) — the streamer's incremental-append
  contract: each micro-batch covers the data files committed by
  snapshots ``(start, end]`` in lineage order, checkpointed by
  Spark's offset log. IDs (not list ordinals) survive
  ``expire_snapshots``: an expired checkpointed snapshot raises
  instead of silently remapping to a different snapshot; legacy
  ``{"ordinal": i}`` checkpoints are still accepted and resolved
  positionally.
- **Append-only contract**: an overwrite/delete/replace snapshot in
  range aborts the stream unless ``skipChangeSnapshots=true`` —
  identical semantics to incremental_append_scan
  (sources/iceberg_protocol.py) and the deltaprotocol source's
  skipChangeCommits.
- **Executor-side Arrow reads**: one input partition per data file,
  read by the shared slice scan (``sources/slice_scan.py``); pyarrow
  record batches flow straight into Spark's Arrow channel. The batch
  reader applies every live delete (position deletes, v3 deletion
  vectors, equality deletes), sequence-scoped exactly as
  ``IcebergProtocolTable._scan``, the Spark-side scan; a column a file lacks
  reads NULL or its ``initial-default``. Iceberg keeps source columns
  IN the data files, so no partition-literal reattachment is needed;
  name-mapped and metadata-partitioned tables (UniForm mirrors) gate
  to ``IcebergProtocolTable.snapshot()``.

- **Change feed** (``readChangeFeed=true``, streaming, or batch over
  ``startingSnapshotId``/``endingSnapshotId``): the snapshots are
  planned by ``IcebergProtocolTable._changes``, the planner
  ``changelog_scan`` runs too, and each piece becomes one slice per
  data file. Overwrite snapshots gate to ``changelog_scan``.

Options: ``path`` (table root), ``startingSnapshotOrdinal`` (int or
``earliest`` [default] / ``latest``), ``skipChangeSnapshots``,
``readChangeFeed``.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pyarrow.parquet as pq

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from featureform_spark.sources.dv_bitmap import encode_rbm_array
from featureform_spark.sources.iceberg_protocol import (
    IcebergProtocolError,
    IcebergProtocolTable,
    UnsupportedIcebergFeatureError,
)
from featureform_spark.sources.slice_scan import (
    Slice,
    read_slice,
    simple_types,
    table_from_options,
    with_columns,
)


def _gate(t: IcebergProtocolTable, md: dict, data_entries: list) -> None:
    """Tables whose files store columns under other names, or keep
    partition values only in the manifests (UniForm mirrors, migrated
    Hive tables), need the native reader's rename and reattach."""
    if t._nm_resolution(md, data_entries) or t._identity_patch(
        md, data_entries
    ):
        raise UnsupportedIcebergFeatureError(
            "sessionless Iceberg scan: name-mapped / metadata-"
            "partitioned tables (UniForm mirrors) are served by "
            "IcebergProtocolTable.snapshot()"
        )


def _defaults(t: IcebergProtocolTable, schema, entries: list) -> dict:
    """{data file: {column: initial-default}} for the files that lack
    a defaulted column (v3 spec §Default values)."""
    patch = t._defaults_patch(schema, entries)
    if patch is None:
        return {}
    rows, dcols = patch
    return {
        path: {
            name: jv
            for (name, _dt, jv, _fid), has in zip(dcols, flags)
            if not has
        }
        for path, *flags in rows
    }


def _eq_keys(t: IcebergProtocolTable, md: dict, df_: dict) -> tuple:
    """(columns, {key tuple}) of one equality-delete file."""
    cols = t._eq_columns(md, df_)
    det = pq.read_table(t._resolve_path(df_["file_path"]), columns=cols)
    return cols, set(zip(*[det.column(c).to_pylist() for c in cols]))


def _positions(arrays: list | None) -> tuple | None:
    """A slice's (roaring blob, cardinality) for the union of
    ``arrays``; None when they hold no position."""
    if not arrays:
        return None
    merged = np.unique(np.concatenate(arrays))
    if not len(merged):
        return None
    return encode_rbm_array(merged), len(merged)


def _slices(
    t: IcebergProtocolTable,
    md: dict,
    entries: list,
    deletes: list = (),
    *,
    extra: Sequence = (),
    constants: dict | None = None,
    keep: dict | None = None,
    drop: dict | None = None,
    keep_keys: list | None = None,
) -> list[Slice]:
    """One slice per data file of ``entries``, in path order, with
    ``deletes`` scoped by sequence number as
    ``IcebergProtocolTable._scan`` scopes them: position deletes and
    deletion vectors at ``del_seq >= data_seq``, equality deletes at
    ``data_seq < del_seq``. The rest is a change piece's: ``keep`` and
    ``drop`` ({file: positions}) keep only and leave out rows,
    ``keep_keys`` (equality-delete entries) keep rows matching any of
    them, and ``extra`` columns take their values from ``constants``."""
    schema = t.spark_schema(md)
    out_schema = with_columns(schema, extra)
    order = [f.name for f in out_schema.fields]
    types = simple_types(out_schema)
    seq = {
        t._resolve_path(e["data_file"]["file_path"]): int(
            e.get("sequence_number") or 0
        )
        for e in entries
    }
    drops = {path: [pos] for path, pos in (drop or {}).items()}
    eq: list[tuple[int, list, set]] = []
    for e in deletes:
        del_seq = int(e.get("sequence_number") or 0)
        df_ = e["data_file"]
        if int(df_.get("content", 0)) == 2:
            eq.append((del_seq, *_eq_keys(t, md, df_)))
            continue
        for path, pos in t._delete_positions(df_).items():
            if path in seq and del_seq >= seq[path]:
                drops.setdefault(path, []).append(pos)
    defaults = _defaults(t, schema, entries)
    any_keys = (
        None
        if keep_keys is None
        else [_eq_keys(t, md, e["data_file"]) for e in keep_keys]
    )
    return [
        Slice(
            path,
            order,
            types,
            {**defaults.get(path, {}), **(constants or {})},
            drop=_positions(drops.get(path)),
            keep=None if keep is None else _positions([keep[path]]),
            drop_keys=[
                (cols, keys) for del_seq, cols, keys in eq
                if seq[path] < del_seq
            ],
            keep_keys=any_keys,
        )
        for path in sorted(seq)
    ]


def snapshot_slices(
    t: IcebergProtocolTable, snap: dict, md: dict | None = None
) -> list[Slice]:
    """One slice per live data file of ``snap``, in path order, with
    the deletes that apply to it: the batch source's input partitions
    and the Flight scan's input."""
    md = md or t.metadata()
    data_entries, delete_entries = t._live_entries(snap)
    _gate(t, md, data_entries)
    return _slices(t, md, data_entries, delete_entries)


class IcebergProtocolBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.t = table_from_options(options, IcebergProtocolTable)
        self.options = options

    def partitions(self) -> Sequence[InputPartition]:
        md = self.t.metadata()
        if self.options.get("readchangefeed", "false").lower() == "true":
            # batch CDF over a snapshot-id range (mirrors the delta
            # source's startingVersion/endingVersion contract)
            snaps = self.t.main_lineage(md)
            ids = [int(s["snapshot-id"]) for s in snaps]
            start = self.options.get("startingsnapshotid")
            end = self.options.get("endingsnapshotid")
            lo = ids.index(int(start)) if start is not None else -1
            hi = ids.index(int(end)) if end is not None else len(ids) - 1
            reader = IcebergProtocolStreamReader(
                {"path": self.options["path"], "readchangefeed": "true"}
            )
            return reader._cdf_partitions(md, snaps, lo, hi)
        sid = self.options.get("snapshotid")
        ref = self.options.get("ref")
        if sid is not None and ref is not None:
            raise ValueError("snapshotId and ref are mutually exclusive")
        if ref is not None:
            refs = md.get("refs") or {}
            if ref not in refs:
                raise IcebergProtocolError(f"unknown ref {ref!r}")
            sid = refs[ref]["snapshot-id"]
        snap = self.t._snapshot_by(
            int(sid) if sid is not None else None, md=md
        )
        if snap is None:
            return []
        return snapshot_slices(self.t, snap, md)

    def read(self, partition: Slice) -> Iterator:
        return read_slice(partition)


_CDF = [
    ("_change_type", T.StringType()),
    ("_change_ordinal", T.IntegerType()),
    ("_commit_snapshot_id", T.LongType()),
]


class IcebergProtocolStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.t = table_from_options(options, IcebergProtocolTable)
        self.cdf = (
            options.get("readchangefeed", "false").lower() == "true"
        )
        self.skip_change = (
            options.get("skipchangesnapshots", "false").lower() == "true"
        )
        starting = options.get("startingsnapshotordinal", "earliest").lower()
        snaps = self.t.main_lineage(self.t.metadata())
        if starting == "earliest":
            self.start_id = -1
        elif starting == "latest":
            self.start_id = int(snaps[-1]["snapshot-id"]) if snaps else -1
        else:  # explicit 1-based ordinal, resolved ONCE to a stable id
            i = int(starting) - 1
            self.start_id = int(snaps[i]["snapshot-id"]) if i >= 0 else -1

    @staticmethod
    def _index_of(offset: dict, snaps: list) -> int:
        """Resolve a checkpointed offset to an index into the CURRENT
        lineage (-1 = before the first snapshot). Snapshot-id offsets
        raise when the id has been expired out of the lineage — the
        alternative (a shifted ordinal silently reading different
        snapshots) is data loss. Legacy ordinal offsets resolve
        positionally for old checkpoints."""
        if "snapshot_id" in offset:
            sid = int(offset["snapshot_id"])
            if sid == -1:
                return -1
            for i, s in enumerate(snaps):
                if int(s["snapshot-id"]) == sid:
                    return i
            raise IcebergProtocolError(
                f"checkpointed snapshot {sid} is no longer in the "
                "table lineage (expire_snapshots?) — the stream cannot "
                "resume exactly-once from an expired snapshot"
            )
        i = int(offset["ordinal"])  # legacy checkpoint
        if i >= len(snaps):
            raise IcebergProtocolError(
                f"legacy ordinal offset {i} out of lineage "
                f"(have {len(snaps)} snapshots — expired?)"
            )
        return i

    def initialOffset(self) -> dict:
        return {"snapshot_id": self.start_id}

    def latestOffset(self) -> dict:
        snaps = self.t.main_lineage(self.t.metadata())
        return {
            "snapshot_id": int(snaps[-1]["snapshot-id"]) if snaps else -1
        }

    def _cdf_partitions(
        self, md: dict, snaps: list, lo: int, hi: int
    ) -> Sequence[InputPartition]:
        """readChangeFeed=true: the change pieces of snapshots (lo, hi]
        as planned by ``IcebergProtocolTable._changes``, one executor-
        readable slice per data file of each piece — inserts read whole,
        position and vector deletes keep their fresh positions (shipped
        roaring-encoded), equality deletes keep the parent-live rows
        matching any new key set. Overwrites gate to changelog_scan
        (its exceptAll needs a join)."""
        out: list[Slice] = []
        for p in self.t._changes(md, snaps, lo + 1, hi):
            if p.change == "overwrite":
                raise UnsupportedIcebergFeatureError(
                    f"snapshot {p.sid} is an overwrite — consume "
                    "IcebergProtocolTable.changelog_scan() for "
                    "overwrite change rows"
                )
            out += _slices(
                self.t, md, p.entries, p.deletes,
                extra=_CDF,
                constants={
                    "_change_type": p.change,
                    "_change_ordinal": p.ordinal,
                    "_commit_snapshot_id": p.sid,
                },
                keep=p.keep,
                drop=p.drop,
                keep_keys=p.keep_keys,
            )
        return out

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        md = self.t.metadata()
        snaps = self.t.main_lineage(md)
        schema = self.t.spark_schema(md)
        order = [f.name for f in schema.fields]
        types = simple_types(schema)
        lo = self._index_of(start, snaps)
        hi = self._index_of(end, snaps)
        if hi < lo:
            raise IcebergProtocolError(
                f"snapshot range ({lo}, {hi}] is inverted in the "
                "current lineage"
            )
        if hi == lo:
            return []
        if self.cdf:
            return self._cdf_partitions(md, snaps, lo, hi)
        # files are collected from each append snapshot's OWN view (the
        # entries it added), not the range head's live set: a later
        # rewrite in range replaces earlier files, but the rows were
        # committed by the appends and the original files persist until
        # expire_snapshots — reading per-snapshot keeps skipped change
        # snapshots from swallowing prior appends
        out: list[Slice] = []
        seen: set[str] = set()
        # each snapshot's added files = its live set minus its lineage
        # parent's (cherry-picked WAP publishes keep the staged
        # snapshot's id on their entries — a sid-stamp filter drops
        # their rows)
        parent_files: set[str] | None = None
        for i in range(lo + 1, hi + 1):
            s = snaps[i]
            op = (s.get("summary") or {}).get("operation", "append")
            if parent_files is None:
                if i > 0:
                    _pe, _pd = self.t._live_entries(snaps[i - 1])
                    parent_files = {
                        pe["data_file"]["file_path"] for pe in _pe
                    }
                else:
                    parent_files = set()
            if op != "append":
                if self.skip_change:
                    parent_files = None  # recompute vs the skipped snap
                    continue
                raise IcebergProtocolError(
                    f"snapshot {s['snapshot-id']} is {op!r}, not append — "
                    "set skipChangeSnapshots=true to skip such snapshots"
                )
            data_entries, deletes = self.t._live_entries(s)
            if deletes:
                raise UnsupportedIcebergFeatureError(
                    "live position/equality deletes in streamed range — "
                    "use IcebergProtocolTable.snapshot() (merge-on-read)"
                )
            cur_files = {
                e["data_file"]["file_path"] for e in data_entries
            }
            defaults = _defaults(self.t, schema, data_entries)
            for e in data_entries:
                if e["data_file"]["file_path"] in parent_files:
                    continue
                p = self.t._resolve_path(e["data_file"]["file_path"])
                if p not in seen:
                    seen.add(p)
                    out.append(Slice(p, order, types, defaults.get(p)))
            parent_files = cur_files
        return out

    def read(self, partition: Slice) -> Iterator:
        return read_slice(partition)

    def commit(self, end: dict) -> None:
        pass


class IcebergProtocolDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "icebergprotocol"

    def schema(self):
        t = table_from_options(self.options, IcebergProtocolTable)
        schema = t.spark_schema(t.metadata())
        if self.options.get("readchangefeed", "false").lower() == "true":
            return with_columns(schema, _CDF)
        return schema

    def reader(self, schema) -> DataSourceReader:
        return IcebergProtocolBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return IcebergProtocolStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(IcebergProtocolDataSource)
