"""How a table's data files become Arrow record batches without a
Spark session: the read-side twin of ``staged_write.py``.

Every sessionless reader here (Flight ``do_get``, the ``deltaprotocol``
and ``icebergprotocol`` Python Data Sources, their stream and change
feed readers) reads the same thing: some parquet files, each with a
few constant columns and a set of rows to leave out. This module owns
that once:

- :class:`Slice` is one data file as a table format sees it: its
  logical column order, its constant columns (partition literals,
  change-feed columns, Iceberg ``initial-default`` values), and its
  delete mask (positions to drop or to keep, equality key sets to drop
  or to keep) plus an optional Delta row-id base. Slices pickle, so
  one slice is one Data Source input partition.
- :func:`scan_slices` reads any number of slices in ONE
  ``pyarrow.dataset`` scan and applies each file's constants and mask
  by file-relative row index as its batches stream past.

Each format keeps only a planner that turns its metadata into slices:
``deltaprotocol_datasource.snapshot_slices`` and the Delta change-feed
slices, ``icebergprotocol_datasource.snapshot_slices`` and the Iceberg
change-feed slices.
"""

from __future__ import annotations

import re
from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql.datasource import InputPartition

from featureform_spark.sources.dv_bitmap import dv_positions


class Slice(InputPartition):
    """One data file of a scan.

    ``types`` holds the Spark simpleString of every column that is a
    constant here or that the file may lack; a column the file lacks
    reads as a typed NULL. ``constants`` maps columns to raw values
    (partition-value strings, JSON default values, change-feed values).
    Positions are ``(roaring blob, cardinality or None)`` pairs,
    decoded and cardinality-checked where the file is read. Key sets
    are ``(columns, {key tuple})`` pairs; NULL matches NULL."""

    def __init__(
        self,
        path: str,
        order: list,
        types: dict,
        constants: dict | None = None,
        *,
        drop: tuple | None = None,
        keep: tuple | None = None,
        drop_keys: Sequence = (),
        keep_keys: Sequence | None = None,
        row_info: tuple | None = None,
    ):
        self.path = path
        self.order = order
        self.types = types
        self.constants = constants or {}
        self.drop = drop            # positions to drop (a deletion vector)
        self.keep = keep            # positions to keep (delete replay)
        self.drop_keys = list(drop_keys)  # drop rows matching any set
        # None = every row; otherwise keep rows matching any set
        self.keep_keys = None if keep_keys is None else list(keep_keys)
        # Delta row tracking: (baseRowId, defaultRowCommitVersion,
        # materialized-row-id col, materialized-rcv col) or None
        self.row_info = row_info


# --------------------------------------------------------- typed values

_ARROW_SCALARS = {
    "string": "string",
    "long": "int64",
    "bigint": "int64",
    "int": "int32",
    "integer": "int32",
    "short": "int16",
    "smallint": "int16",
    "byte": "int8",
    "tinyint": "int8",
    "double": "float64",
    "float": "float32",
    "boolean": "bool",
    "binary": "binary",
    "date": "date32",
}
# logical types whose arrow form is exact: a file storing another
# width (an Iceberg int -> long promotion) is cast to it
_EXACT = {
    "long", "bigint", "int", "integer", "short", "smallint", "byte",
    "tinyint", "double", "float", "date",
}
# a timestamp anywhere in a type, as a type (a struct field NAMED
# timestamp is followed by ':'): files disagree on the zone flag
_TIMESTAMP = re.compile(r"(?:^|[<:,])timestamp(?:_ntz)?(?:$|[>,])")


def _split_top(inner: str) -> list:
    """``inner`` split at the commas outside any ``<...>`` or
    ``(...)``: the element types of a map or the fields of a struct."""
    parts, depth, start = [], 0, 0
    for i, c in enumerate(inner):
        depth += (c in "<(") - (c in ">)")
        if c == "," and depth == 0:
            parts.append(inner[start:i])
            start = i + 1
    return parts + [inner[start:]] if inner else parts


def arrow_type(simple: str):
    """The arrow type of a Spark simpleString, nested types included,
    named like the parquet Spark writes so a file's column casts to it.
    Decimals stay exact; ``timestamp`` is microseconds in UTC and
    ``timestamp_ntz`` naive microseconds; anything unrecognised reads
    as a string."""
    m = re.match(r"decimal\((\d+),(\d+)\)$", simple)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    if simple in ("timestamp", "timestamp_ntz"):
        return pa.timestamp("us", tz="UTC" if simple == "timestamp" else None)
    if simple.startswith("array<"):
        return pa.list_(pa.field("element", arrow_type(simple[6:-1])))
    if simple.startswith("map<"):
        key, value = _split_top(simple[4:-1])
        return pa.map_(arrow_type(key), arrow_type(value))
    if simple.startswith("struct<"):
        return pa.struct([
            pa.field(name, arrow_type(t))
            for name, t in (f.split(":", 1) for f in _split_top(simple[7:-1]))
        ])
    return pa.type_for_alias(_ARROW_SCALARS.get(simple, "string"))


def py_value(raw, simple: str):
    """A raw constant (a partition-value string, a JSON value) as the
    Python value of its Spark type."""
    if raw is None or not isinstance(raw, str):
        return raw
    if simple in ("long", "bigint", "int", "integer", "short", "smallint",
                  "byte", "tinyint"):
        return int(raw)
    if simple in ("double", "float"):
        return float(raw)
    if simple == "boolean":
        return raw.lower() == "true"
    if simple == "date":
        import datetime

        return datetime.date.fromisoformat(raw)
    if simple in ("timestamp", "timestamp_ntz"):
        import datetime

        return datetime.datetime.fromisoformat(raw)
    if simple.startswith("decimal"):
        from decimal import Decimal

        return Decimal(raw)
    return raw


def output_schema(
    order: list, types: dict, constants, file_schema, row_ids: bool
):
    """The scan's arrow schema in logical ``order``: constants, columns
    absent from ``file_schema``, exact numeric types and every type
    holding a timestamp take their type in ``types`` (so the schema
    does not depend on which file sorts first); the rest keep their
    type in ``file_schema``. Plus the two row-id columns."""
    def _field(n):
        simple = types.get(n)
        if (
            n in constants
            or file_schema is None
            or n not in file_schema.names
            or simple in _EXACT
            or (simple or "").startswith("decimal")
            or _TIMESTAMP.search(simple or "")
        ):
            if simple is None:
                raise ValueError(f"slice column {n!r} has no type")
            return pa.field(n, arrow_type(simple))
        return file_schema.field(n)

    fields = [_field(n) for n in order]
    if row_ids:
        fields += [
            pa.field("_row_id", pa.int64()),
            pa.field("_row_commit_version", pa.int64()),
        ]
    return pa.schema(fields)


def key_match(batch, key_sets) -> np.ndarray:
    """True where a row's key tuple is in any ``(columns, tuples)``
    set. Values compare as Python objects, so NULL matches NULL, as
    Iceberg equality deletes require."""
    hit = np.zeros(batch.num_rows, dtype=bool)
    for cols, tuples in key_sets:
        if not tuples:
            continue
        vals = [batch.column(c).to_pylist() for c in cols]
        hit |= np.fromiter(
            (row in tuples for row in zip(*vals)),
            dtype=bool,
            count=batch.num_rows,
        )
    return hit


# --------------------------------------------------------- the executor


def scan_slices(slices: Sequence[Slice]):
    """(schema, record batches) of ``slices`` read by ONE
    pyarrow.dataset scan, in slice order. ``scan_batches()`` tags each
    batch with its file, which keys the per-file work: the delete mask
    by file-relative row index, the constant columns and the row ids.
    Slices name distinct files; the first one fixes the output schema
    (its logical order, its types, its file's column types)."""
    by_path = {s.path: s for s in slices}
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
    constant = set(first.constants).intersection(
        *(s.constants for s in slices)
    )
    schema = output_schema(
        first.order,
        first.types,
        constant,
        file_schema,
        first.row_info is not None,
    )
    columns = [n for n in first.order if n not in constant]
    # the dataset reads every non-constant column in its output type;
    # files lacking one read NULL there (only rewritten Delta files
    # carry materialized row ids: the others fall back to baseRowId +
    # row index)
    read_fields = [schema.field(n) for n in columns] + [
        file_schema.field(c)
        if c in file_schema.names
        else pa.field(c, pa.int64())
        for c in row_cols
        if c not in first.order
    ]
    columns += [c for c in row_cols if c not in first.order]
    if any(
        f.name not in file_schema.names
        or file_schema.field(f.name).type != f.type
        for f in read_fields
    ):
        dataset = ds.dataset(
            list(by_path), format="parquet", schema=pa.schema(read_fields)
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


def _position_mask(positions, start: int, n: int, value: bool):
    """Rows ``start .. start+n`` of a file: ``value`` at the file-
    relative ``positions`` (sorted) that fall in them, else not."""
    mask = np.full(n, not value, dtype=bool)
    lo = np.searchsorted(positions, start)
    hi = np.searchsorted(positions, start + n)
    mask[(positions[lo:hi] - start).astype(np.int64)] = value
    return mask


class _SliceBatches:
    """Per-file state of a slice scan: the decoded positions, the
    running file-relative row offset, and the constant values."""

    def __init__(self, part: Slice, schema):
        self.part = part
        self.schema = schema
        self.offset = 0
        self.drop = dv_positions(*part.drop) if part.drop else None
        self.keep = dv_positions(*part.keep) if part.keep else None
        self.constants = {
            name: py_value(raw, part.types[name])
            for name, raw in part.constants.items()
        }

    def convert(self, batch):
        """The file's next batch in the output schema with its delete
        mask applied; None when no row of it survives."""
        part = self.part
        start = self.offset
        n = batch.num_rows
        self.offset += n
        keep = None
        if self.drop is not None and len(self.drop):
            keep = _position_mask(self.drop, start, n, False)
        if self.keep is not None:
            wanted = _position_mask(self.keep, start, n, True)
            keep = wanted if keep is None else keep & wanted
        if keep is not None and not keep.any():
            return None
        arrays = [
            pa.repeat(pa.scalar(self.constants[name], f.type), n)
            if name in self.constants
            else batch.column(name)
            for name, f in zip(part.order, self.schema)
        ]
        if part.row_info is not None:
            base, dcv, mat_id, mat_rcv = part.row_info
            # a foreign add action without baseRowId (written while the
            # feature was supported-but-unenabled) has NO fresh ids —
            # NULL, exactly like the Spark-session scan's coalesce
            fresh = (
                pa.array(
                    np.arange(base + start, base + start + n, dtype=np.int64)
                )
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
        out = pa.RecordBatch.from_arrays(arrays, schema=self.schema)
        if part.drop_keys or part.keep_keys is not None:
            # keys match on output values: a key column that is a
            # constant (a default) here matches its constant
            hit = key_match(out, part.drop_keys)
            keys_keep = ~hit
            if part.keep_keys is not None:
                keys_keep &= key_match(out, part.keep_keys)
            keep = keys_keep if keep is None else keep & keys_keep
        if keep is not None:
            out = out.filter(pa.array(keep))
        return out if out.num_rows else None


def read_slice(part: Slice) -> Iterator:
    """Executor-side read of one input partition: the one-slice case of
    :func:`scan_slices`."""
    return scan_slices([part])[1]


# ------------------------------------------------ shared source helpers


def table_from_options(options: dict, cls):
    """The sessionless ``cls`` table at the Data Source option
    ``path``."""
    path = options.get("path")
    if not path:
        raise ValueError(
            f"reading a {cls.__name__} requires option path=<table root>"
        )
    return cls(None, path)


def simple_types(schema) -> dict:
    """{column: Spark simpleString} of a StructType: a slice's types."""
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def with_columns(schema, extra: Sequence):
    """``schema`` plus ``(name, DataType)`` columns: the change-feed
    and row-id schemas of both sources."""
    from pyspark.sql import types as T

    return T.StructType(
        list(schema.fields) + [T.StructField(n, t) for n, t in extra]
    )
