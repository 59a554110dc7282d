"""How a DataFrame becomes immutable parquet files in a table directory.

Every table format here (Delta, Iceberg, deltalite) commits data the
same way: Spark writes a staging directory, the driver reads each
file's footer for row counts and column statistics, and the files move
to their final names before the format's commit makes them visible.
This module owns that lifecycle once:

- :func:`micros_timestamps` pins ``spark.sql.parquet.outputTimestampType``
  to ``TIMESTAMP_MICROS`` for the duration of a write. Spark's default
  INT96 carries no column statistics (timestamp pruning silently dies)
  and the Iceberg spec requires INT64 timestamps. The conf is
  session-global and the option form (``.option(...)``) is ignored by
  Spark, so concurrent writers share one reference-counted pin per
  session: the first in sets it, the last out restores the prior value
  (or unsets it).
- :func:`write_staged` writes ``.staging/<uuid>``, folds every
  non-empty file's footer, moves the files to caller-chosen names and
  removes the staging directory whatever happens.
- :func:`fold_footer` turns one footer into a format-neutral
  :class:`FileRecord`; each format encodes that record into its own
  statistics (Delta stats JSON, Iceberg field-id bounds, deltalite
  zone maps).
"""

from __future__ import annotations

import os
import shutil
import threading
import urllib.parse
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STAGING_DIR = ".staging"

_TS_CONF = "spark.sql.parquet.outputTimestampType"
_pins: dict[Any, list] = {}  # session -> [holders, prior value or None]
_pins_lock = threading.Lock()


@contextmanager
def micros_timestamps(spark) -> Iterator[None]:
    """Hold ``TIMESTAMP_MICROS`` parquet output on ``spark``'s session.
    Reference-counted per session object, so overlapping writes on
    several threads never observe each other's restore."""
    with _pins_lock:
        pin = _pins.get(spark)
        if pin is None:
            prior = spark.conf.get(_TS_CONF, None)
            spark.conf.set(_TS_CONF, "TIMESTAMP_MICROS")
            pin = _pins[spark] = [0, prior]
        pin[0] += 1
    try:
        yield
    finally:
        with _pins_lock:
            pin[0] -= 1
            if pin[0] == 0:
                del _pins[spark]
                if pin[1] is None:
                    spark.conf.unset(_TS_CONF)
                else:
                    spark.conf.set(_TS_CONF, pin[1])


@dataclass(frozen=True)
class ColumnStats:
    """One leaf column of one file, summed over its row groups.
    ``nulls`` counts only row groups whose statistics bound the column
    (None when none did); ``bounds`` is (min, max), or None when any
    row group left the column not covered."""

    values: int
    nulls: int | None
    bounds: tuple[Any, Any] | None


@dataclass(frozen=True)
class FileRecord:
    """A parquet file as every format's commit needs it. ``columns`` is
    keyed by the footer's leaf path; None when pyarrow cannot parse the
    footer (Spark's VARIANT), so only ``rows`` is known. ``partition``
    holds the raw Hive directory values (None = the null partition)."""

    path: str
    size: int
    rows: int
    columns: dict[str, ColumnStats] | None
    partition: dict[str, str | None] = field(default_factory=dict)


def _chunk_bounds(chunk) -> tuple[Any, Any, int] | None:
    """(min, max, null count) of one column chunk, or None when its
    statistics cannot bound it: absent, not castable by pyarrow
    (``NotImplementedError``, e.g. INT32/INT64-backed decimals) or
    bytes that are not UTF-8."""
    try:
        st = chunk.statistics
        if st is None or not st.has_min_max:
            return None
        lo, hi = st.min, st.max
    except NotImplementedError:
        return None
    if isinstance(lo, bytes):
        try:
            lo, hi = lo.decode(), hi.decode()
        except UnicodeDecodeError:
            return None
    return lo, hi, st.null_count or 0


def fold_footer(path: str) -> FileRecord:
    """Fold one parquet footer (metadata only, no data read) into a
    :class:`FileRecord`. Raises ``OSError`` when pyarrow cannot parse
    it."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    values: dict[str, int] = {}
    nulls: dict[str, int] = {}
    lows: dict[str, Any] = {}
    highs: dict[str, Any] = {}
    covered: dict[str, bool] = {}
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            chunk = group.column(ci)
            name = chunk.path_in_schema
            values[name] = values.get(name, 0) + chunk.num_values
            b = _chunk_bounds(chunk)
            if b is None:
                covered[name] = False
                continue
            lo, hi, n = b
            covered.setdefault(name, True)
            nulls[name] = nulls.get(name, 0) + n
            lows[name] = lo if name not in lows else min(lows[name], lo)
            highs[name] = hi if name not in highs else max(highs[name], hi)
    return FileRecord(
        path=path,
        size=os.path.getsize(path),
        rows=md.num_rows,
        columns={
            name: ColumnStats(
                values=v,
                nulls=nulls.get(name),
                bounds=(
                    (lows[name], highs[name])
                    if covered[name] and name in lows
                    else None
                ),
            )
            for name, v in values.items()
        },
    )


def _partition_values(rel_dir: str) -> dict[str, str | None]:
    """Hive ``k=v`` directory segments → {k: raw decoded v}."""
    pv: dict[str, str | None] = {}
    for seg in rel_dir.split(os.sep) if rel_dir else ():
        k, _, raw = seg.partition("=")
        pv[k] = (
            None
            if raw == "__HIVE_DEFAULT_PARTITION__"
            else urllib.parse.unquote(raw)
        )
    return pv


def _row_counts(spark, staging: str) -> dict[str, int]:
    """Per-file row counts of a staged write via one Spark job — the
    fallback for footers pyarrow cannot open (VARIANT)."""
    from featureform_spark.sources.delta_protocol import strip_file_scheme

    rows = (
        spark.read.parquet(staging)
        .groupBy(F.input_file_name().alias("_f"))
        .count()
        .collect()
    )
    return {
        os.path.realpath(
            urllib.parse.unquote(strip_file_scheme(r["_f"]))
        ): int(r["count"])
        for r in rows
    }


def write_staged(
    df: DataFrame,
    root: str,
    name: Callable[[str, int], str],
    partition_by: list[str] | tuple[str, ...] = (),
) -> list[FileRecord]:
    """Write ``df`` as parquet under ``root`` and return one record per
    non-empty file, in staging walk order.

    ``name(rel_dir, n)`` gives the n-th kept file's final path relative
    to ``root``; ``rel_dir`` is its staged Hive directory ("" when
    unpartitioned). Every footer is folded before any file moves, and
    the staging directory is removed on every exit, so a failed write
    leaves neither staging output nor half-moved files behind."""
    spark = df.sparkSession
    staging = os.path.join(root, STAGING_DIR, uuid.uuid4().hex)
    try:
        if partition_by:
            # cluster rows by partition key: without this every input
            # task emits a file per live partition value
            df = df.repartition(*[F.col(c) for c in partition_by])
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        with micros_timestamps(spark):
            writer.parquet(staging)

        kept: list[tuple[str, FileRecord]] = []
        counts: dict[str, int] | None = None
        for dirpath, _dirs, files in sorted(os.walk(staging)):
            rel_dir = os.path.relpath(dirpath, staging)
            rel_dir = "" if rel_dir == "." else rel_dir
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(dirpath, fn)
                try:
                    rec = fold_footer(src)
                except OSError:
                    if counts is None:
                        counts = _row_counts(spark, staging)
                    rec = FileRecord(
                        src,
                        os.path.getsize(src),
                        counts.get(os.path.realpath(src), 0),
                        None,
                    )
                if rec.rows:
                    kept.append((rel_dir, rec))

        out = []
        for n, (rel_dir, rec) in enumerate(kept):
            final = os.path.join(root, name(rel_dir, n))
            os.makedirs(os.path.dirname(final), exist_ok=True)
            os.replace(rec.path, final)
            out.append(
                replace(
                    rec, path=final, partition=_partition_values(rel_dir)
                )
            )
        return out
    finally:
        shutil.rmtree(staging, ignore_errors=True)
