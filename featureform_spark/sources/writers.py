"""Sinks: timestamped directory versioning + file/catalog writers.

Reproduces the reference's artifact versioning (S9:
offline_store_spark_runner.py:896-909 writes to
``outdir/YYYY-MM-DD-HH-MM-SS-ffffff``; readers pick the newest
subdirectory, provider/spark.go:336-345). Daily partitioned writes follow
S13 (add date col, sortWithinPartitions(ts), partitionBy(date)).
"""

from __future__ import annotations

import re
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_VERSION_RE = re.compile(r"^\d{4}-\d{2}-\d{2}-\d{2}-\d{2}-\d{2}-\d{6}$")


def _version_stamp() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%d-%H-%M-%S-%f")


def latest_version_dir(path: str) -> str:
    """If ``path`` contains timestamped version subdirs, return the newest.

    Otherwise return ``path`` unchanged (plain table dir / single file).
    Mirrors filestore.DateTimeDirectoryGrouping newest-first resolution.
    """
    p = Path(path)
    if not p.is_dir():
        return path
    versions = sorted(
        (c for c in p.iterdir() if c.is_dir() and _VERSION_RE.match(c.name)),
        key=lambda c: c.name,
        reverse=True,
    )
    return str(versions[0]) if versions else path


def write_versioned(
    df: DataFrame,
    outdir: str,
    file_format: str = "parquet",
    partition_ts_col: str | None = None,
    headers: bool = True,
) -> str:
    """S9/S10/S13: write a new timestamped version dir under ``outdir``.

    With ``partition_ts_col`` the output is daily-partitioned by a derived
    ``date`` column with rows sorted by ts within each partition — this is
    what makes downstream time-range scans partition-prunable.
    """
    target = str(Path(outdir) / _version_stamp())
    write_file(df, target, file_format, partition_ts_col, headers)
    return target


def write_file(
    df: DataFrame,
    path: str,
    file_format: str = "parquet",
    partition_ts_col: str | None = None,
    headers: bool = True,
) -> None:
    if partition_ts_col:
        df = df.withColumn("date", F.date_format(F.col(partition_ts_col), "yyyy-MM-dd"))
        writer = df.sortWithinPartitions(partition_ts_col).write.partitionBy("date")
    else:
        writer = df.write
    writer = writer.mode("overwrite")
    if file_format == "parquet":
        writer.parquet(path)
    elif file_format == "csv":
        writer.option("header", str(headers).lower()).csv(path)
    elif file_format == "json":
        writer.json(path)
    elif file_format == "orc":
        writer.orc(path)
    else:
        raise ValueError(f"unsupported file format: {file_format}")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort: bool = True,
    file_format: str = "parquet",
) -> None:
    """Bucketed + sorted managed table on the join/agg key.

    The 100 TB co-location path: two tables bucketed on the same key with
    the same bucket count join with ZERO Exchange (and with ``sort=True``
    plus ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` zero
    Sort) — the shuffle is paid once at write time and amortized over
    every subsequent join, PIT lookup, or groupBy on that key. This is how
    a materialized feature table should be laid out so that training-set
    joins against it never reshuffle the big side.
    `tests/test_plans.py::test_bucketed_join_no_exchange` asserts the plan.
    """
    # one file per bucket: repartition on the bucket hash so each write
    # task owns exactly one bucket — Spark's scan only honors the sortBy
    # metadata (Sort-free merge joins) when a bucket is a single file,
    # and it's the small-files-safe layout regardless
    df = df.repartition(num_buckets, F.col(bucket_col))
    writer = (
        df.write.format(file_format)
        .mode("overwrite")
        .bucketBy(num_buckets, bucket_col)
    )
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def write_delta(
    df: DataFrame, path: str, mode: str = "append", properties: dict | None = None
):
    """S11/S12 without the vendor jar: sink into a REAL Delta Lake table
    via the in-repo protocol implementation (sources/delta_protocol.py)
    — snapshot isolation, time travel, CDF, copy-on-write MERGE.
    ``mode``: append | overwrite | errorifexists. Returns the committed
    version."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    t = DeltaProtocolTable(df.sparkSession, path)
    if not t.exists():
        return t.create(df, properties=properties)
    if mode == "append":
        return t.append(df)
    if mode == "overwrite":
        return t.overwrite(df)
    raise ValueError(f"delta table already exists at {path}")
