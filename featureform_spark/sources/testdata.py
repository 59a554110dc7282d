"""Loaders for parquet tables with nanosecond timestamps.

Spark has no TIMESTAMP(NANOS) parquet support; with
``spark.sql.legacy.parquet.nanosAsLong=true`` those columns arrive as
int64 nanos. These helpers detect nano-timestamp columns from the parquet
footer (via pyarrow, metadata-only — no data read) and convert them to
TimestampType truncated to microseconds, which is bit-identical to how
DuckDB reads the same files (the correctness oracle).
"""

from __future__ import annotations

from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=256)
def nano_ts_columns(path: str) -> tuple[str, ...]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = Path(path)
    if p.is_dir():
        files = sorted(p.rglob("*.parquet"))
        if not files:
            return ()
        p = files[0]
    schema = pq.read_schema(str(p))
    return tuple(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def convert_nano_columns(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    from pyspark.sql import types as T

    dtypes = dict(df.dtypes)
    for c in cols:
        # only convert columns that actually arrived as int64 nanos —
        # Spark can read its own ns-annotated parquet natively as
        # TIMESTAMP (then nanosAsLong does not apply), while pyarrow
        # still reports the footer unit as ns
        if dtypes.get(c) != "bigint":
            continue
        # integer div, not float: 2024 epoch-nanos exceed double precision
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def normalize_ntz_columns(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TimestampType.

    With ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` (our session
    default) naive µs parquet already arrives as TimestampType, but a caller
    session without that conf hands us NTZ; the cast interprets the naive
    value in the session tz (UTC), matching DuckDB's naive/UTC oracle
    semantics, so the engine is robust to both parquet flavors.
    """
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.option("recursiveFileLookup", "true").parquet(path)
    return normalize_ntz_columns(convert_nano_columns(df, nano_ts_columns(path)))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")
