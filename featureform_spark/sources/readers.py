"""Source readers: location → DataFrame.

Covers the reference runner's source dispatch (S1-S8,
offline_store_spark_runner.py:961-1061): parquet/csv file scans with
recursive lookup, catalog tables (Delta/Iceberg, gated on the connector
being present), Spark-catalog tables, Kafka streams, and directly
registered DataFrames. Schema inference follows the reference (csv
header=true); parquet carries its own schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from featureform_spark.registry import (
    CatalogLocation,
    DataFrameLocation,
    DeltaPathLocation,
    FileLocation,
    IcebergPathLocation,
    JDBCLocation,
    Location,
    Registry,
    SQLLocation,
    StreamLocation,
)


def read_file(spark: SparkSession, path: str, file_format: str = "parquet") -> DataFrame:
    """S1/S2: recursive, corrupt-tolerant file scan."""
    reader = spark.read.option("recursiveFileLookup", "true").option(
        "ignoreCorruptFiles", "true"
    )
    if file_format == "parquet":
        return reader.parquet(path)
    if file_format == "csv":
        return reader.option("header", "true").option("inferSchema", "true").csv(path)
    if file_format == "json":
        return reader.json(path)
    if file_format == "orc":
        # Spark-native columnar alternative to parquet: same predicate
        # pushdown / column pruning / vectorized read path
        return reader.orc(path)
    raise ValueError(f"unsupported file format: {file_format}")


def read_location(spark: SparkSession, loc: Location | dict, registry: Registry | None = None) -> DataFrame:
    """Dispatch a typed location to the right Spark reader."""
    if isinstance(loc, dict):
        loc = _from_dict(loc)
    if isinstance(loc, FileLocation):
        from featureform_spark.sources.writers import latest_version_dir

        path = latest_version_dir(loc.path)
        return read_file(spark, path, loc.file_format)
    if isinstance(loc, CatalogLocation):
        return spark.read.format(loc.table_format).table(loc.table)
    if isinstance(loc, DeltaPathLocation):
        from featureform_spark.sources.delta_protocol import read_delta_path

        return read_delta_path(spark, loc.path, loc.version)
    if isinstance(loc, IcebergPathLocation):
        from featureform_spark.sources.iceberg_protocol import (
            read_iceberg_path,
        )

        return read_iceberg_path(spark, loc.path, loc.snapshot_id)
    if isinstance(loc, SQLLocation):
        return spark.table(loc.table)
    if isinstance(loc, StreamLocation):
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", loc.bootstrap_servers)
            .option("subscribe", loc.topic)
            .load()
        )
    if isinstance(loc, JDBCLocation):
        return read_jdbc(spark, loc)
    if isinstance(loc, DataFrameLocation):
        if registry is None:
            raise ValueError("DataFrameLocation requires the owning registry")
        return registry.dataframe(loc.view)
    raise TypeError(f"unknown location: {loc!r}")


def read_jdbc(spark: SparkSession, loc: JDBCLocation) -> DataFrame:
    """S6/S7: warehouse tables over Spark's JDBC source.

    With ``partition_column``/``num_partitions`` the read fans out as N
    range-bounded parallel queries (bounds probed with one min/max query)
    instead of one single-threaded cursor — mandatory at warehouse scale.
    Filters and projections push down into the remote SQL automatically.
    Integration-tested for real against the in-container Derby embedded
    driver (tests/test_jdbc_derby.py); vendor warehouses need their
    driver jar on the classpath.
    """
    reader = spark.read.format("jdbc").option("url", loc.url).option(
        "dbtable", loc.table
    )
    if getattr(loc, "driver", ""):
        reader = reader.option("driver", loc.driver)
    if loc.partition_column and loc.num_partitions:
        # ANSI-quote the probe column: Spark's JDBC dialects create
        # tables with quoted (case-preserved) identifiers, so an
        # unquoted name would fold to the DB's default case (Derby/
        # Postgres/Snowflake all honor ""; MySQL needs its dialect's
        # backticks — callers there pass a "(subquery) alias" table)
        qcol = '"' + loc.partition_column.replace('"', '""') + '"'
        bounds = (
            spark.read.format("jdbc")
            .option("url", loc.url)
            .option(
                "dbtable",
                f"(SELECT MIN({qcol}) AS lo, MAX({qcol}) AS hi "
                f"FROM {loc.table}) b",
            )
        )
        if getattr(loc, "driver", ""):
            bounds = bounds.option("driver", loc.driver)
        # positional: unquoted aliases case-fold per DB (Derby → LO/HI)
        row = bounds.load().first()
        reader = (
            reader.option("partitionColumn", loc.partition_column)
            .option("lowerBound", str(row[0]))
            .option("upperBound", str(row[1]))
            .option("numPartitions", str(loc.num_partitions))
        )
    try:
        return reader.load()
    except Exception as e:  # driver jar missing → actionable message
        raise RuntimeError(
            f"reading JDBC table {loc.table!r} requires the vendor JDBC "
            "driver jar on the Spark classpath"
        ) from e


def _from_dict(d: dict) -> Location:
    from featureform_spark.registry import _LOCATION_KINDS

    kind = d.get("kind", "file")
    cls = _LOCATION_KINDS.get(kind)
    if cls is None:
        raise ValueError(
            f"unknown location kind {kind!r}; known kinds: "
            f"{sorted(_LOCATION_KINDS)}"
        )
    return cls(**{k: v for k, v in d.items() if k != "kind"})
