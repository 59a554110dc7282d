"""SparkSession factory tuned for this engine.

Defaults target local[N] testing but the knobs are the ones that matter on
a real cluster too: AQE for runtime re-planning (skew joins, partition
coalescing), Arrow for any pandas exchange, UTC session time zone so
timestamp semantics are stable across engines (the DuckDB oracle runs
naive/UTC timestamps).

Unlike the reference runner (offline_store_spark_runner.py:1420-1433) we
keep the vectorized Parquet reader ON and standardize on Spark's native
TimestampType end-to-end.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # read TIMESTAMP(NANOS) parquet as long; loaders convert to µs
    # timestamps (same truncation DuckDB applies), see sources/testdata.py
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # naive µs parquet timestamps read as TimestampType, not TIMESTAMP_NTZ:
    # session tz is UTC so the instant semantics match the DuckDB oracle,
    # and every time function (unix_micros, window ranges) accepts it
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.ui.enabled": "false",
    # pyspark 4.1 records a call site for every Column-API call: ~5
    # extra py4j round trips, a Python stack walk and a retried
    # `import IPython` each. A Delta MERGE plan makes ~600 such calls.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    # ~100 suite queries × whole-stage-codegen classes overflow the JVM's
    # default 240 MB code cache in one long-lived session; once it fills,
    # the JIT stops compiling (or flush-thrashes) and later queries run
    # interpreted at 5-10× cost. 512 MB + explicit flushing keeps every
    # query's generated code compiled (Spark's own tuning guidance for
    # codegen-heavy workloads).
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m "
    "-XX:+UseCodeCacheFlushing",
    # managed-table home for bucketed feature tables (write_bucketed);
    # local-mode default keeps saveAsTable out of the repo checkout — on a
    # cluster the deployment's metastore/warehouse config wins
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/featureform_spark_warehouse"
    ),
}


def conf_for_scale(
    input_bytes: int,
    executor_cores: int = 4,
    num_executors: int = 1000,
    target_partition_bytes: int = 128 * 1024 * 1024,
    shuffle_fraction: float = 0.5,
) -> dict[str, str]:
    """Spill-aware sizing for a given input volume.

    Rules of thumb encoded:
    - scan partitions ≈ input / 128 MB (``maxPartitionBytes``);
    - shuffle partitions sized so a post-shuffle partition holds
      ~``target_partition_bytes`` of the shuffled fraction of input
      (``shuffle_fraction`` — aggregations typically shuffle far less
      than they scan thanks to partial aggregation), floored at 2× total
      cores so every slot has work and AQE coalescing has room to merge;
    - AQE advisory size pinned to the same target so runtime coalescing
      aims at the same partition weight.

    At 100 TB / 1000 × 4-core executors this yields ~400k scan tasks and
    a six-figure shuffle-partition count — far from the 200 default that
    would OOM; at test scale it collapses to the core count.
    """
    total_cores = max(1, executor_cores * num_executors)
    shuffle_bytes = int(input_bytes * shuffle_fraction)
    by_size = shuffle_bytes // target_partition_bytes + 1
    shuffle_partitions = max(by_size, 2 * total_cores)
    return {
        "spark.sql.files.maxPartitionBytes": str(target_partition_bytes),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_bytes
        ),
    }


def get_spark(
    app_name: str = "featureform_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the local core count: at local[32]
    with test-scale data a 200-partition shuffle is pure overhead, while on
    a real cluster callers pass an explicit value (or rely on AQE
    coalescing to shrink oversized shuffles).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
