"""Suite queries exercising the Delta table format end-to-end:
MERGE-based wide feature tables and CDF incremental reads — the table
surface the reference gates on Delta/Iceberg
(offline_store_spark_runner.py:688-765, :1076-1136), oracle-checked
against DuckDB like every other operator.

Each query materializes a Delta table under a per-sf temp dir
(wiped at query start so re-runs are deterministic), then returns a
DataFrame whose values an ANSI-SQL oracle reproduces directly from the
source parquet.
"""

from __future__ import annotations

import hashlib
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from featureform_spark.sources.testdata import load_table
from featureform_spark.suite import query


def _scratch(sf_dir: str, name: str) -> str:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    p = Path(tempfile.gettempdir()) / "ffspark_delta" / tag / name
    shutil.rmtree(p, ignore_errors=True)
    p.parent.mkdir(parents=True, exist_ok=True)
    return str(p)


@query(
    "wide_merge_upsert",
    oracle="""
    SELECT c.c_custkey AS entity,
           o.total     AS f_total_spend,
           o.cnt       AS f_order_count,
           c.c_acctbal AS f_acctbal
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
               COUNT(*) AS cnt
        FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def wide_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: three feature registrations MERGEd into one wide table.

    Each ``upsert_feature`` is a Delta copy-on-write MERGE (only
    files holding matched entities are rewritten); the third
    materialization (account balance, ALL customers) inserts the
    customers with no orders, leaving their spend features NULL —
    exactly the reference's WHEN NOT MATCHED INSERT behavior.
    """
    from featureform_spark.sources.feature_table import WideFeatureTable

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    spend = orders.groupBy(F.col("o_custkey").alias("entity")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("value")
    )
    counts = orders.groupBy(F.col("o_custkey").alias("entity")).agg(
        F.count(F.lit(1)).alias("value")
    )
    acctbal = customer.select(
        F.col("c_custkey").alias("entity"), F.col("c_acctbal").alias("value")
    )

    ft = WideFeatureTable(spark, _scratch(sf_dir, "wide_merge"))
    ft.upsert_feature("f_total_spend", spend)
    ft.upsert_feature("f_order_count", counts)
    snap = ft.upsert_feature("f_acctbal", acctbal)
    return snap.select("entity", "f_total_spend", "f_order_count", "f_acctbal")


@query(
    "delta_time_travel",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 3 = 0
    """,
)
def delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel: v0 is created, then overwritten
    twice; reading snapshot(0) reproduces the original rows exactly even
    though the CURRENT table holds different data — the log carries both
    states simultaneously (Delta VERSION AS OF)."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "time_travel"))
    t.create(orders.filter(F.col("o_orderkey") % 3 == 0))          # v0
    t.overwrite(orders.filter(F.col("o_orderkey") % 3 == 1))       # v1
    t.append(orders.filter(F.col("o_orderkey") % 3 == 2))          # v2
    return t.snapshot(0)


@query(
    "delta_shallow_clone",
    oracle="""
    SELECT 'clone' AS side, o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 4 < 3 AND o_custkey % 3 <> 0
    UNION ALL
    SELECT 'source' AS side, o_orderkey, o_custkey, o_totalprice
    FROM orders
    """,
)
def delta_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE lifecycle (delta-spark CLONE; PROTOCOL.md absolute
    add paths): source is built in two commits, cloned (zero-copy —
    the clone's adds reference the source's files by absolute URI),
    then BOTH tables diverge: the source appends a fourth slice the
    clone must not see, and the clone CoW-DELETEs a customer stripe
    without touching the source's files. Returning both sides tagged
    in one frame makes the oracle verify isolation in both directions:
    clone = first three slices minus the deleted stripe, source = all
    four slices intact."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src = DeltaProtocolTable(spark, _scratch(sf_dir, "clone_src"))
    src.create(orders.filter(F.col("o_orderkey") % 4 < 2))         # v0
    src.append(orders.filter(F.col("o_orderkey") % 4 == 2))        # v1
    clone = src.shallow_clone(_scratch(sf_dir, "clone_dst"))
    src.append(orders.filter(F.col("o_orderkey") % 4 == 3))        # v2
    clone.delete_where(F.col("o_custkey") % 3 == 0)
    return clone.snapshot().withColumn("side", F.lit("clone")).select(
        "side", "o_orderkey", "o_custkey", "o_totalprice"
    ).unionAll(
        src.snapshot().withColumn("side", F.lit("source")).select(
            "side", "o_orderkey", "o_custkey", "o_totalprice"
        )
    )


@query(
    "iceberg_rollback",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 4 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 4 = 2
    """,
)
def iceberg_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollback_to_snapshot lifecycle: v1 (keys %4=0), v2 appends
    %4=1, rollback to v1 (one metadata CAS — the bad append vanishes
    without moving a file), then a new append (%4=2) builds on the
    rolled-back state. Final = first + third slices; the abandoned
    second slice must NOT appear — which is exactly what the oracle
    checks."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "rollback"))
    t.create(orders.filter(F.col("o_orderkey") % 4 == 0))
    first = t.current_snapshot(t.metadata())["snapshot-id"]
    t.append(orders.filter(F.col("o_orderkey") % 4 == 1))  # bad data
    t.rollback_to_snapshot(first)
    t.append(orders.filter(F.col("o_orderkey") % 4 == 2))
    return t.snapshot()


@query(
    "iceberg_partitions_meta",
    oracle="""
    SELECT '{"o_orderstatus": "' || o_orderstatus || '"}' AS partition,
           CAST(0 AS INTEGER) AS spec_id,
           count(*) AS record_count
    FROM (
      SELECT o_orderstatus FROM orders
      UNION ALL
      SELECT o_orderstatus FROM orders WHERE o_orderkey % 3 = 0
    ) GROUP BY o_orderstatus
    """,
)
def iceberg_partitions_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `partitions` inspection table (Iceberg's `SELECT * FROM
    t.partitions`): a driver-side manifest fold — zero data-file
    reads — whose per-partition record counts the oracle reproduces
    with a plain groupBy over the same rows. Two commits ensure the
    fold spans multiple manifests."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "parts_meta"))
    t.create(orders, partition_by=["o_orderstatus"])
    t.append(orders.filter(F.col("o_orderkey") % 3 == 0))
    return t.metadata_table("partitions").select(
        "partition", "spec_id", "record_count"
    )


@query(
    "delta_variant_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0
    GROUP BY event_type
    """,
)
def delta_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT round-trip through the Delta protocol (the variantType
    reader-writer feature): events' JSON props are parsed into a
    native VARIANT column, committed to a Delta table (pyarrow can't
    read such footers — the writer's numRecords fallback covers
    stats), scanned back, and `variant_get` extracts + filters +
    aggregates entirely in codegen. The oracle runs the same pipeline
    over the raw JSON strings with DuckDB's json_extract — variant is
    a storage/throughput choice, never a semantics change."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    events = load_table(spark, sf_dir, "events")
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "variant"))
    t.create(
        events.select(
            "event_type", F.parse_json(F.col("props")).alias("props_v")
        )
    )
    k = F.variant_get(F.col("props_v"), "$.k", "long")
    return (
        t.snapshot()
        .select("event_type", k.alias("k"))
        .filter(F.col("k") % 7 == 0)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
        )
    )


@query(
    "delta_liquid_cluster",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_orderkey BETWEEN 1000 AND 3000
      AND l_partkey BETWEEN 50 AND 1500
    """,
)
def delta_liquid_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered-table lifecycle: CREATE ... CLUSTER BY (l_orderkey,
    l_partkey), append an UNclustered slice, OPTIMIZE (incremental:
    re-clusters ONLY the untagged appended files on the Morton curve,
    stamps clusteringProvider + the ZCube fingerprint), then
    answer a two-dimensional range query through zone-map pruning on
    BOTH clustering columns — the scan asserts it read a strict
    subset of files, and the oracle verifies the pruned read returns
    exactly the right rows."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    target = max(500, li.count() // 12)  # >=12 files at any sf
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "liquid"))
    # a small clustered seed at CREATE (the expensive full recluster
    # belongs to OPTIMIZE, which handles 100% of the rows anyway)
    t.create(
        li.filter(F.col("l_orderkey") % 10 == 0),
        cluster_by=["l_orderkey", "l_partkey"],
        target_rows_per_file=target,
    )
    t.append(li.filter(F.col("l_orderkey") % 10 != 0))  # unclustered
    t.compact(target_rows_per_file=target)
    df = t.snapshot_pruned("l_orderkey", 1000, 3000)
    prune = t._last_prune
    if prune["files_read"] >= prune["files_total"]:
        raise AssertionError(
            f"zone maps failed to prune: {prune}"
        )
    return df.filter(F.col("l_partkey").between(50, 1500))


@query(
    "delta_type_widening",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS k,
           CAST(CAST(o_custkey AS REAL) AS DOUBLE) AS c
    FROM orders
    UNION ALL
    SELECT o_orderkey + 1099511627776 AS k,
           CAST(o_custkey AS DOUBLE) AS c
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def delta_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening lifecycle (PROTOCOL.md §Type Widening): the table
    is created narrow (int key, float value), widened int→long and
    float→double as metadata-only commits, then appended with values
    only the wide types can hold (keys past 2^40). The final scan
    upcasts the ORIGINAL narrow files per file — the oracle's first
    branch is the narrow data upcast (float(c) is exact for these
    magnitudes, so the double round-trip is bit-identical), the second
    is the wide append. No file was rewritten at any point."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    orders = load_table(spark, sf_dir, "orders")
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "widen"))
    t.create(
        orders.select(
            F.col("o_orderkey").cast("int").alias("k"),
            F.col("o_custkey").cast("float").alias("c"),
        )
    )
    t.widen_column("k", "long")
    t.widen_column("c", "double")
    t.append(
        orders.filter(F.col("o_orderkey") % 10 == 0).select(
            (F.col("o_orderkey") + F.lit(2**40)).alias("k"),
            F.col("o_custkey").cast("double").alias("c"),
        )
    )
    return t.snapshot()


@query(
    "delta_zone_prune",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey >= 1000 AND o_orderkey <= 3000
    """,
)
def delta_zone_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-carried zone maps: the table is written as key-ranged files
    (range repartition + sort), so a range read plans from the log and
    skips disjoint files without opening a footer (Delta data skipping).
    Values must equal the plain SQL range filter; the file-skip count is
    asserted by test_zone_map_pruned_snapshot."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "zone_prune"))
    t.create(orders)
    return t.snapshot_pruned("o_orderkey", lo=1000, hi=3000)


@query(
    "delta_protocol_read",
    """
    SELECT event_id, user_id, event_type, value
    FROM events WHERE event_id % 4 <= 2
    """,
)
def delta_protocol_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Delta Lake table (public transaction protocol, no vendor
    jar): partitioned create + blind append + parquet checkpoint + log
    retention, then a VERSION AS OF read that folds checkpoint-only
    state and recovers partition columns from Hive paths in ONE scan
    (sources/delta_protocol.py). v2 appends more rows AFTER the read
    version, so time travel — not just the latest fold — is what the
    oracle certifies. The log this writer emits is minReaderVersion=1 /
    minWriterVersion=2, readable by delta-spark/delta-rs as-is
    (the reference's spark.read.format("delta"),
    offline_store_spark_runner.py:981-987)."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "protocol_events"))
    t.create(
        events.filter(F.col("event_id") % 4 <= 1),
        partition_by=["event_type"],
    )                                                           # v0
    t.append(events.filter(F.col("event_id") % 4 == 2))         # v1
    t.checkpoint()
    t.clean_log()   # commits 0-1 now live only in the checkpoint
    t.append(events.filter(F.col("event_id") % 4 == 3))         # v2
    return t.snapshot(1).select("event_id", "user_id", "event_type", "value")


@query(
    "delta_cdf_incremental",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value,
           'insert' AS _change_type,
           CASE WHEN event_id % 5 = 3 THEN 1 ELSE 2 END AS _commit_version
    FROM events WHERE event_id % 5 IN (3, 4)
    """,
)
def delta_cdf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: CDF incremental read with the reference's contract — only the
    rows appended after the last processed version come back, tagged
    with change type and commit version
    (offline_store_spark_runner.py:1076-1136; overwrite detection and
    the enableChangeDataFeed gate are unit-tested in
    test_incremental_contract_errors)."""
    from featureform_spark.sources.delta_protocol import (
        DeltaProtocolTable,
        incremental_records,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "cdf_events"))
    t.create(
        events.filter(F.col("event_id") % 5 < 3),
        properties={"delta.enableChangeDataFeed": "true"},
    )
    t.append(events.filter(F.col("event_id") % 5 == 3))   # v1
    t.append(events.filter(F.col("event_id") % 5 == 4))   # v2

    return incremental_records(t, last_version=0).withColumn(
        "_commit_version", F.col("_commit_version").cast("long")
    )


@query(
    "iceberg_protocol_read",
    """
    SELECT event_id, user_id, event_type, value
    FROM events WHERE event_id % 4 <= 2
    """,
)
def iceberg_protocol_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Apache Iceberg v2 table (public table format, no vendor
    jar): identity-partitioned create + append through format-v2
    metadata JSON, Avro manifest lists and Avro manifests
    (sources/iceberg_protocol.py over the in-repo Avro container codec),
    then a snapshot-id time-travel read — the current table holds MORE
    rows than the read snapshot, so the snapshot/manifest machinery (not
    a directory listing) is what the oracle certifies. Read surface of
    the reference's IcebergSource scan
    (offline_store_spark_runner.py:966-980) and pyiceberg streamer
    (streamer/iceberg_streamer.py:17-106)."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "iceberg_events"))
    t.create(
        events.filter(F.col("event_id") % 4 <= 1),
        partition_by=["event_type"],
    )
    s1 = t.append(events.filter(F.col("event_id") % 4 == 2))
    t.append(events.filter(F.col("event_id") % 4 == 3))  # after the read snap
    return t.snapshot(snapshot_id=s1).select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "iceberg_scan_planning",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderkey >= 1000 AND o_orderkey <= 3000
    """,
)
def iceberg_scan_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg scan planning from log-carried stats: the table is
    written as key-ranged files, a range read decodes the manifests'
    per-file lower/upper bounds (Iceberg single-value binary
    serialization) and skips disjoint files without opening a parquet
    footer. Values must equal the plain SQL range filter; the file-skip
    count is asserted in tests/test_iceberg_protocol.py."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "iceberg_orders"))
    t.create(orders)
    return t.scan_planned("o_orderkey", 1000, 3000)


@query(
    "iceberg_upsert",
    """
    SELECT event_id, user_id,
           CASE WHEN event_id % 6 = 0 OR event_id % 3 = 2
                THEN value + 1000.0 ELSE value END AS value
    FROM events
    """,
)
def iceberg_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 EQUALITY-delete writes + streaming upsert (round 9;
    spec content=2, the Flink upsert-sink commit shape): one snapshot
    carries the batch's new data files AND an equality delete on its
    keys at the SAME sequence number, so the delete applies only to
    strictly older files (spec scan-planning rule) — old versions of
    the keys disappear, the batch survives its own delete, and the
    writer never scans the table (O(batch) CDC ingestion, the property
    that makes 100 TB upsert feasible where CoW MERGE rewrites files
    per batch). Lifecycle: create one third, append another, then
    upsert a batch that UPDATES half the first slice and INSERTS the
    missing third."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "iceberg_upsert"))
    t.create(events.filter(F.col("event_id") % 3 == 0))
    t.append(events.filter(F.col("event_id") % 3 == 1))
    batch = events.filter(
        (F.col("event_id") % 6 == 0) | (F.col("event_id") % 3 == 2)
    ).withColumn("value", F.col("value") + 1000.0)
    t.upsert(batch, ["event_id"])
    return t.snapshot().select("event_id", "user_id", "value")


@query(
    "iceberg_position_delete",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id % 4 <= 2 AND NOT (event_type = 'click' AND event_id % 4 = 0)
    """,
)
def iceberg_position_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 merge-on-read: row-level DELETE as position-delete
    files (sources/iceberg_protocol.py:delete_rows) — data files are
    never rewritten; the reader scans them with Spark's
    _metadata.row_index and anti-joins the sequence-scoped delete set.
    The delete lands BETWEEN two appends, so both the MOR application
    and its sequence-number scoping (the later append must not lose
    rows to the earlier delete) are what the oracle certifies."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "iceberg_mor"))
    t.create(events.filter(F.col("event_id") % 4 <= 1))
    t.delete_rows(
        (F.col("event_type") == "click") & (F.col("event_id") % 4 == 0)
    )
    t.append(events.filter(F.col("event_id") % 4 == 2))
    return t.snapshot().select("event_id", "user_id", "event_type", "value")


@query(
    "iceberg_incremental_scan",
    """
    SELECT event_id, user_id, event_type, value
    FROM events WHERE event_id % 4 IN (1, 2)
    """,
)
def iceberg_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 for Iceberg: incremental append scan over snapshot lineage —
    only files committed after the cursor snapshot come back
    (sources/iceberg_protocol.py:incremental_append_scan), mirroring
    the reference's isIncremental source reads
    (offline_store_spark_runner.py:1076-1136)."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "iceberg_inc"))
    s0 = t.create(events.filter(F.col("event_id") % 4 == 0))
    t.append(events.filter(F.col("event_id") % 4 == 1))
    t.append(events.filter(F.col("event_id") % 4 == 2))
    return t.incremental_append_scan(s0)


@query(
    "iceberg_hidden_partitioning",
    """
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-06-01'
      AND o_orderdate <= TIMESTAMP '1997-01-01'
    """,
)
def iceberg_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg hidden partitioning: the table is day(ts)-partitioned
    (transform computed by the writer — spec murmur3/day machinery in
    sources/iceberg_protocol.py); the reader's range filter on the
    SOURCE timestamp prunes manifests through the transform without the
    user ever naming a partition column. Pruning counts asserted in
    tests; the oracle certifies row-exactness."""
    import datetime

    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "iceberg_hidden"))
    t.create(
        orders.filter(F.col("o_orderdate") < "1996-01-01"),
        partition_by=["month(o_orderdate)"],
    )
    t.append(orders.filter(F.col("o_orderdate") >= "1996-01-01"))
    return t.scan_planned(
        "o_orderdate",
        datetime.datetime(1996, 6, 1),
        datetime.datetime(1997, 1, 1),
    )


@query(
    "delta_uniform_iceberg",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 3 <= 1 AND o_orderkey % 5 <> 0
    """,
)
def delta_uniform_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta UniForm: after writes + a deletion-vector DELETE on the
    Delta table, sync_uniform commits Iceberg metadata over the SAME
    parquet files (DVs converted to Iceberg position deletes) — and
    the ICEBERG reader returns exactly the Delta table's live rows
    (sources/uniform.py). One storage footprint, both formats."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )
    from featureform_spark.sources.uniform import sync_uniform

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = _scratch(sf_dir, "uniform")
    d = DeltaProtocolTable(spark, path)
    d.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    d.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    d.delete_where(F.col("o_orderkey") % 5 == 0)
    sync_uniform(spark, path)
    return IcebergProtocolTable(spark, path).snapshot()


@query(
    "deltaprotocol_source_read",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 3 <= 1
    """,
)
def deltaprotocol_source_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REGISTERED deltaprotocol data source (Spark 4 Python Data
    Source API): spark.read.format("deltaprotocol") plans one input
    partition per data file on the driver-side log fold and streams
    executor-side pyarrow record batches — certifying the same rows as
    the native snapshot reader through a completely different data
    path (sources/deltaprotocol_datasource.py)."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable
    from featureform_spark.sources.deltaprotocol_datasource import register

    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = _scratch(sf_dir, "dp_source")
    t = DeltaProtocolTable(spark, path)
    t.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    t.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    return spark.read.format("deltaprotocol").options(path=path).load()


@query(
    "icebergprotocol_source_read",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 3 <= 1
    """,
)
def icebergprotocol_source_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The REGISTERED icebergprotocol data source over a
    bucket-partitioned Iceberg table: batch read through Spark's data
    source machinery with per-file arrow partitions
    (sources/icebergprotocol_datasource.py)."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )
    from featureform_spark.sources.icebergprotocol_datasource import register

    register(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = _scratch(sf_dir, "ip_source")
    t = IcebergProtocolTable(spark, path)
    t.create(
        orders.filter(F.col("o_orderkey") % 3 == 0),
        partition_by=["bucket(4, o_custkey)"],
    )
    t.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    return spark.read.format("icebergprotocol").options(path=path).load()


@query(
    "iceberg_bucket_pruning",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_custkey = 1
    """,
)
def iceberg_bucket_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality probe through bucket[8] hidden partitioning: the
    reader pushes the literal through the spec murmur3 bucket transform
    and skips manifests/files of every other bucket — the pruning path
    range planning deliberately can't use (bucket is not
    order-preserving). Skip counts asserted in
    tests/test_iceberg_protocol.py; the oracle certifies rows
    (sources/iceberg_protocol.py:scan_planned_eq)."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "iceberg_beq"))
    t.create(orders, partition_by=["bucket(8, o_custkey)"])
    return t.scan_planned_eq("o_custkey", 1)


@query(
    "delta_dv_read",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 4 <= 2
      AND NOT (o_orderkey % 4 = 0 AND o_custkey % 3 = 0)
    """,
)
def delta_dv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta merge-on-read DELETE via deletion vectors — the DML shape
    modern delta-spark emits by default (the reference reads such
    tables through the vendor connector,
    offline_store_spark_runner.py:981-987). ``delete_where`` encodes
    matching positions as roaring bitmaps in a
    ``deletion_vector_*.bin`` file and re-commits the touched adds with
    DV descriptors; no data file is rewritten. The reader applies the
    DVs with one broadcast anti-join on ``_metadata.row_index``
    (sources/delta_protocol.py, sources/dv_bitmap.py). The delete lands
    BETWEEN two appends, so both the MOR application and its commit
    scoping (the later append must not lose rows) are what the oracle
    certifies."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "protocol_dv"))
    t.create(orders.filter(F.col("o_orderkey") % 4 <= 1))          # v0
    t.delete_where(
        (F.col("o_orderkey") % 4 == 0) & (F.col("o_custkey") % 3 == 0)
    )                                                              # v1
    t.append(orders.filter(F.col("o_orderkey") % 4 == 2))          # v2
    return t.snapshot()


@query(
    "delta_protocol_cdf",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           'insert' AS _change_type,
           CASE WHEN event_id % 5 = 3 THEN 1 ELSE 2 END AS _commit_version
    FROM events WHERE event_id % 5 IN (3, 4)
    UNION ALL
    SELECT event_id, user_id, event_type, value,
           'update_preimage' AS _change_type, 3 AS _commit_version
    FROM events WHERE event_id % 5 = 4 AND event_id % 3 = 0
    UNION ALL
    SELECT event_id, user_id, event_type, value + 100.0,
           'update_postimage' AS _change_type, 3 AS _commit_version
    FROM events WHERE event_id % 5 = 4 AND event_id % 3 = 0
    """,
)
def delta_protocol_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 on the REAL Delta protocol: appends derive inserts from the
    commit log itself; a MERGE with CDF enabled writes cdc actions
    carrying update_preimage/update_postimage rows — the exact
    _change_type vocabulary the reference consumes
    (offline_store_spark_runner.py:1076-1136) — and table_changes
    prefers those cdc files over whole-file derivation
    (sources/delta_protocol.py:merge, :table_changes)."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "protocol_cdf"))
    t.create(
        events.filter(F.col("event_id") % 5 < 3),
        properties={"delta.enableChangeDataFeed": "true"},
    )                                                      # v0
    t.append(events.filter(F.col("event_id") % 5 == 3))    # v1
    t.append(events.filter(F.col("event_id") % 5 == 4))    # v2
    t.merge(                                               # v3: updates only
        events.filter(
            (F.col("event_id") % 5 == 4) & (F.col("event_id") % 3 == 0)
        ).withColumn("value", F.col("value") + 100.0),
        key="event_id",
        insert=False,
    )
    return t.table_changes(0)


@query(
    "flight_stream_read",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 3 <= 1 AND NOT o_orderkey % 7 = 0
    """,
)
def flight_stream_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18 completed (round 6): a REAL Arrow Flight gRPC round-trip —
    the reference's dataset streamer surface
    (streamer/iceberg_streamer.py:17-106: JSON ticket naming the table,
    do_get -> record-batch stream, 2M cap). A localhost
    DatasetStreamerServer serves a deletion-vector'd Delta table with
    NO Spark session on the serving path (sessionless pyarrow scan,
    DV applied via per-file row-index masks); the Flight client's
    batches land back in Spark as one Arrow-backed DataFrame. The
    oracle certifies the full loop: protocol write + DV encode +
    sessionless masked scan + gRPC transport."""
    import json as _json
    import os as _os

    import pyarrow.flight as fl

    from featureform_spark.serving.flight_server import (
        DatasetStreamerServer,
    )
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = _scratch(sf_dir, "flight_root")
    _os.makedirs(_os.path.join(root, "ns"), exist_ok=True)
    t = DeltaProtocolTable(spark, _os.path.join(root, "ns", "orders_d"))
    t.create(orders.filter(F.col("o_orderkey") % 3 <= 1))
    t.delete_where(F.col("o_orderkey") % 7 == 0)
    server = DatasetStreamerServer({"default": root})
    try:
        client = fl.connect(f"grpc://127.0.0.1:{server.port}")
        try:
            table = client.do_get(
                fl.Ticket(
                    _json.dumps(
                        {"namespace": "ns", "table": "orders_d"}
                    ).encode()
                )
            ).read_all()
        finally:
            client.close()
    finally:
        server.shutdown()
    return spark.createDataFrame(table.to_pandas())


@query(
    "delta_column_defaults",
    """
    SELECT event_id, user_id, value
    FROM events WHERE event_id % 4 IN (0, 3)
    UNION ALL
    SELECT event_id, user_id, CAST(-1.0 AS DOUBLE) AS value
    FROM events WHERE event_id % 4 = 1
    UNION ALL
    SELECT event_id, user_id, CAST(99.5 AS DOUBLE) AS value
    FROM events WHERE event_id % 4 = 2
    """,
)
def delta_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta column DEFAULT values (PROTOCOL.md §Column Default
    Values, the ``allowColumnDefaults`` writer feature; delta-spark's
    ALTER COLUMN SET DEFAULT): writes that omit a defaulted column
    materialize the CURRENT_DEFAULT expression at write time —
    defaults are write-time only, so re-setting the default changes
    FUTURE omitted writes while already-materialized values stay; the
    final append carries the column explicitly and wins over the
    default. Lifecycle: explicit create → SET DEFAULT -1.0 → omitted
    append → SET DEFAULT 99.5 → omitted append → DROP DEFAULT →
    explicit append."""
    from featureform_spark.sources.delta_protocol import (
        DeltaProtocolTable,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "column_defaults"))
    t.create(events.filter(F.col("event_id") % 4 == 0))     # v0 explicit
    t.set_column_default("value", "CAST(-1.0 AS DOUBLE)")
    t.append(                                               # -1.0 fills
        events.filter(F.col("event_id") % 4 == 1).select(
            "event_id", "user_id"
        )
    )
    t.set_column_default("value", "CAST(99.5 AS DOUBLE)")
    t.append(                                               # 99.5 fills
        events.filter(F.col("event_id") % 4 == 2).select(
            "event_id", "user_id"
        )
    )
    t.drop_column_default("value")
    t.append(events.filter(F.col("event_id") % 4 == 3))     # explicit
    return t.snapshot()


@query(
    "rest_view_roundtrip",
    """
    SELECT o_custkey AS cust,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS total_spend
    FROM orders
    GROUP BY o_custkey
    """,
)
def rest_view_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg REST catalog VIEWS end-to-end (round 9): the spec's
    ``/v1/namespaces/{ns}/views`` lifecycle over a localhost catalog
    server — CreateViewRequest (v1 with a draft SQL), then a
    CommitViewRequest replacing the definition (add-view-version +
    set-current-view-version -1, the spec's last-added sentinel,
    CAS-guarded by assert-view-uuid), then LoadViewResult — and the
    loaded current representation EXECUTES on the engine. The stored
    SQL is dialect-portable ANSI (decimal-exact sum), so the oracle is
    the very string served over the wire: what the catalog returns is
    what both engines compute."""
    import json as _json
    import urllib.request as _rq

    from featureform_spark.serving.rest_catalog import (
        IcebergRestCatalogServer,
    )

    view_sql = (
        "SELECT o_custkey AS cust,\n"
        "       count(*) AS n_orders,\n"
        "       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)"
        " AS total_spend\n"
        "FROM orders\n"
        "GROUP BY o_custkey"
    )
    root = _scratch(sf_dir, "rest_views_root")
    Path(root, "analytics").mkdir(parents=True, exist_ok=True)
    server = IcebergRestCatalogServer(root)

    def _post(path: str, payload: dict) -> dict:
        req = _rq.Request(
            f"http://127.0.0.1:{server.port}{path}",
            data=_json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with _rq.urlopen(req) as r:
            return _json.loads(r.read())

    try:
        created = _post(
            "/v1/namespaces/analytics/views",
            {
                "name": "cust_totals",
                "schema": {
                    "type": "struct",
                    "fields": [
                        {"id": 1, "name": "cust", "required": False,
                         "type": "long"},
                        {"id": 2, "name": "n_orders", "required": False,
                         "type": "long"},
                        {"id": 3, "name": "total_spend",
                         "required": False, "type": "double"},
                    ],
                },
                "view-version": {
                    "representations": [
                        {"type": "sql",
                         "sql": "SELECT 1 AS draft",
                         "dialect": "spark"}
                    ],
                },
                "properties": {"comment": "per-customer order totals"},
            },
        )
        _post(
            "/v1/namespaces/analytics/views/cust_totals",
            {
                "requirements": [
                    {"type": "assert-view-uuid",
                     "uuid": created["metadata"]["view-uuid"]}
                ],
                "updates": [
                    {"action": "add-view-version", "view-version": {
                        "schema-id": 0,
                        "representations": [
                            {"type": "sql", "sql": view_sql,
                             "dialect": "spark"}
                        ]}},
                    {"action": "set-current-view-version",
                     "view-version-id": -1},
                ],
            },
        )
        with _rq.urlopen(
            f"http://127.0.0.1:{server.port}"
            "/v1/namespaces/analytics/views/cust_totals"
        ) as r:
            md = _json.loads(r.read())["metadata"]
    finally:
        server.shutdown()
    cur = next(
        v for v in md["versions"]
        if v["version-id"] == md["current-version-id"]
    )
    sql = next(
        r["sql"] for r in cur["representations"]
        if r["type"] == "sql" and r["dialect"] == "spark"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    try:
        # spark.sql analyzes eagerly: the temp view's plan is inlined
        # into the analyzed plan, so dropping the name afterwards
        # leaves the returned DataFrame executable
        return spark.sql(sql)
    finally:
        spark.catalog.dropTempView("orders")


@query(
    "iceberg_v3_dv",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id % 4 <= 2
      AND NOT (event_id % 4 <= 1 AND event_id % 6 = 0)
      AND NOT (event_id % 4 <= 1 AND event_type = 'view')
    """,
)
def iceberg_v3_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg format-version 3 deletion vectors (round 6): after
    upgrade_format_version(3), delete_rows writes puffin DV blobs
    (executor-side roaring encode) instead of position-delete parquet;
    a second delete merges per-file vectors keeping the one-DV-per-file
    invariant, and a later append is sequence-scoped out of both. The
    reader decodes the same framed roaring-portable codec as Delta DVs
    (sources/dv_bitmap.py) and applies one broadcast anti-join."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "iceberg_v3dv"))
    t.create(events.filter(F.col("event_id") % 4 <= 1))
    t.upgrade_format_version(3)
    t.delete_rows(F.col("event_id") % 6 == 0)              # DV write
    t.delete_rows(F.col("event_type") == "view")           # DV merge
    t.append(events.filter(F.col("event_id") % 4 == 2))    # seq-scoped
    return t.snapshot().select("event_id", "user_id", "event_type", "value")


@query(
    "iceberg_changelog",
    """
    SELECT event_id, user_id, event_type, value,
           'insert' AS _change_type, 0 AS _change_ordinal
    FROM events WHERE event_id % 4 = 0
    UNION ALL
    SELECT event_id, user_id, event_type, value,
           'insert' AS _change_type, 1 AS _change_ordinal
    FROM events WHERE event_id % 4 = 1
    UNION ALL
    SELECT event_id, user_id, event_type, value,
           'delete' AS _change_type, 2 AS _change_ordinal
    FROM events WHERE event_id % 4 <= 1 AND event_id % 6 = 0
    """,
)
def iceberg_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg changelog / CDC scan (round 6): inserts from appends,
    exact newly-deleted rows from position-delete files, nothing from
    compaction — the vendor SparkChangelogTable surface
    (IcebergProtocolTable.changelog_scan). The trailing
    rewrite_data_files proves compaction contributes no changes."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "iceberg_cl"))
    t.create(events.filter(F.col("event_id") % 4 == 0))
    t.append(events.filter(F.col("event_id") % 4 == 1))
    t.delete_rows(F.col("event_id") % 6 == 0)
    t.rewrite_data_files()
    return t.changelog_scan().select(
        "event_id", "user_id", "event_type", "value",
        "_change_type", "_change_ordinal",
    )


@query(
    "delta_uniform_v3",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 3 <= 1
      AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
    """,
)
def delta_uniform_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniForm with a FORMAT-VERSION 3 mirror (round 6): two Delta
    deletion-vector DELETEs, then sync_uniform(iceberg_format_version=3)
    references Delta's DV blob BYTES in place as Iceberg v3
    deletion-vector entries — zero conversion (shared framed
    roaring-portable layout, sources/dv_bitmap.py); the Iceberg reader
    decodes the same bytes and returns exactly the Delta live rows."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )
    from featureform_spark.sources.uniform import sync_uniform

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = _scratch(sf_dir, "uniform_v3")
    d = DeltaProtocolTable(spark, path)
    d.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    d.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    d.delete_where(F.col("o_orderkey") % 5 == 0)
    d.delete_where(F.col("o_orderkey") % 7 == 0)   # DV union
    sync_uniform(spark, path, iceberg_format_version=3)
    return IcebergProtocolTable(spark, path).snapshot()


@query(
    "iceberg_wap_publish",
    """
    SELECT event_id, user_id, event_type, value
    FROM events WHERE event_id % 4 IN (0, 1, 2)
    """,
)
def iceberg_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg write-audit-publish (round 6): the production pattern
    for gating bad data out of a 100-TB table. One append lands on an
    'audit' BRANCH (main untouched) and is published by fast_forward;
    one is STAGED unreferenced under a wap.id and published by
    cherrypick_snapshot; a third is staged and NEVER published — the
    oracle certifies main contains exactly the published rows. Refs
    per spec §refs (sources/iceberg_protocol.py:_advance); staging and
    cherry-pick mirror Iceberg's SnapshotManager/spark.wap.id."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "iceberg_wap"))
    t.create(
        events.filter(F.col("event_id") % 4 == 0),
        properties={"write.wap.enabled": "true"},
    )
    # branch-WAP: write to 'audit', inspect, fast-forward main
    t.append(events.filter(F.col("event_id") % 4 == 1), branch="audit")
    assert t.snapshot_ref("audit").count() > t.snapshot().count()
    t.fast_forward("main", "audit")
    # wap.id staging: published via cherry-pick
    sid = t.append(
        events.filter(F.col("event_id") % 4 == 2), wap_id="batch-a"
    )
    t.cherrypick_snapshot(sid)
    # staged but audit FAILED: never published, invisible on main
    t.append(events.filter(F.col("event_id") % 4 == 3), wap_id="batch-b")
    return t.snapshot().select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "delta_row_tracking",
    """
    WITH base AS (
        SELECT event_id, user_id, event_type, value FROM events
        WHERE event_id % 3 IN (0, 1) AND event_type <> 'click'
    ),
    src AS (
        SELECT event_id, user_id, event_type, value + 1000 AS value
        FROM events
        WHERE event_id % 3 = 2 OR event_id % 6 = 1
    )
    SELECT COALESCE(s.event_id, b.event_id) AS event_id,
           COALESCE(s.user_id, b.user_id)   AS user_id,
           COALESCE(s.event_type, b.event_type) AS event_type,
           COALESCE(s.value, b.value)       AS value
    FROM base b FULL OUTER JOIN src s ON b.event_id = s.event_id
    """,
)
def delta_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta row tracking (round 6): stable row identity through
    append → DV delete → MERGE. Every surviving row keeps its
    ``_row_id`` (baseRowId + index for untouched files, materialized
    columns in rewritten ones — sources/delta_protocol.py
    _assign_row_ids/_scan_with_row_ids); the in-query asserts certify
    identity stability and global uniqueness, the oracle certifies the
    data. At 100 TB this is what lets an incremental consumer track
    rows across rewrites without whole-file diffing."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "row_tracking"))
    t.create(
        events.filter(F.col("event_id") % 3 == 0),
        properties={"delta.enableRowTracking": "true"},
    )
    t.append(events.filter(F.col("event_id") % 3 == 1))
    t.delete_where(F.col("event_type") == "click")
    before = t.snapshot_with_row_ids().select(
        "event_id", F.col("_row_id").alias("__before_id")
    )
    src = events.filter(
        (F.col("event_id") % 3 == 2) | (F.col("event_id") % 6 == 1)
    ).withColumn("value", F.col("value") + 1000)
    t.merge(src, "event_id")
    after = t.snapshot_with_row_ids()
    # identity: survivors keep ids, ids globally unique
    stats = after.join(before, "event_id", "left").agg(
        F.sum(
            (
                F.col("__before_id").isNotNull()
                & (F.col("__before_id") != F.col("_row_id"))
            ).cast("int")
        ).alias("moved"),
        (F.count("*") - F.countDistinct("_row_id")).alias("dups"),
    ).first()
    assert stats["moved"] == 0 and stats["dups"] == 0, stats
    return after.select("event_id", "user_id", "event_type", "value")


@query(
    "iceberg_row_lineage",
    """
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_id % 3 IN (0, 1) AND event_type <> 'click'
    """,
)
def iceberg_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 row lineage (round 6): the Iceberg mirror of
    delta_row_tracking. Ids enumerate from the table's next-row-id
    (first_row_id + position per file); the pre-upgrade file reads
    NULL ids until the rewrite lazily assigns them; the DV delete and
    the rewrite never move a live id (rewritten files materialize
    _row_id / _last_updated_sequence_number columns —
    sources/iceberg_protocol.py:_assign_first_row_ids,
    snapshot_with_row_ids). In-query asserts certify identity
    stability + uniqueness; the oracle certifies the data."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "row_lineage"))
    t.create(events.filter(F.col("event_id") % 3 == 0))
    t.upgrade_format_version(3)
    t.append(events.filter(F.col("event_id") % 3 == 1))
    t.delete_rows(F.col("event_type") == "click")
    before = t.snapshot_with_row_ids().select(
        "event_id", F.col("_row_id").alias("__before_id")
    )
    t.rewrite_data_files()
    after = t.snapshot_with_row_ids()
    stats = after.join(before, "event_id", "left").agg(
        F.sum(
            (
                F.col("__before_id").isNotNull()
                & (F.col("__before_id") != F.col("_row_id"))
            ).cast("int")
        ).alias("moved"),
        (F.count("*") - F.countDistinct("_row_id")).alias("dups"),
        F.sum(F.col("_row_id").isNull().cast("int")).alias("nulls"),
    ).first()
    # post-rewrite every live row has a unique id; none moved
    assert (
        stats["moved"] == 0 and stats["dups"] == 0 and stats["nulls"] == 0
    ), stats
    return after.select("event_id", "user_id", "event_type", "value")


@query(
    "iceberg_partition_evolution",
    """
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-03-01'
      AND o_orderdate <= TIMESTAMP '1997-10-01'
    """,
)
def iceberg_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg partition spec EVOLUTION (round 6): the table starts
    unpartitioned, update_spec switches the default to
    month(o_orderdate) with ZERO data rewrite, and a later append
    lands under the new spec. scan_planned then plans each manifest
    under its OWN spec-id — partition-tuple range pruning on the new
    files, file bounds on the old — and the in-query assert certifies
    files were actually skipped (sources/iceberg_protocol.py:
    update_spec,_spec_fields_by_id). The oracle certifies exactness
    over the mixed-spec scan."""
    import datetime

    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "spec_evo"))
    t.create(orders.filter(F.col("o_orderdate") < "1997-01-01"))
    t.update_spec(["month(o_orderdate)"])
    t.append(orders.filter(F.col("o_orderdate") >= "1997-01-01"))
    out = t.scan_planned(
        "o_orderdate",
        datetime.datetime(1997, 3, 1),
        datetime.datetime(1997, 10, 1),
    )
    assert t._last_prune["files_read"] < t._last_prune["files_total"], (
        t._last_prune
    )
    return out


@query(
    "delta_identity_append",
    oracle="""
    SELECT o_orderkey,
           (row_number() OVER (ORDER BY o_orderkey))::BIGINT AS id
    FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 200)
    """,
)
def delta_identity_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta IDENTITY columns end-to-end (PROTOCOL.md Identity
    Columns): CREATE records the identityColumns feature with an
    empty schema-carrying df, then two appends ALLOCATE dense values
    continuing ``start + k*step`` from the high-water mark the
    previous commit's metaData action advanced. Each batch arrives
    sorted in ONE partition, so the per-partition-offset allocator's
    row order (monotonically_increasing_id's in-partition counter)
    equals the sort order and the id <-> o_orderkey mapping is the
    oracle's row_number — what the oracle certifies is the allocator's
    arithmetic AND the HWM handoff between commits (batch 2 starts at
    101). At scale the same allocator runs over N partitions with one
    extra count pass and no global window."""
    from pyspark.sql import types as T

    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    schema = T.StructType(
        [
            T.StructField(
                "id",
                T.LongType(),
                True,
                metadata={
                    "delta.identity.start": 1,
                    "delta.identity.step": 1,
                    "delta.identity.allowExplicitInsert": False,
                },
            ),
            T.StructField("o_orderkey", T.LongType(), True),
        ]
    )
    from featureform_spark.sources.local_df import local_df

    keys = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(200)
        .toPandas()["o_orderkey"]
        .tolist()
    )
    t = DeltaProtocolTable(spark, _scratch(sf_dir, "identity_orders"))
    # local_df routes through Arrow (a list-of-tuples createDataFrame
    # is python-RDD-backed and pays a python-worker spin-up PER JOB)
    t.create(local_df(spark, [], schema))
    for lo, hi in ((0, 100), (100, 200)):
        batch = local_df(
            spark, [(int(k),) for k in keys[lo:hi]], "o_orderkey long"
        ).coalesce(1)
        t.append(batch)
    return t.snapshot().select("o_orderkey", "id")


@query(
    "iceberg_default_values",
    oracle="""
    SELECT o_orderkey, 'web' AS channel FROM orders
    WHERE o_orderkey % 4 = 0
    UNION ALL
    SELECT o_orderkey, 'web' AS channel FROM orders
    WHERE o_orderkey % 4 = 1
    UNION ALL
    SELECT o_orderkey,
           CASE WHEN o_custkey % 2 = 0 THEN 'app' END AS channel
    FROM orders WHERE o_orderkey % 4 = 2
    """,
)
def iceberg_default_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v3 default values lifecycle (spec §Default values): a v3 table
    is created WITHOUT the column, `evolve_schema(defaults=...)` adds
    `channel` with initial-default/write-default 'web' as a
    metadata-only commit (zero rewrite), then one append OMITS the
    column (the writer materializes the write-default into the data)
    and one append carries explicit values including real NULLs. The
    final scan must serve: the default for every pre-evolution file
    (read-time patch keyed on the manifests' field-id value_counts),
    the default for the omitted-column append (physically written),
    and the explicit values — NULLs included — untouched. The oracle
    spells those three regimes out branch by branch."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "defaults"))
    t.create(orders.filter(F.col("o_orderkey") % 4 == 0))
    t.upgrade_format_version(3)
    evolved = orders.limit(1).withColumn("channel", F.lit("x")).schema
    t.evolve_schema(evolved, defaults={"channel": "web"})
    t.append(orders.filter(F.col("o_orderkey") % 4 == 1))  # omitted col
    t.append(
        orders.filter(F.col("o_orderkey") % 4 == 2).withColumn(
            "channel",
            F.when(F.col("o_custkey") % 2 == 0, F.lit("app")),
        )
    )
    return t.snapshot().select("o_orderkey", "channel")


@query(
    "convert_to_delta",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 3 < 2 AND o_custkey % 5 <> 0
    """,
)
def convert_to_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA lifecycle (delta-spark's migration front door):
    an existing plain-parquet directory (keys %3 in {0,1}) becomes a
    Delta table METADATA-ONLY — version 0 references the original
    files in place with footer-derived stats, zero bytes rewritten —
    then an ordinary CoW DELETE drops a customer stripe, proving the
    converted table is a first-class Delta table. The oracle
    reproduces convert+delete straight from the source rows."""
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    raw = _scratch(sf_dir, "convert_raw")
    orders.filter(F.col("o_orderkey") % 3 < 2).repartition(4).write.parquet(raw)
    t = DeltaProtocolTable.convert_from_parquet(spark, raw)
    t.delete_where(F.col("o_custkey") % 5 == 0)
    return t.snapshot()


@query(
    "iceberg_add_files",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 3 = 1
    """,
)
def iceberg_add_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg `add_files` procedure: an existing parquet directory
    (keys %3=0) imports into a (schema-only) Iceberg table as ONE
    metadata commit — manifest entries reference the files in place
    with field-id-keyed footer stats, zero rewrite — and a normal
    append (%3=1) then builds on the imported snapshot. The oracle is
    the union of both slices."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    raw = _scratch(sf_dir, "addfiles_raw")
    orders.filter(F.col("o_orderkey") % 3 == 0).repartition(3).write.parquet(raw)
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "addfiles_tbl"))
    t.create(orders.limit(0))
    t.add_files(raw)
    t.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    return t.snapshot()


@query(
    "iceberg_ndv_stats",
    oracle="""
    SELECT col_name, ndv FROM (
        SELECT 'c_custkey' AS col_name,
               COUNT(DISTINCT c_custkey) AS ndv FROM customer
        UNION ALL
        SELECT 'c_mktsegment', COUNT(DISTINCT c_mktsegment) FROM customer
        UNION ALL
        SELECT 'c_nationkey', COUNT(DISTINCT c_nationkey) FROM customer
    ) t ORDER BY col_name
    """,
)
def iceberg_ndv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE → Puffin statistics file → NDV readback: the
    spec's table-level ``statistics`` field with
    apache-datasketches-theta-v1 blobs (the CBO input engines use for
    join ordering / broadcast-side picks). One distributed pass emits
    fixed-size per-partition sketches (mapInPandas, values dedupe
    partition-side) folded on the driver; the NDVs then come back
    through metadata_table('statistics') — i.e. out of blob metadata
    in the table metadata itself, ZERO stats-file reads on the query
    path. The oracle pairing requires EXACT NDVs, so lg_k is sized
    above the table's row count (c_custkey is unique per row — a fixed
    lg_k would flip to estimation mode at a large enough sf and break
    the bit-for-bit compare); production callers pick a fixed lg_k and
    take the standard theta estimate instead."""
    import math

    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    t = IcebergProtocolTable(spark, _scratch(sf_dir, "ndv_stats"))
    t.create(cust)
    rows = cust.count()
    t.analyze_table(
        lg_k=min(26, max(14, math.ceil(math.log2(rows + 1)) + 1))
    )
    return (
        t.metadata_table("statistics")
        .select(F.col("column_name").alias("col_name"), "ndv")
        .orderBy("col_name")
    )


@query(
    "advised_join_revenue",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY segment
    """,
)
def advised_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics-driven join end-to-end: both sides land as Iceberg
    tables, ANALYZE TABLE writes their NDV sketches, and
    join_with_stats picks the physical strategy from metadata alone —
    zero-scan manifest byte profiles choose the broadcast side
    (customer ≪ orders), per-key NDVs bound the output cardinality,
    and the executed plan must carry the hint as a BroadcastHashJoin
    (asserted in-query: a silent fallback to sort-merge would pass the
    value check while defeating the point). The oracle is the plain
    join the advice must not change."""
    from featureform_spark.plans.join_advisor import join_with_stats
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    ot = IcebergProtocolTable(spark, _scratch(sf_dir, "adv_orders"))
    ct = IcebergProtocolTable(spark, _scratch(sf_dir, "adv_cust"))

    # the two fixture tables are independent: build each side's
    # create + ANALYZE chain in its own thread so the four formerly
    # sequential driver actions overlap (guide §2.6)
    def _build(t, df, cols):
        t.create(df)
        t.analyze_table(columns=cols)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_o = pool.submit(_build, ot, orders, ["o_custkey"])
        f_c = pool.submit(_build, ct, cust, ["c_custkey"])
        f_o.result()
        f_c.result()
    joined, advice = join_with_stats(ot, ct, "o_custkey", "c_custkey")
    assert advice["strategy"] == "broadcast_right", advice
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("segment")
    )


@query(
    "training_set_on_iceberg",
    """
    WITH dedup AS (
      SELECT user_id, ts, event_id, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                     ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click') t WHERE rn = 1),
    click AS (
      SELECT user_id AS e, ts,
             CASE WHEN event_id % 4 = 0 THEN value + 500.0
                  ELSE value END AS v
      FROM dedup),
    latest AS (
      SELECT e, v FROM (
        SELECT e, v, row_number() OVER (PARTITION BY e
                                        ORDER BY ts DESC) AS rn
        FROM click) t WHERE rn = 1)
    SELECT DISTINCT l.user_id AS entity,
           c.v AS click_feat_default,
           l.value AS label,
           l.ts AS label_ts,
           m.v AS click_latest
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN click c ON l.user_id = c.e AND l.ts >= c.ts
    LEFT JOIN latest m ON m.e = l.user_id
    """,
)
def training_set_on_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production composition end-to-end (r9 verdict #5): catalog
    tables as feature-store sources (SURVEY §1.1 CatalogTable). An
    Iceberg-protocol feature table is fed by equality-delete UPSERT
    (the streaming-CDC write shape), a Delta-protocol table carries
    the labels, both register as SourceVariants, and the Engine
    resolves registry → protocol scan → J1 PIT join in ONE plan —
    plus A1 materialize off the same registered feature. The oracle
    recomputes the upserted table contents from raw parquet, so this
    row certifies the whole chain: protocol write → protocol read →
    registry resolution → as-of join."""
    from dataclasses import asdict

    from pyspark.sql import Window

    from featureform_spark.plans.engine import Engine
    from featureform_spark.registry import (
        FeatureVariant,
        IcebergPathLocation,
        DeltaPathLocation,
        LabelVariant,
        Registry,
        SourceVariant,
        TrainingSetVariant,
    )
    from featureform_spark.sources.delta_protocol import DeltaProtocolTable
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    events = load_table(spark, sf_dir, "events")
    # feature table contents: clicks deduped to one row per (user, ts)
    # (event_id tiebreak) so engine-side dedup has nothing ambiguous,
    # then an UPSERT bumps every event_id % 4 == 0 row by +500
    w = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )
    ice_path = _scratch(sf_dir, "ts_on_ice_feat")
    ft = IcebergProtocolTable(spark, ice_path)
    ft.create(clicks)
    ft.upsert(
        clicks.filter(F.col("event_id") % 4 == 0).withColumn(
            "value", F.col("value") + 500.0
        ),
        ["event_id"],
    )
    delta_path = _scratch(sf_dir, "ts_on_ice_label")
    lt = DeltaProtocolTable(spark, delta_path)
    lt.create(
        events.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "value"
        )
    )

    reg = Registry()
    eng = Engine(spark, reg)
    reg.register(SourceVariant(
        name="click_table",
        location=asdict(IcebergPathLocation(path=ice_path)),
    ))
    reg.register(SourceVariant(
        name="purchase_table",
        location=asdict(DeltaPathLocation(path=delta_path)),
    ))
    reg.register(FeatureVariant(
        name="click_feat", source="click_table.default", entity="user",
        entity_column="user_id", value_column="value",
        timestamp_column="ts",
    ))
    reg.register(LabelVariant(
        name="purchase", source="purchase_table.default", entity="user",
        entity_column="user_id", value_column="value",
        timestamp_column="ts",
    ))
    reg.register(TrainingSetVariant(
        name="ts_ice", label="purchase.default",
        features=["click_feat.default"],
    ))
    tset = eng.training_set("ts_ice.default")
    mat = eng.materialize("click_feat.default").select(
        "entity", F.col("value").alias("click_latest")
    )
    return tset.join(mat, "entity", "left").select(
        "entity", "click_feat_default", "label", "label_ts",
        "click_latest",
    )
