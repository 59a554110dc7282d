"""Incremental + streaming refresh of materializations.

The reference's "streaming" is incremental batch: Delta CDF reads since
the last processed version (S5, offline_store_spark_runner.py:1076-1136)
plus Kafka-fed feature tables upserted per batch (ST1). This module
expresses both as Structured Streaming over files — the same shape as a
Kafka source (swap ``readStream.format``), using ``Trigger.AvailableNow``
for catch-up-then-stop semantics and ``foreachBatch`` for the merge.

The merge itself re-uses ``materialize_latest`` over (previous snapshot ∪
new rows): last-write-wins is carried by an explicit ingestion index, so
replays and out-of-order arrivals converge to the same snapshot — the
CDF-overwrite-detection problem the reference solves by rejecting
non-append writes is sidestepped by idempotent recompute per key.

Net-new beyond the reference (SURVEY §2.7 notes it has no watermarks or
event-time windows): ``windowed_aggregate`` adds tumbling/sliding
event-time aggregation with late-data watermarks — free capability on
Structured Streaming.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from featureform_spark.operators.materialize import materialize_latest
from featureform_spark.sources.delta_protocol import (
    DeltaProtocolTable,
    incremental_records,
)


class IncrementalMaterializer:
    """Keeps a latest-per-entity snapshot up to date from a growing
    file directory (stand-in for a Delta CDF / Kafka feed).

    ``refresh()`` runs one AvailableNow pass: new files since the last
    checkpoint are folded into the snapshot. State (checkpoint +
    snapshot) lives under ``work_dir``; re-running after a crash is
    safe because the fold is idempotent per (entity, ts, ord).
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        work_dir: str,
        schema: str,
        entity_col: str,
        value_col: str,
        ts_col: str | None = None,
        order_col: str | None = None,
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.work = Path(work_dir)
        self.schema = schema
        self.entity_col = entity_col
        self.value_col = value_col
        self.ts_col = ts_col
        self.order_col = order_col
        self._snapshot_dir = str(self.work / "snapshot")
        self._checkpoint_dir = str(self.work / "checkpoint")

    def snapshot(self) -> DataFrame | None:
        if not Path(self._snapshot_dir).exists():
            return None
        return self.spark.read.parquet(self._snapshot_dir)

    def _merge_batch(self, batch: DataFrame, _batch_id: int) -> None:
        new_mat = materialize_latest(
            batch, self.entity_col, self.value_col, self.ts_col, self.order_col
        )
        prev = self.snapshot()
        if prev is not None:
            # previous snapshot rows carry ord=-1 so genuinely newer
            # (ts, ord) inputs win; equal-ts re-delivery keeps the new row
            merged = materialize_latest(
                prev.select("entity", "value", "ts", F.lit(-1).cast("long").alias("_o"))
                .unionByName(
                    new_mat.select(
                        "entity", "value", "ts", F.lit(0).cast("long").alias("_o")
                    )
                ),
                "entity",
                "value",
                "ts",
                "_o",
            )
        else:
            merged = new_mat
        tmp = str(self.work / "snapshot_next")
        merged.write.mode("overwrite").parquet(tmp)
        final = self.spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(self._snapshot_dir)

    def refresh(self) -> None:
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", "1000")
            .parquet(self.source_dir)
        )
        q = (
            stream.writeStream.foreachBatch(self._merge_batch)
            .option("checkpointLocation", self._checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


class IncrementalTransformation:
    """ST3: re-run a transformation over NEW source files only, appending
    results to a growing output table.

    The reference gates this on Delta CDF + overwrite rejection
    (offline_store_spark_runner.py:1076-1136); a checkpointed file
    stream gives the same "rows since last run" contract. Correctness
    caveat (same as the reference): the transformation must be
    increment-safe (per-row maps/filters, or aggregations the caller
    merges downstream).
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        work_dir: str,
        schema: str,
        transform,  # Callable[[DataFrame], DataFrame]
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.work = Path(work_dir)
        self.schema = schema
        self.transform = transform
        self._out_dir = str(self.work / "out")
        self._checkpoint_dir = str(self.work / "checkpoint")

    def output(self) -> DataFrame | None:
        if not Path(self._out_dir).exists():
            return None
        return self.spark.read.parquet(self._out_dir)

    def refresh(self) -> None:
        stream = self.spark.readStream.schema(self.schema).parquet(self.source_dir)

        def fold(batch: DataFrame, _bid: int) -> None:
            self.transform(batch).write.mode("append").parquet(self._out_dir)

        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", self._checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


class DeltaIncrementalTransformation:
    """ST3 over a real change feed: transform only the rows committed to
    a Delta table since the last processed version, appending results
    to an output Delta table.

    This is the reference's Delta-CDF incremental path
    (offline_store_spark_runner.py:1076-1136) made concrete: the CDF
    gate, the overwrite rejection, and the version cursor all behave
    identically (see ``delta_protocol.incremental_records``; deleted
    rows and update preimages never reach the transform). The cursor
    is persisted in ``work_dir`` so re-runs resume; a run that fails
    mid-append may duplicate output rows on retry — same at-least-once
    contract as the reference's checkpointless version tracking.
    """

    def __init__(self, source_table, work_dir: str, transform):
        self.source = source_table
        self.work = Path(work_dir)
        self.work.mkdir(parents=True, exist_ok=True)
        self.transform = transform
        self._cursor_file = self.work / "last_version.json"
        self._out = DeltaProtocolTable(
            source_table.spark, str(self.work / "out")
        )

    def _cursor(self) -> int:
        if self._cursor_file.exists():
            return json.loads(self._cursor_file.read_text())["last_version"]
        return -1

    def output(self) -> DataFrame | None:
        return self._out.snapshot() if self._out.exists() else None

    def refresh(self) -> int:
        """Process commits newer than the cursor; returns rows processed
        (0 when already caught up)."""
        last = self._cursor()
        latest = self.source.version()
        if latest <= last:
            return 0
        changes = incremental_records(self.source, last)
        new_rows = self.transform(
            changes.drop("_change_type", "_commit_version")
        )
        _append_or_create(self._out, new_rows)
        n = new_rows.count()
        self._cursor_file.write_text(json.dumps({"last_version": latest}))
        return n


class IncrementalSQLTransformation:
    """ST3 with the reference's full shape: a SQL transformation whose
    ``ff.incremental``-wrapped sources bind to ONLY their new rows each
    run (SQLTransformation proto ``is_incremental`` +
    ``incremental_source``, metadata/proto/metadata.proto:605-615).

    Per ``refresh()``: every incremental ref binds a temp view over its
    Delta change feed since the last processed version (inserts and
    update postimages; overwrites rejected by the CDF contract), every
    other ref binds the current full snapshot, the template SQL runs
    once, and the result is appended to an output Delta table. Version
    cursors persist in ``work_dir`` — re-runs resume, at-least-once on
    mid-append failure (the reference's contract).

    Semantics note (same as the reference's): the SQL must be
    distributive over the incremental sources' rows — per-row transforms
    and incremental-append joins against dimension snapshots qualify;
    whole-table aggregations do not (use a full recompute for those).
    """

    def __init__(
        self,
        spark: SparkSession,
        sql: str,
        sources: dict[str, object],  # "name.variant" -> DeltaProtocolTable | DataFrame
        incremental: list[str],
        work_dir: str,
    ):
        from featureform_spark.plans.templates import template_refs

        self.spark = spark
        self.sql = sql
        self.sources = {
            (r if "." in r else f"{r}.default"): v for r, v in sources.items()
        }
        self.incremental = {
            r if "." in r else f"{r}.default" for r in incremental
        }
        refs = set(template_refs(sql))
        unknown = refs - set(self.sources)
        if unknown:
            raise ValueError(f"template refs without sources: {sorted(unknown)}")
        bad = self.incremental - refs
        if bad:
            raise ValueError(f"incremental refs not in template: {sorted(bad)}")
        for r in self.incremental:
            if not isinstance(self.sources[r], DeltaProtocolTable):
                raise TypeError(
                    f"incremental source {r!r} must be a DeltaProtocolTable "
                    "(needs a change feed)"
                )
        self.work = Path(work_dir)
        self.work.mkdir(parents=True, exist_ok=True)
        self._cursor_file = self.work / "cursors.json"
        self._out = DeltaProtocolTable(spark, str(self.work / "out"))

    def _cursors(self) -> dict[str, int]:
        if self._cursor_file.exists():
            return json.loads(self._cursor_file.read_text())
        return {}

    def output(self) -> DataFrame | None:
        return self._out.snapshot() if self._out.exists() else None

    def refresh(self) -> int:
        """One incremental pass; returns rows appended (0 = caught up)."""
        from featureform_spark.plans.templates import substitute_template

        cursors = self._cursors()
        new_cursors = dict(cursors)
        any_new = False
        frames: dict[str, DataFrame] = {}
        for ref in self.incremental:
            t = self.sources[ref]
            last = cursors.get(ref, -1)
            latest = t.version()
            if latest > last:
                any_new = True
                frames[ref] = incremental_records(t, last).drop(
                    "_change_type", "_commit_version"
                )
            else:
                frames[ref] = t.snapshot().limit(0)
            new_cursors[ref] = latest
        if not any_new:
            return 0

        sql, refs = substitute_template(self.sql)
        for i, ref in enumerate(refs):
            src = self.sources[ref]
            df = (
                frames[ref]
                if ref in frames
                else (src.snapshot() if hasattr(src, "snapshot") else src)
            )
            df.createOrReplaceTempView(f"source_{i}")
        result = self.spark.sql(sql)

        _append_or_create(self._out, result)
        n = result.count()
        self._cursor_file.write_text(json.dumps(new_cursors))
        return n


def _append_or_create(table: DeltaProtocolTable, df: DataFrame) -> None:
    if table.exists():
        table.append(df)
    else:
        table.create(df)


def stream_to_ann_index(
    stream_df: DataFrame,
    index,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming vector-index maintenance: each micro-batch's
    (id, vector) rows upsert into the in-RAM serving index (HNSW or
    IVFADC — anything with ``add``), so ``Nearest()`` serves new
    vectors as soon as their batch commits — the streaming twin of the
    reference embeddinghub's per-write index add
    (embeddinghub/embeddingstore/index.h:19-33).

    The per-batch collect is the index payload itself — the same
    single-process bound the reference accepts by holding its whole
    index in one process (scale-out is ShardedHnsw behind the same
    ``add``). Upsert semantics make at-least-once replays converge:
    re-delivering a batch re-adds the same (id, vector) pairs, which
    supersede rather than duplicate.
    """

    def upsert(batch: DataFrame, _bid: int) -> None:
        rows = batch.select(id_col, vec_col).collect()
        if rows:
            index.add(
                [int(r[id_col]) for r in rows],
                [[float(x) for x in r[vec_col]] for r in rows],
            )

    return (
        stream_df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_to_online(
    stream_df: DataFrame,
    store,
    table: str,
    entity_col: str,
    value_col: str,
    ts_col: str,
    checkpoint: str,
):
    """ST1 full loop: stream → per-batch latest-per-entity → online store
    upsert. Cross-batch out-of-order arrivals resolve via ts-compare in
    the store (newer-or-equal wins), so replays converge.

    A store backed by a file that executors can open (a
    ``SqliteOnlineStore`` on a path) has a ``partition_writer(table)``
    and gets the executor-side path: each batch's materialization ships
    through ``foreach_partition_write`` — batched, retrying, never
    touching the driver (the reference's Dynamo pattern,
    offline_store_spark_runner.py:420-485). A ``":memory:"`` store
    (``InMemoryOnlineStore``) has no cross-process write surface, so it
    drains through the driver via ``toLocalIterator``, in bounded
    chunks of ``set_if_newer_many`` (test/demo only — the non-scale
    path).
    """
    from featureform_spark.operators.materialize import materialize_latest
    from featureform_spark.serving.online import (
        DEFAULT_ROWS_PER_CHUNK,
        batched,
    )
    from featureform_spark.serving.writer import foreach_partition_write

    def upsert(batch: DataFrame, _bid: int) -> None:
        mat = materialize_latest(batch, entity_col, value_col, ts_col)
        if hasattr(store, "partition_writer"):
            foreach_partition_write(mat, store.partition_writer(table))
        else:
            rows = mat.select("entity", "value", "ts").toLocalIterator()
            for chunk in batched(rows, DEFAULT_ROWS_PER_CHUNK):
                store.set_if_newer_many(table, chunk)

    return (
        stream_df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_materialize(
    stream_df: DataFrame,
    entity_col: str,
    value_col: str,
    ts_col: str,
    queryName: str = "feature_mat",
):
    """ST1: continuous latest-per-entity feature table from a stream.

    Complete-mode in-memory sink keyed by entity (max_by keeps the
    newest value) — the foreachBatch/Delta-MERGE shape without needing a
    table format in the test container.
    """
    agg = stream_df.groupBy(F.col(entity_col).alias("entity")).agg(
        F.max_by(F.col(value_col), F.col(ts_col)).alias("value"),
        F.max(F.col(ts_col)).alias("ts"),
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
    )


def stream_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication on ``key_cols``.

    With ``ts_col`` the state store only retains keys inside the
    watermark horizon (``dropDuplicatesWithinWatermark``) — the only
    formulation whose state doesn't grow without bound on an infinite
    stream, which is what a continuously-ingesting training-data pipeline
    needs. Without ``ts_col`` it falls back to global-state
    ``dropDuplicates`` (bounded keyspaces only). Works on batch frames
    too (same expression, no watermark), so the semantics are
    batch-testable.
    """
    if ts_col and stream_df.isStreaming:
        return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return stream_df.dropDuplicates(key_cols)


def windowed_aggregate(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
    agg_value_col: str | None = None,
):
    """Event-time tumbling/sliding window aggregation with a watermark.

    Returns a DataFrame (streaming or batch — same expression works on
    both, which is how the suite oracle-checks the batch equivalent).
    """
    wm = stream_df.withWatermark(ts_col, watermark) if stream_df.isStreaming else stream_df
    win = F.window(F.col(ts_col), window_duration, slide or window_duration)
    keys = [win.alias("window")] + [F.col(c) for c in (group_cols or [])]
    aggs = [F.count("*").alias("n")]
    if agg_value_col:
        aggs.append(
            F.sum(F.col(agg_value_col).cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value")
        )
    return wm.groupBy(*keys).agg(*aggs)


def stream_to_delta_protocol(
    stream_df: DataFrame,
    table_path: str,
    app_id: str,
    checkpoint: str,
    transform=None,
):
    """Exactly-once streaming sink into a REAL Delta-protocol table
    (sources/delta_protocol.py), readable by any Delta engine.
    foreachBatch delivers each micro-batch at-least-once after
    failures; the write goes through the table's SetTransaction
    (``txn=(app_id, batchId)``) check, so a redelivered batch is a
    recorded no-op and the table never double-counts — end-to-end
    exactly-once on top of an at-least-once channel. ``transform``
    optionally maps each batch DataFrame before the write."""

    def write(batch: DataFrame, batch_id: int) -> None:
        out = transform(batch) if transform is not None else batch
        table = DeltaProtocolTable(batch.sparkSession, table_path)
        if not table.exists():
            table.create(out.limit(0))
        table.append(out, txn=(app_id, int(batch_id)))

    return (
        stream_df.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_iceberg(
    stream_df: DataFrame,
    table_path: str,
    key_fields: list[str],
    app_id: str,
    checkpoint: str,
    transform=None,
):
    """Exactly-once streaming UPSERT sink into an Iceberg-protocol
    table — the Flink upsert-sink shape end-to-end: each micro-batch
    commits its new data files AND an equality delete on its keys at
    one sequence number (``IcebergProtocolTable.upsert``), so CDC
    streams keep exactly one live row per key with O(batch) writes.
    foreachBatch delivers at-least-once after failures; the
    ``txn=(app_id, batchId)`` watermark (snapshot-summary
    ``ffspark.txn.<app>``, Flink's max-committed-checkpoint-id
    mechanism) makes replays recorded no-ops. ``transform`` optionally
    maps each batch before the write; batches must be key-unique
    (dedupe in ``transform`` when the channel can repeat keys within
    one batch)."""
    from featureform_spark.sources.iceberg_protocol import (
        IcebergProtocolTable,
    )

    def write(batch: DataFrame, batch_id: int) -> None:
        out = transform(batch) if transform is not None else batch
        table = IcebergProtocolTable(batch.sparkSession, table_path)
        if not table.exists():
            # first batch creates the table; the upsert below then
            # carries the data AND the watermark atomically
            table.create(out.limit(0))
        table.upsert(out, key_fields, txn=(app_id, batch_id))

    return (
        stream_df.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_quarantine(
    stream_df: DataFrame,
    rules: list,
    clean_path: str,
    quarantine_path: str,
    app_id: str,
    checkpoint: str,
):
    """Streaming data-quality triage: every micro-batch splits through
    ``functions/expectations.quarantine`` (row-level rule attribution,
    one projection) — clean rows append to ``clean_path``, violating
    rows (carrying ``_violations`` and the batch id) to
    ``quarantine_path``. Each side is exactly-once independently: the
    two sinks record separate txn app-ids (``<app>.clean`` /
    ``<app>.bad``), so a replayed batch that already landed one side
    no-ops there and still lands the other — no double-counting, no
    lost quarantine rows, on an at-least-once channel."""
    from featureform_spark.functions.expectations import quarantine

    def write(batch: DataFrame, batch_id: int) -> None:
        # pin the micro-batch: clean and quarantined sides both
        # materialize, and an unpinned plan would re-read the source
        # twice per trigger
        batch = batch.localCheckpoint(eager=True)
        good, bad = quarantine(batch, rules)
        bad = bad.withColumn("_batch_id", F.lit(batch_id))
        for df_, path, suffix in (
            (good, clean_path, "clean"),
            (bad, quarantine_path, "bad"),
        ):
            table = DeltaProtocolTable(batch.sparkSession, path)
            if not table.exists():
                table.create(df_.limit(0))
            table.append(df_, txn=(f"{app_id}.{suffix}", int(batch_id)))

    return (
        stream_df.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
