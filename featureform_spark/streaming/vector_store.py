"""Persistent hyperplane-bucket store for continuous embedding
near-dup — the vector twin of :mod:`signature_store` (which covers
text MinHash banding).

A continuously-ingesting multimodal/embedding pipeline has the same
problem the text side solved in round 8: re-running corpus-wide
embedding near-dup per batch rescans the corpus. The store persists
``(vec_id, bucket, embedding, norm)`` rows — one row per accepted
vector (hyperplane bucketing needs no banding explosion) — so each
batch is:

- **flag**: bucket the batch inline (one Arrow-kernel projection),
  equi-join on ``bucket`` against the store pruned to the batch's
  buckets, verify candidates with the exact cosine (the store carries
  vectors + precomputed norms, so verification is a dot product per
  candidate — same fp operation order as ``embedding_near_dup_pairs``,
  bit-reproducible);
- **ingest**: append the clean vectors' rows, O(batch).

Unlike the MinHash store (bucket-only, candidate semantics), this
store keeps the vectors, so flags are EXACT at the configured
threshold — a bucket collision below the cosine threshold does not
flag. The price is state size: dim doubles + 8 bytes per vector
(~520 B/vector at dim 64) vs the text store's ~320 B/doc; both
bucket-partition cleanly.

Bucketing is pinned per STORE VERSION and persisted as table
properties (like banding, bucket schemes cannot mix within one
snapshot); ``.auto`` sizes a NEW store's plane count for the corpus
the deployment expects to accumulate via
:func:`lsh_autosize.auto_num_planes`.

Lifecycle at scale (round-12): a store that OUTGROWS the corpus it
was sized for reverts to the fixed-bucket candidate blowup —
occupancy n/2^planes grows linearly, the in-bucket verify join
quadratically. Because the store keeps the vectors, migration is one
O(n) re-projection: :meth:`rebucket` recomputes every stored bucket
under the new plane count and commits rows + scheme descriptor as ONE
atomic versioned replace (time travel still serves the old scheme at
old versions). :meth:`ingest` checks occupancy from the table's
metadata row count (a log fold, no data scan) and warns — or
auto-migrates with ``on_overflow="migrate"`` — when the store runs
``trigger_factor``× past its target occupancy. The md5 hyperplane
family is count-independent (plane ``p`` is the same at any
``num_planes``), so raising the plane count strictly REFINES buckets:
a 14-plane bucket is its 8-plane bucket plus six more sign bits.

No reference counterpart (featureform has no corpus ops); this backs
the beyond-reference dedup layer (SURVEY.md §8.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from featureform_spark.functions.similarity import (
    _as_double,
    bucket_pandas,
    norm_pandas,
)
from featureform_spark.sources.deltalite import DeltaliteTable

# flag() broadcasts the per-batch hits frame only while the BATCH
# side's plan-time size estimate stays under this bound. hits carries
# two narrow columns and <= one row per batch id, so it is far smaller
# than the batch itself — but an unbounded backfill batch could still
# push it past Spark's 8 GB / 512M-row broadcast cap, where the
# planner's SortMergeJoin fallback is the safe choice.
_BROADCAST_HITS_MAX_BATCH_BYTES = 1 << 30


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate of ``df`` in bytes — plan-time only, no
    job. None when the estimate is unavailable."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


class EmbeddingStore:
    """Hyperplane-bucket vector store with flag/ingest lifecycle."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dim: int,
        num_planes: int = 8,
        cosine_threshold: float = 0.95,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.spark = spark
        self.table = DeltaliteTable(spark, path)
        self.dim = int(dim)
        self.num_planes = int(num_planes)
        self.cosine_threshold = float(cosine_threshold)
        self.id_col = id_col
        self.vec_col = vec_col
        if self.table.exists():
            props = self.table.properties()
            stored_dim = props.get("emb.dim")
            if stored_dim is not None and int(stored_dim) != self.dim:
                raise ValueError(
                    f"store at {path} was built with dim={stored_dim}, "
                    f"got dim={self.dim} — bucket schemes cannot be mixed"
                )
            stored_np = props.get("emb.num_planes")
            if stored_np is not None and int(stored_np) != self.num_planes:
                if props.get("emb.migrated") == "true":
                    # the store was re-bucketed after construction-time
                    # sizing: the persisted scheme is the truth (buckets
                    # were computed under it) — adopt it instead of
                    # breaking every fixed-config re-open post-migration
                    import warnings

                    warnings.warn(
                        f"store at {path} was migrated to num_planes="
                        f"{stored_np} (constructor asked for "
                        f"{self.num_planes}); using the migrated scheme",
                        stacklevel=2,
                    )
                    self.num_planes = int(stored_np)
                else:
                    raise ValueError(
                        f"store at {path} was built with num_planes="
                        f"{stored_np}, got num_planes={self.num_planes} "
                        "— bucket schemes cannot be mixed"
                    )

    @classmethod
    def auto(
        cls,
        spark: SparkSession,
        path: str,
        dim: int,
        expected_corpus_rows: int,
        cosine_threshold: float = 0.95,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "EmbeddingStore":
        """Open/create with auto-sized planes — destination-sized, like
        ``SignatureStore.auto``: a NEW store derives the plane count
        from the corpus the deployment expects to ACCUMULATE (bucketing
        is pinned for the store's lifetime); an existing store loads
        its pinned properties and ignores the expectation."""
        probe = DeltaliteTable(spark, path)
        if probe.exists():
            props = probe.properties()
            num_planes = int(props.get("emb.num_planes", 8))
            dim = int(props.get("emb.dim", dim))
        else:
            from featureform_spark.functions.lsh_autosize import (
                auto_num_planes,
            )

            num_planes = auto_num_planes(expected_corpus_rows)
        return cls(
            spark,
            path,
            dim=dim,
            num_planes=num_planes,
            cosine_threshold=cosine_threshold,
            id_col=id_col,
            vec_col=vec_col,
        )

    def _rows(self, batch: DataFrame) -> DataFrame:
        v = _as_double(F.col(self.vec_col))
        return batch.select(
            F.col(self.id_col),
            v.alias("_v"),
            norm_pandas()(v).alias("_n"),
            bucket_pandas(self.dim, self.num_planes)(v).alias("bucket"),
        )

    def stored_rows(self, like: DataFrame | None = None) -> DataFrame:
        """Accepted rows; empty-store schema comes from ``like`` (a
        batch) when given — the persisted schema is whatever the first
        ingested batch carried, so a fresh store must present the SAME
        id type the batch has (a hardcoded ``long`` would implicitly
        cast — or fail to join — a string-id batch on the very first
        ``flag()``, diverging from every later call)."""
        if not self.table.exists():
            if like is not None:
                return self._rows(like).limit(0)
            return self.spark.createDataFrame(
                [],
                f"{self.id_col} long, _v array<double>, _n double, "
                "bucket string",
            )
        return self.table.snapshot()

    def flag(self, batch: DataFrame) -> DataFrame:
        """[id_col, is_dup, dup_of] per batch vector: is_dup=1 iff an
        ACCEPTED vector in the same bucket clears the cosine
        threshold; dup_of is the smallest such accepted id (NULL when
        clean). Exact — bucket collisions below threshold don't flag.

        Scale shape: the store side is semi-pruned to the batch's
        bucket set BEFORE the candidate join (a batch touches few
        buckets; the store scan prunes on the join key), then one
        equi-join + dot-product verify per candidate."""
        from featureform_spark.functions.similarity import dot_pandas

        b = self._rows(batch)
        touched = b.select("bucket").distinct()
        stored = self.stored_rows(like=batch).join(
            F.broadcast(touched), "bucket", "left_semi"
        )
        cand = b.alias("n").join(
            stored.select(
                F.col("bucket"),
                F.col(self.id_col).alias("_sid"),
                F.col("_v").alias("_sv"),
                F.col("_n").alias("_sn"),
            ),
            "bucket",
        )
        hits = (
            cand.where(
                dot_pandas()(F.col("_v"), F.col("_sv"))
                / (F.col("_n") * F.col("_sn"))
                >= F.lit(self.cosine_threshold)
            )
            .groupBy(self.id_col)
            .agg(F.min("_sid").alias("dup_of"))
        )
        # hits has at most one row per BATCH id (groupBy over the
        # batch side), so it is bounded by the ingest batch size —
        # broadcast it explicitly: the post-aggregation size estimate
        # is too conservative for the planner, which otherwise
        # shuffles AND sorts both sides into a SortMergeJoin. Gated on
        # the batch's own plan-time size estimate: a huge backfill
        # batch could push hits past the 8 GB broadcast cap / driver
        # memory, so past the threshold the hint is dropped and the
        # planner's safe SortMergeJoin fallback applies. A missing
        # estimate keeps the broadcast: hits is bounded by the batch.
        hits_side = hits
        est = _plan_size_bytes(batch)
        if est is None or est <= _BROADCAST_HITS_MAX_BATCH_BYTES:
            hits_side = F.broadcast(hits)
        return (
            batch.select(self.id_col)
            .join(hits_side, self.id_col, "left")
            .select(
                F.col(self.id_col),
                F.col("dup_of").isNotNull().cast("long").alias("is_dup"),
                "dup_of",
            )
        )

    def ingest(
        self, batch: DataFrame, on_overflow: str = "warn"
    ) -> DataFrame:
        """Flag, admit clean vectors' rows, return flags (materialized
        so the flag join saw the store BEFORE this batch landed).
        Batch-internal duplicates are the caller's in-batch problem,
        same contract as the text store.

        ``on_overflow``: what to do when the store has outgrown its
        bucket scheme (see :meth:`occupancy_report`) — ``"warn"``
        (default; a UserWarning naming the fix), ``"migrate"``
        (run :meth:`rebucket` to the recommended plane count BEFORE
        flagging this batch), or ``"ignore"``. The check is a metadata
        row-count fold, not a data scan."""
        if on_overflow not in ("warn", "migrate", "ignore"):
            raise ValueError(f"on_overflow={on_overflow!r}")
        if on_overflow != "ignore" and self.table.exists():
            rep = self.occupancy_report()
            if rep["needs_rebucket"]:
                if on_overflow == "migrate":
                    self.rebucket(rep["recommended_planes"])
                else:
                    import warnings

                    warnings.warn(
                        f"EmbeddingStore at {self.table.path} holds "
                        f"{rep['n_rows']} vectors at {self.num_planes} "
                        f"planes (occupancy {rep['expected_occupancy']:.0f}"
                        f" > target {rep['target_bucket_rows']} × "
                        f"{rep['trigger_factor']}); candidate joins are "
                        "degrading — run rebucket("
                        f"{rep['recommended_planes']}) or ingest with "
                        "on_overflow='migrate'",
                        stacklevel=2,
                    )
        flags = self.flag(batch).localCheckpoint()
        clean = batch.join(
            flags.filter("is_dup = 0").select(self.id_col), self.id_col
        )
        rows = self._rows(clean)
        if self.table.exists():
            self.table.append(rows)
        else:
            self.table.create(
                rows,
                properties={
                    "emb.dim": str(self.dim),
                    "emb.num_planes": str(self.num_planes),
                },
            )
        return flags

    # ------------------------------------------------ lifecycle (r12)

    def accepted_count(self) -> int:
        """Stored vector count — a commit-log metadata fold (file
        stats), no data scan."""
        return self.table.row_count() if self.table.exists() else 0

    def occupancy_report(
        self, target_bucket_rows: int = 16, trigger_factor: int = 4
    ) -> dict:
        """Occupancy health: ``needs_rebucket`` trips when the stored
        count exceeds ``target_bucket_rows × 2^planes ×
        trigger_factor`` — i.e. expected bucket occupancy is
        ``trigger_factor``× past the sizing target that
        ``auto_num_planes`` holds for a new store."""
        from featureform_spark.functions.lsh_autosize import auto_num_planes

        n = self.accepted_count()
        return {
            "n_rows": n,
            "num_planes": self.num_planes,
            "expected_occupancy": n / (1 << self.num_planes),
            "target_bucket_rows": target_bucket_rows,
            "trigger_factor": trigger_factor,
            "recommended_planes": auto_num_planes(n, target_bucket_rows),
            "needs_rebucket": n
            > target_bucket_rows * (1 << self.num_planes) * trigger_factor,
        }

    def rebucket(self, new_planes: int) -> int | None:
        """Migrate the store to ``new_planes`` hyperplanes: ONE O(n)
        re-projection of the stored rows (the store keeps vectors, so
        no source rescan) committed with the updated scheme descriptor
        as a single atomic versioned replace — a reader never sees
        rows under one scheme and properties under another, and time
        travel serves the old scheme at pre-migration versions.

        Flag semantics are preserved for any pair whose vectors share
        buckets under both schemes (exact duplicates always do — the
        projection is deterministic); refinement can only DROP
        below-threshold candidates from the verify join, never add
        false flags (flags stay exact-at-threshold by construction).
        Returns the new table version, or None if already at
        ``new_planes``."""
        new_planes = int(new_planes)
        if new_planes == self.num_planes:
            return None
        if not self.table.exists():
            self.num_planes = new_planes
            return None
        rows = self.table.snapshot().select(
            F.col(self.id_col),
            F.col("_v"),
            F.col("_n"),
            bucket_pandas(self.dim, new_planes)(F.col("_v")).alias("bucket"),
        )
        v = self.table.overwrite(
            rows,
            properties={
                "emb.num_planes": str(new_planes),
                # lets a later fixed-config constructor adopt the
                # migrated scheme instead of refusing (the persisted
                # scheme is the truth once buckets were rewritten)
                "emb.migrated": "true",
            },
        )
        self.num_planes = new_planes
        return v

    def compact(self, target_rows_per_file: int = 1_000_000) -> dict:
        """Fold small per-batch append files (the text store's
        OPTIMIZE parity) — physical only, flags and time travel are
        unaffected."""
        return self.table.optimize(target_rows_per_file)

    def evict(self, predicate) -> dict:
        """Retention hook: DELETE stored vectors matching ``predicate``
        (Column or SQL string over the store schema — id, _v, _n,
        bucket) with copy-on-write of matched files only. Evicted ids
        stop flagging future batches; a re-ingest of the same content
        re-admits it. Time travel still serves pre-eviction flags."""
        return self.table.delete_where(predicate)

    def reingest(self, batch: DataFrame) -> dict:
        """Supersede: replace stored rows for ids present in ``batch``
        (new vector, new bucket) and insert ids the store has never
        seen — one MERGE, matched files only. Unlike :meth:`ingest`
        this does NOT near-dup-gate the batch; it is the maintenance
        path for refreshed embeddings of already-accepted content."""
        if not self.table.exists():
            self.table.create(
                self._rows(batch),
                properties={
                    "emb.dim": str(self.dim),
                    "emb.num_planes": str(self.num_planes),
                },
            )
            return {"version": 0, "files_rewritten": 0}
        return self.table.merge(self._rows(batch), key=self.id_col)
