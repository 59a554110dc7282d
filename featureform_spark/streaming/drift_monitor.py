"""Persistent drift monitor for continuous serving traffic.

``functions.drift`` compares two frames ad hoc; a production feature
platform monitors CONTINUOUSLY: the reference summary is pinned once
(the training snapshot), every serving micro-batch is binned under
the SAME scheme, and the per-batch histograms accumulate into a
durable drift history the on-call reads when a model goes sideways.
This module is that lifecycle — the monitoring twin of
``SignatureStore``/``EmbeddingStore`` — over all three value
monitors (r12: numeric bins, categorical top-K sets, embedding
hyperplane sign buckets):

- :meth:`DriftMonitor.set_reference` pins, in ONE atomic Delta
  commit: the NaN-excluding numeric bin edges, the top-K CATEGORY
  SET per categorical feature (the ad-hoc ``categorical_compare``
  re-derives top-K per call — a store must pin the set, or a
  category that falls out of the top-K would silently re-bucket the
  whole history), the embedding plane scheme, and the reference
  histograms themselves. All schemes are table properties: every
  later observer bins identically or refuses loudly.
- :meth:`DriftMonitor.observe` bins a batch under the pinned schemes
  (codegen expressions for numeric/categorical, the shared Arrow
  hyperplane kernel for embeddings) and appends
  ``(batch_id, kind, feature, bin, count)`` rows — an
  O(features × buckets) write per batch, independent of batch size —
  returning per-feature PSI vs the reference (driver-side libm fold,
  the standing transcendental convention).
- :meth:`stream_drift` glues a Structured Streaming source to the
  monitor via ``foreachBatch`` — replays replace their own batch id
  (one deletion-vector delete), so at-least-once delivery stays
  idempotent.

State size: Σ buckets per feature per observed batch — a monitor
observing 1k batches of 100 features holds ~1-2M rows, trivially
aggregation-scale; the 100 TB of traffic behind it never lands in
the store. Backed by a Delta table for atomic commits + time travel
(re-read the history as of any version).

Categorical semantics: the pinned set is the top-K reference
categories by (count DESC, category ASC) — a deterministic total
order; ``__null__`` is ALWAYS its own bucket (a feature going null
is drift even when null was rare at reference time); everything
else, including categories never seen at reference time, folds into
``__other__`` — where a brand-new category's mass belongs.

No reference-repo counterpart (featureform's dashboard surfaces
metadata only); beyond-reference monitoring family, SURVEY.md §8.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from featureform_spark.functions.drift import (
    binned_counts,
    psi,
    reference_edges,
)
from featureform_spark.sources.delta_protocol import DeltaProtocolTable

__all__ = ["DriftMonitor", "stream_drift"]

REFERENCE_BATCH_ID = -1
NULL_CAT = "__null__"
OTHER_CAT = "__other__"


class DriftMonitor:
    """Scheme-pinned histogram store with a reference/observe
    lifecycle over numeric, categorical and embedding features.

    A monitor opened on an existing table loads its pinned schemes
    from the table properties; passing conflicting values refuses
    loudly (two schemes in one history would make every PSI score
    silently incomparable — same policy as the LSH stores' "bucket
    schemes cannot be mixed")."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        cols: list[str] | None = None,
        bins: int | None = None,
        categorical_cols: list[str] | None = None,
        cat_top_k: int | None = None,
        embedding_col: str | None = None,
        embedding_dim: int | None = None,
        embedding_planes: int | None = None,
    ):
        self.spark = spark
        self.table = DeltaProtocolTable(spark, path)
        self.cols = list(cols) if cols else None
        self.bins = bins
        self.cat_cols = list(categorical_cols) if categorical_cols else None
        self.cat_top_k = cat_top_k
        self.emb_col = embedding_col
        self.emb_dim = embedding_dim
        self.emb_planes = embedding_planes
        self.edges: dict[str, tuple[float, float]] | None = None
        self.cat_sets: dict[str, list[str]] | None = None
        self._has_reference = False
        if self.table.exists():
            props = self.table.properties()
            self._adopt(props, path)

    def _adopt(self, props: dict, path: str) -> None:
        stored_cols = json.loads(props.get("drift.cols", "[]"))
        stored_bins = int(props.get("drift.bins", "10"))
        stored_cat = json.loads(props.get("drift.cat_cols", "[]"))
        stored_topk = int(props.get("drift.cat_topk", "20"))
        stored_emb = json.loads(props.get("drift.emb", "{}"))

        def _conflict(passed, stored, what):
            if passed is not None and passed != stored:
                raise ValueError(
                    f"monitor at {path} was built with {what}={stored}, "
                    f"got {passed} — schemes cannot be mixed"
                )

        _conflict(self.cols, stored_cols or None, "cols")
        _conflict(self.bins, stored_bins, "bins")
        _conflict(self.cat_cols, stored_cat or None, "categorical_cols")
        _conflict(self.cat_top_k, stored_topk, "cat_top_k")
        if stored_emb:
            _conflict(self.emb_col, stored_emb.get("col"), "embedding_col")
            _conflict(self.emb_dim, stored_emb.get("dim"), "embedding_dim")
            _conflict(
                self.emb_planes, stored_emb.get("planes"), "embedding_planes"
            )
        elif self.emb_col is not None:
            raise ValueError(
                f"monitor at {path} has no embedding feature, got "
                f"embedding_col={self.emb_col!r} — schemes cannot be "
                "mixed (open a new path to monitor embeddings)"
            )
        self.cols = stored_cols or None
        self.bins = stored_bins
        self.cat_cols = stored_cat or None
        self.cat_top_k = stored_topk
        if stored_emb:
            self.emb_col = stored_emb["col"]
            self.emb_dim = int(stored_emb["dim"])
            self.emb_planes = int(stored_emb["planes"])
        self.edges = {
            c: (mn, w)
            for c, (mn, w) in json.loads(
                props.get("drift.edges", "{}")
            ).items()
        } or None
        self.cat_sets = json.loads(props.get("drift.cat_sets", "{}")) or None
        self._has_reference = True

    # -- binning passes ----------------------------------------------

    def _num_rows(self, df: DataFrame) -> DataFrame | None:
        if not self.edges:
            return None
        return binned_counts(df, self.edges, self.bins, "count").select(
            F.lit("num").alias("kind"),
            "feature",
            F.col("bin").cast("string").alias("bin"),
            "count",
        )

    def _cat_rows(self, df: DataFrame) -> DataFrame | None:
        if not self.cat_sets:
            return None
        parts = []
        for c, cats in self.cat_sets.items():
            raw = F.col(c).cast("string")
            pinned = F.when(raw.isNull(), F.lit(NULL_CAT)).otherwise(
                F.when(raw.isin(cats), raw).otherwise(F.lit(OTHER_CAT))
            )
            parts.append(
                df.select(
                    F.lit("cat").alias("kind"),
                    F.lit(c).alias("feature"),
                    pinned.alias("bin"),
                )
            )
        un = parts[0]
        for p in parts[1:]:
            un = un.unionByName(p)
        return un.groupBy("kind", "feature", "bin").agg(
            F.count(F.lit(1)).alias("count")
        )

    def _emb_rows(self, df: DataFrame) -> DataFrame | None:
        if self.emb_col is None:
            return None
        from featureform_spark.functions.similarity import bucket_pandas

        kernel = bucket_pandas(
            self.emb_dim, self.emb_planes, null_bucket=NULL_CAT
        )
        v = F.transform(F.col(self.emb_col), lambda x: x.cast("double"))
        return (
            df.select(kernel(v).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("count"))
            .select(
                F.lit("emb").alias("kind"),
                F.lit(self.emb_col).alias("feature"),
                "bin",
                "count",
            )
        )

    def _histogram(self, df: DataFrame, batch_id: int) -> DataFrame:
        parts = [
            p
            for p in (
                self._num_rows(df),
                self._cat_rows(df),
                self._emb_rows(df),
            )
            if p is not None
        ]
        un = parts[0]
        for p in parts[1:]:
            un = un.unionByName(p)
        return un.select(
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            "kind",
            "feature",
            "bin",
            "count",
        )

    # -- lifecycle ----------------------------------------------------

    def set_reference(self, ref: DataFrame) -> None:
        """Pin the reference: numeric edges (one agg), categorical
        top-K sets (one unpivoted groupBy collected at category
        cardinality), the embedding plane scheme, and the reference
        histograms — one atomic commit carrying rows AND every scheme
        descriptor, so an observer can never bin under schemes that
        are not the ones the reference rows were built with."""
        if self.table.exists():
            raise ValueError(
                f"monitor at {self.table.path} already has a reference; "
                "open a new path to re-baseline (the old history stays "
                "readable via time travel)"
            )
        if not (self.cols or self.cat_cols or self.emb_col):
            raise ValueError("set_reference: no feature columns declared")
        if self.emb_col is not None and not self.emb_dim:
            raise ValueError("set_reference: embedding_dim required")
        if self.bins is None:
            self.bins = 10
        if self.cat_top_k is None:
            self.cat_top_k = 20
        if self.emb_col is not None and self.emb_planes is None:
            self.emb_planes = 8
        if self.emb_col is not None and not (1 <= self.emb_planes <= 20):
            raise ValueError(
                "set_reference: embedding_planes must be in [1, 20] "
                "(2^planes buckets must stay aggregation-scale — the "
                "per-batch write is O(features × buckets))"
            )
        # feature names are the score/history key: one name in two
        # kinds would merge two unrelated histograms into one PSI
        names = (
            list(self.cols or [])
            + list(self.cat_cols or [])
            + ([self.emb_col] if self.emb_col else [])
        )
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            raise ValueError(
                f"set_reference: feature name(s) {dupes} appear in more "
                "than one kind — names must be disjoint across "
                "cols/categorical_cols/embedding_col"
            )
        if self.cols:
            self.edges = reference_edges(ref, self.cols, self.bins)
        if self.cat_cols:
            self.cat_sets = {}
            for c in self.cat_cols:
                counts = (
                    ref.select(
                        F.coalesce(
                            F.col(c).cast("string"), F.lit(NULL_CAT)
                        ).alias("cat")
                    )
                    .groupBy("cat")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                ranked = sorted(counts, key=lambda r: (-r["n"], r["cat"]))
                pinned = [
                    r["cat"]
                    for r in ranked
                    if r["cat"] != NULL_CAT
                ][: self.cat_top_k]
                self.cat_sets[c] = sorted(pinned)
        props = {
            "drift.cols": json.dumps(self.cols or []),
            "drift.bins": str(self.bins),
            "drift.edges": json.dumps(
                {c: list(e) for c, e in (self.edges or {}).items()}
            ),
            "drift.cat_cols": json.dumps(self.cat_cols or []),
            "drift.cat_topk": str(self.cat_top_k),
            "drift.cat_sets": json.dumps(self.cat_sets or {}),
            "drift.emb": json.dumps(
                {
                    "col": self.emb_col,
                    "dim": self.emb_dim,
                    "planes": self.emb_planes,
                }
                if self.emb_col
                else {}
            ),
        }
        self.table.create(
            self._histogram(ref, REFERENCE_BATCH_ID), properties=props
        )
        # only after the commit: a failed create must leave the
        # monitor saying "no reference yet", not half-initialized
        self._has_reference = True

    def _require_reference(self) -> None:
        if not self._has_reference:
            raise ValueError(
                f"monitor at {self.table.path} has no reference yet — "
                "call set_reference(ref) first"
            )

    def observe(self, batch: DataFrame, batch_id: int) -> dict[str, float]:
        """Bin the batch under the pinned schemes, append its
        histograms keyed by ``batch_id``, return per-feature PSI vs
        the reference. Re-observing a batch id REPLACES its rows (one
        deletion-vector delete touching only that id's files) so
        streaming replays stay idempotent."""
        self._require_reference()
        if batch_id < 0:
            raise ValueError("batch_id must be >= 0 (negative ids are "
                             "reserved for the reference)")
        # unconditional: a delete matching nothing writes no deletion
        # vector, so replays replace their rows without a dedicated
        # full-history distinct scan per batch
        self.table.delete_where(F.col("batch_id") == int(batch_id))
        self.table.append(self._histogram(batch, batch_id))
        return self.scores(batch_id)

    # -- reads --------------------------------------------------------

    def history(self) -> DataFrame:
        """All persisted (batch_id, kind, feature, bin, count) rows —
        reference rows carry batch_id = -1."""
        self._require_reference()
        return self.table.snapshot()

    def _counts(self, batch_id: int) -> dict[str, dict[str, int]]:
        out: dict[str, dict[str, int]] = {}
        for r in (
            self.table.snapshot()
            .filter(F.col("batch_id") == int(batch_id))
            .collect()
        ):
            out.setdefault(r["feature"], {})[r["bin"]] = int(r["count"])
        return out

    def scores(self, batch_id: int) -> dict[str, float]:
        """Per-feature PSI of one observed batch vs the reference —
        an aggregation-scale collect plus a driver-side libm fold."""
        self._require_reference()
        ref = self._counts(REFERENCE_BATCH_ID)
        cur = self._counts(batch_id)
        out: dict[str, float] = {}
        for feature in sorted(ref):
            bins = sorted(set(ref[feature]) | set(cur.get(feature, {})))
            out[feature] = psi(
                [
                    (
                        ref[feature].get(b, 0),
                        cur.get(feature, {}).get(b, 0),
                    )
                    for b in bins
                ]
            )
        return out

    def score_history(self) -> dict[int, dict[str, float]]:
        """{batch_id: {feature: psi}} over every observed batch."""
        self._require_reference()
        ids = sorted(
            int(r["batch_id"])
            for r in self.table.snapshot()
            .select("batch_id")
            .distinct()
            .collect()
            if int(r["batch_id"]) != REFERENCE_BATCH_ID
        )
        return {b: self.scores(b) for b in ids}


def stream_drift(stream_df: DataFrame, monitor: DriftMonitor):
    """Attach a DriftMonitor to a streaming source: every micro-batch
    is binned and appended keyed by its batch id (replays replace
    their own rows — idempotent under at-least-once foreachBatch).
    Returns the DataStreamWriter; caller picks trigger/checkpoint and
    calls ``.start()``."""
    monitor._require_reference()
    return stream_df.writeStream.foreachBatch(
        lambda batch, bid: monitor.observe(batch, int(bid))
    )
