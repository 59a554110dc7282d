"""Persistent MinHash-LSH signature store for continuous-ingestion dedup.

A training-data pipeline that ingests continuously cannot re-run corpus
dedup from scratch per batch: at 100 TB the corpus rescan alone dwarfs
the batch. The standard fix (public MinHash/LSH literature, e.g. the
Mining of Massive Datasets LSH chapter) is to persist per-document band
buckets and dedup each new batch against that store:

- the store holds ``(doc_id, bucket)`` rows — ``bands`` rows of ~40
  bytes per accepted document, independent of document size;
- flagging a batch = one bucket equi-join (batch side exploded, store
  side scanned pruned to the join key);
- accepting a batch = appending its buckets, an O(batch) write.

Backed by a Delta table
(:class:`~featureform_spark.sources.delta_protocol.DeltaProtocolTable`)
so the store gets atomic commits, time travel (re-run a batch against
the store as of any version), and OPTIMIZE compaction of small batch
appends. No reference-repo counterpart (featureform has no corpus ops);
this backs the beyond-reference dedup layer (SURVEY.md §8.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from featureform_spark.functions.dedup import incremental_lsh_flags, lsh_band_buckets
from featureform_spark.sources.delta_protocol import (
    DeltaProtocolTable,
    incremental_records,
)


class SignatureStore:
    """LSH band-bucket store with flag/ingest lifecycle.

    ``flag(batch)`` marks batch docs sharing a bucket with any accepted
    doc; ``ingest(batch)`` flags, then appends the buckets of the CLEAN
    docs (dups are not admitted, so later near-dups of a rejected doc
    are caught via its accepted original). All LSH parameters are fixed
    at construction and persisted as table properties — mixing banding
    schemes in one store would silently miss duplicates.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 24,
        bands: int = 8,
        shingle_n: int = 3,
        baseline_jaccard: float = 0.05,
    ):
        self.spark = spark
        self.table = DeltaProtocolTable(spark, path)
        self.id_col = id_col
        self.text_col = text_col
        self.params = dict(
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
        )
        # the background similarity this store's banding was sized
        # against — persisted so occupancy_report / reband reason with
        # the SAME j the capacity model used (a store sized at j=0.2
        # has (1/0.2)^r capacity, not the design default's (1/0.05)^r)
        self.baseline_jaccard = float(baseline_jaccard)
        if self.table.exists():
            props = self.table.properties()
            stored_j = props.get("lsh.baseline_jaccard")
            if stored_j is not None:
                self.baseline_jaccard = float(stored_j)
            migrated = props.get("lsh.migrated") == "true"
            for k, v in self.params.items():
                stored = props.get(f"lsh.{k}")
                if stored is not None and int(stored) != v:
                    if migrated and k in ("num_hashes", "bands"):
                        # post-reband: the persisted scheme is the
                        # truth — adopt it instead of breaking every
                        # fixed-config re-open after a migration
                        import warnings

                        warnings.warn(
                            f"store at {path} was migrated to "
                            f"{k}={stored} (constructor asked for {v}); "
                            "using the migrated scheme",
                            stacklevel=2,
                        )
                        self.params[k] = int(stored)
                        continue
                    raise ValueError(
                        f"store at {path} was built with {k}={stored}, "
                        f"got {k}={v} — banding schemes cannot be mixed"
                    )

    @classmethod
    def auto(
        cls,
        spark: SparkSession,
        path: str,
        expected_corpus_rows: int,
        id_col: str = "doc_id",
        text_col: str = "text",
        shingle_n: int = 3,
        baseline_jaccard: float | None = None,
    ) -> "SignatureStore":
        """Open/create a store with auto-sized banding — the
        ingestion-side twin of ``minhash_lsh_pairs``' auto default.

        A NEW store derives (num_hashes, bands) from the corpus size
        the deployment EXPECTS to accumulate (not the first batch —
        banding is pinned for the store's lifetime, so it must be
        sized for the destination, not the starting point). An
        EXISTING store ignores the expectation and loads its pinned
        properties: banding schemes cannot be mixed, and re-opening
        with a different expectation must not fork the scheme.

        ``baseline_jaccard``: the background similarity the occupancy
        model divides by. Default None keeps the conservative design
        constant (0.05) — a NEW store sizes for a corpus that does not
        exist yet, so there is nothing to sample; callers that have a
        representative feed can measure one with
        ``lsh_autosize.estimate_baseline_jaccard(feed)`` and pass it
        (or later migrate with :meth:`reband`)."""
        probe = DeltaProtocolTable(spark, path)
        if probe.exists():
            props = probe.properties()
            # a store missing lsh.* properties (legacy writer) opens
            # fine via plain construction, which defaults to (24, 8);
            # mirror that tolerance here rather than KeyError
            num_hashes = int(props.get("lsh.num_hashes", 24))
            bands = int(props.get("lsh.bands", 8))
            shingle_n = int(props.get("lsh.shingle_n", shingle_n))
        else:
            from featureform_spark.functions.lsh_autosize import (
                auto_minhash_params,
            )

            if baseline_jaccard is not None:
                num_hashes, bands = auto_minhash_params(
                    expected_corpus_rows, baseline_jaccard=baseline_jaccard
                )
            else:
                num_hashes, bands = auto_minhash_params(expected_corpus_rows)
        return cls(
            spark,
            path,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            baseline_jaccard=(
                baseline_jaccard if baseline_jaccard is not None else 0.05
            ),
        )

    def _props(self) -> dict[str, str]:
        return {
            **{f"lsh.{k}": str(v) for k, v in self.params.items()},
            "lsh.baseline_jaccard": repr(self.baseline_jaccard),
        }

    def _buckets(self, docs: DataFrame) -> DataFrame:
        return lsh_band_buckets(
            docs, self.id_col, self.text_col, **self.params
        )

    def stored_buckets(self, like: DataFrame | None = None) -> DataFrame:
        """Accepted (id, bucket) rows; a fresh store derives the empty
        frame's id type from ``like`` (a batch) when given — the
        persisted type is whatever the first ingest wrote, so the
        pre-first-ingest flag() must present the batch's own id type
        (same fix as EmbeddingStore.stored_rows)."""
        if not self.table.exists():
            if like is not None:
                return self._buckets(like.limit(0))
            return self.spark.createDataFrame(
                [], f"{self.id_col} long, bucket string"
            )
        return self.table.snapshot()

    def flag(self, batch: DataFrame) -> DataFrame:
        """[id_col, is_dup] for every batch doc, vs accepted docs only
        (batch-internal dups are the caller's in-batch dedup problem)."""
        return incremental_lsh_flags(
            batch,
            self.stored_buckets(like=batch),
            self.id_col,
            self.text_col,
            **self.params,
        )

    def ingest(
        self, batch: DataFrame, on_overflow: str = "warn"
    ) -> DataFrame:
        """Flag the batch, admit the clean docs' buckets, return flags.

        The returned flags frame is materialized (the flag join must see
        the store BEFORE this batch's buckets land).

        ``on_overflow``: ``"warn"`` (default) raises a UserWarning when
        the accepted-doc count has outgrown the pinned banding (see
        :meth:`occupancy_report` — a metadata row-count fold, no scan);
        ``"ignore"`` skips the check. Unlike the vector store there is
        no ``"migrate"``: re-banding needs the original texts (buckets
        are one-way hashes), so migration is the explicit
        :meth:`reband` call with the doc source."""
        if on_overflow not in ("warn", "ignore"):
            raise ValueError(f"on_overflow={on_overflow!r}")
        if on_overflow == "warn" and self.table.exists():
            rep = self.occupancy_report()
            if rep["needs_reband"]:
                import warnings

                warnings.warn(
                    f"SignatureStore at {self.table.path} holds "
                    f"{rep['n_docs']} docs banded "
                    f"({self.params['num_hashes']}, "
                    f"{self.params['bands']}); the false-candidate "
                    "model recommends "
                    f"{rep['recommended']} — run reband(docs, "
                    f"num_hashes={rep['recommended'][0]}, "
                    f"bands={rep['recommended'][1]}) with the corpus "
                    "source",
                    stacklevel=2,
                )
        flags = self.flag(batch).localCheckpoint()
        clean = batch.join(
            flags.filter("is_dup = 0").select(self.id_col), self.id_col
        )
        new_buckets = self._buckets(clean)
        if self.table.exists():
            self.table.append(new_buckets)
        else:
            self.table.create(new_buckets, properties=self._props())
        return flags

    # ------------------------------------------------ lifecycle (r12)

    def accepted_count(self) -> int:
        """Accepted-doc count — every accepted doc contributes exactly
        ``bands`` rows, so this is the metadata row count divided by
        the pinned band count (a commit-log fold, no data scan)."""
        if not self.table.exists():
            return 0
        return self.table.row_count() // self.params["bands"]

    def occupancy_report(self, trigger_factor: int = 4) -> dict:
        """Banding health: ``needs_reband`` trips when the accepted
        count exceeds ``trigger_factor``× the largest corpus the
        pinned rows-per-band was sized for (the inverse of
        ``auto_minhash_params``' occupancy model: r rows per band hold
        the false-candidate rate flat up to
        ``n = target × (1/j)^r``)."""
        from featureform_spark.functions.lsh_autosize import (
            auto_minhash_params,
        )

        n = self.accepted_count()
        r = self.params["num_hashes"] // self.params["bands"]
        # capacity of the pinned scheme under the SAME baseline j the
        # store was sized with (persisted as lsh.baseline_jaccard —
        # a store sized at j=0.2 has 8·5^r capacity, not 8·20^r)
        j = self.baseline_jaccard
        capacity = 8 * (1.0 / j) ** r
        return {
            "n_docs": n,
            "rows_per_band": r,
            "baseline_jaccard": j,
            "capacity_docs": capacity,
            "trigger_factor": trigger_factor,
            "recommended": auto_minhash_params(n, baseline_jaccard=j),
            "needs_reband": n > capacity * trigger_factor,
        }

    def reband(
        self,
        docs: DataFrame,
        num_hashes: int | None = None,
        bands: int | None = None,
    ) -> int:
        """Migrate the store to a new banding scheme. Band buckets are
        one-way md5 hashes and the store deliberately keeps ~320 B/doc
        of buckets instead of texts, so re-banding re-projects from the
        DOC SOURCE: one O(n) pass over ``docs`` semi-joined to the
        accepted ids, committed with the new scheme descriptor as one
        atomic versioned replace (time travel serves the old banding
        at pre-migration versions).

        ``docs`` must cover every accepted id (a partial source would
        silently evict the missing docs from dedup — refused loudly).
        Omitted num_hashes/bands default to the auto sizing for the
        CURRENT accepted count."""
        if not self.table.exists():
            raise ValueError("reband: store has no accepted docs yet")
        if (num_hashes is None) != (bands is None):
            raise ValueError(
                "reband: pass both num_hashes and bands, or neither "
                "(half-specified banding is ambiguous)"
            )
        if num_hashes is None:
            from featureform_spark.functions.lsh_autosize import (
                auto_minhash_params,
            )

            num_hashes, bands = auto_minhash_params(
                self.accepted_count(),
                baseline_jaccard=self.baseline_jaccard,
            )
        new_params = dict(self.params, num_hashes=num_hashes, bands=bands)
        if new_params == self.params:
            return self.table.version()
        accepted = self.stored_buckets().select(self.id_col).distinct()
        src = docs.join(accepted, self.id_col, "left_semi")
        n_acc, n_src = accepted.count(), src.select(
            self.id_col
        ).distinct().count()
        if n_src < n_acc:
            raise ValueError(
                f"reband: doc source covers {n_src} of {n_acc} accepted "
                "ids — migrating would silently drop the rest from dedup"
            )
        new_buckets = lsh_band_buckets(
            src, self.id_col, self.text_col, **new_params
        )
        ver = self.table.overwrite(
            new_buckets,
            properties={
                **{f"lsh.{k}": str(p) for k, p in new_params.items()},
                "lsh.baseline_jaccard": repr(self.baseline_jaccard),
                # lets a later fixed-config constructor adopt the
                # migrated scheme instead of refusing
                "lsh.migrated": "true",
            },
        )
        self.params = new_params
        return ver


class ContinuousDedup:
    """End-to-end continuous dedup: a Delta documents table is the
    ingest feed; each ``refresh()`` reads ONLY the rows committed since
    the last processed version (the reference's CDF incremental
    contract — gate, overwrite rejection, version cursor — via
    ``incremental_records``) and runs them through the
    :class:`SignatureStore` flag/ingest lifecycle.

    Output of each refresh: ``[id_col, is_dup]`` for the batch. The
    version cursor persists next to the store so re-runs resume; the
    at-least-once caveat of the CDF path applies (a crash between
    flagging and cursor write reprocesses the batch — idempotent here,
    because a reprocessed clean doc collides only with its own buckets).
    """

    def __init__(self, source_table, store: SignatureStore, work_dir: str):
        from pathlib import Path

        self.source = source_table
        self.store = store
        self.work = Path(work_dir)
        self.work.mkdir(parents=True, exist_ok=True)
        self._cursor_file = self.work / "dedup_cursor.json"

    def _cursor(self) -> int:
        import json

        if self._cursor_file.exists():
            return json.loads(self._cursor_file.read_text())["last_version"]
        return -1

    def refresh(self) -> DataFrame | None:
        """Flag+ingest rows committed since the cursor; None when
        caught up."""
        import json

        last = self._cursor()
        latest = self.source.version()
        if latest <= last:
            return None
        changes = incremental_records(self.source, last)
        batch = changes.drop("_change_type", "_commit_version")
        flags = self.store.ingest(batch)
        self._cursor_file.write_text(json.dumps({"last_version": latest}))
        return flags
