"""Online serving plane: point lookups, chunked offline→online copy,
batched multi-feature serve, vector nearest-neighbor.

The reference's online stores are external KV systems (Redis/Dynamo/...,
provider/online.go:42-64) fed by a chunked materialization copy
(runner/materialize.go:101-231). Here the table plane has ONE
implementation, ``SqliteOnlineStore`` (serving/sqlite_store.py): on a
file it is the durable store that Spark executors write to directly
(the reference's DynamoDB direct-copy sink, S15), and on ``":memory:"``
it is the table plane of ``InMemoryOnlineStore``, which adds the vector
plane. ``materialize_to_online`` drains a materialization through the
driver in bounded chunks, one store transaction each; swapping in a
real KV client means reimplementing the store's table-plane methods.
"""

from __future__ import annotations

import math
from itertools import islice
from typing import Any, Iterable, Iterator

from pyspark.sql import DataFrame

from featureform_spark.functions.similarity import cosine_topk
from featureform_spark.serving.sqlite_store import SqliteOnlineStore

DEFAULT_ROWS_PER_CHUNK = 100_000  # reference provider/offline.go:46


def batched(rows: Iterable, size: int) -> Iterator[list]:
    """``rows`` in lists of ``size`` (the last may be shorter): the
    bounded batches a driver-side drain writes, one transaction each."""
    it = iter(rows)
    while batch := list(islice(it, size)):
        yield batch


class InMemoryOnlineStore(SqliteOnlineStore):
    """V1 + V3 table plane (the SQLite store on ``":memory:"``) plus
    the V4 vector plane: registered vector sets and their in-RAM ANN
    indexes. ``clock`` is the TTL clock (wall time by default); tests
    inject one so TTL checks don't sleep."""

    def __init__(self, clock=None):
        super().__init__(":memory:", clock)
        self._vectors: dict[str, DataFrame] = {}
        self._ann: dict[str, Any] = {}  # name -> IvfPqIndex | HnswIndex | ShardedHnsw
        self._frozen: set[str] = set()  # immutable vector spaces

    # -- vector plane ---------------------------------------------------------

    def register_vectors(self, name: str, df: DataFrame,
                         id_col: str = "vec_id", vec_col: str = "embedding") -> None:
        self._vectors[name] = df.select(
            df[id_col].alias("vec_id"), df[vec_col].alias("embedding")
        )

    def build_ann_index(self, name: str, algo: str = "ivfpq", **kw) -> None:
        """Build the in-RAM index for a registered vector set — the
        reference's embeddinghub shape (index built/held in the serving
        process, queries never run a storage job). ``algo``:
        ``"ivfpq"`` (IVFADC cells+codes), ``"hnsw"`` (the reference's
        actual hnswlib structure, numpy reimplementation), or
        ``"hnsw_sharded"`` (per-partition graphs built executor-side)."""
        if algo == "ivfpq":
            from featureform_spark.serving.ann_index import IvfPqIndex

            self._ann[name] = IvfPqIndex.build(self._vectors[name], **kw)
        elif algo == "hnsw":
            from featureform_spark.serving.hnsw_index import HnswIndex

            self._ann[name] = HnswIndex.build(self._vectors[name], **kw)
        elif algo == "hnsw_sharded":
            from featureform_spark.serving.hnsw_index import ShardedHnsw

            self._ann[name] = ShardedHnsw.build(self._vectors[name], **kw)
        else:
            raise ValueError(f"unknown ANN algo: {algo!r}")

    def add_vectors(self, name: str, ids: list, vectors: list) -> None:
        """Incremental write path: new vectors become queryable
        immediately (embeddinghub index add). Raises on a frozen
        space, like the reference's Set against an immutable version
        (embeddinghub/embeddingstore/server.cc:113-127)."""
        if name in self._frozen:
            raise PermissionError(
                f"Cannot write to immutable space: {name!r}"
            )
        self._ann[name].add(ids, vectors)

    def get_vector(self, name: str, vec_id: int) -> list[float] | None:
        """Point lookup of a stored embedding (embeddinghub Get,
        server.cc:98-111): answered from the in-RAM index when one is
        built, else a pruned filter on the registered DataFrame."""
        ix = self._ann.get(name)
        if ix is not None:
            return ix.get(vec_id)
        from pyspark.sql import functions as F

        row = (
            self._vectors[name]
            .filter(F.col("vec_id") == int(vec_id))
            .first()
        )
        return None if row is None else [float(x) for x in row["embedding"]]

    def is_frozen(self, name: str) -> bool:
        """Public frozen probe — Flight servers pass
        ``frozen=lambda: store.is_frozen(name)`` to ``register_index``
        so a store-side freeze also closes the wire write path."""
        return name in self._frozen

    def freeze_vectors(self, name: str) -> None:
        """FreezeSpace parity (embeddingstore/server.cc:82-96): the
        space becomes immutable — reads and Nearest() keep working,
        writes fail until the space is deleted and recreated."""
        if name not in self._vectors and name not in self._ann:
            raise KeyError(name)
        self._frozen.add(name)

    def delete_vector_space(self, name: str) -> None:
        """DeleteSpace parity (embeddingstore/server.cc:74-80)."""
        self._vectors.pop(name, None)
        self._ann.pop(name, None)
        self._frozen.discard(name)

    def nearest(
        self,
        name: str,
        vector: list[float],
        k: int,
        approximate: bool = False,
        nprobe: int = 8,
        **index_kw,
    ) -> list[tuple[Any, float]]:
        """V4: top-k neighbors (the reference's Nearest()).

        Exact mode runs the distributed cosine scan (one Spark job per
        call); ``approximate=True`` answers from the in-RAM index
        (IVFADC or HNSW, whichever :meth:`build_ann_index` built) in
        microseconds. Index-specific knobs pass through ``**index_kw``
        (``rerank`` for IVFADC, ``ef`` for HNSW — each index swallows
        the other's params). Approximate results carry L2 distances
        (lower = closer), exact results cosine scores.
        """
        allow = index_kw.pop("allow", None)
        if isinstance(allow, (list, tuple)):
            # the indexes dispatch on set/frozenset/dict vs callable, so a
            # bare id sequence must become a collection before forwarding
            allow = frozenset(allow)
        if approximate:
            return self._ann[name].query(
                vector, k=k, nprobe=nprobe, allow=allow, **index_kw
            )
        src_df = self._vectors[name]
        if allow is not None:
            from pyspark.sql import functions as F

            if isinstance(allow, (set, frozenset, list, tuple, dict)):
                # id collection: the isin predicate pushes into the scan
                src_df = src_df.filter(
                    F.col("vec_id").isin(list(allow))
                )
            else:
                # callable predicate (the form the indexes accept):
                # Arrow-batched, applied before the distributed top-k
                import pandas as pd
                from pyspark.sql.functions import pandas_udf

                fn = allow
                ok = pandas_udf(
                    lambda s: s.map(lambda i: bool(fn(int(i)))),
                    "boolean",
                )
                src_df = src_df.filter(ok(F.col("vec_id")))
        out = cosine_topk(src_df, vector, k)
        return [(r["vec_id"], r["score"]) for r in out.collect()]


def materialize_to_online(
    mat: DataFrame,
    store: SqliteOnlineStore,
    table: str,
    entity_col: str = "entity",
    value_col: str = "value",
    rows_per_chunk: int = DEFAULT_ROWS_PER_CHUNK,
) -> int:
    """V2: chunked offline→online copy, in one pass over ``mat``.

    Rows stream to the driver through ``toLocalIterator`` (bounded
    memory) and land ``rows_per_chunk`` at a time, one ``set_many``
    transaction per chunk. Returns the chunk count, which follows the
    reference: ceil(rows written / 100k), at least one.
    """
    # an empty materialization still deploys an (empty) table — serving
    # it returns misses, not "unknown table" (serving_cases.py "Empty")
    store.ensure_table(table)
    written = 0
    rows = mat.select(entity_col, value_col).toLocalIterator()
    for batch in batched(rows, rows_per_chunk):
        store.set_many(table, batch)
        written += len(batch)
    return max(1, math.ceil(written / rows_per_chunk))
