"""Exact corpus-wide heavy hitters with bounded shuffle.

The classic two-pass frequent-items recipe (Misra–Gries / mergeable
summaries, Agarwal et al. PODS'12; Spark ships the Karp–Shenker–
Papadimitriou variant JVM-side as ``df.stat.freqItems``):

- **Pass 1 — candidates**: ``freqItems`` keeps a fixed ``1/support``-slot
  counter map per task and merges them; every item with frequency
  > support·N is guaranteed to survive (false positives possible, false
  negatives not). Output volume is O(1/support) TOTAL, independent of
  corpus size — at 100 TB the candidate set is still a broadcast.
- **Pass 2 — exact verify**: one broadcast semi-join narrows the corpus
  to candidate items, then a partial-aggregated groupBy counts them
  exactly and keeps ``count >= ceil(min_frac * N)``.

Output is EXACT (the oracle is a plain GROUP BY ... HAVING), but the
full-item shuffle a naive groupBy-over-everything would do is replaced
by (#map-tasks x #candidates) partial rows — the difference between
shuffling a 100 TB n-gram explosion and shuffling kilobytes.

``support`` must be strictly below ``min_frac`` (default ``min_frac/2``,
floored at Spark's 1e-4 minimum): the superset guarantee is strict
(freq > support·N), so an item sitting exactly on ``min_frac·N`` is only
covered when support < min_frac.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from featureform_spark.functions.text import tokens_expr


def frequent_items(
    df: DataFrame,
    item_col: str,
    min_frac: float,
    support: float | None = None,
    out_count_col: str = "cnt",
    total: DataFrame | None = None,
) -> DataFrame:
    """Items of ``df[item_col]`` occurring in >= ceil(min_frac * N) rows.

    Fully declarative — no driver-side collect; the candidate list and
    the total-count row both flow through broadcasts. ``total`` lets the
    caller supply the 1-row item count (column ``_n``) from a cheaper
    plan than re-scanning ``df`` (e.g. sum(size(grams)) instead of a
    second explode).

    freqItems' counter map does an O(map-size) retraction whenever it
    fills, so a low-parallelism input degenerates to
    O(uniques x 1/support) on one core — callers should make sure ``df``
    has real parallelism before the item stream is generated (see
    frequent_ngrams).
    """
    if support is None:
        support = max(1e-4, min_frac / 2)
    if not support < min_frac:
        raise ValueError(
            f"support ({support}) must be < min_frac ({min_frac}) for the "
            "candidate superset guarantee to cover the threshold boundary"
        )
    candidates = df.stat.freqItems([item_col], support).select(
        F.explode(F.col(f"{item_col}_freqItems")).alias(item_col)
    )
    if total is None:
        total = df.agg(F.count(F.lit(1)).alias("_n"))
    counts = (
        df.join(F.broadcast(candidates), item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias(out_count_col))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(
            F.col(out_count_col) >= F.ceil(F.lit(float(min_frac)) * F.col("_n"))
        )
        .select(item_col, out_count_col)
    )


def local_candidates(
    items: DataFrame, item_col: str, min_frac: float
) -> DataFrame:
    """Exact heavy-hitter candidate pass, fully parallel, no shuffle.

    Weighted pigeonhole: if an item's GLOBAL frequency is >= f, then in
    at least one partition its LOCAL frequency is >= f (if c_i < f*n_i
    for every partition i, then sum(c_i) < f*N). So emitting, per
    partition, every item with local_count >= f * local_items yields a
    guaranteed superset of the global >=f items — with no global count,
    no driver-side merge, and at most 1/f candidates per partition.
    Each partition's counting is one Arrow-batched pandas value_counts
    fold; output volume is O(P/f) rows total, broadcastable at any
    corpus size because rows-per-partition (not corpus size) bounds the
    local work.

    This replaces df.stat.freqItems for the n-gram path: freqItems'
    Karp-Shenker-Papadimitriou counter map does an O(1/support)
    retraction per overflowing insert and merges all task maps ON THE
    DRIVER — O(tasks / support^2) serial work that dominated the query.
    """
    return (
        _local_candidates_with_total(items, item_col, min_frac)
        .filter(F.col(item_col).isNotNull())
        .select(item_col)
        .distinct()
    )


def _local_candidates_with_total(
    items: DataFrame, item_col: str, min_frac: float
) -> DataFrame:
    """``local_candidates``'s kernel, additionally emitting ONE sentinel
    row per partition (NULL item, ``_ln`` = that partition's item
    count) so a single pass yields both the candidate superset and the
    exact global total (sum of sentinels) — the third corpus pass the
    r12 shape spent on ``sum(size(grams))`` disappears. Output:
    ``(item, _ln)`` with ``_ln`` NULL on candidate rows."""
    import pandas as pd

    def gen(batches):
        from collections import Counter

        counts: Counter = Counter()
        n_local = 0
        for pdf in batches:
            vc = pdf[item_col].value_counts()
            n_local += int(vc.sum())
            for k, v in vc.items():
                counts[k] += int(v)
        keep = [k for k, v in counts.items() if v >= min_frac * n_local]
        yield pd.DataFrame(
            {
                item_col: pd.Series(keep + [None], dtype="object"),
                "_ln": pd.Series(
                    [None] * len(keep) + [n_local], dtype="Int64"
                ),
            }
        )

    return items.mapInPandas(gen, schema=f"{item_col} string, _ln long")


def ngrams_expr(toks: Column, n: int, sep: str = " ") -> Column:
    """Token n-grams as an array column — pure JVM expression, no UDF.

    Formulated as a chain of ``zip_with`` over shifted slices (gram_j =
    toks[j..j+c]) instead of per-element ``element_at`` indexing — the
    sliced zip runs ~5x faster because each step is a sequential array
    walk rather than repeated random lookups through the HOF
    interpreter. Documents shorter than ``n`` tokens yield an empty
    array (every slice is empty, so the zip is too); all slices have
    exactly ``c = size - (n-1)`` elements otherwise, so zip_with never
    null-pads."""
    c = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, c)
    for j in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, 1 + j, c),
            lambda a, b: F.concat(a, F.lit(sep), b),
        )
    # slice/zip_with propagate NULL input; honor the "empty array for
    # short docs" contract for NULL text too (size(NULL) is -1 under
    # non-ANSI Spark, which would corrupt sum(size(...)) totals).
    return F.coalesce(out, F.array().cast("array<string>"))


def frequent_ngrams(
    df: DataFrame,
    n: int = 3,
    min_frac: float = 2e-4,
    text_col: str = "text",
    support: float | None = None,
) -> DataFrame:
    """Corpus-wide frequent token n-grams — the boilerplate/template
    detector of LLM data pipelines (repeated headers, license blocks,
    navigation chrome show up as heavy-hitter n-grams).

    The n-gram explode runs twice (candidate pass + verify pass) but
    never shuffles: both scans are map-side until the bounded aggregates.
    Output: ``(ngram, cnt)``.

    When the input arrives in fewer splits than the cluster has cores
    (the single-small-file case; at real scale the scan already has
    thousands of splits) the raw documents are repartitioned FIRST —
    a doc-sized shuffle — so the n-gram stream and freqItems' counter
    maps run map-side parallel instead of serializing one giant
    retraction loop on a single core.

    r13 (two corpus passes, down from three): the candidate kernel
    emits a per-partition sentinel row carrying its exact item count;
    ONE single-row aggregate folds sentinels into the global total and
    candidates into a set, which explodes back into (candidate, total)
    rows for a broadcast HASH join — each verified occurrence gets the
    candidate check AND the total in one O(1) probe. The r12 shape
    evaluated the tokenize+ngram pipeline a third time for
    ``sum(size(grams))``; the r12-rejected one-pass attempt needed a
    localCheckpoint (whose materialization cost sank it) because total
    and candidates were separate consumers of the kernel — the
    single-row fold has exactly one consumer, so nothing needs
    pinning. (A broadcast map-in-a-row probe was measured and
    rejected: Spark's GetMapValue is a linear scan, not a hash
    lookup.)
    """
    if support is not None:
        # explicit-support callers keep the freqItems sketch path
        items = df.select(
            F.explode(ngrams_expr(tokens_expr(text_col), n)).alias("ngram")
        )
        return frequent_items(items, "ngram", min_frac, support)

    # Plan-side split probe (inputFiles, not df.rdd) shared with the
    # other CPU-bound per-row kernels.
    from featureform_spark.functions.parallel import fan_out_if_underparallel

    df = fan_out_if_underparallel(df)
    grams = df.select(ngrams_expr(tokens_expr(text_col), n).alias("_g"))
    items = grams.select(F.explode(F.col("_g")).alias("ngram"))
    cand_plus = _local_candidates_with_total(items, "ngram", min_frac)
    # Bound of the single-row fold below: a partition keeps only items
    # with a local count >= min_frac x its item count, so it emits at
    # most 1/min_frac candidates, and the one collect_set row holds at
    # most P/min_frac distinct n-grams for P partitions of ``items``
    # (min_frac=0.001 over 200 partitions: <= 200,000 strings, a few
    # MB). It is folded by one task and must fit one row (< 2 GB), so
    # a very small min_frac over very many partitions is where this
    # shape stops scaling.
    cands = (
        cand_plus.agg(
            F.sum("_ln").alias("_n"),
            F.collect_set("ngram").alias("_ca"),  # skips sentinel NULLs
        ).select(F.explode("_ca").alias("ngram"), "_n")
    )
    counts = (
        items.join(F.broadcast(cands), "ngram")
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"), F.first("_n").alias("_n"))
    )
    return (
        counts.filter(
            F.col("cnt") >= F.ceil(F.lit(float(min_frac)) * F.col("_n"))
        )
        .select("ngram", "cnt")
    )
