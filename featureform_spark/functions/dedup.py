"""Deduplication operators for training-data pipelines.

Three tiers, all shuffle-frugal and oracle-replicable:

- **exact**: one hash-groupBy on the content fingerprint — one shuffle,
  map-side combine; the canonical keep is min(id).
- **MinHash + LSH**: shingle → k min-hashes → b bands → bucket join.
  The "random permutations" are lexicographic minima of
  ``md5(shingle || '#seed_i')`` — md5 hex strings order identically in
  every engine, so the whole pipeline (signature, banding, candidate
  pairs, exact-Jaccard verify) is reproducible by the DuckDB oracle.
  Scale shape: candidate generation is a self-equi-join on band keys
  (hash join, no n² blowup); exact verification touches only candidates.
- **SimHash**: 32-bit fingerprint from per-token md5 hex digits — near-dup
  buckets via exact fingerprint match (or prefix bands at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from featureform_spark.functions.lsh_autosize import (
    auto_minhash_params,
    estimate_baseline_jaccard,
)
from featureform_spark.functions.text import tokens_expr


def _resolve_banding(
    num_hashes, bands, count_fn, j_fn=None
) -> tuple[int, int]:
    """Both explicit -> use them; both None -> auto-size from the
    corpus count (and, r12, the SAMPLE-ESTIMATED baseline Jaccard via
    ``j_fn`` — the 0.05 design constant was the last heuristic in the
    occupancy model; see lsh_autosize.estimate_baseline_jaccard);
    HALF-specified -> refuse loudly (silently replacing the one the
    caller did pass with an auto value would change results without a
    trace — banding is one scheme, not two knobs)."""
    if num_hashes is not None and bands is not None:
        return num_hashes, bands
    if num_hashes is None and bands is None:
        if j_fn is not None:
            return auto_minhash_params(
                count_fn(), baseline_jaccard=j_fn()
            )
        return auto_minhash_params(count_fn())
    raise ValueError(
        "specify BOTH num_hashes and bands or NEITHER (auto); got "
        f"num_hashes={num_hashes!r}, bands={bands!r}"
    )


def _shingles_of(toks: Column, n: int) -> Column:
    """Shingles from an already-computed token array. Pass an attribute
    (projected column), not an expression: slice(toks, …) sits inside
    the transform lambda, where codegen CSE cannot deduplicate — an
    inline tokens expression would re-split the text once per shingle
    index (O(n²) per doc)."""
    sh = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    # Spark's sequence(0, negative) counts DOWN — guard short docs to an
    # empty shingle set (DuckDB's range() is already empty there)
    return F.when(F.size(toks) >= n, sh).otherwise(
        F.array().cast("array<string>")
    )


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized content: one row per distinct text,
    keeping the lowest id; ``dup_count`` = group size."""
    fp = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, shingle) rows, per-doc distinct — the shared front end of
    minhash/LSH/Jaccard.

    Tokenization stays the JVM ``tokens_expr`` (byte-identical to the
    oracle's regexp); the slide-join-dedup runs in an Arrow kernel that
    emits exploded rows directly. The HOF formulation charged one
    interpreted ``array_join(slice(...))`` lambda PER SHINGLE (~1M
    calls at sf0.1) — the kernel produces identical strings (same
    single-space join of the same token slices), so every downstream
    md5 is unchanged. Docs are spread across cores BEFORE the kernel: a
    doc corpus often arrives as few dense files, and the shingle×hash
    work downstream is ~100× the cost of shuffling the raw text.
    """
    import pandas as pd

    n = shingle_n

    def gen(batches):
        for pdf in batches:
            ids: list = []
            shs: list = []
            for i, toks in zip(pdf[id_col].values, pdf["__toks"]):
                if toks is None:  # NULL text: explode(NULL) drops the row
                    continue
                t = list(toks)
                if len(t) < n:
                    continue
                seen = set()
                for j in range(len(t) - n + 1):
                    s = " ".join(t[j : j + n])
                    if s not in seen:
                        seen.add(s)
                        ids.append(i)
                        shs.append(s)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="object"),
                    "shingle": pd.Series(shs, dtype="object"),
                }
            )

    id_type = dict(df.dtypes)[id_col]
    return (
        df.repartition(F.col(id_col))
        .withColumn("__toks", tokens_expr(text_col))
        .select(id_col, "__toks")
        .mapInPandas(gen, schema=f"{id_col} {id_type}, shingle string")
    )


MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def _with_hash_halves(ex: DataFrame) -> DataFrame:
    """Project the two 32-bit halves of md5(shingle) as real columns:
    24 aggregate update expressions referencing the digest inline would
    each recompute md5+conv per row (aggregate codegen has no CSE
    across update functions); attributes evaluate once."""
    h = F.md5(F.col("shingle"))
    return ex.withColumns(
        {
            "__h1": F.conv(F.substring(h, 1, 8), 16, 10).cast("long"),
            "__h2": F.conv(F.substring(h, 9, 8), 16, 10).cast("long"),
        }
    )


def _minhash_agg_exprs(num_hashes: int) -> list:
    """k min() aggregates from ONE md5 per shingle via double hashing
    (Kirsch-Mitzenmacher): h_i = (h1 + i*h2) mod P with h1/h2 the two
    32-bit halves of md5(shingle) (see _with_hash_halves). 24 hash
    functions cost one digest + 24 integer fma-mods instead of 24
    digests — and the signature shuffles as longs, not 32-char
    strings."""
    h1, h2 = F.col("__h1"), F.col("__h2")
    return [
        F.min((h1 + F.lit(i) * h2) % F.lit(MINHASH_P)).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 24,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig_0..sig_{k-1}): k integer minhashes over the distinct
    shingle set.

    One explode + one groupBy (k min() aggregates, map-side combined).
    Documents with no shingles (shorter than n words) are dropped, same
    as a null signature.
    """
    ex = _with_hash_halves(_exploded_shingles(df, id_col, text_col, shingle_n))
    return ex.groupBy(id_col).agg(*_minhash_agg_exprs(num_hashes))


def lsh_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = 24,
    bands: int | None = 8,
    shingle_n: int = 3,
    n_rows: int | None = None,
    baseline_jaccard: float | None = None,
) -> DataFrame:
    """(id, bucket) — one row per document per LSH band; ``bucket`` is
    ``"<band>:" || md5(band signature slice)``. Two docs are near-dup
    *candidates* iff they share ≥1 bucket. This is the persistable half
    of the LSH pipeline: a signature store keeps exactly these rows
    (bands, not raw shingles), so incremental dedup of a new batch is a
    bucket equi-join against the store.

    ``num_hashes=None`` / ``bands=None`` auto-sizes both from the
    corpus row count (see :mod:`lsh_autosize` — the 100-TB knob; pass
    ``n_rows`` to skip the count job) and the sample-estimated
    background Jaccard (``baseline_jaccard=None`` -> measured from a
    deterministic md5 sample; pass a float to pin it). NOTE: persisted
    signature stores must pin explicit values — a store written at one
    banding cannot be joined against buckets computed at another."""
    num_hashes, bands = _resolve_banding(
        num_hashes,
        bands,
        lambda: n_rows if n_rows is not None else df.count(),
        j_fn=(
            (lambda: baseline_jaccard)
            if baseline_jaccard is not None
            else (
                lambda: estimate_baseline_jaccard(
                    df, id_col, text_col, shingle_n
                )
            )
        ),
    )
    rows_per_band = num_hashes // bands
    sig = (
        _with_hash_halves(_exploded_shingles(df, id_col, text_col, shingle_n))
        .groupBy(id_col)
        .agg(*_minhash_agg_exprs(num_hashes))
    )
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band_{b}"))
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.concat(F.lit(f"{b}:"), F.col(f"band_{b}")) for b in range(bands)
            ])
        ).alias("bucket"),
    )


def incremental_lsh_flags(
    new_docs: DataFrame,
    store_buckets: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 24,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Flag each new-batch document as a near-dup CANDIDATE of the
    already-accepted corpus: ``[id_col, is_dup]``, one row per new doc,
    ``is_dup = 1`` iff the doc shares ≥1 LSH band bucket with any stored
    doc.

    This is the continuous-ingestion shape of MinHash dedup: the
    historical corpus is represented only by its band buckets (8 rows ×
    ~40 bytes per doc — ~0.3 KB/doc regardless of document size), so
    the store for a billion accepted docs is a few hundred GB that
    bucket-partitions cleanly; the per-batch cost is one explode over
    the batch plus one equi-join against the store — never a rescan of
    the corpus text. Candidate semantics (no exact-Jaccard verify)
    because the store holds no shingles; at the default banding the
    false-positive rate is the LSH s-curve's, and callers needing exact
    verification keep text for flagged docs only.
    """
    nb = lsh_band_buckets(new_docs, id_col, text_col, num_hashes, bands, shingle_n)
    hits = (
        nb.join(
            store_buckets.select(F.col("bucket")).distinct(),
            "bucket",
            "left_semi",
        )
        .select(id_col)
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        new_docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__hit"), F.lit(0)).cast("long").alias("is_dup"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    n_rows: int | None = None,
    baseline_jaccard: float | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH + exact-Jaccard verification.

    1. signature (k minhashes) per doc;
    2. band keys: md5 over each band's signature slice → candidate pairs
       = docs sharing ≥1 band bucket (equi-join on band key — the scale
       path: no pairwise comparison outside buckets);
    3. exact shingle-set Jaccard on candidates only; keep >= threshold.

    Output: (id_a, id_b, jaccard) with id_a < id_b.

    Banding AUTO-SIZES from the corpus row count by default
    (``num_hashes=None, bands=None`` — pass ``n_rows`` to skip the
    count job): rows-per-band grows logarithmically so the per-doc
    false-candidate rate stays flat as the corpus grows, and bands
    track the s-curve at design threshold 0.5 (see
    :mod:`lsh_autosize`). Under ~64k docs the derivation reproduces
    the long-pinned (24 hashes, 8 bands × 3 rows) exactly: corpora
    with a shared small vocabulary have baseline pair similarity
    ~0.04, and r=2 bands would admit ~j² · pairs false candidates —
    the verify join, not the signatures, is what explodes. r=3 keeps
    the candidate rate at j=0.04 near 8·6e-5 while missing <1% of
    true 0.77-Jaccard near-dups; at 500k docs the same budget needs
    r=4 (b=16, k=64), which the auto path picks.

    r12: the background Jaccard the occupancy model divides by is no
    longer the pinned 0.05 constant — ``baseline_jaccard=None``
    measures it from a deterministic md5 sample of THIS corpus
    (lsh_autosize.estimate_baseline_jaccard; median exact pairwise
    word-shingle Jaccard; bounded cost — a 512-doc LIMIT scan plus
    ~131k small set intersections driver-side, ~1s). Pass a float to
    pin it. The PINNED suite rows pass explicit banding and never
    reach the estimator; the ``*_auto`` rows deliberately DO run it
    every invocation — that is the path they exist to exercise, and
    its floors reproduce the pinned params at driver/parity sf so the
    same oracles apply exactly.
    """
    num_hashes, bands = _resolve_banding(
        num_hashes,
        bands,
        lambda: n_rows if n_rows is not None else df.count(),
        j_fn=(
            (lambda: baseline_jaccard)
            if baseline_jaccard is not None
            else (
                lambda: estimate_baseline_jaccard(
                    df, id_col, text_col, shingle_n
                )
            )
        ),
    )
    buckets = lsh_band_buckets(df, id_col, text_col, num_hashes, bands, shingle_n)
    # candidate pairs by grouping each bucket's member list instead of a
    # bucket self-join: the join formulation evaluated the ENTIRE
    # signature pipeline (text shuffle + shingle kernel + k-min
    # aggregation + banding) once per side — exchange reuse does not
    # fire across the join's python-kernel subtrees. One groupBy over
    # the (id, bucket) rows (8 rows/doc) computes the same id<id pairs
    # from each bucket's sorted member list; per-bucket pair volume is
    # exactly the join's candidate volume, so nothing new explodes.
    ids_sorted = F.sort_array(F.collect_list(F.col(id_col)))
    grouped = (
        buckets.groupBy("bucket")
        .agg(ids_sorted.alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("_ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    )
    candidates = (
        grouped.select(pair.alias("_p"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .distinct()
    )

    # exact-Jaccard verify on candidates only, via per-doc shingle ARRAYS:
    # joining candidates to an exploded (id, shingle) table first
    # materializes |candidates| x |shingles/doc| rows before the
    # intersection trims them — the one super-linear intermediate in the
    # pipeline (measured 14x wall time at 10x corpus). The array form is
    # a zero-shuffle projection of the corpus; the candidate set (already
    # distinct, LSH-small) broadcast-joins against it, and
    # array_intersect counts the same distinct-shingle integers, so the
    # Jaccard doubles are bit-identical.
    sets = df.withColumn("__toks", tokens_expr(text_col)).select(
        F.col(id_col),
        F.array_distinct(_shingles_of(F.col("__toks"), shingle_n)).alias("_sh"),
    )
    a_sets = sets.select(
        F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa")
    )
    b_sets = sets.select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb")
    )
    jacc = (
        candidates.join(a_sets, "id_a")
        .join(b_sets, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sa", "_sb")).alias("n_inter"),
            F.size("_sa").alias("n_a"),
            F.size("_sb").alias("n_b"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    return jacc.filter(F.col("jaccard") >= jaccard_threshold)


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """32-bit SimHash fingerprint as a '0'/'1' string.

    Bit j of a token = LSB of hex digit j of md5(token); fingerprint bit
    j = sign of the ±1 sum over tokens (with multiplicity). Exploding
    tokens once and summing 32 small ints per row keeps everything in
    whole-stage codegen — no 32× row blowup, one groupBy.
    """
    assert bits <= 32
    tok = df.repartition(F.col(id_col)).select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("token")
    ).withColumn("h", F.md5(F.col("token")))
    # instr() via expr: the PySpark wrapper only takes a literal needle
    digit = lambda j: F.expr(
        f"instr('0123456789abcdef', substring(h, {j + 1}, 1)) - 1"
    )
    sums = tok.groupBy(id_col).agg(
        *[
            F.sum((digit(j) % 2) * 2 - 1).alias(f"v_{j}")
            for j in range(bits)
        ]
    )
    bit_str = F.concat(
        *[
            F.when(F.col(f"v_{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(bits)
        ]
    )
    return sums.select(F.col(id_col), bit_str.alias("simhash"))


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """End-to-end near-dup removal: keep one representative per
    duplicate cluster, untouched docs pass through.

    ``pairs`` is any near-dup pair set (e.g. ``minhash_lsh_pairs``
    output). Pairs are clustered transitively via
    ``connected_components`` (min-id label), and every doc whose
    cluster label differs from its own id is dropped — so each cluster
    survives exactly once, as its minimum-id member, and docs that
    appear in no pair are kept as-is.

    Scale shape: the clustering runs on the *pair* graph (tiny vs the
    corpus); the corpus-sized step is one left-anti hash join against
    the loser set — broadcastable whenever dup volume is small, and a
    plain shuffled anti join otherwise. No corpus self-join anywhere.
    """
    from featureform_spark.functions.graph import connected_components

    # pairs usually carry an expensive lineage (LSH bucket join +
    # Jaccard verify) — materialize once rather than evaluate twice
    clusters = connected_components(
        pairs.select(F.col(pair_a).alias("a"), F.col(pair_b).alias("b")),
        "a",
        "b",
        materialize_edges=True,
    )
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("__loser")
    )
    return df.join(
        losers, df[id_col] == losers["__loser"], "left_anti"
    )


def dedup_blocks(
    df: DataFrame,
    block_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-block dedup: split every document into
    non-overlapping ``block_tokens``-token blocks; any block text that
    occurs more than once corpus-wide (across documents OR repeated
    within one) survives only at its first occurrence in
    ``(doc_id, block_idx)`` order, and documents are reassembled from
    their surviving blocks.

    This is the block-quantized form of the ExactSubstr dedup from the
    public "Deduplicating Training Data Makes Language Models Better"
    recipe (suffix-array exact dedup): the suffix array finds arbitrary
    repeated spans; quantizing to fixed token blocks makes the same
    removal a pair of hash shuffles — no suffix structure, so it shards
    on any cluster size.

    Returns ``[id_col, text_clean, n_kept, n_blocks]`` — one row per
    input document (a fully-duplicated document keeps its row with
    ``text_clean = ''``).

    Scale shape: tokenize/posexplode/slice are narrow codegen
    expressions; one shuffle groups by block text (at 100 TB swap the
    group key for ``xxhash64(btext)``+verify to keep shuffle rows
    narrow), one shuffle reassembles by doc id. First-occurrence choice
    is a ``min(struct(doc_id, block_idx))`` — partial-aggregated, no
    window over the full block table.
    """
    from featureform_spark.functions.text import tokens_expr

    B = int(block_tokens)
    if B < 1:
        raise ValueError(f"block_tokens must be >= 1, got {block_tokens}")
    base = df.select(
        F.col(id_col), tokens_expr(text_col).alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    # the explicit isnotnull matches the filter the final left join
    # infers on the probe side — without it the two consumers of the
    # btext shuffle canonicalize differently and ReusedExchange cannot
    # fire. Null-id rows never produce blocks (they could never win a
    # first-occurrence contest the reassembly join can see anyway).
    blocks = (
        base.filter((F.col("__n") > 0) & F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(
                F.sequence(
                    F.lit(0), F.expr(f"int((__n + {B - 1}) div {B}) - 1")
                )
            ).alias("bid"),
        )
        .select(
            F.col(id_col),
            F.col("bid").cast("long").alias("bid"),
            F.array_join(
                F.slice(F.col("__toks"), F.col("bid").cast("int") * B + 1, B), " "
            ).alias("btext"),
        )
    )
    # one explicit hash shuffle on btext feeds BOTH the winner aggregate
    # chain and the join probe side (ReusedExchange) — the block
    # pipeline (tokenize + explode + slice) runs once, not once per
    # consumer. HashPartitioning(btext) satisfies the (btext, doc)
    # grouping too, so the two-level aggregate adds no second exchange.
    blocksp = blocks.repartition(F.col("btext"))
    # min(struct(d, b)) compiles to SortAggregate (struct buffers are
    # not hash-aggregable); split into per-(btext, doc) min(bid) then
    # per-btext (min(doc), min_by) — all-long buffers, HashAggregate
    # at every level. Equivalence with the lexicographic struct min:
    # level-1 keys are unique, so min_by has no ties, min(doc) is the
    # struct's first field winner, and min_by(min bid, doc) is the
    # minimum bid within that doc — exactly min(struct(d, b)).
    winners = (
        blocksp.groupBy("btext", id_col)
        .agg(F.min("bid").alias("__b"))
        .groupBy("btext")
        .agg(
            F.struct(
                F.min(F.col(id_col)).alias("d"),
                F.min_by(F.col("__b"), F.col(id_col)).alias("b"),
            ).alias("__w")
        )
    )
    kept_flag = (F.col(id_col) == F.col("__w.d")) & (F.col("bid") == F.col("__w.b"))
    marked = blocksp.join(winners, "btext").select(
        F.col(id_col), "bid", "btext", kept_flag.alias("__keep")
    )
    agg = marked.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(F.col("bid"), F.col("btext")),
                        )
                    )
                ),
                lambda s: s["btext"],
            ),
        ).alias("text_clean"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.count(F.lit(1)).alias("n_blocks"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("n_blocks"), F.lit(0)).cast("long").alias("n_blocks"),
        )
    )


def dedup_substrings(
    df: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_shuffle: bool = False,
) -> DataFrame:
    """True ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): any ``min_tokens``-token span
    whose text occurs more than once corpus-wide is removed everywhere
    except its first ``(doc_id, pos)`` occurrence — INCLUDING duplicated
    spans that straddle fixed block boundaries, which the block-quantized
    ``dedup_blocks`` misses. No suffix array: every token position emits
    one rolling ``min_tokens``-token shingle, so alignment never matters.

    Mechanics: one shuffle groups shingles by text (winner =
    ``min(struct(doc, pos))`` — partial-aggregated, no global window);
    every non-winner occurrence of a duplicated shingle marks its L
    covered token positions; one doc-keyed shuffle collects the marked
    starts, and a codegen fold merges them into intervals, complements
    against ``[0, n)``, and reassembles the kept text — O(n + intervals)
    per doc, never O(n x dups).

    Returns ``[id_col, text_clean, n_kept, n_tokens]`` — one row per
    input document; ``n_kept`` counts surviving tokens.

    Scale shape: the shingle table is one row per token position (~same
    cardinality as the token stream); the mark table is bounded by
    duplicate volume; the doc-side reassembly is a single groupBy. No
    corpus self-join, no window over the shingle table.

    ``hash_shuffle=True`` is the 100-TB form: the shingle shuffle
    carries ``xxhash64(stext)`` (8 bytes) instead of the ~50-byte
    shingle text — the dominant shuffle drops ~6x in bytes. Two
    distinct shingles colliding on 64 bits (~n²/2⁶⁴ — vanishing until
    corpora reach ~10¹⁰ distinct shingles) would be treated as
    duplicates of each other; the exact form is the default.
    """
    from featureform_spark.functions.text import tokens_expr

    L = int(min_tokens)
    if L < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    base = df.select(
        F.col(id_col), tokens_expr(text_col).alias("__toks")
    ).withColumn("__n", F.size("__toks").cast("long"))
    stext = F.array_join(
        F.slice(F.col("__toks"), F.col("pos").cast("int") + 1, L), " "
    )
    skey = F.xxhash64(stext) if hash_shuffle else stext
    # explicit isnotnull aligns the shuffle subtree's canonical form
    # with the probe side (the final left join infers it there) so the
    # stext exchange is reused instead of recomputed — see dedup_blocks
    sh = (
        base.filter((F.col("__n") >= L) & F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("__n") - L)
            ).alias("pos"),
        )
        .select(
            F.col(id_col),
            F.col("pos"),
            skey.alias("stext"),
        )
    )
    # same shape as dedup_blocks above: one explicit btext-keyed
    # shuffle shared by the winner chain and the join probe
    # (ReusedExchange — the shingle pipeline runs once), and the
    # SortAggregate-inducing min(struct) split into two all-long
    # HashAggregate levels (level-1 keys unique → min_by tie-free,
    # (min doc, min pos within it) ≡ lexicographic struct min;
    # count(1) becomes the sum of per-doc counts)
    shp = sh.repartition(F.col("stext"))
    g = (
        shp.groupBy("stext", id_col)
        .agg(F.min("pos").alias("__p"), F.count(F.lit(1)).alias("__c"))
        .groupBy("stext")
        .agg(
            F.sum("__c").alias("__cnt"),
            F.struct(
                F.min(F.col(id_col)).alias("d"),
                F.min_by(F.col("__p"), F.col(id_col)).alias("p"),
            ).alias("__w"),
        )
    )
    dup = (
        shp.join(g, "stext")
        .filter(
            (F.col("__cnt") > 1)
            & ~(
                (F.col(id_col) == F.col("__w.d"))
                & (F.col("pos") == F.col("__w.p"))
            )
        )
        .select(F.col(id_col), F.col("pos"))
    )
    starts = dup.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("__starts")
    )
    joined = base.join(starts, id_col, "left").withColumn(
        "__starts", F.coalesce(F.col("__starts"), F.array().cast("array<long>"))
    )
    # merge sorted fixed-length-L intervals [s, s+L): successor end is
    # always >= predecessor end, so merging only extends the tail
    iv_t = "array<struct<a:bigint,b:bigint>>"
    merged = F.aggregate(
        F.col("__starts"),
        F.expr(f"cast(array() as {iv_t})"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["b"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["a"].alias("a"),
                        (s + F.lit(L)).cast("long").alias("b"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        s.cast("long").alias("a"),
                        (s + F.lit(L)).cast("long").alias("b"),
                    )
                ),
            )
        ),
    )
    # complement of the removed intervals within [0, n) = kept spans
    kept = F.aggregate(
        merged,
        F.struct(
            F.lit(0).cast("long").alias("cur"),
            F.expr(f"cast(array() as {iv_t})").alias("ivs"),
        ),
        lambda acc, iv: F.struct(
            iv["b"].alias("cur"),
            F.when(
                iv["a"] > acc["cur"],
                F.concat(
                    acc["ivs"],
                    F.array(
                        F.struct(
                            acc["cur"].alias("a"), iv["a"].alias("b")
                        )
                    ),
                ),
            )
            .otherwise(acc["ivs"])
            .alias("ivs"),
        ),
        lambda acc: F.when(
            F.col("__n") > acc["cur"],
            F.concat(
                acc["ivs"],
                F.array(
                    F.struct(acc["cur"].alias("a"), F.col("__n").alias("b"))
                ),
            ),
        ).otherwise(acc["ivs"]),
    )
    out = joined.withColumn("__kept", kept).select(
        F.col(id_col),
        F.concat_ws(
            " ",
            F.flatten(
                F.transform(
                    F.col("__kept"),
                    lambda iv: F.slice(
                        F.col("__toks"),
                        (iv["a"] + 1).cast("int"),
                        (iv["b"] - iv["a"]).cast("int"),
                    ),
                )
            ),
        ).alias("text_clean"),
        F.aggregate(
            F.col("__kept"),
            F.lit(0).cast("long"),
            lambda acc, iv: acc + (iv["b"] - iv["a"]),
        ).alias("n_kept"),
        F.col("__n").alias("n_tokens"),
    )
    return out


def cross_doc_line_dedup(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = ". ",
    min_docs: int = 3,
):
    """C4-style CROSS-document boilerplate removal: a line/sentence
    appearing in >= ``min_docs`` DISTINCT documents is corpus
    boilerplate (nav bars, license footers, cookie banners) and is
    stripped from every document; within-doc repeats of a surviving
    line are untouched (that is dedup_sentences' job). Returns
    ``(id, clean_text, n_lines, n_removed)`` preserving original
    line order.

    Scale shape: two corpus passes — one line-keyed partial-agg
    groupBy discovering the boilerplate set (small by construction:
    lines crossing the threshold), then one broadcast marker join
    feeding a SINGLE doc-keyed groupBy that computes clean_text,
    totals and removals together (no per-doc re-join, no third
    pass). Nothing is quadratic and no Python runs; the line
    split/reassembly expressions mirror text.py's dedup_sentences
    and must stay in lockstep (both oracle-checked).
    """
    import re

    parts = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), re.escape(sep), -1)
        ).alias("pos", "line"),
    )
    boiler = (
        parts.groupBy("line")
        .agg(F.countDistinct(id_col).alias("__ndocs"))
        .filter(
            (F.col("__ndocs") >= min_docs) & (F.length("line") > 0)
        )
        .select("line", F.lit(True).alias("__boiler"))
    )
    marked = parts.join(F.broadcast(boiler), "line", "left")
    # one pass: a fully-boilerplate document still comes back (empty
    # clean_text, everything removed)
    return marked.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.struct("pos", "line", "__boiler")
                        )
                    ),
                    lambda s: s["__boiler"].isNull(),
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_lines"),
        F.sum(F.col("__boiler").isNotNull().cast("long")).alias(
            "n_removed"
        ),
    ).select(id_col, "clean_text", "n_lines", "n_removed")


def dedup_report_by_source(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source duplication/contamination rollup — the hygiene
    scorecard a corpus-curation pass reads BEFORE deciding which
    sources to dedup, down-weight, or drop:

    (source, n_docs, n_unique_texts, n_dup_docs, n_cross_source_dup,
    dup_rate) where ``n_dup_docs`` counts docs whose exact
    fingerprint (md5 of lower/trimmed text — same normalization as
    :func:`dedup_exact`) appears on MORE THAN ONE doc corpus-wide,
    and ``n_cross_source_dup`` counts docs whose fingerprint also
    appears under a DIFFERENT source — the cross-source contamination
    that silently double-weights content when sources are mixed with
    per-source temperatures. NULL-text docs form their own
    ``__null__`` class. ``dup_rate`` is the one final double division
    (IEEE / is bit-exact cross-engine).

    Scale shape — partial aggregations only, never a corpus-wide
    window: groupBy(fingerprint, source) with map-side combine, a
    second groupBy at FINGERPRINT cardinality for corpus totals, an
    equi-join back at that same cardinality, then the per-source fold
    at source cardinality. No self-join on docs, no window over the
    corpus."""
    fp = F.when(F.col(text_col).isNull(), F.lit("__null__")).otherwise(
        F.md5(F.lower(F.trim(F.col(text_col))))
    )
    per_src = (
        df.select(
            fp.alias("fingerprint"), F.col(group_col).alias("source")
        )
        .groupBy("fingerprint", "source")
        .agg(F.count(F.lit(1)).alias("n_here"))
    )
    totals = per_src.groupBy("fingerprint").agg(
        F.sum("n_here").alias("n_total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    j = per_src.join(totals, ["fingerprint"])
    return (
        j.groupBy("source")
        .agg(
            F.sum("n_here").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique_texts"),
            F.sum(
                F.when(F.col("n_total") > 1, F.col("n_here")).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup_docs"),
            F.sum(
                F.when(F.col("n_sources") > 1, F.col("n_here")).otherwise(
                    F.lit(0)
                )
            ).alias("n_cross_source_dup"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique_texts",
            "n_dup_docs",
            "n_cross_source_dup",
            (
                F.col("n_dup_docs").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
    )
