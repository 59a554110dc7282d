"""File-level data skipping for raw parquet directories (zone maps).

Directory-partitioned layouts give Spark partition pruning for free,
but many lakes hold large *unpartitioned* parquet directories where a
selective predicate still scans every file. Table formats solve this
with file statistics (Delta/Iceberg manifests); this module provides
the same skip for plain parquet: a one-pass, distributed footer scan
builds a manifest of per-file min/max/null-count per column, and reads
consult it to open only files whose [min, max] range intersects the
predicate.

Scale notes: footer reads are distributed via ``mapInPandas`` over the
file list (each executor reads only metadata — a few KB per file, no
row groups), so building the manifest over a 100 TB directory touches
no data. The manifest itself is tiny (one row per file) and is
collected to the driver only to compose the pruned file list — the
same thing Delta's log replay does.

Reference parity: featureform reads whole directories newest-first
(provider/spark.go:336-345) with no statistics; this is beyond-
reference scale work.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("column", T.StringType()),
        T.StructField("min_val", T.StringType()),
        T.StructField("max_val", T.StringType()),
        T.StructField("null_count", T.LongType()),
        T.StructField("kind", T.StringType()),  # numeric | string | other
    ]
)


def _kind(bounds) -> str:
    """Zone-map kind of a folded column: only fully-covered numeric and
    string stats are prunable. bool is an int subclass but float('True')
    crashes; temporal stats stringify non-comparably — both are
    'other' (never pruned on)."""
    if bounds is None:
        return "uncovered"  # some row group lacked usable stats
    lo = bounds[0]
    if isinstance(lo, bool):
        return "other"
    if isinstance(lo, (int, float)):
        return "numeric"
    return "string" if isinstance(lo, str) else "other"


def _footer_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Read parquet footers (metadata only) for a batch of file paths."""
    from featureform_spark.sources.staged_write import fold_footer

    for pdf in batches:
        rows = []
        for path in pdf["file"]:
            rec = fold_footer(path)
            for name, c in rec.columns.items():
                lo, hi = c.bounds or (None, None)
                rows.append(
                    {
                        "file": path,
                        "n_rows": rec.rows,
                        "column": name,
                        "min_val": str(lo),
                        "max_val": str(hi),
                        "null_count": c.nulls or 0,
                        "kind": _kind(c.bounds),
                    }
                )
        yield pd.DataFrame(
            rows, columns=[f.name for f in MANIFEST_SCHEMA.fields]
        )


def build_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Distributed footer scan → (file, column, min, max, nulls) manifest."""
    listing = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .select(F.regexp_replace("path", "^file:", "").alias("file"))
    )
    n = max(listing.count() // 64, 1)
    return listing.repartition(n).mapInPandas(_footer_stats, MANIFEST_SCHEMA)


def prune_files(
    manifest_pdf: pd.DataFrame,
    column: str,
    lo=None,
    hi=None,
) -> list[str]:
    """Files whose [min, max] for ``column`` intersects [lo, hi].

    Conservative by construction: files with no statistics row for the
    column, rows marked 'uncovered' (some row group lacked stats), and
    non-comparable kinds (bool/temporal/'other') are ALL kept — pruning
    only ever acts on fully-covered numeric (float compare) or string
    (str compare) stats.
    """
    all_files = manifest_pdf["file"].unique().tolist()
    stats = manifest_pdf[manifest_pdf["column"] == column]
    covered = set(stats["file"])
    keep = [f for f in all_files if f not in covered]
    for _, r in stats.iterrows():
        if r["kind"] == "numeric":
            mn, mx = float(r["min_val"]), float(r["max_val"])
            lo_c = float(lo) if lo is not None else None
            hi_c = float(hi) if hi is not None else None
        elif r["kind"] == "string":
            mn, mx = r["min_val"], r["max_val"]
            lo_c = str(lo) if lo is not None else None
            hi_c = str(hi) if hi is not None else None
        else:
            keep.append(r["file"])
            continue
        if (lo_c is None or mx >= lo_c) and (hi_c is None or mn <= hi_c):
            keep.append(r["file"])
    return keep


def read_pruned(
    spark: SparkSession,
    path: str,
    column: str,
    lo=None,
    hi=None,
    manifest: pd.DataFrame | None = None,
) -> DataFrame:
    """Range-filtered read that opens only stat-intersecting files.

    The exact predicate is still applied (file skip is a superset
    guarantee); row-group-level pushdown inside kept files remains
    Spark's own.
    """
    pdf = manifest if manifest is not None else build_manifest(spark, path).toPandas()
    files = prune_files(pdf, column, lo, hi)
    if not files:
        base = spark.read.parquet(path).limit(0)
        df = base
    else:
        df = spark.read.parquet(*files)
    col = F.col(column)
    if lo is not None:
        df = df.filter(col >= lo)
    if hi is not None:
        df = df.filter(col <= hi)
    return df
