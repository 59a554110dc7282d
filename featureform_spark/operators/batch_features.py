"""Batch features: N feature materializations aligned on entity (J8).

Reference: chained FULL OUTER JOINs with COALESCE'd entity keys
(provider/spark.go:392-422). Spark-first: the same semantics is a single
shuffle — union all materializations tagged with their feature index and
``groupBy(entity)`` with ``max_by``-style per-feature aggregation — instead
of N-1 chained shuffles whose intermediate entity sets keep re-shuffling.
Catalyst does map-side partial aggregation, so each feature table is
combined locally before a single exchange on entity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def batch_features(
    materializations: dict[str, DataFrame],
    entity_col: str = "entity",
    value_col: str = "value",
    out_entity: str = "entity",
) -> DataFrame:
    """Full-outer alignment of latest feature values on entity.

    ``materializations``: {feature_name: df(entity, value)}. Each input is
    expected to be one row per entity (a materialization); if not, the max
    value wins deterministically.
    """
    names = list(materializations)
    parts = []
    for name, df in materializations.items():
        parts.append(
            df.select(
                F.col(entity_col).alias(out_entity),
                *[
                    (F.col(value_col) if n == name else F.lit(None).cast(
                        df.schema[value_col].dataType
                    )).alias(n)
                    for n in names
                ],
            )
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p, allowMissingColumns=False)
    return unioned.groupBy(out_entity).agg(
        *[F.max(n).alias(n) for n in names]
    )
