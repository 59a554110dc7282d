"""Metadata-scale local DataFrames via the Arrow path.

``spark.createDataFrame(list_of_tuples, schema)`` is python-RDD-backed:
every job that evaluates it — including the build side of a broadcast
join — launches python workers, a constant ~0.3-4 s per job in local
mode (measured on local[32]; the cost repeats per action because the
RDD re-evaluates). pandas-backed frames convert through Arrow into a
LocalRelation evaluated entirely JVM-side (~100x less constant cost).

The table-format protocol readers build many small file-metadata
frames (sequence numbers, partition tuples, row-id info) that
broadcast-join against scans — this helper routes them through Arrow.
Integer columns are widened to pandas' nullable Int64 first so None
entries (absent baseRowId etc.) survive the Arrow conversion instead
of tripping the silent non-Arrow fallback (which would re-create the
python-RDD path this helper exists to avoid). Falls back to the list
path for anything pandas can't represent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_INTISH = {"long", "bigint", "int", "integer", "short", "smallint", "tinyint"}
_FLOATISH = {"double", "float", "real"}


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Build a small DataFrame from python rows through Arrow.

    ``schema`` is a flat DDL string ("a string, b long") or a flat
    StructType; nested types fall back to the plain list path.
    """
    import pandas as pd

    rows = list(rows)  # a generator must survive the Arrow attempt
    # failing over to the plain path (re-iterating an exhausted one
    # would silently yield an empty frame)
    try:
        if isinstance(schema, T.StructType):
            names = [f.name for f in schema.fields]
            kinds = [f.dataType.simpleString() for f in schema.fields]
        else:
            parts = [p.strip() for p in str(schema).split(",")]
            names = [p.split()[0] for p in parts]
            kinds = [p.split(None, 1)[1].strip().lower() for p in parts]
        pdf = pd.DataFrame(rows, columns=names)
        for n, k in zip(names, kinds):
            if k in _INTISH:
                pdf[n] = pdf[n].astype("Int64")
            elif k in _FLOATISH:
                pdf[n] = pdf[n].astype("float64")
            elif k == "string":
                pdf[n] = pdf[n].astype("object")
            elif k == "boolean":
                pdf[n] = pdf[n].astype("boolean")
            elif k.startswith("array<"):
                # lists of scalars convert cleanly through Arrow as
                # object cells (verified: LocalRelation, exact float
                # bits); deeper nesting still exits via the fallback
                pdf[n] = pdf[n].astype("object")
            else:  # nested/exotic type: let the fallback handle it
                raise ValueError(k)
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


def position_df(
    spark: SparkSession, positions: dict, file_col: str, pos_col: str
) -> DataFrame:
    """(data file, row position) rows of ``positions`` — {absolute
    path: integer array}, e.g. decoded deletion vectors — as one
    JVM-side frame through Arrow, cardinality-scale."""
    import pandas as pd

    return spark.createDataFrame(
        pd.concat(
            [
                pd.DataFrame({file_col: p, pos_col: pos.astype("int64")})
                for p, pos in sorted(positions.items())
            ],
            ignore_index=True,
        ),
        f"{file_col} string, {pos_col} long",
    )
