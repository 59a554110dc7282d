"""Variant-versioned resource registry.

Collapses the reference's Go metadata plane (metadata/proto/metadata.proto:
SourceVariant :500-525, FeatureVariant :254-284, LabelVariant :344-370,
TrainingSetVariant :418-439, Entity :446-455) into in-process dataclasses
with JSON persistence. No gRPC, no etcd: the registry and the execution
engine share one SparkSession.

Identity is (type, name, variant) and resources are immutable: re-register
of an identical definition resolves to the existing variant (the reference
does structural equivalence, metadata/equivalence/equivalencer.go:10 — we
hash a canonical JSON serialization instead); re-register of a *different*
definition under the same (name, variant) raises.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field, asdict
from pathlib import Path
from typing import Callable, Optional

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# Locations (discriminated union, mirrors provider/location/location.go:24-31)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class FileLocation:
    """A file-store table: parquet/csv path, optionally directory-versioned."""

    path: str
    file_format: str = "parquet"  # parquet | csv | json
    kind: str = "file"


@dataclass(frozen=True)
class CatalogLocation:
    """A catalog table (Delta / Iceberg)."""

    table: str
    table_format: str = "delta"  # delta | iceberg
    kind: str = "catalog"


@dataclass(frozen=True)
class SQLLocation:
    """A Spark-catalog (or temp-view) table addressed by name."""

    table: str
    kind: str = "sql"


@dataclass(frozen=True)
class StreamLocation:
    """A stream source (Kafka topic)."""

    topic: str
    bootstrap_servers: str = ""
    kind: str = "stream"


@dataclass(frozen=True)
class JDBCLocation:
    """A JDBC-addressable warehouse table (Snowflake / BigQuery / Postgres
    — the reference's S6/S7 offline stores; provider/snowflake.go,
    provider/bigquery.go). Reads go through Spark's JDBC source with
    predicate pushdown + partitioned parallel reads; requires the vendor
    JDBC driver jar on the classpath (not shipped in this container)."""

    url: str
    table: str  # table name or "(subquery) alias"
    partition_column: str = ""
    num_partitions: int = 0
    driver: str = ""  # JDBC driver class; empty → DriverManager SPI lookup
    kind: str = "jdbc"


@dataclass(frozen=True)
class DataFrameLocation:
    """An in-process DataFrame registered directly (test/dev convenience)."""

    view: str
    kind: str = "dataframe"


@dataclass(frozen=True)
class DeltaPathLocation:
    """A REAL Delta Lake table addressed by filesystem path
    (sources/delta_protocol.py): read through the vendor connector when
    its jar is present (the reference's spark.read.format("delta"),
    offline_store_spark_runner.py:981-987), else through the in-repo
    implementation of the public Delta transaction protocol — JSON
    commit log + parquet checkpoints. ``version`` = VERSION AS OF."""

    path: str
    version: int | None = None
    kind: str = "delta"


@dataclass(frozen=True)
class IcebergPathLocation:
    """A REAL Apache Iceberg v2 table addressed by filesystem path
    (sources/iceberg_protocol.py): read through the vendor connector
    when its jar is present (the reference's IcebergSource scan,
    offline_store_spark_runner.py:966-980), else through the in-repo
    implementation of the public table format — metadata JSON + Avro
    manifest lists/manifests over parquet. ``snapshot_id`` = time
    travel."""

    path: str
    snapshot_id: int | None = None
    kind: str = "iceberg"


Location = (
    FileLocation | CatalogLocation | SQLLocation | StreamLocation
    | JDBCLocation | DataFrameLocation
    | DeltaPathLocation | IcebergPathLocation
)

_LOCATION_KINDS = {
    "file": FileLocation,
    "catalog": CatalogLocation,
    "delta": DeltaPathLocation,
    "iceberg": IcebergPathLocation,
    "sql": SQLLocation,
    "stream": StreamLocation,
    "jdbc": JDBCLocation,
    "dataframe": DataFrameLocation,
}


# ---------------------------------------------------------------------------
# Resources
# ---------------------------------------------------------------------------


@dataclass
class SourceVariant:
    """Primary table pointer OR transformation over other sources."""

    name: str
    variant: str = "default"
    # exactly one of:
    location: Optional[dict] = None          # primary: serialized Location
    sql: Optional[str] = None                # SQL transformation w/ {{n.v}} refs
    fn_name: Optional[str] = None            # DF transformation (python fn id)
    inputs: list[str] = field(default_factory=list)  # "name.variant" refs for fn
    timestamp_column: Optional[str] = None
    is_incremental: bool = False
    is_streaming: bool = False
    partition: Optional[dict] = None         # {"kind": "daily", "column": ts}
    owner: str = ""
    description: str = ""

    rtype: str = "source"


@dataclass
class FeatureVariant:
    """(entity_col, value_col, ts_col) projection of a source."""

    name: str
    variant: str = "default"
    source: str = ""                 # "name.variant"
    entity: str = ""                 # entity name (join-key namespace)
    entity_column: str = ""
    value_column: str = ""
    timestamp_column: Optional[str] = None
    value_type: str = "float64"
    computation_mode: str = "precomputed"  # precomputed | client_computed | streaming
    owner: str = ""
    description: str = ""

    rtype: str = "feature"

    def __post_init__(self) -> None:
        # the reference's no-ts configs say source_timestamp: ""
        # (client/tests/serving_cases.py) — treat empty as absent ONCE
        # here so every consumer (materialize, PIT, batch features)
        # agrees instead of each call site special-casing
        if not self.timestamp_column:
            self.timestamp_column = None


@dataclass
class LabelVariant:
    name: str
    variant: str = "default"
    source: str = ""
    entity: str = ""
    entity_column: str = ""
    # multi-entity support (metadata.proto EntityMappings :372-381)
    entity_mappings: list[dict] = field(default_factory=list)  # [{"entity":..., "column":...}]
    value_column: str = ""
    timestamp_column: Optional[str] = None
    value_type: str = "float64"
    owner: str = ""
    description: str = ""

    rtype: str = "label"

    def __post_init__(self) -> None:
        if not self.timestamp_column:  # "" == absent, as FeatureVariant
            self.timestamp_column = None


@dataclass
class LagFeature:
    """A lagged copy of a feature in a training set (offline.go:164-169)."""

    feature: str                      # "name.variant"
    lag_seconds: float
    output_name: str = ""

    def column_name(self) -> str:
        if self.output_name:
            return self.output_name
        base = self.feature.replace(".", "_")
        return f"{base}_lag_{int(self.lag_seconds)}s"


@dataclass
class TrainingSetVariant:
    name: str
    variant: str = "default"
    label: str = ""                   # "name.variant"
    features: list[str] = field(default_factory=list)
    lag_features: list[dict] = field(default_factory=list)
    # r12: on-demand feature refs resolved at BUILD time — the batch
    # mapInPandas scorer runs over the PIT output, so a training set
    # can carry client-computed features as real columns (the
    # reference only executes these at serve time,
    # client/src/featureform/register.py:4292-4360; batch-scoring the
    # training set is the Spark-native upgrade)
    ondemand_features: list[str] = field(default_factory=list)
    ts_type: str = "static"           # dynamic | static | view
    owner: str = ""
    description: str = ""

    rtype: str = "training_set"


@dataclass
class Entity:
    name: str
    variant: str = "default"
    description: str = ""

    rtype: str = "entity"


@dataclass
class OnDemandFeature:
    """Client-computed feature: a Python fn run at serve time (U2).

    ``vectorized`` declares whether the fn is written with
    broadcasting-safe operators (works on pandas Series exactly as on
    scalars — the default, and true of arithmetic-style fns); the
    batch scorer (serving/ondemand_batch.py) applies
    ``vectorized=False`` fns row-wise inside each Arrow batch."""

    name: str
    variant: str = "default"
    fn_name: str = ""
    description: str = ""
    vectorized: bool = True

    rtype: str = "ondemand"


Resource = (
    SourceVariant
    | FeatureVariant
    | LabelVariant
    | TrainingSetVariant
    | Entity
    | OnDemandFeature
)

_RESOURCE_TYPES: dict[str, type] = {
    "source": SourceVariant,
    "feature": FeatureVariant,
    "label": LabelVariant,
    "training_set": TrainingSetVariant,
    "entity": Entity,
    "ondemand": OnDemandFeature,
}


def _canonical_hash(res: Resource) -> str:
    blob = json.dumps(asdict(res), sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()


class VariantConflict(ValueError):
    pass


class Registry:
    """In-process resource graph with optional JSON persistence.

    Also holds the Python-function table for DF transformations and
    on-demand features (the reference dill-pickles these across process
    boundaries; in-process we store the callable directly and persist only
    its name).
    """

    def __init__(self, path: str | Path | None = None):
        self._resources: dict[str, Resource] = {}
        self._functions: dict[str, Callable] = {}
        self._dataframes: dict[str, DataFrame] = {}
        # data-quality rules keyed by "source_name.variant" — session
        # state like _functions/_dataframes (Rule conditions are live
        # Column expressions, deliberately not persisted)
        self._expectations: dict[str, list] = {}
        self._path = Path(path) if path else None
        if self._path and self._path.exists():
            self._load()

    # -- registration -------------------------------------------------------

    def register(self, res: Resource) -> Resource:
        key = f"{res.rtype}/{res.name}/{res.variant}"
        existing = self._resources.get(key)
        if existing is not None:
            if _canonical_hash(existing) == _canonical_hash(res):
                return existing  # idempotent re-register → existing variant
            raise VariantConflict(
                f"{key} already registered with a different definition; "
                "resources are immutable — register a new variant"
            )
        self._resources[key] = res
        self._save()
        return res

    def register_file(
        self,
        name: str,
        path: str,
        variant: str = "default",
        file_format: str = "parquet",
        timestamp_column: str | None = None,
    ) -> SourceVariant:
        return self.register(
            SourceVariant(
                name=name,
                variant=variant,
                location=asdict(FileLocation(path=path, file_format=file_format)),
                timestamp_column=timestamp_column,
            )
        )

    def register_dataframe(
        self, name: str, df: DataFrame, variant: str = "default"
    ) -> SourceVariant:
        view = f"__ff_df_{name}_{variant}"
        self._dataframes[view] = df
        return self.register(
            SourceVariant(
                name=name, variant=variant, location=asdict(DataFrameLocation(view=view))
            )
        )

    def register_sql_transformation(
        self, name: str, sql: str, variant: str = "default", **kw
    ) -> SourceVariant:
        return self.register(SourceVariant(name=name, variant=variant, sql=sql, **kw))

    def register_df_transformation(
        self,
        name: str,
        fn: Callable[..., DataFrame],
        inputs: list[str],
        variant: str = "default",
        **kw,
    ) -> SourceVariant:
        fn_name = f"{name}.{variant}"
        self._functions[fn_name] = fn
        return self.register(
            SourceVariant(name=name, variant=variant, fn_name=fn_name, inputs=inputs, **kw)
        )

    def register_pickled_transformation(
        self,
        name: str,
        blob: bytes,
        inputs: list[str],
        variant: str = "default",
        **kw,
    ) -> SourceVariant:
        """DF transformation from a pickled-function blob — the
        reference's submit-boundary wire format (dill bytes,
        offline_store_spark_runner.py:1139-1257). Rehydrates via
        ``plans.transport.load_function`` and registers like an
        in-process function."""
        from featureform_spark.plans.transport import load_function

        return self.register_df_transformation(
            name, load_function(blob), inputs, variant=variant, **kw
        )

    def register_ondemand(
        self,
        name: str,
        fn: Callable,
        variant: str = "default",
        vectorized: bool = True,
    ) -> OnDemandFeature:
        fn_name = f"ondemand/{name}.{variant}"
        self._functions[fn_name] = fn
        return self.register(
            OnDemandFeature(
                name=name,
                variant=variant,
                fn_name=fn_name,
                vectorized=vectorized,
            )
        )

    def register_expectations(self, source_ref: str, rules: list) -> None:
        """Attach data-quality rules (functions/expectations.Rule) to a
        registered source — enforced by Engine.enforce_expectations /
        reported by Engine.expectations_report before a materialize or
        training-set publish. Session-scoped like registered functions
        (rule conditions are live Column expressions)."""
        self.get("source", source_ref)  # must exist — fail fast
        name, _, variant = source_ref.partition(".")
        self._expectations[f"{name}.{variant or 'default'}"] = list(rules)

    def expectations(self, source_ref: str) -> list:
        name, _, variant = source_ref.partition(".")
        return self._expectations.get(
            f"{name}.{variant or 'default'}", []
        )

    # -- lookup --------------------------------------------------------------

    def get(self, rtype: str, ref: str) -> Resource:
        name, _, variant = ref.partition(".")
        variant = variant or "default"
        key = f"{rtype}/{name}/{variant}"
        if key not in self._resources:
            raise KeyError(f"unknown resource {key}")
        return self._resources[key]

    def function(self, fn_name: str) -> Callable:
        return self._functions[fn_name]

    def functions_by_prefix(self, prefix: str) -> dict[str, Callable]:
        """Registered functions whose key starts with ``prefix`` —
        e.g. ``'ondemand/'`` for the batch scorer, which must capture
        the full on-demand set (dependencies resolve dynamically
        inside the functions)."""
        return {
            k: f for k, f in self._functions.items()
            if k.startswith(prefix)
        }

    def dataframe(self, view: str) -> DataFrame:
        return self._dataframes[view]

    def dependencies(self, rtype: str, ref: str) -> list[tuple[str, str]]:
        """Direct upstream (rtype, ref) edges of a resource — the lineage
        graph the reference's metadata server maintains."""
        res = self.get(rtype, ref)
        deps: list[tuple[str, str]] = []
        if isinstance(res, SourceVariant):
            if res.sql:
                from featureform_spark.plans.templates import template_refs

                deps += [("source", r) for r in template_refs(res.sql)]
            deps += [("source", r) for r in res.inputs]
        elif isinstance(res, (FeatureVariant, LabelVariant)):
            deps.append(("source", res.source))
        elif isinstance(res, TrainingSetVariant):
            deps.append(("label", res.label))
            deps += [("feature", f) for f in res.features]
            deps += [("feature", lf["feature"]) for lf in res.lag_features]
        return deps

    def list(self, rtype: str | None = None) -> list[Resource]:
        return [
            r
            for k, r in sorted(self._resources.items())
            if rtype is None or r.rtype == rtype
        ]

    # -- persistence ----------------------------------------------------------

    def _save(self) -> None:
        if not self._path:
            return
        payload = {
            k: {"rtype": r.rtype, **asdict(r)} for k, r in self._resources.items()
        }
        self._path.parent.mkdir(parents=True, exist_ok=True)
        self._path.write_text(json.dumps(payload, indent=1, sort_keys=True, default=str))

    def _load(self) -> None:
        payload = json.loads(self._path.read_text())
        for key, rec in payload.items():
            cls = _RESOURCE_TYPES[rec.pop("rtype")]
            self._resources[key] = cls(**rec)
