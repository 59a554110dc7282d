"""Feature server facade: the reference's serving API surface
(serving/serving.go FeatureServe/TrainingData) as one in-process object.

Combines:
- precomputed features: online-store point lookups (V1/V3);
- on-demand features: registered Python callables evaluated at serve
  time with (params, entity) like the reference's CLIENT_COMPUTED mode
  (U2, register.py:4292-4360);
- vector features: nearest() top-k (V4);
- training data: Dataset iterator over a training set (V5).
"""

from __future__ import annotations

import inspect
from typing import Any, Callable

from pyspark.sql import DataFrame

from featureform_spark.plans.engine import Engine
from featureform_spark.serving.dataset import Dataset
from featureform_spark.serving.ondemand_batch import OnDemandCycleError, _norm_ref
from featureform_spark.serving.online import InMemoryOnlineStore, materialize_to_online


def _ondemand_key(ref: str) -> str:
    return "ondemand/" + _norm_ref(ref.removeprefix("ondemand/"))


def _is_client_style(fn: Callable) -> bool:
    """Reference-style on-demand fns are declared
    ``def f(client, params, entities)`` (register.py:4292-4360); the
    legacy in-repo style is ``f(params, entity, precomputed)``."""
    try:
        first = next(iter(inspect.signature(fn).parameters))
    except (TypeError, ValueError, StopIteration):
        return False
    return first == "client"


class OnDemandContext:
    """The ``client`` argument a reference-style on-demand feature
    receives: ``client.features([...], entities)`` resolves OTHER
    features from inside the fn — precomputed ones from the online
    store, on-demand ones by running their functions — with
    per-request memoization (a diamond dependency runs once) and cycle
    detection (mirrors the client-side recursion of the reference's
    CLIENT_COMPUTED mode, register.py:4292-4360)."""

    def __init__(
        self,
        server: "FeatureServer",
        entities: dict[str, Any],
        params: dict[str, Any],
        default_entity: Any = None,
    ):
        self._server = server
        self.entities = dict(entities)
        self.params = dict(params)
        self._default_entity = default_entity
        self._memo: dict[str, Any] = {}
        self._stack: list[str] = []

    def features(
        self,
        refs: list[Any],
        entities: dict[str, Any] | None = None,
        params: dict[str, Any] | None = None,
    ) -> list[Any]:
        ents = dict(entities) if entities is not None else self.entities
        prms = dict(params) if params is not None else self.params
        if ents == self.entities and prms == self.params:
            return [self.resolve(r) for r in refs]
        # different entity set or params: a fresh sub-request (no memo
        # share — values are entity- and params-specific)
        sub = OnDemandContext(
            self._server, ents, prms, default_entity=self._default_entity
        )
        sub._stack = self._stack  # cycles span sub-requests too
        return [sub.resolve(r) for r in refs]

    def resolve(self, ref: Any) -> Any:
        ref = _norm_ref(ref)
        srv = self._server
        reg = srv.engine.registry
        bare = ref.removeprefix("ondemand/")
        is_od = ref.startswith("ondemand/")
        if not is_od:
            try:
                reg.get("ondemand", bare)
                is_od = True
            except KeyError:
                pass
        # canonical memo key: 'ondemand/x' and 'x' are the same feature
        memo_key = f"ondemand/{bare}" if is_od else bare
        if memo_key in self._memo:
            return self._memo[memo_key]
        if is_od:
            if bare in self._stack:
                cyc = " -> ".join([*self._stack, bare])
                raise OnDemandCycleError(
                    f"on-demand feature dependency cycle: {cyc}"
                )
            fn = reg.function(f"ondemand/{bare}")
            self._stack.append(bare)
            try:
                if _is_client_style(fn):
                    val = fn(self, self.params, self.entities)
                else:
                    val = fn(self.params, self._default_entity, [])
            finally:
                self._stack.pop()
        else:
            val = srv._point_lookup(ref, self._default_entity, self.entities)
        self._memo[memo_key] = val
        return val


class FeatureServer:
    def __init__(self, engine: Engine, store: InMemoryOnlineStore | None = None):
        self.engine = engine
        self.store = store or InMemoryOnlineStore()
        self._deployed: set[str] = set()

    # -- deployment ----------------------------------------------------------

    def deploy_feature(self, feature_ref: str) -> int:
        """Materialize + copy to the online store; returns chunk count."""
        feature_ref = _norm_ref(feature_ref)  # 'name' == 'name.default'
        mat = self.engine.materialize(feature_ref)
        chunks = materialize_to_online(mat, self.store, feature_ref)
        self._deployed.add(feature_ref)
        return chunks

    def deploy_vectors(self, name: str, df: DataFrame,
                       id_col: str = "vec_id", vec_col: str = "embedding") -> None:
        self.store.register_vectors(name, df, id_col, vec_col)

    # -- serving --------------------------------------------------------------

    def serve(
        self,
        features: list[str],
        entity: Any = None,
        params: dict[str, Any] | None = None,
        entities: dict[str, Any] | None = None,
    ) -> list[Any]:
        """Order-preserving multi-feature serve.

        ``ondemand/name.variant`` refs run their registered Python
        function: reference-style fns (first param named ``client``,
        register.py:4292-4360) get ``(client, params, entities)`` where
        ``client.features([...])`` resolves precomputed AND other
        on-demand features with memoization + cycle detection; legacy
        fns get ``(params, entity, <values so far>)``. ``entities``
        maps entity names to values (the reference's dict form);
        positional ``entity`` remains the single-entity shorthand.
        """
        ents = dict(entities) if entities else {}
        ctx = OnDemandContext(self, ents, params or {}, default_entity=entity)
        out: list[Any] = []
        for ref in features:
            if ref.startswith("ondemand/"):
                fn = self.engine.registry.function(_ondemand_key(ref))
                if _is_client_style(fn):
                    out.append(ctx.resolve(ref))
                else:
                    out.append(fn(params or {}, entity, list(out)))
            else:
                out.append(self._point_lookup(ref, entity, ents))
        return out

    def _point_lookup(
        self, ref: str, entity: Any, entities: dict[str, Any]
    ) -> Any:
        ref = _norm_ref(ref)
        if ref not in self._deployed:
            raise KeyError(f"feature {ref} not deployed; call deploy_feature")
        ent = entity
        if ent is None:
            fv = self.engine.registry.get("feature", ref)
            if fv.entity in entities:
                ent = entities[fv.entity]
            elif len(entities) == 1:
                ent = next(iter(entities.values()))
            else:
                raise KeyError(
                    f"no entity value for {ref} (entity '{fv.entity}' "
                    f"not in {sorted(entities)})"
                )
        return self.store.get(ref, ent)

    def nearest(self, name: str, vector: list[float], k: int) -> list[tuple[Any, float]]:
        return self.store.nearest(name, vector, k)

    def training_data(self, ts_ref: str) -> Dataset:
        return Dataset(self.engine.training_set(ts_ref))
