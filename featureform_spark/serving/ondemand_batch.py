"""Batch-scoring path for on-demand features (U2 at batch scale).

The reference executes on-demand features CLIENT-SIDE one row at a
time (/root/reference/client/src/featureform/register.py:4292-4360 —
the CLIENT_COMPUTED mode the serving path here mirrors). That shape
cannot score a materialization or training set: a million rows means
a million Python round-trips on one machine.

This module is the Spark-first upgrade SURVEY §2.8 names: the SAME
registered on-demand functions run over a DataFrame via
``mapInPandas`` — Arrow batches, executor-parallel — with the same
dependency semantics as serving (``client.features([...])`` resolves
precomputed features and other on-demand features, diamonds are
memoized per batch, cycles raise). The only difference a function
sees: ``client.features`` returns pandas Series aligned to the batch
instead of scalars. A function written with arithmetic operators
(``a / b``, ``(a - b).abs()``…) is therefore IDENTICAL in both paths
— numpy broadcasting does the vectorization; genuinely scalar-only
functions opt out with ``vectorized=False`` and are applied row-wise
inside the batch (still Arrow-shipped and executor-parallel, just not
SIMD).

Scale shape: zero shuffles — the input partitioning passes through
untouched; per-batch work is column arithmetic; dependency functions
are captured by cloudpickle into the mapInPandas closure (the same
transport the dill/cloudpickle submit boundary uses), so the registry
never round-trips through workers.
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame


class OnDemandCycleError(RuntimeError):
    """Raised when on-demand features form a dependency cycle — in
    serving (``serving.server``, which re-exports this class) and in
    batch scoring alike. Defined here, the lighter module executors
    unpickle."""


def _norm_ref(ref: Any) -> str:
    """'name' / 'name.variant' / ('name', 'variant') -> 'name.variant'."""
    if isinstance(ref, tuple):
        ref = f"{ref[0]}.{ref[1]}"
    if "." not in ref:
        ref = f"{ref}.default"
    return ref


def _bare(ref: Any) -> str:
    if isinstance(ref, tuple):  # ('name', 'variant') — serving accepts it
        ref = f"{ref[0]}.{ref[1]}"
    return _norm_ref(str(ref).removeprefix("ondemand/"))


class BatchOnDemandContext:
    """The ``client`` an on-demand fn receives in batch mode: resolves
    refs to pandas Series over the current Arrow batch. Precomputed
    feature refs read batch columns (``feature_cols`` maps ref →
    column; default: the feature's bare name); on-demand refs run
    their function recursively with per-batch memoization and cycle
    detection — one execution per diamond node per batch, mirroring
    the per-request memo of the serving path."""

    def __init__(
        self,
        fns: dict[str, tuple[Callable, bool]],
        pdf: pd.DataFrame,
        params: dict[str, Any],
        entities: dict[str, str],
        feature_cols: dict[str, str],
        unpicklable: frozenset[str] = frozenset(),
    ):
        self._fns = fns
        self._unpicklable = unpicklable
        self._pdf = pdf
        self.params = dict(params)
        # entity name -> Series of per-row entity values
        self.entities = {
            name: pdf[col] for name, col in entities.items()
        }
        self._feature_cols = feature_cols
        self._memo: dict[str, pd.Series] = {}
        self._stack: list[str] = []

    def features(
        self,
        refs: list[Any],
        entities: Any = None,
        params: dict[str, Any] | None = None,
    ) -> list[pd.Series]:
        if entities is not None or params is not None:
            raise ValueError(
                "batch on-demand functions resolve over the frame's own "
                "rows; per-call entity/params overrides are a serving-"
                "path (point-lookup) capability"
            )
        return [self.resolve(r) for r in refs]

    def resolve(self, ref: Any) -> pd.Series:
        bare = _bare(ref)
        if bare in self._memo:
            return self._memo[bare]
        if bare in self._unpicklable:
            raise RuntimeError(
                f"on-demand feature {bare!r} is registered but its "
                "function could not be serialized to executors (it "
                "closes over a SparkSession/DataFrame/lock?); rewrite "
                "it over client.features() inputs"
            )
        if bare in self._fns:
            if bare in self._stack:
                cyc = " -> ".join([*self._stack, bare])
                raise OnDemandCycleError(
                    f"on-demand feature dependency cycle: {cyc}"
                )
            fn, vectorized = self._fns[bare]
            self._stack.append(bare)
            try:
                if vectorized:
                    val = fn(self, self.params, self.entities)
                    if not isinstance(val, pd.Series):
                        n = len(self._pdf)
                        if (
                            not isinstance(val, (str, bytes, dict))
                            and hasattr(val, "__len__")
                            and len(val) == n
                        ):
                            # batch-length array/list: per-row values
                            # (a fn returning `a.values - b.values`
                            # must not broadcast the whole array into
                            # every row)
                            val = pd.Series(
                                list(val), index=self._pdf.index
                            )
                        else:
                            # constant-valued fn broadcasts
                            val = pd.Series(
                                [val] * n, index=self._pdf.index
                            )
                else:
                    val = self._apply_rowwise(fn)
            finally:
                self._stack.pop()
        else:
            col = self._feature_cols.get(bare, bare.split(".", 1)[0])
            if col not in self._pdf.columns:
                raise KeyError(
                    f"precomputed feature {bare!r} expects column "
                    f"{col!r} in the frame (have "
                    f"{sorted(self._pdf.columns)}); pass feature_cols "
                    "to map it"
                )
            val = self._pdf[col]
        self._memo[bare] = val
        return val

    def _apply_rowwise(self, fn: Callable) -> pd.Series:
        """vectorized=False fns see scalars: a row-view client whose
        ``features`` indexes the memoized Series at one position."""
        outer = self

        class _RowClient:
            def __init__(self, i: int):
                self._i = i
                self.params = outer.params
                self.entities = {
                    k: s.iloc[i] for k, s in outer.entities.items()
                }

            def features(self, refs, entities=None, params=None):
                return [outer.resolve(r).iloc[self._i] for r in refs]

        out = []
        for i in range(len(outer._pdf)):
            rc = _RowClient(i)
            out.append(fn(rc, outer.params, rc.entities))
        return pd.Series(out, index=outer._pdf.index)


def ondemand_batch(
    registry,
    df: DataFrame,
    features: list[str],
    params: dict[str, Any] | None = None,
    entities: dict[str, str] | None = None,
    feature_cols: dict[str, str] | None = None,
    types: dict[str, str] | None = None,
) -> DataFrame:
    """Append one column per on-demand feature to ``df``, computed
    executor-side over Arrow batches (see module docstring).

    - ``features``: on-demand refs (``name`` / ``name.variant``).
    - ``entities``: entity name → input column (what the fns see as
      per-row entity values).
    - ``feature_cols``: precomputed-feature ref → input column for
      dependencies resolved via ``client.features`` (default: the
      feature's bare name).
    - ``types``: output Spark type per ref (default ``double``).

    Output column names: the feature name, suffixed ``_<variant>``
    for non-default variants.
    """
    refs = [_bare(r) for r in features]
    if len(set(refs)) != len(refs):
        raise ValueError(f"duplicate on-demand refs: {features}")
    # capture EVERY registered on-demand fn: dependencies are resolved
    # dynamically inside the functions, so the reachable set is not
    # known statically. (fn, vectorized) pairs; cloudpickle ships them.
    # One unpicklable registered fn must not break unrelated features:
    # test-pickle each, exclude failures, and carry their NAMES so a
    # dependency hitting one raises a clear error executor-side (the
    # requested refs themselves fail fast here).
    import cloudpickle

    fns: dict[str, tuple[Callable, bool]] = {}
    unpicklable: set[str] = set()
    for key, fn in registry.functions_by_prefix("ondemand/").items():
        bare = key.removeprefix("ondemand/")
        res = registry.get("ondemand", bare)
        try:
            cloudpickle.dumps(fn)
        except Exception:
            unpicklable.add(bare)
            continue
        fns[bare] = (fn, getattr(res, "vectorized", True))
    bad = [r for r in refs if r in unpicklable]
    if bad:
        raise ValueError(
            f"on-demand features {bad} cannot be shipped to executors "
            "(their functions failed cloudpickle — closing over a "
            "SparkSession/DataFrame/lock?); rewrite them over "
            "client.features() inputs"
        )
    missing = [r for r in refs if r not in fns]
    if missing:
        raise KeyError(f"on-demand features not registered: {missing}")
    unpicklable_f = frozenset(unpicklable)

    fcols = {_bare(k): v for k, v in (feature_cols or {}).items()}
    ents = dict(entities or {})
    prms = dict(params or {})
    out_names = {}
    for r in refs:
        name, _, variant = r.partition(".")
        out_names[r] = name if variant == "default" else f"{name}_{variant}"
    clash = set(out_names.values()) & set(df.columns)
    if clash:
        raise ValueError(
            f"output columns {sorted(clash)} already exist in the frame"
        )
    ttypes = {_bare(k): v for k, v in (types or {}).items()}
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{out_names[r]}` {ttypes.get(r, 'double')}" for r in refs]
    )

    def score(batches):
        for pdf in batches:
            ctx = BatchOnDemandContext(
                fns, pdf, prms, ents, fcols, unpicklable_f
            )
            out = pdf.copy(deep=False)
            for r in refs:
                out[out_names[r]] = ctx.resolve(r)
            yield out

    return df.mapInPandas(score, schema=schema)
