"""Batch on-demand scoring (U2 at batch scale, r11 verdict task #5).

The same registered on-demand functions must produce the same values
through three paths: the pandas-level context (unit), mapInPandas over
a DataFrame (integration), and the per-row serving path (parity) —
the last being the reference's CLIENT_COMPUTED semantics
(register.py:4292-4360).
"""

import pandas as pd
import pytest

from featureform_spark.plans.engine import Engine
from featureform_spark.registry import FeatureVariant, Registry
from featureform_spark.serving.ondemand_batch import (
    BatchOnDemandContext,
    OnDemandCycleError,
    ondemand_batch,
)
from featureform_spark.serving.server import FeatureServer


def _fns(calls=None):
    calls = calls if calls is not None else {}

    def ratio(client, params, entities):
        calls["ratio"] = calls.get("ratio", 0) + 1
        a, b = client.features(["total_spend", "n_orders"])
        return a / b

    def score(client, params, entities):
        # diamond: score -> {ratio, n_orders}, ratio -> n_orders
        calls["score"] = calls.get("score", 0) + 1
        r, n = client.features(["ondemand/ratio", "n_orders"])
        return r * 0.5 + n * 2.0

    return ratio, score, calls


# ------------------------------------------------------------ unit level


def _ctx(pdf, fns):
    return BatchOnDemandContext(fns, pdf, {}, {}, {})


def test_context_vectorized_diamond_memoized():
    ratio, score, calls = _fns()
    pdf = pd.DataFrame(
        {"total_spend": [100.0, 90.0], "n_orders": [4, 3]}
    )
    ctx = _ctx(
        pdf,
        {"ratio.default": (ratio, True), "score.default": (score, True)},
    )
    out = ctx.resolve("score")
    assert list(out) == [100.0 / 4 * 0.5 + 8.0, 90.0 / 3 * 0.5 + 6.0]
    # ratio ran ONCE for the whole batch even though score and a direct
    # resolve both need it
    assert ctx.resolve("ratio").tolist() == [25.0, 30.0]
    assert calls == {"ratio": 1, "score": 1}


def test_context_cycle_detected():
    def a(client, params, entities):
        return client.features(["ondemand/b"])[0]

    def b(client, params, entities):
        return client.features(["ondemand/a"])[0]

    ctx = _ctx(
        pd.DataFrame({"x": [1.0]}),
        {"a.default": (a, True), "b.default": (b, True)},
    )
    with pytest.raises(OnDemandCycleError, match="a.default -> b.default"):
        ctx.resolve("a")


def test_batch_cycle_is_the_serving_cycle_error():
    """One cycle error for serving and batch scoring: a caller that
    catches ``serving.server.OnDemandCycleError`` also catches a cycle
    found by ``BatchOnDemandContext``."""
    from featureform_spark.serving import server

    def a(client, params, entities):
        return client.features(["ondemand/a"])[0]

    ctx = _ctx(pd.DataFrame({"x": [1.0]}), {"a.default": (a, True)})
    with pytest.raises(server.OnDemandCycleError):
        ctx.resolve("a")


def test_context_rowwise_fn_sees_scalars():
    def bucket(client, params, entities):
        (r,) = client.features(["ondemand/ratio"])
        return "high" if r > params["cutoff"] else "low"

    ratio, _, _ = _fns()
    ctx = BatchOnDemandContext(
        {"ratio.default": (ratio, True), "bucket.default": (bucket, False)},
        pd.DataFrame({"total_spend": [100.0, 9.0], "n_orders": [4, 3]}),
        {"cutoff": 10.0},
        {},
        {},
    )
    assert ctx.resolve("bucket").tolist() == ["high", "low"]


def test_context_missing_column_is_loud():
    ctx = _ctx(pd.DataFrame({"x": [1.0]}), {})
    with pytest.raises(KeyError, match="feature_cols"):
        ctx.resolve("nope")


# ------------------------------------------------------------ Spark level


def test_ondemand_batch_appends_columns(spark):
    reg = Registry()
    ratio, score, _ = _fns()
    reg.register_ondemand("ratio", ratio)
    reg.register_ondemand("score", score)
    df = spark.createDataFrame(
        [(1, 100.0, 4), (2, 90.0, 3)],
        "custkey long, total_spend double, n_orders long",
    )
    out = ondemand_batch(reg, df, ["ratio", "score"]).orderBy("custkey")
    rows = out.collect()
    assert out.columns == [
        "custkey", "total_spend", "n_orders", "ratio", "score"
    ]
    assert [r["ratio"] for r in rows] == [25.0, 30.0]
    assert [r["score"] for r in rows] == [20.5, 21.0]


def test_ondemand_batch_rowwise_and_types(spark):
    reg = Registry()
    ratio, _, _ = _fns()

    def bucket(client, params, entities):
        (r,) = client.features(["ondemand/ratio"])
        return "high" if r > params["cutoff"] else "low"

    reg.register_ondemand("ratio", ratio)
    reg.register_ondemand("bucket", bucket, vectorized=False)
    df = spark.createDataFrame(
        [(1, 100.0, 4), (2, 9.0, 3)],
        "custkey long, total_spend double, n_orders long",
    )
    out = ondemand_batch(
        reg, df, ["bucket"], params={"cutoff": 10.0},
        types={"bucket": "string"},
    ).orderBy("custkey")
    assert [r["bucket"] for r in out.collect()] == ["high", "low"]


def test_ondemand_batch_guards(spark):
    reg = Registry()
    ratio, _, _ = _fns()
    reg.register_ondemand("ratio", ratio)
    df = spark.createDataFrame(
        [(1, 100.0, 4, 0.0)],
        "custkey long, total_spend double, n_orders long, ratio double",
    )
    with pytest.raises(ValueError, match="already exist"):
        ondemand_batch(reg, df, ["ratio"])
    with pytest.raises(KeyError, match="not registered"):
        ondemand_batch(reg, df.drop("ratio"), ["missing"])
    with pytest.raises(ValueError, match="duplicate"):
        ondemand_batch(reg, df.drop("ratio"), ["ratio", "ratio.default"])


# ------------------------------------------------------------ serve parity


def test_batch_matches_perrow_serving_path(spark):
    """The done-criterion: DAG-resolved batch scoring equals the
    per-row serving path value-for-value on the same registry."""
    reg = Registry()
    eng = Engine(spark, reg)
    src = spark.createDataFrame(
        [("a", 100.0), ("b", 90.0), ("c", 7.0)], ["entity", "value"]
    )
    reg.register_dataframe("src", src)
    reg.register(FeatureVariant(
        name="base_value", source="src.default", entity="user",
        entity_column="entity", value_column="value",
        timestamp_column=""))

    def doubled(client, params, entities):
        (base,) = client.features(["base_value.default"])
        return base * 2

    def shifted(client, params, entities):
        d, b = client.features(
            ["ondemand/doubled.default", "base_value.default"]
        )
        return d + b * 0.25

    reg.register_ondemand("doubled", doubled)
    reg.register_ondemand("shifted", shifted)

    srv = FeatureServer(eng)
    srv.deploy_feature("base_value.default")
    want = {
        e: srv.serve(
            ["ondemand/doubled.default", "ondemand/shifted.default"],
            entity=e,
        )
        for e in ("a", "b", "c")
    }

    batch_in = eng.materialize("base_value.default").select(
        "entity", "value"
    ).withColumnRenamed("value", "base_value")
    got = {
        r["entity"]: [r["doubled"], r["shifted"]]
        for r in ondemand_batch(
            reg, batch_in, ["doubled", "shifted"],
            feature_cols={"base_value": "base_value"},
        ).collect()
    }
    assert got == want


# ----------------------------------------------- r11 self-review fixes


def test_tuple_refs_work_like_serving(spark):
    reg = Registry()

    def ratio(client, params, entities):
        a, b = client.features([("total_spend", "default"), "n_orders"])
        return a / b

    reg.register_ondemand("ratio", ratio)
    df = spark.createDataFrame(
        [(1, 100.0, 4)], "custkey long, total_spend double, n_orders long"
    )
    out = ondemand_batch(reg, df, [("ratio", "default")])
    assert [r["ratio"] for r in out.collect()] == [25.0]


def test_batch_length_array_return_is_per_row(spark):
    reg = Registry()

    def diff(client, params, entities):
        a, b = client.features(["total_spend", "n_orders"])
        return (a.values - b.values)  # ndarray, not Series

    reg.register_ondemand("diff", diff)
    df = spark.createDataFrame(
        [(1, 100.0, 4), (2, 90.0, 3)],
        "custkey long, total_spend double, n_orders long",
    )
    out = ondemand_batch(reg, df, ["diff"]).orderBy("custkey")
    assert [r["diff"] for r in out.collect()] == [96.0, 87.0]


def test_unpicklable_unrelated_fn_does_not_break_scoring(spark):
    import threading

    reg = Registry()
    ratio, _, _ = _fns()
    reg.register_ondemand("ratio", ratio)
    lock = threading.Lock()

    def poisoned(client, params, entities):
        return lock  # closes over an unpicklable lock

    reg.register_ondemand("poisoned", poisoned)
    df = spark.createDataFrame(
        [(1, 100.0, 4)], "custkey long, total_spend double, n_orders long"
    )
    # unrelated feature still scores
    out = ondemand_batch(reg, df, ["ratio"])
    assert [r["ratio"] for r in out.collect()] == [25.0]
    # requesting the poisoned one fails FAST with a clear error
    with pytest.raises(ValueError, match="cloudpickle"):
        ondemand_batch(reg, df, ["poisoned"])
