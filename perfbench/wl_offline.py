"""offline: the four generated query patterns driven through
Registry + Engine at two scales in one run, each op's output collected
to Arrow, as a trainer reading its training set does.

Per scale, registration happens in set-up and one cycle is
materialize -> training set (one lagged feature) -> batch features (3)
-> exact train/test split of the materialized feature. A pass is the
small cycle then the large one. There is no warm-up pass: the first
measured pass runs in a session that has only been set up, as a
scheduled job's ops do. The large cycle runs the same plans as the
small one, so only the small cycle pays the JIT cost. The outputs of
the last pass are checked against DuckDB after the timed region."""

from __future__ import annotations

import time
import traceback

from common import median
from inputs import events, write_parquet_dir

OPS = ("materialize", "training_set", "batch_features", "split")
# ledger fields kept per op and scale (GC time and input bytes are
# left out to keep the per-layer list within its cap)
OP_FIELDS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_bytes",
    "spill_bytes", "driver_only_s",
)
LAG_S = 3600

SIZES = {
    # everything fits in memory: per-op jobs and driver planning dominate
    "small": dict(n_events=200_000, n_users=2_000, zipf_s=None),
    # Zipf-skewed users over a 10^6-key space: executor work dominates
    "large": dict(n_events=300_000, n_users=1_000_000, zipf_s=1.2),
}


class Offline:
    """One scale's registry, engine and op cycle."""

    def __init__(self, scale: str, seed: int, run, tracer):
        self.scale = scale
        self.seed = seed
        self.run = run
        self.tracer = tracer
        self.size = SIZES[scale]
        self.events_dir = run.sub("data", f"events_{scale}")
        self.register_s: list[float] = []
        self.outputs: dict = {}

    def prepare(self) -> None:
        write_parquet_dir(events(self.seed, **self.size), self.events_dir)

    def setup(self, spark) -> None:
        from featureform_spark import Registry
        from featureform_spark.plans.engine import Engine
        from featureform_spark.registry import (
            FeatureVariant,
            LabelVariant,
            TrainingSetVariant,
        )

        t0 = time.perf_counter()
        reg = Registry()
        reg.register_file("events", self.events_dir, timestamp_column="ts")
        for name, kind in (("clicks", "click"), ("purchases", "purchase")):
            reg.register_sql_transformation(
                name,
                "SELECT * FROM {{events.default}} "
                f"WHERE event_type = '{kind}'",
            )
        for name, src, col, vtype in (
            ("last_value", "events", "value", "float64"),
            ("last_type", "events", "event_type", "string"),
            ("last_click", "clicks", "value", "float64"),
        ):
            reg.register(
                FeatureVariant(
                    name=name, source=f"{src}.default", entity="user",
                    entity_column="user_id", value_column=col,
                    timestamp_column="ts", value_type=vtype,
                )
            )
        reg.register(
            LabelVariant(
                name="purchase_value", source="purchases.default", entity="user",
                entity_column="user_id", value_column="value",
                timestamp_column="ts",
            )
        )
        reg.register(
            TrainingSetVariant(
                name="ts", label="purchase_value.default",
                features=["last_click.default", "last_value.default"],
                lag_features=[{"feature": "last_value.default", "lag_seconds": LAG_S}],
            )
        )
        self.register_s.append(time.perf_counter() - t0)
        self.engine = Engine(spark, reg)

    def _plans(self):
        from featureform_spark.operators.split import train_test_split_exact

        e = self.engine
        return {
            "materialize": lambda: e.materialize("last_value.default"),
            "training_set": lambda: e.training_set("ts.default"),
            "batch_features": lambda: e.batch_features(
                ["last_value.default", "last_type.default", "last_click.default"]
            ),
            "split": lambda: train_test_split_exact(
                e.materialize("last_value.default"), ["entity"]
            ),
        }

    def run_pass(self, deadline: float | None = None) -> list[dict]:
        out = []
        for op, build in self._plans().items():
            if deadline is not None and time.perf_counter() >= deadline:
                break
            ok = True
            plan = action = {"dur": 0.0}
            with self.tracer.op(f"{op}.{self.scale}") as rec:
                try:
                    with self.tracer.span("plan") as plan:
                        df = build()
                    with self.tracer.span("action") as action:
                        self.outputs[op] = df.toArrow()
                except Exception:  # noqa: BLE001 - counted as a failed op
                    traceback.print_exc()
                    self.outputs.pop(op, None)
                    ok = False
            out.append({"kind": rec["name"], "part": self.scale, "dur": rec["dur"], "ok": ok,
                        "span": rec["id"], "plan_s": plan["dur"],
                        "action_s": action["dur"]})
        return out

    def verify(self) -> list[str]:
        """The last outputs against DuckDB over the same parquet."""
        import oracles

        con = oracles.duckdb_events(self.events_dir)
        want = {
            "materialize": oracles.MATERIALIZE,
            "training_set": oracles.TRAINING_SET.format(lag=LAG_S),
            "batch_features": oracles.BATCH_FEATURES,
            "split": oracles.SPLIT,
        }
        errors = []
        for kind in OPS:
            if kind not in self.outputs:
                errors.append(f"{kind}.{self.scale}: no output")
                continue
            why = oracles.frames_differ(self.outputs[kind], con.execute(want[kind]).arrow())
            if why:
                errors.append(f"{kind}.{self.scale}: {why}")
        con.close()
        self.outputs = {}
        return errors

    def layer_metrics(self, records: list[dict], ledgers: dict) -> dict:
        out = {}
        for op in OPS:
            kind = f"{op}.{self.scale}"
            recs = [r for r in records if r["kind"] == kind and r["ok"]]
            leds = [ledgers[r["span"]] for r in recs if r["span"] in ledgers]
            out[f"engine.{kind}.plan_s"] = median([r["plan_s"] for r in recs])
            out[f"operators.{kind}.action_s"] = median([r["action_s"] for r in recs])
            for f in OP_FIELDS:
                out[f"operators.{kind}.{f}"] = median([getattr(x, f) for x in leds])
        return out


class OfflinePair:
    """The ``offline`` workload: the small cycle, then the large one."""

    # a set-up here is little more than a session restart (~0.5 s), so
    # it is repeated often enough for a steady median
    setup_repeats = 5
    setup_parts: dict = {}

    def __init__(self, name: str, seed: int, run, tracer):
        self.scales = [Offline(scale, seed, run, tracer) for scale in SIZES]

    def prepare(self) -> None:
        for p in self.scales:
            p.prepare()

    def setup(self, spark) -> None:
        for p in self.scales:
            p.setup(spark)

    def warmup(self) -> list[dict]:
        return []

    def parts(self):
        """The pass as (part, ops, call(deadline)) triples."""
        return [(p.scale, len(OPS), p.run_pass) for p in self.scales]

    def verify(self) -> list[str]:
        return [e for p in self.scales for e in p.verify()]

    def layer_metrics(self, records: list[dict], ledgers: dict) -> dict:
        out = {"registry.register_s": median([t for p in self.scales for t in p.register_s])}
        for p in self.scales:
            out.update(p.layer_metrics(records, ledgers))
        return out

    def close(self) -> None:
        pass
