"""store: the table_commits cycle and the serving_mix traffic in one run.

A pass is one table_commits cycle (Delta, Iceberg and wide-table
commits and forced reads) followed by five serving_mix blocks (1,000
closed-loop requests against SQLite, Flight ``nearest``, ``do_get`` and
``do_put``). The two halves share nothing but the session; one process
keeps a run to one session start.

The warm-up pass sets up the serving side and runs one serving block.
The table cycle has no warm-up pass: a cold cycle takes ~20 s and a
run has no time to spare, so the first measured cycle pays the JIT
cost of the merge, delete and read paths (the repeated set-ups have
already warmed table creation and appends)."""

from __future__ import annotations

import time

from wl_serving import ServingMix
from wl_tables import TableCommits

SERVING_BLOCKS = 5


class Store:
    # a set-up restarts the session and creates three tables (~2.5 s)
    setup_repeats = 3

    def __init__(self, name: str, seed: int, run, tracer):
        self.tables = TableCommits(name, seed, run, tracer)
        self.serving = ServingMix(name, seed, run, tracer)
        self.setup_parts: dict = {}

    def prepare(self) -> None:
        self.serving.prepare()

    def setup(self, spark) -> None:
        self.spark = spark
        self.tables.setup(spark)

    def warmup(self) -> list[dict]:
        # the serving set-up (online copy, two index builds, table,
        # server) costs ~8 s: too costly to repeat in a run, so it runs
        # once and is reported apart from setup_s
        t0 = time.perf_counter()
        self.serving.setup(self.spark)
        self.setup_parts = {"serving_setup_s": round(time.perf_counter() - t0, 4),
                            **self.serving.setup_parts}
        return self.serving.run_pass()

    def parts(self):
        """The pass as (part, ops, call(deadline)) triples."""
        def serving(deadline):
            return [r for _ in range(SERVING_BLOCKS) for r in self.serving.run_pass(deadline)]

        return [("tables", TableCommits.pass_len, self.tables.run_pass),
                ("serving", SERVING_BLOCKS * ServingMix.pass_len, serving)]

    def verify(self) -> list[str]:
        return self.tables.verify() + self.serving.verify()

    def layer_metrics(self, records: list[dict], ledgers: dict) -> dict:
        return {
            **self.tables.layer_metrics(records, ledgers),
            **self.serving.layer_metrics(records, ledgers),
            "serving.setup_s": self.setup_parts["serving_setup_s"],
        }

    def close(self) -> None:
        self.serving.close()
