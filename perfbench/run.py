#!/usr/bin/env python3
"""Feature-store benchmark for featureform_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload offline --seed 1 --seconds 2 --trace 0

Workloads: offline (the offline_small and offline_large cycles) and
store (the table_commits cycle and serving_mix traffic); see
perfbench/NOTES.md. Inputs are generated from ``--seed``; set-up
runs, one warm-up pass follows, then passes of the workload's fixed op
cycle repeat for ``--seconds``; every output is then checked.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs with Spark's event log on, tags every op's jobs, and reports the
per-layer metrics folded from the log.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    RunDir,
    Tracer,
    become_subreaper,
    configure_env,
    geomean,
    median,
    reap_children,
    reference_s,
    start_session,
    stop_jvm,
)
from eventlog import fold, read_events  # noqa: E402
from wl_offline import OP_FIELDS, OPS, SIZES  # noqa: E402

WORKLOADS = ("offline", "store")

WRITE_FIELDS = ("driver_only_s", "jobs", "files_added", "bytes_written_per_user_byte")

END_TO_END = ("setup_s", "pass_ref")

PER_LAYER = (
    "session.start_s",
    "registry.register_s",
    "trace.untagged_jobs",
    "trace.pass_ref",
    *[
        name
        for op in OPS
        for scale in SIZES
        for name in (
            f"engine.{op}.{scale}.plan_s",
            f"operators.{op}.{scale}.action_s",
            *[f"operators.{op}.{scale}.{f}" for f in OP_FIELDS],
        )
    ],
    *[f"delta.{op}.{f}" for op in ("append", "merge", "delete") for f in WRITE_FIELDS],
    "delta.read.driver_only_s",
    "delta.read.jobs",
    "delta.log_entries",
    "delta.space_amplification",
    *[f"iceberg.{op}.{f}" for op in ("append", "upsert", "delete") for f in WRITE_FIELDS],
    "iceberg.read.driver_only_s",
    "iceberg.read.jobs",
    "iceberg.manifests",
    "wide.upsert.jobs",
    "online.lookup_p50_us",
    "online.lookup_p90_us",
    "online.multiget100_p50_us",
    "online.multiget100_p90_us",
    "online.copy_rows_per_s",
    "serving.setup_s",
    "ann.query_p50_us",
    "ann.query_p90_us",
    "ann.recall_at_10",
    "hnsw.query_p50_us",
    "hnsw.recall_at_10",
    "flight.nearest_p50_us",
    "flight.nearest_p90_us",
    "flight.nearest_transport_us",
    "flight.hnsw_nearest_p50_us",
    "flight.scan_p50_ms",
    "flight.scan_ttfb_ms",
    "flight.scan_mb_per_s",
    "flight.put_p50_ms",
)

UNITS = (
    ("_ref", "x"), ("_mb_per_s", "MB/s"), ("_per_s", "1/s"), ("_us", "us"),
    ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
)
RATIOS = ("recall_at_10", "space_amplification", "bytes_written_per_user_byte")


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    for suffix, unit in UNITS:
        if leaf.endswith(suffix):
            return unit
    return "ratio" if leaf in RATIOS else "count"


def make_workload(name: str, seed: int, run: RunDir, tracer: Tracer):
    if name == "offline":
        from wl_offline import OfflinePair

        return OfflinePair(name, seed, run, tracer)
    from wl_store import Store

    return Store(name, seed, run, tracer)


def measure(wl, spark, deadline: float) -> tuple[list[list[dict]], dict[str, list[tuple]]]:
    """Passes until the deadline, at least one. Each part of a pass
    (offline: small and large; store: tables and serving) is bracketed
    by timings of the reference job, so the part can be divided by the
    host's speed at the time it ran. Returns the passes' records and,
    per part, (op time, reference time) of every complete run of it,
    where the op time is the geometric mean over the part's op kinds of
    each kind's median latency (only the last pass can be cut short)."""
    passes: list[list[dict]] = []
    parts: dict[str, list[tuple]] = {}
    refs = reference_s(spark)
    while time.perf_counter() < deadline or not passes:
        recs: list[dict] = []
        for part, n_ops, run_part in wl.parts():
            got = run_part(deadline if passes else None)
            after = reference_s(spark)
            if len(got) == n_ops:
                by_kind: dict[str, list[float]] = {}
                for r in got:
                    by_kind.setdefault(r["kind"], []).append(r["dur"])
                op_s = geomean([median(v) for v in by_kind.values()])
                parts.setdefault(part, []).append((op_s, median(refs + after)))
            refs = after
            recs += got
        passes.append(recs)
    return passes, parts


def pass_ref(parts: dict[str, list[tuple]]) -> float:
    """Geometric mean over the parts of the median ratio of the part's
    op time to the reference time around it. Each part, and within it
    each op kind, weighs the same whatever its share of the pass: a
    serving plane of 1,000 ms-scale requests counts as much as a table
    cycle of 9 second-scale commits, and a lookup as much as a scan."""
    return geomean([median([t / ref for t, ref in runs]) for runs in parts.values()])


def bench(args, root: str, run: RunDir) -> int:
    info = configure_env(root, run)
    import pyarrow
    import pyspark

    info.update(pyspark=pyspark.__version__, pyarrow=pyarrow.__version__,
                workload=args.workload, seed=args.seed, trace=args.trace)

    tracer = Tracer(args.workload)
    wl = make_workload(args.workload, args.seed, run, tracer)
    t0 = time.perf_counter()
    wl.prepare()
    info["input_gen_s"] = round(time.perf_counter() - t0, 4)

    spark, start_s = start_session(run, bool(args.trace), "perfbench")
    try:
        # a set-up is a session start and the program's set-up, repeated
        # so setup_s is a median. The cold start above, JVM launch
        # included, happens once per process and follows the host's
        # speed; the repeats restart the session in the running JVM
        # (stopping the previous one is teardown, not set-up)
        setups = []
        for _ in range(wl.setup_repeats):
            spark.stop()
            t0 = time.perf_counter()
            spark, _ = start_session(run, bool(args.trace), "perfbench")
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
        tracer.spark = spark
        app_id = spark.sparkContext.applicationId
        # the workload's warm-up, if any, is not timed as a pass
        t0 = time.perf_counter()
        warm = wl.warmup()
        info["warmup_s"] = round(time.perf_counter() - t0, 4)

        # a traced run traces every measured pass; a pass cut by the
        # deadline still counts its finished ops, not its pass time
        reference_s(spark, repeats=2)  # its own warm-up
        tracer.enabled = bool(args.trace)
        passes, parts = measure(wl, spark, time.perf_counter() + args.seconds)
        tracer.enabled = False

        t0 = time.perf_counter()
        errors = wl.verify()
        info["verify_s"] = round(time.perf_counter() - t0, 4)
    finally:
        if args.trace:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        wl.close()
        spark.stop()

    records = [r for recs in passes for r in recs]
    attempted = len(records) + len(warm)
    failed = sum(not r["ok"] for r in records + warm)
    info.update(wl.setup_parts)
    info.update(passes=len(passes), ops=len(records),
                pass_s=[round(sum(r["dur"] for r in recs), 3) for recs in passes],
                setups_s=[round(x, 4) for x in setups], session_start_s=round(start_s, 4))
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    by_kind: dict[str, list[float]] = {}
    for r in records:
        if r["ok"]:
            by_kind.setdefault(r["kind"], []).append(r["dur"])
    info["op_p50_ms"] = {k: round(1000 * median(v), 3) for k, v in by_kind.items()}
    ratio = pass_ref(parts)
    info["part_op_s"] = {k: round(median([t for t, _ in v]), 4) for k, v in parts.items()}
    info["ref_s"] = {k: round(median([ref for _, ref in v]), 5) for k, v in parts.items()}

    if not args.trace:
        values = {"setup_s": median(setups), "pass_ref": ratio}
    else:
        spans = [s for s in tracer.spans if s["parent"] is None]
        ledgers, untagged = fold(read_events(run.sub("eventlog"), app_id), spans)
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(
            {"session.start_s": start_s, "trace.untagged_jobs": untagged, "trace.pass_ref": ratio}
        )
        values.update(wl.layer_metrics(records, ledgers))
        unknown = set(values) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"metrics missing from PER_LAYER: {sorted(unknown)}")

    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": not errors and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": float(v), "unit": unit_of(k)} for k, v in values.items()
                },
            }
        )
    )
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "featureform_spark", "__init__.py")):
        print(
            "perfbench: featureform_spark not found; run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    warnings.filterwarnings("ignore", category=UserWarning)
    # a terminated run still removes its scratch directory and stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    run = RunDir(root)
    try:
        return bench(args, root, run)
    finally:
        # no process the run started outlives it: the JVM, its Python
        # workers and the Flight server are ended and waited for
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        if "pyspark" in sys.modules:
            stop_jvm()
        reap_children()
        run.remove()


if __name__ == "__main__":
    sys.exit(main())
