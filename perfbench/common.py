"""Shared plumbing: per-run isolation, the Spark session, in-memory
spans, and the summary statistics every workload reports."""

from __future__ import annotations

import math
import os
import shutil
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager

TAIL_MIN_BEYOND = 10


# -- statistics -------------------------------------------------------------


def percentile(values, pct: float) -> float | None:
    """Nearest-rank ``pct`` percentile, or None unless at least
    ``TAIL_MIN_BEYOND`` samples lie beyond it: a tail read off fewer
    samples is one outlier, not a percentile."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(pct / 100.0 * n))
    if n - rank < TAIL_MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


# -- run isolation ----------------------------------------------------------


class RunDir:
    """One scratch directory per run, inside the checkout, removed at
    exit: tables, the event log, Spark's local dirs, the SQLite file
    and every temp file of the JVM and Python live here."""

    def __init__(self, root: str):
        self.base = os.path.join(root, ".perfbench_tmp")
        self.path = os.path.join(self.base, f"run-{os.getpid()}-{time.time_ns()}")
        for sub in ("data", "local", "tmp", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.path, sub), exist_ok=True)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(self.base)
        except OSError:
            pass  # another run still uses it


def driver_mem_gb() -> int:
    """A driver heap the host can hold: a quarter of RAM, 1-4 GB."""
    total_kb = 16 * 1024 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


def configure_env(root: str, run: RunDir) -> dict:
    """Pin everything a run depends on before pyspark is imported."""
    import tempfile

    cpus = len(os.sched_getaffinity(0))
    mem = f"{driver_mem_gb()}g"
    old = os.environ.get("PYTHONPATH")
    # Python workers fork from a daemon that inherits this environment;
    # without the checkout on their path, executor-side UDFs fail to
    # import the library when the benchmark runs from another cwd
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    os.environ["SPARK_GRAFT_WAREHOUSE"] = run.sub("warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("local")
    os.environ["TMPDIR"] = run.sub("tmp")
    # every JVM (the spark-submit launcher too) keeps its temp files,
    # Derby's home and no hsperfdata in the scratch directory; the
    # library's own driver options stay as they are
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run.sub('tmp')} -Dderby.system.home={run.sub('tmp')}"
    )
    tempfile.tempdir = None
    return {"cpus": cpus, "driver_mem": mem}


def start_session(run: RunDir, trace: bool, app: str):
    """Session start as a user pays it: JVM launch, context, first job."""
    from featureform_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": run.sub("local"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + run.sub("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """End the Spark JVM and wait for it. ``spark.stop()`` leaves the
    JVM running until Python exits; it then exits by itself when its
    stdin closes, after this process has gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.close()
    except Exception:  # noqa: BLE001 - the JVM is ended below regardless
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# -- child processes ----------------------------------------------------------


def become_subreaper() -> None:
    """Have every descendant orphaned during the run (Python workers of
    a stopped JVM, say) re-parented to this process instead of init,
    so ``reap_children`` can find it. Linux only; elsewhere a no-op."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the fields after the parenthesised command are: state, ppid, ...
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            kids.append(int(entry))
    return kids


def reap_children(grace_s: float = 10.0) -> None:
    """Terminate every remaining child, kill any still there after
    ``grace_s``, and wait until each has ended."""
    if not os.path.isdir("/proc"):
        return
    deadline = time.monotonic() + grace_s
    signalled: set[int] = set()
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        kids = _children()
        if not kids:
            return
        late = time.monotonic() > deadline
        for pid in kids:
            if late or pid not in signalled:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


def reference_s(spark, repeats: int = 4) -> list[float]:
    """Times of a fixed library-free Spark job (scan, shuffle, grouped
    aggregate). The host's speed drifts by tens of percent between and
    within runs; program times divided by this job's median time, taken
    in the same session right before and after them, keep the drift out
    of the end-to-end metrics."""
    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark.range(0, 400_000, numPartitions=4).selectExpr(
            "id % 2000 AS k", "id * 7 % 13 AS v"
        ).groupBy("k").max("v").collect()
        out.append(time.perf_counter() - t0)
    return out


def force(df) -> None:
    """Execute a plan completely: count() alone can prune the whole
    projection, so aggregate over every column."""
    df.selectExpr("count(*)", *[f"count(`{c}`)" for c in df.columns]).collect()


# -- tracing ----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, request id) around
    the benchmark's calls into each layer.

    Every op is timed whether or not tracing is on; only when
    ``enabled`` are spans kept and Spark jobs tagged with the op's job
    group ``<workload>/<op>/<i>``, which the event-log fold keys on."""

    def __init__(self, workload: str, spark=None):
        self.workload = workload
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._req: str | None = None
        self._count = 0

    @contextmanager
    def op(self, kind: str):
        """One request: a top-level span whose Spark jobs carry its
        group. Yields the span record; ``rec['dur']`` is set on exit."""
        self._count += 1
        req = f"{self.workload}/{kind}/{self._count}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if self.enabled and sc is not None:
            sc.setJobGroup(req, kind)
        self._req = req
        try:
            with self.span(kind) as rec:
                rec["group"] = req
                yield rec
        finally:
            self._req = None
            if self.enabled and sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans) if self.enabled else -1,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "req": self._req,
            "start_ms": time.time() * 1000.0,
        }
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - rec["t0"]
            rec["end_ms"] = rec["start_ms"] + rec["dur"] * 1000.0
            if self.enabled:
                self._stack.pop()
