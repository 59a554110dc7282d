"""Refresh scheduling for DYNAMIC resources (ST4) and scheduled
transformations (ST3).

The reference's control plane carries two freshness contracts:

- cron ``schedule`` strings on transformations
  (client/src/featureform/register.py:540, metadata gRPC
  ``RequestScheduleChange``), executed by its coordinator;
- Snowflake dynamic-table configs ``{target_lag, refresh_mode,
  initialize}`` on training sets / transformations
  (metadata/proto/metadata.proto:713-722, snowflake_queries.go:61-107),
  executed by the warehouse.

This module is the in-process equivalent of both executors: a
``RefreshScheduler`` thread that re-runs registered refresh callables
when they fall due. ``target_lag`` jobs fire when ``now - last_run >=
lag``; ``schedule`` jobs fire at minute boundaries matching a 5-field
cron expression. ``run_pending(now)`` is the synchronous tick —
deterministic for tests and usable from any external scheduler.

The refresh callable owns the refresh *mode* semantics: FULL recompute
(``DynamicTrainingSet.refresh`` below — PIT joins are not incrementally
maintainable in general), or INCREMENTAL via
``DeltaIncrementalTransformation.refresh`` (change-feed fold,
streaming/incremental.py) — the scheduler only decides *when*.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field


def parse_target_lag(lag: str | float | int) -> float:
    """'90 seconds' / '5 minutes' / '1 hours' / '2 days' → seconds.
    Bare numbers are seconds. Mirrors Snowflake TARGET_LAG strings
    (snowflake_queries.go:84-90)."""
    if isinstance(lag, (int, float)):
        return float(lag)
    parts = lag.strip().lower().split()
    if len(parts) != 2:
        raise ValueError(f"bad target_lag {lag!r}: want '<n> <unit>'")
    n = float(parts[0])
    unit = parts[1].rstrip("s")
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}.get(unit)
    if mult is None:
        raise ValueError(f"bad target_lag unit {parts[1]!r}")
    return n * mult


def _cron_field_matches(spec: str, value: int, lo: int, hi: int) -> bool:
    for part in spec.split(","):
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            step = int(step_s)
        if part in ("*", ""):
            rng = range(lo, hi + 1)
        elif "-" in part:
            a, b = part.split("-", 1)
            rng = range(int(a), int(b) + 1)
        else:
            rng = range(int(part), int(part) + 1)
        if value in rng and (value - rng.start) % step == 0:
            return True
    return False


def cron_matches(expr: str, t: time.struct_time) -> bool:
    """5-field cron (min hour dom mon dow) with * , - / — the subset the
    reference's schedule strings use. dow: 0=Sunday (cron convention)."""
    fields = expr.split()
    if len(fields) != 5:
        raise ValueError(f"bad cron expression {expr!r}: want 5 fields")
    minute, hour, dom, mon, dow = fields
    cron_dow = (t.tm_wday + 1) % 7  # struct_time: 0=Monday → cron 0=Sunday
    return (
        _cron_field_matches(minute, t.tm_min, 0, 59)
        and _cron_field_matches(hour, t.tm_hour, 0, 23)
        and _cron_field_matches(dom, t.tm_mday, 1, 31)
        and _cron_field_matches(mon, t.tm_mon, 1, 12)
        and _cron_field_matches(dow, cron_dow, 0, 6)
    )


@dataclass
class _Job:
    name: str
    fn: object
    lag_seconds: float | None = None
    cron: str | None = None
    last_run: float | None = None
    last_cron_minute: int | None = None
    runs: int = 0
    errors: int = 0
    last_error: str | None = None

    def due(self, now: float) -> bool:
        if self.lag_seconds is not None:
            return self.last_run is None or now - self.last_run >= self.lag_seconds
        minute = int(now // 60)
        if minute == self.last_cron_minute:
            return False  # at most once per matching minute
        return cron_matches(self.cron, time.localtime(now))


@dataclass
class RefreshScheduler:
    poll_interval: float = 1.0
    jobs: dict[str, _Job] = field(default_factory=dict)

    def __post_init__(self):
        self._thread: threading.Thread | None = None
        self._stop = threading.Event()
        self._lock = threading.Lock()

    def register(
        self,
        name: str,
        refresh_fn,
        target_lag: str | float | None = None,
        schedule: str | None = None,
        initialize: str = "on_create",
    ) -> None:
        """One freshness contract per job: ``target_lag`` (dynamic-table
        style) or ``schedule`` (cron style). ``initialize='on_create'``
        runs the first refresh immediately (proto Initialize enum);
        'on_schedule' waits for the first due tick."""
        if (target_lag is None) == (schedule is None):
            raise ValueError("exactly one of target_lag/schedule required")
        job = _Job(
            name=name,
            fn=refresh_fn,
            lag_seconds=None if target_lag is None else parse_target_lag(target_lag),
            cron=schedule,
        )
        if schedule is not None:
            cron_matches(schedule, time.localtime())  # validate eagerly
        with self._lock:
            self.jobs[name] = job
        if initialize == "on_create":
            self._run(job, time.time())

    def unregister(self, name: str) -> None:
        with self._lock:
            self.jobs.pop(name, None)

    def _run(self, job: _Job, now: float) -> None:
        try:
            job.fn()
            job.last_error = None
        except Exception as e:  # keep the loop alive; surface via stats
            job.errors += 1
            job.last_error = f"{type(e).__name__}: {e}"
        finally:
            job.runs += 1
            job.last_run = now
            job.last_cron_minute = int(now // 60)

    def run_pending(self, now: float | None = None) -> list[str]:
        """Synchronous tick: run every due job, return names run."""
        now = time.time() if now is None else now
        with self._lock:
            due = [j for j in self.jobs.values() if j.due(now)]
        for job in due:
            self._run(job, now)
        return [j.name for j in due]

    def stats(self) -> dict[str, dict]:
        with self._lock:
            return {
                n: {
                    "runs": j.runs,
                    "errors": j.errors,
                    "last_run": j.last_run,
                    "last_error": j.last_error,
                }
                for n, j in self.jobs.items()
            }

    # -- background loop ---------------------------------------------------

    def start(self) -> "RefreshScheduler":
        if self._thread is not None:
            return self
        self._stop.clear()

        def loop():
            while not self._stop.wait(self.poll_interval):
                self.run_pending()

        self._thread = threading.Thread(
            target=loop, name="ff-refresh-scheduler", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread is None:
            return
        self._stop.set()
        self._thread.join(timeout=30)
        self._thread = None

    def __enter__(self) -> "RefreshScheduler":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


class DynamicTrainingSet:
    """ST4 DYNAMIC semantics with an actual refresh trigger: the served
    snapshot is never staler than ``target_lag`` w.r.t. the sources —
    Snowflake's ``CREATE DYNAMIC TABLE ... TARGET_LAG=...`` contract
    (snowflake_queries.go:61-107) executed in-process.

    Each refresh re-resolves the registered plan (picking up new source
    versions) and pins the result with ``localCheckpoint`` so readers see
    a consistent snapshot while the next refresh computes (FULL refresh
    mode; AUTO falls back to FULL since PIT joins are not incrementally
    maintainable in general)."""

    def __init__(self, engine, ts_ref: str, scheduler: RefreshScheduler,
                 target_lag: str | float = "1 minutes",
                 initialize: str = "on_create"):
        self._engine = engine
        self._ts_ref = ts_ref
        self._snapshot = None
        self._snap_lock = threading.Lock()
        scheduler.register(
            f"training_set/{ts_ref}", self.refresh,
            target_lag=target_lag, initialize=initialize,
        )

    def refresh(self) -> None:
        self._engine.invalidate_plans()  # re-list source files (new versions)
        fresh = self._engine.training_set(self._ts_ref).localCheckpoint()
        with self._snap_lock:
            self._snapshot = fresh

    def df(self):
        with self._snap_lock:
            if self._snapshot is None:
                raise RuntimeError(
                    "dynamic training set not initialized yet "
                    "(initialize='on_schedule' and no tick has fired)"
                )
            return self._snapshot
