"""Benchmark-local tests: seeded inputs, the event-log fold, the
percentile rule, the pass_ref figure, child-process clean-up and the
metric list. No Spark
session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
from common import percentile  # noqa: E402
from eventlog import fold, read_events  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# -- seeded inputs ---------------------------------------------------------


@pytest.mark.parametrize("zipf_s", [None, 1.2])
def test_same_seed_gives_byte_identical_inputs(tmp_path, zipf_s):
    a = inputs.write_parquet_dir(inputs.events(7, 5_000, 500, zipf_s), str(tmp_path / "a"))
    b = inputs.write_parquet_dir(inputs.events(7, 5_000, 500, zipf_s), str(tmp_path / "b"))
    c = inputs.write_parquet_dir(inputs.events(8, 5_000, 500, zipf_s), str(tmp_path / "c"))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_seeded_arrays_repeat_and_differ():
    assert np.array_equal(inputs.vectors(3, 100, 8), inputs.vectors(3, 100, 8))
    assert not np.array_equal(inputs.vectors(3, 100, 8), inputs.vectors(4, 100, 8))
    rows = [inputs.wide_rows(np.random.default_rng(s), np.arange(10), 4) for s in (1, 1, 2)]
    assert all(np.array_equal(rows[0][k], rows[1][k]) for k in rows[0])
    assert not np.array_equal(rows[0]["f0"], rows[2]["f0"])


def test_events_timestamps_are_unique():
    t = inputs.events(1, 10_000, 100)
    ts = t.column("ts").to_numpy()
    assert len(np.unique(ts)) == len(ts)


def test_zipf_users_are_skewed_and_bounded():
    users = inputs.zipf_users(np.random.default_rng(0), 50_000, 1_000, 1.2)
    assert users.min() >= 0 and users.max() < 1_000
    counts = np.bincount(users, minlength=1_000)
    assert counts[0] > 20 * np.median(counts)


# -- event-log fold ----------------------------------------------------------

# The recorded log (trimmed to the fields the fold reads) holds four
# jobs: 0 and 1 tagged with group "wl/op/1", 2 and 3 untagged.
T0 = 1792175314500


def _spans():
    return [
        {"id": 0, "group": "wl/op/1", "start_ms": T0, "end_ms": T0 + 1300},
        {"id": 1, "group": "wl/op/2", "start_ms": T0 + 1400, "end_ms": T0 + 1600},
    ]


def test_fold_attributes_by_group_and_by_time():
    events = read_events(os.path.join(HERE, "data"))
    ledgers, untagged = fold(events, _spans())
    a, b = ledgers[0], ledgers[1]
    # jobs 0 and 1 by their group
    assert a.jobs == 2 and a.tasks == 5
    assert a.executor_run_s == pytest.approx((355 + 361 + 358 + 354 + 126) / 1000)
    assert a.gc_s == pytest.approx((4 * 29 + 11) / 1000)
    assert a.shuffle_bytes == 231 + 3 * 230
    assert a.busy_s == pytest.approx((734 + 219) / 1000)
    assert a.driver_only_s == pytest.approx(1.3 - 0.953)
    # job 2 carries no group: it lands in the span that contains its
    # submission; job 3 falls outside every span and is ignored
    assert b.jobs == 1 and b.tasks == 4
    assert b.shuffle_bytes == 4 * 59
    assert b.busy_s == pytest.approx(0.099)
    assert untagged == 1


def test_fold_unions_overlapping_jobs():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100,
         "Stage IDs": [], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 150,
         "Stage IDs": [], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 300},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 400},
    ]
    ledgers, untagged = fold(events, [{"id": 0, "group": "g", "start_ms": 0, "end_ms": 1000}])
    assert ledgers[0].jobs == 2 and untagged == 2
    assert ledgers[0].busy_s == pytest.approx(0.3)
    assert ledgers[0].driver_only_s == pytest.approx(0.7)


# -- percentiles ---------------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(1000)), 99) == 989
    assert percentile(list(range(999)), 99) is None
    assert percentile(list(range(100)), 90) == 89
    assert percentile(list(range(99)), 90) is None
    assert percentile([], 50) is None


# -- pass_ref --------------------------------------------------------------------


def test_pass_ref_weighs_each_part_the_same():
    import run

    # per part, the median over its runs of op time / reference around it
    parts = {"tables": [(9.0, 0.5), (12.0, 1.0), (30.0, 1.0)], "serving": [(1.0, 0.5)]}
    assert run.pass_ref(parts) == pytest.approx((18.0 * 2.0) ** 0.5)
    # doubling the small part moves the figure as much as doubling the large one
    assert run.pass_ref({"tables": [(9.0, 0.5)], "serving": [(2.0, 0.5)]}) == pytest.approx(
        run.pass_ref({"tables": [(18.0, 0.5)], "serving": [(1.0, 0.5)]})
    )


def test_measure_brackets_each_part_with_reference_timings(monkeypatch):
    import run

    refs = iter([[1.0, 1.0], [2.0, 2.0], [4.0, 4.0]])
    monkeypatch.setattr(run, "reference_s", lambda spark: next(refs))

    class Workload:
        def parts(self):
            return [
                # op time: the geometric mean over kinds of their median
                ("a", 4, lambda deadline: [
                    {"kind": "x", "dur": 1.0}, {"kind": "y", "dur": 3.0},
                    {"kind": "y", "dur": 4.0}, {"kind": "y", "dur": 99.0},
                ]),
                # a part that did not run all its ops has no ratio
                ("b", 2, lambda deadline: [{"kind": "x", "dur": 4.0}]),
            ]

    passes, parts = run.measure(Workload(), None, deadline=0.0)
    assert [len(recs) for recs in passes] == [5]
    assert parts == {"a": [(pytest.approx(2.0), 1.5)]}


# -- child processes -------------------------------------------------------------


def test_reap_children_ends_orphaned_grandchildren():
    import subprocess

    # in a child interpreter, so the test runner itself is not made a
    # subreaper: the shell exits at once, and its background sleep is
    # orphaned to the interpreter, which must end it
    code = (
        "import subprocess, sys, time\n"
        f"sys.path.insert(0, {BENCH!r})\n"
        "from common import _children, become_subreaper, reap_children\n"
        "become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "time.sleep(0.2)\n"
        "assert _children()\n"
        "reap_children(grace_s=5.0)\n"
        "assert not _children()\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=60)


# -- metric list ---------------------------------------------------------------


def test_benchmark_json_matches_the_runner():
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m["name"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_run_refuses_outside_a_checkout(tmp_path, monkeypatch, capsys):
    import run

    monkeypatch.chdir(tmp_path)
    rc = run.main(["--workload", "offline", "--seed", "1", "--seconds", "1"])
    assert rc != 0
    assert capsys.readouterr().out == ""
