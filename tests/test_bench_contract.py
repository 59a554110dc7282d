"""bench.py's printed line must stay parseable inside the driver's
2000-char stdout capture regardless of suite size."""

import json

from bench import comparable_prior, compact_line


def _mk(n):
    timings = {f"query_with_a_long_name_{i:04d}": 0.01 * (i + 1) for i in range(n)}
    out = {
        "metric": "suite_total_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
    }
    return out, timings


def test_small_suite_keeps_every_query():
    out, timings = _mk(10)
    line = compact_line(out, timings, {}, "BENCH_local.json")
    doc = json.loads(line)
    assert len(line) <= 1900
    assert len(doc["queries"]) == 10
    assert "queries_omitted" not in doc


def test_large_suite_fits_budget_and_keeps_slowest():
    out, timings = _mk(400)
    line = compact_line(out, timings, {}, "BENCH_local.json")
    assert len(line) <= 1900
    doc = json.loads(line)
    assert doc["queries_omitted"] + len(doc["queries"]) == 400
    assert doc["n_queries"] == 400
    assert doc["full_artifact"] == "BENCH_local.json"
    # the slowest query always survives; omitted ones are the fastest
    slowest = max(timings, key=timings.get)
    assert slowest in doc["queries"]
    kept_min = min(doc["queries"].values())
    dropped_max = max(
        v for k, v in timings.items() if k not in doc["queries"]
    )
    assert round(dropped_max, 2) <= kept_min
    # headline keys survive truncation
    for key in ("metric", "value", "unit", "sf"):
        assert key in doc


def test_errors_are_clipped_not_dropped():
    out, timings = _mk(5)
    errors = {"q1": "x" * 500}
    line = compact_line(out, timings, errors, "BENCH_local.json")
    doc = json.loads(line)
    assert len(doc["errors"]["q1"]) == 80


def test_mass_errors_still_fit_budget():
    out, timings = _mk(50)
    errors = {f"errored_query_{i:03d}": "y" * 500 for i in range(40)}
    out["errors"] = errors
    line = compact_line(out, timings, errors, "BENCH_local.json")
    assert len(line) <= 1900, len(line)
    doc = json.loads(line)
    assert doc.get("errors_omitted", 0) + len(doc.get("errors", {})) == 40


def test_retime_prior_needs_same_scale_and_core_count():
    """Per-query times of a prior run drive the retime rule only when
    it was taken at the same scale factor and core count; a prior that
    does not record its core count is not comparable."""
    prior = {"sf": 0.1, "cpus": 4, "queries": {"q": 1.0}}
    assert comparable_prior(prior, "/data/sf0.1", 4) == {"q": 1.0}
    assert comparable_prior(prior, "/data/sf0.1", 32) == {}
    assert comparable_prior(prior, "/data/sf0.01", 4) == {}
    legacy = {"sf": 0.1, "queries": {"q": 1.0}}
    assert comparable_prior(legacy, "/data/sf0.1", 4) == {}
