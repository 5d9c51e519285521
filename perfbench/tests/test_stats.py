"""Summary statistics and the metric names in BENCHMARK.json.

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_geomean_weighs_each_query_equally():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([0.2, 0.2, 0.2]) == pytest.approx(0.2)
    # halving one short query moves the geomean as much as halving a long one
    assert stats.geomean([0.05, 8.0]) == pytest.approx(stats.geomean([0.1, 4.0]))


@pytest.mark.parametrize("bad", [[], [1.0, 0.0], [-1.0]])
def test_geomean_rejects_non_positive(bad):
    with pytest.raises(ValueError):
        stats.geomean(bad)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 201))
    assert stats.percentile(xs, 95) == 190
    assert stats.percentile(xs, 50) == 100
    assert stats.percentile([7.0], 95) == 7.0


def test_iqr_share_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, med, q3 = __import__("statistics").quantiles(xs, n=4)
    assert stats.iqr_share(xs) == pytest.approx((q3 - q1) / med)


def test_benchmark_json_follows_the_naming_rules():
    spec = stats.load_spec()
    assert stats.check_spec(spec) == []
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert 2 <= len(spec["workloads"]) <= 8


@pytest.mark.parametrize("name,ok", [
    ("exec.task_s", True), ("lake.read_bytes_ms", True), ("9lives", True),
    ("_private", False), ("has space", False), ("a" * 65, False), ("x/y", False),
])
def test_name_rule(name, ok):
    assert bool(stats.NAME_RE.match(name)) is ok


def test_check_spec_reports_duplicates_and_bad_bounds():
    spec = {
        "workloads": [{"name": "w", "why": "x"}],
        "end_to_end": [{"name": "m", "unit": "s", "better": "lower", "bound": 0.5}],
        "per_layer": [{"name": "m", "unit": "s s", "better": "up"}],
    }
    errs = stats.check_spec(spec)
    assert "name used twice: m" in errs
    assert any("bound out of range" in e for e in errs)
    assert any("bad unit" in e for e in errs)
    assert any("bad 'better'" in e for e in errs)


def test_median_of_even_count():
    assert stats.median([1.0, 3.0]) == 2.0
    assert math.isclose(stats.median([5.0, 1.0, 3.0]), 3.0)
