"""The median/quartile helpers and the metric-name check."""

import json
import os
import statistics

import pytest

from perfbench import stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_median_and_quartiles_match_statistics_module():
    v = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    assert stats.median(v) == 4.0
    q1, q2, q3 = stats.quartiles(v)
    assert (q1, q2, q3) == tuple(statistics.quantiles(v, n=4))
    assert stats.spread(v) == pytest.approx((q3 - q1) / q2)


def test_single_sample_has_no_spread():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert stats.spread([2.5]) == 0.0


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_are_valid_and_unique():
    stats.check_spec(_spec())


@pytest.mark.parametrize("bad", ["", "_x", "a b", "x" * 65, "setup_s"])
def test_check_spec_rejects_bad_or_repeated_names(bad):
    spec = _spec()
    spec["per_layer"].append({"name": bad, "unit": "s", "better": "lower"})
    with pytest.raises(ValueError):
        stats.check_spec(spec)


def test_check_metrics_wants_exact_names_units_and_finite_values():
    expected = [{"name": "a_s", "unit": "s"}, {"name": "b", "unit": "count"}]
    good = {"a_s": {"value": 1.5, "unit": "s"}, "b": {"value": 3, "unit": "count"}}
    stats.check_metrics(expected, good)
    for bad in (
        {"a_s": good["a_s"]},
        dict(good, c={"value": 1, "unit": "s"}),
        dict(good, b={"value": 3, "unit": "s"}),
        dict(good, a_s={"value": float("nan"), "unit": "s"}),
        dict(good, a_s={"value": None, "unit": "s"}),
    ):
        with pytest.raises(ValueError):
            stats.check_metrics(expected, bad)
