"""tools/ab_perfbench.py: the alternating-pairs summary, as pure functions."""

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab_perfbench",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab_perfbench.py"),
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

SPEC = {
    "end_to_end": [
        {"name": "op_s", "better": "lower", "bound": 0.25},
        {"name": "ops_per_min", "better": "higher", "bound": 0.25},
    ],
    "per_layer": [{"name": "decode_s", "better": "lower"}],
}


def _runs(base, change, name):
    runs = []
    for seed, (b, c) in enumerate(zip(base, change)):
        runs.append({"side": "base", "seed": seed, "metrics": {name: b}, "failed": 0, "attempted": 1, "steal": 0.0})
        runs.append({"side": "change", "seed": seed, "metrics": {name: c}, "failed": 0, "attempted": 1, "steal": 0.0})
    return runs


def _row(runs, name="op_s"):
    (row,) = [r for r in ab.summarize(runs, SPEC) if r["metric"] == name]
    return row


def test_parse_seeds():
    assert ab.parse_seeds("501-505") == [501, 502, 503, 504, 505]
    assert ab.parse_seeds("7,8,10-11") == [7, 8, 10, 11]


def test_steal_frac():
    before = [100, 0, 50, 800, 0, 0, 0, 10]
    after = [200, 0, 100, 1600, 0, 0, 0, 60]
    assert ab.steal_frac(before, after) == pytest.approx(50 / 1000)
    assert ab.steal_frac(before, before) == 0.0


def test_summary_median_quartiles_and_gain():
    base = [1.0, 1.1, 0.9, 1.2, 1.0, 1.05, 0.95, 1.1, 1.0, 1.0]
    change = [b * 0.7 for b in base]
    change[3] = 1.3  # one lost pair
    row = _row(_runs(base, change, "op_s"))
    assert row["base_median"] == pytest.approx(1.0)
    assert row["base_q"] == pytest.approx((1.0, 1.0875))
    assert (row["wins"], row["pairs"]) == (9, 10)
    assert row["verdict"] == "gain"
    assert row["rel"] == pytest.approx(row["change_median"] - 1.0)


def test_summary_needs_nine_wins_and_a_gap_past_the_base_quartiles():
    base = [1.0 + 0.1 * (i % 2) for i in range(10)]
    eight_wins = [0.5] * 8 + [2.0, 2.0]
    assert _row(_runs(base, eight_wins, "op_s"))["verdict"] == "same"
    within_iqr = [b - 0.01 for b in base]  # wins all pairs, gap < IQR 0.1
    assert _row(_runs(base, within_iqr, "op_s"))["verdict"] == "same"
    # fewer than ten pairs never make a gain
    row = _row(_runs([1.0] * 9, [0.5] * 9, "op_s"))
    assert (row["wins"], row["pairs"], row["verdict"]) == (9, 9, "same")


def test_summary_higher_is_better_and_worse_past_the_bound():
    base = [100.0] * 10
    row = _row(_runs(base, [130.0] * 10, "ops_per_min"), "ops_per_min")
    assert (row["wins"], row["verdict"]) == (10, "gain")
    row = _row(_runs(base, [70.0] * 10, "ops_per_min"), "ops_per_min")
    assert (row["wins"], row["verdict"]) == (0, "worse")
    # a per-layer metric has no bound: slower is "same", never "worse"
    row = _row(_runs([1.0] * 10, [2.0] * 10, "decode_s"), "decode_s")
    assert row["verdict"] == "same"


def test_summary_counts_a_crashed_pair_as_lost():
    base, change = [1.0] * 10, [0.5] * 10
    runs = _runs(base, change, "op_s")
    runs[3].update(metrics={}, failed=None)  # change side of seed 1 crashed
    row = _row(runs)
    assert (row["wins"], row["pairs"]) == (9, 10)
    # the crash is a failure the base did not have: no gain
    assert row["verdict"] == "same"
    text = ab.format_summary(ab.summarize(runs, SPEC), runs)
    assert "change failed ops 0/1 ? 0/1" in text and "op_s" in text


def test_summary_refuses_a_gain_with_more_failed_ops():
    runs = _runs([1.0] * 10, [0.5] * 10, "op_s")
    assert _row(runs)["verdict"] == "gain"
    runs[1]["failed"] = 1  # change side of seed 0 failed an op
    row = _row(runs)
    assert (row["wins"], row["pairs"]) == (9, 10)
    assert row["verdict"] == "same"
    runs[0]["failed"] = 1  # as many failures on the base side
    row = _row(runs)
    assert (row["wins"], row["verdict"]) == (9, "gain")


def test_summary_unresolved_when_the_base_spreads_past_the_bound():
    base = [1.0, 2.0] * 5  # quartiles 1.0 and 2.0: spread 1.0 > 0.25 * 1.5
    overlapping = [1.4] * 10
    row = _row(_runs(base, overlapping, "op_s"))
    assert row["verdict"] == "unresolved"
    # a change run that is no better than the base's best run overlaps
    assert _row(_runs(base, [0.9] * 9 + [1.0], "op_s"))["verdict"] == "unresolved"
    # every change run better than every base run: resolved; the gap of
    # the medians is still inside the base's quartiles, so not a gain
    row = _row(_runs(base, [0.95] * 10, "op_s"))
    assert (row["wins"], row["verdict"]) == (10, "same")
    # a narrow base never makes a metric unresolved
    assert _row(_runs([1.0] * 10, [1.05] * 10, "op_s"))["verdict"] == "same"
