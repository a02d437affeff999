"""bench.py: the same-box ``vs_baseline`` rule and the one lane timer."""

from bench import compare, time_lane


def _run(sf=0.1, cpus=4, **lanes):
    """A BENCH_full.json shape: lane -> (median, min)."""
    return {
        "sf": sf,
        "cpus": cpus,
        "queries": {q: med for q, (med, _mn) in lanes.items()},
        "min": {q: mn for q, (_med, mn) in lanes.items()},
    }


ANCHOR = _run(q_a=(1.0, 0.8), q_b=(2.0, 1.6), q_c=(4.0, 3.0))


def test_compare_ratios_medians_to_medians_and_mins_to_mins():
    run = _run(q_a=(1.5, 1.0), q_b=(2.0, 1.2), q_c=(10.0, 9.0))
    got = compare(run, ANCHOR)
    assert got == {
        "n_anchored": 3,
        # (1.5 + 2.0 + 10.0) / (1.0 + 2.0 + 4.0)
        "aggregate": 1.929,
        # (1.0 + 1.2 + 9.0) / (0.8 + 1.6 + 3.0)
        "aggregate_min": 2.074,
        # per-lane median ratios 1.5, 1.0, 2.5 -> middle 1.5
        "median": 1.5,
        "worst": ["q_c", 2.5],
        "over_2x": ["q_c"],
    }


def test_compare_is_none_across_boxes_or_scales():
    run = _run(q_a=(1.0, 0.8))
    assert compare(run, dict(ANCHOR, cpus=32)) is None
    assert compare(run, dict(ANCHOR, sf=1.0)) is None
    assert compare(run, {}) is None


def test_an_unanchored_lane_is_left_out():
    run = _run(q_a=(2.0, 1.6), q_new=(50.0, 40.0))
    got = compare(run, ANCHOR)
    assert got["n_anchored"] == 1
    assert got["aggregate"] == 2.0
    assert got["aggregate_min"] == 2.0
    assert got["worst"] == ["q_a", 2.0]


def test_time_lane_returns_one_positive_time_per_repeat(spark, sf_dir):
    runs = time_lane(spark, "q_scan_project_filter", sf_dir, 2)
    assert len(runs) == 2
    assert all(t > 0 for t in runs)
