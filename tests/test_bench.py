"""bench.time_lane is the one lane timer every measuring script calls
(bench.py, tools/bench_heavy_sfx.py, tools/scale_audit.py): its
construct/action split must add up to the timed run, and a failing
lane must raise instead of being skipped inside the loop."""

from __future__ import annotations

import pytest

from bench import time_lane


def test_time_lane_split_adds_up(spark, sf_dir):
    runs = 2
    lane = time_lane(spark, "q01_pricing_summary", sf_dir, runs=runs)
    # each part is rounded to 3 decimals: the sum is within 2 ms of best
    assert abs(lane["construct_s"] + lane["action_s"] - lane["best"]) <= 0.002
    assert lane["jobs_action"] >= 1
    assert lane["best"] <= lane["times"][0]
    assert lane["best"] == min(lane["times"])
    # one extra run is taken only when the best of `runs` is over 1.5 s
    extra = min(lane["times"][:runs]) > 1.5
    assert len(lane["times"]) == runs + extra
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_time_lane_raises_on_unknown_lane(spark, sf_dir):
    with pytest.raises(KeyError):
        time_lane(spark, "no_such_lane", sf_dir)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
