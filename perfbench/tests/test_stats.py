import math

import pytest

from perfbench import stats


def test_ladder_increments_sum_to_top_rung():
    rungs = [("scan", 0.56), ("boundary", 1.22), ("full", 1.37)]
    inc = stats.ladder_increments(rungs)
    assert [n for n, _ in inc] == ["scan", "boundary", "full"]
    assert math.isclose(sum(v for _, v in inc), rungs[-1][1])
    assert math.isclose(dict(inc)["boundary"], 1.22 - 0.56)


def test_ladder_keeps_negative_increments():
    # a layer cheaper than the noise reads negative, not clipped to zero
    inc = dict(stats.ladder_increments([("scan", 1.0), ("boundary", 0.9)]))
    assert inc["boundary"] < 0
    assert math.isclose(inc["scan"] + inc["boundary"], 0.9)


def test_summary_quartiles_match_statistics_quantiles():
    s = stats.summary([4.0, 1.0, 3.0, 2.0, 5.0])
    assert s["median"] == 3.0 and s["n"] == 5
    assert s["q1"] == 1.5 and s["q3"] == 4.5


def test_summary_single_sample():
    assert stats.summary([2.5]) == {"median": 2.5, "q1": 2.5, "q3": 2.5, "n": 1}
    with pytest.raises(ValueError):
        stats.summary([])
