"""scripts/ab_pairs.py verdicts (no Spark — pure logic over run values)."""

from scripts.ab_pairs import seeds, verdict

PARENT = [10, 11, 12, 10.5, 11.5, 10, 11, 12, 10.5, 11.5]  # IQR/median 0.11


def test_seed_specs():
    assert seeds("1-3") == [1, 2, 3]
    assert seeds("21,23") == [21, 23]


def test_verdicts_follow_pairs_won_spread_and_bound():
    # 10/10 pairs won and the medians differ by more than the parent's IQR
    assert verdict(PARENT, [7.5] * 10, 10, 10, True, 0.25) == "gain"
    # same values, but a higher-is-better metric: that is a 32% loss
    assert verdict(PARENT, [7.5] * 10, 0, 10, False, 0.25) == "regression"
    assert verdict(PARENT, [14] * 10, 0, 10, True, 0.25) == "regression"
    # 8/10 pairs is not enough for a gain, however large
    assert verdict(PARENT, [7.5] * 10, 8, 10, True, 0.25) == "within bound"
    assert verdict(PARENT, [11] * 10, 5, 10, True, 0.25) == "within bound"
    wide = [6, 11, 16, 6, 16, 6, 11, 16, 6, 11]  # IQR/median 0.91
    assert verdict(wide, [11] * 10, 5, 10, True, 0.25) == "unresolved"
    # a wide spread is resolved when every change run beats every parent run
    assert verdict(wide, [5] * 10, 10, 10, True, 0.25) == "within bound"


def test_no_gain_when_change_runs_fail():
    # 7 wins over 10 pairs run (3 change runs incorrect) is no gain, even
    # though the change won every pair where both runs were correct
    assert verdict(PARENT[:7], [7.5] * 7, 7, 10, True, 0.25, (0, 3)) == "regression"
    # one failed change run, as many as the parent's, blocks a gain
    assert verdict(PARENT, [7.5] * 9, 9, 10, True, 0.25, (1, 1)) == "within bound"
    # failures on the parent side alone leave the verdict to the values
    assert verdict(PARENT[:9], [7.5] * 9, 9, 10, True, 0.25, (1, 0)) == "gain"
