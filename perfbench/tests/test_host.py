from perfbench import host


def test_steal_frac_is_the_steal_share_of_all_ticks():
    before = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
    after = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]  # +60 user, +10 sys, +20 idle, +10 steal
    assert host.steal_frac(before, after) == 0.1
    assert host.steal_frac(before, before) == 0.0
