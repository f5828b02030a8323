from perfbench import host


def test_cpu_ticks_reads_steal_and_total():
    steal, total = host.cpu_ticks()
    assert 0 <= steal <= total and total > 0


def test_steal_frac_is_the_steal_share_between_readings():
    assert host.steal_frac((10, 1000), (60, 1500)) == 0.1
    assert host.steal_frac((10, 1000), (10, 1000)) == 0.0
