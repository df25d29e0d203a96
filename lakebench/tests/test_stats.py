from lakebench import stats


def test_tail_picks_highest_percentile_with_ten_beyond():
    # 1..200: p95 = 190 leaves exactly 10 samples beyond, p99 only 2
    t = stats.tail([float(x) for x in range(1, 201)])
    assert t == {"pct": 95.0, "value": 190.0, "beyond": 10, "n": 200}


def test_tail_falls_back_down_the_ladder():
    # 1..40: p90 = 36 leaves 4 beyond, p75 = 30 leaves 10
    t = stats.tail([float(x) for x in range(1, 41)])
    assert (t["pct"], t["value"], t["beyond"]) == (75.0, 30.0, 10)


def test_tail_counts_only_samples_strictly_beyond():
    # ties at the percentile value are not "beyond" it
    values = [1.0] * 30 + [5.0] * 9
    assert stats.tail(values) is None
    t = stats.tail(values + [6.0])
    assert (t["pct"], t["value"], t["beyond"]) == (75.0, 1.0, 10)


def test_tail_none_for_too_few_samples():
    assert stats.tail([1.0] * 5) is None
    assert stats.tail([]) is None


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([]) == 0.0
