import pytest

import stats


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(39) == 50.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(199) == 90.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    for n in range(1, 500):
        p = stats.tail_percentile(n)
        if p is not None:
            assert stats.beyond(n, p) >= stats.MIN_BEYOND


def test_summarize_reports_count_and_refuses_short_tails():
    vals = [float(v) for v in range(1, 41)]
    s = stats.summarize(vals, 75.0)
    assert s == {"n": 40, "p50": 20.5, "tail_p": 75.0, "tail": 30.0}
    with pytest.raises(ValueError):
        stats.summarize(vals[:39], 75.0)
    assert stats.summarize(vals[:3], 50.0)["tail"] == 2.0
