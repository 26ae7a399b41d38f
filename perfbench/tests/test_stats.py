import pytest
import stats


def test_median_of_even_and_odd_samples():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


@pytest.mark.parametrize(
    "n, level",
    [(4, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_level_needs_ten_samples_beyond_it(n, level):
    assert stats.tail_level(n) == level


def test_summarize_reports_count_and_no_tail_for_few_batches():
    out = stats.summarize([5.0, 3.0, 4.0, 6.0])
    assert out == {"n": 4, "p50": 4.5}


def test_summarize_tail_is_nearest_rank():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    out = stats.summarize(samples)
    assert out["n"] == 100 and out["p50"] == 50.5
    assert out["tail"] == (90.0, 90.0)

