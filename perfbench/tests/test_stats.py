from stats import MIN_BEYOND, median, percentile


def test_percentile_needs_ten_samples_beyond_it():
    # p50 of n samples has n - ceil(n/2) samples above it
    assert percentile(list(range(19)), 0.5) is None  # 9 beyond
    assert percentile(list(range(20)), 0.5) == 9     # 10 beyond
    # p90 needs 100 samples
    assert percentile(list(range(99)), 0.9) is None
    assert percentile(list(range(100)), 0.9) == 89
    assert MIN_BEYOND == 10


def test_percentile_is_nearest_rank_on_unsorted_input():
    samples = [5.0, 1.0, 4.0, 2.0, 3.0] * 8  # 40 samples
    assert percentile(samples, 0.5) == 3.0
    assert percentile(samples, 0.75) == 4.0  # rank 30, 10 beyond
    assert percentile(samples, 0.8) is None  # rank 32, 8 beyond


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
