from xmlbench.run import highest_percentile


def test_highest_percentile_keeps_ten_samples_beyond_it():
    assert highest_percentile(5) == 50
    assert highest_percentile(20) == 50
    assert highest_percentile(40) == 75
    assert highest_percentile(100) == 90
