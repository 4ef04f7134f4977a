import pytest

from perfbench import stats


def test_min_samples_leave_ten_beyond():
    assert stats.min_samples(50) == 20
    assert stats.min_samples(80) == 50
    assert stats.min_samples(90) == 100
    assert stats.min_samples(95) == 200


def test_percentile_refuses_a_thin_tail():
    with pytest.raises(ValueError):
        stats.percentile(range(99), 90)
    with pytest.raises(ValueError):
        stats.percentile(range(49), 80)
    assert stats.percentile(range(1, 101), 90) == 90
    assert stats.percentile(range(1, 51), 80) == 40


def test_percentile_is_order_free():
    xs = [5.0, 1.0, 3.0] * 40
    assert stats.percentile(xs, 90) == stats.percentile(sorted(xs), 90) == 5.0


def test_quantile_has_no_sample_rule():
    assert stats.quantile([1.0, 2.0, 3.0], 99) == 3.0
    assert stats.quantile([1.0, 2.0, 3.0], 50) == 2.0


@pytest.mark.parametrize("name", ["setup_s", "request_ms_p75", "spark.gc_s",
                                  "pipeline.dedup.exact_dedup.jobs", "a-b", "9x"])
def test_metric_name_ok(name):
    assert stats.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "has space", "p/s", "x" * 65, "é"])
def test_metric_name_refused(name):
    with pytest.raises(ValueError):
        stats.check_name(name)
