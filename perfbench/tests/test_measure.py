"""The runner's arithmetic: percentile and sample-count rule, failure
fraction, span self time.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402
from measure import Span  # noqa: E402


def test_percentile_nearest_rank():
    values = [float(v) for v in range(1, 101)]  # 1..100, shuffled order irrelevant
    assert measure.percentile(list(reversed(values)), 50) == 50.0
    assert measure.percentile(values, 90) == 90.0
    assert measure.percentile(values, 100) == 100.0
    assert measure.percentile([7.0], 90) == 7.0
    assert measure.percentile([1.0, 2.0, 3.0], 50) == 2.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        measure.percentile([], 50)
    with pytest.raises(ValueError):
        measure.percentile([1.0], 0)


def test_tail_needs_ten_samples_above():
    # 100 samples: p90 is the 90th value, ten lie above it
    hundred = [float(v) for v in range(100)]
    assert measure.samples_above(hundred, 90) == 10
    assert measure.tail_supported(hundred, 90)
    # 99 samples: p90 is the 90th value (ceil(89.1)), nine lie above it
    assert measure.samples_above(hundred[:99], 90) == 9
    assert not measure.tail_supported(hundred[:99], 90)
    # ties at the cut are not "above" it
    assert measure.samples_above([1.0] * 50, 90) == 0
    assert not measure.tail_supported([], 90)


def test_median_odd_and_even():
    assert measure.median([3.0, 1.0, 2.0]) == 2.0
    assert measure.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        measure.median([])


def test_failed_frac():
    assert measure.failed_frac(0, 40) == 0.0
    assert measure.failed_frac(3, 12) == 0.25
    with pytest.raises(ValueError):
        measure.failed_frac(0, 0)
    with pytest.raises(ValueError):
        measure.failed_frac(5, 4)


def test_covered_merges_and_clips():
    assert measure.covered([], 0, 10) == 0.0
    assert measure.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5.0
    assert measure.covered([(-5, 2), (9, 20)], 0, 10) == 3.0
    assert measure.covered([(4, 4), (6, 5)], 0, 10) == 0.0


def test_self_time_subtracts_child_cover():
    q = Span("query", 0.0, 10.0)
    build = Span("build", 1.0, 6.0, q)
    read = Span("catalog.read", 2.0, 3.0, build)
    read2 = Span("catalog.read", 2.5, 4.0, build)
    exec_ = Span("exec", 5.0, 9.0, q)  # overlaps build by one second
    spans = [q, build, read, read2, exec_]
    assert measure.self_time(q, spans) == pytest.approx(2.0)  # 10 - |[1, 9]|
    assert measure.self_time(build, spans) == pytest.approx(3.0)  # 5 - |[2, 4]|
    assert measure.self_time(read, spans) == pytest.approx(1.0)
    # grandchildren do not count against the grandparent
    assert measure.self_time(exec_, spans) == pytest.approx(4.0)
