import pytest

import pbstats
from pbstats import Sample


def test_nearest_rank_percentiles():
    vals = list(range(1, 101))  # 1..100
    assert pbstats.nearest_rank(vals, 50) == 50
    assert pbstats.nearest_rank(vals, 90) == 90
    assert pbstats.nearest_rank(vals, 99) == 99
    assert pbstats.nearest_rank(vals, 100) == 100
    assert pbstats.nearest_rank([7.0], 50) == 7.0
    assert pbstats.nearest_rank(list(reversed(vals)), 50) == 50
    with pytest.raises(ValueError):
        pbstats.nearest_rank([], 50)


def test_tail_needs_ten_samples_beyond():
    assert pbstats.tail_percentile(19) is None
    assert pbstats.tail_percentile(20) == 50.0  # ranks 11..20 lie beyond p50
    assert pbstats.tail_percentile(40) == 75.0
    assert pbstats.tail_percentile(100) == 90.0
    assert pbstats.tail_percentile(200) == 95.0
    assert pbstats.tail_percentile(1000) == 99.0
    assert pbstats.tail_percentile(10_000) == 99.9
    for n in (20, 57, 100, 333, 10_000):
        pct = pbstats.tail_percentile(n)
        beyond = sum(1 for v in range(1, n + 1) if v > pbstats.nearest_rank(range(1, n + 1), pct))
        assert beyond >= pbstats.TAIL_MIN_BEYOND


def test_summarize_reports_p50_tail_and_count():
    vals = [float(v) for v in range(1, 101)]
    s = pbstats.summarize(vals)
    assert s == {"n": 100, "p50_ms": 50.5, "tail_pct": 90.0, "tail_ms": 90.0}
    few = pbstats.summarize([3.0, 1.0, 2.0])
    assert few["p50_ms"] == 2.0 and few["tail_pct"] is None and few["tail_ms"] is None


def _cycle(c, walls, ops=("a", "b", "c")):
    return [Sample(c, i, ops[i], w, True) for i, w in enumerate(walls)]


def test_whole_cycles_drops_incomplete_cycles():
    samples = _cycle(0, [1, 1, 1]) + _cycle(1, [2, 2, 2]) + _cycle(2, [3, 3])
    kept = pbstats.whole_cycles(samples, 3)
    assert {s.cycle for s in kept} == {0, 1}
    assert len(kept) == 6
    # order inside a cycle follows the sequence index, not arrival
    shuffled = list(reversed(_cycle(5, [1, 2, 3])))
    assert [s.index for s in pbstats.whole_cycles(shuffled, 3)] == [0, 1, 2]


def test_throughput_and_ok_frac():
    samples = _cycle(0, [0.5, 0.25, 0.25]) + _cycle(1, [0.5, 0.25, 0.25])
    assert pbstats.ops_per_s(samples) == pytest.approx(6 / 2.0)
    bad = samples[:-1] + [Sample(1, 2, "c", 0.25, False)]
    assert pbstats.ok_frac(bad) == pytest.approx(5 / 6)
    assert pbstats.ok_frac([]) == 0.0
    assert pbstats.cycle_walls_ms(samples) == [pytest.approx(1000.0)] * 2


def test_by_op_keeps_one_operation_type_per_series():
    samples = _cycle(0, [0.001, 0.002, 0.003]) + _cycle(1, [0.004, 0.005, 0.006])
    series = pbstats.by_op(samples)
    assert series == {"a": [1.0, 4.0], "b": [2.0, 5.0], "c": [3.0, 6.0]}


def test_gmean():
    assert pbstats.gmean([1.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        pbstats.gmean([1.0, 0.0])
