import pytest

from perfbench.stats import (
    FingerprintMismatch,
    check_fingerprints,
    quartile_spread,
    tail,
)


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    t = tail(xs)
    assert t == {"value": 90.0, "pct": 90, "n": 100}
    assert sum(1 for x in xs if x > t["value"]) == 10


def test_tail_percentile_falls_with_sample_count():
    t = tail([float(x) for x in range(1, 41)])
    assert t["pct"] == 75 and t["n"] == 40
    assert sum(1 for x in range(1, 41) if x > t["value"]) >= 10
    t = tail([float(x) for x in range(1, 21)])
    assert t["pct"] == 50


def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    assert tail([]) is None
    assert tail([float(x) for x in range(11)])["pct"] >= 1


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail(xs) == tail(sorted(xs))


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0
    assert quartile_spread([8, 9, 10, 11, 12]) == pytest.approx((11.5 - 8.5) / 10)


def test_fingerprint_mismatch_is_refused():
    a = {"replay_bulk/1": {"content_hash": "aa", "events": 10}}
    same = {"replay_bulk/1": {"content_hash": "aa", "events": 10},
            "replay_bulk/2": {"content_hash": "bb", "events": 10}}
    check_fingerprints(a, same)  # shared keys agree; extra keys are fine
    changed = {"replay_bulk/1": {"content_hash": "ab", "events": 10}}
    with pytest.raises(FingerprintMismatch, match="replay_bulk/1"):
        check_fingerprints(a, changed)
