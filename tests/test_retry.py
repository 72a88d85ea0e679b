"""Backoff math + error classification parity (reference
src/sinks/retry.py:38-121; defaults settings.py:98-106)."""

import random

import pytest

from hybrid_cdc_demo_spark.streaming.retry import (
    RetryExhausted,
    RetryPolicy,
    calculate_backoff,
    is_retryable_error,
    with_retry,
)


class _FixedRng:
    def __init__(self, value: float):
        self.value = value

    def random(self):
        return self.value


def test_backoff_exponential_and_cap():
    policy = RetryPolicy()
    mid = _FixedRng(0.5)  # zero jitter
    assert calculate_backoff(1, policy, mid) == pytest.approx(0.1)
    assert calculate_backoff(2, policy, mid) == pytest.approx(0.2)
    assert calculate_backoff(3, policy, mid) == pytest.approx(0.4)
    assert calculate_backoff(5, policy, mid) == pytest.approx(1.6)
    # cap at 30 s: 0.1 * 2^19 >> 30
    assert calculate_backoff(20, policy, mid) == pytest.approx(30.0)


def test_backoff_jitter_bounds():
    policy = RetryPolicy()
    rng = random.Random(42)
    for attempt in range(1, 10):
        base = min(0.1 * 2 ** (attempt - 1), 30.0)
        for _ in range(50):
            d = calculate_backoff(attempt, policy, rng)
            assert base * 0.75 - 1e-9 <= d <= base * 1.25 + 1e-9


def test_error_classification():
    assert is_retryable_error("connection refused by host")
    assert is_retryable_error(TimeoutError("operation timed out"))
    assert not is_retryable_error("syntax error at or near SELECT")
    assert not is_retryable_error("permission denied for table users")
    assert not is_retryable_error("some unknown failure")  # conservative


def test_with_retry_recovers():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("connection reset by peer")
        return "ok"

    assert with_retry(flaky, RetryPolicy(), sleep=lambda _: None) == "ok"
    assert calls["n"] == 3


def test_with_retry_permanent_raises_immediately():
    calls = {"n": 0}

    def broken():
        calls["n"] += 1
        raise ValueError("syntax error in statement")

    with pytest.raises(ValueError):
        with_retry(broken, RetryPolicy(), sleep=lambda _: None)
    assert calls["n"] == 1


def test_with_retry_exhaustion():
    def always_down():
        raise ConnectionError("connection refused")

    with pytest.raises(RetryExhausted):
        with_retry(
            always_down, RetryPolicy(max_attempts=3), sleep=lambda _: None
        )


def test_policy_rejects_zero_attempts():
    # with_retry would never call the write and DLQ every batch
    with pytest.raises(ValueError, match="max_attempts"):
        RetryPolicy(max_attempts=0)


def test_policy_rejects_jitter_outside_unit_interval():
    with pytest.raises(ValueError, match="jitter_fraction"):
        RetryPolicy(jitter_fraction=1.5)
    with pytest.raises(ValueError, match="jitter_fraction"):
        RetryPolicy(jitter_fraction=-0.1)
