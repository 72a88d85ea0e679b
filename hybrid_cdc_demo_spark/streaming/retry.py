"""Retry policy — math and classification of reference src/sinks/retry.py.

``calculate_backoff`` (retry.py:38-70): delay = base * mult^(n-1),
capped, ±25% deterministic-seeded jitter. ``is_retryable_error``
(retry.py:73-121): substring classification into retryable (transient
network/db) vs permanent. ``with_retry`` (retry.py:124-194): loop used
around sink writes inside foreachBatch — Spark task retries cover
compute; this covers the sink edge.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class RetryPolicy:
    # defaults: reference src/config/settings.py:98-106
    max_attempts: int = 5
    base_delay_seconds: float = 0.1
    multiplier: float = 2.0
    max_delay_seconds: float = 30.0
    jitter_fraction: float = 0.25

    def __post_init__(self):
        # with_retry never calls the write at max_attempts=0: every
        # valid row of every batch would go to the DLQ
        if self.max_attempts < 1:
            raise ValueError("retry.max_attempts must be >= 1")
        if not 0 <= self.jitter_fraction <= 1:
            raise ValueError("retry.jitter_fraction must be in [0, 1]")


RETRYABLE_SUBSTRINGS = (
    "connection refused",
    "connection reset",
    "timeout",
    "timed out",
    "temporarily unavailable",
    "too many connections",
    "broken pipe",
    "eof",
    "network",
    "unavailable",
)

PERMANENT_SUBSTRINGS = (
    "syntax error",
    "permission denied",
    "authentication",
    "does not exist",
    "duplicate key",
    "constraint",
    "invalid input",
)


def is_retryable_error(error: BaseException | str) -> bool:
    msg = str(error).lower()
    if any(s in msg for s in PERMANENT_SUBSTRINGS):
        return False
    return any(s in msg for s in RETRYABLE_SUBSTRINGS)


def calculate_backoff(
    attempt: int, policy: RetryPolicy = RetryPolicy(), rng: random.Random | None = None
) -> float:
    """Delay before attempt N (1-based), capped exponential ±jitter."""
    if attempt < 1:
        raise ValueError("attempt is 1-based")
    raw = policy.base_delay_seconds * (policy.multiplier ** (attempt - 1))
    capped = min(raw, policy.max_delay_seconds)
    rng = rng or random
    jitter = capped * policy.jitter_fraction * (2 * rng.random() - 1)
    return max(capped + jitter, 0.0)


class RetryExhausted(Exception):
    def __init__(self, attempts: int, last_error: BaseException):
        super().__init__(f"retry exhausted after {attempts} attempts: {last_error}")
        self.attempts = attempts
        self.last_error = last_error


def with_retry(
    fn,
    policy: RetryPolicy = RetryPolicy(),
    sleep=time.sleep,
    rng: random.Random | None = None,
    on_retry=None,
):
    """Run ``fn()``; retry retryable errors per policy. Permanent errors
    raise immediately (→ DLQ routing by the caller)."""
    last: BaseException | None = None
    for attempt in range(1, policy.max_attempts + 1):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — classification decides
            last = exc
            if not is_retryable_error(exc) or attempt == policy.max_attempts:
                if attempt == policy.max_attempts and is_retryable_error(exc):
                    raise RetryExhausted(attempt, exc) from exc
                raise
            if on_retry:
                on_retry(attempt, exc)
            sleep(calculate_backoff(attempt, policy, rng))
    raise RetryExhausted(policy.max_attempts, last)  # pragma: no cover
