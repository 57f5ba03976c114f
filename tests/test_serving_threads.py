"""Shared serving state under concurrent requests: `http_api` runs on
a `ThreadingHTTPServer`, so the rate limiter and the result cache are
called from several threads at once."""

from __future__ import annotations

import sys
import threading

from healthcare_research_data_pipeline_project_spark.healthcare import security
from healthcare_research_data_pipeline_project_spark.sources import sinks

_THREADS = 8


def _hammer(fn, calls: int) -> list[Exception]:
    """Run `fn` `calls` times on each of `_THREADS` threads, released
    together, with a short switch interval so the threads interleave
    inside `fn`; returns what they raised."""
    errors: list[Exception] = []
    start = threading.Barrier(_THREADS)

    def work():
        start.wait(timeout=30)
        try:
            for _ in range(calls):
                fn()
        except Exception as e:  # noqa: BLE001 - returned to the test
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(_THREADS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    return errors


def test_rate_limiter_counts_every_concurrent_call():
    calls = 20_000
    rl = security.RateLimiter(max_calls=10**9, window_seconds=3600)
    assert _hammer(lambda: rl.check("ip1"), calls) == []
    # the next call sees every earlier one: no lost increment
    assert rl.check("ip1") == _THREADS * calls + 1


def test_result_cache_concurrent_expiry_does_not_raise():
    cache = sinks.ResultCache(ttl_seconds=-1.0)  # every entry expired

    def put_then_get():
        cache.put("k", [1])
        assert cache.get("k") is None

    assert _hammer(put_then_get, 5_000) == []
