"""A bounded wait for streaming tests.

``StreamingQuery.processAllAvailable()`` has no timeout: a stream that
never drains would hang the whole suite. ``process_all_available`` runs
it on a daemon thread and joins with a timeout, so a hang stops that
query and fails that one test instead.
"""

from __future__ import annotations

import threading

import pytest

STREAM_WAIT_S = 120.0


def process_all_available(q, timeout: float = STREAM_WAIT_S) -> None:
    """``q.processAllAvailable()``, failing the calling test if it has
    not returned within ``timeout`` seconds (the query is stopped
    first). An exception raised by the wait is re-raised here."""
    raised: list[Exception] = []

    def wait() -> None:
        try:
            q.processAllAvailable()
        except Exception as e:  # re-raised on the test's thread
            raised.append(e)

    waiter = threading.Thread(target=wait, daemon=True)
    waiter.start()
    waiter.join(timeout)
    if waiter.is_alive():
        q.stop()
        pytest.fail(
            f"streaming query {q.name!r} did not drain within {timeout:g} s"
        )
    if raised:
        raise raised[0]
