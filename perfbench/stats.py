"""The goodput formula of the serve workload (pure Python)."""

from __future__ import annotations


def goodput(latencies: list[float | None], limit_s: float, window_s: float) -> float:
    """Requests per second that completed correctly within ``limit_s``.
    ``None`` marks a failed or wrong request."""
    ok = sum(1 for x in latencies if x is not None and x <= limit_s)
    return ok / window_s
