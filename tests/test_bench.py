"""bench.py's fresh-session latency subprocess; no JVM starts."""
from __future__ import annotations

import subprocess

import bench


def test_latency_subprocess_timeout_routes_to_aged_fallback(monkeypatch):
    seen = {}

    def hung(cmd, **kw):
        seen.update(kw)
        raise subprocess.TimeoutExpired(cmd, kw["timeout"])

    monkeypatch.setattr(bench.subprocess, "run", hung)
    timings, why = bench.fresh_latency()
    assert seen["timeout"] == bench.LATENCY_TIMEOUT_S
    assert timings is None
    assert why == f"subprocess timed out after {bench.LATENCY_TIMEOUT_S} s"
