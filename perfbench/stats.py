"""Pure-Python helpers for the benchmark: percentiles, generator
lateness, slice-to-batch mapping, backlog growth and span self time.
Nothing here imports Spark, so the tests run without a JVM."""

from __future__ import annotations

import bisect
import math
import statistics

#: candidate percentiles, highest first; the reported tail is the
#: highest one that still has MIN_BEYOND samples above it
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile among n samples (the
    epsilon keeps 99.9% of 10,000 at rank 9,990 despite float error)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    return v[_rank(len(v), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - _rank(n, p)


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest percentile of PERCENTILES with at least `min_beyond`
    samples beyond it among n samples, or None when even p50 lacks
    them."""
    for p in PERCENTILES:
        if beyond(n, p) >= min_beyond:
            return p
    return None


def summarize(values) -> dict:
    """Median, the supported tail and the sample count of one series."""
    n = len(values)
    tail = tail_percentile(n)
    out = {"n": n, "p50": percentile(values, 50) if n else None,
           "tail_p": tail}
    if tail is not None:
        out["tail"] = percentile(values, tail)
    return out


def lateness(due, actual) -> dict:
    """Generator lateness: how far each delivery ran behind its due time
    (seconds in, milliseconds out; early deliveries count as 0)."""
    late = [max(0.0, (a - d) * 1000.0) for d, a in zip(due, actual)]
    if not late:
        return {"n": 0, "max_ms": 0.0, "p50_ms": 0.0, "over_10ms": 0}
    return {"n": len(late), "max_ms": max(late),
            "p50_ms": statistics.median(late),
            "over_10ms": sum(x > 10.0 for x in late)}


def slices_to_batches(slice_rows, batch_rows) -> list[int | None]:
    """Index of the micro-batch that committed each slice.

    A file source with no reordering consumes slices in delivery
    order, so slice i lands in the first batch whose cumulative
    committed rows reach the cumulative rows through slice i. Slices
    past the last committed row map to None."""
    cum_batch, total = [], 0
    for r in batch_rows:
        total += r
        cum_batch.append(total)
    out, total = [], 0
    for r in slice_rows:
        total += r
        k = bisect.bisect_left(cum_batch, total)
        out.append(k if k < len(cum_batch) else None)
    return out


def backlog_grows(times, backlog, tolerance: float) -> bool:
    """True when the least-squares trend of backlog samples rises by
    more than `tolerance` over the sampled span: the input rate is
    above what the system drains."""
    n = len(times)
    if n < 3:
        return False
    mt, mb = sum(times) / n, sum(backlog) / n
    var = sum((t - mt) ** 2 for t in times)
    if var == 0:
        return False
    slope = sum((t - mt) * (b - mb) for t, b in zip(times, backlog)) / var
    return slope * (max(times) - min(times)) > tolerance


def union_ms(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[str, float]:
    """Per span name, the summed duration not covered by child spans."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - union_ms(kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
