"""Latency statistics shared by every workload.

Percentiles are nearest-rank. A failed op counts as slower than every
success: its latency is replaced by FAILED_MS, the client timeout, before
any percentile is taken.

The tail is always TAIL_PCT, so `tail_ms` means the same on every run. It
is only comparable when at least MIN_BEYOND samples lie beyond it; a run
with fewer ops is flagged, never reported at another percentile.
"""
import statistics

FAILED_MS = 60000.0
TAIL_PCT = 90.0
MIN_BEYOND = 10


def rank(p, n):
    """1-based nearest rank of percentile p (tenths exact) in a sample of n."""
    return max(1, -(-round(p * 10) * n // 1000))


def tail_comparable(n):
    """Whether a sample of n has MIN_BEYOND samples beyond TAIL_PCT."""
    return n - rank(TAIL_PCT, n) >= MIN_BEYOND


def percentile(values, p):
    s = sorted(values)
    return s[rank(p, len(s)) - 1]


def latencies(ops):
    """Op latencies in ms, failed ops replaced by FAILED_MS."""
    return [o["ms"] if o["ok"] else FAILED_MS for o in ops]


def summarize(ops, seconds):
    """p50, tail at TAIL_PCT, rate and counts of a list of ops.

    `ops` are dicts with `ms` and `ok`; `seconds` is the timed span.
    `tail_comparable` is false when too few ops lie beyond the tail."""
    lat = latencies(ops)
    n = len(lat)
    out = {"attempted": n, "failed": sum(1 for o in ops if not o["ok"]),
           "tail_pct": TAIL_PCT, "tail_comparable": tail_comparable(n)}
    if n == 0:
        return out
    out.update({
        "p50_ms": percentile(lat, 50.0),
        "tail_ms": percentile(lat, TAIL_PCT),
        "ops_per_s": (n - out["failed"]) / seconds if seconds > 0 else 0.0,
    })
    return out


def iqr_share(values):
    """Distance between the first and third quartile as a share of the median."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)
