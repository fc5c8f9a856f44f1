"""Summary statistics of the benchmark: medians, percentiles and failure
shares.

Kept free of I/O so `test_stats.py` can check it directly.
"""
import math


def median(xs):
    return percentile(xs, 50)


def percentile(xs, p):
    """Percentile by linear interpolation between closest ranks (the
    "inclusive" definition: p=0 is the minimum, p=100 the maximum).
    """
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    if lo == hi:
        return float(s[lo])
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def failed_share(attempted, failed):
    """Failed operations as a share of those attempted."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if failed < 0 or failed > attempted:
        raise ValueError(f"{failed} failures out of {attempted} attempts")
    return failed / attempted


def metric_value(name, raw):
    """One reported metric from a run's raw record: a single value when
    the run set one, else the median of the run's samples, else None.
    `request_p90_ms` is the 90th percentile of every request sample.
    """
    if name in raw.get("scalars", {}):
        return float(raw["scalars"][name])
    series = raw.get("series", {})
    if name == "request_p90_ms":
        xs = series.get("request_ms", [])
        return percentile(xs, 90) if xs else None
    if name.endswith("_p50_ms"):
        xs = series.get(name[: -len("_p50_ms")] + "_ms", [])
        return median(xs) if xs else None
    xs = series.get(name, [])
    return median(xs) if xs else None
