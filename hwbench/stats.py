"""Statistics and trace arithmetic used by run.py (pure functions)."""
import statistics

MIN_BEYOND = 10   # samples that must lie beyond a reported percentile


def percentile(values, p):
    """Linear-interpolated p-th percentile (0 <= p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def supports(n, p):
    """True when n samples leave at least MIN_BEYOND beyond the p-th
    percentile, the rule for reporting a tail percentile."""
    return n * (100 - p) / 100.0 >= MIN_BEYOND - 1e-9


def tail(values, p):
    """The p-th percentile, refused when the sample cannot support it."""
    if not supports(len(values), p):
        raise ValueError(f"p{p} needs {MIN_BEYOND} samples beyond it; "
                         f"have {len(values)} samples")
    return percentile(values, p)


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def failed_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans):
    """Self time per span id: its duration minus the part of its
    interval covered by its children (clipped to the parent)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
            for c in kids.get(s["id"], []) if c["t1"] > s["t0"] and c["t0"] < s["t1"])
        out[s["id"]] = max(0.0, (s["t1"] - s["t0"]) - covered)
    return out


def layer_self_times(spans):
    """Sum of self time per layer."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out
