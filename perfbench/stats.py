"""Statistics of the benchmark: percentiles with their sample counts,
span self time, recall, and run-to-run spread. Pure functions over the
raw record the JVM writes; tested by test_stats.py.
"""
import statistics

# percentiles a timing may report, highest first
TAILS = (99.9, 99.0, 90.0, 50.0)


def percentile(values, pct):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n):
    """Highest reportable percentile for n samples: the highest with at
    least ten samples beyond it, or None when even the median has fewer.
    """
    for p in TAILS:
        # rounded: 100 * (1 - 0.9) is 9.999... in floating point
        if round(n * (100.0 - p) / 100.0, 6) >= 10:
            return p
    return None


def summary(values):
    """p50/p90/p99/max of a timing with its sample count and the highest
    percentile the count supports."""
    n = len(values)
    if n == 0:
        return {"n": 0}
    return {"n": n, "p50": percentile(values, 50), "p90": percentile(values, 90),
            "p99": percentile(values, 99), "max": max(values),
            "tail_pct": tail_pct(n)}


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its children cover (overlapping children count once).

    `spans` is a list of [name, start_us, end_us, parent_index, run_id];
    returns a list of self times in microseconds, index-aligned.
    """
    children = {}
    for i, s in enumerate(spans):
        if s[3] is not None and s[3] >= 0:
            children.setdefault(s[3], []).append(i)
    out = []
    for i, (name, start, end, _parent, _run) in enumerate(spans):
        ivs = sorted((max(start, spans[c][1]), min(end, spans[c][2]))
                     for c in children.get(i, []))
        covered = 0
        cur_s = cur_e = None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(max(0, (end - start) - covered))
    return out


def self_time_by_layer(spans, since_us=None):
    """Total self time (ms) and span count per span name, over the spans
    that start at or after `since_us` (all when None)."""
    agg = {}
    for s, t in zip(spans, self_times(spans)):
        if since_us is not None and s[1] < since_us:
            continue
        ms, n = agg.get(s[0], (0.0, 0))
        agg[s[0]] = (ms + t / 1000.0, n + 1)
    return {k: {"self_ms": round(v[0], 3), "spans": v[1]} for k, v in agg.items()}


def recall(found, exact, k):
    """found ∩ exact top-k over all queries ÷ (k × queries). Queries with
    no result count as zero hits."""
    if not exact:
        return None
    hits = 0
    for q, want in exact.items():
        hits += len(set(found.get(q, [])[:k]) & set(want[:k]))
    return hits / float(k * len(exact))


def spread(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles with n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
