"""Pure reductions used by run.py: percentiles, span self time, and the
per-pass and per-key layer sums. Kept free of I/O so the self-tests in
perfbench/tests can check them directly."""
import math
import statistics

# Per-layer counts that are point samples, not additive: a pass reports
# their maximum over its queries instead of their sum.
PEAK_COUNTS = {"cache.peak_bytes", "cache.blocks"}


def rank(n, q):
    """1-based nearest rank of the q-percentile among n samples (a
    tolerance keeps 0.9 * 100 from rounding up to rank 91)."""
    return min(n, max(1, math.ceil(q * n - 1e-9)))


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least a
    share q of all samples at or below it."""
    if not xs:
        raise ValueError("no samples")
    return sorted(xs)[rank(len(xs), q) - 1]


def beyond(n, q):
    """Number of samples strictly after the nearest-rank q-percentile."""
    return n - rank(n, q)


def tail_quantile(n, want=0.9, need_beyond=10):
    """The highest percentile, at most `want`, that leaves at least
    `need_beyond` of n samples beyond it; None when n is too small to
    leave any. With n >= 100 this is `want` itself for want = 0.9."""
    if n <= need_beyond:
        return None
    q = min(want, (n - need_beyond) / n)
    while beyond(n, q) < need_beyond:
        q -= 1.0 / n
    return q


def self_times(spans):
    """{span id: duration minus the part of it that child spans cover}.
    Children may overlap each other (parallel stages); their union is
    clipped to the parent's interval before it is subtracted."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted((max(c["start"], lo), min(c["end"], hi))
                           for c in children.get(s["id"], [])):
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def exec_layers(execs, spans):
    """Per traced execution: the layer counts of its query span and of
    its build and action children, summed, plus build.ms."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    out = []
    for e in execs:
        if not e["traced"] or e["span"] not in by_id:
            continue
        counts = dict(by_id[e["span"]]["counts"])
        for c in by_parent.get(e["span"], []):
            for k, v in c["counts"].items():
                counts[k] = counts.get(k, 0.0) + v
        counts["build.ms"] = e["build_ms"]
        counts["wall_ms"] = e["build_ms"] + e["action_ms"]
        out.append((e, counts))
    return out


def sum_layers(records, cores):
    """One pass's (or one key's) layer totals from its executions'
    counts; exec.busy_frac is task time over cores x query wall."""
    tot = {}
    for counts in records:
        for k, v in counts.items():
            tot[k] = max(tot.get(k, 0.0), v) if k in PEAK_COUNTS else tot.get(k, 0.0) + v
    wall = tot.pop("wall_ms", 0.0)
    tot["exec.busy_frac"] = tot.get("exec.task_ms", 0.0) / (cores * wall) if wall else 0.0
    return tot


def median_of(dicts, names):
    """Per name, the median over dicts (missing counts are 0)."""
    return {n: statistics.median([d.get(n, 0.0) for d in dicts]) for n in names}
