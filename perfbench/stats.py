"""Statistics of one benchmark run: medians, the tail percentile, the
failed share and span self time."""


def median(values):
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    m = len(v) // 2
    return v[m] if len(v) % 2 else (v[m - 1] + v[m]) / 2


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    pos = p / 100 * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_percentile(n, min_beyond=10):
    """Highest whole percentile with at least `min_beyond` of `n` samples
    strictly above its interpolation position; None when n is too small."""
    for p in range(99, 49, -1):
        pos = p / 100 * (n - 1)
        if n - 1 - int(pos) >= min_beyond:
            return p
    return None


def failed_share(attempted, failed):
    if attempted < 1:
        raise ValueError("no ops attempted")
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
    """Self time of each span: its duration minus the part of its interval
    that its children cover (children clipped to the parent's interval).
    `spans` are dicts with id, parent (or None), start and end."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        covered = union_length([k for k in kids if k[1] > k[0]])
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def layer_self_times(spans):
    """Sum of self time per layer over `spans`."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out
