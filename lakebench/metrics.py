"""Pure metric math of the benchmark: percentiles, interval unions, span
self time and byte accounting. No I/O, so the
benchmark's own tests (tests/test_metrics.py) cover every formula."""
import statistics

# Percentiles the tail metric may report, highest first.
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 60.0, 50.0)
TAIL_BEYOND = 10


def rank(n, p):
    """Nearest rank of the p-th percentile among n samples (1-based)."""
    return int(min(n, max(1, -(-n * p // 100))))  # ceil(n * p / 100)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[rank(len(s), p) - 1]


def tail(values):
    """The highest ladder percentile with at least TAIL_BEYOND samples
    ranked beyond it, as (value, percentile, n). Counting by rank, not by
    value, keeps the choice independent of ties (events made visible by
    one micro-batch share a latency). A run with too few samples for any
    ladder step reports its maximum as p100."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - rank(n, p) >= TAIL_BEYOND:
            return percentile(values, p), p, n
    return max(values), 100.0, n


def median(values):
    return statistics.median(values) if values else 0.0


def paired_overhead(traced, untraced):
    """Tracing overhead from samples paired by name ({name: [wall, ...]}):
    per name present on both sides, median traced minus median untraced;
    then the median of those differences. Pairing keeps the result free of
    which names happened to land on which side."""
    diffs = [median(traced[k]) - median(untraced[k])
             for k in sorted(traced) if traced[k] and untraced.get(k)]
    return median(diffs)


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, lo, hi):
    s, e = max(interval[0], lo), min(interval[1], hi)
    return (s, e) if e > s else (s, s)


def gap_ms(op_start, op_end, stage_intervals):
    """Scheduling gap: op wall minus the union of its stage intervals
    (clipped to the op)."""
    clipped = [clip(i, op_start, op_end) for i in stage_intervals]
    return (op_end - op_start) - union_length(clipped)


def self_times(spans):
    """Self time of every span of one op tree.

    `spans` maps id -> (start, end, parent_id, depth). Every instant of
    the root's interval is charged to exactly one span: the deepest one
    active then (ties to the earliest start, then the smallest id), so
    self times sum to the root's wall time. Children are clipped to
    their parent."""
    spans = dict(spans)
    roots = [k for k, v in spans.items() if v[2] is None]
    if len(roots) != 1:
        raise ValueError("an op tree needs exactly one root span")
    # clip each span to its parent, top-down by depth
    clipped = {}
    for k, (s, e, parent, depth) in sorted(spans.items(), key=lambda kv: kv[1][3]):
        if parent is not None:
            ps, pe = clipped[parent][:2]
            s, e = clip((s, e), ps, pe)
        clipped[k] = (s, e, parent, depth)
    cuts = sorted({t for s, e, _, _ in clipped.values() for t in (s, e)})
    out = {k: 0.0 for k in clipped}
    for a, b in zip(cuts, cuts[1:]):
        active = [k for k, (s, e, _, _) in clipped.items() if s <= a and e >= b]
        if active:
            owner = min(active, key=lambda k: (-clipped[k][3], clipped[k][0], str(k)))
            out[owner] += b - a
    return out


def written_bytes(listings):
    """Bytes written across a sequence of directory listings
    ({path: size} snapshots in time order): every file that appears, or
    whose size changes, between consecutive snapshots counts once at its
    new size. Files created and deleted between two snapshots are not
    seen. Returns (bytes, files)."""
    total, files = 0, 0
    for prev, cur in zip(listings, listings[1:]):
        for path, size in cur.items():
            if prev.get(path) != size:
                total += size
                files += 1
    return total, files


def write_amp(written, landed):
    """Bytes written by the layer under test per input byte."""
    return written / landed if landed else 0.0
