"""Pure functions over recorded intervals, spans and jobs.

Times are epoch seconds (floats) unless a name says otherwise.
"""
import statistics


def union_length(intervals):
    """Total length covered by the union of `(start, end)` intervals.

    Overlapping Spark jobs (concurrent family blocks) are counted once, so
    `wall - union_length(jobs)` can never go negative, unlike `wall - sum`.
    """
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` inside `[lo, hi]`."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


class Span:
    """A named interval with a parent; `self_time` excludes what its
    children cover."""

    def __init__(self, name, start, end, parent=None):
        self.name, self.start, self.end, self.parent = name, start, end, parent
        self.children = []
        if parent is not None:
            parent.children.append(self)

    @property
    def duration(self):
        return self.end - self.start

    def self_time(self):
        covered = union_length(clip([(c.start, c.end) for c in self.children],
                                    self.start, self.end))
        return self.duration - covered

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def self_times(roots):
    """Total self time per span name over every span under `roots`."""
    out = {}
    for r in roots:
        for s in r.walk():
            out[s.name] = out.get(s.name, 0.0) + s.self_time()
    return out
