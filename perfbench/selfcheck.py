"""The benchmark's own checks: the tail-percentile rule, span self-time
arithmetic, interval unions, SQL-metric parsing and the output digest.

    python3 perfbench/selfcheck.py

Needs no Spark session; exits non-zero on the first failed check.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Span, Tracer, nearest_rank, parse_metric, self_times, tail, union_length  # noqa: E402
from verify import canon, digest  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selfcheck FAILED: {what}")
    print(f"ok  {what}")


def close(a: float, b: float) -> bool:
    return abs(a - b) < 1e-9


def main() -> None:
    # Tail rule: highest ladder percentile with >= 10 samples beyond it.
    vals = [float(i) for i in range(1, 101)]  # 1..100
    check(nearest_rank(vals, 90.0) == (90.0, 90), "nearest-rank p90 of 1..100 is 90")
    check(tail(vals) == (90.0, 90.0), "100 samples: p90 (10 beyond), not p95 (5 beyond)")
    check(tail(vals[:40]) == (30.0, 75.0), "40 samples: p75 (10 beyond)")
    check(tail(vals[:39]) == (20.0, 50.0), "39 samples: p75 leaves 9 beyond, so p50")
    check(tail(vals[:20]) == (10.0, 50.0), "20 samples: p50 (10 beyond)")
    check(tail(vals[:19]) == (19.0, None), "19 samples: no percentile qualifies, the max")
    check(tail(vals[:1000] * 10)[1] == 99.0, "1000 samples: p99 (10 beyond)")

    # Self time: duration minus the union of child intervals, clipped.
    spans = [
        Span("root", 0.0, 10.0, None, 0, 0, "r"),
        Span("a", 1.0, 4.0, 0, 0, 1, "r"),
        Span("b", 3.0, 6.0, 0, 0, 2, "r"),        # overlaps a: union 1..6
        Span("c", 9.0, 12.0, 0, 0, 3, "r"),       # clipped to 9..10
        Span("a.child", 2.0, 3.5, 1, 0, 4, "r"),  # grandchild: not root's
    ]
    own = self_times(spans)
    check(close(own[0], 10.0 - 5.0 - 1.0), "root self = 10 - |1..6| - |9..10| = 4")
    check(close(own[1], 3.0 - 1.5), "a self = 3 - 1.5")
    check(close(own[2], 3.0) and close(own[4], 1.5), "leaf self = duration")
    check(close(own[3], 3.0), "a child running past its parent keeps its own duration")

    # Tracer: nested spans get distinct indices, point at their parent, and
    # the job description returns to the parent's tag when a child ends.
    class FakeContext:
        def __init__(self):
            self.tags = []

        def setJobDescription(self, desc):  # noqa: N802 - SparkContext's name
            self.tags.append(desc)

    sc = FakeContext()
    tracer = Tracer(sc, "w")
    with tracer.span("off"):
        pass
    check(tracer.spans == [] and sc.tags == [], "a disabled tracer records nothing")
    tracer.enabled = True
    with tracer.span("outer", "req"):
        with tracer.span("inner", "req", "export"):
            pass
    by_name = {s.name: s for s in tracer.spans}
    check(by_name["inner"].parent == by_name["outer"].index != by_name["inner"].index,
          "nested span indices and parent link")
    check(sc.tags == ["w:req:author", "w:req:export", "w:req:author", None],
          "job description tags nest and clear")

    # Interval union for the driver gap.
    check(close(union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4.0), "union of overlaps")
    check(close(union_length([(-5, 1), (9, 20)], 0, 10), 2.0), "union clipped to window")
    check(union_length([], 0, 10) == 0.0, "empty union")

    # SQL-metric strings as Spark formats them.
    check(close(parse_metric("8 ms"), 0.008), "'8 ms'")
    check(close(parse_metric("1.5 s"), 1.5), "'1.5 s'")
    check(close(parse_metric("672"), 672.0), "plain count")
    check(close(parse_metric("41.2 KiB"), 41.2 * 1024), "'41.2 KiB'")
    check(close(parse_metric(
        "total (min, med, max (stageId: taskId))\n66.5 KiB (3.3 KiB, 21.2 KiB, 21.3 KiB "
        "(stage 12.0: task 17))"), 66.5 * 1024), "total form takes the total")
    check(parse_metric(None) == 0.0, "missing metric reads 0")

    # Digest: order-insensitive, column-order-insensitive, CSV-faithful.
    rows = [(1, "x", 2.5), (2, None, 1.0)]
    d1 = digest(["id", "s", "v"], rows)
    d2 = digest(["v", "id", "s"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    check(d1 == d2, "digest ignores row and column order")
    check(digest(["id", "s", "v"], [(1, "x", 2.5), (2, None, 1.5)]) != d1, "digest sees values")
    check(canon("") == canon(None), "empty string and NULL canonicalise alike (CSV)")
    check(canon(Decimal("1.50")) == "1.5" and canon(1234567.891) == "1.23457e+06", "numbers")
    check(canon(dt.date(2020, 1, 2)) == "2020-01-02", "dates")
    check(canon({"b": 1, "a": [1.0, None]}) == "{a:[1,NULL],b:1}", "structs and arrays")
    print("selfcheck passed")


if __name__ == "__main__":
    main()
