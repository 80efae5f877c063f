"""Pure helpers for the benchmark: summary statistics, interval arithmetic
for self time, and the byte ledger behind write and space amplification.

Nothing here touches Spark, so the unit tests in ``test_lakebench.py``
run without a JVM.
"""

from __future__ import annotations

import math
import os
import statistics
from typing import Iterable, Sequence


def median(xs: Sequence[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def geomean(xs: Sequence[float]) -> float:
    if not xs or any(x <= 0 for x in xs):
        raise ValueError(f"geomean needs positive samples, got {list(xs)}")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# percentiles reported in a tail summary, lowest first
_TAIL_PCTS = (90.0, 99.0, 99.9)


def tail(xs: Sequence[float]) -> dict:
    """Sample count, median and the highest percentile that still has at
    least ten samples beyond it (none when there are fewer than 100)."""
    out = {"n": len(xs), "p50": median(xs)}
    s = sorted(xs)
    for p in reversed(_TAIL_PCTS):
        if round(len(s) * (100 - p) / 100, 9) >= 10:
            # nearest-rank percentile
            out[f"p{p:g}"] = s[min(len(s) - 1, math.ceil(p / 100 * len(s)) - 1)]
            break
    return out


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals; empty or inverted intervals cover nothing."""
    total = 0.0
    cur_s = cur_e = None
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


def self_time(
    start: float, end: float, covered: Iterable[tuple[float, float]]
) -> float:
    """A span's duration minus the part of ``[start, end]`` that the
    ``covered`` intervals (child spans, Spark jobs) overlap."""
    clipped = [(max(s, start), min(e, end)) for s, e in covered]
    return (end - start) - union_length(clipped)


class ByteLedger:
    """Bytes written under a set of table roots, found by listing them.

    Every file the engine writes is immutable once published (data files
    and log objects get fresh names), so a file counts as written the
    first time a scan sees its ``(path, size, mtime)``; a rewrite in place
    shows as a new identity and counts again. ``scan`` is called between
    operations, outside the timed region."""

    def __init__(self, roots: Iterable[str] = ()):
        self.roots = list(roots)
        self.seen: set[tuple[str, int, int]] = set()
        self.written = 0
        self.on_disk = 0

    def add_root(self, root: str) -> None:
        self.roots.append(root)

    def listing(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root in self.roots:
            for dirpath, _dirs, files in os.walk(root):
                for fn in files:
                    p = os.path.join(dirpath, fn)
                    try:
                        st = os.stat(p)
                    except FileNotFoundError:
                        continue
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def scan(self) -> int:
        """Account every file not seen before; returns the bytes newly
        written since the previous scan."""
        listing = self.listing()
        new = 0
        for p, (size, mtime) in listing.items():
            ident = (p, size, mtime)
            if ident not in self.seen:
                self.seen.add(ident)
                new += size
        self.written += new
        self.on_disk = sum(size for size, _m in listing.values())
        return new
