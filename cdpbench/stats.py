"""Percentiles with sample counts, and peak memory of a process tree."""

from __future__ import annotations

import math
import os
import statistics
import threading

TAIL_MIN_BEYOND = 10  # a tail percentile is kept only with this many samples past it


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_supported(n: int, q: float) -> bool:
    """True when at least TAIL_MIN_BEYOND of ``n`` samples lie beyond the
    ``q``-quantile, so the percentile is measured rather than extrapolated."""
    return round(n * (1.0 - q), 9) >= TAIL_MIN_BEYOND


def summary(values: list[float], tails=(0.9, 0.99)) -> dict:
    """{"n", "p50", and each supported tail "p90"/"p99"}."""
    out = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        for q in tails:
            if tail_supported(len(values), q):
                out[f"p{round(q * 100)}"] = percentile(values, q)
    return out


def _children_table() -> dict[int, list[int]]:
    """Children by parent pid, for every live process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we listed
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(name))
    return children


def descendants(root: int, children: dict[int, list[int]] | None = None) -> list[int]:
    """Pids of every live descendant of ``root``."""
    if children is None:
        children = _children_table()
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by forked processes (the Python
    workers) are split between them instead of counted in each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # exited while we listed
    return 0


def tree_pss_kb(root: int) -> int:
    """Memory of ``root`` and all its descendants (sum of PSS)."""
    return sum(_pss_kb(p) for p in [root, *descendants(root)])


class PeakRss:
    """Samples the memory (PSS) of this process and its descendants (the
    JVM, its Python workers, the load generator) every ``interval`` seconds
    and keeps the peak. One sample of a JVM with a 2 GB heap costs ~35 ms of
    CPU in this process; at 1 s it takes little from the engine's driver
    thread, and the peak, set by the pre-touched heap, is a plateau."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
