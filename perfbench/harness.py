"""Measurement helpers shared by the benchmark workloads.

Everything here is pure Python (no Spark import), so the self-tests in
``test_harness.py`` run without a JVM.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import time

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
# Percentiles a tail may be reported at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise ValueError.

    A name starts with a letter or digit, uses only letters, digits, ``_``,
    ``.`` and ``-``, and has at most 64 characters.
    """
    if (
        not isinstance(name, str)
        or not METRIC_NAME_RE.fullmatch(name)
        or not name[0].isalnum()
        or len(name) > 64
    ):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``pct`` percentile."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile of ``TAIL_LADDER`` that leaves at least
    ``min_beyond`` samples above it, or None when even the median does
    not."""
    best = None
    for pct in TAIL_LADDER:
        if samples_beyond(n, pct) >= min_beyond:
            best = pct
    return best


def summarize(values, min_beyond: int = 10) -> dict:
    """Median, the highest supportable tail percentile, and the count."""
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    pct = tail_percentile(len(values), min_beyond)
    if pct is not None and pct > 50.0:
        out["tail_pct"] = pct
        out["tail"] = percentile(values, pct)
    return out


def load_sentinel() -> float:
    """Wall seconds for a fixed single-thread pure-Python busy loop. A
    value well above the usual one marks a loaded machine."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(c) for c in f.read().split()]
    except OSError:
        return []


def process_tree(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and all its descendants."""
    root = os.getpid() if pid is None else pid
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum over the process tree of each process's peak resident set
    (``VmHWM``), in MiB."""
    total_kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_seconds(pid: int | None = None) -> float:
    """User plus system CPU seconds used so far by the process tree of
    ``pid`` (default: this process): the live processes' own time and
    the time of the children they have waited for."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11..14]: utime, stime, cutime, cstime (stat fields 14-17)
        total += sum(int(v) for v in fields[11:15])
    return total / tick


class PeakRssSampler:
    """Tracks the tree's peak RSS. ``VmHWM`` of a process that already
    exited is lost, so the tree is sampled at each ``sample()`` call and
    the maximum kept."""

    def __init__(self):
        self.peak = 0.0

    def sample(self) -> float:
        self.peak = max(self.peak, peak_rss_mb())
        return self.peak
