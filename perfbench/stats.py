"""Small measurement helpers: percentiles that refuse to over-claim, and
the peak resident memory of this process tree read from ``/proc``."""

from __future__ import annotations

import math
import os

# A percentile is reported only when at least this many samples lie
# beyond it; a p90 from 20 samples is two observations, not a tail.
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1, nearest-rank) of ``samples``, or
    None when fewer than ``MIN_BEYOND`` samples lie above it."""
    n = len(samples)
    rank = max(1, math.ceil(q * n))  # 1-based nearest rank
    if n - rank < MIN_BEYOND:
        return None
    return sorted(samples)[rank - 1]


def median(samples: list[float]) -> float:
    """Plain median (mean of the middle two for even counts); used for
    per-run values that repeat a fixed unit of work, not for tails."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``root`` and every live
    descendant: the driver, its JVM and the JVM's Python workers."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0

