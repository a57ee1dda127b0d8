"""Metric arithmetic and process-tree accounting from /proc.

Kept free of Spark imports so the self-tests (test_metrics.py) run in
a plain interpreter.
"""

from __future__ import annotations

import os
import statistics

CLK_TCK = os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    return float(statistics.median(xs))


def summary(xs) -> dict:
    """Median, quartiles and extremes of a sample (the steadiness
    report); `spread` is the interquartile distance over the median."""
    xs = sorted(xs)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = xs[0]
    med = median(xs)
    return {
        "n": len(xs),
        "median": med,
        "q1": q1,
        "q3": q3,
        "min": xs[0],
        "max": xs[-1],
        "spread": (q3 - q1) / med if med else 0.0,
    }


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; fields after it start at ")"
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def proc_cpu_s(pid: int) -> float:
    """User+system CPU of `pid` plus that of its exited, reaped
    children (cutime/cstime): a Python worker that has ended is still
    counted through the parent that waited for it."""
    st = _stat(pid)
    if st is None:
        return 0.0
    # after the ")" split: utime=11 stime=12 cutime=13 cstime=14
    return sum(int(v) for v in st[11:15]) / CLK_TCK


def tree_cpu_s(root: int, match: str | None = None) -> float:
    """CPU seconds of the process tree under `root`; with `match`,
    only of processes whose command line contains it."""
    total = 0.0
    for pid in tree_pids(root):
        if match is None or match in _cmdline(pid):
            total += proc_cpu_s(pid)
    return total


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of each live tree process, keyed by
    "<pid> <command>"; the tree's figure is their sum."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[f"{pid} {_cmdline(pid)[:60]}"] = int(line.split()[1]) / 1e3
                        break
        except OSError:
            pass
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""
