"""Self-tests for the benchmark's metric arithmetic.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import parse_sql_metric  # noqa: E402
from metrics import (  # noqa: E402
    median,
    proc_cpu_s,
    summary,
    tree_cpu_s,
    tree_peak_rss_mb,
    tree_pids,
)

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_median_of_passes_ignores_one_stalled_pass():
    assert median([2.0, 2.2, 9.0]) == 2.2
    assert median([2.0, 2.2, 2.4, 9.0]) == 2.3


def test_summary_quartiles_match_statistics_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 6.0, 8.0, 7.0, 9.0, 10.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    s = summary(xs)
    assert (s["q1"], s["median"], s["q3"]) == (q1, med, q3)
    assert (s["min"], s["max"], s["n"]) == (1.0, 10.0, 10)
    assert s["spread"] == (q3 - q1) / med


def test_summary_of_one_value_has_no_spread():
    assert summary([4.0])["spread"] == 0.0


def test_tree_cpu_counts_exited_grandchild_through_reaping_parent():
    # the child runs a grandchild that burns 0.4 s of CPU, waits for it
    # (reaps it), then stays alive: the grandchild's CPU must be in the
    # tree through the child's cutime, the way a finished Python worker
    # is counted through the daemon that forked it
    child_src = (
        "import subprocess, sys, time\n"
        f"subprocess.run([sys.executable, '-c', {BURN.format(s=0.4)!r}])\n"
        "print('done', flush=True)\n"
        "time.sleep(30)\n"
    )
    before = tree_cpu_s(os.getpid())
    child = subprocess.Popen(
        [sys.executable, "-c", child_src], stdout=subprocess.PIPE, text=True
    )
    try:
        assert child.stdout.readline().strip() == "done"
        assert len(tree_pids(child.pid)) == 1  # the grandchild is gone
        assert proc_cpu_s(child.pid) >= 0.4
        assert tree_cpu_s(os.getpid()) - before >= 0.4
    finally:
        child.kill()
        child.wait()


def test_tree_cpu_keeps_a_reaped_child():
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", BURN.format(s=0.3)], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.3


def test_tree_cpu_match_selects_by_command_line():
    child = subprocess.Popen(
        [sys.executable, "-c", BURN.format(s=0.3) + "time.sleep(30)\n# marker-xyz"]
    )
    try:
        deadline = time.monotonic() + 10
        while tree_cpu_s(os.getpid(), match="marker-xyz") < 0.3:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        assert tree_cpu_s(os.getpid(), match="no-such-process") == 0.0
    finally:
        child.kill()
        child.wait()


def test_peak_rss_is_positive():
    peaks = tree_peak_rss_mb(os.getpid())
    assert peaks[next(iter(peaks))] > 1.0


def test_parse_sql_metric_forms():
    assert parse_sql_metric("1,234") == 1234.0
    assert parse_sql_metric("250 ms") == 0.25
    assert parse_sql_metric("1.7 s") == 1.7
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n2.0 m (1.0 s, 2.0 s, 3.0 s (stage 1.0: task 2))"
    ) == 120.0
