"""Tests of the process-tree CPU accounting.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import cpu  # noqa: E402

TICK = os.sysconf("SC_CLK_TCK")


def test_interval_counts_processes_and_leaves_out_jit():
    before = {1: 100, 2: 50, 3: 40, ("jit", 2): 10}
    after = {
        1: 130,  # +30
        2: 90,  # +40, of which 15 ticks in JIT compiler threads
        ("jit", 2): 25,
        4: 5,  # started in the interval: all of it counts
    }  # 3 ended in the interval and drops out
    assert cpu.cpu_s(before, after) == (30 + 40 - 15 + 5) / TICK


def test_counters_that_went_back_count_nothing():
    # a pid reused by a new, younger process, or JIT threads that ended
    assert cpu.cpu_s({1: 100, ("jit", 1): 50}, {1: 20, ("jit", 1): 0}) == 0


def test_snapshot_sees_this_process_spend_cpu():
    before = cpu.snapshot()
    assert os.getpid() in before
    t_end = time.process_time() + 0.2
    while time.process_time() < t_end:
        pass
    assert cpu.cpu_s(before, cpu.snapshot()) >= 0.1
