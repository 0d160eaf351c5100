"""CPU time of the process tree, counted apart from wall time."""

from __future__ import annotations

import subprocess
import sys
import time

import clock


def test_tree_cpu_counts_a_busy_child():
    before = clock.tree_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"
         "time.sleep(5)"]
    )
    try:
        time.sleep(2.0)  # the child has spun for its 0.4 s and sleeps
        assert clock.tree_cpu_s() - before >= 0.4
    finally:
        child.kill()
        child.wait()


def test_sleeping_costs_no_cpu():
    t = clock.tree_cpu_s()
    time.sleep(0.3)
    assert clock.tree_cpu_s() - t < 0.1
