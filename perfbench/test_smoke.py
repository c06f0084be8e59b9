"""Smoke test of the benchmark itself: every workload once per trace mode
at a tiny scale, each metric of BENCHMARK.json present with its unit and
no failed operation.  Takes a few minutes; run on its own:

    python3 -m pytest perfbench/test_smoke.py
"""

import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def test_smoke():
    proc = subprocess.run([sys.executable, RUN, "--smoke"], capture_output=True, text=True, timeout=1800)
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
