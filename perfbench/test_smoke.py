"""The benchmark's own test: both workloads at a tiny size print every
metric BENCHMARK.json names, with its unit, and pass their gates.

    python3 -m pytest perfbench/test_smoke.py -q      # about 3 minutes on 4 cores
"""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke_prints_every_metric_with_its_unit():
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
