"""Smoke test of the benchmark: every workload for a few seconds at the
smallest scale, untraced and traced; every metric named in
BENCHMARK.json must be emitted with its unit and no check may fail.

    python -m pytest perfbench/test_smoke.py   (about five minutes)
"""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke():
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=1500,
    )
    assert p.returncode == 0, p.stdout[-4000:] + p.stderr[-4000:]
