"""Tests of the workload benchmark's own arithmetic (medians, tail
percentiles, span self time, job-to-span attribution, digests, the
input generator). Run from the repo root:

    python3 perfbench/selftest.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

if __name__ == "__main__":
    sys.exit(run.launch("graft.perfbench.SelfTest", []))
