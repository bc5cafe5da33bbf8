"""Run the benchmark with every workload's output check fed a wrong answer.

Same arguments as ``perfbench/run.py``; the run must then report failed
operations. Used by test_perfbench.py.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import run, workloads  # noqa: E402

if __name__ == "__main__":
    workloads.Workload.corrupt = True
    sys.exit(run.main())
