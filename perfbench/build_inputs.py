"""Build one workload's seeded inputs into ``.perfbench_cache/inputs``.

    python3 perfbench/build_inputs.py <workload> <seed>

``run.py`` runs this in a child process before it measures anything.
Inputs already cached are not built again.
"""

from __future__ import annotations

import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def main() -> int:
    workload, seed = sys.argv[1], int(sys.argv[2])
    harness.prepare_env()
    try:
        harness.make_workload(workload, seed, Tracer(False)).build()
    finally:
        harness.shutdown_jvm()
    return 0


if __name__ == "__main__":
    sys.exit(main())
