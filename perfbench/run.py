"""Benchmark entry point, run from the repository root:

    python3 perfbench/run.py --workload fim_market --seed 1 --seconds 10 --trace 0

Prints a summary, then as its last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Exits non-zero
without a result when the engine or its inputs are missing.
"""

import sys
from pathlib import Path

if __name__ == "__main__":
    # The repository root replaces this script's directory on the path,
    # so ``tests`` is the repository's package, not ``perfbench/tests``.
    sys.path[0] = str(Path(__file__).resolve().parent.parent)
    from perfbench.harness import main

    sys.exit(main())
