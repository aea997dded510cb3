"""Make the benchmark modules and the engine importable from the tests.

Run from the root of a checkout: python3 -m pytest perfbench/tests -q
"""

import os
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)
