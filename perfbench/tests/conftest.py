import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

# the benchmark's modules import each other by bare name, as worker.py
# runs them; the package under test comes from the repository root
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)
