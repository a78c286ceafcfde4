import os
import sys

# The benchmark runs from the repository root; make `perfbench` and
# `hgn_spark` importable the same way here.
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
