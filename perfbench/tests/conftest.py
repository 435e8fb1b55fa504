import os
import sys

# the tests import the benchmark as the ``perfbench`` package and the engine
# as ``dataqtor_spark``, both from the repository root
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
