import os
import sys

# the tests import ``perfbench`` as a package from the repository root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
