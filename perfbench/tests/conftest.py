import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules, then the engine at the repository root
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]
