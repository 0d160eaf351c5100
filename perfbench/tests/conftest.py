import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# The benchmark's modules import each other as top-level modules, the way
# ``python3 perfbench/run.py`` runs them, and import the package from the
# checkout root.
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]
