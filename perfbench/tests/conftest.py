import os
import sys

# the benchmark's modules import each other by bare name, as they do
# when run.py runs as a script, and import the package from the root
_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_HERE, os.path.dirname(_HERE)]
