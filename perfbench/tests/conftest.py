import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules are imported the way run.py imports them: from
# its own directory, with the checkout root on the path for the program
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))
