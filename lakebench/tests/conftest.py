import os
import sys

# the benchmark package is imported as ``lakebench`` from the checkout root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
