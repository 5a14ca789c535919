import os
import sys

# the benchmark's modules import each other as top-level names, the way
# run.py puts its own directory first on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
