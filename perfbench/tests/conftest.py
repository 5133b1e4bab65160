"""Make ``perfbench`` and the program importable from the checkout
root when the tests run as ``python3 -m pytest perfbench/tests``."""

import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[2])
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
