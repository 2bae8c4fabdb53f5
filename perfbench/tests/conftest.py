"""Make the benchmark modules (``perfbench/``) and the engine package (the
repository root) importable: ``python -m pytest perfbench/tests``."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for path in (ROOT, BENCH):
    if path not in sys.path:
        sys.path.insert(0, path)
