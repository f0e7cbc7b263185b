"""Developer tools, each run as ``python tools/<name>.py`` from any cwd.

``DATA_ROOT`` holds the parquet fixtures, one directory per scale factor
(``sf0.001``, ``sf0.01``, ``sf0.1``); every tool's default ``--sf`` or
``--src`` is a directory under it.
"""

import sys
from pathlib import Path

DATA_ROOT = "/root/testdata"

# ``python tools/<name>.py`` puts this directory first on sys.path, where
# profile.py would shadow the standard library's ``profile`` that cProfile,
# and so pyspark, imports. Every tool imports this package before pyspark.
_HERE = Path(__file__).resolve().parent
sys.path[:] = [p for p in sys.path if Path(p or ".").resolve() != _HERE]
