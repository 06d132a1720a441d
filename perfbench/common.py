"""Paths, core count and logging shared by the benchmark's modules."""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# everything the benchmark writes: input cache, outputs, Spark scratch,
# event logs, traces, stored untraced results
WORK = os.path.join(HERE, ".work")
CORES = 4

_T0 = time.perf_counter()


def log(*a) -> None:
    """Progress to standard error; standard output carries only the result."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s]", *a, file=sys.stderr, flush=True)
