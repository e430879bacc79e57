"""Helpers shared by the workload modules."""

from __future__ import annotations

import time


def timed(fn) -> float:
    """Wall seconds of one call of ``fn``."""
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def force(df) -> None:
    """Run ``df`` to completion into Spark's ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()
