"""Concurrent Spark-job submission from the driver (SURVEY.md §7;
VERDICT r1 'Next round' #3).

Spark schedules jobs submitted from different driver threads
independently (FIFO or FAIR pools) — a grid-search / CV loop that
submits cells serially leaves the cluster idle between stage barriers,
because each cell's final collect is a blocking round-trip. A bounded
``ThreadPoolExecutor`` overlapping those round-trips multiplies cluster
utilization at many-series scale without changing any result: every
cell is an independent action over an immutable cached frame.

This is DRIVER-side concurrency only (Python threads block on JVM I/O,
so the GIL is irrelevant); nothing here touches executor parallelism.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Sequence

#: default driver-side job concurrency; 8 overlapping jobs saturates a
#: local[32] session's scheduler without flooding a real cluster's
#: event queue. Callers override per call with ``run_jobs(max_workers=)``.
DEFAULT_POOL = 8


def run_jobs(
    thunks: Sequence[Callable[[], Any]],
    max_workers: int | None = None,
    on_error: str = "raise",
) -> list[Any]:
    """Run independent Spark actions concurrently; results in input
    order. ``on_error='nan'`` maps a failed thunk to float('nan')
    (the CV grid's NaN-tolerant scoring convention) instead of raising.
    """
    if not thunks:
        return []
    workers = max(1, min(max_workers or DEFAULT_POOL, len(thunks)))
    if workers == 1:
        out = []
        for t in thunks:
            try:
                out.append(t())
            except Exception:
                if on_error == "raise":
                    raise
                out.append(float("nan"))
        return out
    with ThreadPoolExecutor(max_workers=workers) as ex:
        futures = [ex.submit(t) for t in thunks]
        out = []
        for fu in futures:
            try:
                out.append(fu.result())
            except Exception:
                if on_error == "raise":
                    raise
                out.append(float("nan"))
        return out
