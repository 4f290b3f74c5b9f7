"""Driver-side concurrency for independent Spark actions.

PySpark runs in pinned-thread mode: each Python thread drives its own
JVM thread, and Spark's local properties (job group, job description,
scheduler pool) belong to that thread. A thread from a plain
``ThreadPoolExecutor`` starts without the caller's, so its jobs leave
the caller's job group and ``cancelJobGroup`` cannot stop them.
``run_concurrently`` wraps every target with
``pyspark.util.inheritable_thread_target``, which hands the thread a
copy of the caller's properties and session tags.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def run_concurrently(spark: SparkSession, *fns: Callable[[], Any]) -> list[Any]:
    """Run each zero-argument ``fn`` on its own thread under the
    caller's Spark local properties, wait for all of them, and return
    their results in argument order (no ``fns``: no threads, ``[]``). If
    any raised, the first error in argument order is re-raised once
    every ``fn`` has finished."""
    # one wrap per fn: each thread gets its own copy of the properties,
    # so a job group one thread sets does not leak into the other
    targets = [inheritable_thread_target(spark)(fn) for fn in fns]
    with ThreadPoolExecutor(max_workers=max(1, len(targets))) as pool:
        futures = [pool.submit(t) for t in targets]
    return [f.result() for f in futures]
