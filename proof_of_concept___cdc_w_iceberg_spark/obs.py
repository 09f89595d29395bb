"""Driver-side concurrency for Spark actions.

``overlap(*thunks)`` is the one way this package runs Spark actions
from several driver threads at once. Independent jobs (an init write
and a batch compaction, two audit passes, a set of checkpoints)
overlap so one job's tail tasks back-fill the executors the other
leaves idle.

Under PySpark's pinned-thread mode a fresh thread does not inherit the
caller's JVM local properties, so jobs submitted from a plain thread
pool lose the caller's job group, description and scheduler pool.
Each thunk is therefore wrapped in ``pyspark.inheritable_thread_target``,
which copies those properties (and the session's job tags) from the
calling thread.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable


def overlap(*thunks: Callable[[], Any]) -> list[Any]:
    """Run each zero-argument thunk on its own driver thread and return
    their results in argument order. Every thunk runs to completion
    before the first exception (in argument order) is raised, so a
    caller's cleanup never races a still-running thunk. No thunks, no
    threads: returns ``[]``."""
    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        spark = SparkSession.builder.getOrCreate()
    wrap = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=max(1, len(thunks))) as pool:
        futures = [pool.submit(wrap(t)) for t in thunks]
        return [f.result() for f in futures]
