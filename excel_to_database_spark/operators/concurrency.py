"""Overlap independent driver-blocking Spark jobs (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls
them sequentially. Two callers submit independent work from a small
thread pool instead:

* q217's lexical and vector towers: each materializes an intermediate
  with a driver-blocking action (the rank primitives' bounded
  cell-count read, eager `localCheckpoint` pins) before the final plan
  can be assembled. Overlapping them lets the second job's tasks
  back-fill executors freed by the first job's tail (FIFO scheduling
  is exactly the back-fill behaviour wanted here).
* `api.upload`: each sheet of one request syncs into its own table, so
  a multi-sheet request runs its per-sheet syncs concurrently.

Only for work that is INDEPENDENT (neither reads the other's output)
and whose shared inputs are already materialized (an eager
checkpoint/persisted blocks): overlapping two thunks that would race
to compute the SAME lazy subtree duplicates that work instead — pin
the shared frame first (the q205 discipline) or keep them sequential.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def overlap_builds(*thunks: Callable[[], Any]) -> list:
    """Run the given zero-arg thunks, overlapping their Spark jobs via a
    thread pool of ``min(len(thunks), defaultParallelism)`` threads:
    q217 passes its 2 tower builds, ``api.upload`` one sync per sheet,
    and a workbook may carry dozens of sheets — more threads than cores
    would only queue more tasks. Returns their results in argument
    order. A single thunk runs inline. Every thunk runs to completion;
    the first failing thunk in argument order then raises its
    exception (loudly — a build that silently vanished would corrupt
    the consumer's plan).

    Each pooled thunk runs under the caller's Spark local properties
    and job tags (``inheritable_thread_target`` given the active
    session, one copy per thunk), so its jobs carry the caller's job
    group, description and tags.

    Results are unchanged by construction: each thunk builds exactly
    what it would have built sequentially; only the wall-clock
    interleaving of the JOBS differs. Python threads share the
    SparkSession safely (py4j multiplexes; job-scoped properties are
    thread-local)."""

    def settle(th: Callable[[], Any]) -> tuple[Any, Exception | None]:
        try:
            return th(), None
        except Exception as e:
            return None, e

    if len(thunks) == 1:
        outcomes = [settle(th) for th in thunks]
    else:
        workers = min(len(thunks), SparkContext._active_spark_context.defaultParallelism)
        session = SparkSession.active()

        def inherit(th: Callable[[], Any]) -> Callable[[], Any]:
            # a fresh copy per thunk: a thread that sets its own job
            # group must not change its siblings'. The session form
            # returns the session itself when pinned-thread mode is off.
            wrap = inheritable_thread_target(session)
            return th if wrap is session else wrap(th)

        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = [pool.submit(settle, inherit(th)) for th in thunks]
            outcomes = [f.result() for f in futures]
    for _, err in outcomes:
        if err is not None:
            raise err
    return [result for result, _ in outcomes]
