"""Run independent Spark actions side by side from one Spark application.

Spark's scheduler runs jobs submitted from separate threads at the same
time, so a stage whose actions do not depend on each other (several
sinks of one plan, a batch of read-only checks) need not wait for each
job in turn. Each task runs on a ``pyspark.InheritableThread``: in
PySpark's pinned-thread mode a plain pool thread starts with empty JVM
local properties, so its jobs would lose the caller's job group,
description and scheduler pool; an inheritable thread copies them when
it starts.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence
from typing import Any

from pyspark import InheritableThread

# Concurrent actions at most: enough to fill a small local session, few
# enough that a long batch does not flood the scheduler.
MAX_THREADS = 8


def run_concurrently(tasks: Sequence[Callable[[], Any]]) -> list[Any]:
    """Run every task, at most ``MAX_THREADS`` at a time, and wait for
    all of them. Returns the results in submission order. If any task
    raised, re-raises the exception of the first failed task in
    submission order (the one a serial loop would have met first),
    after every task has finished — no action is left running."""
    results: list[Any] = [None] * len(tasks)
    errors: list[BaseException | None] = [None] * len(tasks)
    pending = iter(enumerate(tasks))
    lock = threading.Lock()

    def worker() -> None:
        while True:
            with lock:
                item = next(pending, None)
            if item is None:
                return
            i, task = item
            try:
                results[i] = task()
            except BaseException as exc:  # noqa: BLE001 - re-raised in order below
                errors[i] = exc

    threads = [InheritableThread(target=worker) for _ in range(min(MAX_THREADS, len(tasks)))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results
