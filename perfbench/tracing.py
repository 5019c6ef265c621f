"""Per-layer counters read from outside the engine.

Two sources, both used only in a traced run:

- ``Wrappers`` swaps a timing/counting wrapper in for selected public
  engine functions. Modules import these functions by name (e.g.
  ``plans.pipeline`` imports ``load_table`` and ``write_parquet``,
  ``operators.graph`` imports ``pin`` as ``_pin``), so the original is
  replaced wherever a loaded module binds it, under whatever name, and
  every binding is restored by ``remove``.
- ``SparkCounters`` reads Spark's own AppStatusStore for the job group
  set around one operation, right after the operation ends (the store
  keeps only the last 1000 jobs and stages by default), the plan that
  last ran from the SQL status store, and the code generator's compile
  count. Both stores are fed by the asynchronous listener bus, so every
  store read first waits for it to drain.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

ENGINE = "nyc_taxi_data_engineering_spark"

# (layer, module, function): the wrapped public functions.
WRAPPED = (
    ("catalog.load_table", f"{ENGINE}.catalog", "load_table"),
    ("operators.pin", f"{ENGINE}.operators", "pin"),
    ("operators.session_cache", f"{ENGINE}.operators", "session_cache"),
    ("operators.cc", f"{ENGINE}.operators.dedup", "connected_components"),
    ("sources.write", f"{ENGINE}.sources", "write_parquet"),
    ("sources.write", f"{ENGINE}.sources", "write_json_metrics"),
)


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's hidden files
    (``_SUCCESS``, ``.crc``) are not data."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles


class Wrappers:
    """Counters per layer: ``calls`` and inclusive ``s`` for every
    wrapped function, plus ``bytes``/``files`` for the writers."""

    def __init__(self) -> None:
        self.counts: dict[str, float] = defaultdict(float)
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, fn):
        counts = self.counts
        is_writer = layer == "sources.write"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if is_writer:
                path = args[1] if len(args) > 1 else kwargs["path"]
                before = _tree_size(path)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                counts[f"{layer}_s"] += time.perf_counter() - t0
                counts[f"{layer}_calls"] += 1
                if is_writer:
                    after = _tree_size(path)
                    counts["sources.bytes_written"] += after[0] - before[0]
                    counts["sources.files_written"] += after[1] - before[1]

        return wrapper

    def install(self) -> None:
        import importlib

        originals = {}
        for layer, mod_name, attr in WRAPPED:
            fn = getattr(importlib.import_module(mod_name), attr)
            originals[id(fn)] = self._wrap(layer, fn)
        for mod_name, module in list(sys.modules.items()):
            if not (mod_name == ENGINE or mod_name.startswith(ENGINE + ".")):
                continue
            for attr, value in list(vars(module).items()):
                wrapper = originals.get(id(value))
                if wrapper is not None:
                    self._patched.append((module, attr, value))
                    setattr(module, attr, wrapper)

    def remove(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def take(self) -> dict[str, float]:
        out = dict(self.counts)
        self.counts.clear()
        return out


STAGE_FIELDS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.input_rows": ("inputRecords", 1),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SparkCounters:
    """Job-group scoped reads of the status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._n = 0

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def last_plan_nodes(self) -> list[str]:
        """Operator names of the last SQL execution's plan as it ran:
        with adaptive execution on, the final plan, not the initial one."""
        self._drain()
        last = self.sql_store.executionsCount() - 1
        execution = self.sql_store.executionsList(int(last), 1).apply(0)
        nodes = self.sql_store.planGraph(execution.executionId()).allNodes()
        return [nodes.apply(i).name() for i in range(nodes.size())]

    def codegen_compiles(self) -> int:
        """Generated-code compiles so far in this JVM: one per generated
        class Spark did not find in its code cache."""
        metrics = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def begin(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, label)
        return group

    def clear(self) -> None:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            self.sc.setLocalProperty(key, None)

    def end(self, group: str, t0: float, t1: float) -> dict[str, float]:
        """Clear the job group, then read it (see ``read``)."""
        self.clear()
        return self.read(group, t0, t1)

    def read(self, group: str, t0: float, t1: float) -> dict[str, float]:
        """Counters of every job in ``group``; ``t0``/``t1`` are the
        operation's epoch-second bounds for ``spark.driver_only_s``."""
        self._drain()
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update({"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0})
        stage_ids: set[int] = set()
        spans = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(job_id)
            out["spark.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                a = sub.get().getTime() / 1000.0
                b = done.get().getTime() / 1000.0 if done.isDefined() else t1
                spans.append((max(a, t0), min(b, t1)))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                stage = self.store.lastStageAttempt(sid)
            except Py4JJavaError as e:
                if e.java_exception.getClass().getName() != "java.util.NoSuchElementException":
                    raise
                continue  # never submitted: the store may drop a skipped stage
            if str(stage.status()) != "COMPLETE":
                continue  # skipped (reused shuffle output) or failed
            out["spark.stages"] += 1
            out["spark.tasks"] += stage.numCompleteTasks()
            for key, (field, scale) in STAGE_FIELDS.items():
                out[key] += getattr(stage, field)() * scale
        out["spark.driver_only_s"] = max(0.0, (t1 - t0) - _union_s([s for s in spans if s[1] > s[0]]))
        return out
