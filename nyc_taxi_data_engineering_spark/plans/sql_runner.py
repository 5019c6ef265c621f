"""SQL workflow runner (reference C11: glue_jobs/transform_check.py —
an ordered workflow of {transform | quality | test} SQL steps where a
check step is a SELECT COUNT(*) that must return 0).

The executor is ``spark.sql`` over temp views instead of psycopg2 over
Postgres; Catalyst replaces the Postgres planner 1:1 (SURVEY §3.3).
Multi-statement transforms split on ';' exactly like the reference
(transform_check.py:50-62).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from nyc_taxi_data_engineering_spark.plans.concurrency import run_concurrently


class SqlCheckFailure(RuntimeError):
    pass


@dataclass(frozen=True)
class SqlStep:
    name: str
    kind: str  # transform | quality | test
    sql: str


@dataclass
class SqlStepResult:
    name: str
    kind: str
    status: str  # OK | VIOLATIONS | ERROR
    violations: int = 0


def run_sql_workflow(
    spark: SparkSession, steps: list[SqlStep], fail_fast: bool = True
) -> list[SqlStepResult]:
    """Execute steps in order. transform: run each ';'-separated
    statement (results registered by the SQL itself via CREATE TEMP
    VIEW). quality/test: fetch the scalar violation count; > 0 means
    the contract is broken (raise under fail_fast, else record).

    Transforms are ordered barriers (a later check may read the view a
    transform defines), but a maximal run of CONSECUTIVE check steps is
    independent read-only SELECTs — those are submitted concurrently
    through ``run_concurrently``, so their jobs keep the caller's job
    group and local properties (Spark's scheduler runs jobs from
    separate threads side by side, so on a cluster the small check jobs
    fill the executors instead of draining them one at a time). Error identity keeps workflow order:
    each check captures its own outcome (result OR exception), and the
    batch is then examined in step order, raising the FIRST failure —
    so the surfaced error is the same one serial execution would
    report even when a later check in the batch threw (e.g. a missing
    view) while an earlier one merely had violations. Checks after the
    failing step merely ran (harmless: checks are reads)."""
    results: list[SqlStepResult] = []
    for step in steps:
        if step.kind not in ("transform", "quality", "test"):
            raise ValueError(f"unknown step kind {step.kind!r} in {step.name!r}")

    def _check(step: SqlStep) -> tuple[SqlStepResult | None, Exception | None]:
        try:
            count = int(spark.sql(step.sql).first()[0])
        except Exception as exc:  # examined in step order by _flush
            return None, exc
        status = "VIOLATIONS" if count > 0 else "OK"
        return SqlStepResult(step.name, step.kind, status, count), None

    def _flush(batch: list[SqlStep]) -> None:
        if not batch:
            return
        for r, exc in run_concurrently([partial(_check, s) for s in batch]):
            if exc is not None:
                raise exc
            results.append(r)
            if r.status == "VIOLATIONS" and fail_fast:
                raise SqlCheckFailure(
                    f"{r.kind} step {r.name!r}: {r.violations} violations"
                )
        batch.clear()

    pending: list[SqlStep] = []
    for step in steps:
        if step.kind == "transform":
            _flush(pending)
            for stmt in [s.strip() for s in step.sql.split(";") if s.strip()]:
                spark.sql(stmt)
            results.append(SqlStepResult(step.name, step.kind, "OK"))
        else:
            pending.append(step)
    _flush(pending)
    return results
