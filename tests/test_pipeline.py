from __future__ import annotations

import os

import pytest

from nyc_taxi_data_engineering_spark.plans.concurrency import run_concurrently
from nyc_taxi_data_engineering_spark.plans.orchestrator import Pipeline, PipelineHalt
from nyc_taxi_data_engineering_spark.plans.pipeline import (
    PipelineConfig,
    build_pipeline,
    run_pipeline,
)
from nyc_taxi_data_engineering_spark.plans.sql_runner import (
    SqlCheckFailure,
    SqlStep,
    run_sql_workflow,
)
from nyc_taxi_data_engineering_spark.sources import (
    latest_partition,
    read_csv,
    write_csv,
    write_json_metrics,
)
from tests.conftest import TEST_SF_DIR


def test_end_to_end_pipeline(spark, tmp_path):
    cfg = PipelineConfig(sf_dir=TEST_SF_DIR, out_root=str(tmp_path))
    ctx, runs = run_pipeline(spark, cfg)
    assert [r.status for r in runs] == ["SUCCEEDED"] * 5
    validated = spark.read.parquet(ctx["validate"])
    quarantine = spark.read.parquet(str(tmp_path / "quarantine/trips"))
    raw_count = spark.read.parquet(f"{TEST_SF_DIR}/lineitem.parquet").count()
    assert validated.count() + quarantine.count() == raw_count
    assert "run_date" in validated.columns  # partitioned write survived
    curated = spark.read.parquet(ctx["curate"])
    assert "supp_nation_name" in curated.columns
    agg = spark.read.parquet(ctx["analytics"])
    assert agg.count() > 0
    lineage = spark.read.parquet(ctx["lineage"])
    assert lineage.count() == 3
    assert {r["pipeline_stage"] for r in lineage.collect()} == {"validate", "curate", "aggregate"}


def test_pipeline_gate_halts(spark, tmp_path):
    cfg = PipelineConfig(sf_dir=TEST_SF_DIR, out_root=str(tmp_path), quality_threshold=99.9)
    ctx, runs = run_pipeline(spark, cfg)
    status = {r.stage: r.status for r in runs}
    assert status["validate"] == "SUCCEEDED"
    assert status["gate"] == "HALTED"
    assert status["curate"] == status["analytics"] == status["lineage"] == "SKIPPED"


def _part_files(path, suffix):
    return sorted(p for p in os.listdir(path) if p.startswith("part-") and p.endswith(suffix))


def test_pipeline_metrics_json_matches_serial_write(spark, tmp_path):
    """validate's concurrent metrics sink writes the same bytes as
    ``split_metrics`` written on its own."""
    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.operators.validate import split_metrics, validate_split
    from nyc_taxi_data_engineering_spark.queries.validation import lineitem_checks

    cfg = PipelineConfig(sf_dir=TEST_SF_DIR, out_root=str(tmp_path / "run"))
    _, runs = run_pipeline(spark, cfg)
    assert runs[0].status == "SUCCEEDED"
    flagged = validate_split(load_table(spark, TEST_SF_DIR, "lineitem"), lineitem_checks()).flagged
    write_json_metrics(split_metrics(flagged, cfg.run_id, "validate"), str(tmp_path / "serial"))

    got_dir, want_dir = tmp_path / "run/audit/metrics/validate", tmp_path / "serial"
    got, want = _part_files(got_dir, ".json"), _part_files(want_dir, ".json")
    assert len(got) == len(want) == 1
    assert (got_dir / got[0]).read_bytes() == (want_dir / want[0]).read_bytes()


def test_pipeline_zone_reads_carry_the_writer_schema(spark, tmp_path, monkeypatch):
    """curate and analytics read the zones this run wrote with a given
    schema (no inference job), and that schema is the one inference
    would find."""
    from pyspark.sql.readwriter import DataFrameReader

    reads = {}
    orig_schema, orig_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, given):
        self._test_given_schema = given
        return orig_schema(self, given)

    def parquet(self, *paths, **kw):
        df = orig_parquet(self, *paths, **kw)
        reads[paths[0]] = (getattr(self, "_test_given_schema", None), df.schema)
        return df

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    ctx, runs = run_pipeline(spark, PipelineConfig(sf_dir=TEST_SF_DIR, out_root=str(tmp_path)))
    monkeypatch.undo()
    assert [r.status for r in runs] == ["SUCCEEDED"] * 5
    for zone in ("validate", "curate"):
        given, got = reads[ctx[zone]]
        assert given is not None, zone
        assert got == spark.read.parquet(ctx[zone]).schema, zone


def test_pipeline_lineage_zone_is_one_file(spark, tmp_path):
    import datetime

    from nyc_taxi_data_engineering_spark.schemas import LINEAGE_SCHEMA

    ctx, _ = run_pipeline(spark, PipelineConfig(sf_dir=TEST_SF_DIR, out_root=str(tmp_path)))
    assert len(_part_files(ctx["lineage"], ".parquet")) == 1
    lineage = spark.read.parquet(ctx["lineage"])
    assert lineage.schema == LINEAGE_SCHEMA
    created = datetime.datetime(2024, 1, 1)
    assert sorted(tuple(r) for r in lineage.collect()) == sorted([
        ("medallion_demo", "validate", "raw", "lineitem", "validated", "trips",
         "validate_and_split", "batch_etl", "engine", created, True, 1),
        ("medallion_demo", "curate", "validated", "trips", "curated", "trips",
         "enrich_with_dims", "batch_etl", "engine", created, True, 1),
        ("medallion_demo", "aggregate", "curated", "trips", "analytics", "daily_revenue",
         "daily_vendor_revenue", "batch_etl", "engine", created, True, 1),
    ])


def test_pipeline_concurrent_sink_failure_surfaces(spark, tmp_path):
    """A plain file where the quarantine zone's parent directory goes
    fails only that sink; validate still ends FAILED with its error
    after every retry, and the later stages are skipped."""
    (tmp_path / "quarantine").write_text("not a directory")
    pipeline = build_pipeline(spark, PipelineConfig(sf_dir=TEST_SF_DIR, out_root=str(tmp_path)))
    validate, errors = pipeline.stages[0], []

    def recording(ctx, fn=validate.fn):
        try:
            return fn(ctx)
        except Exception as e:
            errors.append(e)
            raise

    validate.fn = recording
    _, runs = pipeline.run({})
    assert [r.status for r in runs] == ["FAILED"] + ["SKIPPED"] * 4
    assert runs[0].attempts == len(errors) == 3
    assert all(f"Parent path is not a directory: file:{tmp_path}/quarantine" in str(e)
               for e in errors)
    assert runs[0].error == repr(errors[-1])


def test_pipeline_validate_jobs_keep_the_callers_job_group(spark, tmp_path):
    sc = spark.sparkContext

    def drained_ids(group):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(group))

    ungrouped_before = drained_ids(None)
    pipeline = build_pipeline(spark, PipelineConfig(sf_dir=TEST_SF_DIR, out_root=str(tmp_path)))
    validate = next(s for s in pipeline.stages if s.name == "validate")
    sc.setJobGroup("test-validate-group", "validate")
    try:
        validate.fn({})
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the three sinks at least, and nothing outside the group
    assert len(drained_ids("test-validate-group")) >= 3
    assert drained_ids(None) - ungrouped_before == set()


def test_run_concurrently_raises_first_failure_in_submission_order():
    import time

    def fails(msg, delay):
        def task():
            time.sleep(delay)
            raise ValueError(msg)
        return task

    assert run_concurrently([lambda: 1, lambda: 2]) == [1, 2]
    # the second task fails first in time; the first one's error wins
    with pytest.raises(ValueError, match="first"):
        run_concurrently([fails("first", 0.2), fails("second", 0.0), lambda: 3])


def test_orchestrator_retry_and_failure():
    calls = {"n": 0}

    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    p = Pipeline("t").add("flaky", flaky, retries=3).add("after", lambda ctx: ctx["flaky"])
    ctx, runs = p.run()
    assert runs[0].status == "SUCCEEDED" and runs[0].attempts == 3
    assert ctx["after"] == "ok"

    p2 = Pipeline("t2").add("dies", lambda ctx: 1 / 0, retries=2).add("never", lambda ctx: 1)
    _, runs2 = p2.run()
    assert [r.status for r in runs2] == ["FAILED", "SKIPPED"]
    assert runs2[0].attempts == 2


def test_sql_runner_fail_fast(spark, sf_dir):
    from nyc_taxi_data_engineering_spark.catalog import register_views

    register_views(spark, sf_dir, ("lineitem",))
    bad = [SqlStep("always_fails", "test", "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 0")]
    with pytest.raises(SqlCheckFailure, match="always_fails"):
        run_sql_workflow(spark, bad, fail_fast=True)
    res = run_sql_workflow(spark, bad, fail_fast=False)
    assert res[0].status == "VIOLATIONS" and res[0].violations > 0


def test_sql_runner_error_identity_in_concurrent_batch(spark, sf_dir):
    """A later check erroring (missing view) in the same concurrent
    batch must not mask the SqlCheckFailure an earlier-ordered
    violating check would raise serially."""
    from nyc_taxi_data_engineering_spark.catalog import register_views

    register_views(spark, sf_dir, ("lineitem",))
    steps = [
        SqlStep("violates_first", "test", "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 0"),
        SqlStep("errors_second", "test", "SELECT COUNT(*) FROM no_such_view_xyz"),
    ]
    with pytest.raises(SqlCheckFailure, match="violates_first"):
        run_sql_workflow(spark, steps, fail_fast=True)
    # serially-first ERROR still surfaces when nothing earlier violates
    with pytest.raises(Exception, match="no_such_view_xyz|NOT_FOUND|cannot be found"):
        run_sql_workflow(spark, steps[::-1], fail_fast=True)


def test_csv_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    write_csv(df, str(tmp_path / "csv"))
    back = read_csv(spark, str(tmp_path / "csv"))
    assert {(r["id"], r["name"]) for r in back.collect()} == {(1, "a"), (2, "b")}
    write_json_metrics(df, str(tmp_path / "json"))
    assert spark.read.json(str(tmp_path / "json")).count() == 2


def test_latest_partition(spark):
    df = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-02", 3)], "run_date string, v int"
    )
    latest = latest_partition(df, "run_date")
    assert sorted(r["v"] for r in latest.collect()) == [2, 3]


def test_write_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S12 integration: the JDBC sink bulk-loads into an embedded Derby
    database (bundled with Spark) and reads back identically — the same
    write path a Postgres target would use (ppcurated_rds.py:64-72)."""
    from nyc_taxi_data_engineering_spark.sources import write_jdbc

    url = f"jdbc:derby:{tmp_path}/jdbc_db;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    df = spark.createDataFrame(
        [(1, "Acme", 10.5), (2, "Globex", -3.25)], "id int, name string, bal double"
    )
    write_jdbc(df, url, "curated_t", driver=driver)
    # overwrite mode must replace, not append
    write_jdbc(df, url, "curated_t", driver=driver)
    back = (
        spark.read.format("jdbc")
        .option("url", url).option("dbtable", "curated_t").option("driver", driver)
        .load()
    )
    assert sorted((r["id"], r["name"], r["bal"]) for r in back.collect()) == [
        (1, "Acme", 10.5),
        (2, "Globex", -3.25),
    ]


def test_freshness_gate_decisions(spark):
    from nyc_taxi_data_engineering_spark.plans.governance import freshness_gate

    df = spark.createDataFrame([("2024-01-20 12:00:00",), ("2024-01-30 00:00:00",)], "ts string")
    fresh = freshness_gate(df, "ts", "refdata", as_of="2024-02-05", max_age_days=30).collect()[0]
    assert (fresh["decision"], fresh["age_days"]) == ("FRESH", 6)
    assert fresh["newest_ts"] == "2024-01-30 00:00:00"
    stale = freshness_gate(df, "ts", "refdata", as_of="2024-12-01", max_age_days=30).collect()[0]
    assert stale["decision"] == "STALE"
