"""Workload definitions and the runners that time them.

Every workload is pinned here, not read from the engine's registry
flags or ``bench.BOARD2``, so editing those cannot silently change what
the benchmark measures:

- ``medallion_sf0.01``: ``plans.pipeline`` (validate -> gate -> curate ->
  analytics -> lineage) over generated sf0.01 tables (60,000 lineitem
  rows, one replica), writing every zone to a fresh output root per pass.
  The operations are the five pipeline stages.
- ``iterative_board``: one query per fixed-point family at sf0.01 --
  connected components, label propagation, PageRank and Lloyd k-means --
  each forced through the ``noop`` sink. These carry the pins, session
  caches and CC rounds; the pipeline uses none of them.

Both are sized to the run budget on 4 cores: each run pays a cold JVM
and one cold pass (18-30 s) before anything is timed, and a run's median
only holds still over several passes that come after the JIT warm-up
slope. At sf0.1 a pipeline pass takes 6-7 s and is still getting faster
at the fifth warm pass, so a run of about a minute would time three
passes on that slope; at sf0.01 passes take 2.5-3 s, so three settling
passes and seven timed ones fit. The board at sf0.1 took 136 s per run
(46 s set-up, 16 s passes, 55 s of DuckDB oracles, mostly
``dedup_clusters_docs``); at sf0.01 a pass takes about 7 s and is bound
by per-job overhead (about 245 generated-code compiles a pass): sf0.001
passes take nearly as long. The pipeline at sf1 (15 s warm passes, 30 s
cold) and the rest of the heavy-query board (ALS, MinHash, IVF-PQ,
ExactSubstr spans, HLL, TPC-H Q1) would each add about half a minute per
run.

Inputs come from ``datagen`` with data seed 42 whatever the run seed.
The run seed shuffles the query order of each board pass and names the
pipeline's ``run_id``. Session caches are released before every board
query, outside its timed region.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

DATA_SEED = 42
HEAP = "8g"

ITERATIVE_BOARD = (
    "dedup_clusters_docs",
    "lpa_copurchase_communities",
    "pagerank_purchase_sinks",
    "kmeans_embeddings",
)
STAGES = ("validate", "gate", "curate", "analytics", "lineage")
PIPELINE_TABLES = ("lineitem", "supplier", "nation")


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "pipeline" | "board"
    sf: float
    tables: tuple[str, ...]
    queries: tuple[str, ...]
    # Untimed passes after the warm-up: pass times fall for several warm
    # passes while the JIT compiles, most steeply at the first.
    settle: int
    # A typical warm pass on 4 cores. A run times ``--seconds / pass_s``
    # passes whatever their speed: timing until the clock ran out would
    # give a faster run more passes, later on the slope, and so a median
    # faster still.
    pass_s: float


WORKLOADS = {
    w.name: w
    for w in (
        Workload("medallion_sf0.01", "pipeline", 0.01, PIPELINE_TABLES, (), settle=3, pass_s=2.7),
        Workload("iterative_board", "board", 0.01, (), ITERATIVE_BOARD, settle=1, pass_s=7.0),
    )
}
SMOKE_SF = 0.001


@dataclass
class Pass:
    wall_s: float
    op_s: dict[str, float] = field(default_factory=dict)
    failed: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


def _add(into: dict[str, float], more: dict[str, float]) -> None:
    for k, v in more.items():
        into[k] = into.get(k, 0.0) + v


class Board:
    """One board: the warm-up pass collects every query's output for the
    oracle check; timed passes run each query through the noop sink."""

    def __init__(self, spark, sf_dir: str, names: tuple[str, ...], seed: int) -> None:
        from nyc_taxi_data_engineering_spark.queries import registry

        self.spark, self.sf_dir, self.names = spark, sf_dir, names
        self.specs = registry()
        self.rng = random.Random(seed)
        self.outputs: dict[str, object] = {}

    def _order(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def _release(self) -> None:
        from nyc_taxi_data_engineering_spark.operators import release_session_caches

        release_session_caches()
        self.spark.catalog.clearCache()

    def warmup(self) -> list[str]:
        """Collect every query's output for the oracle check."""
        failed = []
        for name in self._order():
            self._release()
            try:
                self.outputs[name] = self.specs[name].fn(self.spark, self.sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - reported, never hidden
                failed.append(f"{name}: {type(e).__name__}: {e}"[:300])
        self._release()
        return failed

    def verify(self) -> tuple[int, list[str]]:
        """Each collected output against its registry DuckDB oracle."""
        from tools.oracle_check import compare, duckdb_con

        con = duckdb_con(self.sf_dir)
        failed = []
        for name, got in self.outputs.items():
            oracle = self.specs[name].oracle
            try:
                errs = compare(got, con.execute(oracle).fetchdf(), name) if oracle else ["no oracle"]
            except Exception as e:  # noqa: BLE001
                errs = [f"{type(e).__name__}: {e}"]
            if errs:
                failed.append(f"{name}: " + "; ".join(errs)[:300])
        con.close()
        self.outputs.clear()
        return len(self.names), failed

    def run_pass(self, counters=None, wrappers=None) -> Pass:
        from tools.profile_bench import plan_summary

        p = Pass(0.0)
        for name in self._order():
            self._release()
            group = counters.begin(name) if counters else None
            e0, t0 = time.time(), time.perf_counter()
            ran = False
            try:
                df = self.specs[name].fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                ran = True
            except Exception as e:  # noqa: BLE001
                p.failed.append(f"{name}: {type(e).__name__}: {e}"[:300])
                t1 = time.perf_counter()
            t2, e2 = time.perf_counter(), time.time()
            p.op_s[name] = t2 - t0
            p.wall_s += t2 - t0
            if counters:
                _add(p.layers, counters.end(group, e0, e2))
                _add(p.layers, wrappers.take())
                p.layers["queries.build_s"] = p.layers.get("queries.build_s", 0.0) + (t1 - t0)
                p.layers["queries.exec_s"] = p.layers.get("queries.exec_s", 0.0) + (t2 - t1)
                p.layers[f"queries.{name}_s"] = t2 - t0
                if ran:
                    # the noop write's own plan, one "(id) Operator" line per node
                    nodes = counters.last_plan_nodes()
                    shape = plan_summary("\n".join(f"({i}) {n}" for i, n in enumerate(nodes)))
                    _add(p.layers, {
                        "queries.py_eval_nodes": shape["py_eval"],
                        "queries.exchanges": shape["exchanges"],
                        "queries.smj": shape["smj"],
                    })
        self._release()
        return p


class Medallion:
    """The medallion pipeline, one fresh output root per pass."""

    def __init__(self, spark, sf_dir: str, out_dir: str, seed: int) -> None:
        self.spark, self.sf_dir, self.out_dir = spark, sf_dir, out_dir
        self.run_id = f"seed{seed}"
        self.n = 0
        self.warm_root: str | None = None
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)

    def _run(self, counters=None) -> tuple[str, Pass]:
        from nyc_taxi_data_engineering_spark.plans.pipeline import (
            PipelineConfig,
            build_pipeline,
            run_pipeline,
        )

        self.n += 1
        root = os.path.join(self.out_dir, f"pass{self.n}")
        cfg = PipelineConfig(sf_dir=self.sf_dir, out_root=root, run_id=self.run_id)
        groups: list[tuple[str, str, float, float]] = []
        t0 = time.perf_counter()
        if counters is None:
            _ctx, runs = run_pipeline(self.spark, cfg)
        else:
            pipeline = build_pipeline(self.spark, cfg)
            for stage in pipeline.stages:
                stage.fn = _traced_stage(stage.name, stage.fn, counters, groups)
            _ctx, runs = pipeline.run({})
        p = Pass(time.perf_counter() - t0)
        for r in runs:
            p.op_s[r.stage] = r.duration_s
            if r.status != "SUCCEEDED":
                p.failed.append(f"{r.stage}: {r.status} {r.error or ''}"[:300])
        for stage, group, e0, e1 in groups:
            c = counters.read(group, e0, e1)
            _add(p.layers, c)
            p.layers[f"plans.{stage}_jobs"] = c["spark.jobs"]
            if stage == "validate":
                p.layers["plans.validate_input_rows"] = c["spark.input_rows"]
        return root, p

    def warmup(self) -> list[str]:
        self.warm_root, p = self._run()
        return p.failed

    def run_pass(self, counters=None, wrappers=None) -> Pass:
        root, p = self._run(counters)
        if wrappers is not None:
            _add(p.layers, wrappers.take())
        for stage in STAGES:
            p.layers[f"plans.{stage}_s"] = p.op_s.get(stage, 0.0)
        shutil.rmtree(root, ignore_errors=True)
        return p

    def verify(self) -> tuple[int, list[str]]:
        """The warm-up pass's zones against DuckDB over the same input:
        row conservation, the metrics JSON, and the analytics zone."""
        try:
            failed = self._check_zones()
        except Exception as e:  # noqa: BLE001 - e.g. a zone the pipeline never wrote
            failed = [f"zones: {type(e).__name__}: {e}"[:300]]
        shutil.rmtree(self.warm_root, ignore_errors=True)
        return 3, failed

    def _check_zones(self) -> list[str]:
        import duckdb

        from nyc_taxi_data_engineering_spark.catalog import Zone, parquet_row_count, table_path, zone_path
        from nyc_taxi_data_engineering_spark.queries.validation import _ALL_PASS

        root, failed = self.warm_root, []
        raw = parquet_row_count(table_path(self.sf_dir, "lineitem"))
        kept = parquet_row_count(zone_path(root, Zone.VALIDATED, "trips"))
        dropped = parquet_row_count(zone_path(root, Zone.QUARANTINE, "trips"))
        if kept + dropped != raw:
            failed.append(f"row conservation: validated {kept} + quarantined {dropped} != raw {raw}")

        con = duckdb.connect()
        for t in PIPELINE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(self.sf_dir, t)}')")
        read, valid = con.execute(
            f"SELECT COUNT(*), COUNT(*) FILTER (WHERE {_ALL_PASS}) FROM lineitem"
        ).fetchone()
        expect = {
            "run_id": self.run_id, "job_name": "validate", "records_read": read,
            "records_valid": valid, "records_quarantined": read - valid,
            "status": "CLEAN" if read == valid else "PARTIAL",
        }
        rows = []
        for path in glob.glob(os.path.join(zone_path(root, Zone.AUDIT, "metrics/validate"), "*.json")):
            with open(path) as fh:
                rows.extend(json.loads(line) for line in fh if line.strip())
        if rows != [expect]:
            failed.append(f"metrics json {rows} != recomputed {expect}")

        analytics = zone_path(root, Zone.ANALYTICS, "daily_revenue")
        con.execute(f"CREATE VIEW analytics AS SELECT * FROM read_parquet('{analytics}/*.parquet')")
        con.execute(f"""
            CREATE VIEW oracle AS
            SELECT l_suppkey, CAST(l_shipdate AS DATE) AS trip_date,
                   CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                        AS STRING) AS DOUBLE) AS total_revenue,
                   COUNT(*) AS trip_count
            FROM lineitem
            JOIN (SELECT DISTINCT s_suppkey FROM supplier WHERE s_acctbal > 0) s
              ON l_suppkey = s_suppkey
            WHERE {_ALL_PASS}
            GROUP BY 1, 2""")
        schema = [con.execute(f"DESCRIBE {v}").fetchall() for v in ("analytics", "oracle")]
        cols = "l_suppkey, trip_date, total_revenue, trip_count"
        # exact multiset equality, doubles compared bit-for-bit
        diff = con.execute(f"""
            SELECT COUNT(*) FROM (
              (SELECT {cols} FROM analytics EXCEPT ALL SELECT {cols} FROM oracle)
              UNION ALL
              (SELECT {cols} FROM oracle EXCEPT ALL SELECT {cols} FROM analytics))""").fetchone()[0]
        con.close()
        if sorted(c[:2] for c in schema[0]) != sorted(c[:2] for c in schema[1]) or diff:
            failed.append(f"analytics zone: {diff} rows differ from DuckDB; schemas {schema}"[:300])
        return failed


def _traced_stage(name, fn, counters, groups):
    def run(ctx):
        group = counters.begin(name)
        e0 = time.time()
        try:
            return fn(ctx)
        finally:
            e1 = time.time()
            groups.append((name, group, e0, e1))
            counters.clear()

    return run


def median_passes(passes: list[Pass]) -> dict[str, float]:
    """Per-key median over passes of the per-layer counters."""
    keys = sorted({k for p in passes for k in p.layers})
    return {k: statistics.median(p.layers.get(k, 0.0) for p in passes) for k in keys}
