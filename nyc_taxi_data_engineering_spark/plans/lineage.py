"""Lineage emission (reference C9:
lambda/write_data_lineage/lambda_function.py:14-55,
governance/lineage_schema.json:1-15).

One append-only row per pipeline hop; coupling between stages stays
data-at-rest exactly like the reference (SURVEY §3.1 step 4's key
design fact) — the lineage table is an audit artifact, never a control
channel.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_taxi_data_engineering_spark.schemas import LINEAGE_SCHEMA


@dataclass(frozen=True)
class LineageHop:
    pipeline_name: str
    pipeline_stage: str
    source_layer: str
    source_dataset: str
    dataset_layer: str
    dataset_name: str
    transformation_name: str
    transformation_type: str
    created_by: str = "engine"
    created_at: str = "1970-01-01 00:00:00"  # injected clock
    is_active: bool = True
    lineage_version: int = 1


def lineage_table(spark: SparkSession, hops: list[LineageHop]) -> DataFrame:
    """One ``LINEAGE_SCHEMA`` row per hop, as a one-partition frame built
    in the JVM: the rows are literal structs exploded (``inline``) over a
    one-row range. ``createDataFrame`` over Python rows would build a
    Python-worker RDD of ``defaultParallelism`` partitions instead, so a
    3-row ledger cost 4 tasks and 4 output files."""
    rows = [
        F.struct(
            F.lit(h.pipeline_name), F.lit(h.pipeline_stage), F.lit(h.source_layer),
            F.lit(h.source_dataset), F.lit(h.dataset_layer), F.lit(h.dataset_name),
            F.lit(h.transformation_name), F.lit(h.transformation_type),
            F.lit(h.created_by), F.lit(_dt.datetime.fromisoformat(h.created_at)),
            F.lit(h.is_active), F.lit(h.lineage_version),
        )
        for h in hops
    ]
    ledger = F.array(*rows).cast(T.ArrayType(LINEAGE_SCHEMA))
    return spark.range(0, 1, 1, numPartitions=1).select(F.inline(ledger))
