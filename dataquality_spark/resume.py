"""Checkpoint/resume via processed-partition manifests (FIXTURES.md §4).

Reference ancestry: the retry/fallback resilience patterns
(/root/reference/main.py:222-250 fallback chain,
agents/base_agent.py:159-169 retry) and the response cache
(services/llm_service.py:98-105) — job-level recovery here is an
anti-join (SURVEY.md §2.B15) of planned partitions against a manifest of
completed ones, so a killed run restarts without recomputing finished
splits. Decisions are written with dynamic partition overwrite, which
makes re-processing a partition idempotent.
"""

from __future__ import annotations

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField, StructType,
                               TimestampType)

from . import config as C

MANIFEST_SCHEMA = StructType([
    StructField("partition_id", StringType()),
    StructField("status", StringType()),
    StructField("completed_at", TimestampType()),
    StructField("output_rows", LongType()),
])


def completed_partitions(spark: SparkSession, manifest_dir: str) -> list[str]:
    """Partition ids the manifest marks done; [] only when the manifest
    path does not exist yet (a first run) — any other read error raises."""
    try:
        m = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return []
        raise
    return [r.partition_id for r in
            m.filter(F.col("status") == "done")
             .select("partition_id").distinct().collect()]


def filter_remaining(pages: DataFrame, done: list[str]) -> DataFrame:
    """Drop rows of already-completed partitions.

    The predicate is on the derived partition column; on an Iceberg/parquet
    table partitioned by it this prunes at the scan (SURVEY.md §4.2).
    """
    if not done:
        return pages
    return pages.filter(~F.col(C.PARTITION_COL).isin(done))


def record_done(spark: SparkSession, manifest_dir: str,
                rows: list[tuple[str, int]], completed_at) -> None:
    """Append manifest rows: [(partition_id, output_rows)]."""
    if not rows:
        return
    ts = completed_at.astimezone()   # a naive datetime means local time
    pdf = pd.DataFrame([(pid, "done", ts, n) for pid, n in rows],
                       columns=MANIFEST_SCHEMA.names)
    df = spark.createDataFrame(pdf, schema=MANIFEST_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(manifest_dir)
