"""Query-performance monitoring — the Spark re-expression of the
reference's self-observability loop (S9: INFORMATION_SCHEMA.JOBS scan,
iceberg_maintenance.py:158-175; M8: flag queries > 10 GB scanned or
> 60 s, :180-197; alert thresholds PRD.md:2916-2930).

BigQuery gives the reference a queryable job log for free; here a thin
recorder wraps query execution, measures wall time and input bytes from
the plan's scanned files, and appends one row per run to a `query_
metrics` LakeTable — making the metrics themselves queryable with the
same engine (the reference's pattern exactly).
"""

from __future__ import annotations

import os
import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .table import LakeTable, local_path

# reference thresholds (iceberg_maintenance.py:183,191; PRD.md:2916-2930)
SLOW_QUERY_SECONDS = 30.0
LONG_QUERY_SECONDS = 60.0
EXPENSIVE_QUERY_BYTES = 10 * 1024**3

METRICS_SCHEMA = (
    "query_name string, started_ms long, duration_s double, "
    "input_bytes long, input_files long, rows_out long"
)


class QueryMetrics:
    """Records per-query wall time + scan volume into a LakeTable."""

    def __init__(self, spark, root: str):
        self.spark = spark
        try:
            self.table = LakeTable.load(spark, root)
        except FileNotFoundError:
            os.makedirs(os.path.dirname(root) or ".", exist_ok=True)
            self.table = LakeTable.create(spark, root)

    def record(
        self, name: str, df: DataFrame, planned: dict | None = None
    ) -> list:
        """Execute `df` (collect) and append one metrics row. Input
        volume comes from the scanned files the plan reports — the
        local analog of BigQuery's total_bytes_processed. For lakehouse
        queries pass `planned=table.plan_volume(...)` (the manifest's
        planned-file sizes for THAT query's pruned plan): the manifest
        already knows the byte volume without a single filesystem stat
        call, which is how the estimate stays O(#files-planned) on an
        object store."""
        if planned is not None:
            files_n = int(planned["files"])
            input_bytes = int(planned["bytes"])
        else:
            files = df.inputFiles()
            files_n = len(files)
            input_bytes = 0
            for f in files:
                try:
                    input_bytes += os.path.getsize(local_path(f))
                except OSError:
                    pass
        t0 = time.time()
        rows = df.collect()
        duration = time.time() - t0
        self.table.append(
            self.spark.createDataFrame(
                [
                    (
                        name,
                        int(t0 * 1000),
                        float(duration),
                        input_bytes,
                        files_n,
                        len(rows),
                    )
                ],
                METRICS_SCHEMA,
            )
        )
        return rows

    def analyze(
        self,
        slow_seconds: float = SLOW_QUERY_SECONDS,
        expensive_bytes: int = EXPENSIVE_QUERY_BYTES,
    ) -> list[dict[str, Any]]:
        """M8: queries breaching the thresholds, with the reference's
        recommendation strings (iceberg_maintenance.py:180-197)."""
        df = self.table.scan()
        flagged = df.filter(
            (F.col("duration_s") > slow_seconds)
            | (F.col("input_bytes") > expensive_bytes)
        )
        out = []
        for r in flagged.orderBy(F.desc("duration_s")).collect():
            recs = []
            if r.duration_s > slow_seconds:
                recs.append("consider adding partition filters or clustering")
            if r.input_bytes > expensive_bytes:
                recs.append("query scans excessive data; prune columns/partitions")
            out.append(
                {
                    "query_name": r.query_name,
                    "duration_s": r.duration_s,
                    "input_bytes": r.input_bytes,
                    "recommendations": recs,
                }
            )
        return out

    def summary(self) -> DataFrame:
        """Top queries by duration — the JOBS_BY_PROJECT top-k shape
        (iceberg_maintenance.py:158-175)."""
        return (
            self.table.scan()
            .groupBy("query_name")
            .agg(
                F.count("*").alias("runs"),
                F.round(F.avg("duration_s"), 3).alias("avg_duration_s"),
                F.round(F.max("duration_s"), 3).alias("max_duration_s"),
                F.sum("input_bytes").alias("total_input_bytes"),
            )
            .orderBy(F.desc("avg_duration_s"))
        )
