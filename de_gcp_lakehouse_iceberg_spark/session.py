"""SparkSession factory tuned for the engine.

The reference delegates execution to Dataflow/BigQuery (SURVEY.md §4);
here Catalyst + Tungsten are the engine. Config posture is
cluster-minded even though tests run on local[N]:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE fixes it.
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalesce from `spark.sql.adaptive.advisoryPartitionSizeInBytes`.
- Arrow enabled for any Pandas-UDF slow path.
- UTC session timezone so timestamp semantics match the oracle (DuckDB)
  and the reference's UTC-µs convention (sql/create_iceberg_tables.sql).
- no parallel file-listing job (`parallelPartitionDiscovery.threshold`
  at its maximum): `LakeTable._read_files` passes the exact file paths
  its manifest names, and those files live on a POSIX path (the commit
  protocol is a hard-link CAS; `_scan_written` sizes files with
  `os.path.getsize`), so a driver-side stat costs microseconds and a
  listing job — one task per file beyond 32 — never pays for itself.
  Set on the builder too: `newSession()` children inherit it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lakehouse-spark",
    cpus: int | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # modern timestamp physical type: INT96 (Spark's legacy default)
        # carries NO parquet min/max statistics, which would blind the
        # lakehouse column-stats file skipping on every time column
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2147483647")
    )
    if warehouse_dir:
        # static conf — only effective when this call CREATES the session
        # (tests pass a tmp dir so saveAsTable leftovers from a killed run
        # can never collide with the next run's catalog)
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tunings to an externally provided session
    (the driver hands us its own SparkSession in `entry()`)."""
    for k, v in [
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
        ("spark.sql.sources.parallelPartitionDiscovery.threshold", "2147483647"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session — fine, defaults are close
    return spark
