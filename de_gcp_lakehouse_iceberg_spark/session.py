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

Execution posture: small statements run interpreted. A lakehouse
MERGE/UPDATE/DELETE usually carries a fresh literal, so with code
generation on, each one Janino-compiles new classes that HotSpot then compiles
again; on a small table that costs more CPU than the data work.
The lakehouse entry points that launch jobs (dml's row-level
statements, the IVM refresh, compaction and the sort/z-order rewrites)
open `small_statement` with the bytes they are about to process, read
from the snapshot they pin (plus Catalyst's estimate for a caller's
DataFrame); at or below `SMALL_STATEMENT_BYTES` the statement runs
with whole-stage codegen off and interpreted expression factories.
Larger statements keep code generation, which pays at scale. Because
the scope is entered per statement, sessions from `get_spark` and a
driver's vanilla session behave alike, and `tune_session` sets nothing
for it.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# The bound of `small_statement`, in bytes processed, from two measured
# crossovers (local[4]; CHANGES.md has the tables). A warm UPDATE with
# a fresh literal over a 7-column table (about 30k rows per MB) runs
# faster interpreted up to 10 MB and ties at 16 MB. DML whose literals
# repeat, over denser tables (the corpus's q19/q20/q98: up to 170k
# rows per MB), runs faster interpreted at 0.3-0.6 MB (sf0.01) but
# slower at 3-6 MB (sf0.1). Interpreted cost follows rows, which bytes
# only bound loosely, so the bound sits below the smallest loss.
SMALL_STATEMENT_BYTES = 1024 * 1024

_INTERPRETED = (
    ("spark.sql.codegen.wholeStage", "false"),
    ("spark.sql.codegen.factoryMode", "NO_CODEGEN"),
)

# Runtime-settable tunings, shared by `get_spark` and `tune_session`.
_RUNTIME_CONFS = (
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    # modern timestamp physical type: INT96 (Spark's legacy default)
    # carries NO parquet min/max statistics, which would blind the
    # lakehouse column-stats file skipping on every time column
    ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
    ("spark.sql.sources.parallelPartitionDiscovery.threshold", "2147483647"),
)

# Open scopes per JVM session (keyed by its UUID, since two Python
# wrappers may share one session): [open scope count, the confs the
# outermost scope saved, or None when it kept code generation].
_scopes: dict[str, list] = {}
_scopes_lock = threading.Lock()


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config(map=dict(_RUNTIME_CONFS))
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
    for k, v in _RUNTIME_CONFS:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session — fine, defaults are close
    return spark


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of `df`'s optimized plan, in bytes: file
    sizes and row widths, no job. Unknown sizes (an RDD-backed relation)
    read as `spark.sql.defaultSizeInBytes`, i.e. large."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


@contextmanager
def small_statement(spark: SparkSession, nbytes: int) -> Iterator[None]:
    """Run the enclosed statement with interpreted expressions when it
    processes at most `SMALL_STATEMENT_BYTES` (`nbytes`): whole-stage
    codegen off and `NO_CODEGEN` expression factories, so a fresh
    literal compiles no class.

    The caller's values of the two confs are saved and restored
    exactly, also when the statement raises: a value the caller set
    stays set, an unset one is unset again. Scopes are counted per
    session under a lock: the outermost scope decides the mode and the
    last one to close restores, so nested scopes and threads sharing a
    session never leave it interpreted.

    The confs are the session's, not the thread's: while a small
    statement holds the scope, another thread's statement on the same
    session also runs interpreted (or, under a large outermost scope, a
    small one keeps code generation). Only speed differs; results are
    the same in both modes."""
    key = spark._jsparkSession.sessionUUID()
    with _scopes_lock:
        scope = _scopes.get(key)
        if scope is None:
            saved = None
            if nbytes <= SMALL_STATEMENT_BYTES:
                saved = {k: spark.conf.get(k, None) for k, _ in _INTERPRETED}
                for k, v in _INTERPRETED:
                    spark.conf.set(k, v)
            scope = _scopes[key] = [0, saved]
        scope[0] += 1
    try:
        yield
    finally:
        with _scopes_lock:
            scope[0] -= 1
            if scope[0] == 0:
                del _scopes[key]
                for k, v in (scope[1] or {}).items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
