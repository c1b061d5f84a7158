"""Structured Streaming pipeline — the Spark re-expression of the
reference's streaming path (main.py:333-398: ReadFromPubSub →
WindowInto(FixedWindows(60)) → GroupByKey → windowed_trip_stats).

Semantics upgrades over the reference, per SURVEY.md §7.3:
- event-time windows with a watermark (the reference has none, T5) —
  required for state cleanup in append mode and the correct late-data
  story at scale;
- exactly-once sink commits (the reference's WRITE_APPEND is
  at-least-once, T7): every foreachBatch sink in this package runs
  through `run_foreach_batch` and commits under one rule
  (`batch_landed` / `batch_mark`).

Parity is defined as SURVEY.md Q22: a bounded replay of the stream must
equal the batch `groupBy(window(...))` over the same rows — which the
driver checks against the same DuckDB oracle as the batch query.

Scale posture: the stateful windowed aggregation shuffles on
(window, key); watermark bounds state size; `availableNow` replays
backlogs in controlled batches. Pub/Sub becomes any Spark streaming
source (Kafka/file/rate) — the pipeline is source-agnostic past
`read_events_stream`.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lakehouse import LakeTable
from ..tables import normalize_events_ts

EVENTS_FILE_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded read of the events table (file source stands in for
    Pub/Sub — S3 in SURVEY.md §2.1). The file's `ts` physical type has
    varied across testdata vintages (TIMESTAMP(NANOS) read as long vs
    timestamp[us] read as TIMESTAMP_NTZ): take the REAL schema from a
    batch probe of the file — never substitute a hand-written one — and
    let normalize_events_ts dispatch, so batch and streaming readers are
    identical by construction (tables.py)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file source requires a directory: scan sf_dir, glob-filtered to
    # the events file only
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(stream)


def windowed_aggregate(
    events: DataFrame,
    window: str = "60 seconds",
    watermark: str = "10 minutes",
    min_count: int = 2,
) -> DataFrame:
    """Fixed tumbling windows keyed by event_type (T1/T2): count + exact
    decimal value sum per window. Identical expression tree for batch
    and streaming inputs — the Q22 equivalence is by construction."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    agg = (
        src.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("event_count"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .filter(F.col("event_count") >= min_count)
    )
    return agg.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "event_count",
        "total_value",
    )


def replay_windowed_aggregate(
    spark: SparkSession,
    sf_dir: str,
    window: str = "60 seconds",
    min_count: int = 2,
) -> DataFrame:
    """Bounded replay: stream the events table end-to-end with
    Trigger.AvailableNow into an in-memory sink and return the final
    windowed aggregate (complete mode — every window, matching the
    batch result exactly; append mode would hold back windows the
    watermark hasn't passed at stream end)."""
    sink = f"windowed_replay_{uuid.uuid4().hex[:8]}"
    q = (
        windowed_aggregate(
            read_events_stream(spark, sf_dir), window=window, min_count=min_count
        )
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).orderBy("window_start", "event_type")


def batch_landed(table: LakeTable, name: str, batch_id: int) -> bool:
    """The exactly-once commit rule: batch `batch_id` of checkpoint
    `name` already landed in `table` iff the latest snapshot's mark for
    `name` is at or above it. LakeTable._commit_snapshot carries the
    marks through every later commit, so this reads ONE manifest on the
    driver — no Spark job, O(1) in the snapshot-log length."""
    marks = table.snapshot().summary.get("stream_watermarks", {})
    return batch_id <= marks.get(name, -1)


def batch_mark(name: str, batch_id: int) -> dict:
    """The summary entry a sink commits atomically with batch
    `batch_id`'s rows, advancing `name`'s mark in that table."""
    return {"stream_watermarks": {name: batch_id}}


def run_foreach_batch(source, root, name, commit, timeout_s=None) -> None:
    """Drain `source` (availableNow) through `commit(df, batch_id)`,
    checkpointed at the stable `<root>/_checkpoints/<name>` so a rerun
    resumes; re-raises a micro-batch error. A query still running when
    `timeout_s` runs out is stopped and TimeoutError raised."""
    q = (
        source.writeStream.foreachBatch(commit)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{root}/_checkpoints/{name}")
        .start()
    )
    if timeout_s is not None and not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"streaming query {name!r} still active after {timeout_s} s")
    q.awaitTermination()


def stream_append_to_laketable(
    spark: SparkSession,
    source: DataFrame,
    table: LakeTable,
    poll_timeout_s: float = 120.0,
    checkpoint_name: str = "stream_append",
    refresh_rollups: list | None = None,
) -> int:
    """Continuous append of a bounded stream into a LakeTable via
    foreachBatch (S11: the streaming Iceberg append). Exactly-once =
    at-least-once delivery (checkpointed offsets) + an idempotent
    commit: a batch's rows and its `batch_mark` land in one snapshot,
    and a replayed batch that `batch_landed` is skipped. A run still
    active after `poll_timeout_s` is stopped with TimeoutError.
    Returns the number of micro-batches newly committed."""
    batches = {"n": 0}

    def _commit(df: DataFrame, batch_id: int) -> None:
        if batch_landed(table, checkpoint_name, batch_id) or df.isEmpty():
            return
        table.append(
            df,
            operation=f"stream_batch_{batch_id}",
            summary=batch_mark(checkpoint_name, batch_id),
        )
        batches["n"] += 1
        # STREAMING IVM: downstream rollups ride the micro-batch —
        # each commit is followed by a changelog-delta refresh, so the
        # maintained aggregates are as fresh as the sink itself. The
        # refresh is idempotent (noop when already at the sink's head)
        # and crash-safe: a failure between append and refresh leaves
        # the rollup stale by one commit, which the NEXT batch's (or
        # any manual) refresh catches up — never wrong, only late.
        for rollup in refresh_rollups or []:
            rollup.refresh()

    run_foreach_batch(source, table.root, checkpoint_name, _commit, poll_timeout_s)
    return batches["n"]
