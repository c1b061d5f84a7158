"""Streaming taxi ingest — the reference's full streaming pipeline
(run_streaming_processor, main.py:333-398) as one Structured Streaming
job with THREE sinks off a single parsed stream:

1. validated trips → `taxi_trips` append (main.py:362-370, S11);
2. invalid records → `processing_errors` dead-letter (S12);
3. 60 s tumbling-window stats → `windowed_trip_stats` with
   window_start/window_end columns (main.py:373-390, T1-T3).

All three are fed by ONE foreachBatch and commit as three appends.
Replay contract (T7 upgrade): one checkpoint per warehouse
(`_checkpoints/taxi_stream`), so a rerun on the same input and
warehouse resumes; input files are tracked by path, each read once per
checkpoint; every sink applies the shared commit rule (streaming/
pipeline.py), so a batch replayed after a failure between appends
re-lands only in the sinks that missed it — exactly once per sink.
The windowed stats are recomputed per batch; because the reference
defines parity on full bounded replay (SURVEY.md §7.3 item 3), the
test re-aggregates across batches exactly like Q22.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lakehouse import LakeTable, Warehouse
from ..sources.ingest import classify_trips, invalid_trips, trip_json_reader, valid_trips
from .pipeline import batch_landed, batch_mark, run_foreach_batch

CHECKPOINT = "taxi_stream"
SINKS = ("taxi_trips", "windowed_trip_stats", "processing_errors")


def rate_trip_stream(spark: SparkSession, rows_per_second: int = 50) -> DataFrame:
    """T8/B9: rate-controlled synthetic trip stream — Spark's `rate`
    source paced at `rows_per_second` (the reference's simulator pushes
    10-20 trips/min to Pub/Sub; B4's throughput envelope is 50 msg/s).
    Trip fields derive deterministically from the row counter via
    xxhash64, so a bounded capture is reproducible. Emits the TRIP_INPUT
    shape, ready for classify_trips."""

    def h(col, seed, mod):
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(mod))

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    v = F.col("value")
    duration_min = (h(v, 1, 116) + 5).cast("long")  # 5-120 min
    distance = (h(v, 2, 2450) + 50) / 100.0  # 0.5-25.0 mi
    fare = F.round(2.50 + distance * 2.50 + duration_min * 0.50, 2)
    pickup = F.col("timestamp") - F.expr("INTERVAL 1 HOUR")
    return rate.select(
        F.concat(F.lit("rate_"), v.cast("string")).alias("trip_id"),
        (h(v, 3, 2) + 1).alias("vendor_id"),
        F.date_format(pickup, "yyyy-MM-dd'T'HH:mm:ss").alias("pickup_datetime"),
        F.date_format(
            pickup + duration_min * F.expr("INTERVAL 1 MINUTE"),
            "yyyy-MM-dd'T'HH:mm:ss",
        ).alias("dropoff_datetime"),
        (h(v, 4, 5) + 1).alias("passenger_count"),
        distance.cast("string").alias("trip_distance"),
        F.lit("-73.98").alias("pickup_longitude"),
        F.lit("40.75").alias("pickup_latitude"),
        F.lit("-73.95").alias("dropoff_longitude"),
        F.lit("40.78").alias("dropoff_latitude"),
        F.element_at(
            F.array(F.lit("card"), F.lit("cash"), F.lit("no_charge"), F.lit("dispute")),
            (h(v, 5, 4) + 1).cast("int"),
        ).alias("payment_type"),
        fare.cast("string").alias("fare_amount"),
        F.lit("0.50").alias("extra"),
        F.lit("0.50").alias("mta_tax"),
        F.lit("0.00").alias("tip_amount"),
        F.lit("0.00").alias("tolls_amount"),
        F.round(fare + 1.0, 2).cast("string").alias("total_amount"),
        (h(v, 6, 15) + 1).alias("pickup_location_id"),
        (h(v, 7, 15) + 1).alias("dropoff_location_id"),
        F.date_format(F.col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss").alias(
            "event_timestamp"
        ),
    )


def read_trips_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """JSONL file stream standing in for the Pub/Sub subscription (S3),
    read under the same contract as batch `read_jsonl`."""
    reader = trip_json_reader(spark.readStream)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(input_dir)


def windowed_trip_stats(valid: DataFrame, window: str = "60 seconds") -> DataFrame:
    """T1-T3: fixed windows over event-time pickup, keyed by location,
    with window bounds projected as columns. Event-time keying for BOTH
    batch and streaming — the deliberate unification of the reference's
    stat_hour discrepancy (T4, main.py:168-178)."""
    return (
        valid.groupBy(
            F.window("pickup_datetime", window).alias("w"),
            "pickup_location_id",
        )
        .agg(
            F.count("*").alias("trip_count"),
            F.round(F.avg(F.col("fare_amount").cast("double")), 2).alias(
                "avg_fare_amount"
            ),
            F.round(F.sum(F.col("total_amount").cast("double")), 2).alias(
                "total_revenue"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "pickup_location_id",
            "trip_count",
            "avg_fare_amount",
            "total_revenue",
        )
    )


def run_streaming_pipeline(
    spark: SparkSession,
    input_dir: str,
    warehouse_root: str,
    window: str = "60 seconds",
    max_files_per_trigger: int | None = 1,
) -> dict:
    """Bounded streaming run (Trigger.AvailableNow): every input file
    not yet read by this warehouse's checkpoint flows through parse →
    validate → three-sink fan-out. Returns final counts per sink."""
    wh = Warehouse(spark, warehouse_root)
    trips_t, windows_t, errors_t = (wh.table_or_create(n) for n in SINKS)

    def _land(t: LakeTable, df: DataFrame, batch_id: int) -> None:
        if not batch_landed(t, CHECKPOINT, batch_id):
            t.append(
                df,
                operation=f"stream_batch_{batch_id}",
                summary=batch_mark(CHECKPOINT, batch_id),
            )

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        classified = classify_trips(batch_df, mode="streaming").cache()
        try:
            v = valid_trips(classified)
            if not v.isEmpty():
                _land(trips_t, v, batch_id)
                _land(windows_t, windowed_trip_stats(v, window=window), batch_id)
            inv = invalid_trips(classified)
            if not inv.isEmpty():
                _land(errors_t, inv, batch_id)
        finally:
            classified.unpersist()

    run_foreach_batch(
        read_trips_stream(spark, input_dir, max_files_per_trigger),
        wh.root,
        CHECKPOINT,
        _commit,
    )
    # row counts from snapshot manifests — O(#files) metadata, no scan
    return {
        "valid": trips_t.snapshot().total_rows,
        "invalid": errors_t.snapshot().total_rows,
        "window_rows": windows_t.snapshot().total_rows,
    }


def replayed_window_totals(spark: SparkSession, warehouse_root: str) -> DataFrame:
    """Re-aggregate per-batch window partials into final per-window
    totals (the bounded-replay parity view used by Q22-style checks).
    Partial sums/counts combine exactly; the average is recomputed from
    the combined sums, not averaged-of-averages."""
    wh = Warehouse(spark, warehouse_root)
    w = wh.table("windowed_trip_stats").scan()
    return (
        w.groupBy("window_start", "window_end", "pickup_location_id")
        .agg(
            F.sum("trip_count").alias("trip_count"),
            F.round(F.sum("total_revenue"), 2).alias("total_revenue"),
        )
        .orderBy("window_start", "pickup_location_id")
    )
