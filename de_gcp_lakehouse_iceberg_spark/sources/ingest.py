"""Batch ingest pipeline — the Spark re-expression of the reference's
ParseTaxiRecord → tagged valid/invalid → WriteToBigQuery flow
(main.py:21-330), as pure Column expressions over one scan.

Where the reference runs per-row Python in Beam DoFns, this declares a
single classification expression: the FIRST failing rule tags the row
(same precedence as the sequential returns in main.py:52-131):

1. missing_field           — required field null (main.py:52-62, P2)
2. invalid_timestamp_format— unparseable ISO-8601 (main.py:69-93, P4)
3. invalid_timestamp_order — pickup ≥ dropoff (main.py:78-86, P5)
4. validation_failed       — distance/total ≤ 0 (main.py:122-131, P8)

One scan → one narrow projection → two filtered outputs; no shuffle
until the aggregate. At 100 TB the validation costs a single codegen'd
pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..lakehouse import Warehouse
from .taxi_schema import TRIP_INPUT

MONEY_COLS = [
    "fare_amount",
    "extra",
    "mta_tax",
    "tip_amount",
    "tolls_amount",
    "total_amount",
]
COORD_COLS = [
    "pickup_longitude",
    "pickup_latitude",
    "dropoff_longitude",
    "dropoff_latitude",
]
REQUIRED = ["pickup_datetime", "dropoff_datetime", "trip_distance", "total_amount"]


def trip_json_reader(reader):
    """The trip JSON read contract, shared by batch `read_jsonl` and the
    taxi stream: `reader` (spark.read / spark.readStream) gets a pinned
    schema — no inference in production paths (SURVEY.md §1.4) — and
    PERMISSIVE mode keeps malformed lines in `_corrupt`, so the
    classifier tags them json_parsing_failed in both modes (main.py:
    134-140). A fresh StructType: .add would mutate TRIP_INPUT."""
    schema = StructType(list(TRIP_INPUT.fields) + [StructField("_corrupt", StringType())])
    return (
        reader.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
    )


def read_jsonl(spark: SparkSession, path_glob: str) -> DataFrame:
    """S1: newline-delimited JSON batch scan (`trip_json_reader`)."""
    return trip_json_reader(spark.read).json(path_glob)


# NYC-taxi CSV positional layout (S2, PRD.md:338-358): 18 columns, the
# trip coordinates split around two unused columns (7, 8).
_CSV_POSITIONS = [
    ("vendor_id", 0, "long"),
    ("pickup_datetime", 1, None),
    ("dropoff_datetime", 2, None),
    ("passenger_count", 3, "long"),
    ("trip_distance", 4, None),
    ("pickup_longitude", 5, None),
    ("pickup_latitude", 6, None),
    ("dropoff_longitude", 9, None),
    ("dropoff_latitude", 10, None),
    ("payment_type", 11, None),
    ("fare_amount", 12, None),
    ("extra", 13, None),
    ("mta_tax", 14, None),
    ("tip_amount", 15, None),
    ("tolls_amount", 16, None),
    ("total_amount", 17, None),
]


def read_nyc_csv(spark: SparkSession, path_glob: str) -> DataFrame:
    """S2: positional NYC CSV scan (PRD.md:330-368) → the TRIP_INPUT
    shape, so the same classify/valid/invalid pipeline applies.
    Timestamps arrive as 'YYYY-MM-DD HH:MM:SS' (no zone) and are
    normalized to the ISO form the JSONL path uses; trip_id is the
    reference's deterministic composite (PRD.md:356)."""
    raw = spark.read.option("header", "false").csv(path_glob)
    cols = [
        F.col(f"_c{pos}").cast(dtype or "string").alias(name)
        for name, pos, dtype in _CSV_POSITIONS
    ]
    df = raw.select(*cols)
    iso = lambda c: F.regexp_replace(c, " ", "T")  # noqa: E731
    return df.select(
        F.concat_ws(
            "_",
            F.lit("batch"),
            F.col("vendor_id").cast("string"),
            F.col("pickup_datetime"),
            F.col("pickup_longitude"),
            F.col("pickup_latitude"),
        ).alias("trip_id"),
        "vendor_id",
        iso(F.col("pickup_datetime")).alias("pickup_datetime"),
        iso(F.col("dropoff_datetime")).alias("dropoff_datetime"),
        F.coalesce(F.col("passenger_count"), F.lit(1)).alias("passenger_count"),
        "trip_distance",
        "pickup_longitude",
        "pickup_latitude",
        "dropoff_longitude",
        "dropoff_latitude",
        F.coalesce(F.col("payment_type"), F.lit("Unknown")).alias("payment_type"),
        "fare_amount",
        "extra",
        "mta_tax",
        "tip_amount",
        "tolls_amount",
        "total_amount",
        F.lit(None).cast("long").alias("pickup_location_id"),
        F.lit(None).cast("long").alias("dropoff_location_id"),
        F.lit(None).cast("string").alias("event_timestamp"),
    )


def export_parquet(
    df: DataFrame,
    uri: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S14: EXPORT DATA ... format='PARQUET' (PRD.md:1379-1393)."""
    _export(df, uri, "parquet", partition_by, mode)


def export_jsonl(
    df: DataFrame,
    uri: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S14 family: newline-delimited JSON export (EXPORT DATA
    format='JSON') — the interchange format the ingest side reads."""
    _export(df, uri, "json", partition_by, mode)


def export_orc(
    df: DataFrame,
    uri: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S14 family: ORC export — Spark-native columnar alternative for
    consumers standardized on the Hive/ORC stack."""
    _export(df, uri, "orc", partition_by, mode)


def _export(
    df: DataFrame,
    uri: str,
    fmt: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(uri)


def _parse_ts(col: str):
    """ISO-8601 with optional 'Z' → TimestampType (main.py:71-76's
    fromisoformat + Z→+00:00 normalization). try_to_timestamp returns
    NULL on garbage instead of failing the job."""
    normalized = F.regexp_replace(F.col(col), "Z$", "+00:00")
    return F.coalesce(
        F.try_to_timestamp(normalized, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(normalized, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
        F.try_to_timestamp(F.col(col)),
    )


def classify_trips(raw: DataFrame, mode: str = "batch") -> DataFrame:
    """Add `_error_type` (null ⇒ valid) + typed/normalized columns."""
    df = raw.withColumn("_pickup_ts", _parse_ts("pickup_datetime")).withColumn(
        "_dropoff_ts", _parse_ts("dropoff_datetime")
    )
    missing = F.lit(False)
    for c in REQUIRED:
        missing = missing | F.col(c).isNull()
    bad_format = (
        F.col("pickup_datetime").isNotNull() & F.col("_pickup_ts").isNull()
    ) | (F.col("dropoff_datetime").isNotNull() & F.col("_dropoff_ts").isNull())
    bad_order = F.col("_pickup_ts") >= F.col("_dropoff_ts")
    bad_values = (F.col("trip_distance").cast("double") <= 0) | (
        F.col("total_amount").cast("double") <= 0
    )
    corrupt = (
        F.col("_corrupt").isNotNull()
        if "_corrupt" in raw.columns
        else F.lit(False)
    )
    error_type = (
        F.when(corrupt, "json_parsing_failed")
        .when(missing, "missing_field")
        .when(bad_format, "invalid_timestamp_format")
        .when(bad_order, "invalid_timestamp_order")
        .when(bad_values, "validation_failed")
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("_error_type", error_type).withColumn(
        "_mode", F.lit(mode)
    )


def valid_trips(classified: DataFrame) -> DataFrame:
    """The valid branch, normalized to the taxi_trips shape: money 2dp,
    coords 9dp as DECIMAL(38,9) (main.py:97-113), synthesized trip_id
    (main.py:64-67), event_timestamp dropped (main.py:115-117),
    created_at stamped (main.py:119-120)."""
    df = classified.filter(F.col("_error_type").isNull())
    prefix = F.concat(F.col("_mode"), F.lit("_"))
    df = df.withColumn(
        "trip_id",
        F.coalesce(F.col("trip_id"), F.concat(prefix, F.uuid())),
    )
    for c in MONEY_COLS:
        df = df.withColumn(c, F.round(F.col(c).cast("double"), 2).cast("decimal(38,9)"))
    for c in COORD_COLS:
        df = df.withColumn(c, F.round(F.col(c).cast("double"), 9).cast("decimal(38,9)"))
    df = df.withColumn("trip_distance", F.round(F.col("trip_distance").cast("double"), 2).cast("decimal(38,9)"))
    return df.select(
        "trip_id",
        "vendor_id",
        F.col("_pickup_ts").alias("pickup_datetime"),
        F.col("_dropoff_ts").alias("dropoff_datetime"),
        "passenger_count",
        "trip_distance",
        *COORD_COLS,
        "payment_type",
        *MONEY_COLS,
        "pickup_location_id",
        "dropoff_location_id",
        F.current_timestamp().alias("created_at"),
    )


def invalid_trips(classified: DataFrame) -> DataFrame:
    """The dead-letter branch with the reference's error envelope
    (streaming_taxi_processor.py:200-208 / S12). A line the JSON reader
    could not parse keeps its raw text (`_corrupt`) as `record`; every
    other rejected row stores its fields as JSON."""
    record = F.to_json(
        F.struct(*[c for c in classified.columns if not c.startswith("_")])
    )
    if "_corrupt" in classified.columns:
        record = F.coalesce(F.col("_corrupt"), record)
    return classified.filter(F.col("_error_type").isNotNull()).select(
        F.concat(F.lit("rejected: "), F.col("_error_type")).alias("error"),
        record.alias("record"),
        F.col("_error_type").alias("error_type"),
        F.concat(F.col("_mode"), F.lit("_taxi_processor")).alias(
            "pipeline_name"
        ),
        F.current_timestamp().alias("created_at"),
    )


def hourly_stats(valid: DataFrame) -> DataFrame:
    """A2/Q11: per (pickup hour, location) — trip_count, 2dp averages of
    fare/distance/duration, 2dp revenue sum (main.py:149-265, replacing
    Beam's GroupByKey+reduce with one hash aggregate)."""
    duration_min = (
        F.unix_timestamp("dropoff_datetime") - F.unix_timestamp("pickup_datetime")
    ) / 60.0
    return (
        valid.withColumn("_duration_min", duration_min)
        .groupBy(
            F.date_trunc("hour", "pickup_datetime").alias("stat_hour"),
            "pickup_location_id",
        )
        .agg(
            F.count("*").alias("trip_count"),
            F.round(F.avg(F.col("fare_amount").cast("double")), 2)
            .cast("decimal(38,9)")
            .alias("avg_fare_amount"),
            F.round(F.avg(F.col("trip_distance").cast("double")), 2)
            .cast("decimal(38,9)")
            .alias("avg_trip_distance"),
            F.round(F.avg("_duration_min"), 2)
            .cast("decimal(38,9)")
            .alias("avg_trip_duration_minutes"),
            F.round(F.sum(F.col("total_amount").cast("double")), 2)
            .cast("decimal(38,9)")
            .alias("total_revenue"),
        )
        .withColumn("created_at", F.current_timestamp())
    )


def run_batch_pipeline(
    spark: SparkSession, raw: DataFrame, warehouse: str, mode: str = "batch"
) -> dict:
    """End-to-end batch ingest (run_batch_processor, main.py:268-330):
    classify `raw` (read_jsonl / read_nyc_csv) → fan out to taxi_trips
    + hourly_trip_stats + processing_errors, each an atomic lakehouse
    commit. Sinks that already exist are appended to, so a run can
    repeat on the same warehouse. Counts are this run's rows, from each
    commit's `added_rows` summary, not scans."""
    classified = classify_trips(raw, mode=mode).cache()
    valid = valid_trips(classified)
    invalid = invalid_trips(classified)

    wh = Warehouse(spark, warehouse)
    trips = wh.table_or_create("taxi_trips", partition_by=["pickup_date"]).append(
        valid.withColumn("pickup_date", F.to_date("pickup_datetime").cast("string"))
    )
    stats = wh.table_or_create("hourly_trip_stats").append(hourly_stats(valid))
    errors = wh.table_or_create("processing_errors").append(invalid)

    classified.unpersist()
    return {
        "valid": trips.summary["added_rows"],
        "invalid": errors.summary["added_rows"],
        "stats_rows": stats.summary["added_rows"],
    }
