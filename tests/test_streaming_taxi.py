"""Full streaming taxi pipeline: three-sink fan-out per micro-batch,
validation parity with the batch path, Q22-style replayed-window
equivalence against a batch aggregation of the same input, and the
replay contract (a rerun resumes; each batch lands once per sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable, Warehouse
from de_gcp_lakehouse_iceberg_spark.sources import generator, ingest
from de_gcp_lakehouse_iceberg_spark.streaming import taxi


def _write_input(tmp_path, n=200, frac=0.15):
    trips = generator.corrupt_some(
        generator.generate_trips(n, seed=42), seed=43, frac=frac
    )
    generator.write_jsonl(trips, str(tmp_path / "in"), files=4)
    return str(tmp_path / "in")


def test_streaming_pipeline_three_sinks(spark, tmp_path):
    input_dir = _write_input(tmp_path)
    counts = taxi.run_streaming_pipeline(
        spark, input_dir, str(tmp_path / "wh"), max_files_per_trigger=1
    )
    assert counts["valid"] + counts["invalid"] == 200
    assert counts["invalid"] > 0
    assert counts["window_rows"] > 0
    wh = Warehouse(spark, str(tmp_path / "wh"))
    # multiple micro-batches → multiple stream_batch snapshots
    ops = [s.operation for s in wh.table("taxi_trips").snapshots()]
    assert sum(o.startswith("stream_batch_") for o in ops) >= 2
    # dead letters carry the reference envelope
    err = wh.table("processing_errors").scan().first()
    assert err.pipeline_name == "streaming_taxi_processor"
    assert err.error_type in {
        "missing_field",
        "invalid_timestamp_format",
        "invalid_timestamp_order",
        "validation_failed",
    }


def test_streaming_matches_batch_validation(spark, tmp_path):
    input_dir = _write_input(tmp_path)
    # malformed lines: both readers must tag them json_parsing_failed
    with open(f"{input_dir}/malformed.jsonl", "w") as f:
        f.write('{"trip_id": "cut-off", "vendor_id": 1, \n')
        f.write("this line is not json\n")
    counts = taxi.run_streaming_pipeline(
        spark, input_dir, str(tmp_path / "wh")
    )
    classified = ingest.classify_trips(
        ingest.read_jsonl(spark, input_dir + "/*.jsonl")
    )
    batch_valid = classified.filter(F.col("_error_type").isNull()).count()
    assert counts["valid"] == batch_valid
    batch_errors = {
        r["_error_type"]: r["count"]
        for r in classified.filter(F.col("_error_type").isNotNull())
        .groupBy("_error_type")
        .count()
        .collect()
    }
    errors = Warehouse(spark, str(tmp_path / "wh")).table("processing_errors")
    stream_errors = {
        r["error_type"]: r["count"]
        for r in errors.scan().groupBy("error_type").count().collect()
    }
    assert batch_errors.get("json_parsing_failed") == 2
    assert stream_errors == batch_errors
    # the dead letter keeps each malformed line's raw text
    records = [
        r["record"]
        for r in errors.scan()
        .filter(F.col("error_type") == "json_parsing_failed")
        .collect()
    ]
    assert sorted(records) == [
        "this line is not json",
        '{"trip_id": "cut-off", "vendor_id": 1, ',
    ]


def test_replayed_windows_equal_batch_windows(spark, tmp_path):
    input_dir = _write_input(tmp_path, frac=0.0)
    taxi.run_streaming_pipeline(spark, input_dir, str(tmp_path / "wh"))
    streamed = taxi.replayed_window_totals(spark, str(tmp_path / "wh")).collect()
    batch_valid = ingest.valid_trips(
        ingest.classify_trips(ingest.read_jsonl(spark, input_dir + "/*.jsonl"))
    )
    batch = (
        taxi.windowed_trip_stats(batch_valid)
        .groupBy("window_start", "window_end", "pickup_location_id")
        .agg(
            F.sum("trip_count").alias("trip_count"),
            F.round(F.sum("total_revenue"), 2).alias("total_revenue"),
        )
        .orderBy("window_start", "pickup_location_id")
        .collect()
    )
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
    assert len(streamed) > 0


def test_rerun_after_mid_batch_failure_lands_once_per_sink(
    spark, tmp_path, monkeypatch
):
    """A failure right after batch 1's taxi_trips append leaves that sink
    one batch ahead of the other two. A rerun on the same input and
    warehouse resumes the checkpoint, re-runs batch 1 and lands it only
    in the sinks that missed it; a further run with no new files
    commits nothing."""
    input_dir = _write_input(tmp_path)
    clean = taxi.run_streaming_pipeline(spark, input_dir, str(tmp_path / "clean"))
    classified = ingest.classify_trips(
        ingest.read_jsonl(spark, input_dir + "/*.jsonl")
    )
    valid = classified.filter(F.col("_error_type").isNull()).count()
    invalid = classified.count() - valid

    append = LakeTable.append
    fired = []

    def failing_append(self, df, operation="append", **kwargs):
        snap = append(self, df, operation=operation, **kwargs)
        if (
            not fired
            and self.root.endswith("taxi_trips")
            and operation == "stream_batch_1"
        ):
            fired.append(operation)
            raise RuntimeError("injected failure after the taxi_trips append")
        return snap

    monkeypatch.setattr(LakeTable, "append", failing_append)
    wh_root = str(tmp_path / "wh")
    with pytest.raises(Exception, match="injected failure"):
        taxi.run_streaming_pipeline(spark, input_dir, wh_root)
    assert fired
    wh = Warehouse(spark, wh_root)
    ahead = wh.table("taxi_trips").snapshot().total_rows
    assert ahead > wh.table("windowed_trip_stats").scan().agg(
        F.sum("trip_count")
    ).first()[0]

    counts = taxi.run_streaming_pipeline(spark, input_dir, wh_root)
    assert counts == clean
    assert wh.table("taxi_trips").scan().count() == valid
    assert (
        wh.table("windowed_trip_stats").scan().agg(F.sum("trip_count")).first()[0]
        == valid
    )
    assert wh.table("processing_errors").scan().count() == invalid

    versions = {n: wh.table(n).current_version() for n in taxi.SINKS}
    assert taxi.run_streaming_pipeline(spark, input_dir, wh_root) == clean
    assert {n: wh.table(n).current_version() for n in taxi.SINKS} == versions
