"""Taxi ingest pipeline tests — mirrors the reference's test tiers
(SURVEY.md §5: tests/test_taxi_simulator.py field/range/distribution
checks, main.py validation split, hourly-stats derivation), against a
real local warehouse instead of mocks."""

from __future__ import annotations

from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.sources import generator, ingest


def test_generator_fields_and_ranges():
    trips = generator.generate_trips(500, seed=42)
    assert len({t["trip_id"] for t in trips}) == 500  # id uniqueness
    for t in trips[:100]:
        assert t["vendor_id"] in (1, 2)
        assert 1 <= t["passenger_count"] <= 5
        assert 0.5 <= t["trip_distance"] <= 25.0
        assert t["payment_type"] in generator.PAYMENT_TYPES
        # NYC-ish bounds (simulator test :207-218)
        assert -74.05 <= t["pickup_longitude"] <= -73.85
        assert 40.65 <= t["pickup_latitude"] <= 40.80
        # total = sum of components ±0.01 (simulator test :185-194)
        comp = (
            t["fare_amount"] + t["extra"] + t["mta_tax"]
            + t["tip_amount"] + t["tolls_amount"]
        )
        assert abs(t["total_amount"] - comp) < 0.011


def test_generator_is_deterministic():
    assert generator.generate_trips(50, seed=7) == generator.generate_trips(50, seed=7)
    assert generator.generate_trips(50, seed=7) != generator.generate_trips(50, seed=8)


def test_generator_payment_distribution():
    # statistical-distribution assertion (simulator test :151-163)
    trips = generator.generate_trips(2000, seed=42)
    share = sum(t["payment_type"] == "card" for t in trips) / len(trips)
    assert 0.65 <= share <= 0.75


def test_generator_duration_bounds():
    from datetime import datetime

    for t in generator.generate_trips(200, seed=42):
        p = datetime.fromisoformat(t["pickup_datetime"].replace("Z", "+00:00"))
        d = datetime.fromisoformat(t["dropoff_datetime"].replace("Z", "+00:00"))
        assert 5 <= (d - p).total_seconds() / 60 <= 120


def test_validation_split_counts(spark, tmp_path):
    trips = generator.corrupt_some(
        generator.generate_trips(400, seed=42), seed=43, frac=0.25
    )
    generator.write_jsonl(trips, str(tmp_path / "in"), files=3)
    classified = ingest.classify_trips(
        ingest.read_jsonl(spark, str(tmp_path / "in") + "/*.jsonl")
    )
    by_type = {
        r["_error_type"]: r["cnt"]
        for r in classified.groupBy("_error_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert sum(by_type.values()) == 400
    # every reference error class appears in the corrupted corpus
    for k in (
        "missing_field",
        "invalid_timestamp_format",
        "invalid_timestamp_order",
        "validation_failed",
    ):
        assert by_type.get(k, 0) > 0, f"no {k} rows generated"
    assert by_type[None] > 250  # ~75% clean


def test_corrupt_json_lines_get_their_own_class(spark, tmp_path):
    """Malformed JSON → json_parsing_failed (main.py:134-140 taxonomy),
    not a generic missing_field."""
    d = tmp_path / "in"
    d.mkdir()
    good = generator.generate_trips(3, seed=42)
    import json as _json

    with open(d / "mixed.jsonl", "w") as f:
        f.write(_json.dumps(good[0]) + "\n")
        f.write("{this is not json\n")
        f.write(_json.dumps(good[1]) + "\n")
        f.write("[1, 2, 3]\n")  # valid JSON, wrong shape → corrupt too
    classified = ingest.classify_trips(
        ingest.read_jsonl(spark, str(d) + "/*.jsonl")
    )
    by = {
        r["_error_type"]: r["cnt"]
        for r in classified.groupBy("_error_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert by.get("json_parsing_failed") == 2
    assert by.get(None) == 2
    # corrupt payloads flow to the dead letter with the envelope intact,
    # each keeping its raw line as the record
    errs = ingest.invalid_trips(classified).collect()
    assert all(e.error_type == "json_parsing_failed" for e in errs)
    assert sorted(e.record for e in errs) == ["[1, 2, 3]", "{this is not json"]


def test_valid_trips_normalization(spark, tmp_path):
    trips = generator.generate_trips(50, seed=42)
    # strip trip_id from a few records → synthesized batch_<uuid> ids
    for t in trips[:5]:
        t["trip_id"] = None
    generator.write_jsonl(trips, str(tmp_path / "in"))
    valid = ingest.valid_trips(
        ingest.classify_trips(ingest.read_jsonl(spark, str(tmp_path / "in") + "/*.jsonl"))
    )
    rows = valid.collect()
    assert len(rows) == 50
    synth = [r for r in rows if r.trip_id.startswith("batch_")]
    assert len(synth) == 5
    assert "event_timestamp" not in valid.columns  # P7 drop
    for r in rows[:10]:
        assert r.pickup_datetime < r.dropoff_datetime
        # money at 2dp: scaled by 100 it is integral
        assert (r.total_amount * 100) == int(r.total_amount * 100)


def test_hourly_stats_matches_sql(spark, tmp_path):
    trips = generator.generate_trips(300, seed=42)
    generator.write_jsonl(trips, str(tmp_path / "in"))
    valid = ingest.valid_trips(
        ingest.classify_trips(ingest.read_jsonl(spark, str(tmp_path / "in") + "/*.jsonl"))
    )
    stats = ingest.hourly_stats(valid)
    valid.createOrReplaceTempView("_trips")
    expected = spark.sql(
        """
        SELECT date_trunc('hour', pickup_datetime) AS stat_hour,
               pickup_location_id,
               count(*) AS trip_count,
               round(avg(CAST(total_amount AS DOUBLE)), 2) AS rev_check
        FROM _trips GROUP BY 1, 2
        """
    )
    got = {
        (r.stat_hour, r.pickup_location_id): r.trip_count
        for r in stats.collect()
    }
    want = {
        (r.stat_hour, r.pickup_location_id): r.trip_count
        for r in expected.collect()
    }
    assert got == want
    # averages are per-group means of the rounded inputs
    one = stats.filter("trip_count >= 1").first()
    assert one.avg_fare_amount > 0 and one.total_revenue > 0


def test_batch_pipeline_end_to_end(spark, tmp_path):
    trips = generator.corrupt_some(
        generator.generate_trips(300, seed=42), seed=43, frac=0.2
    )
    generator.write_jsonl(trips, str(tmp_path / "in"), files=2)
    counts = ingest.run_batch_pipeline(
        spark,
        ingest.read_jsonl(spark, str(tmp_path / "in") + "/*.jsonl"),
        str(tmp_path / "wh"),
    )
    assert counts["valid"] + counts["invalid"] == 300
    assert counts["valid"] > 200
    assert counts["stats_rows"] > 0
    # round-trip: the lakehouse table is partitioned and scannable
    from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable

    t = LakeTable.load(spark, str(tmp_path / "wh" / "taxi_trips"))
    assert t.scan().count() == counts["valid"]
    assert t.partition_by == ["pickup_date"]
    got = t.scan().filter(F.col("payment_type") == "card").count()
    assert got > 0


def test_batch_pipeline_reruns_on_the_same_warehouse(spark, tmp_path):
    """A second batch run appends to the sinks the first one created,
    and each run reports its own rows, not the table totals."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse import Warehouse

    trips = generator.corrupt_some(
        generator.generate_trips(120, seed=42), seed=43, frac=0.2
    )
    generator.write_jsonl(trips, str(tmp_path / "in"), files=2)
    wh = str(tmp_path / "wh")

    def run():
        return ingest.run_batch_pipeline(
            spark, ingest.read_jsonl(spark, str(tmp_path / "in") + "/*.jsonl"), wh
        )

    first = run()
    second = run()
    assert first == second
    assert first["valid"] + first["invalid"] == 120
    tables = Warehouse(spark, wh)
    for name, key in (
        ("taxi_trips", "valid"),
        ("processing_errors", "invalid"),
        ("hourly_trip_stats", "stats_rows"),
    ):
        assert tables.table(name).scan().count() == 2 * first[key], name
    assert tables.table("taxi_trips").partition_by == ["pickup_date"]
