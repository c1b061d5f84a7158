"""Pipeline CLI mode dispatch (main.py:404-442 parity) and the B1
concurrency envelope: parallel analytical queries through one session
all complete within the reference's interactive ceiling."""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from de_gcp_lakehouse_iceberg_spark import pipeline_cli
from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable
from de_gcp_lakehouse_iceberg_spark.plans import QUERIES
from de_gcp_lakehouse_iceberg_spark.sources import generator


def test_pipeline_cli_batch_mode(spark, tmp_path):
    trips = generator.corrupt_some(
        generator.generate_trips(120, seed=42), seed=43, frac=0.2
    )
    generator.write_jsonl(trips, str(tmp_path / "in"), files=2)
    args = pipeline_cli.build_parser().parse_args(
        ["--mode", "batch", "--input", str(tmp_path / "in") + "/*.jsonl",
         "--warehouse", str(tmp_path / "wh")]
    )
    res = pipeline_cli.run(args)
    assert res["mode"] == "batch"
    assert res["valid"] + res["invalid"] == 120


def test_pipeline_cli_batch_csv_mode(spark, tmp_path):
    """--format csv reads positional NYC CSV into the same fan-out as
    JSONL: two valid trips in two hours, one rejected for distance."""

    def line(pickup, dropoff, dist):
        row = [""] * 18
        row[0], row[1], row[2], row[3], row[4] = "1", pickup, dropoff, "2", dist
        row[5], row[6], row[9], row[10] = "-73.98", "40.75", "-73.95", "40.78"
        row[11], row[12], row[17] = "card", "20.00", "25.00"
        return ",".join(row)

    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "trips.csv").write_text(
        "\n".join([
            line("2025-03-01 08:00:00", "2025-03-01 08:30:00", "3.5"),
            line("2025-03-01 09:00:00", "2025-03-01 09:20:00", "2.0"),
            line("2025-03-01 10:00:00", "2025-03-01 10:10:00", "-1"),
        ]) + "\n"
    )
    args = pipeline_cli.build_parser().parse_args(
        ["--mode", "batch", "--format", "csv",
         "--input", str(tmp_path / "in" / "trips.csv"),
         "--warehouse", str(tmp_path / "wh")]
    )
    res = pipeline_cli.run(args)
    assert res == {
        "mode": "batch", "format": "csv",
        "valid": 2, "invalid": 1, "stats_rows": 2,
    }
    errors = LakeTable.load(spark, str(tmp_path / "wh" / "processing_errors"))
    assert [r.error_type for r in errors.scan().collect()] == ["validation_failed"]


def test_pipeline_cli_streaming_mode(spark, tmp_path):
    trips = generator.generate_trips(80, seed=42)
    generator.write_jsonl(trips, str(tmp_path / "in"), files=2)
    args = pipeline_cli.build_parser().parse_args(
        ["--mode", "streaming", "--input", str(tmp_path / "in"),
         "--warehouse", str(tmp_path / "wh"), "--window-seconds", "60"]
    )
    res = pipeline_cli.run(args)
    assert res["mode"] == "streaming"
    assert res["valid"] == 80
    assert res["window_rows"] > 0


def test_concurrent_analytical_queries(spark, sf_dir_medium):
    """B1 (PRD.md:3550-3595): parallel group/filter/top-k queries — all
    complete, all non-empty, each far under the 30 s interactive bound."""
    names = [
        "q03_top_groups",
        "q07_star_join_revenue",
        "q02_minmax_probe",  # q09's HAVING floor yields 0 rows at sf0.01
        "q10_daily_stats",
        "q17_semijoin_topk",
        "q08_hourly_pattern",
    ]

    def run_one(name):
        t0 = time.perf_counter()
        rows = QUERIES[name](spark, sf_dir_medium).collect()
        return name, len(rows), time.perf_counter() - t0

    with ThreadPoolExecutor(max_workers=6) as ex:
        results = list(ex.map(run_one, names))
    for name, n, dt in results:
        assert n > 0, name
        assert dt < 30.0, (name, dt)  # B1 avg<30s ceiling, generous locally
