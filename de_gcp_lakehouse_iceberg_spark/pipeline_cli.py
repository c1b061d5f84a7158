"""Pipeline CLI — the engine's counterpart of the reference's unified
template entry point (main.py:404-442: argparse → mode dispatch →
batch | streaming pipeline).

    python -m de_gcp_lakehouse_iceberg_spark.pipeline_cli \
        --mode batch --input '/data/trips/*.jsonl' --warehouse /wh

    python -m de_gcp_lakehouse_iceberg_spark.pipeline_cli \
        --mode streaming --input /data/stream_dir --warehouse /wh \
        --window-seconds 60

Batch: the --format reader (JSONL, or positional NYC CSV) feeds the one
fan-out, run_batch_pipeline → taxi_trips + hourly_trip_stats +
processing_errors. Streaming: bounded availableNow run of the
three-sink flow (run_streaming_pipeline); a rerun on the same
warehouse resumes its checkpoint and lands each batch exactly once per
sink. Both print one JSON result line.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="Taxi lakehouse ingest pipeline")
    p.add_argument("--mode", choices=["batch", "streaming"], default="batch")
    p.add_argument("--input", required=True, help="input glob (batch) or dir (streaming)")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--format", choices=["jsonl", "csv"], default="jsonl")
    p.add_argument("--window-seconds", type=int, default=60)  # main.py:419
    p.add_argument(
        "--max-files-per-trigger", type=int, default=1,
        help="streaming micro-batch size control",
    )
    return p


def run(args: argparse.Namespace) -> dict:
    from .session import get_spark

    spark = get_spark(f"taxi-{args.mode}")
    if args.mode == "batch":
        from .sources import ingest

        read = ingest.read_nyc_csv if args.format == "csv" else ingest.read_jsonl
        counts = ingest.run_batch_pipeline(
            spark, read(spark, args.input), args.warehouse
        )
        return {"mode": "batch", "format": args.format, **counts}

    from .streaming import taxi

    counts = taxi.run_streaming_pipeline(
        spark,
        args.input,
        args.warehouse,
        window=f"{args.window_seconds} seconds",
        max_files_per_trigger=args.max_files_per_trigger,
    )
    return {"mode": "streaming", **counts}


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
