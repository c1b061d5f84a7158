"""Measurement harness: time individual queries in a bench-identical
session (warm-up + table/shingle cache) and capture their
`.explain("formatted")` plans.

Usage:
  python scripts/measure.py time q108_source_overlap_matrix q112_... \
      [--runs 3] [--sf /root/testdata/sf0.1]
  python scripts/measure.py explain q108_source_overlap_matrix \
      [--out plans/r15/q108_before.txt]

Explain mode prints the plans to stdout, or writes the one query's plan
to `--out`.

`time` mirrors bench.py's methodology (collect(), min-of-N, same
session shape) so numbers are comparable to the ledger; `explain`
captures the formatted physical plan WITHOUT running the query twice.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _bench_session(sf_dir: str):
    from de_gcp_lakehouse_iceberg_spark.plans import QUERIES
    from de_gcp_lakehouse_iceberg_spark.session import get_spark

    spark = get_spark("measure")
    # bench-identical warm-up: JVM/codegen, Python worker pool, caches
    QUERIES["q01_global_count"](spark, sf_dir).collect()
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import col, pandas_udf

    import scripts.measure as _self  # noqa: F401 (module-scope UDF)

    _warm = pandas_udf(_udf_identity, "long")
    spark.range(1_000_000).repartition(64).select(_warm(col("id"))).count()
    if os.environ.get("SPARK_GRAFT_CACHE", "1") != "0":
        from de_gcp_lakehouse_iceberg_spark.operators.dedup import (
            doc_shingles,
        )
        from de_gcp_lakehouse_iceberg_spark.tables import (
            TESTDATA_TABLES,
            table,
        )

        for name in TESTDATA_TABLES:
            table(spark, sf_dir, name).cache().count()
        doc_shingles(table(spark, sf_dir, "documents")).cache().count()
    return spark


def _udf_identity(s):
    return s


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["time", "explain"])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None,
                    help="explain mode: write the plan of ONE query here")
    args = ap.parse_args()
    if args.out and len(args.queries) > 1:
        ap.error("--out takes the plan of one query")

    from de_gcp_lakehouse_iceberg_spark.plans import QUERIES

    spark = _bench_session(args.sf)

    if args.mode == "explain":
        for name in args.queries:
            df = QUERIES[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            if args.out is None:
                print(f"# {name}\n{plan}")
                continue
            with open(args.out, "w") as f:
                f.write(plan)
            print(f"# wrote {args.out} ({len(plan)} bytes)")
        return

    for name in args.queries:
        spark.sparkContext.setJobDescription(f"measure: {name}")
        best, first = None, None
        for i in range(args.runs):
            t0 = time.perf_counter()
            n = len(QUERIES[name](spark, args.sf).collect())
            dt = time.perf_counter() - t0
            if i == 0:
                first = dt
            best = dt if best is None else min(best, dt)
            print(f"# {name} run{i}: {dt:.3f}s ({n} rows)", file=sys.stderr)
        print(f"{name}: min {best:.3f}s first {first:.3f}s")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
