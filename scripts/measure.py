"""Measurement harness: time individual queries in a bench-identical
session (warm-up + table/shingle cache), count the Spark work they
start, and capture their `.explain("formatted")` plans.

Usage:
  python scripts/measure.py time q108_source_overlap_matrix q112_... \
      [--runs 3] [--sf /root/testdata/sf0.1]
  python scripts/measure.py jobs q53_connected_components ... | all
  python scripts/measure.py explain q108_source_overlap_matrix \
      [--out q108_plan.txt]

Explain mode prints the plans to stdout, or writes the one query's plan
to `--out`.

`time` mirrors bench.py's methodology (collect(), min-of-N, same
session shape) so numbers are comparable to the ledger; `jobs` runs
each query once under its own job group and prints the jobs, stages
and tasks it started (read from Spark's status store: `jobsList`, then
`lastStageAttempt` for each job's `stageIds`; skipped stages are not
counted), one line per query and a total line; `explain` captures the
formatted physical plan WITHOUT running the query twice.
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


def _jobs_since(
    spark, last_job: int
) -> tuple[int, list[tuple[int, int, int]]]:
    """(newest job id, [(stages, tasks, stages not retained) per job])
    of the jobs newer than `last_job` — every job the query started,
    including those its streaming threads ran under their own groups.
    `jobsList` lists the newest job first. The store keeps only the
    last `spark.ui.retainedStages` stages, so a stage it no longer
    holds is counted apart, not as work."""
    from py4j.protocol import Py4JJavaError

    store = spark._jsc.sc().statusStore()
    listed = store.jobsList(None)
    newest, work = last_job, []
    for k in range(listed.size()):
        jd = listed.apply(k)
        if jd.jobId() <= last_job:
            break
        newest = max(newest, jd.jobId())
        stages = tasks = gone = 0
        ids = jd.stageIds()
        for i in range(ids.size()):
            try:
                sd = store.lastStageAttempt(ids.apply(i))
            except Py4JJavaError:
                gone += 1
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += sd.numCompleteTasks()
        work.append((stages, tasks, gone))
    return newest, work


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["time", "jobs", "explain"])
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
    if args.queries == ["all"]:
        args.queries = sorted(QUERIES)

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

    if args.mode == "jobs":
        sc = spark.sparkContext
        last, _ = _jobs_since(spark, -1)
        total = [0, 0, 0, 0, 0.0]
        for name in args.queries:
            sc.setJobGroup(f"measure-{name}", f"measure: {name}")
            t0 = time.perf_counter()
            QUERIES[name](spark, args.sf).collect()
            wall = time.perf_counter() - t0
            last, work = _jobs_since(spark, last)
            row = [len(work), *(sum(w[i] for w in work) for i in range(3)),
                   wall]
            total = [a + b for a, b in zip(total, row)]
            print(f"{name}: jobs {row[0]} stages {row[1]} tasks {row[2]}"
                  f" not_retained {row[3]} wall {wall:.2f}s", flush=True)
        print(f"TOTAL {len(args.queries)} queries: jobs {total[0]} stages "
              f"{total[1]} tasks {total[2]} not_retained {total[3]}"
              f" wall {total[4]:.1f}s")
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
