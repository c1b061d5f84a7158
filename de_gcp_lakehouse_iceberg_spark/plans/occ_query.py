"""q115 — multi-writer optimistic concurrency under the driver hash
gate: two writers, each with its OWN LakeTable handle on the same
warehouse root, append disjoint halves of `supplier` CONCURRENTLY
through a start barrier. The CAS manifest commit makes the race loser
rebase-and-retry instead of clobbering (lakehouse/table.py
`_commit_snapshot` / `_land`), so BOTH commits must survive:
the per-parity row counts equal the source's, and the snapshot chain
is create + exactly two appends. Before round 9's CAS, the loser's
manifest overwrite silently DROPPED the winner's files — this query
would hash-mismatch on every lost race.

Reference anchor: BigQuery gives the reference multi-writer DML
atomicity for free (PRD.md:769-797 concurrent upsert jobs); this is
the lakehouse layer's equivalent at the catalog boundary.
"""

from __future__ import annotations

import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lakehouse import LakeTable
from ..tables import table
from .queries import register
from .workdir import scratch

_WORK_ROOT = scratch("lakehouse_occ_query")


@register(
    "q115_concurrent_appends",
    oracle="""
    SELECT CAST(s_suppkey % 2 AS BIGINT) AS parity,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(2 AS BIGINT) AS commits
    FROM supplier
    GROUP BY parity
    ORDER BY parity
    """,
)
def q115_concurrent_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    root = os.path.join(
        _WORK_ROOT, os.path.basename(os.path.normpath(sf_dir))
    )
    shutil.rmtree(root, ignore_errors=True)
    LakeTable.create(spark, root)

    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def writer(parity: int) -> None:
        try:
            t = LakeTable.load(spark, root)  # independent handle
            df = sup.filter(F.col("s_suppkey") % 2 == parity)
            barrier.wait(timeout=120)
            t.append(df, operation=f"append_p{parity}")
        except Exception as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(p,)) for p in (0, 1)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    if errors:
        raise errors[0]

    t = LakeTable.load(spark, root)
    commits = t.current_version()  # create=0, two surviving appends=2
    return (
        t.scan()
        .groupBy((F.col("s_suppkey") % 2).cast("long").alias("parity"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("commits", F.lit(commits).cast("long"))
        .orderBy("parity")
    )


@register(
    "q116_concurrent_merge",
    oracle="""
    SELECT CAST(s_suppkey % 2 AS BIGINT) AS parity,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(s_acctbal
                         + CASE WHEN s_suppkey % 2 = 0
                                THEN 100.0 ELSE 200.0 END
                         AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
           CAST(4 AS BIGINT) AS commits
    FROM supplier
    GROUP BY parity
    ORDER BY parity
    """,
)
def q116_concurrent_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two MERGEs planned against the SAME base, each matching rows in
    a DIFFERENT file (parity-split appends), committed concurrently
    through a start barrier: copy-on-write rebase validation
    (lakehouse/table.py `_land`) lets BOTH land —
    the r9 engine serialized them (any concurrent commit aborted the
    CoW loser). Hash gate: every row carries its merge's increment and
    the snapshot chain is create + 2 appends + 2 merges. Reference
    anchor: concurrent DML jobs, PRD.md:769-797."""
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    root = os.path.join(
        scratch("lakehouse_occ_merge"),
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(root, ignore_errors=True)
    t0 = LakeTable.create(spark, root)
    # one file set per parity → the two merges rewrite disjoint files
    t0.append(sup.filter(F.col("s_suppkey") % 2 == 0).coalesce(1))
    t0.append(sup.filter(F.col("s_suppkey") % 2 == 1).coalesce(1))

    from ..lakehouse import dml

    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def writer(parity: int, bump: float) -> None:
        try:
            t = LakeTable.load(spark, root)  # independent handle
            src = (
                sup.filter(F.col("s_suppkey") % 2 == parity)
                .select(
                    "s_suppkey",
                    (F.col("s_acctbal") + bump).alias("s_acctbal"),
                )
            )
            barrier.wait(timeout=120)
            dml.merge(
                t, src, on=["s_suppkey"],
                when_matched_update={"s_acctbal": F.col("source.s_acctbal")},
                when_not_matched_insert=False,
            )
        except Exception as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(0, 100.0)),
        threading.Thread(target=writer, args=(1, 200.0)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    if errors:
        raise errors[0]

    t = LakeTable.load(spark, root)
    commits = t.current_version()  # create + 2 appends + 2 merges = 4
    return (
        t.scan()
        .groupBy((F.col("s_suppkey") % 2).cast("long").alias("parity"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
        .withColumn("commits", F.lit(commits).cast("long"))
        .orderBy("parity")
    )
