"""Column-stats file skipping: footer min/max ride the manifest and
scan(where=...) provably drops files while returning identical rows."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable


def _mk(spark, tmp_path, batches):
    t = LakeTable.create(spark, str(tmp_path / "skiptbl"))
    for rows, schema in batches:
        t.append(spark.createDataFrame(rows, schema).coalesce(1))
    return t


def test_footer_stats_recorded(spark, tmp_path):
    t = _mk(
        spark,
        tmp_path,
        [([(1, 10.0, "a"), (5, 50.0, "b")], "id long, x double, s string")],
    )
    stats = t.snapshot().files[0].stats
    assert stats["id"] == [1, 5]
    assert stats["x"] == [10.0, 50.0]
    assert stats["s"] == ["a", "b"]


def test_footer_stats_fold_omits_partially_null_column(spark, tmp_path):
    """File stats fold the row-group stats: a column all-NULL in one
    row group carries no stats there, so the file omits it while the
    other groups keep theirs."""
    t = LakeTable.create(spark, str(tmp_path / "foldtbl"))
    t.append(
        spark.range(40_000)
        .select(
            F.col("id").alias("k"),
            F.when(F.col("id") >= 20_000, F.col("id")).alias("n"),
        )
        .sort("k")
        .coalesce(1),
        writer_options={"parquet.block.size": 32 * 1024},
    )
    (e,) = t.snapshot().files
    groups = e.rg_stats
    assert len(groups) > 2
    assert e.stats["k"] == [0, 39_999]
    assert e.stats["k"] == [
        min(g["k"][0] for g in groups),
        max(g["k"][1] for g in groups),
    ]
    assert "n" not in e.stats
    assert "n" not in groups[0]
    assert groups[-1]["n"][1] == 39_999
    assert all(g["n"][0] >= 20_000 for g in groups if "n" in g)


def test_nan_stats_never_prune_matching_rows(spark, tmp_path):
    """Spark records [1.0, NaN] as the footer stats of 1.0, 3.0, NaN and
    orders NaN above every double: file- and row-group-level pruning
    must keep the file for every predicate the NaN row satisfies."""
    t = _mk(
        spark,
        tmp_path,
        [([(1, 1.0), (2, 3.0), (3, float("nan"))], "id long, x double")],
    )
    x = F.col("x")
    for where, exact in (
        ([("x", ">", 5.0)], x > 5.0),
        ([("x", ">=", 4.0)], x >= 4.0),
        ([("x", "=", float("nan"))], x == float("nan")),
        ([("x", "in", [float("nan")])], x.isin([float("nan")])),
    ):
        want = sorted(r.id for r in t.scan().filter(exact).collect())
        assert want == [3], where
        assert sorted(r.id for r in t.scan(where=where).collect()) == want
        assert sorted(
            r.id for r in t.scan_rowgroups(where=where).collect()
        ) == want, where


def test_scan_where_skips_files_and_matches_full_filter(spark, tmp_path):
    # three appends with disjoint id ranges -> three files with disjoint
    # [min,max]; a range predicate must plan only the matching file(s)
    schema = "id long, x double"
    t = _mk(
        spark,
        tmp_path,
        [
            ([(i, float(i)) for i in range(0, 10)], schema),
            ([(i, float(i)) for i in range(100, 110)], schema),
            ([(i, float(i)) for i in range(200, 210)], schema),
        ],
    )
    assert len(t.snapshot().files) == 3

    _, planned = t.plan_files(where=[("id", ">=", 200)])
    assert len(planned) == 1

    got = sorted(r.id for r in t.scan(where=[("id", ">=", 200)]).collect())
    want = sorted(
        r.id for r in t.scan().filter(F.col("id") >= 200).collect()
    )
    assert got == want == list(range(200, 210))

    # conjunction prunes to zero files yet still returns an empty,
    # well-formed result
    _, none = t.plan_files(where=[("id", ">", 50), ("id", "<", 90)])
    assert none == []
    assert t.scan(where=[("id", ">", 50), ("id", "<", 90)]).count() == 0


def test_timestamp_stats_prune(spark, tmp_path):
    schema = "id long, ts timestamp"
    day1 = [(i, dt.datetime(2024, 1, 1, i)) for i in range(5)]
    day2 = [(i, dt.datetime(2024, 2, 1, i)) for i in range(5)]
    t = _mk(spark, tmp_path, [(day1, schema), (day2, schema)])
    _, planned = t.plan_files(
        where=[("ts", ">=", dt.datetime(2024, 1, 15))]
    )
    assert len(planned) == 1
    assert t.scan(
        where=[("ts", ">=", dt.datetime(2024, 1, 15))]
    ).count() == 5


def test_pruning_never_drops_matching_rows_on_overlap(spark, tmp_path):
    # overlapping ranges: both files must stay
    schema = "id long"
    t = _mk(
        spark,
        tmp_path,
        [([(i,) for i in range(0, 60)], schema),
         ([(i,) for i in range(50, 120)], schema)],
    )
    _, planned = t.plan_files(where=[("id", "=", 55)])
    assert len(planned) == 2
    assert t.scan(where=[("id", "=", 55)]).count() == 2


def test_sort_rewrite_makes_stats_pruning_surgical(spark, tmp_path):
    """Before clustering: every file spans the whole key range, so a
    narrow predicate prunes nothing. After rewrite_sorted (global range
    clustering), each file owns a disjoint slice and the same predicate
    plans ~one file — the classic sort-then-skip synergy."""
    import random

    from de_gcp_lakehouse_iceberg_spark.lakehouse.maintenance import (
        rewrite_sorted,
    )

    rng = random.Random(7)
    ids = list(range(4000))
    rng.shuffle(ids)
    t = LakeTable.create(spark, str(tmp_path / "clustbl"))
    for b in range(4):  # 4 files, each a random full-range sample
        rows = [(i, float(i)) for i in ids[b * 1000 : (b + 1) * 1000]]
        t.append(
            spark.createDataFrame(rows, "id long, x double").coalesce(1)
        )
    pred = [("id", ">=", 3900)]
    want = sorted(r.id for r in t.scan(where=pred).collect())
    _, before = t.plan_files(where=pred)
    assert len(before) == 4  # unsorted: nothing prunable

    res = rewrite_sorted(t, ["id"])
    assert res["status"] == "success"
    _, after = t.plan_files(where=pred)
    assert len(after) < 4  # clustered: most files provably out of range
    got = sorted(r.id for r in t.scan(where=pred).collect())
    assert got == want == list(range(3900, 4000))
