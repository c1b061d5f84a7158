"""Manifest-as-a-table: parquet sidecar + Spark-distributed planning
(LakeTable.plan_files_distributed) for million-file snapshots."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import de_gcp_lakehouse_iceberg_spark.lakehouse.table as table_mod
from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable


def _many_file_table(spark, tmp_path, monkeypatch, n_files=24):
    monkeypatch.setattr(table_mod, "PARQUET_MANIFEST_MIN", n_files)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), partition_by=["bucket(4, k)"]
    )
    df = spark.range(0, n_files * 10).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t.append(df.repartition(n_files // 4))
    return t


def test_sidecar_written_above_threshold(spark, tmp_path, monkeypatch):
    t = _many_file_table(spark, tmp_path, monkeypatch)
    assert os.path.exists(t._parquet_manifest_path(t.current_version()))
    # below threshold: no sidecar
    monkeypatch.setattr(table_mod, "PARQUET_MANIFEST_MIN", 10_000)
    t.append(spark.range(3).select(F.col("id").alias("k"),
                                   F.lit(0).alias("v")))
    assert not os.path.exists(
        t._parquet_manifest_path(t.current_version())
    )


def test_distributed_planning_equals_driver_planning(
    spark, tmp_path, monkeypatch
):
    t = _many_file_table(spark, tmp_path, monkeypatch)
    v = t.current_version()
    for where in (
        None,
        [("k", "=", 17)],               # bucket + stats pruning
        [("k", ">=", 100)],             # stats range pruning
        [("k", ">=", 50), ("v", "<", 300)],
    ):
        _s, driver = t.plan_files(version=v, where=where)
        _s, dist = t.plan_files_distributed(version=v, where=where)
        assert [f.path for f in dist] == sorted(f.path for f in driver), where
        # every entry round-trips through the sidecar field for field
        # (partition, stats, spec, seq, rg_stats)
        assert [f.to_json() for f in dist] == [
            f.to_json() for f in sorted(driver, key=lambda e: e.path)
        ], where


def test_distributed_planning_reads_sidecar_without_rg_stats(
    spark, tmp_path, monkeypatch
):
    """A sidecar written before row-group stats has no `rg_stats`
    column: its entries decode with rg_stats None and plan the same
    files."""
    import pyarrow.parquet as pq

    t = _many_file_table(spark, tmp_path, monkeypatch)
    v = t.current_version()
    side = t._parquet_manifest_path(v)
    pq.write_table(pq.read_table(side).drop(["rg_stats"]), side)
    where = [("k", ">=", 100)]
    _s, driver = t.plan_files(version=v, where=where)
    _s, dist = t.plan_files_distributed(version=v, where=where)
    assert dist and [f.path for f in dist] == sorted(f.path for f in driver)
    assert all(f.rg_stats is None for f in dist)


def test_distributed_planning_falls_back_without_sidecar(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(table_mod, "PARQUET_MANIFEST_MIN", 10_000)
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(spark.range(10).select(F.col("k" if False else "id").alias("k")))
    _s, a = t.plan_files(where=[("k", ">=", 5)])
    _s, b = t.plan_files_distributed(where=[("k", ">=", 5)])
    assert [f.path for f in a] == [f.path for f in b]


def test_expire_removes_sidecars(spark, tmp_path, monkeypatch):
    import time as _time

    t = _many_file_table(spark, tmp_path, monkeypatch)
    v = t.current_version()
    side = t._parquet_manifest_path(v)
    assert os.path.exists(side)
    t.overwrite(spark.range(5).select(F.col("id").alias("k"),
                                      F.lit(0).alias("v")))
    t.expire_snapshots(
        older_than_ms=int(_time.time() * 1000) + 10_000, keep_last=1
    )
    assert not os.path.exists(side)


def test_bloom_build_with_sidecar_manifest_and_distributed_plan(
    spark, tmp_path, monkeypatch
):
    """Bloom maintenance at manifest scale: the distributed word-level
    build commits blooms for a many-file snapshot, the commit writes
    the parquet sidecar, and DISTRIBUTED planning applies the bloom
    probe identically to driver planning (equality probe on an
    interleaved high-cardinality key, where [min,max] can't prune)."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse.bloom import (
        add_bloom_filters,
    )

    n_files = 16
    monkeypatch.setattr(table_mod, "PARQUET_MANIFEST_MIN", n_files)
    t = LakeTable.create(spark, str(tmp_path / "tb"))
    n = n_files * 50
    for i in range(n_files):
        t.append(
            spark.range(0, n)
            .filter(F.col("id") % n_files == i)
            .select(F.col("id").alias("k"))
            .coalesce(1)
        )
    snap = add_bloom_filters(t, ["k"])
    assert len(snap.files) == n_files
    assert os.path.exists(t._parquet_manifest_path(snap.version))

    probe = 777            # lives in exactly one file
    _s, driver = t.plan_files(where=[("k", "=", probe)])
    _s, dist = t.plan_files_distributed(where=[("k", "=", probe)])
    assert [f.path for f in dist] == sorted(f.path for f in driver)
    assert 1 <= len(dist) < n_files        # blooms actually pruned
    assert t.scan(where=[("k", "=", probe)]).count() == 1
