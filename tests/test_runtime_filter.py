"""Join-driven file skipping (lakehouse/runtime_filter.py + the `in`
prune op): pruned reads return identical rows to unpruned, the harvest
is bounded, and stats/bloom both participate per key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable
from de_gcp_lakehouse_iceberg_spark.lakehouse.bloom import add_bloom_filters
from de_gcp_lakehouse_iceberg_spark.lakehouse.runtime_filter import (
    harvest_keys,
    scan_with_join_filter,
)


def _fact(spark, tmp_path, stripes=8, rows=400):
    """Range-clustered fact: file i holds ids [i*50, (i+1)*50)."""
    t = LakeTable.create(spark, str(tmp_path / "fact"))
    df = spark.range(rows).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    w = rows // stripes
    for i in range(stripes):
        t.append(
            df.filter((F.col("k") / w).cast("long") == i).coalesce(1)
        )
    return t, df, w


def test_in_prune_matches_full_scan_rows(spark, tmp_path):
    t, df, w = _fact(spark, tmp_path)
    keys = [3, 57, 311]
    _s, planned = t.plan_files(where=[("k", "in", keys)])
    # range clustering: exactly the 3 covering files survive on stats
    assert len(planned) == 3
    got = sorted(r["k"] for r in t.scan(where=[("k", "in", keys)]).collect())
    assert got == keys


def test_bloom_prunes_within_range(spark, tmp_path):
    # ids stride by 10 → file ranges cover everything, but any key
    # not ≡ 0 (mod 10) is absent: stats keep the covering file, the
    # bloom must drop it
    t = LakeTable.create(spark, str(tmp_path / "fact"))
    df = spark.range(100).select((F.col("id") * 10).alias("k"))
    for i in range(4):
        t.append(
            df.filter((F.col("k") / 250).cast("long") == i).coalesce(1)
        )
    _s, stats_only = t.plan_files(where=[("k", "in", [15])])
    assert len(stats_only) == 1  # range covers 15
    add_bloom_filters(t, ["k"], bits=65536, k=5)
    _s, with_bloom = t.plan_files(where=[("k", "in", [15])])
    assert len(with_bloom) == 0  # bloom proves absence
    # a real key still survives and reads
    _s, hit = t.plan_files(where=[("k", "in", [150])])
    assert len(hit) == 1
    assert t.scan(where=[("k", "in", [150])]).count() == 1


def test_scan_with_join_filter_equals_join(spark, tmp_path):
    t, df, w = _fact(spark, tmp_path)
    add_bloom_filters(t, ["k"], bits=65536, k=5)
    dim = spark.range(12).select((F.col("id") * 31 % 400).alias("key"))
    got, info = scan_with_join_filter(t, "k", dim, "key")
    expect = df.join(dim, df["k"] == dim["key"], "left_semi")
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in expect.collect()
    )
    assert info["files_total"] == 8
    assert 0 < info["files_planned"] <= 8
    assert info["n_keys"] == dim.select("key").distinct().count()


def test_harvest_is_bounded_and_null_free(spark):
    dim = spark.range(50).select(
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id")).alias("k")
    )
    keys = harvest_keys(dim, "k", max_keys=100)
    assert len(keys) == 40 and None not in keys
    with pytest.raises(ValueError, match="max_keys"):
        harvest_keys(spark.range(1000).select(F.col("id").alias("k")), "k",
                     max_keys=100)


def test_empty_key_set_prunes_everything(spark, tmp_path):
    t, df, w = _fact(spark, tmp_path)
    _s, planned = t.plan_files(where=[("k", "in", [])])
    assert planned == []
    assert t.scan(where=[("k", "in", [])]).count() == 0


def test_in_prune_with_datetime_keys(spark, tmp_path):
    """Join-driven skipping on a TIMESTAMP key: stats prune on the
    manifest min/max and the exact isin filter agrees — including under
    the naive-datetime UTC stamping rule (scan()'s _utc)."""
    import datetime as dt

    from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "fact"))
    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    df = spark.range(96).select(
        F.col("id").alias("k"),
        (
            F.lit(base) + F.make_interval(hours=F.col("id"))
        ).alias("event_ts"),
    )
    for day in range(4):  # one file per day
        t.append(
            df.filter(
                (F.col("id") >= day * 24) & (F.col("id") < (day + 1) * 24)
            ).coalesce(1)
        )
    keys = [
        dt.datetime(2024, 3, 2, 5),   # naive → treated as UTC
        dt.datetime(2024, 3, 4, 17, tzinfo=dt.timezone.utc),
    ]
    _s, planned = t.plan_files(where=[("event_ts", "in", keys)])
    assert len(planned) == 2  # exactly the two covering day-files
    rows = sorted(
        r["k"] for r in t.scan(where=[("event_ts", "in", keys)]).collect()
    )
    assert rows == [29, 89]  # hour offsets 24+5 and 72+17


def test_runtime_filter_many_files_large_keyset(spark, tmp_path):
    """Over a many-file bloom-indexed table the runtime filter plans
    with the sorted-key range intersection; planned set and rows are
    identical to `plan_files` under the same key set."""
    n_files = 20
    t = LakeTable.create(spark, str(tmp_path / "fact"))
    rows = n_files * 100
    df = spark.range(rows).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    w = rows // n_files
    for i in range(n_files):
        t.append(
            df.filter((F.col("k") / w).cast("long") == i).coalesce(1)
        )
    add_bloom_filters(t, ["k"])

    # a large key set clustered in a few stripes + strays: the sorted
    # binary search narrows per-file probes to in-range keys only
    dim = spark.range(rows).select(F.col("id").alias("dk")).filter(
        (F.col("dk") < 150) | (F.col("dk") % 371 == 0)
    )
    keys = harvest_keys(dim, "dk")
    _s, driver_planned = t.plan_files(where=[("k", "in", keys)])

    out, info = scan_with_join_filter(t, "k", dim, "dk")
    assert info["files_total"] == n_files
    assert info["files_planned"] == len(driver_planned)
    assert info["files_planned"] < n_files  # pruning really happened
    assert out.count() == dim.count()
    assert sorted(r["k"] for r in out.collect()) == sorted(keys)


def test_sorted_key_candidates_match_bruteforce(spark, tmp_path):
    """_SortedKeys range intersection must keep the planned file set
    identical to the O(keys) per-key loop, including boundary keys,
    unsortable values, and string keys."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse.table import (
        _SortedKeys,
        _file_survives,
    )

    t, df, w = _fact(spark, tmp_path)
    snap = t.snapshot()
    for keys in (
        [0, 49, 50, 399],          # stripe boundaries
        [399, 0, 57],              # unsorted input
        [-5, 1000],                # fully out of range
        list(range(0, 400, 7)),    # dense
    ):
        sk = _SortedKeys(keys)
        for f in snap.files:
            slow = any(
                _file_survives(f, [("k", "=", k)], []) for k in keys
            )
            fast = _file_survives(f, [("k", "in", sk)], [])
            assert slow == fast, (keys, f.path)


def test_sorted_keys_nan_does_not_break_order(spark):
    """A NaN in a float key list is unorderable but raises nothing —
    pre-fix it silently left svs unsorted with sortable=True, so bisect
    MISSED in-range keys and runtime-filtered scans dropped rows
    (ADVICE r7, high). NaN must be routed to the always-candidate
    unsortable bucket and the sorted keys must stay bisect-able."""
    import math

    from de_gcp_lakehouse_iceberg_spark.lakehouse.table import _SortedKeys

    nan = float("nan")
    sk = _SortedKeys([3.0, 5.0, 7.0, nan, 1.0])
    assert sk.sortable
    assert sk.svs == sorted(sk.svs)
    assert any(math.isnan(k) for k in sk.unsortable)
    # the exact ADVICE repro: file stats [0.5, 1.5] must keep key 1.0
    cand = sk.candidates([0.5, 1.5])
    assert 1.0 in cand
    # stats straddling nothing: only the NaN fallback candidate remains
    cand2 = sk.candidates([8.0, 9.0])
    assert [k for k in cand2 if not math.isnan(k)] == []
    # all-NaN key list: degenerate but every key stays a candidate
    sk2 = _SortedKeys([nan, nan])
    assert len(sk2.candidates([0.0, 1.0])) == 2
    # NaN FILE stats (parquet min/max is unreliable with NaNs): bisect
    # against NaN bounds would return an empty range — keep every key
    sk3 = _SortedKeys([1.0, 2.0, 3.0])
    assert sk3.candidates([nan, nan]) == sk3.keys
    assert sk3.candidates([1.5, nan]) == sk3.keys


def test_join_filter_refines_to_row_groups(spark, tmp_path):
    """On a sort-clustered fact, the runtime filter must narrow
    surviving files to the row groups the harvested keys can touch —
    and still return exactly the join's rows."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse.runtime_filter import (
        scan_with_join_filter,
    )

    t = LakeTable.create(spark, str(tmp_path / "fact"))
    t.append(
        spark.range(40_000)
        .select(F.col("id").alias("k"), (F.col("id") % 9).alias("g"))
        .sort("k")
        .coalesce(1),
        writer_options={"parquet.block.size": 32 * 1024},
    )
    dim = spark.createDataFrame([(7,), (123,), (39_900,)], "k bigint")
    out, info = scan_with_join_filter(t, "k", dim)
    assert info["rowgroups_total"] > 2
    assert 0 < info["rowgroups_read"] < info["rowgroups_total"]
    # the same per-file row-group planner as plan_row_groups
    _s, _p, planned = t.plan_row_groups(where=[("k", "in", [7, 123, 39_900])])
    assert (info["rowgroups_total"], info["rowgroups_read"]) == (
        planned["rowgroups_total"], planned["rowgroups_read"]
    )
    assert sorted(r["k"] for r in out.collect()) == [7, 123, 39_900]
