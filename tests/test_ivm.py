"""Delta IVM (lakehouse/ivm.py): rollup-after-deltas must equal a
from-scratch recompute under every DML shape, refreshes are
incremental and idempotent, and sums stay exact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.lakehouse import (
    CommitConflict,
    LakeTable,
    dml,
)
from de_gcp_lakehouse_iceberg_spark.lakehouse.ivm import IncrementalRollup


def _base(spark, tmp_path, rows=300):
    t = LakeTable.create(spark, str(tmp_path / "base"))
    t.append(
        spark.range(rows).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 1.5).alias("v"),
        )
    )
    return t


def _assert_matches_recompute(rollup, base):
    got = {
        r["g"]: (r["cnt"], float(r["sum_v"]))
        for r in rollup.df().collect()
    }
    want = {
        r["g"]: (r["cnt"], float(r["s"]))
        for r in base.scan()
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("v").cast("decimal(28,6)")).alias("s"),
        )
        .collect()
    }
    assert got == want


def test_delta_equals_recompute_under_mixed_dml(spark, tmp_path):
    base = _base(spark, tmp_path)
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), base, ["g"], ["v"]
    )
    _assert_matches_recompute(rollup, base)

    dml.delete(base, "k % 11 = 2")
    dml.update(base, {"v": "v * 2.0"}, "k % 5 = 0")
    base.append(
        spark.range(300, 340).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 1.5).alias("v"),
        )
    )
    res = rollup.refresh()
    assert res["mode"] == "delta" and res["delta_rows"] > 0
    _assert_matches_recompute(rollup, base)


def test_refresh_is_idempotent_and_noop_when_fresh(spark, tmp_path):
    base = _base(spark, tmp_path, rows=50)
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), base, ["g"], ["v"]
    )
    noop = rollup.refresh()
    assert noop["mode"] == "noop"
    # the return contract is uniform across modes: callers indexing
    # files_rewritten/files_total must not KeyError on a fresh rollup
    assert noop["files_rewritten"] == 0
    assert noop["partitions_rewritten"] == 0
    assert noop["files_total"] == len(rollup.table.snapshot().files)
    dml.delete(base, "k < 10")
    assert rollup.refresh()["mode"] == "delta"
    v = rollup.table.current_version()
    assert rollup.refresh()["mode"] == "noop"
    assert rollup.table.current_version() == v
    _assert_matches_recompute(rollup, base)


def test_racing_refresh_conflicts_instead_of_double_applying(
    spark, tmp_path, monkeypatch
):
    """A second refresh of the same rollup commits between the first
    refresh's plan and its commit. The first planned against rollup
    files the second rewrote, so it must raise a permanent
    CommitConflict instead of applying the same delta twice; rerunning
    it sees the second's marker and the rollup equals a recompute."""
    base = _base(spark, tmp_path)
    root = str(tmp_path / "ru")
    first = IncrementalRollup.create(spark, root, base, ["g"], ["v"])
    second = IncrementalRollup(spark, root)
    dml.delete(base, "k % 11 = 2")
    commit = first.table.replace_files

    def second_refresh_then_commit(*args, **kwargs):
        assert second.refresh()["mode"] == "delta"
        return commit(*args, **kwargs)

    monkeypatch.setattr(
        first.table, "replace_files", second_refresh_then_commit
    )
    with pytest.raises(CommitConflict) as exc:
        first.refresh()
    assert exc.value.permanent
    monkeypatch.undo()
    assert first.refresh()["mode"] == "noop"
    _assert_matches_recompute(first, base)


def test_group_disappears_when_emptied(spark, tmp_path):
    base = _base(spark, tmp_path, rows=70)
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), base, ["g"], ["v"]
    )
    dml.delete(base, "g = 3")
    rollup.refresh()
    assert rollup.df().filter(F.col("g") == 3).count() == 0
    _assert_matches_recompute(rollup, base)


def test_mor_deletes_flow_through_changelog(spark, tmp_path):
    base = _base(spark, tmp_path, rows=100)
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), base, ["g"], ["v"]
    )
    dml.delete_mor(base, "k % 3 = 1")  # logical delete, no rewrite
    res = rollup.refresh()
    assert res["mode"] == "delta"
    _assert_matches_recompute(rollup, base)


def test_reload_from_disk(spark, tmp_path):
    base = _base(spark, tmp_path, rows=40)
    IncrementalRollup.create(spark, str(tmp_path / "ru"), base, ["g"], ["v"])
    dml.update(base, {"v": "v + 1.0"}, "g = 2")
    re = IncrementalRollup(spark, str(tmp_path / "ru"))
    assert re.refresh()["mode"] == "delta"
    _assert_matches_recompute(re, base)


def test_null_group_key_stays_one_group(spark, tmp_path):
    """NULL is a real GROUP BY group: deltas must merge into the
    existing NULL-group row (eqNullSafe), not split it in two."""
    base = LakeTable.create(spark, str(tmp_path / "base"))
    base.append(
        spark.range(60).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 3 == 0, None)
            .otherwise(F.col("id") % 4)
            .alias("g"),
            (F.col("id") * 1.5).alias("v"),
        )
    )
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), base, ["g"], ["v"]
    )
    dml.delete(base, "k % 6 = 0")  # touches the NULL group
    base.append(
        spark.range(60, 80).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 3 == 0, None)
            .otherwise(F.col("id") % 4)
            .alias("g"),
            (F.col("id") * 1.5).alias("v"),
        )
    )
    assert rollup.refresh()["mode"] == "delta"
    out = rollup.df().collect()
    assert sum(1 for r in out if r["g"] is None) == 1  # ONE null group
    _assert_matches_recompute(rollup, base)


def test_refresh_rewrites_only_affected_partitions(spark, tmp_path):
    """The rollup is hidden-partitioned on a group-hash bucket; a
    refresh touching few groups must leave every other partition's
    files BYTE-IDENTICAL (same path, same bytes) — the O(affected
    groups) write claim, not just O(affected groups) math."""
    import hashlib
    import os as _os

    base = _base(spark, tmp_path, rows=400)
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), base, ["g"], ["v"], buckets=8
    )

    def _digests():
        out = {}
        for f in rollup.table.snapshot().files:
            p = _os.path.join(rollup.table.root, f.path)
            with open(p, "rb") as fh:
                out[f.path] = hashlib.sha256(fh.read()).hexdigest()
        return out

    before = _digests()
    # touch exactly one group (g = 5): one bucket partition affected
    dml.delete(base, "g = 5 AND k % 2 = 0")
    res = rollup.refresh()
    assert res["mode"] == "delta"
    assert res["files_rewritten"] < res["files_total"]
    after = _digests()
    touched_paths = set(before) - set(after)
    untouched = set(before) & set(after)
    assert untouched, "some partitions must survive the refresh"
    for p in untouched:
        assert before[p] == after[p], f"{p} rewritten byte-differently"
    assert touched_paths or set(after) - set(before)
    _assert_matches_recompute(rollup, base)


def _assert_minmax_matches(rollup, base):
    got = {
        r["g"]: (r["cnt"], float(r["sum_v"]), r["min_v"], r["max_v"])
        for r in rollup.df().collect()
    }
    want = {
        r["g"]: (r["cnt"], float(r["s"]), r["mn"], r["mx"])
        for r in base.scan()
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("v").cast("decimal(28,6)")).alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == want


def test_minmax_delta_equals_recompute_under_mixed_dml(spark, tmp_path):
    """MIN/MAX survive inserts on the delta fast path and deletes via
    targeted per-group recompute — parity with a from-scratch
    re-aggregation pinned under every DML shape, including a delete of
    the row HOLDING an extremum."""
    base = _base(spark, tmp_path, rows=300)
    rollup = IncrementalRollup.create(
        spark,
        str(tmp_path / "ru"),
        base,
        ["g"],
        ["v"],
        minmax_cols=["v"],
    )
    _assert_minmax_matches(rollup, base)

    # insert-only window: pure delta fast path
    base.append(
        spark.range(300, 350).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 1.5).alias("v"),
        )
    )
    assert rollup.refresh()["mode"] == "delta"
    _assert_minmax_matches(rollup, base)

    # delete the MAX-holding rows of several groups → targeted recompute
    mx = base.scan().agg(F.max("v")).first()[0]
    dml.delete(base, f"v >= {mx - 30.0}")
    assert rollup.refresh()["mode"] == "delta"
    _assert_minmax_matches(rollup, base)

    # delete NOT touching any extremum + update (delete+insert pairs)
    dml.delete(base, "k % 13 = 5 AND v > 10 AND v < 300")
    dml.update(base, {"v": "v * 2.0"}, "k % 17 = 3")
    assert rollup.refresh()["mode"] == "delta"
    _assert_minmax_matches(rollup, base)

    # group created and emptied entirely within one window
    base.append(
        spark.range(1000, 1010).select(
            F.col("id").alias("k"), F.lit(99).alias("g"),
            (F.col("id") * 1.0).alias("v"),
        )
    )
    dml.delete(base, "g = 99")
    assert rollup.refresh()["mode"] == "delta"
    assert rollup.df().filter(F.col("g") == 99).count() == 0
    _assert_minmax_matches(rollup, base)


def test_avg_exposure_decomposes_sum_count(spark, tmp_path):
    base = _base(spark, tmp_path, rows=100)
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), base, ["g"], ["v"]
    )
    got = {
        r["g"]: r["avg_v"] for r in rollup.df(with_avg=True).collect()
    }
    want = {
        r["g"]: r["a"]
        for r in base.scan()
        .groupBy("g")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("a")
        )
        .collect()
    }
    assert got == want


def test_targeted_recompute_pins_source_version(spark, tmp_path, monkeypatch):
    """A base commit landing MID-refresh (after the changelog window is
    planned, before the MIN/MAX targeted recompute scans the base) must
    not leak into the recomputed extrema: the rollup after refresh must
    equal a from-scratch recompute at exactly its recorded
    source_version (ADVICE r7). The next refresh then folds the
    concurrent commit in."""
    base = _base(spark, tmp_path, rows=120)
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), base, ["g"], ["v"], minmax_cols=["v"]
    )
    # delete the global max row of every group -> forces the targeted
    # recompute path on the next refresh
    dml.delete(base, "k >= 113")

    real_changelog = dml.changelog
    fired = {"done": False}

    def racing_changelog(t, lo, hi, **kw):
        ch = real_changelog(t, lo, hi, **kw)
        if not fired["done"]:
            fired["done"] = True
            # concurrent writer: lands AFTER the refresh planned its
            # window, BEFORE the recompute scans the base
            base.append(
                spark.range(1000, 1010).select(
                    F.col("id").alias("k"),
                    (F.col("id") % 7).alias("g"),
                    (F.col("id") * 100.0).alias("v"),  # would win max
                )
            )
        return ch

    monkeypatch.setattr(dml, "changelog", racing_changelog)
    res = rollup.refresh()
    assert res["mode"] == "delta" and fired["done"]
    pinned_v = res["source_version"]

    got = {
        r["g"]: (r["cnt"], r["min_v"], r["max_v"])
        for r in rollup.df().collect()
    }
    want = {
        r["g"]: (r["cnt"], r["mn"], r["mx"])
        for r in base.scan(version=pinned_v)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == want  # no 100x values from the concurrent append

    # and the follow-up refresh catches the rollup up to head
    assert rollup.refresh()["mode"] == "delta"
    _assert_minmax_matches(rollup, base)


def _assert_distinct_matches(spark, rollup, base, col="d", k=None):
    """The maintained sketch must be BIT-IDENTICAL to a from-scratch
    KMV over the base — assert on the estimate AND the raw arrays."""
    from de_gcp_lakehouse_iceberg_spark.operators.sampling import id_hash

    k = k or rollup.kmv_k
    got = {
        tuple(r[c] for c in rollup.group_cols): r[f"distinct_{col}"]
        for r in rollup.df().collect()
    }
    got_raw = {
        tuple(r[c] for c in rollup.group_cols): list(r[f"kmv_{col}"])
        for r in rollup.table.scan().collect()
    }
    want_raw = {
        tuple(r[c] for c in rollup.group_cols): list(r["sk"])
        for r in base.scan()
        .groupBy(*rollup.group_cols)
        .agg(
            F.slice(
                F.array_sort(F.collect_set(id_hash(F.col(col)))), 1, k
            ).alias("sk")
        )
        .collect()
    }
    assert got_raw == want_raw
    # exact regime: estimate == true COUNT(DISTINCT)
    for g, est in got.items():
        if len(got_raw[g]) < k:
            true = (
                base.scan()
                .filter(
                    " AND ".join(
                        f"{c} <=> {repr(v)}"
                        for c, v in zip(rollup.group_cols, g)
                    )
                )
                .select(col)
                .distinct()
                .count()
            )
            assert est == true, (g, est, true)


def _distinct_base(spark, tmp_path, rows=400):
    t = LakeTable.create(spark, str(tmp_path / "base"))
    t.append(
        spark.range(rows).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("g"),
            (F.col("id") * 1.5).alias("v"),
            (F.col("id") % 37).alias("d"),  # 37 distinct < k=64: exact
        )
    )
    return t


def test_distinct_kmv_delta_equals_recompute(spark, tmp_path):
    """COUNT(DISTINCT)-class rollup: inserts merge sketches (fast
    path), deletes trigger the targeted per-group recompute — parity
    with a from-scratch sketch under mixed DML (ADVICE r7 task #8)."""
    base = _distinct_base(spark, tmp_path)
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), base, ["g"], ["v"],
        distinct_cols=["d"],
    )
    _assert_distinct_matches(spark, rollup, base)

    # insert-only window: pure sketch-merge fast path
    base.append(
        spark.range(400, 480).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("g"),
            (F.col("id") * 1.5).alias("v"),
            (F.col("id") % 53).alias("d"),  # new values appear
        )
    )
    assert rollup.refresh()["mode"] == "delta"
    _assert_distinct_matches(spark, rollup, base)

    # deletes that remove the LAST row holding some d values
    dml.delete(base, "k % 37 = 11")
    dml.update(base, {"d": "d + 1"}, "k % 10 = 3")
    assert rollup.refresh()["mode"] == "delta"
    _assert_distinct_matches(spark, rollup, base)
    _assert_matches_recompute(rollup, base)


def test_distinct_kmv_estimator_regime(spark, tmp_path):
    """Above k distinct values the estimate is (k−1)·P/h_k — still
    bit-identical to a recompute, and within the ~1/√(k−2) error
    envelope of the true count."""
    base = LakeTable.create(spark, str(tmp_path / "base"))
    base.append(
        spark.range(3000).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            (F.col("id") * 1.0).alias("v"),
            F.col("id").alias("d"),  # ~1000 distinct per group >> 64
        )
    )
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), base, ["g"], ["v"],
        distinct_cols=["d"], kmv_k=64,
    )
    _assert_distinct_matches(spark, rollup, base)
    dml.delete(base, "k % 9 = 2")
    base.append(
        spark.range(3000, 3400).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("g"),
            (F.col("id") * 1.0).alias("v"),
            F.col("id").alias("d"),
        )
    )
    assert rollup.refresh()["mode"] == "delta"
    _assert_distinct_matches(spark, rollup, base)
    for r in rollup.df().collect():
        true = 1000 + 134 - 112  # per-group: inserts add, deletes drop
        assert abs(r["distinct_d"] - true) / true < 0.45  # 3σ at k=64


def test_distinct_kmv_insert_only_no_base_scan(spark, tmp_path):
    """An insert-only window must stay on the sketch-merge fast path:
    no group is flagged for targeted recompute (asserted via the base
    table's scan count staying untouched is impractical here, so we
    assert the cheaper invariant: refresh leaves parity AND a
    delete-free changelog produces zero _recompute groups by
    construction — covered by sketch parity on NEW groups too)."""
    base = _distinct_base(spark, tmp_path, rows=100)
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), base, ["g"], ["v"],
        distinct_cols=["d"],
    )
    # brand-new group g=7 appears insert-only
    base.append(
        spark.range(1000, 1040).select(
            F.col("id").alias("k"),
            F.lit(7).alias("g"),
            (F.col("id") * 1.5).alias("v"),
            (F.col("id") % 11).alias("d"),
        )
    )
    assert rollup.refresh()["mode"] == "delta"
    _assert_distinct_matches(spark, rollup, base)


# ---------------------------------------------------------------------------
# JoinRollup — delta IVM over fact ⋈ dim
# ---------------------------------------------------------------------------
from de_gcp_lakehouse_iceberg_spark.lakehouse.ivm import JoinRollup


def _join_tables(spark, tmp_path, facts=400, dims=23):
    fact = LakeTable.create(spark, str(tmp_path / "fact"))
    fact.append(
        spark.range(facts).select(
            F.col("id").alias("fk"),
            (F.col("id") % dims).alias("k"),
            (F.col("id") * 1.5).alias("v"),
        )
    )
    dim = LakeTable.create(spark, str(tmp_path / "dim"))
    dim.append(
        spark.range(dims).select(
            F.col("id").alias("k"),
            F.concat(F.lit("seg"), (F.col("id") % 4)).alias("seg"),
        )
    )
    return fact, dim


def _assert_join_matches(rollup, fact, dim):
    got = {
        r["seg"]: (r["cnt"], float(r["sum_v"]))
        for r in rollup.df().collect()
    }
    f, d = fact.scan(), dim.scan()
    want = {
        r["seg"]: (r["cnt"], float(r["s"]))
        for r in f.join(d, f["k"] == d["k"])
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("v").cast("decimal(28,6)")).alias("s"),
        )
        .collect()
    }
    assert got == want


def test_join_rollup_fact_dml_only(spark, tmp_path):
    fact, dim = _join_tables(spark, tmp_path)
    ru = JoinRollup.create_join(
        spark, str(tmp_path / "ru"), fact, dim, ["k"], ["seg"], ["v"]
    )
    _assert_join_matches(ru, fact, dim)
    dml.delete(fact, "fk % 7 = 3")
    dml.update(fact, {"v": "v * 2.0"}, "fk % 5 = 1")
    fact.append(
        spark.range(400, 460).select(
            F.col("id").alias("fk"),
            (F.col("id") % 23).alias("k"),
            (F.col("id") * 1.5).alias("v"),
        )
    )
    res = ru.refresh()
    assert res["mode"] == "delta" and res["delta_rows"] > 0
    _assert_join_matches(ru, fact, dim)


def test_join_rollup_dim_update_moves_groups(spark, tmp_path):
    """A dimension UPDATE re-segments every joined fact row — the
    F_old ⋈ ΔD term must move their contributions between groups."""
    fact, dim = _join_tables(spark, tmp_path)
    ru = JoinRollup.create_join(
        spark, str(tmp_path / "ru"), fact, dim, ["k"], ["seg"], ["v"]
    )
    dml.update(dim, {"seg": "'seg_recoded'"}, "k % 4 = 2")
    res = ru.refresh()
    assert res["mode"] == "delta"
    _assert_join_matches(ru, fact, dim)
    assert ru.df().filter(F.col("seg") == "seg_recoded").count() == 1


def test_join_rollup_both_sides_one_window(spark, tmp_path):
    """Fact and dim change in the SAME refresh window — the bilinear
    identity's cross term (ΔF⋈ΔD rides the dim-at-new-version join)
    must keep parity, including a fact insert joining a dim row that
    was deleted in the same window (it must NOT appear)."""
    fact, dim = _join_tables(spark, tmp_path)
    ru = JoinRollup.create_join(
        spark, str(tmp_path / "ru"), fact, dim, ["k"], ["seg"], ["v"]
    )
    dml.delete(dim, "k = 5")          # dim row gone…
    fact.append(
        spark.range(1000, 1010).select(
            F.col("id").alias("fk"),
            F.lit(5).alias("k"),      # …new facts pointing at it
            (F.col("id") * 1.0).alias("v"),
        )
    )
    dml.delete(fact, "fk % 11 = 4")
    dml.update(dim, {"seg": "'hot'"}, "k = 7")
    res = ru.refresh()
    assert res["mode"] == "delta"
    _assert_join_matches(ru, fact, dim)


def test_join_rollup_minmax_and_distinct(spark, tmp_path):
    fact, dim = _join_tables(spark, tmp_path)
    ru = JoinRollup.create_join(
        spark, str(tmp_path / "ru"), fact, dim, ["k"], ["seg"], ["v"],
        minmax_cols=["v"], distinct_cols=["fk"],
    )
    dml.delete(fact, "fk >= 390")     # removes per-group maxima
    dml.update(dim, {"seg": "'mix'"}, "k % 5 = 0")
    assert ru.refresh()["mode"] == "delta"
    f, d = fact.scan(), dim.scan()
    want = {
        r["seg"]: (r["cnt"], r["mn"], r["mx"])
        for r in f.join(d, f["k"] == d["k"])
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    got = {
        r["seg"]: (r["cnt"], r["min_v"], r["max_v"])
        for r in ru.df().collect()
    }
    assert got == want
    # maintained sketches == from-scratch sketches over the join
    from de_gcp_lakehouse_iceberg_spark.operators.sampling import id_hash

    want_raw = {
        r["seg"]: list(r["sk"])
        for r in f.join(d, f["k"] == d["k"])
        .groupBy("seg")
        .agg(
            F.slice(
                F.array_sort(F.collect_set(id_hash(F.col("fk")))), 1, 64
            ).alias("sk")
        )
        .collect()
    }
    got_raw = {
        r["seg"]: list(r["kmv_fk"])
        for r in ru.table.scan().collect()
    }
    assert got_raw == want_raw


def test_join_rollup_noop_and_reload(spark, tmp_path):
    fact, dim = _join_tables(spark, tmp_path, facts=50)
    ru = JoinRollup.create_join(
        spark, str(tmp_path / "ru"), fact, dim, ["k"], ["seg"], ["v"]
    )
    assert ru.refresh()["mode"] == "noop"
    dml.delete(fact, "fk < 10")
    re = JoinRollup(spark, str(tmp_path / "ru"))
    assert re.refresh()["mode"] == "delta"
    _assert_join_matches(re, fact, dim)
    assert re.refresh()["mode"] == "noop"


def test_join_rollup_broadcast_is_size_gated(spark, tmp_path, monkeypatch):
    """r12 VERDICT #4: ivm.py's "ΔF⋈D is a broadcast when the dim is
    dimension-sized" must be an EXPLICIT, tested metadata gate (the
    reader's delete-broadcast policy), not an AQE hope. Small dim →
    the delta-join plan carries the broadcast; gate forced to 0 →
    no explicit hint."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse import ivm

    fact, dim = _join_tables(spark, tmp_path)
    ru = JoinRollup.create_join(
        spark, str(tmp_path / "ru"), fact, dim, ["k"], ["seg"], ["v"]
    )
    dml.delete(fact, "fk % 7 = 3")
    dml.update(dim, {"seg": "'RECODED'"}, "k % 3 = 1")

    def delta_plan():
        handle, _snap, last, cur = ru._source_cursor()
        ch = ru._change_rows(handle, last, cur)
        return ch._jdf.queryExecution().optimizedPlan().toString()

    # the 23-row dim is far under the 64 MiB gate: both delta terms
    # must carry an explicit broadcast hint in the logical plan
    assert ivm.IVM_BROADCAST_MAX_BYTES == 64 << 20
    plan_small = delta_plan()
    assert plan_small.count("strategy=broadcast") == 2, plan_small

    # gate forced shut: no explicit hint anywhere
    monkeypatch.setattr(ivm, "IVM_BROADCAST_MAX_BYTES", 0)
    plan_big = delta_plan()
    assert "strategy=broadcast" not in plan_big, plan_big

    # and the refresh itself stays correct under both gates
    res = ru.refresh()
    assert res["mode"] == "delta"
    _assert_join_matches(ru, fact, dim)


def test_join_rollup_refresh_sized_from_pinned_snapshots(
    spark, tmp_path, monkeypatch
):
    """Catalyst's estimate of a join multiplies its sides, so a refresh
    sized by it never ran as a small statement. The refresh passes the
    rollup's bytes plus, per source, the larger of its bytes at the two
    pinned versions: a small join rollup runs interpreted."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse import ivm
    from de_gcp_lakehouse_iceberg_spark.session import SMALL_STATEMENT_BYTES

    fact, dim = _join_tables(spark, tmp_path)
    ru = JoinRollup.create_join(
        spark, str(tmp_path / "ru"), fact, dim, ["k"], ["seg"], ["v"],
        minmax_cols=["v"],
    )
    last = {"fact": fact.current_version(), "dim": dim.current_version()}
    dml.delete(fact, "fk % 7 = 3")
    dml.update(dim, {"seg": "'RECODED'"}, "k % 3 = 1")
    want = ru.table.snapshot().total_bytes + sum(
        max(t.snapshot(last[n]).total_bytes, t.snapshot().total_bytes)
        for n, t in (("fact", fact), ("dim", dim))
    )

    sizes = []
    scope = ivm.small_statement

    def recording(spark_, nbytes):
        sizes.append(nbytes)
        return scope(spark_, nbytes)

    monkeypatch.setattr(ivm, "small_statement", recording)
    assert ru.refresh()["mode"] == "delta"
    assert sizes == [want]
    assert want <= SMALL_STATEMENT_BYTES
    _assert_join_matches(ru, fact, dim)


def test_delta_rows_counts_rewritten_rows_a_merge_cancels(spark, tmp_path):
    """`delta_rows` is Σ`_gross`: on a generic-diff MERGE commit it
    counts the rewritten unchanged rows that the full-width feed
    cancels as whole rows, so it exceeds that feed's row count by
    twice the rewritten-unchanged rows (the refresh docstring's
    contract)."""
    t = LakeTable.create(spark, str(tmp_path / "base"))
    row = lambda lo, hi, v: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") % 7).alias("g"), v.alias("v")
    )
    t.append(row(0, 60, F.col("id") * 1.5).coalesce(1))  # one file
    ru = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), t, group_cols=["g"], sum_cols=["v"]
    )
    v0 = t.current_version()
    # keys 55-59 match and update, 60-64 insert; the merge rewrites the
    # one file, carrying keys 0-54 over unchanged
    dml.merge(
        t, row(55, 65, F.lit(-1.0)), ["k"],
        when_matched_update={"v": "source.v"},
    )
    v1 = t.current_version()
    assert t.snapshot().operation == "merge"
    gross = (
        dml.changelog(t, v0, v1, columns=["g", "v"])
        .agg(F.sum("_gross"))
        .first()[0]
    )
    full = dml.changelog(t, v0, v1).count()
    assert gross == 60 + 65  # every removed and added row
    assert full == 5 + 5 + 5  # updated pairs + inserts
    res = ru.refresh()
    assert res["mode"] == "delta"
    assert res["delta_rows"] == gross == full + 2 * 55
    _assert_matches_recompute(ru, t)


def test_ivm_projected_refresh_equals_bootstrap(spark, tmp_path):
    """Refresh through the projected weighted feed must equal a
    from-scratch rollup of the final base — including minmax + KMV
    sketches — even when a window commit touches ONLY a column outside
    the projection (its whole diff cancels to _n = 0 rows) and another
    rewrites the distinct column (sketch eviction recompute)."""
    base = LakeTable.create(spark, str(tmp_path / "b"))
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        (F.col("id") % 13).cast("double").alias("v"),
        (F.col("id") % 9).alias("d"),
        (F.col("id") % 4).alias("z"),
    )
    base.append(mk(0, 200))
    ru = IncrementalRollup.create(
        spark,
        str(tmp_path / "ru"),
        base,
        group_cols=["g"],
        sum_cols=["v"],
        minmax_cols=["v"],
        distinct_cols=["d"],
        kmv_k=8,
    )
    # commit whose projection to (g, v, d) is a total no-op
    dml.update(base, {"z": "z + 100"}, "k % 3 = 0")
    dml.delete(base, "k % 10 = 0")  # hits v extrema and d sketch slots
    dml.update(base, {"d": "d + 50"}, "k % 7 = 2")  # sketch eviction
    base.append(mk(200, 230))
    res = ru.refresh()
    assert res["mode"] == "delta" and res["delta_rows"] > 0

    fresh = IncrementalRollup.create(
        spark,
        str(tmp_path / "ru_fresh"),
        base,
        group_cols=["g"],
        sum_cols=["v"],
        minmax_cols=["v"],
        distinct_cols=["d"],
        kmv_k=8,
    )
    key = lambda r: (  # noqa: E731
        r["g"], r["cnt"], float(r["sum_v"]), float(r["min_v"]),
        float(r["max_v"]), r["distinct_d"],
    )
    got = sorted(key(r) for r in ru.df().collect())
    want = sorted(key(r) for r in fresh.df().collect())
    assert got == want
