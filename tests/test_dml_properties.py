"""Property-based DML invariants over LakeTable (hypothesis): for
arbitrary datasets and predicates, copy-on-write DML must agree with
the equivalent pure-DataFrame transformation, and history must be
preserved."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable, dml


@pytest.fixture(scope="module")
def base_rows():
    return None  # placeholder so hypothesis tests can share the spark fixture


_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),  # key (dupes allowed)
        st.integers(min_value=-5, max_value=5),  # bucket
        st.floats(min_value=-100, max_value=100, allow_nan=False).map(
            lambda x: round(x, 2)
        ),
    ),
    min_size=1,
    max_size=25,
)
_threshold = st.integers(min_value=-5, max_value=5)


@settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(rows=_rows, thr=_threshold)
def test_delete_equals_filter_complement(spark, tmp_path_factory, rows, thr):
    root = str(tmp_path_factory.mktemp("prop") / "t")
    t = LakeTable.create(spark, root)
    df = spark.createDataFrame(rows, "key long, bucket long, amount double")
    t.append(df)
    before = t.current_version()
    dml.delete(t, F.col("bucket") >= thr)
    got = sorted(tuple(r) for r in t.scan().collect())
    want = sorted(tuple(r) for r in df.filter(~(F.col("bucket") >= thr)).collect())
    assert got == want
    # history intact: pre-delete snapshot still reads the full data
    assert t.scan(version=before).count() == len(rows)


@settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(rows=_rows, thr=_threshold)
def test_update_equals_withcolumn(spark, tmp_path_factory, rows, thr):
    root = str(tmp_path_factory.mktemp("prop") / "t")
    t = LakeTable.create(spark, root)
    df = spark.createDataFrame(rows, "key long, bucket long, amount double")
    t.append(df)
    pred = F.col("bucket") == thr
    dml.update(t, {"amount": F.col("amount") * 2}, pred)
    got = sorted(tuple(r) for r in t.scan().collect())
    want = sorted(
        tuple(r)
        for r in df.withColumn(
            "amount", F.when(pred, F.col("amount") * 2).otherwise(F.col("amount"))
        ).collect()
    )
    assert got == want


def test_merge_is_idempotent_for_pure_updates(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "key long, amount double"
    )
    t.append(df)
    src = spark.createDataFrame(
        [(5, 99.0), (7, 88.0)], "key long, amount double"
    )
    for _ in range(2):  # applying the same merge twice changes nothing more
        dml.merge(
            t, src, on=["key"],
            when_matched_update={"amount": F.col("source.amount")},
            when_not_matched_insert=True,
        )
    out = {r.key: r.amount for r in t.scan().collect()}
    assert len(out) == 20 and out[5] == 99.0 and out[7] == 88.0


def test_merge_rejects_duplicate_source_keys_on_match(spark, tmp_path):
    """BigQuery MERGE errors when a target row matches >1 source row —
    the rewrite must raise, not silently duplicate target rows."""
    import pytest

    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "key long, amount double")
    )
    dup_src = spark.createDataFrame(
        [(1, 10.0), (1, 11.0)], "key long, amount double"
    )
    with pytest.raises(ValueError, match="duplicate join keys"):
        dml.merge(
            t, dup_src, on=["key"],
            when_matched_update={"amount": F.col("source.amount")},
        )
    # unchanged table
    assert t.scan().count() == 2


def test_merge_allows_duplicate_unmatched_source_keys(spark, tmp_path):
    """Duplicate source keys that match NO target row are legal: each
    row inserts (BigQuery NOT MATCHED semantics)."""
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 1.0)], "key long, amount double"))
    src = spark.createDataFrame(
        [(9, 90.0), (9, 91.0)], "key long, amount double"
    )
    dml.merge(t, src, on=["key"], when_not_matched_insert=True)
    assert t.scan().filter("key = 9").count() == 2


def test_apply_changelog_converges_replica(spark, sf_dir, tmp_path):
    """Full CDC round trip: source DML → changelog() → apply_changelog
    on a replica initialized from the pre-DML snapshot → replica rows
    equal the source's end state exactly."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable, dml
    from de_gcp_lakehouse_iceberg_spark.tables import table as tdata

    sup = tdata(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    src = LakeTable.create(spark, str(tmp_path / "cdc_src"))
    src.append(sup)
    v0 = src.current_version()

    replica = LakeTable.create(spark, str(tmp_path / "cdc_replica"))
    replica.append(src.scan(version=v0))

    # source evolves: append new rows, update a slice, delete a slice
    dml_rows = sup.select(
        (F.col("s_suppkey") + 100_000).alias("s_suppkey"),
        "s_nationkey",
        "s_acctbal",
    ).limit(3)
    src.append(dml_rows)
    dml.update(
        src, {"s_acctbal": F.col("s_acctbal") + 1}, "s_nationkey = 1"
    )
    dml.delete(src, "s_nationkey = 2")

    feed = dml.changelog(src, v0, src.current_version())
    dml.apply_changelog(replica, feed, key_cols=["s_suppkey"])

    a = sorted(map(tuple, src.scan().collect()))
    b = sorted(map(tuple, replica.scan().collect()))
    assert a == b and a


def test_apply_changelog_is_idempotent(spark, tmp_path):
    """Re-applying the same feed must be a no-op on row content."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable, dml

    src = LakeTable.create(spark, str(tmp_path / "cdc_src2"))
    src.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    v0 = src.current_version()
    replica = LakeTable.create(spark, str(tmp_path / "cdc_rep2"))
    replica.append(src.scan(version=v0))

    dml.delete(src, "id = 1")
    src.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    feed = dml.changelog(src, v0, src.current_version())

    dml.apply_changelog(replica, feed, key_cols=["id"])
    once = sorted(map(tuple, replica.scan().collect()))
    dml.apply_changelog(replica, feed, key_cols=["id"])
    twice = sorted(map(tuple, replica.scan().collect()))
    assert once == twice == sorted(map(tuple, src.scan().collect()))


def test_merge_evolve_schema_adds_source_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable
    from de_gcp_lakehouse_iceberg_spark.lakehouse.dml import merge

    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(
        spark.range(0, 5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    src = spark.createDataFrame(
        [(3, 999, "upd"), (7, 70, "new")], "k long, v long, note string"
    )
    # without the flag: unknown column is an error, table untouched
    import pytest

    with pytest.raises(ValueError, match="evolve the schema"):
        merge(t, src, on=["k"], when_matched_update={"v": "source.v"})
    assert t.scan().columns == ["k", "v"]

    merge(
        t,
        src,
        on=["k"],
        when_matched_update={"v": "source.v", "note": "source.note"},
        evolve_schema=True,
    )
    rows = {r.k: (r.v, r.note) for r in t.scan().collect()}
    assert rows[3] == (999, "upd")       # matched row took source values
    assert rows[7] == (70, "new")        # insert carries new column
    assert rows[0] == (0, None)          # pre-existing rows read NULL
    assert t.scan().columns == ["k", "v", "note"]


def test_apply_changelog_null_version_loses(spark, tmp_path):
    """r10 ADVICE: external feeds may carry NULL _change_version — it
    must LOSE to any numbered change (the old desc-window form sorted
    nulls last), not win the negated-ascending struct order."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable, dml

    replica = LakeTable.create(spark, str(tmp_path / "nullv"))
    replica.append(spark.createDataFrame([(1, "old")], "id long, v string"))
    feed = spark.createDataFrame(
        [
            (1, "stale", "INSERT", None, 0),
            (1, "fresh", "INSERT", 7, 0),
        ],
        "id long, v string, _change_type string, "
        "_change_version int, _change_timestamp long",
    )
    dml.apply_changelog(replica, feed, key_cols=["id"])
    assert [(r.id, r.v) for r in replica.scan().collect()] == [(1, "fresh")]


def test_apply_changelog_rejects_non_numeric_version(spark, tmp_path):
    import pytest

    from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable, dml

    replica = LakeTable.create(spark, str(tmp_path / "strv"))
    replica.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    feed = spark.createDataFrame(
        [(1, "b", "INSERT", "v2", 0)],
        "id long, v string, _change_type string, "
        "_change_version string, _change_timestamp long",
    )
    with pytest.raises(TypeError, match="numeric"):
        dml.apply_changelog(replica, feed, key_cols=["id"])


def test_apply_changelog_map_payload_falls_back(spark, tmp_path):
    """Map-typed payload columns are unorderable in the struct-MIN —
    the window fallback must still apply the feed correctly."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable, dml

    replica = LakeTable.create(spark, str(tmp_path / "mapv"))
    replica.append(
        spark.createDataFrame(
            [(1, {"a": 1})], "id long, meta map<string,int>"
        )
    )
    feed = spark.createDataFrame(
        [
            (1, {"a": 2}, "INSERT", 5, 0),
            (1, {"a": 9}, "DELETE", 4, 0),
        ],
        "id long, meta map<string,int>, _change_type string, "
        "_change_version int, _change_timestamp long",
    )
    dml.apply_changelog(replica, feed, key_cols=["id"])
    rows = replica.scan().collect()
    assert len(rows) == 1 and dict(rows[0].meta) == {"a": 2}


def _feed_rows(t, v0):
    feed = dml.changelog(t, v0, t.current_version())
    return sorted(
        tuple(r)
        for r in feed.select(
            "key", "bucket", "amount", "_change_type", "_change_version"
        ).collect()
    )


def test_update_changelog_fast_path_equals_generic(spark, tmp_path):
    """The r14 all-text UPDATE fast path (net diff replayed from the
    removed files' pred-true slice) must emit the EXACT feed the
    generic two-sided exceptAll path produces — including cancelling
    no-op assignments (rows the expression maps to themselves)."""
    rows = [(i, i % 3, float(min(i, 6))) for i in range(12)]
    feeds = {}
    for mode in ("text", "column"):
        t = LakeTable.create(spark, str(tmp_path / mode))
        t.append(
            spark.createDataFrame(
                rows, "key long, bucket long, amount double"
            )
        )
        v0 = t.current_version()
        if mode == "text":
            # greatest(amount, 4): rows with amount >= 4 are no-ops
            # that multiset-cancel in the generic path — the fast
            # path must cancel them identically
            dml.update(
                t, {"amount": "greatest(amount, 4.0)"}, "bucket = 1"
            )
            assert t.snapshot().summary.get("assignments"), (
                "text UPDATE should record the replayable fast path"
            )
        else:
            dml.update(
                t,
                {"amount": F.greatest(F.col("amount"), F.lit(4.0))},
                F.col("bucket") == 1,
            )
            assert not t.snapshot().summary.get("assignments")
        feeds[mode] = _feed_rows(t, v0)
    assert feeds["text"] == feeds["column"]
    # sanity: the no-op rows (amount already >= 4) are absent — of
    # bucket==1 keys {1,4,7,10} only key 1 (amount 1.0) changes
    changed_keys = {r[0] for r in feeds["text"]}
    assert changed_keys == {1}


def test_update_chain_order_visibility_skips_fast_path(spark, tmp_path):
    """A later assignment reading an earlier-assigned column (chain
    visibility) is NOT text-replayable — update() must fall back to
    the generic diff, and the feed must still match the sequential
    when-chain semantics."""
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, 1, 1.0), (2, 1, 2.0), (3, 0, 3.0)],
            "key long, bucket long, amount double",
        )
    )
    v0 = t.current_version()
    dml.update(
        t,
        {"amount": "amount + 10", "bucket": "CAST(amount AS LONG)"},
        "bucket = 1",
    )
    assert not t.snapshot().summary.get("assignments"), (
        "chain-visible assignment must not record the fast path"
    )
    # bucket sees the UPDATED amount (sequential when-chain semantics)
    got = sorted(tuple(r) for r in t.scan().collect())
    assert got == [(1, 11, 11.0), (2, 12, 12.0), (3, 0, 3.0)]
    feed = _feed_rows(t, v0)
    assert {r[0] for r in feed} == {1, 2}


def test_net_diff_feed_equals_two_sided_exceptall(spark):
    """The fused changelog diff (r14: one signed aggregation) must emit
    the exact multiset of the two-sided exceptAll form — including
    duplicate-row multiplicities and NULL key values, the cases where a
    naive row-wise diff diverges."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse.dml import _net_diff_feed

    plus = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "a"), (2, "b"), (None, "n"), (4, None)],
        "k int, s string",
    )
    minus = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b"), (None, "n"), (5, "x")],
        "k int, s string",
    )

    fused = _net_diff_feed(plus, minus, 7, 1234)
    ref_ins = plus.exceptAll(minus).select(
        "*",
        F.lit("INSERT").alias("_change_type"),
        F.lit(7).alias("_change_version"),
        F.lit(1234).alias("_change_timestamp"),
    )
    ref_del = minus.exceptAll(plus).select(
        "*",
        F.lit("DELETE").alias("_change_type"),
        F.lit(7).alias("_change_version"),
        F.lit(1234).alias("_change_timestamp"),
    )
    ref = ref_ins.unionByName(ref_del)

    key = lambda r: tuple(  # noqa: E731
        "<null>" if v is None else v for v in r
    )
    got = sorted(key(r) for r in fused.collect())
    want = sorted(key(r) for r in ref.collect())
    assert got == want
    # the worked example: +1a net +2 INSERTs, 2b net -1 DELETE,
    # nulls cancel, one-sided rows pass through
    types = {}
    for r in fused.collect():
        types.setdefault((r["k"], r["s"]), []).append(r["_change_type"])
    assert sorted(types[(1, "a")]) == ["INSERT", "INSERT"]
    assert types[(2, "b")] == ["DELETE"]
    assert (None, "n") not in types
    assert types[(4, None)] == ["INSERT"]
    assert types[(5, "x")] == ["DELETE"]


def test_net_diff_feed_plan_is_one_signed_sum_aggregate(spark):
    """The default (replicated) feed is the weighted core with its
    unused `_gross` count pruned: ONE aggregate (partial + final),
    over the signed sum only."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse.dml import _net_diff_feed

    plus = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    minus = spark.createDataFrame([(1, "a")], "k int, s string")
    plan = (
        _net_diff_feed(plus, minus, 1, 0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    aggs = [ln for ln in plan.splitlines() if "HashAggregate" in ln]
    assert len(aggs) == 2, plan
    assert all("count" not in ln and "sum(" in ln for ln in aggs), plan


def _lifecycle(spark, root):
    """delete-fast-path + replayable-UPDATE + append window whose
    update projection (g, v) cancels across rows (v+1 collides with
    other rows' v), exercising every weighted-feed branch."""
    t = LakeTable.create(spark, str(root))
    base = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        (F.col("id") % 7).cast("double").alias("v"),
        (F.col("id") % 3).alias("z"),
    )
    t.append(base)
    v0 = t.current_version()
    dml.delete(t, "k % 11 = 3")
    dml.update(t, {"v": "v + 1.0"}, "k % 4 = 1")
    t.append(
        spark.range(60, 80).select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("g"),
            (F.col("id") % 7).cast("double").alias("v"),
            (F.col("id") % 3).alias("z"),
        )
    )
    return t, v0


def test_projected_weighted_feed_nets_match_full(spark, tmp_path):
    """Per projected value and commit, the weighted feed's signed net
    (Σ sign·_n) must equal the full-width feed's signed net — the
    abelian-delta contract — and Σ_gross must equal the full feed's
    physical row count whenever no two FULL rows cancelled (true here:
    k is unique and v+1.0 never maps a row to itself)."""
    t, v0 = _lifecycle(spark, tmp_path / "t")
    full = dml.changelog(t, v0, t.current_version())
    proj = dml.changelog(
        t, v0, t.current_version(), columns=["g", "v"]
    )
    assert set(proj.columns) == {
        "g", "v", "_change_type", "_change_version",
        "_change_timestamp", "_n", "_gross",
    }
    sgn = F.when(F.col("_change_type") == "INSERT", 1).otherwise(-1)
    want = {
        (r["g"], r["v"], r["_change_version"]): r["n"]
        for r in full.groupBy("g", "v", "_change_version")
        .agg(F.sum(sgn).alias("n"))
        .collect()
        if r["n"] != 0
    }
    got = {
        (r["g"], r["v"], r["_change_version"]): r["n"]
        for r in proj.groupBy("g", "v", "_change_version")
        .agg(F.sum(sgn * F.col("_n")).alias("n"))
        .collect()
        if r["n"] != 0
    }
    assert got == want
    assert proj.agg(F.sum("_gross")).first()[0] == full.count()
    # the update's projection genuinely cancelled something, otherwise
    # this test pins nothing: some value must ride with _n = 0
    assert proj.filter("_n = 0").count() > 0


def test_nondeterministic_text_skips_fast_paths(spark, tmp_path):
    """A recorded predicate/assignment calling a non-deterministic
    function must NOT record the changelog replay fast path (r14
    VERDICT #6): replaying the text later would produce different
    values than the DML wrote."""
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )
    )
    dml.update(t, {"v": "v + rand()"}, "k % 2 = 0")
    assert not t.snapshot().summary.get("assignments"), (
        "rand() assignment must fall back to the generic diff"
    )
    dml.delete(t, "rand() < 2.0")  # always true, but non-deterministic
    assert not t.snapshot().summary.get("predicate"), (
        "rand() predicate must not be recorded for delete replay"
    )
    # deterministic text still records the fast paths
    t2 = LakeTable.create(spark, str(tmp_path / "t2"))
    t2.append(
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )
    )
    dml.update(t2, {"v": "v + 1.0"}, "k % 2 = 0")
    assert t2.snapshot().summary.get("assignments")
    dml.delete(t2, "k % 3 = 0")
    assert t2.snapshot().summary.get("predicate")


def test_net_diff_feed_survives_reserved_column_names(spark):
    """User tables may legitimately carry columns named _sgn/_net —
    the fused diff derives collision-free helper names (r14 ADVICE)."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse.dml import (
        _net_diff_feed,
        _net_diff_feed_weighted,
    )

    plus = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 20)], "_sgn int, _net int"
    )
    minus = spark.createDataFrame([(1, 10), (3, 30)], "_sgn int, _net int")
    rows = sorted(
        (r["_sgn"], r["_net"], r["_change_type"])
        for r in _net_diff_feed(plus, minus, 1, 0).collect()
    )
    assert rows == [(1, 10, "INSERT"), (2, 20, "INSERT"), (3, 30, "DELETE")]
    w = {
        (r["_sgn"], r["_net"]): (r["_change_type"], r["_n"], r["_gross"])
        for r in _net_diff_feed_weighted(plus, minus, 1, 0).collect()
    }
    assert w[(1, 10)] == ("INSERT", 1, 3)
    assert w[(2, 20)] == ("INSERT", 1, 1)
    assert w[(3, 30)] == ("DELETE", 1, 1)
