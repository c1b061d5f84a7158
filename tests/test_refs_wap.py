"""Snapshot refs (tags), rollback, write-audit-publish, and
partition-spec evolution — the Iceberg snapshot-ref / WAP / spec-id
surface (reference: BigQuery-managed Iceberg tables,
sql/create_iceberg_tables.sql; maintenance in
src/maintenance/iceberg_maintenance.py).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable
from de_gcp_lakehouse_iceberg_spark.lakehouse.evolution import (
    set_partition_spec,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


# ---------------------------------------------------------------------------
# tags + rollback
# ---------------------------------------------------------------------------
def test_tag_scan_and_rollback(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))          # v1: good load
    good = t.current_version()
    t.set_tag("after_good_load")
    t.append(_df(spark, 10, 25))         # v2: bad load
    assert t.scan().count() == 25

    # tag resolves to the pinned snapshot regardless of later commits
    assert t.scan(tag="after_good_load").count() == 10
    assert t.resolve_tag("after_good_load") == good

    # rollback commits a NEW snapshot (history intact, bad commit still
    # time-travelable) whose content equals the target
    snap = t.rollback_to(good)
    assert snap.operation == "rollback"
    assert t.scan().count() == 10
    assert t.scan(version=good + 1).count() == 25  # bad commit preserved
    assert t.snapshot().summary["rolled_back_to"] == good

    with pytest.raises(KeyError):
        t.resolve_tag("nope")
    t.delete_tag("after_good_load")
    assert t.tags() == {}


def test_expire_snapshots_keeps_tagged(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    t.set_tag("pin")                      # pin v1
    pinned = t.current_version()
    t.overwrite(_df(spark, 5, 9))         # v2 replaces v1's files
    t.overwrite(_df(spark, 9, 12))        # v3
    res = t.expire_snapshots(older_than_ms=int(time.time() * 1000) + 10_000,
                             keep_last=1)
    # v0 (create) and v2 expired; v1 survives via the tag, v3 is current
    versions = {s.version for s in t.snapshots()}
    assert pinned in versions
    assert t.scan(tag="pin").count() == 5          # tagged data readable
    assert t.scan().count() == 3
    assert res["expired_snapshots"] >= 1


# ---------------------------------------------------------------------------
# write-audit-publish
# ---------------------------------------------------------------------------
def test_wap_stage_audit_publish(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    v_before = t.current_version()

    wap = t.stage_append(_df(spark, 10, 14))
    # staged rows invisible to readers; pointer unmoved
    assert t.current_version() == v_before
    assert t.scan().count() == 10
    assert wap in t.staged_ids()

    # audit: staged-only and as-if-published views
    assert t.scan_staged(wap, include_base=False).count() == 4
    assert t.scan_staged(wap).count() == 14

    snap = t.publish(wap)
    assert snap.operation == "publish"
    assert snap.summary["wap_id"] == wap
    assert t.scan().count() == 14
    assert t.staged_ids() == []


def test_wap_publish_rebases_onto_later_commits(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    wap = t.stage_append(_df(spark, 100, 104))
    t.append(_df(spark, 10, 20))          # another writer lands first
    t.publish(wap)                        # append files are commutative
    assert t.scan().count() == 24
    assert set(
        r.k for r in t.scan().filter(F.col("k") >= 100).collect()
    ) == {100, 101, 102, 103}


def test_wap_discard_and_orphan_cleanup(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    wap = t.stage_append(_df(spark, 10, 14))
    future = int(time.time() * 1000) + 60_000

    # staged-but-live files are NOT orphans
    assert t.remove_orphans(future, dry_run=True) == []

    t.discard_staged(wap)
    orphans = t.remove_orphans(future, dry_run=True)
    assert len(orphans) >= 1             # now collectable
    t.remove_orphans(future)
    assert t.scan().count() == 10        # table unaffected


def test_wap_publish_rejects_incompatible_schema_change(spark, tmp_path):
    """One landing rule for every commit that only adds files, run for
    both forms: a publish and an append whose head evolved after their
    files were written land after an additive change (the new column
    reads NULL in them) and raise after a retype."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse.evolution import (
        add_column,
        drop_column,
    )

    def land(t, df, evolve, form):
        # evolve the head between the write and the commit
        if form == "publish":
            wap = t.stage_append(df)
            evolve()
            return t.publish(wap)
        write = t._write_files

        def write_then_evolve(*args, **kwargs):
            out = write(*args, **kwargs)
            evolve()
            return out

        t._write_files = write_then_evolve
        try:
            return t.append(df)
        finally:
            del t._write_files

    def retype_v():
        drop_column(t, "v")
        add_column(t, "v", "string")

    for form in ("publish", "append"):
        t = LakeTable.create(spark, str(tmp_path / form))
        t.append(
            spark.range(0, 5).select(
                F.col("id").alias("k"), F.col("id").cast("int").alias("v")
            )
        )
        # additive evolution since the write: the commit still lands
        # (its files simply read the new column as NULL)
        land(
            t,
            spark.range(5, 8).select(
                F.col("id").alias("k"), F.col("id").cast("int").alias("v")
            ),
            lambda: add_column(t, "note", "string"),
            form,
        )
        assert t.scan().count() == 8
        assert t.scan().filter(F.col("note").isNull()).count() == 8

        # retype v int→string since the write ⇒ its files would read wrong
        with pytest.raises(ValueError, match="no longer match"):
            land(
                t,
                spark.range(8, 10).select(
                    F.col("id").alias("k"),
                    F.col("id").cast("int").alias("v"),
                    F.lit("x").alias("note"),
                ),
                retype_v,
                form,
            )
        assert t.scan().count() == 8


def test_rewrite_planned_before_add_column_default_conflicts(spark, tmp_path):
    """A commit that removes files needs the exact planned schema: a
    compaction planned before `add_column(default=)` landed must raise
    a permanent CommitConflict, because the rewritten files would
    postdate the column and lose the default for their rows."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse import CommitConflict
    from de_gcp_lakehouse_iceberg_spark.lakehouse.evolution import (
        add_column,
        apply_defaults,
    )

    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    t.append(_df(spark, 5, 10))
    planned = t.snapshot()
    add_column(t, "note", "string", default="d")
    with pytest.raises(CommitConflict) as exc:
        t.replace_files(
            [f.path for f in planned.files],
            t.scan(version=planned.version).coalesce(1),
            operation="compact",
            expected_base=planned.version,
        )
    assert exc.value.permanent
    got = apply_defaults(t, t.scan())
    assert got.count() == 10
    assert got.filter(F.col("note") == "d").count() == 10


# ---------------------------------------------------------------------------
# partition-spec evolution
# ---------------------------------------------------------------------------
def test_partition_spec_evolution_prunes_per_file_spec(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), partition_by=["bucket(8, k)"]
    )
    t.append(_df(spark, 0, 64).coalesce(1))       # old spec: 8 buckets
    snap = set_partition_spec(t, ["bucket(16, k)"])
    assert snap.operation == "set_partition_spec"
    t.append(_df(spark, 0, 64).coalesce(1))       # new spec: 16 buckets

    # k = 9: bucket 1 under old spec, bucket 9 under new spec. Per-file
    # spec pruning must keep exactly one file from each era; pruning old
    # files with the CURRENT spec would wrongly drop the old bucket-1
    # file (9 % 16 = 9 ≠ 1).
    _snap, planned = t.plan_files(where=[("k", "=", 9)])
    specs = sorted(tuple(f.spec) for f in planned)
    assert specs == [("bucket(16,k)",), ("bucket(8,k)",)]
    assert t.scan(where=[("k", "=", 9)]).count() == 2
    # row correctness across the whole mixed-spec table (64 rows twice)
    assert t.scan().count() == 128
    assert t.scan().select(F.sum("k")).collect()[0][0] == 2 * sum(range(64))

    # spec history is recorded on the evolution commit + in properties
    assert snap.summary["old_spec"] == ["bucket(8, k)"]
    assert snap.summary["new_spec"] == ["bucket(16, k)"]
    props_hist = [
        h["spec"]
        for h in __import__("json").load(
            open(str(tmp_path / "t" / "_properties.json"))
        )["partition_spec_history"]
    ]
    assert ["bucket(8, k)"] in props_hist


def test_partition_spec_lost_cas_leaves_properties(
    spark, tmp_path, monkeypatch
):
    """The new spec takes force only with the snapshot that records it:
    a set_partition_spec that loses its CAS leaves `_properties.json`
    (spec and spec history) as it was, and the retry records the true
    old spec."""
    import json

    from de_gcp_lakehouse_iceberg_spark.lakehouse import CommitConflict

    t = LakeTable.create(
        spark, str(tmp_path / "t"), partition_by=["bucket(8, k)"]
    )
    t.append(_df(spark, 0, 16))
    props = tmp_path / "t" / "_properties.json"
    before = props.read_text()
    monkeypatch.setattr(t.committer, "cas_create", lambda path, data: False)
    with pytest.raises(CommitConflict):
        set_partition_spec(t, ["bucket(16, k)"])
    assert props.read_text() == before
    assert t.partition_by == ["bucket(8, k)"]

    monkeypatch.undo()
    snap = set_partition_spec(t, ["bucket(16, k)"])
    assert snap.summary["old_spec"] == ["bucket(8, k)"]
    assert [h["spec"] for h in json.loads(props.read_text())[
        "partition_spec_history"
    ]] == [["bucket(8, k)"]]


def test_partition_spec_evolution_add_transform(spark, tmp_path):
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 3, 12, 0, 0)) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "uid long, ts timestamp")
    t = LakeTable.create(spark, str(tmp_path / "t"), partition_by=["days(ts)"])
    t.append(df.coalesce(1))
    set_partition_spec(t, ["days(ts)", "bucket(4, uid)"])
    t.append(df.coalesce(1))

    # days pruning applies to BOTH eras; bucket pruning only to new files
    _s, planned = t.plan_files(
        where=[("ts", ">=", dt.datetime(2024, 1, 3)), ("uid", "=", 2)]
    )
    old = [f for f in planned if f.spec == ["days(ts)"]]
    new = [f for f in planned if len(f.spec) == 2]
    assert len(old) == 1                 # one day survives, no uid pruning
    assert len(new) == 1                 # day AND bucket pruned
    assert t.scan(
        where=[("ts", ">=", dt.datetime(2024, 1, 3)), ("uid", "=", 2)]
    ).count() == 2


def test_refs_and_history_metadata_tables(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    t.set_tag("v1")
    t.append(_df(spark, 5, 8))
    t.rollback_to(1)

    refs = {r.name: (r.type, r.version) for r in t.refs_df().collect()}
    assert refs == {"v1": ("tag", 1)}

    hist = t.history_df().orderBy("version").collect()
    assert [h.operation for h in hist] == [
        "create", "append", "append", "rollback"
    ]
    assert hist[-1].total_rows == 5
    import json as _json

    assert _json.loads(hist[-1].summary)["rolled_back_to"] == 1


def test_two_staged_commits_publish_independently(spark, tmp_path):
    """Two writers stage concurrently; both publishes land (append
    files are commutative) and the combined table is exact."""
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    w1 = t.stage_append(_df(spark, 100, 105))
    w2 = t.stage_append(_df(spark, 200, 203))
    t.publish(w2)                          # later stage publishes first
    t.publish(w1)
    assert t.scan().count() == 18
    assert t.staged_ids() == []
    ks = {r.k for r in t.scan().collect()}
    assert {100, 101, 102, 103, 104, 200, 201, 202} <= ks


def test_publish_after_rollback_rebases_onto_reverted_head(spark, tmp_path):
    """A stage planned against a later-reverted base still publishes
    onto the CURRENT (rolled-back) head — file additions rebase, they
    don't resurrect the reverted files."""
    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))            # v1
    good = t.current_version()
    t.append(_df(spark, 10, 30))           # v2 (will be reverted)
    wap = t.stage_append(_df(spark, 100, 104))  # staged against v2
    t.rollback_to(good)                    # v3: back to 10 rows
    t.publish(wap)                         # v4
    assert t.scan().count() == 14          # v1 rows + staged; v2 gone
    assert {r.k for r in t.scan().filter(F.col("k") >= 100).collect()} == {
        100, 101, 102, 103
    }


def test_wap_audit_respects_mor_deletes(spark, tmp_path):
    """A staged append audited AFTER a merge-on-read delete must show
    the post-delete table + staged rows — never resurrect the logically
    deleted rows (the audit validates exactly what publish produces)."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse.dml import delete_mor

    t = LakeTable.create(spark, str(tmp_path / "wap_mor"))
    t.append(
        spark.createDataFrame(
            [(1, "keep"), (2, "gone"), (3, "keep")], "id long, s string"
        ).coalesce(1)
    )
    delete_mor(t, "s = 'gone'")
    assert sorted(r.id for r in t.scan().collect()) == [1, 3]

    wap = t.stage_append(
        spark.createDataFrame([(4, "gone")], "id long, s string").coalesce(1)
    )
    # audit view == publish result: deleted row 2 stays gone; the staged
    # row 4 survives even though it MATCHES the old delete predicate
    # (deletes never apply to rows added after them)
    audited = sorted(r.id for r in t.scan_staged(wap).collect())
    assert audited == [1, 3, 4]
    assert sorted(r.id for r in t.scan_staged(wap, include_base=False).collect()) == [4]
    t.publish(wap)
    assert sorted(r.id for r in t.scan().collect()) == audited


def test_audit_staged_rows_matches_scan_staged_count(spark, tmp_path):
    """The footer-level WAP audit must return exactly what a full
    re-scan of the staged rows counts — and still catch a damaged
    stage (a staged file truncated after the write fails the fresh
    footer read instead of silently passing)."""
    import os

    import pytest

    t = LakeTable.create(spark, str(tmp_path / "t"))
    t.append(spark.range(10).selectExpr("id AS k", "id * 2 AS v"))
    staged_df = spark.range(100, 137).selectExpr("id AS k", "id AS v")
    wap_id = t.stage_append(staged_df.repartition(6))
    assert t.audit_staged_rows(wap_id) == t.scan_staged(
        wap_id, include_base=False
    ).count() == 37
    # damage one staged file on disk: the fresh footer read must raise
    d = t._read_staged(wap_id)
    victim = os.path.join(t.root, d["files"][0]["path"])
    with open(victim, "wb") as f:
        f.write(b"not parquet")
    with pytest.raises(Exception):
        t.audit_staged_rows(wap_id)
    t.discard_staged(wap_id)
