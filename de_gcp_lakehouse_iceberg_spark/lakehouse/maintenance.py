"""Table maintenance services — the Spark re-expression of the
reference's Iceberg maintenance module
(src/maintenance/iceberg_maintenance.py:28-408, M1-M10 in SURVEY.md §2.11).

Policy defaults mirror the reference:
- compaction target 128 MB (iceberg_maintenance.py:28), last-N-days scope
- snapshot retention 7 days (iceberg_maintenance.py:73)
- sort rewrite over recent partitions with per-table sort columns
  (iceberg_maintenance.py:95-127)
- orphan cleanup > 3 days with dry_run (iceberg_maintenance.py:129-152)
- partition health: flag > 5 GB to split, < 10k rows & < 0.1 GB to
  compact (iceberg_maintenance.py:250-267)
"""

from __future__ import annotations

import json
import math
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import functions as F

from ..session import small_statement
from .table import LakeTable, Snapshot

MB = 1024 * 1024
GB = 1024 * MB

DEFAULT_TARGET_FILE_SIZE = 128 * MB  # iceberg_maintenance.py:28
DEFAULT_RETENTION_DAYS = 7  # iceberg_maintenance.py:73
DEFAULT_ORPHAN_AGE_DAYS = 3  # iceberg_maintenance.py:134-142
PARTITION_SPLIT_BYTES = 5 * GB  # iceberg_maintenance.py:252
PARTITION_COMPACT_ROWS = 10_000  # iceberg_maintenance.py:259
PARTITION_COMPACT_BYTES = int(0.1 * GB)  # iceberg_maintenance.py:260


@dataclass
class MaintenanceReport:
    table: str
    started_ms: int
    actions: list[dict[str, Any]] = field(default_factory=list)

    def add(self, action: str, **detail: Any) -> None:
        self.actions.append({"action": action, **detail})

    def to_json(self) -> str:
        return json.dumps(
            {"table": self.table, "started_ms": self.started_ms, "actions": self.actions}
        )


def compact(
    table: LakeTable,
    target_file_size: int = DEFAULT_TARGET_FILE_SIZE,
    partition_filter=None,
) -> dict[str, Any]:
    """M1: bin-pack small files up to the target size. Reads only the
    small files (manifest-selected), repartitions by the table's
    partition columns so each output task writes one file per partition,
    single atomic commit. Before/after file counts reported exactly like
    iceberg_maintenance.py:50-66."""
    snap = table.snapshot()
    before_files = len(snap.files)
    candidates = [
        f
        for f in snap.files
        if f.bytes < target_file_size
        and (partition_filter is None or partition_filter(f.partition))
    ]
    # group by partition; only partitions with 2+ small files benefit
    by_part: dict[str, list] = {}
    for f in candidates:
        by_part.setdefault(json.dumps(f.partition, sort_keys=True), []).append(f)
    to_rewrite = [f for group in by_part.values() if len(group) > 1 for f in group]
    if not to_rewrite:
        return {
            "status": "skipped",
            "reason": "no partitions with multiple small files",
            "files_before": before_files,
            "files_after": before_files,
        }
    total_bytes = sum(f.bytes for f in to_rewrite)
    df = table._read_files(snap, [f.path for f in to_rewrite])
    pcols = [c for c in table.partition_by if c in df.columns]
    n_out = max(1, math.ceil(total_bytes / target_file_size))
    df = df.repartition(n_out, *pcols) if pcols else df.coalesce(n_out)
    with small_statement(table.spark, total_bytes):
        new_snap = table.replace_files(
            [f.path for f in to_rewrite], df, operation="compact",
            expected_base=snap.version,
        )
    return {
        "status": "success",
        "files_before": before_files,
        "files_after": len(new_snap.files),
        "rewritten_files": len(to_rewrite),
        "rewritten_bytes": total_bytes,
    }


def rewrite_sorted(
    table: LakeTable,
    sort_columns: list[str],
    partition_filter=None,
    rowgroup_bytes: int | None = None,
) -> dict[str, Any]:
    """M3: sort-order rewrite (Z-order-style clustering,
    iceberg_maintenance.py:95-127). Rewrites the selected files with
    rows sorted by the given columns inside each partition, which gives
    parquet row-group min/max stats real pruning power on those columns."""
    snap = table.snapshot()
    targets = [
        f
        for f in snap.files
        if partition_filter is None or partition_filter(f.partition)
    ]
    if not targets:
        return {"status": "skipped", "reason": "no matching partitions"}
    df = table._read_files(snap, [f.path for f in targets])
    pcols = [c for c in table.partition_by if c in df.columns]
    if pcols:
        df = df.repartition(*[F.col(c) for c in pcols])
    else:
        # GLOBAL range clustering (Iceberg sort-order-rewrite shape):
        # each output file owns a disjoint slice of the sort key, so
        # the manifest's per-file [min,max] stats — and therefore
        # scan(where=) file skipping — become surgical instead of every
        # file spanning the whole range. File count is preserved.
        df = df.repartitionByRange(
            max(1, len(targets)), *[F.col(c) for c in sort_columns]
        )
    df = df.sortWithinPartitions(*sort_columns)
    with small_statement(table.spark, sum(f.bytes for f in targets)):
        new_snap = table.replace_files(
            [f.path for f in targets], df, operation="rewrite_sorted",
            summary={"sort_columns": sort_columns},
            expected_base=snap.version,
            writer_options=(
                {"parquet.block.size": rowgroup_bytes}
                if rowgroup_bytes
                else None
            ),
        )
    return {
        "status": "success",
        "rewritten_files": len(targets),
        "files_after": len(new_snap.files),
        "sort_columns": sort_columns,
    }


def rewrite_zorder(
    table: LakeTable,
    zorder_columns: list[str],
    bits_per_column: int = 8,
    partition_filter=None,
    target_file_size: int = DEFAULT_TARGET_FILE_SIZE,
    rowgroup_bytes: int | None = None,
) -> dict[str, Any]:
    """M3 (true multi-dimensional form): Z-order rewrite — interleave
    the bits of min-max-scaled column values into one z-value and sort
    by it, so parquet row-group min/max stats prune on EVERY z-ordered
    column, not just the leading sort key (FR-014, PRD.md:137;
    rewrite strategy iceberg_maintenance.py:108-117).

    Scaling uses global min/max (one cheap agg pass) rather than exact
    ranks — no global sort for the quantization, only for the final
    clustering order. 100 TB note: swap the orderBy for
    repartitionByRange(zvalue) + sortWithinPartitions to keep the sort
    distributed."""
    snap = table.snapshot()
    targets = [
        f for f in snap.files
        if partition_filter is None or partition_filter(f.partition)
    ]
    if not targets:
        return {"status": "skipped", "reason": "no matching partitions"}
    df = table._read_files(snap, [f.path for f in targets])
    total_bytes = sum(f.bytes for f in targets)
    with small_statement(table.spark, total_bytes):
        stats = df.agg(
            *[F.min(c).alias(f"{c}__min") for c in zorder_columns],
            *[F.max(c).alias(f"{c}__max") for c in zorder_columns],
        ).collect()[0]
        n_buckets = 1 << bits_per_column
        scaled = []
        for c in zorder_columns:
            lo = float(stats[f"{c}__min"])
            hi = float(stats[f"{c}__max"])
            span = (hi - lo) or 1.0
            scaled.append(
                F.least(
                    F.floor((F.col(c).cast("double") - lo) / span * n_buckets)
                    .cast("long"),
                    F.lit(n_buckets - 1),
                )
            )
        # interleave: bit j of column i lands at position j*len(cols)+i
        z = F.lit(0).cast("long")
        for j in range(bits_per_column):
            for i, s in enumerate(scaled):
                pos = j * len(scaled) + i
                bit = F.shiftright(s, bits_per_column - 1 - j).bitwiseAND(F.lit(1))
                z = z + bit * F.lit(1 << (bits_per_column * len(scaled) - 1 - pos))
        # range-partition by z then sort within — the distributed form (a
        # bare orderBy would let AQE coalesce tiny inputs into one file and
        # erase the per-file clustering this rewrite exists to create)
        n_out = max(2, math.ceil(total_bytes / target_file_size))
        out = (
            df.withColumn("_z", z)
            .repartitionByRange(n_out, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
        # rowgroup_bytes tunes the WITHIN-file stats granularity the
        # clustering exists to sharpen: smaller row groups → finer
        # plan_row_groups/scan_rowgroups skipping on every z-ordered column
        new_snap = table.replace_files(
            [f.path for f in targets], out, operation="rewrite_zorder",
            summary={"zorder_columns": zorder_columns},
            expected_base=snap.version,
            writer_options=(
                {"parquet.block.size": rowgroup_bytes}
                if rowgroup_bytes
                else None
            ),
        )
    return {
        "status": "success",
        "rewritten_files": len(targets),
        "files_after": len(new_snap.files),
        "zorder_columns": zorder_columns,
    }


def expire_snapshots(
    table: LakeTable, retention_days: float = DEFAULT_RETENTION_DAYS
) -> dict[str, Any]:
    """M2 (iceberg_maintenance.py:73-93)."""
    cutoff = int(time.time() * 1000) - int(retention_days * 86400_000)
    res = table.expire_snapshots(older_than_ms=cutoff, keep_last=1)
    return {"status": "success", "retention_days": retention_days, **res}


def rewrite_manifests(
    table: LakeTable,
    retention_days: float = DEFAULT_RETENTION_DAYS,
    keep_last: int = 1,
) -> dict[str, Any]:
    """Metadata compaction — the `rewrite_manifests` analog for the
    JSON manifest family. Every commit leaves one snapshot JSON (full
    file list); after hundreds of commits the _manifests/ dir is
    O(commits) files even though planning only needs the retained
    window. This pass:

    1. ARCHIVES the headers of every snapshot the expire window is
       about to drop into ONE compacted history log (commit audit
       trail survives; file lists don't — those versions stop being
       time-travel targets, exactly `expire_snapshots`' contract);
    2. runs the expire itself (per-version JSONs deleted,
       unreferenced data files GC'd).

    `plan_files` output and every query over retained versions are
    byte-identical before/after — proven by tests/test_rewrite_manifests.py.
    Mirrors the metadata leg of run_full_maintenance
    (iceberg_maintenance.py:334-387)."""
    import os

    cutoff = int(time.time() * 1000) - int(retention_days * 86400_000)
    victims = table._expire_candidates(table.snapshots(), cutoff, keep_last)
    mdir = os.path.join(table.root, "_manifests")
    before = len(os.listdir(mdir))
    archived = table.archive_snapshot_headers(victims)
    res = table.expire_snapshots(older_than_ms=cutoff, keep_last=keep_last)
    after = len(os.listdir(mdir))
    return {
        "status": "success",
        "archived_headers": archived,
        "metadata_files_before": before,
        "metadata_files_after": after,
        **res,
    }


def cleanup_orphans(
    table: LakeTable,
    older_than_days: float = DEFAULT_ORPHAN_AGE_DAYS,
    dry_run: bool = False,
) -> dict[str, Any]:
    """M4 (iceberg_maintenance.py:129-152). Also expires WAP stage
    manifests past the same age bound (a crashed writer's stage would
    otherwise protect its files from orphan collection forever); the
    freed files are swept by this SAME pass, since they now fail the
    stage-protection check and carry mtimes older than the cutoff."""
    cutoff = int(time.time() * 1000) - int(older_than_days * 86400_000)
    stages = table.expire_staged(older_than_ms=cutoff, dry_run=dry_run)
    orphans = table.remove_orphans(older_than_ms=cutoff, dry_run=dry_run)
    return {
        "status": "success",
        "dry_run": dry_run,
        "orphans": orphans,
        "expired_stages": stages,
    }


def analyze_partitions(table: LakeTable) -> list[dict[str, Any]]:
    """M6: health thresholds from iceberg_maintenance.py:250-267."""
    recs = []
    for row in table.partitions_df().collect():
        if row.size_bytes > PARTITION_SPLIT_BYTES:
            recs.append(
                {
                    "partition": row.partition,
                    "recommendation": "consider_sub_partitioning",
                    "size_bytes": row.size_bytes,
                }
            )
        elif (
            row.row_count < PARTITION_COMPACT_ROWS
            and row.size_bytes < PARTITION_COMPACT_BYTES
            and row.file_count > 1
        ):
            recs.append(
                {
                    "partition": row.partition,
                    "recommendation": "compact",
                    "row_count": row.row_count,
                    "file_count": row.file_count,
                }
            )
    return recs


def collect_statistics(table: LakeTable, columns: list[str] | None = None) -> dict:
    """M5: ANALYZE TABLE analog — table-level row/size plus per-column
    min/max/null-count/approx-NDV in ONE aggregate pass (no per-column
    jobs). Feeds the same policy decisions the reference drives from
    ANALYZE TABLE + __TABLES__ (iceberg_maintenance.py:204-224,291-332)."""
    snap = table.snapshot()
    df = table.scan()
    cols = columns or [c for c, t in df.dtypes if not t.startswith(("array", "map", "struct", "binary"))]
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.approx_count_distinct(c).alias(f"{c}__ndv"),
        ]
    row = df.agg(*aggs).collect()[0].asDict() if aggs else {}
    col_stats = {
        c: {
            "min": row.get(f"{c}__min"),
            "max": row.get(f"{c}__max"),
            "null_count": row.get(f"{c}__nulls"),
            "approx_ndv": row.get(f"{c}__ndv"),
        }
        for c in cols
    }
    return {
        "row_count": snap.total_rows,
        "size_bytes": snap.total_bytes,
        "file_count": len(snap.files),
        "snapshot_count": len(table.snapshots()),
        "columns": col_stats,
    }


def run_full_maintenance(
    table: LakeTable,
    name: str = "table",
    sort_columns: list[str] | None = None,
    target_file_size: int = DEFAULT_TARGET_FILE_SIZE,
    retention_days: float = DEFAULT_RETENTION_DAYS,
    orphan_age_days: float = DEFAULT_ORPHAN_AGE_DAYS,
) -> MaintenanceReport:
    """M9: stats → compact → (optional sort) → expire → orphans,
    mirroring run_full_maintenance (iceberg_maintenance.py:334-387)."""
    report = MaintenanceReport(table=name, started_ms=int(time.time() * 1000))
    report.add("statistics", **{
        k: v for k, v in collect_statistics(table, columns=[]).items()
        if k != "columns"
    })
    report.add("compaction", **compact(table, target_file_size))
    if sort_columns:
        report.add("sort_rewrite", **rewrite_sorted(table, sort_columns))
    # expire + metadata compaction in one leg: headers archived, old
    # manifests dropped, data files GC'd
    report.add(
        "expire_snapshots", **rewrite_manifests(table, retention_days)
    )
    orphan = cleanup_orphans(table, orphan_age_days)
    report.add(
        "orphan_cleanup", status=orphan["status"], removed=len(orphan["orphans"])
    )
    report.add("partition_health", recommendations=analyze_partitions(table))
    return report
