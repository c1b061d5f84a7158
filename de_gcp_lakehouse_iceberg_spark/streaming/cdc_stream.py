"""Streaming change-data-capture feed over a LakeTable — the
`readStream`-able form of the changelog scan (lakehouse/dml.changelog;
reference change history: PRD.md:956-972 _CHANGE_TYPE pseudo-columns).

Design (the Delta/Iceberg CDF shape): each commit's row-level changes are
exported incrementally to a `_changelog/` parquet directory beside the
table — `export_changelog` is the writer-side hook (idempotent: a
version marker records the high watermark, so re-running exports only
NEW commits). `read_changelog_stream` is then a standard file-source
readStream over that directory: Structured Streaming's file tracking
gives exactly-once delivery of each change batch, watermarks/windows
compose downstream, and a crashed consumer resumes from its own
checkpoint — no custom Source implementation to maintain.

Scale: the export reads only files that entered/left each snapshot
(manifest set-diff), so a commit touching one partition exports one
partition's rows; the stream side is incremental-list I/O only.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..lakehouse.dml import changelog
from ..lakehouse.table import LakeTable

CHANGELOG_DIR = "_changelog"
_MARKER = "_exported_version.json"


def _marker_path(table: LakeTable) -> str:
    return os.path.join(table.root, CHANGELOG_DIR, _MARKER)


def exported_version(table: LakeTable) -> int | None:
    """Highest snapshot version already exported (None = never
    exported — distinct from version 0, which IS a real snapshot)."""
    try:
        with open(_marker_path(table)) as f:
            return json.load(f)["version"]
    except FileNotFoundError:
        return None


def export_changelog(table: LakeTable) -> int:
    """Export row-level changes of every commit NEWER than the marker
    as one parquet batch; advance the marker. Returns the number of
    newly exported versions. Call after commits (or from a scheduler)
    to keep the CDC feed current.

    The FIRST export bootstraps the feed with snapshot v0's rows as
    INSERTs (changelog() diffs v-1→v so it cannot express v0): a
    consumer reading the stream alone must see the table's founding
    rows. `LakeTable.create` commits v0 empty, so this usually adds
    nothing — but a manifest written with data at v0 still feeds
    correctly."""
    cur = table.current_version()
    if cur is None:
        return 0
    last = exported_version(table)
    first = last is None
    base = 0 if first else last
    if not first and cur <= base:
        return 0
    out_dir = os.path.join(table.root, CHANGELOG_DIR)
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    pieces = []
    v0_rows = False
    if first:
        snap0 = table.snapshot(0)
        if snap0.files:
            v0_rows = True
            pieces.append(
                table._read_files(
                    snap0, [f.path for f in snap0.files]
                ).select(
                    "*",
                    F.lit("INSERT").alias("_change_type"),
                    F.lit(0).alias("_change_version"),
                    F.lit(snap0.timestamp_ms).alias("_change_timestamp"),
                )
            )
    if cur > base:
        pieces.append(changelog(table, base, cur))
    delta = None
    for p in pieces:
        delta = p if delta is None else delta.unionByName(p)
    if delta is not None:
        delta = delta.withColumn(
            "_change_version", F.col("_change_version").cast("long")
        ).withColumn(
            "_change_timestamp", F.col("_change_timestamp").cast("long")
        )
        delta.write.mode("append").parquet(os.path.join(out_dir, "data"))
    tmp = _marker_path(table) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": cur}, f)
    os.replace(tmp, _marker_path(table))
    return (cur - base) + (1 if v0_rows else 0)


def read_changelog_stream(
    spark: SparkSession, table: LakeTable
) -> DataFrame:
    """Streaming DataFrame of the exported change feed — rows carry
    the table schema plus _change_type / _change_version /
    _change_timestamp. Standard file source: exactly-once per file,
    resumes from the consumer's checkpoint."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructType,
    )

    snap = table.snapshot()
    schema = StructType.fromJson(json.loads(snap.schema_json))
    schema = (
        schema.add("_change_type", StringType())
        .add("_change_version", LongType())
        .add("_change_timestamp", LongType())
    )
    data_dir = os.path.join(table.root, CHANGELOG_DIR, "data")
    os.makedirs(data_dir, exist_ok=True)
    return spark.readStream.schema(schema).parquet(data_dir)
