"""Schema evolution for LakeTable — the additive ALTER TABLE surface of
the reference (PRD.md:1044-1079 D6: ADD COLUMN with defaults; audit log
per sql/create_iceberg_tables.sql:108-123; old-rows-NULL semantics per
PRD.md:3421-3473).

Mechanism: a schema change is a metadata-only snapshot commit — the new
schema_json references the SAME data files. Reads pin the snapshot's
schema, so files written before the change surface the new column as
NULL (or the recorded default via `apply_defaults`), exactly the
Iceberg behavior. No data rewrite at any scale.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .table import LakeTable, Snapshot, _write_json_atomic

EVOLUTION_LOG = "_evolution_log.jsonl"
DEFAULTS_FILE = "_column_defaults.json"


def _log(table: LakeTable, entry: dict[str, Any]) -> None:
    with open(os.path.join(table.root, EVOLUTION_LOG), "a") as f:
        f.write(json.dumps({**entry, "applied_at_ms": int(time.time() * 1000)}) + "\n")


def _defaults(table: LakeTable) -> dict[str, Any]:
    try:
        with open(os.path.join(table.root, DEFAULTS_FILE)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def add_column(
    table: LakeTable, name: str, dtype: str, default: Any = None
) -> Snapshot:
    """D6: ALTER TABLE ADD COLUMN [DEFAULT]. Metadata-only commit; rows
    in pre-existing files read NULL (or `default` via apply_defaults)."""
    snap = table.snapshot()
    if not snap.schema_json:
        raise ValueError("table has no recorded schema to evolve")
    schema = StructType.fromJson(json.loads(snap.schema_json))
    if name in schema.fieldNames():
        raise ValueError(f"column {name!r} already exists")
    new_schema = schema.add(name, dtype, True)
    out = table._commit_snapshot(
        operation="add_column",
        files=snap.files,
        schema_json=new_schema.json(),
        base=snap.version,
        summary={"column": name, "type": dtype},
    )
    if default is not None:
        d = _defaults(table)
        # record WHICH snapshot the column was added at: the default
        # applies only to rows in files that predate it (Iceberg/BigQuery
        # ADD COLUMN DEFAULT backfills existing rows; later rows that
        # explicitly write NULL keep their NULL)
        d[name] = {"default": default, "version": out.version}
        with open(os.path.join(table.root, DEFAULTS_FILE), "w") as f:
            json.dump(d, f)
    _log(
        table,
        {
            "change_type": "ADD_COLUMN",
            "column_name": name,
            "old_type": None,
            "new_type": dtype,
            "default": default,
        },
    )
    return out


def drop_column(table: LakeTable, name: str) -> Snapshot:
    """Projection-style drop: the column disappears from the pinned read
    schema; data files are untouched (SELECT * EXCEPT semantics, P11)."""
    snap = table.snapshot()
    schema = StructType.fromJson(json.loads(snap.schema_json))
    if name not in schema.fieldNames():
        raise ValueError(f"no column {name!r}")
    new_schema = StructType([f for f in schema.fields if f.name != name])
    out = table._commit_snapshot(
        operation="drop_column",
        files=snap.files,
        schema_json=new_schema.json(),
        base=snap.version,
        summary={"column": name},
    )
    _log(
        table,
        {
            "change_type": "DROP_COLUMN",
            "column_name": name,
            "old_type": next(
                (f.dataType.simpleString() for f in schema.fields if f.name == name),
                None,
            ),
            "new_type": None,
        },
    )
    return out


def set_partition_spec(table: LakeTable, new_spec: list[str]) -> Snapshot:
    """Partition-spec evolution (Iceberg `ALTER TABLE ... ADD/DROP
    PARTITION FIELD`, spec-id model): FUTURE writes lay files out under
    the new transforms; existing files keep the layout — and the
    transforms — they were written with (each FileEntry records its
    spec; `plan_files` prunes per file by that spec). Metadata-only:
    no data rewrite at any table size, which is the entire point at
    100 TB — repartitioning by rewrite would be a full-table job.
    """
    from .transforms import parse_spec

    for s in new_spec:
        parse_spec(s)  # validate before touching metadata
    snap = table.snapshot()
    props_path = os.path.join(table.root, "_properties.json")
    try:
        with open(props_path) as f:
            props = json.load(f)
    except FileNotFoundError:
        props = {}
    old_spec = props.get("partition_by", [])
    history = props.setdefault("partition_spec_history", [])
    history.append({"spec": old_spec, "until_version": snap.version})
    props["partition_by"] = list(new_spec)
    out = table._commit_snapshot(
        operation="set_partition_spec",
        files=snap.files,
        schema_json=snap.schema_json,
        base=snap.version,
        summary={"old_spec": old_spec, "new_spec": list(new_spec)},
    )
    # the spec takes force only once a snapshot records it: a lost CAS
    # above leaves the properties (and every later write) untouched
    _write_json_atomic(props_path, props)
    _log(
        table,
        {
            "change_type": "SET_PARTITION_SPEC",
            "column_name": ",".join(new_spec),
            "old_type": ",".join(old_spec),
            "new_type": ",".join(new_spec),
        },
    )
    return out


def apply_defaults(table: LakeTable, df: DataFrame) -> DataFrame:
    """Fill recorded column defaults over NULLs in PRE-evolution files
    (the read-side half of ADD COLUMN DEFAULT).

    Scoping matches BigQuery/Iceberg: only rows from files that existed
    when the column was added get the default — rows appended afterwards
    with an explicit NULL stay NULL. Pre-evolution files come from the
    manifest of the snapshot the ADD COLUMN committed over, identified
    per-row via `_metadata.file_path` (an O(#files) literal list here;
    at very large file counts, broadcast-join a file-list frame instead).
    Falls back to unscoped coalesce when df is derived and no longer
    carries file metadata."""
    for name, rec in _defaults(table).items():
        if name not in df.columns:
            continue
        if isinstance(rec, dict):
            default, added_at = rec["default"], rec.get("version")
        else:  # legacy unscoped record
            default, added_at = rec, None
        if added_at is None:
            df = df.withColumn(name, F.coalesce(F.col(name), F.lit(default)))
            continue
        # the add_column commit is metadata-only, so its own manifest
        # lists exactly the pre-evolution files
        pre = table.snapshot(added_at).files
        pre_paths = [os.path.join(table.root, f.path) for f in pre]
        try:
            norm = F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")
            df = df.withColumn(
                name,
                F.when(
                    F.col(name).isNull() & norm.isin(pre_paths), F.lit(default)
                ).otherwise(F.col(name)),
            )
        except Exception:
            # derived frame without file metadata — documented divergence:
            # fall back to coalescing every NULL
            df = df.withColumn(name, F.coalesce(F.col(name), F.lit(default)))
    return df


def widen_column(
    table: LakeTable,
    name: str,
    new_type: str = "decimal(38,18)",
    warehouse=None,
    view_name: str | None = None,
) -> Snapshot:
    """Safe type-widening migration (reference PRD.md:1214-1229, the
    "Evolution 7" flow): since a column's type can't change in place,

    1. ADD COLUMN `<name>_precise <new_type>` (metadata-only commit),
    2. backfill `<name>_precise = CAST(<name> AS <new_type>)` where
       NULL (file-targeted copy-on-write UPDATE — at scale this touches
       each file once, no full-table rewrite beyond the data it owns),
    3. CREATE OR REPLACE VIEW `<table>_precise` as
       `SELECT * EXCEPT(<name>), <name>_precise AS <name>` when a
       Warehouse is supplied — readers switch atomically,
    4. log a MODIFY_COLUMN evolution entry (audit parity with
       schema_evolution_log, create_iceberg_tables.sql:108-123).

    Returns the backfill snapshot.
    """
    from . import dml  # local import: dml ← table only, no cycle

    wide = f"{name}_precise"
    snap = table.snapshot()
    schema = StructType.fromJson(json.loads(snap.schema_json))
    if name not in schema.fieldNames():
        raise ValueError(f"no column {name!r} to widen")
    old_type = next(
        f.dataType.simpleString() for f in schema.fields if f.name == name
    )
    add_column(table, wide, new_type)
    out = dml.update(
        table,
        {wide: F.col(name).cast(new_type)},
        F.col(wide).isNull(),
    )
    if warehouse is not None:
        tbl = os.path.basename(table.root)
        keep = [c for c in schema.fieldNames() if c != name]
        cols = ", ".join([*keep, f"{wide} AS {name}"])
        warehouse.create_view(
            view_name or f"{tbl}_precise", f"SELECT {cols} FROM {tbl}"
        )
    _log(
        table,
        {
            "change_type": "MODIFY_COLUMN",
            "column_name": name,
            "old_type": old_type,
            "new_type": new_type,
        },
    )
    return out


def evolution_log_df(table: LakeTable):
    """The schema_evolution_log audit table
    (sql/create_iceberg_tables.sql:108-123)."""
    path = os.path.join(table.root, EVOLUTION_LOG)
    rows = []
    if os.path.exists(path):
        with open(path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    return table.spark.createDataFrame(
        [
            (
                r["change_type"],
                r["column_name"],
                r.get("old_type"),
                r.get("new_type"),
                r["applied_at_ms"],
            )
            for r in rows
        ],
        "change_type string, column_name string, old_type string, "
        "new_type string, applied_at_ms long",
    )
