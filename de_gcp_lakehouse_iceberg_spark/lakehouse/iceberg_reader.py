"""Read an Apache Iceberg v2 table from its SPEC files alone —
table-metadata JSON → Avro manifest list → Avro manifests → parquet
data + position-delete files.

This is the consumer half of `iceberg_export.py`: it never touches
this engine's own manifests, so `export → read_iceberg == scan()` is
a true independent round-trip through the public format (the
strongest binary-compat proof available in a sandbox with no Iceberg
runtime jar). Because the Avro codec handles the `deflate` blocks
real writers emit, the same path can read externally-written Iceberg
metadata layouts too.

Scope (documented, not silently elided):
- format-version 2, parquet data files, copy-on-write plus POSITION
  deletes (content=1 delete manifests). Equality deletes and v3
  features are rejected loudly.
- format-version 1 READS (r14): the still-dominant deployed format.
  Per the spec's v1→v2 upgrade rules, v1 manifests carry no sequence
  numbers (all files read as seq 0) and no delete content; the legacy
  single-`schema` metadata layout and snapshots embedding a
  `manifests` path list (pre-manifest-list writers) are both handled.
  Writes stay v2-only.
- Schema comes from the metadata's current/snapshot schema via
  `iceberg_schema_to_spark`; files are read with that schema so
  add-column evolution reads as NULL for pre-evolution files
  (the spec's default when no `initial-default` is present).
- Position deletes apply Iceberg-style: a delete row kills the data
  row at (file_path, pos) in files whose data sequence number is
  LOWER than the delete's — expressed as one equi-join with a
  sequence-number filter, broadcast when the delete set is small.

Reference parity anchor: the reference's tables are
`table_format = 'ICEBERG'` (sql/create_iceberg_tables.sql:27-28);
readers interoperating through the open format is the entire point
of that choice.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import avro
from .iceberg_export import iceberg_schema_to_spark, norm_file_path
from .table import local_path

ADDED, EXISTING, DELETED = 1, 0, 2
DATA, POSITION_DELETES, EQUALITY_DELETES = 0, 1, 2


def load_metadata(path: str) -> dict:
    """Load table metadata from a `v*.metadata.json` path or a table
    directory (picks the highest version under `<dir>/iceberg/`,
    honoring `version-hint.text` when present — the spec's
    file-system catalog convention)."""
    if os.path.isdir(path):
        meta_dir = (
            os.path.join(path, "iceberg")
            if os.path.isdir(os.path.join(path, "iceberg"))
            else path
        )
        hint = os.path.join(meta_dir, "version-hint.text")
        if os.path.exists(hint):
            v = open(hint).read().strip()
            path = os.path.join(meta_dir, f"v{v}.metadata.json")
        else:
            cands = [
                f
                for f in os.listdir(meta_dir)
                if f.startswith("v") and f.endswith(".metadata.json")
            ]
            if not cands:
                raise FileNotFoundError(
                    f"no v*.metadata.json under {meta_dir}"
                )
            path = os.path.join(
                meta_dir,
                max(cands, key=lambda f: int(f[1:].split(".")[0])),
            )
    with open(path) as f:
        meta = json.load(f)
    if meta.get("format-version") not in (1, 2):
        raise ValueError(
            f"only format-version 1 and 2 are supported, got "
            f"{meta.get('format-version')!r}"
        )
    return meta


def _manifest_entries(
    manifest_list_path: str,
    format_version: int = 2,
    inline_manifests: list[str] | None = None,
) -> tuple[list[dict], list[dict]]:
    """Manifest list → (data entries, position-delete entries), each
    entry annotated with its data sequence number (inherited from the
    manifest when the entry's is null, per the spec's sequence-number
    inheritance rule).

    ``format_version`` 1 relaxes the v2 invariants the way the spec's
    v1→v2 upgrade rules do: v1 manifests carry NO sequence_number
    field at all (every v1 data file reads as sequence number 0) and
    no delete content, so a null seq on an EXISTING entry is the
    format, not corruption. ``inline_manifests`` serves v1 snapshots
    that embed a `manifests` path list instead of a `manifest-list`
    file (the pre-manifest-list layout early Java writers produced)."""
    if inline_manifests is not None:
        manifests: list[dict] = [
            {"manifest_path": p} for p in inline_manifests
        ]
    else:
        _, _, manifests = avro.read_ocf(local_path(manifest_list_path))
    data_entries: list[dict] = []
    delete_entries: list[dict] = []
    for mf in manifests:
        _, _, entries = avro.read_ocf(local_path(mf["manifest_path"]))
        for e in entries:
            if e.get("status") == DELETED:
                continue
            seq = e.get("sequence_number")
            if seq is None:
                # spec: sequence-number inheritance applies ONLY to
                # ADDED entries (they inherit the manifest's sequence
                # number); EXISTING entries must carry their original
                # explicit sequence number — a null there is corrupt
                # metadata, and guessing the manifest's seq could
                # mis-scope delete application (r11 ADVICE). In v1
                # there are no sequence numbers anywhere: the spec's
                # upgrade rule assigns 0 to all v1 files.
                if format_version < 2:
                    seq = 0
                elif e.get("status") != ADDED:
                    raise ValueError(
                        "EXISTING manifest entry with null "
                        f"sequence_number in {mf['manifest_path']!r} — "
                        "the spec inherits sequence numbers only for "
                        "ADDED entries"
                    )
                else:
                    seq = mf.get("sequence_number", 0)
            content = e["data_file"].get("content", 0)
            rec = {
                "path": local_path(e["data_file"]["file_path"]),
                "seq": seq,
                "format": e["data_file"].get("file_format", "PARQUET"),
                "rows": e["data_file"].get("record_count"),
            }
            if content == DATA and mf.get("content", 0) == 0:
                data_entries.append(rec)
            elif content == POSITION_DELETES:
                delete_entries.append(rec)
            elif content == EQUALITY_DELETES:
                raise NotImplementedError(
                    "equality-delete files are not supported by this "
                    "reader (this engine exports position deletes)"
                )
    return data_entries, delete_entries


# Broadcast the position-delete set only while its manifest-declared
# row count stays under this bound. (file_path, pos) rows are ~100
# bytes with typical absolute paths, so 100k rows ≈ 10 MB — Spark's
# default autoBroadcastJoinThreshold. Above it the anti-join runs
# unhinted and AQE picks the strategy (a MOR backlog's delete set
# scales with deleted ROWS, not file count — r11 ADVICE, medium).
BROADCAST_DELETE_ROWS = 100_000


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Reconstruct an Iceberg v2 table as a DataFrame from its spec
    files alone. `path` is a metadata JSON file or table directory;
    `snapshot_id` time-travels to any snapshot in the metadata."""
    meta = load_metadata(path)
    snap_id = (
        snapshot_id
        if snapshot_id is not None
        else meta.get("current-snapshot-id")
    )
    snap = next(
        (s for s in meta["snapshots"] if s["snapshot-id"] == snap_id),
        None,
    )
    if snap is None:
        raise ValueError(f"snapshot {snap_id!r} not in metadata")
    fv = meta["format-version"]
    if "schemas" in meta:
        schemas = {sc["schema-id"]: sc for sc in meta["schemas"]}
        schema_id = snap.get("schema-id", meta.get("current-schema-id"))
    else:
        # v1 legacy single-`schema` layout (the `schemas` list only
        # became required in v2); its schema-id defaults to 0
        legacy = meta["schema"]
        schema_id = legacy.get("schema-id", 0)
        schemas = {schema_id: legacy}
    spark_schema = iceberg_schema_to_spark(schemas[schema_id])

    # v1 snapshots may embed a `manifests` path list instead of
    # writing a manifest-list file
    if "manifest-list" in snap:
        data_entries, delete_entries = _manifest_entries(
            snap["manifest-list"], format_version=fv
        )
    elif fv < 2 and "manifests" in snap:
        data_entries, delete_entries = _manifest_entries(
            "", format_version=fv, inline_manifests=snap["manifests"]
        )
    else:
        raise ValueError(
            f"snapshot {snap_id} carries neither manifest-list nor "
            "manifests"
        )
    if not data_entries:
        return spark.createDataFrame([], spark_schema)
    bad = {e["format"] for e in data_entries + delete_entries} - {
        "PARQUET"
    }
    if bad:
        raise NotImplementedError(f"non-parquet file formats: {bad}")

    reader = spark.read.schema(spark_schema)
    data = reader.parquet(*[e["path"] for e in data_entries])
    if not delete_entries:
        return data

    # Iceberg position-delete application (spec scan planning): a
    # delete file applies to data files whose data sequence number is
    # <= the delete's — equality included, because real writers (e.g.
    # streaming upserts) commit data and its position deletes in ONE
    # snapshot at the same sequence number. File→seq is O(manifest)
    # metadata — always broadcast; the DELETE rows scale with deleted
    # data, so they broadcast only while the manifests' record_count
    # total stays under BROADCAST_DELETE_ROWS. The path key uses the
    # SAME normalization the exporter writes delete contents with
    # (`norm_file_path`); an unmatched file_seq row falls back to
    # seq -1 (apply every delete) rather than NULL-propagating the
    # comparison into silently keeping deleted rows — file paths are
    # unique, so over-application is impossible, under-application
    # was the hazard.
    data = data.select(
        "*",
        norm_file_path(F.col("_metadata.file_path")).alias("_ice_fp"),
        F.col("_metadata.row_index").alias("_ice_pos"),
    )
    file_seq = spark.createDataFrame(
        [(e["path"], e["seq"]) for e in data_entries],
        "_ice_fp string, _ice_fseq long",
    )
    data = data.join(F.broadcast(file_seq), "_ice_fp", "left")
    deletes = None
    for e in delete_entries:
        d = spark.read.parquet(e["path"]).select(
            F.col("file_path").alias("_ice_fp"),
            F.col("pos").alias("_ice_pos"),
            F.lit(e["seq"]).alias("_ice_dseq"),
        )
        deletes = d if deletes is None else deletes.unionByName(d)
    delete_rows = sum(
        e["rows"] for e in delete_entries if e["rows"] is not None
    )
    counts_known = all(e["rows"] is not None for e in delete_entries)
    deletes = deletes.alias("r")
    if counts_known and delete_rows <= BROADCAST_DELETE_ROWS:
        deletes = F.broadcast(deletes)
    survivors = data.alias("l").join(
        deletes,
        on=(
            (F.col("l._ice_fp") == F.col("r._ice_fp"))
            & (F.col("l._ice_pos") == F.col("r._ice_pos"))
            & (
                F.col("r._ice_dseq")
                >= F.coalesce(F.col("l._ice_fseq"), F.lit(-1))
            )
        ),
        how="left_anti",
    )
    return survivors.select(*[f.name for f in spark_schema.fields])


def snapshot_ids(path: str) -> list[int]:
    """All snapshot ids in the table metadata (time-travel surface)."""
    return [s["snapshot-id"] for s in load_metadata(path)["snapshots"]]
