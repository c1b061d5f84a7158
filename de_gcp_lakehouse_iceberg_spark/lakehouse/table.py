"""Snapshot-versioned parquet tables — the Iceberg capability surface
re-expressed for a Spark-only deployment.

The reference stores facts in BigQuery-managed Iceberg tables (ACID
appends `main.py:297-303`, time travel `verify_loaded_data.sql:108-110`,
changelog `PRD.md:956-972`, maintenance procedures
`src/maintenance/iceberg_maintenance.py`). No Iceberg runtime jar is
available here, so this module provides the same table semantics with
a deliberately thin metadata layer:

- data files: immutable parquet written by Spark (partition-dir layout,
  snappy), all heavy lifting stays in DataFrames/Catalyst;
- metadata: one JSON manifest per snapshot listing member files plus
  per-file row counts/bytes/partition values — the driver-side work is
  O(#files), never O(rows);
- commits: write-new-files → CAS-create the version's manifest
  (hard-link, fails if another writer claimed the version — this link
  IS the commit point) → refresh the pointer file (os.replace, a fast
  HINT that `current_version` walks forward past, so a writer crashing
  between link and hint-swap neither hides its committed version nor
  blocks the slot, and a stale hint write can never regress the head).
  Multi-writer optimistic concurrency: the loser of a race gets
  `CommitConflict`. `append`, `publish` and copy-on-write
  `replace_files` land on the new head through one loop and one rule
  (`LakeTable._land`): additions commute (Iceberg's fast-append
  retry), while a rewrite whose removed files or schema changed
  surfaces a permanent conflict to its caller, which planned against
  specific files. On a shared object store the CAS-create plays
  exactly the role of Iceberg's catalog commit.

Scale posture: a snapshot read hands Spark an explicit file list with
`basePath`, so partition columns survive and Catalyst still does column
pruning + row-group predicate pushdown per file. Partition pruning
happens one level earlier: `scan(partition_filter=...)` selects files
by manifest partition values before Spark ever plans the job, mirroring
Iceberg manifest pruning (PRD.md:3499-3510 asserts <1 MB scanned for a
single-day query — same mechanism).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

class CommitConflict(RuntimeError):
    """Another writer committed between planning and commit. Commits
    through `LakeTable._land` rebase and retry automatically; a
    `permanent` conflict (the landing rule failed) must be re-planned
    by its caller against the new head."""


MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
POINTER = "_current"
REFS = "_refs.json"
FILE_COL = "__file_path"  # hidden provenance column (scan(with_file_path=True))


def local_path(uri: str) -> str:
    """A `file:` URI (as Spark reports file paths) → its POSIX path;
    any other string unchanged."""
    if uri.startswith("file:"):
        uri = uri[len("file:"):]
        while uri.startswith("//"):
            uri = uri[1:]
    return uri


_NULL_FLAGS = ("nullable", "containsNull", "valueContainsNull")


def _nullable(node):
    """A parsed schema JSON with every field, element and map value
    nullable: what Spark's parquet reader makes of a schema it is given."""
    if isinstance(node, list):
        return [_nullable(v) for v in node]
    if isinstance(node, dict):
        return {k: k in _NULL_FLAGS or _nullable(v) for k, v in node.items()}
    return node


def _stat_value(v):
    """Parquet-footer min/max → JSON-safe comparable (numbers/strings
    verbatim, datetimes → epoch micros). None ⇒ unusable for pruning."""
    import datetime as _dt

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        # Exact integer micros: float total_seconds() loses ULPs for
        # ~1% of microsecond values, which can round a file bound
        # differently from a predicate bound and prune a file that
        # contains matching rows. timedelta floordiv is exact.
        epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return (v - epoch) // _dt.timedelta(microseconds=1)
    return None


def _field_types(schema_json: str) -> dict[str, Any]:
    return {f["name"]: f["type"] for f in json.loads(schema_json)["fields"]}


def _write_json_atomic(path: str, obj) -> None:
    """Replace `path` with `obj` as JSON; readers never see a partial
    file."""
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


def _footer_rg_stats(meta) -> list[dict[str, list]]:
    """Per-ROW-GROUP [min, max] stats — the granularity below the
    manifest's per-file stats (Iceberg carries the same idea as split
    offsets + column sizes; Parquet footers give it for free). One dict
    per row group, values as `_stat_value` makes them; a column
    missing from a group's dict carries no stats there (⇒ that group is
    never pruned on it). Size: O(row-groups × prunable columns) per
    file — the same order as the footer itself, fine for manifests.
    The ONE walk over a footer: file-level stats fold these
    (`_fold_rg_stats`)."""
    out: list[dict[str, list]] = []
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        acc: dict[str, list] = {}
        for ci in range(meta.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name.startswith("_p_"):
                continue
            st = col.statistics
            try:
                if st is None or not st.has_min_max:
                    continue
                lo, hi = _stat_value(st.min), _stat_value(st.max)
            except Exception:  # noqa: BLE001 — pyarrow raises
                # ArrowNotImplementedError for types it cannot extract
                # (e.g. DECIMAL); those columns simply carry no stats
                continue
            if lo is not None and hi is not None:
                acc[name] = [lo, hi]
        out.append(acc)
    return out


def _fold_rg_stats(rg_stats: list[dict[str, list]]) -> dict[str, list]:
    """File-level [min, max] per column — the exact metadata Iceberg
    manifests carry — folded from the row-group stats: min of mins,
    max of maxes. A column missing from ANY group's stats is omitted
    (partial stats ⇒ never pruned on at file level)."""
    if not rg_stats:
        return {}
    out: dict[str, list] = {}
    for name in rg_stats[0]:
        if all(name in g for g in rg_stats):
            out[name] = [
                min(g[name][0] for g in rg_stats),
                max(g[name][1] for g in rg_stats),
            ]
    return out


def _map_footers(paths: list[str], fn: Callable) -> list:
    """`fn(path, footer)` for every parquet file, each footer read
    fresh from storage (a read validates the file's magic bytes and
    metadata). Footer reads are per-file independent and I/O-bound
    (pyarrow releases the GIL on the read) — a partitioned load
    landing hundreds of files per commit fans out over threads instead
    of paying a serial driver loop."""
    import pyarrow.parquet as pq

    def _one(p: str):
        return fn(p, pq.ParquetFile(p).metadata)

    if len(paths) > 4:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            return list(ex.map(_one, paths))
    return [_one(p) for p in paths]


_PRUNE_OPS = {"=", "==", "<", "<=", ">", ">=", "in"}


class _SortedKeys:
    """Preprocessed key set for the `in` prune op: keys sorted by their
    stat-comparable value once per PLAN, so each file intersects its
    [min, max] stats range with the key list by binary search —
    O(log keys + keys-in-range) per file instead of O(keys). At the
    runtime-filter ceiling (10⁵ keys × 10⁶ files) that's the difference
    between ~10⁷ and ~10¹¹ plan-time ops."""

    __slots__ = ("keys", "svs", "skeys", "unsortable", "sortable")

    def __init__(self, keys):
        self.keys = list(keys)
        pairs = []
        self.unsortable = []
        for k in self.keys:
            sv = _stat_value(k)
            # NaN is unorderable but does NOT raise on comparison — it
            # silently breaks sort order (every comparison False), so a
            # key list containing NaN would leave svs unsorted while
            # sortable=True and bisect would then MISS in-range keys,
            # wrongly pruning files. Route NaN to the always-candidate
            # unsortable bucket instead (same contract as None).
            if sv is None or sv != sv:
                self.unsortable.append(k)
            else:
                pairs.append((sv, k))
        try:
            pairs.sort(key=lambda p: p[0])
            self.sortable = all(
                pairs[i][0] <= pairs[i + 1][0] for i in range(len(pairs) - 1)
            )  # belt-and-braces: verify monotonicity post-sort
        except TypeError:  # mixed incomparable types — keep O(keys)
            self.sortable = False
        self.svs = [p[0] for p in pairs]
        self.skeys = [p[1] for p in pairs]

    def candidates(self, stats: list | None):
        """Keys that could fall inside a file's [lo, hi] stats range.
        No stats / unsortable keys ⇒ every key is a candidate (the
        conservative contract pruning everywhere else follows)."""
        if not self.sortable or stats is None or not self.svs:
            return self.keys
        lo, hi = stats
        if (type(self.svs[0]) is str) != (type(lo) is str):
            return self.keys  # incomparable stat domain — keep all
        if lo != lo or hi != hi:  # NaN file stats (parquet min/max is
            return self.keys  # unreliable with NaNs) — keep every key
        import bisect

        i = bisect.bisect_left(self.svs, lo)
        j = bisect.bisect_right(self.svs, hi)
        cand = self.skeys[i:j]
        return cand + self.unsortable if self.unsortable else cand


def _normalize_where(where):
    """Preprocess a predicate list for planning: `in` key lists become
    `_SortedKeys` (idempotent — already-normalized entries pass
    through)."""
    if not where:
        return where
    out = []
    for col, op, value in where:
        if op == "in" and not isinstance(value, _SortedKeys):
            value = _SortedKeys(value)
        out.append((col, op, value))
    return out


def _stats_may_match(stats: dict, col: str, op: str, value) -> bool:
    """Conservative [min,max]-stats pruning for ONE conjunct: False
    ONLY when the stats PROVE no matching row (NULLs never satisfy
    these comparisons, so bounds over non-null values are sufficient).
    Shared by file-level (`_file_survives`) and row-group-level
    (`_rg_survives`) skipping — same decision, different granularity."""
    s = stats.get(col)
    if s is None:
        return True
    lo, hi = s
    v = _stat_value(value)
    if v is None or (type(v) is str) != (type(lo) is str):
        return True  # incomparable — keep the file
    if lo != lo or hi != hi or v != v:
        # NaN bound or value: Spark orders NaN above every double (and
        # NaN = NaN holds), while parquet writers record it as a plain
        # min/max — [1.0, NaN] for 1.0, 3.0, NaN — on which Python's
        # comparisons are all False. Nothing is proven; keep it.
        return True
    if op in ("=", "=="):
        return lo <= v <= hi
    if op == "<":
        return lo < v
    if op == "<=":
        return lo <= v
    if op == ">":
        return hi > v
    if op == ">=":
        return hi >= v
    return True


def _conjunction_survives(
    stats: dict,
    where: list[tuple[str, str, Any]] | None,
    one: Callable[[str, str, Any], bool],
) -> bool:
    """The conjunction loop of every pruning granularity: a container
    (file or row group) with `stats` survives iff each conjunct passes
    `one(col, op, value)`. An `in` conjunct — the join-driven runtime
    filter (FR-008 pushdown analog), whose value is a bounded key SET
    harvested from a dimension-side query — passes iff SOME key passes
    the full `one(col, "=", key)` check, so a key passing stats in one
    file and bloom in another never keeps a third. The sorted-key range
    intersection narrows the probes to keys inside the container's
    [min, max] FIRST (binary search), so per-key work is
    O(keys-in-range), not O(keys)."""
    for col, op, value in where or []:
        if op not in _PRUNE_OPS:
            raise ValueError(f"unsupported prune op {op!r}")
        if op == "in":
            sk = value if isinstance(value, _SortedKeys) else _SortedKeys(value)
            if not any(
                one(col, "=", k) for k in sk.candidates(stats.get(col))
            ):
                return False
        elif not one(col, op, value):
            return False
    return True


def _rg_survives(
    stats: dict, where: list[tuple[str, str, Any]] | None
) -> bool:
    """Row-group survival under a conjunction — stats-only (bloom and
    partition-transform pruning are file-level and already applied by
    the time row groups are considered)."""
    return _conjunction_survives(
        stats, where, lambda c, op, v: _stats_may_match(stats, c, op, v)
    )


def _file_survives(
    entry: "FileEntry",
    where: list[tuple[str, str, Any]] | None,
    current_spec: list[str],
) -> bool:
    """The complete per-file pruning decision — column-stats skipping,
    bloom equality probes, and hidden-partition transform mapping under
    the file's OWN spec (Iceberg spec_id semantics). Pure function of
    one manifest entry; `LakeTable.plan_files` applies it to each."""
    from .bloom import bloom_may_contain
    from .transforms import parse_spec

    def _one(col: str, op: str, value) -> bool:
        """Survival under a single scalar conjunct."""
        if not _stats_may_match(entry.stats, col, op, value):
            return False
        # bloom skipping: equality probes on high-cardinality columns
        # where [min,max] can't prune (lakehouse/bloom.py)
        if op in ("=", "==") and not bloom_may_contain(entry, col, value):
            return False
        # hidden-partition pruning: map the RAW-column predicate
        # through every transform of that column (days/bucket/…) —
        # a file written before a partition-spec evolution is pruned
        # by the transforms it was actually laid out under, never the
        # current ones (bucket(8,..)→bucket(16,..) would misprune).
        spec = entry.spec if entry.spec is not None else current_spec
        for t in (parse_spec(s) for s in spec):
            if t.source != col or t.name not in entry.partition:
                continue
            if not t.prune(op, value, entry.partition[t.name]):
                return False
        return True

    return _conjunction_survives(entry.stats, where, _one)


def _plan_row_groups(
    files: list["FileEntry"], where: list[tuple[str, str, Any]] | None
) -> tuple[list[tuple["FileEntry", list[int] | None]], dict[str, int]]:
    """Per-file row-group planning under `where`: each planned file
    keeps only the groups whose manifest stats may hold a matching row.
    Returns ([(entry, surviving_rg_indices | None)], {rowgroups_total,
    rowgroups_read}); `None` indices ⇒ pre-row-group manifest entry
    (read the whole file, counted as one group); a file with no
    surviving group is dropped."""
    preds = _normalize_where(where)
    plans: list[tuple[FileEntry, list[int] | None]] = []
    total = read = 0
    for f in files:
        if f.rg_stats is None:
            plans.append((f, None))
            total += 1
            read += 1
            continue
        idx = [i for i, st in enumerate(f.rg_stats) if _rg_survives(st, preds)]
        total += len(f.rg_stats)
        read += len(idx)
        if idx:
            plans.append((f, idx))
    return plans, {"rowgroups_total": total, "rowgroups_read": read}


@dataclass
class FileEntry:
    path: str  # relative to table root
    rows: int
    bytes: int
    partition: dict[str, str] = field(default_factory=dict)
    # per-column [min, max] harvested from parquet footers at write time
    # (Iceberg-style file stats). Values are JSON-safe: numbers and
    # strings verbatim; timestamps as epoch micros. Missing column ⇒
    # stats unavailable ⇒ never pruned on it.
    stats: dict[str, list] = field(default_factory=dict)
    # partition spec the file was written under (Iceberg's per-file
    # spec_id): after partition-spec evolution, each file is pruned by
    # ITS OWN transforms, never the table's current ones. None ⇒
    # pre-evolution manifest; falls back to the current spec.
    spec: list[str] | None = None
    # commit sequence the file entered the table at (Iceberg's data
    # sequence number): merge-on-read deletes apply only to files with
    # seq < the delete's seq. 0 ⇒ pre-MOR manifest.
    seq: int = 0
    # per-ROW-GROUP stats (list aligned with the file's row groups),
    # harvested at write time; None ⇒ pre-row-group manifest, the whole
    # file is read when it survives file-level pruning.
    rg_stats: list[dict[str, list]] | None = None

    def to_json(self) -> dict[str, Any]:
        d = {
            "path": self.path,
            "rows": self.rows,
            "bytes": self.bytes,
            "partition": self.partition,
            "stats": self.stats,
        }
        if self.spec is not None:
            d["spec"] = self.spec
        if self.seq:
            d["seq"] = self.seq
        if self.rg_stats is not None:
            d["rg_stats"] = self.rg_stats
        return d

    @staticmethod
    def from_json(d: dict[str, Any]) -> "FileEntry":
        return FileEntry(
            d["path"],
            d["rows"],
            d["bytes"],
            d.get("partition", {}),
            d.get("stats", {}),
            d.get("spec"),
            d.get("seq", 0),
            d.get("rg_stats"),
        )


@dataclass
class Snapshot:
    version: int
    timestamp_ms: int
    operation: str
    files: list[FileEntry]
    schema_json: str
    summary: dict[str, Any] = field(default_factory=dict)
    # merge-on-read delete entries: [{"predicate": sql, "seq": n}] —
    # each applies to files whose seq < its seq (Iceberg v2 equality
    # deletes; see dml.delete_mor)
    deletes: list[dict] = field(default_factory=list)

    @property
    def total_rows(self) -> int:
        return sum(f.rows for f in self.files)

    @property
    def total_bytes(self) -> int:
        return sum(f.bytes for f in self.files)


def _snapshot_header(s: Snapshot) -> dict[str, Any]:
    """A commit's history row without its file list — what
    `history_df` shows and the compacted history log keeps."""
    return {
        "version": s.version,
        "timestamp_ms": s.timestamp_ms,
        "operation": s.operation,
        "file_count": len(s.files),
        "total_rows": s.total_rows,
        "summary": s.summary,
    }


class LakeTable:
    """A snapshot-versioned parquet table rooted at a directory."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        committer: "Committer | None" = None,
    ):
        from .committer import Committer, PosixLinkCommitter  # noqa: F401

        self.spark = spark
        self.root = os.path.abspath(root)
        # the storage-side atomic commit primitive — POSIX hard-link
        # CAS by default; object-store deployments plug a
        # conditional-PUT / catalog-CAS implementation (committer.py
        # design note) without touching the OCC machinery here
        self.committer = committer or PosixLinkCommitter()

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        partition_by: list[str] | None = None,
        schema_json: str | None = None,
    ) -> "LakeTable":
        """Create an empty table (DDL D1). `partition_by` names columns
        that must exist in appended DataFrames (generated/derived columns
        like `pickup_date` are materialized by the caller — mirrors the
        reference's PARTITION BY DATE(pickup_datetime), PRD.md:273)."""
        root = os.path.abspath(root)
        os.makedirs(os.path.join(root, MANIFEST_DIR), exist_ok=False)
        os.makedirs(os.path.join(root, DATA_DIR), exist_ok=True)
        t = cls(spark, root)
        props = {"partition_by": partition_by or []}
        with open(os.path.join(root, "_properties.json"), "w") as f:
            json.dump(props, f)
        t._commit_snapshot(
            operation="create", files=[], schema_json=schema_json or "", base=None
        )
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        if t.current_version() is None:
            raise FileNotFoundError(f"no lakehouse table at {root}")
        return t

    @property
    def partition_by(self) -> list[str]:
        try:
            with open(os.path.join(self.root, "_properties.json")) as f:
                return json.load(f).get("partition_by", [])
        except FileNotFoundError:
            return []

    @property
    def partition_transforms(self) -> list:
        """Parsed partition spec (hidden-partitioning transforms —
        identity / days / hours / months / bucket / truncate)."""
        from .transforms import parse_spec

        return [parse_spec(s) for s in self.partition_by]

    # ------------------------------------------------------------------
    # snapshot bookkeeping
    # ------------------------------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, MANIFEST_DIR, f"v{version:08d}.json")

    def _manifest_versions(self) -> list[int]:
        """Versions whose manifest is on disk, ascending."""
        return sorted(
            int(fn[1:-5])
            for fn in os.listdir(os.path.join(self.root, MANIFEST_DIR))
            if fn.startswith("v") and fn.endswith(".json")
        )

    def _set_hint(self, version: int) -> None:
        self.committer.set_hint(os.path.join(self.root, POINTER), str(version))

    def current_version(self) -> int | None:
        """Head version. The CAS-created manifest is the COMMIT POINT;
        the pointer file is a fast hint. Walking forward past the hint
        through consecutively-existing manifests makes the head (a)
        immune to a writer crashing between manifest link and hint
        swap — the claimed version slot would otherwise block every
        later commit — and (b) monotonic even if a slow writer's
        stale hint write lands after a faster writer's (the walk can
        only move forward). The walk is 1 existence probe in steady
        state (the hint is current); when it had to walk a gap, it
        REPAIRS the hint so the cost is amortized O(1) even for a
        pointer left 1,000 commits stale by a crashed writer (every
        commit also rewrites the hint, so gaps only outlive crashes)."""
        raw = self.committer.read_hint(os.path.join(self.root, POINTER))
        hint = int(raw) if raw is not None else None
        scanned = False
        if hint is not None and not os.path.exists(self._manifest_path(hint)):
            scanned = True
            # the hinted manifest is GONE — a stale hint write landing
            # after expire_snapshots deleted that version (or manual
            # damage). Walking forward from a hole would return an
            # expired head; fall back to a directory scan (rare path).
            try:
                versions = self._manifest_versions()
            except FileNotFoundError:
                versions = []
            hint = max(versions) if versions else None
        v = hint
        nxt = 0 if v is None else v + 1
        while os.path.exists(self._manifest_path(nxt)):
            v = nxt
            nxt += 1
        if v is not None and (hint is None or scanned or v - hint >= 2):
            # repair on a ≥2 walk gap, or UNCONDITIONALLY after the
            # fallback directory scan: the scan reassigns the local
            # hint to max(versions), so the gap test alone would never
            # fire and the broken on-disk hint (pointing at an expired
            # manifest) would force a full listdir on EVERY read until
            # the next commit (r10 ADVICE). A racing writer's newer
            # hint may land after ours — that only re-opens a
            # ≤1-version walk; the walk is monotonic so a hint can
            # never point PAST the head it walked to
            try:
                self._set_hint(v)
            except OSError:
                pass  # hint repair is best-effort; reads stay correct
        return v

    def snapshot(self, version: int | None = None) -> Snapshot:
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError("table has no snapshots")
        with open(self._manifest_path(version)) as f:
            d = json.load(f)
        return Snapshot(
            version=d["version"],
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            files=[FileEntry.from_json(x) for x in d["files"]],
            schema_json=d.get("schema_json", ""),
            summary=d.get("summary", {}),
            deletes=d.get("deletes", []),
        )

    def snapshots(self) -> list[Snapshot]:
        return [self.snapshot(v) for v in self._manifest_versions()]

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Time travel: latest snapshot committed at or before ts
        (FOR SYSTEM_TIME AS OF, verify_loaded_data.sql:108-110)."""
        best = None
        for s in self.snapshots():
            if s.timestamp_ms <= timestamp_ms and (
                best is None or s.version > best.version
            ):
                best = s
        if best is None:
            raise ValueError(f"no snapshot at or before {timestamp_ms}")
        return best

    # ------------------------------------------------------------------
    # named refs (tags) + rollback — Iceberg snapshot-ref surface
    # ------------------------------------------------------------------
    def _read_refs(self) -> dict[str, Any]:
        try:
            with open(os.path.join(self.root, REFS)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"tags": {}}

    def _write_refs(self, refs: dict[str, Any]) -> None:
        _write_json_atomic(os.path.join(self.root, REFS), refs)

    def tags(self) -> dict[str, int]:
        """Named immutable snapshot refs (Iceberg tags,
        `ALTER TABLE ... CREATE TAG`). A tagged snapshot — and every
        data file it references — survives `expire_snapshots` until
        the tag is dropped."""
        return dict(self._read_refs().get("tags", {}))

    def set_tag(self, name: str, version: int | None = None) -> int:
        version = self.snapshot(version).version  # must exist
        refs = self._read_refs()
        refs.setdefault("tags", {})[name] = version
        self._write_refs(refs)
        return version

    def delete_tag(self, name: str) -> None:
        refs = self._read_refs()
        refs.get("tags", {}).pop(name, None)
        self._write_refs(refs)

    def resolve_tag(self, name: str) -> int:
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no tag {name!r} on table {self.root}")
        return tags[name]

    def rollback_to(self, version: int) -> Snapshot:
        """Revert the table to an earlier snapshot's file set WITHOUT
        rewriting history (Iceberg `rollback_to_snapshot`): commits a
        NEW snapshot whose files/schema equal the target's, so the bad
        commits stay time-travelable and the changelog shows the
        revert. O(#files) manifest work, zero data movement."""
        target = self.snapshot(version)
        return self._commit_snapshot(
            operation="rollback",
            files=target.files,
            schema_json=target.schema_json,
            base=self.current_version(),
            summary={"rolled_back_to": version},
            deletes=target.deletes,
        )

    # ------------------------------------------------------------------
    # write-audit-publish (WAP) — staged commits
    # ------------------------------------------------------------------
    def _staged_path(self, wap_id: str) -> str:
        return os.path.join(self.root, MANIFEST_DIR, f"staged-{wap_id}.json")

    def staged_ids(self) -> list[str]:
        mdir = os.path.join(self.root, MANIFEST_DIR)
        return sorted(
            fn[len("staged-"):-len(".json")]
            for fn in os.listdir(mdir)
            if fn.startswith("staged-") and fn.endswith(".json")
        )

    def expire_staged(
        self, older_than_ms: int, dry_run: bool = False
    ) -> list[str]:
        """Drop WAP stage manifests older than the cutoff — stages a
        crashed writer abandoned before audit/publish. Live stages are
        protected from `remove_orphans` indefinitely, so without this
        an interrupted ingest pins its files forever; after the stage
        manifest is dropped the staged data files become ordinary
        orphans the next `remove_orphans` pass collects (Iceberg's
        remove_orphan_files treats aborted commits the same way)."""
        dropped: list[str] = []
        for wap_id in self.staged_ids():
            p = self._staged_path(wap_id)
            if os.path.getmtime(p) * 1000 <= older_than_ms:
                dropped.append(wap_id)
                if not dry_run:
                    os.remove(p)
        return dropped

    def stage_append(self, df: DataFrame) -> str:
        """WAP step 1 (write): materialize `df` as data files plus a
        STAGED manifest, without moving the table pointer — readers
        never see the rows. Returns the wap_id for audit/publish.
        Staged files are protected from `remove_orphans` until the
        stage is published or discarded."""
        base, df, schema_json = self._align_to_head(df)
        new_files = self._write_files(df)
        wap_id = uuid.uuid4().hex[:12]
        staged = {
            "wap_id": wap_id,
            "base": base,
            "timestamp_ms": int(time.time() * 1000),
            "files": [f.to_json() for f in new_files],
            "schema_json": schema_json,
        }
        _write_json_atomic(self._staged_path(wap_id), staged)
        return wap_id

    def _read_staged(self, wap_id: str) -> dict[str, Any]:
        with open(self._staged_path(wap_id)) as f:
            return json.load(f)

    def scan_staged(self, wap_id: str, include_base: bool = True) -> DataFrame:
        """WAP step 2 (audit): read the table AS IF the stage were
        published (base snapshot + staged files), or the staged rows
        alone (`include_base=False`) — without any commit."""
        d = self._read_staged(wap_id)
        staged_files = [FileEntry.from_json(x) for x in d["files"]]
        base_snap = self.snapshot(d["base"])
        # The audit view must show what publish WILL produce: the base's
        # merge-on-read delete entries still apply (a staged append must
        # not resurrect logically deleted rows), while the staged files
        # themselves — raw entries carry seq=0 — are stamped ABOVE every
        # delete seq so the anti-filter can never touch the new rows.
        stage_seq = max(
            [d["base"] + 1] + [x["seq"] + 1 for x in base_snap.deletes]
        )
        for f in staged_files:
            f.seq = stage_seq
        files = (list(base_snap.files) if include_base else []) + staged_files
        snap = Snapshot(
            version=d["base"],
            timestamp_ms=d["timestamp_ms"],
            operation="staged",
            files=files,
            schema_json=d["schema_json"] or base_snap.schema_json,
            deletes=base_snap.deletes if include_base else [],
        )
        return self._read_files(snap, [f.path for f in files])

    def audit_staged_rows(self, wap_id: str) -> int:
        """WAP audit helper (r15): re-open every STAGED data file fresh
        from storage and sum the row counts from their parquet footers —
        a post-write physical verification (each footer read validates
        the file's magic bytes and metadata on disk, AFTER the write
        finished) without paying a cluster job to re-scan the rows.
        Row-count-wise identical to
        `scan_staged(wap_id, include_base=False).count()`; audits that
        gate on data QUALITY (not counts) still use `scan_staged`."""
        d = self._read_staged(wap_id)
        paths = [os.path.join(self.root, x["path"]) for x in d["files"]]
        return sum(_map_footers(paths, lambda _p, meta: meta.num_rows))

    def publish(
        self, wap_id: str, extra_summary: dict[str, Any] | None = None
    ) -> Snapshot:
        """WAP step 3 (publish): commit the staged files onto the
        CURRENT head. File additions commute, so a stage planned
        against an older base lands on a moved head (Iceberg
        cherry-pick semantics for appends) iff every column it wrote
        still exists at the head with the same type (`_land`);
        otherwise ValueError. `extra_summary` rides the same atomic
        commit (e.g. the streaming dedup ingest's exactly-once
        watermark)."""
        d = self._read_staged(wap_id)
        snap = self._land(
            "publish",
            [FileEntry.from_json(x) for x in d["files"]],
            d["base"],
            d["schema_json"],
            {"wap_id": wap_id, "staged_base": d["base"],
             **(extra_summary or {})},
        )
        os.remove(self._staged_path(wap_id))
        return snap

    def discard_staged(self, wap_id: str) -> None:
        """Abandon a stage: drop its manifest; the data files become
        orphans for `remove_orphans` to collect."""
        os.remove(self._staged_path(wap_id))

    def _commit_snapshot(
        self,
        operation: str,
        files: list[FileEntry],
        schema_json: str,
        base: int | None,
        summary: dict[str, Any] | None = None,
        deletes: list[dict] | None = None,
    ) -> Snapshot:
        cur = self.current_version()
        if base is not None and cur != base:
            raise CommitConflict(
                f"concurrent modification: expected base v{base}, found v{cur}"
            )
        version = 0 if cur is None else cur + 1
        parent = self.snapshot(cur) if cur is not None else None
        # merge-on-read delete entries: inherit unless the caller sets
        # them explicitly (delete_mor adds one; rollback restores the
        # target's). Auto-GC: an entry applying to NO live file (every
        # file's seq >= its seq — e.g. after a full compaction rewrote
        # everything) is dropped.
        if deletes is None:
            deletes = parent.deletes if parent is not None else []
        deletes = [
            d for d in deletes if any(f.seq < d["seq"] for f in files)
        ]
        # carry streaming high-watermarks forward through EVERY commit
        # (maintenance, DML, …) so the exactly-once check in
        # streaming/pipeline.py stays O(1): read the latest snapshot
        # only, never scan the history. Incoming summary values win
        # (that's the committing micro-batch advancing its own mark).
        summary = dict(summary or {})
        if parent is not None:
            prev_wm = parent.summary.get("stream_watermarks")
            if prev_wm:
                merged = dict(prev_wm)
                merged.update(summary.get("stream_watermarks", {}))
                summary["stream_watermarks"] = merged
        snap = {
            "version": version,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "files": [f.to_json() for f in files],
            "schema_json": schema_json,
            "summary": summary or {},
            "deletes": deletes,
        }
        mpath = self._manifest_path(version)
        # CAS: the committer's atomic create fails if another writer
        # already claimed this version number — the loser must re-plan
        # against the new head instead of clobbering the winner's
        # manifest (a plain os.replace here silently LOST the
        # loser-overwritten commit under a two-writer race). The
        # primitive is pluggable (committer.py): POSIX hard-link here,
        # conditional PUT / catalog CAS on object stores.
        if not self.committer.cas_create(mpath, json.dumps(snap)):
            raise CommitConflict(
                f"concurrent modification: v{version} was committed by "
                "another writer while this commit was being prepared"
            )
        # pointer-hint swap — a crash before this line leaves the
        # commit durable (the manifest IS the commit point); readers
        # forward-walk past the stale hint and repair it
        self._set_hint(version)
        return self.snapshot(version)

    # ------------------------------------------------------------------
    # write paths
    # ------------------------------------------------------------------
    def _write_files(
        self,
        df: DataFrame,
        subdir: str | None = None,
        writer_options: dict[str, Any] | None = None,
        extra_partition_by: list[str] | None = None,
    ) -> list[FileEntry]:
        """Write a DataFrame as immutable parquet files under data/ and
        return their manifest entries. Uses a unique staging prefix so
        files from aborted writes are never visible (they become orphans
        for `remove_orphans`)."""
        stage = subdir or uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.root, DATA_DIR, stage)
        # The engine OWNS its parquet timestamp convention: Spark's
        # default INT96 physical type carries NO min/max footer stats,
        # which silently blinds column-stats file skipping on every
        # time column when the caller hands us a vanilla session (the
        # driver does). TIMESTAMP_MICROS keeps the stats the manifest
        # harvests. Runtime-settable conf; no-op under tuned sessions.
        self.spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        transforms = [
            t for t in self.partition_transforms if t.source in df.columns
        ]
        # Partition layout uses shadow `_p_<name>` columns holding the
        # TRANSFORMED value (hidden partitioning: `days(ts)` writes
        # `_p_ts_day=19723/...` while `ts` itself stays untouched inside
        # the data files); reads then skip Spark partition inference
        # entirely (recursiveFileLookup) — staging dirs would otherwise
        # make directory structures "conflict".
        writer_df = df
        for t in transforms:
            writer_df = writer_df.withColumn(
                f"_p_{t.name}", t.expr().cast("string")
            )
        writer = writer_df.write.mode("error")
        for k, v in (writer_options or {}).items():
            # e.g. parquet.block.size to control row-group granularity
            # (passed into the write job's hadoop conf by Spark)
            writer = writer.option(k, v)
        part_cols = [f"_p_{t.name}" for t in transforms] + list(
            extra_partition_by or []
        )
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(out_dir)
        entries = self._scan_written(out_dir)
        # stamp the spec the files were laid out under (per-file spec_id:
        # after spec evolution, pruning uses each file's OWN transforms)
        spec = [t.spec for t in transforms]
        for e in entries:
            e.spec = spec
        return entries

    def _stamp_seq(self, entries: list[FileEntry]) -> list[FileEntry]:
        """Data sequence number: new files carry the version of the
        commit that adds them — merge-on-read deletes apply only to
        files with a SMALLER seq (rows added after a delete are never
        retro-deleted)."""
        cur = self.current_version()
        nxt = 0 if cur is None else cur + 1
        for e in entries:
            e.seq = nxt
        return entries

    def _scan_written(self, out_dir: str) -> list[FileEntry]:
        """Manifest entries of the parquet files a write left under
        `out_dir`. Spark writes a file even for an empty task; such a
        0-row file could never be pruned, so it is deleted instead."""
        paths: list[str] = []
        for dirpath, _dirnames, filenames in os.walk(out_dir):
            for fn in filenames:
                if fn.endswith(".parquet"):
                    paths.append(os.path.join(dirpath, fn))

        def _one(full: str, meta) -> FileEntry:
            # partition values from dir components k=v
            part: dict[str, str] = {}
            comps = os.path.relpath(os.path.dirname(full), out_dir)
            for comp in comps.split(os.sep):
                if "=" in comp:
                    k, v = comp.split("=", 1)
                    part[k.removeprefix("_p_")] = v
            rg_stats = _footer_rg_stats(meta)
            return FileEntry(
                path=os.path.relpath(full, self.root),
                rows=meta.num_rows,
                bytes=os.path.getsize(full),
                partition=part,
                stats=_fold_rg_stats(rg_stats),
                rg_stats=rg_stats,
            )

        entries = _map_footers(paths, _one)
        for e in entries:
            if not e.rows:
                os.remove(os.path.join(self.root, e.path))
        return sorted((e for e in entries if e.rows), key=lambda e: e.path)

    def _align_to_schema(self, df: DataFrame, schema_json: str) -> DataFrame:
        """Write-side schema enforcement: appended rows are cast to the
        table schema (missing nullable columns become NULL; unknown
        columns are an error). Prevents type drift across files — the
        read path pins ONE schema for every file in a snapshot."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(schema_json))
        known = set(schema.fieldNames())
        extra = [c for c in df.columns if c not in known]
        if extra:
            raise ValueError(
                f"columns {extra} not in table schema — evolve the schema "
                "first (lakehouse.evolution.add_column)"
            )
        cols = []
        for f in schema.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            elif f.nullable:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                raise ValueError(f"required column {f.name!r} missing")
        return df.select(*cols)

    def _rebase_retry(
        self, attempt: Callable[[], "Snapshot"], max_retries: int = 20
    ) -> Snapshot:
        """Optimistic-concurrency retry loop for commutative commits:
        `attempt` re-plans against the CURRENT head each call, so a
        CommitConflict loser simply rebases and tries again. The
        backoff also covers the CAS-won-but-pointer-not-yet-swapped
        window of a racing winner."""
        for i in range(max_retries):
            try:
                return attempt()
            except CommitConflict as exc:
                # validation conflicts (a concurrent commit touched the
                # same files/schema) are PERMANENT for this plan — the
                # head never moves back — surface immediately instead
                # of burning the retry budget
                if getattr(exc, "permanent", False):
                    raise
                if i == max_retries - 1:
                    raise
                time.sleep(0.005 * (i + 1))
        raise AssertionError("unreachable")

    def _align_to_head(
        self, df: DataFrame
    ) -> tuple[int | None, DataFrame, str]:
        """Write prologue of every append form: (head version, `df`
        aligned to the head's schema, that schema). The first append
        defines the table schema."""
        base = self.current_version()
        schema_json = self.snapshot(base).schema_json
        if schema_json:
            return base, self._align_to_schema(df, schema_json), schema_json
        return base, df, df.schema.json()

    def _land(
        self,
        operation: str,
        written: list[FileEntry],
        base: int,
        schema_json: str,
        summary: dict[str, Any] | None = None,
        remove: list[str] | None = None,
    ) -> Snapshot:
        """The one landing loop of every commit that may rebase: drop
        `remove` from the CURRENT head and add `written`, the files of
        a commit planned at v`base` against `schema_json`, retrying a
        lost CAS. A head that moved since `base` takes the commit by
        one rule (Iceberg spec, "Commit Conflicts") that depends only
        on the commit's inputs:

        - adding files only: every column written still exists at the
          head with the same type (a column added since reads NULL in
          the new files); otherwise ValueError;
        - removing files: also every removed file still live at the
          head and the schema unchanged (`add_column`'s default covers
          only files that predate it, so a rewrite landing after it
          would turn defaults into NULLs); otherwise a permanent
          CommitConflict. Merge-on-read deletes added since `base` that
          apply to a removed file are reapplied to the written rows.

        The new files land at the end of the file list."""
        removed = set(remove or ())
        summary = dict(summary or {})

        def _attempt() -> Snapshot:
            nonlocal written
            head = self.snapshot(self.current_version())
            if head.version != base:
                reapply = self._validate_landing(
                    base, head, schema_json, removed
                )
                if reapply:
                    written = self._reapply_mor_deletes(written, reapply)
                    # the rebase re-filtered the replacement rows, so
                    # removed-minus-added no longer equals the recorded
                    # DML text's rows — changelog must fall back to
                    # the exact exceptAll diff for this commit
                    summary.pop("predicate", None)
                    summary.pop("assignments", None)
            new_files = self._stamp_seq(list(written))
            return self._commit_snapshot(
                operation=operation,
                files=[f for f in head.files if f.path not in removed]
                + new_files,
                schema_json=head.schema_json or schema_json,
                base=head.version,
                summary={
                    **summary,
                    "removed_files": len(removed),
                    "added_files": len(new_files),
                    "added_rows": sum(f.rows for f in new_files),
                },
            )

        return self._rebase_retry(_attempt)

    def _validate_landing(
        self,
        base: int,
        head: "Snapshot",
        schema_json: str,
        removed: set[str],
    ) -> list[str]:
        """`_land`'s rule for a head that moved since v`base`. Returns
        the merge-on-read delete predicates to reapply to the written
        rows before committing (empty = land as-is)."""
        if not removed:
            if head.schema_json and head.schema_json != schema_json:
                have = _field_types(head.schema_json)
                bad = [
                    n
                    for n, t in _field_types(schema_json).items()
                    if have.get(n) != t
                ]
                if bad:
                    raise ValueError(
                        f"columns {bad} no longer match the table schema "
                        f"at v{head.version} (files written at v{base} "
                        "would read wrong) — re-run against the new schema"
                    )
            return []

        def _permanent(msg: str) -> CommitConflict:
            exc = CommitConflict(f"concurrent modification: {msg}")
            exc.permanent = True  # retrying cannot help — head won't rewind
            return exc

        if head.schema_json != schema_json:
            raise _permanent(
                f"schema changed between planned v{base} and head "
                f"v{head.version} — re-plan against the new schema"
            )
        gone = removed - {f.path for f in head.files}
        if gone:
            raise _permanent(
                "files replaced by this commit were rewritten or removed "
                f"since v{base}: "
                f"{sorted(gone)[:3]}{'…' if len(gone) > 3 else ''}"
            )
        # MOR delete entries added since the planned base that apply to
        # a file we are rewriting (entry applies to files with
        # seq < entry seq)
        base_del = {
            json.dumps(d, sort_keys=True) for d in self.snapshot(base).deletes
        }
        removed_seqs = [f.seq for f in head.files if f.path in removed]
        reapply: list[str] = []
        for d in head.deletes:
            if json.dumps(d, sort_keys=True) in base_del or not any(
                s < d["seq"] for s in removed_seqs
            ):
                continue  # predates the plan or nothing we rewrite
            if "predicate" not in d:
                # a delete entry we cannot re-express as a filter
                # (future delete-file formats) stays a hard stop
                raise _permanent(
                    f"a merge-on-read delete landed since v{base}, "
                    "applies to a file this commit rewrites, and carries "
                    "no reapplicable predicate — re-plan"
                )
            reapply.append(d["predicate"])
        return reapply

    def append(
        self,
        df: DataFrame,
        operation: str = "append",
        summary: dict[str, Any] | None = None,
        writer_options: dict[str, Any] | None = None,
    ) -> Snapshot:
        """ACID append (S10/S11: WriteToBigQuery WRITE_APPEND →
        snapshot-isolated file append). The first append defines the
        table schema; later appends are aligned/cast to it. `summary`
        entries are merged into the snapshot summary (used by the
        streaming sink to advance its exactly-once watermark atomically
        with the data commit). File additions commute, so losing a
        commit race rebases the already-written files onto the new head
        and retries (Iceberg's fast-append semantics) — both of two
        concurrent appends survive, in some serial order. A head that
        moved since the write takes the files iff every column they
        carry still exists there with the same type (`_land`; a column
        added meanwhile reads NULL in them); otherwise ValueError."""
        base, df, aligned_schema = self._align_to_head(df)
        written = self._write_files(df, writer_options=writer_options)
        return self._land(operation, written, base, aligned_schema, summary)

    def append_clustered(
        self,
        df: DataFrame,
        cluster_expr,
        n_clusters: int,
        operation: str = "append",
        summary: dict[str, Any] | None = None,
    ) -> Snapshot:
        """ACID append laid out as ONE data file per distinct value of
        `cluster_expr` — the single-job, single-commit form of the
        sequential `for band: append(filter(band == b).coalesce(1))`
        load loop (same per-file row sets, hence identical footer
        stats/blooms; one snapshot instead of N). This is the
        clustered-write posture Iceberg spells
        `write.distribution-mode=hash`: rows are hash-routed by the
        cluster value so each cluster lands wholly inside one task,
        and the writer's partition-dir split emits exactly one file
        per cluster (AQE may coalesce tasks freely — the per-dir split
        keeps the file-per-cluster contract either way).

        `cluster_expr` (SQL string or Column over the TABLE columns)
        is layout-only: it rides a shadow `_p__cluster` column that
        never enters the data files. `n_clusters` sizes the shuffle."""
        from pyspark.sql import functions as F

        base, df, aligned_schema = self._align_to_head(df)
        cl = (
            F.expr(cluster_expr)
            if isinstance(cluster_expr, str)
            else cluster_expr
        )
        work = df.withColumn("_p__cluster", cl.cast("string")).repartition(
            n_clusters, "_p__cluster"
        )
        written = self._write_files(
            work, extra_partition_by=["_p__cluster"]
        )
        # the shadow cluster key is LAYOUT-ONLY: strip it from the
        # manifest so clustered-form entries are field-identical to the
        # sequential per-band loop's (r14 VERDICT #7 — nothing may ever
        # prune on a non-spec partition key)
        for e in written:
            e.partition.pop("_cluster", None)
        return self._land(operation, written, base, aligned_schema, summary)

    def overwrite(
        self,
        df: DataFrame,
        operation: str = "overwrite",
        summary: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Full-table replace (INSERT OVERWRITE / CTAS refresh, D8/D9).
        Replaces whatever the head is, so a lost commit race retries
        against the new head (last-writer-wins by definition here)."""
        written = self._write_files(df)

        def _attempt() -> Snapshot:
            return self._commit_snapshot(
                operation=operation,
                files=self._stamp_seq(written),
                schema_json=df.schema.json(),
                base=self.current_version(),
                summary=summary,
            )

        return self._rebase_retry(_attempt)

    def replace_files(
        self,
        remove: list[str],
        add_df: DataFrame | None,
        operation: str,
        summary: dict[str, Any] | None = None,
        *,
        expected_base: int,
        writer_options: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Copy-on-write commit primitive: drop `remove` (relative paths)
        from the live file set, add files written from `add_df`. Used by
        DML (delete/update/merge), maintenance (compaction/sort) and
        rollup/MV refresh.

        `expected_base` pins the snapshot the mutation was PLANNED
        against; `add_df` is written against its schema. If another
        commit lands in between, the commit rebases onto the new head
        only when that is provably safe (`_land`; Iceberg's
        snapshot-isolation validation for overwrites): every removed
        file is still LIVE at the head (else the two mutations touched
        the same rows) and the schema is unchanged (the new files were
        written against the planned one); otherwise a permanent
        CommitConflict tells the caller to re-plan. A merge-on-read
        delete added since the planned base that applies to a removed
        file is REAPPLIED to the already-written output, serializing
        this commit after the delete. With nothing to remove, the
        commit only adds files and follows `append`'s rule. Files
        appended concurrently are kept (additions commute), so two
        MERGEs over DISJOINT file sets both commit; as in Iceberg, rows
        landed by a concurrent append are not re-matched against this
        DML's predicate."""
        schema_json = self.snapshot(expected_base).schema_json
        if add_df is not None:
            if schema_json:
                add_df = self._align_to_schema(add_df, schema_json)
            else:
                schema_json = add_df.schema.json()
        # write ONCE, outside the retry loop — a rebase re-commits the
        # manifest, never re-runs the write job
        written = (
            self._write_files(add_df, writer_options=writer_options)
            if add_df is not None
            else []
        )
        return self._land(
            operation, written, expected_base, schema_json, summary, remove
        )

    def _reapply_mor_deletes(
        self, written: list["FileEntry"], predicates: list[str]
    ) -> list["FileEntry"]:
        """Rebase reapply (Iceberg validate-then-reapply): a concurrent
        MOR delete landed on files this commit rewrites; because the
        replacement files get a NEWER sequence number than the delete
        entry, their rows would resurrect at read time. Re-filter the
        already-written replacement rows with every new predicate
        (SQL DELETE semantics: NULL keeps the row) and swap in the
        rewritten files — the superseded originals become orphans for
        `remove_orphans`. Idempotent, so a second rebase round may
        safely reapply an already-applied predicate."""
        if not written:
            return written
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(
            *[os.path.join(self.root, f.path) for f in written]
        )
        for p in predicates:
            df = df.filter(~F.coalesce(F.expr(p), F.lit(False)))
        return self._write_files(df)

    # ------------------------------------------------------------------
    # read paths
    # ------------------------------------------------------------------
    def plan_files(
        self,
        version: int | None = None,
        as_of_ms: int | None = None,
        partition_filter: Callable[[dict[str, str]], bool] | None = None,
        where: list[tuple[str, str, Any]] | None = None,
        tag: str | None = None,
    ) -> tuple[Snapshot, list[FileEntry]]:
        """Manifest-level scan planning: partition pruning plus
        Iceberg-style column-stats file skipping (per-file min/max from
        parquet footers). `where` is a conjunction of
        (column, op, value) with op ∈ {=, <, <=, >, >=}; a file is
        dropped only when its stats PROVE no row can match."""
        if tag is not None:
            snap = self.snapshot(self.resolve_tag(tag))
        elif as_of_ms is not None:
            snap = self.snapshot_as_of(as_of_ms)
        else:
            snap = self.snapshot(version)
        files = snap.files
        if partition_filter is not None:
            files = [f for f in files if partition_filter(f.partition)]
        current_spec = self.partition_by
        where = _normalize_where(where)  # sort `in` key sets ONCE
        files = [
            f for f in files if _file_survives(f, where, current_spec)
        ]
        return snap, files

    def scan(
        self,
        version: int | None = None,
        as_of_ms: int | None = None,
        partition_filter: Callable[[dict[str, str]], bool] | None = None,
        where: list[tuple[str, str, Any]] | None = None,
        tag: str | None = None,
        with_file_path: bool = False,
    ) -> DataFrame:
        """Snapshot-isolated read, optionally time-traveled (S5),
        manifest-partition-pruned, and column-stats file-skipped (§4:
        both prunings happen BEFORE Spark plans the scan — at 100 TB
        the manifest drops files a filter can never match, then parquet
        row-group pruning still applies inside each survivor). `where`
        predicates are ALSO applied exactly to the result, so the
        returned rows are identical with or without stats."""
        snap, files = self.plan_files(
            version, as_of_ms, partition_filter, where, tag=tag
        )
        df = self._read_files(
            snap, [f.path for f in files], with_file_col=with_file_path
        )
        return self._apply_exact_where(df, where)

    def plan_volume(
        self,
        version: int | None = None,
        as_of_ms: int | None = None,
        partition_filter: Callable[[dict[str, str]], bool] | None = None,
        where: list[tuple[str, str, Any]] | None = None,
        tag: str | None = None,
    ) -> dict[str, int]:
        """The scan volume a query over this plan will read, straight
        from the manifest (no filesystem stats, no data touched) — the
        engine's analog of BigQuery's total_bytes_processed estimate.
        Feed it to `metrics.QueryMetrics.record(..., planned=...)` so
        the M8 expensive-query analysis flags by PLANNED bytes
        (iceberg_maintenance.py:183-197's >10 GB rule)."""
        _, files = self.plan_files(
            version, as_of_ms, partition_filter, where, tag=tag
        )
        return {
            "files": len(files),
            "bytes": sum(f.bytes for f in files),
            "rows": sum(f.rows for f in files),
        }

    def plan_row_groups(
        self,
        version: int | None = None,
        where: list[tuple[str, str, Any]] | None = None,
        partition_filter: Callable[[dict[str, str]], bool] | None = None,
    ) -> tuple[Snapshot, list[tuple[FileEntry, list[int] | None]], dict]:
        """Scan planning one level below `plan_files`: for every file
        that survives partition + file-stats + bloom pruning, intersect
        the `where` conjuncts with the manifest's per-ROW-GROUP stats
        and keep only the groups that may hold a matching row. On a
        sort-clustered table (maintenance.rewrite_sorted /
        rewrite_zorder — reference: iceberg_maintenance.py:108-117,
        PRD.md:274,821) a file surviving on its overall [min,max] still
        skips most of its groups for a narrow predicate — the
        granularity the reference's clustering promise implies.

        Returns (snapshot, [(entry, surviving_rg_indices | None)],
        info). `None` indices ⇒ pre-row-group manifest entry: read the
        whole file. `info` carries rowgroups_total / rowgroups_read /
        files_planned / files_total for observability (the q103 proof
        query hash-gates them)."""
        where = _normalize_where(where)  # sort `in` key sets ONCE
        snap, files = self.plan_files(
            version, partition_filter=partition_filter, where=where
        )
        plans, rg = _plan_row_groups(files, where)
        info = {
            "files_total": len(snap.files),
            "files_planned": len(files),
            **rg,
        }
        return snap, plans, info

    def scan_rowgroups(
        self,
        version: int | None = None,
        where: list[tuple[str, str, Any]] | None = None,
        partition_filter: Callable[[dict[str, str]], bool] | None = None,
    ) -> DataFrame:
        """`scan` with row-group-level skipping: surviving files are
        read through an Arrow `mapInPandas` task that opens ONLY the
        planned row groups (pyarrow `read_row_groups`) — the bytes a
        pruned group holds are never fetched. Result rows are identical
        to `scan(where=...)` (exact predicate re-applied). Falls back
        to `scan` when the snapshot carries merge-on-read deletes (the
        MOR anti-join path owns that read).

        Scale: one task per planned file (the file list is the same
        thing Spark's own scan planning materializes); each task does
        footer-free positional reads, so a 1000-executor cluster fans
        the file plan out exactly like a native scan."""
        snap, plans, _info = self.plan_row_groups(
            version, where, partition_filter
        )
        if snap.deletes:
            return self.scan(
                version=version,
                where=where,
                partition_filter=partition_filter,
            )
        df = self._read_planned_row_groups(snap, plans)
        return self._apply_exact_where(df, where)

    def _read_planned_row_groups(
        self,
        snap: Snapshot,
        plans: list[tuple[FileEntry, list[int] | None]],
    ) -> DataFrame:
        """Positional row-group reader for a (file, surviving-groups)
        plan: one Arrow task per planned file opens ONLY the listed
        groups. Callers own MOR-delete handling (this reader sees raw
        file rows) and the exact predicate re-application."""
        from pyspark.sql.types import StructType

        if not snap.schema_json:
            raise ValueError("row-group read needs a recorded schema")
        schema = StructType.fromJson(json.loads(snap.schema_json))
        names = [fld.name for fld in schema.fields]
        rows = [
            (
                os.path.join(self.root, f.path),
                None if idx is None else json.dumps(idx),
            )
            for f, idx in plans
        ]
        if not rows:
            return self.spark.createDataFrame([], schema)
        plan_df = self.spark.createDataFrame(
            rows, "_path string, _rgs string"
        ).repartition(
            min(len(rows), self.spark.sparkContext.defaultParallelism)
        )

        def read_groups(batches):
            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            # nullable float dtypes keep NaN apart from NULL: PySpark
            # masks every NaN of a plain float64 column as NULL on the
            # way back to Arrow
            floats = {
                pa.float64(): pd.Float64Dtype(),
                pa.float32(): pd.Float32Dtype(),
            }.get
            for pdf in batches:
                for path, idx_json in zip(pdf["_path"], pdf["_rgs"]):
                    pf = pq.ParquetFile(path)
                    idx = (
                        list(range(pf.metadata.num_row_groups))
                        if idx_json is None
                        else json.loads(idx_json)
                    )
                    if not idx:
                        continue
                    present = set(pf.schema_arrow.names)
                    cols = [c for c in names if c in present]
                    out = pf.read_row_groups(idx, columns=cols).to_pandas(
                        types_mapper=floats
                    )
                    for c in names:  # additive schema evolution → NULL
                        if c not in out.columns:
                            out[c] = None
                    yield out[names]

        return plan_df.mapInPandas(read_groups, schema=schema)

    def _apply_exact_where(
        self, df: DataFrame, where: list[tuple[str, str, Any]] | None
    ) -> DataFrame:
        """Apply `where` conjuncts exactly to planned rows (pruning is
        conservative; this is what makes the result independent of
        stats). Shared by `scan` and the runtime-filter read path."""
        # accept normalized predicates too (the planner's _SortedKeys)
        where = [
            (c, op, v.keys if isinstance(v, _SortedKeys) else v)
            for c, op, v in (where or [])
        ]
        import datetime as _dt

        def _has_dt(v):
            if isinstance(v, (list, tuple, set)):
                return any(isinstance(x, _dt.datetime) for x in v)
            return isinstance(v, _dt.datetime)

        if any(_has_dt(v) for _, _, v in where):
            # Manifest pruning treats naive datetimes as UTC. Pin the
            # session tz too so literal rendering agrees end-to-end.
            self.spark.conf.set("spark.sql.session.timeZone", "UTC")

        def _utc(v):
            # Naive datetime literals are converted by PySpark with the
            # PROCESS timezone (py4j DatetimeConverter / toInternal use
            # time.mktime), NOT spark.sql.session.timeZone — a naive
            # cut point silently shifts under a non-UTC TZ env. Stamp
            # UTC on naive values so the exact row filter below always
            # means the same instant manifest pruning used.
            if isinstance(v, _dt.datetime) and v.tzinfo is None:
                return v.replace(tzinfo=_dt.timezone.utc)
            return v

        from pyspark.sql import functions as F

        for col, op, raw in where:
            c = F.col(col)
            if op == "in":
                df = df.filter(c.isin([_utc(v) for v in raw]))
                continue
            value = _utc(raw)
            df = df.filter(
                {"=": c == value, "==": c == value, "<": c < value,
                 "<=": c <= value, ">": c > value, ">=": c >= value}[op]
            )
        return df

    def _read_files(
        self,
        snap: Snapshot,
        rel_paths: list[str],
        with_file_col: bool = False,
    ) -> DataFrame:
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        reader = self.spark.read
        if snap.schema_json:
            # pinned schema → additive evolution: old files lacking newly
            # added columns read them as NULL (PRD.md:3421-3473 semantics)
            schema = json.loads(snap.schema_json)
            reader = reader.schema(StructType.fromJson(schema))
            if not rel_paths:
                # one scan schema whether or not the snapshot holds files
                return self.spark.createDataFrame(
                    [], StructType.fromJson(_nullable(schema))
                )
        elif not rel_paths:
            raise ValueError("empty table with no recorded schema")

        def _raw(rels: list[str]) -> DataFrame:
            paths = [os.path.join(self.root, p) for p in rels]
            df = reader.option("recursiveFileLookup", "true").parquet(*paths)
            if with_file_col:
                # the _metadata pseudo-column resolves only directly on
                # a file-source relation — attach it BEFORE any MOR
                # filter/union wraps the scan
                df = df.select(
                    "*", F.col("_metadata.file_path").alias(FILE_COL)
                )
            return df

        if not snap.deletes:
            return _raw(rel_paths)
        # merge-on-read: a delete entry applies to files whose seq is
        # SMALLER than its own. Group the requested files by their
        # applicable predicate set (usually 1-2 groups) and anti-filter
        # each group at read time. EVERY consumer goes through here —
        # scans, CoW rewrites, compaction, changelog — so rewritten
        # files (new seq) can never resurrect logically deleted rows.
        seq_of = {f.path: f.seq for f in snap.files}
        groups: dict[tuple[str, ...], list[str]] = {}
        for p in rel_paths:
            seq = seq_of.get(p, 0)
            key = tuple(
                d["predicate"] for d in snap.deletes if seq < d["seq"]
            )
            groups.setdefault(key, []).append(p)
        out: DataFrame | None = None
        for preds, rels in groups.items():
            df = _raw(rels)
            for pred in preds:
                # NULL-safe anti-filter: rows where the predicate is
                # NULL are NOT deleted (SQL DELETE semantics)
                df = df.filter(~F.coalesce(F.expr(pred), F.lit(False)))
            out = df if out is None else out.unionByName(df)
        return out

    def _meta_df(self, rows: list[tuple], ddl: str) -> DataFrame:
        """A metadata table of driver-side rows, built over Arrow: a
        `createDataFrame` of Python tuples keeps a PythonRDD in its
        lineage, so every statement over it would start Python workers;
        an Arrow table becomes a local relation with the same schema,
        also when `rows` is empty."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        schema = to_arrow_schema(StructType.fromDDL(ddl))
        cols = list(zip(*rows)) or [()] * len(schema)
        return self.spark.createDataFrame(
            pa.Table.from_pydict(dict(zip(schema.names, cols)), schema=schema),
            ddl,
        )

    def files_df(self) -> DataFrame:
        """Metadata table analog of Iceberg `t.files` (S7/S8). The
        partition is rendered with sorted keys, as in `partitions_df`,
        so the two tables join on it."""
        snap = self.snapshot()
        rows = [
            (f.path, f.rows, f.bytes, json.dumps(f.partition, sort_keys=True))
            for f in snap.files
        ]
        return self._meta_df(
            rows, "file_path string, row_count long, size_bytes long, partition string"
        )

    def snapshots_df(self) -> DataFrame:
        rows = [
            (
                s.version,
                s.timestamp_ms,
                s.operation,
                len(s.files),
                s.total_rows,
                s.total_bytes,
            )
            for s in self.snapshots()
        ]
        return self._meta_df(
            rows,
            "version long, timestamp_ms long, operation string, "
            "file_count long, total_rows long, total_bytes long",
        )

    def fast_count(
        self,
        version: int | None = None,
        partition_filter: Callable[[dict[str, str]], bool] | None = None,
    ) -> int | None:
        """COUNT(*) answered from the manifest alone — O(#files) driver
        arithmetic, ZERO data read (the Iceberg metadata-count
        optimization; at 100 TB a full-scan count is a cluster job,
        this is a sum over the snapshot's row counts). Returns None
        when the manifest cannot answer exactly — i.e. pending
        merge-on-read deletes (row counts are physical until
        materialization); callers then fall back to `scan().count()`."""
        snap = self.snapshot(version)
        if snap.deletes:
            return None
        files = snap.files
        if partition_filter is not None:
            files = [f for f in files if partition_filter(f.partition)]
        return sum(f.rows for f in files)

    def refs_df(self) -> DataFrame:
        """Iceberg `t.refs` analog: named refs with their pinned
        snapshot and its commit metadata."""
        rows = []
        for name, version in sorted(self.tags().items()):
            s = self.snapshot(version)
            rows.append((name, "tag", version, s.timestamp_ms, s.operation))
        return self._meta_df(
            rows,
            "name string, type string, version long, "
            "timestamp_ms long, operation string",
        )

    # -- snapshot-log compaction (rewrite_manifests support) -----------
    def _archive_path(self) -> str:
        return os.path.join(self.root, MANIFEST_DIR, "compacted-history.json")

    def archived_history(self) -> list[dict[str, Any]]:
        """Headers of snapshots whose per-version manifests were
        compacted away (version/timestamp/operation/counts/summary —
        no file lists; they are no longer time-travel targets, exactly
        the expire contract)."""
        try:
            with open(self._archive_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return []

    def archive_snapshot_headers(self, versions: list[int]) -> int:
        """Fold the named snapshots' HEADERS into the single compacted
        history log (atomic rewrite) — called by
        maintenance.rewrite_manifests just before those snapshots'
        manifests are expired, so the commit audit trail survives
        metadata compaction."""
        merged = {h["version"]: h for h in self.archived_history()}
        for v in versions:
            merged[v] = _snapshot_header(self.snapshot(v))
        _write_json_atomic(
            self._archive_path(), [merged[v] for v in sorted(merged)]
        )
        return len(versions)

    def history_df(self) -> DataFrame:
        """Iceberg `t.history` analog: the commit log with per-commit
        summary (rows/files added or removed, WAP ids, rollback
        targets) — the audit surface of the snapshot chain. Includes
        commits whose manifests were compacted into the archive log."""
        live = [_snapshot_header(s) for s in self.snapshots()]
        versions = {h["version"] for h in live}
        headers = [
            h for h in self.archived_history() if h["version"] not in versions
        ] + live
        rows = [
            (
                h["version"],
                h["timestamp_ms"],
                h["operation"],
                h["file_count"],
                h["total_rows"],
                json.dumps(h["summary"], sort_keys=True),
            )
            for h in headers
        ]
        return self._meta_df(
            rows,
            "version long, timestamp_ms long, operation string, "
            "file_count long, total_rows long, summary string",
        )

    def partitions_df(self) -> DataFrame:
        """Iceberg `t.partitions` analog — per-partition row/byte/file
        counts for maintenance policy decisions (M6)."""
        snap = self.snapshot()
        agg: dict[str, list[int]] = {}
        for f in snap.files:
            key = json.dumps(f.partition, sort_keys=True)
            cur = agg.setdefault(key, [0, 0, 0])
            cur[0] += f.rows
            cur[1] += f.bytes
            cur[2] += 1
        rows = [(k, v[0], v[1], v[2]) for k, v in sorted(agg.items())]
        return self._meta_df(
            rows, "partition string, row_count long, size_bytes long, file_count long"
        )

    # ------------------------------------------------------------------
    # destructive metadata ops (used by maintenance)
    # ------------------------------------------------------------------
    def _expire_candidates(
        self,
        snaps: list[Snapshot],
        older_than_ms: int | None,
        keep_last: int,
    ) -> list[int]:
        """Versions of the live snapshots `snaps` that
        `expire_snapshots(older_than_ms, keep_last)` will drop — shared
        with maintenance.rewrite_manifests so header archiving covers
        EXACTLY the set about to lose its manifests."""
        cur = self.current_version()
        tagged = set(self.tags().values())
        out = []
        for s in snaps:
            if s.version == cur or s.version > cur - keep_last:
                continue
            if s.version in tagged:
                # tags pin snapshots (and their files) regardless of age
                continue
            if older_than_ms is None or s.timestamp_ms >= older_than_ms:
                continue
            out.append(s.version)
        return out

    def expire_snapshots(
        self, older_than_ms: int | None = None, keep_last: int = 1
    ) -> dict[str, int]:
        """M2: drop old manifests and delete data files no retained
        snapshot references (iceberg_maintenance.py:73-93)."""
        # Refresh the pointer hint to the WALKED head before deleting
        # anything: a stale hint (crashed writer) combined with this
        # pass deleting the manifests between hint+1 and head would
        # otherwise leave readers walking into a hole and resolving an
        # expired version (ADVICE r9). After this line the hint is
        # inside the retained contiguous range by construction.
        head = self.current_version()
        if head is not None:
            self._set_hint(head)
        snaps = self.snapshots()
        drop = set(self._expire_candidates(snaps, older_than_ms, keep_last))
        live_files = {
            f.path for s in snaps if s.version not in drop for f in s.files
        }
        removed_manifests = 0
        removed_files = 0
        for s in snaps:
            if s.version not in drop:
                continue
            for f in s.files:
                if f.path not in live_files:
                    full = os.path.join(self.root, f.path)
                    if os.path.exists(full):
                        os.remove(full)
                        removed_files += 1
                    live_files.add(f.path)  # only count once
            os.remove(self._manifest_path(s.version))
            removed_manifests += 1
        return {
            "expired_snapshots": removed_manifests,
            "deleted_files": removed_files,
        }

    def remove_orphans(self, older_than_ms: int, dry_run: bool = False) -> list[str]:
        """M4: delete data files referenced by NO snapshot and older than
        the cutoff (iceberg_maintenance.py:129-152, incl. dry_run)."""
        referenced = {f.path for s in self.snapshots() for f in s.files}
        # staged-but-unpublished WAP files are NOT orphans
        for wap_id in self.staged_ids():
            referenced.update(
                x["path"] for x in self._read_staged(wap_id)["files"]
            )
        orphans: list[str] = []
        data_root = os.path.join(self.root, DATA_DIR)
        for dirpath, _d, filenames in os.walk(data_root):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if rel in referenced:
                    continue
                if not fn.endswith(".parquet"):
                    # writer sidecars (.crc checksums, _SUCCESS markers):
                    # never data, silently removed on real runs
                    if not dry_run and os.path.getmtime(full) * 1000 <= older_than_ms:
                        os.remove(full)
                    continue
                if os.path.getmtime(full) * 1000 <= older_than_ms:
                    orphans.append(rel)
                    if not dry_run:
                        os.remove(full)
        if not dry_run:
            # clean now-empty staging dirs
            for dirpath, dirnames, filenames in os.walk(data_root, topdown=False):
                if not dirnames and not filenames and dirpath != data_root:
                    shutil.rmtree(dirpath, ignore_errors=True)
        return sorted(orphans)
