"""Join-driven file skipping — the runtime-filter / semi-join pushdown
the reference gets from BigQuery for free (PRD.md:829-844 star joins;
PRD.md:127 FR-008 predicate pushdown), re-expressed at the manifest
layer: harvest the join keys from the (already filtered) dimension
side, then prune FACT FILES whose stats + blooms + partition
transforms prove none of those keys can be present — all before Spark
plans the scan.

At 100 TB this is the difference between "scan the fact table and let
the join drop 99.9%" and "never read the files that cannot match": the
dimension side of a selective star join typically yields 10²-10⁵ keys
(bounded by `max_keys` — harvesting is a driver-side collect and MUST
stay metadata-scale), while the fact side is the 100 TB. A per-file
bloom probe of 10⁴ keys is ~10⁵ integer ops per file — microseconds
against the seconds saved per pruned file.

The exact row-level filter (`col IN keys`) is still applied to the
surviving files by `LakeTable.scan`, so false-positive files cost I/O,
never correctness.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from .table import LakeTable, _normalize_where, _plan_row_groups

DEFAULT_MAX_KEYS = 100_000


def harvest_keys(
    dim: DataFrame, key_col: str, max_keys: int = DEFAULT_MAX_KEYS
) -> list[Any]:
    """Collect the DISTINCT join keys of a dimension-side query —
    bounded: raises if the key set exceeds `max_keys` (an unbounded
    harvest would mean the "dimension" is fact-sized and a shuffled
    join, not a runtime filter, is the right plan). NULL keys are
    dropped (they cannot equi-join)."""
    rows = (
        dim.select(key_col)
        .filter(dim[key_col].isNotNull())
        .distinct()
        .limit(max_keys + 1)
        .collect()
    )
    if len(rows) > max_keys:
        raise ValueError(
            f"dimension side yields more than max_keys={max_keys} distinct "
            f"{key_col!r} keys — use a plain join instead of a runtime filter"
        )
    return sorted(r[0] for r in rows)


def scan_with_join_filter(
    fact: LakeTable,
    fact_col: str,
    dim: DataFrame,
    dim_col: str | None = None,
    max_keys: int = DEFAULT_MAX_KEYS,
) -> tuple[DataFrame, dict[str, int]]:
    """Plan + read the fact table under a dimension-driven key filter.

    Returns (df, info): `df` is the fact rows whose `fact_col` is in
    the harvested key set, read from ONLY the files that survive
    stats/bloom/partition pruning per key; `info` reports
    {files_total, files_planned, n_keys} so callers (and the q91
    pruning proof) can assert the skip actually happened."""
    keys = harvest_keys(dim, dim_col or fact_col, max_keys)
    # sorted ONCE: planning and row-group refinement share the key set
    where = _normalize_where([(fact_col, "in", keys)])
    snap, planned = fact.plan_files(where=where)
    # Row-group refinement: surviving files whose manifest entries
    # carry per-row-group stats are narrowed to the groups the key set
    # can actually touch (the `in` op binary-searches each group's
    # [min,max] — same decision as file level, finer floor on bytes
    # read). Delete-free snapshots only: the MOR read path owns files
    # under pending deletes.
    plans, rg = _plan_row_groups([] if snap.deletes else planned, where)
    if rg["rowgroups_read"] < rg["rowgroups_total"]:
        df = fact._read_planned_row_groups(snap, plans)
    else:
        df = fact._read_files(snap, [f.path for f in planned])
    return fact._apply_exact_where(df, where), {
        "files_total": len(snap.files),
        "files_planned": len(planned),
        "n_keys": len(keys),
        **rg,
    }
