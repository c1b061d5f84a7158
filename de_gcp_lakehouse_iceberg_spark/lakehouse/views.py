"""View layer for a LakeTable warehouse — logical views (D7:
CREATE [OR REPLACE] VIEW, e.g. the taxi_trips_v1 compat projection
sql/create_iceberg_tables.sql:146-167 and daily_zone_stats :170-184)
and materialized views with scheduled refresh (D8: PRD.md:882-902's
60-minute-refresh MV → an idempotently refreshed lakehouse table,
since Spark has no MV primitive — SURVEY.md §7.3 item 7).

View definitions are SQL text stored in `_views.json` at the warehouse
root; resolution registers every base table as a temp view and runs the
SQL through Catalyst — views compose and optimize like any other query.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .table import LakeTable

VIEWS_FILE = "_views.json"


class Warehouse:
    """A directory of LakeTables + named view definitions."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        os.makedirs(self.root, exist_ok=True)

    # -- tables --------------------------------------------------------
    def table_root(self, name: str) -> str:
        return os.path.join(self.root, name)

    def create_table(self, name: str, **kwargs) -> LakeTable:
        return LakeTable.create(self.spark, self.table_root(name), **kwargs)

    def table(self, name: str) -> LakeTable:
        return LakeTable.load(self.spark, self.table_root(name))

    def table_or_create(self, name: str, **kwargs) -> LakeTable:
        """The table `name`, created with `kwargs` if it does not exist."""
        if name in self.table_names():
            return self.table(name)
        return self.create_table(name, **kwargs)

    def table_names(self) -> list[str]:
        out = []
        for d in sorted(os.listdir(self.root)):
            if os.path.isdir(os.path.join(self.root, d, "_manifests")):
                out.append(d)
        return out

    # -- logical views (D7) --------------------------------------------
    def _views(self) -> dict[str, dict[str, Any]]:
        try:
            with open(os.path.join(self.root, VIEWS_FILE)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def create_view(self, name: str, sql: str, replace: bool = True) -> None:
        views = self._views()
        if name in views and not replace:
            raise ValueError(f"view {name!r} exists (use replace=True)")
        views[name] = {"sql": sql, "updated_ms": int(time.time() * 1000)}
        with open(os.path.join(self.root, VIEWS_FILE), "w") as f:
            json.dump(views, f, indent=2)

    def view_names(self) -> list[str]:
        return sorted(self._views())

    def _register_bases(self) -> None:
        for t in self.table_names():
            try:
                self.table(t).scan().createOrReplaceTempView(t)
            except ValueError:
                pass  # empty table with no schema yet (e.g. a fresh MV)

    def query_view(self, name: str) -> DataFrame:
        views = self._views()
        if name not in views:
            raise KeyError(f"no view {name!r}")
        self._register_bases()
        # register other views first so views can reference views
        for other, spec in views.items():
            if other != name:
                try:
                    self.spark.sql(spec["sql"]).createOrReplaceTempView(other)
                except Exception:
                    pass  # view over a not-yet-existing base — skip
        return self.spark.sql(views[name]["sql"])

    def sql(self, query: str) -> DataFrame:
        """Ad-hoc SQL over every table and view in the warehouse."""
        self._register_bases()
        for name, spec in self._views().items():
            try:
                self.spark.sql(spec["sql"]).createOrReplaceTempView(name)
            except Exception:
                pass
        return self.spark.sql(query)

    # -- materialized views (D8) ---------------------------------------
    def create_materialized_view(
        self,
        name: str,
        sql: str,
        refresh_minutes: float = 60.0,
        base_table: str | None = None,
        partition_col: str | None = None,
    ) -> LakeTable:
        """MV = view definition + a backing table refreshed idempotently.

        With `base_table` + `partition_col` declared (and the base
        partitioned by that column), refreshes become INCREMENTAL: the
        manifest diff between the base version recorded at last refresh
        and its current version names exactly the partitions whose data
        changed, and only those MV partitions are recomputed/replaced —
        at 100 TB a 1-partition source append rewrites 1 MV partition,
        not the world. The contract is the standard MV one: every output
        row must derive only from base rows of a single `partition_col`
        value (i.e. the SQL groups by / preserves the partition column).
        Without the declaration, refresh is a full overwrite."""
        self.create_view(f"_mv_def_{name}", sql)
        views = self._views()
        views[f"_mv_def_{name}"]["refresh_minutes"] = refresh_minutes
        if base_table is not None:
            views[f"_mv_def_{name}"]["base_table"] = base_table
            views[f"_mv_def_{name}"]["partition_col"] = partition_col
        with open(os.path.join(self.root, VIEWS_FILE), "w") as f:
            json.dump(views, f, indent=2)
        self.create_table(
            name, partition_by=[partition_col] if partition_col else None
        )
        self.refresh_materialized_view(name)
        return self.table(name)

    def refresh_materialized_view(self, name: str) -> None:
        spec = self._views()[f"_mv_def_{name}"]
        base_name = spec.get("base_table")
        pcol = spec.get("partition_col")
        mv = self.table(name)
        # one MV snapshot plans the refresh and is its expected base: a
        # concurrent refresh of the same partitions makes it conflict
        mv_snap = mv.snapshot()
        last_src = mv_snap.summary.get("source_version")
        base = self.table(base_name) if base_name else None
        incremental_ok = (
            base is not None
            and pcol is not None
            and pcol in base.partition_by
            and last_src is not None
        )
        if not incremental_ok:
            df = self.query_view(f"_mv_def_{name}")
            summary = (
                {"source_version": base.current_version()} if base else None
            )
            self.table(name).overwrite(df, summary=summary)
            return

        cur_v = base.current_version()
        prev_files = {f.path: f for f in base.snapshot(last_src).files}
        cur_files = {f.path: f for f in base.snapshot(cur_v).files}
        changed = {
            f.partition.get(pcol)
            for p, f in {**prev_files, **cur_files}.items()
            if (p in prev_files) != (p in cur_files)
        }
        if not changed:
            # touch: record freshness (and the source version) without
            # rewriting any data
            mv._commit_snapshot(
                operation="mv_refresh_noop",
                files=mv_snap.files,
                schema_json=mv_snap.schema_json,
                base=mv_snap.version,
                summary={"source_version": cur_v},
            )
            return
        # recompute the view over ONLY the changed base partitions:
        # manifest-level partition pruning before Spark plans the scan
        self._register_bases()
        base.scan(
            partition_filter=lambda p: p.get(pcol) in changed
        ).createOrReplaceTempView(base_name)
        partial = self.spark.sql(spec["sql"])
        stale = [
            f.path
            for f in mv_snap.files
            if f.partition.get(pcol) in {str(c) for c in changed}
        ]
        mv.replace_files(
            stale,
            partial,
            operation="mv_incremental_refresh",
            summary={
                "source_version": cur_v,
                "refreshed_partitions": sorted(str(c) for c in changed),
            },
            expected_base=mv_snap.version,
        )

    def stale_materialized_views(self, now_ms: int | None = None) -> list[str]:
        """MVs whose backing table is older than their refresh interval —
        the scheduler (maintenance CLI) refreshes exactly these."""
        now_ms = now_ms or int(time.time() * 1000)
        out = []
        for vname, spec in self._views().items():
            if not vname.startswith("_mv_def_"):
                continue
            name = vname[len("_mv_def_") :]
            interval_ms = spec.get("refresh_minutes", 60.0) * 60_000
            last = self.table(name).snapshot().timestamp_ms
            if now_ms - last >= interval_ms:
                out.append(name)
        return sorted(out)
