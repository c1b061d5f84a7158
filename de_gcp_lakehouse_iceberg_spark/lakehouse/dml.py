"""Row-level DML over LakeTable — copy-on-write, file-targeted.

Reference surface: MERGE (PRD.md:769-779, D3), UPDATE (PRD.md:790-797 /
1089-1106, D4), DELETE (PRD.md:782-787, D5), change-history scan with
_CHANGE_TYPE/_CHANGE_TIMESTAMP pseudo-columns (PRD.md:956-972, S6).

Execution model (scale-first): a mutation never rewrites the table —
it plans with Spark which *files* contain affected rows (via the
`_metadata.file_path` hidden column, pushed predicates prune most files
at the parquet scan), rewrites only those files, and commits the swap
as one snapshot. At 100 TB with daily partitions, a date-scoped DELETE
touches only that day's files; everything else is metadata.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import plan_bytes, small_statement
from .table import FILE_COL as _FILE
from .table import LakeTable, Snapshot, local_path


def _as_col(pred: Column | str) -> Column:
    return F.expr(pred) if isinstance(pred, str) else pred


# Functions whose presence makes a recorded predicate/assignment text
# non-replayable: re-evaluating them at changelog time yields DIFFERENT
# values than the DML evaluated at commit time (r14 VERDICT #6).
# Conservative word-level match — a false hit merely skips a fast path.
_NONDET_FUNCS = (
    "rand", "randn", "random", "uuid", "shuffle",
    "current_timestamp", "current_date", "current_timezone", "now",
    "localtimestamp", "unix_timestamp", "unix_micros", "unix_millis",
    "monotonically_increasing_id", "spark_partition_id",
    "input_file_name", "session_user", "current_user", "user",
)
import re as _re

_NONDET_RE = _re.compile(
    r"\b(" + "|".join(_NONDET_FUNCS) + r")\s*\(", _re.IGNORECASE
)


def _deterministic_text(*exprs: str) -> bool:
    """True iff none of the SQL texts call a non-deterministic or
    time/context-dependent function, so replaying the text later
    reproduces the values the DML wrote."""
    return not any(_NONDET_RE.search(e) for e in exprs)


def _rel_paths(table: LakeTable, abs_paths: list[str]) -> list[str]:
    return [os.path.relpath(local_path(p), table.root) for p in abs_paths]


def _affected_files(table: LakeTable, df_with_file: DataFrame, pred: Column) -> list[str]:
    """Which live files contain at least one matching row? Distinct over
    the pruned scan — rows never leave the executors, only file names do."""
    rows = (
        df_with_file.filter(pred).select(_FILE).distinct().collect()
    )
    return _rel_paths(table, [r[0] for r in rows])


def delete(table: LakeTable, predicate: Column | str) -> Snapshot:
    """DELETE FROM t WHERE pred (D5)."""
    pred = _as_col(predicate)
    snap = table.snapshot()  # pin the base BEFORE planning (OCC)
    with small_statement(table.spark, snap.total_bytes):
        df = table.scan(version=snap.version, with_file_path=True)
        affected = _affected_files(table, df, pred)
        if not affected:
            return snap
        survivors = (
            table._read_files(snap, affected)
            .filter(~pred | pred.isNull())
        )
        # A string predicate is recorded in the commit summary: for a CoW
        # delete, removed-rows minus survivor-rows IS exactly the set of
        # pred-true rows, so `changelog` can emit the DELETE feed from a
        # filter over the removed files instead of a two-sided exceptAll
        # diff (r14 — replace_files drops the summary key if a concurrent
        # rebase re-filtered the output, where the identity no longer
        # holds).
        summary = (
            {"predicate": predicate}
            if isinstance(predicate, str) and _deterministic_text(predicate)
            else None
        )
        return table.replace_files(
            affected,
            survivors,
            operation="delete",
            summary=summary,
            expected_base=snap.version,
        )


def _update_replayable(
    predicate: str, assignments: dict[str, str]
) -> bool:
    """True iff `changelog` can replay this UPDATE's net diff from the
    recorded text alone. The sequential when-chain in `update` lets a
    LATER assignment (and its pred evaluation) see columns already
    rewritten by an EARLIER one; the filter-first replay sees original
    values. Equivalence therefore requires that neither the predicate
    nor any assignment expression references a column assigned EARLIER
    in chain order (self-references see the pre-assignment value in
    both forms and are fine). Identifier detection is a conservative
    word match — a false hit merely skips the fast path."""
    import re

    earlier: list[str] = []
    for name, expr in assignments.items():
        for prev_name in earlier:
            word = re.compile(rf"\b{re.escape(prev_name)}\b")
            if word.search(expr) or word.search(predicate):
                return False
        earlier.append(name)
    return True


def update(
    table: LakeTable, assignments: dict[str, Column | str], predicate: Column | str
) -> Snapshot:
    """UPDATE t SET col=expr WHERE pred (D4). Assignments are column
    expressions evaluated per-row (CASE recodes, anonymization, etc.)."""
    pred = _as_col(predicate)
    snap = table.snapshot()  # pin the base BEFORE planning (OCC)
    with small_statement(table.spark, snap.total_bytes):
        df = table.scan(version=snap.version, with_file_path=True)
        affected = _affected_files(table, df, pred)
        if not affected:
            return snap
        rewritten = table._read_files(snap, affected)
        for name, expr in assignments.items():
            new_val = _as_col(expr) if isinstance(expr, str) else expr
            rewritten = rewritten.withColumn(
                name, F.when(pred, new_val).otherwise(F.col(name))
            )
        # All-text DML records itself in the commit summary so `changelog`
        # can replay the net diff from the REMOVED files only (r14): the
        # rewritten files are pred-false rows unchanged plus pred-true rows
        # mapped, and multiset difference cancels the unchanged side
        # analytically — (A ⊎ B) \ (C ⊎ B) = A \ C — so the feed is
        # exceptAll over just the pred-true slice instead of both full file
        # sets. Guarded by _update_replayable (chain-order visibility) and
        # dropped by replace_files if a concurrent rebase re-filters the
        # output (same rule as the delete fast path).
        summary = None
        if isinstance(predicate, str) and all(
            isinstance(e, str) for e in assignments.values()
        ) and _deterministic_text(predicate, *assignments.values()):
            if _update_replayable(predicate, dict(assignments)):
                summary = {
                    "predicate": predicate,
                    "assignments": dict(assignments),
                }
        return table.replace_files(
            affected,
            rewritten,
            operation="update",
            summary=summary,
            expected_base=snap.version,
        )


def merge(
    table: LakeTable,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, Column | str] | None = None,
    when_not_matched_insert: bool = True,
    evolve_schema: bool = False,
) -> Snapshot:
    """MERGE INTO target USING source ON keys (D3, PRD.md:769-779).

    Matched rows get the update assignments (expressions may reference
    source columns via `source.<col>` after the join); unmatched source
    rows are appended. One atomic snapshot commit for both halves.

    Cardinality guard (BigQuery parity, PRD.md:769-779): a target row
    matched by MORE than one source row is an error, not a silent
    row duplication — BigQuery MERGE raises in that case, and the
    left-join rewrite below would otherwise fan matched rows out.

    `evolve_schema=True` (Delta/Iceberg `mergeSchema` behavior): source
    columns missing from the target are first added via metadata-only
    ADD COLUMN commits — pre-existing files read them as NULL; inserted
    rows then carry the source values automatically, matched rows via
    an explicit `when_matched_update` assignment (UPDATE SET * is the
    caller spelling out the map). Without the flag, unknown source
    columns raise at write alignment.
    """
    cur = table.snapshot()
    if cur.schema_json:
        import json as _json

        from pyspark.sql.types import StructType

        known = set(
            StructType.fromJson(_json.loads(cur.schema_json)).fieldNames()
        )
        extra = [f for f in source.schema.fields if f.name not in known]
        if extra and not evolve_schema:
            raise ValueError(
                f"MERGE source columns {[f.name for f in extra]} not in "
                "table schema — evolve the schema first or pass "
                "evolve_schema=True"
            )
        for f in extra:
            from .evolution import add_column

            add_column(table, f.name, f.dataType.simpleString())

    snap = table.snapshot()  # pin the base BEFORE planning (OCC)
    with small_statement(
        table.spark, snap.total_bytes + plan_bytes(source)
    ):
        # the one planned scan: the guard and the anti-join use its keys,
        # the rewrite its columns
        target = table.scan(version=snap.version, with_file_path=True)
        tgt_cols = [c for c in target.columns if c != _FILE]
        tgt_keys = target.select(*on)
        src = source.alias("source")

        # duplicate source keys are only fatal if they MATCH a target row
        # (duplicate unmatched keys legitimately insert one row each)
        dup_keys = (
            source.groupBy(*on)
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") > 1)
            .drop("_c")
        )
        if dup_keys.join(tgt_keys, on=on, how="left_semi").limit(1).count() > 0:
            raise ValueError(
                "MERGE source has duplicate join keys matching a target row — "
                "each target row may match at most one source row (BigQuery "
                "MERGE semantics); dedupe the source first"
            )

        # files holding matched rows — semi join keeps only file names moving
        matched_files = _rel_paths(
            table,
            [
                r[0]
                for r in target.alias("t")
                .join(src, on=on, how="left_semi")
                .select(_FILE)
                .distinct()
                .collect()
            ],
        )

        rewritten: DataFrame | None = None
        if matched_files:
            base = table._read_files(snap, matched_files).alias("t")
            joined = base.join(src, on=on, how="left")
            matched = F.col(f"source.{on[0]}").isNotNull()
            proj = []
            for c in tgt_cols:
                if when_matched_update and c in when_matched_update:
                    expr = when_matched_update[c]
                    new_val = F.expr(expr) if isinstance(expr, str) else expr
                    proj.append(
                        F.when(matched, new_val)
                        .otherwise(F.col(f"t.{c}"))
                        .alias(c)
                    )
                else:
                    proj.append(F.col(f"t.{c}").alias(c))
            rewritten = joined.select(*proj)

        inserts: DataFrame | None = None
        if when_not_matched_insert:
            src_cols = set(source.columns)
            inserts = src.join(tgt_keys, on=on, how="left_anti").select(
                *[
                    # target columns the source doesn't carry insert NULL
                    (F.col(c) if c in src_cols else F.lit(None)).alias(c)
                    for c in tgt_cols
                ]
            )

        if rewritten is not None and inserts is not None:
            add_df = rewritten.unionByName(inserts)
        else:
            add_df = rewritten if rewritten is not None else inserts

        if add_df is None and not matched_files:
            return table.snapshot()
        return table.replace_files(
            matched_files,
            add_df,
            operation="merge",
            summary={"merge_on": on},
            expected_base=snap.version,
        )


def _net_diff_feed(
    plus: DataFrame, minus: DataFrame, v: int, ts_ms: int
) -> DataFrame:
    """Fused two-sided multiset diff — the exact feed
    `plus.exceptAll(minus)` tagged INSERT unioned with
    `minus.exceptAll(plus)` tagged DELETE, computed in ONE aggregation:
    the weighted core `_net_diff_feed_weighted`, replicated.

    Spark itself rewrites EXCEPT ALL as a ±1-tagged union, a count
    aggregation, and row replication (RewriteExceptAll), so running two
    of them costs two shuffles and scans every input twice. Tagging
    once with +1/−1 and keeping BOTH signs of the net count yields the
    identical multiset — per row value, exceptAll emits
    max(0, n_plus − n_minus) INSERTs and max(0, n_minus − n_plus)
    DELETEs, which is exactly |net| rows of the net's sign — from one
    shuffle and one scan of each side (r14, guide §2.3/§2.4: the
    changelog diff was the dominant shuffle of every IVM/CDC lifecycle
    query)."""
    return _replicate(_net_diff_feed_weighted(plus, minus, v, ts_ms))


def _replicate(feed: DataFrame) -> DataFrame:
    """Weighted feed → replicated feed: rows with `_n` = 0 (cancelled
    values) drop, every other row repeats `_n` times, and `_n` /
    `_gross` go. The optimizer prunes the unused `_gross` count out of
    the diff aggregate, leaving one aggregate over the signed sum."""
    cols = [c for c in feed.columns if c not in ("_n", "_gross")]
    # replication count stays long until the cast; a multiplicity past
    # int range raises instead of silently wrapping (r14 ADVICE) —
    # 2^31 duplicates of ONE row value is a degenerate changelog no
    # consumer could replay anyway
    n_rep = F.when(
        F.col("_n") > F.lit(2147483647),
        F.raise_error(
            F.lit(
                "changelog: net row multiplicity exceeds int range — "
                "the change feed cannot replicate one value 2^31 times"
            )
        ).cast("int"),
    ).otherwise(F.col("_n").cast("int"))
    rep = F.explode(F.array_repeat("_change_type", n_rep))
    return feed.filter(F.col("_n") > 0).select(
        *[rep.alias(c) if c == "_change_type" else c for c in cols]
    )


def _uniq(base: str, taken) -> str:
    """A helper-column name that cannot collide with user columns."""
    name = base
    taken = set(taken)
    while name in taken:
        name = "_" + name
    return name


def _net_diff_feed_weighted(
    plus: DataFrame, minus: DataFrame, v: int, ts_ms: int
) -> DataFrame:
    """The one signed-diff core of every changelog diff: ONE signed
    aggregation over the (possibly `columns=`-projected) inputs,
    emitting ONE row per distinct value with `_n` = |net| (the
    replicated-feed multiplicity) and `_gross` = n₊ + n₋ (how many
    input rows of both sides carried the value — the uncancelled feed
    size, which IVM reports as delta_rows). Values whose net is zero
    are KEPT (with _n = 0) so Σ_gross equals the inputs' total row
    count exactly; a weighted consumer must scale every per-row
    contribution by `_n`. `_net_diff_feed` is the replicated form."""
    cols = plus.columns
    sgn = _uniq("_sgn", cols)
    net = _uniq("_net", [*cols, sgn])
    gross = _uniq("_gross0", [*cols, sgn, net])
    tagged = plus.select(*cols, F.lit(1).alias(sgn)).unionByName(
        minus.select(*cols, F.lit(-1).alias(sgn))
    )
    return (
        tagged.groupBy(*cols)
        .agg(
            F.sum(sgn).alias(net),
            F.count(F.lit(1)).alias(gross),
        )
        .select(
            *cols,
            F.when(F.col(net) >= 0, F.lit("INSERT"))
            .otherwise(F.lit("DELETE"))
            .alias("_change_type"),
            F.lit(v).alias("_change_version"),
            F.lit(ts_ms).alias("_change_timestamp"),
            F.abs(F.col(net)).cast("long").alias("_n"),
            F.col(gross).cast("long").alias("_gross"),
        )
    )


def changelog(
    table: LakeTable,
    from_version: int,
    to_version: int,
    columns: list[str] | None = None,
) -> DataFrame:
    """Row-level change feed between snapshots (S6): per intermediate
    commit, reads only the files that entered/left the snapshot (manifest
    set-diff — no full-table scan) and net-diffs them with exceptAll.
    Emits _change_type ('INSERT'/'DELETE'), _change_version,
    _change_timestamp — the Spark shape of BigQuery's _CHANGE_TYPE /
    _CHANGE_TIMESTAMP pseudo-columns (PRD.md:956-972).

    `columns` (r15, guide §2.3 — the IVM column-projection contract):
    when given, every commit's inputs are projected to exactly these
    columns BEFORE the net diff, so the parquet scans read (ReadSchema)
    and the diff shuffles only what the consumer aggregates — the
    wide-table win at 100 TB. The projected feed is WEIGHTED: one row
    per distinct projected value per diffing commit, with `_n` = |net|
    (the multiplicity the default feed would replicate) and `_gross` =
    how many input rows carried the value (n₊ + n₋ for a diffing
    commit — the default feed's row count whenever no two FULL rows
    cancelled, e.g. every recorded-text fast-path commit). Net-zero
    values ride along with _n = 0 so Σ_gross is exact. Projection can
    cancel value-pairs the full-width diff kept apart, which is exact
    for signed-multiset consumers (per projected value, the net count
    is identical) — the IVM refresh is the intended consumer; CDC
    replay (`apply_changelog`) needs full rows and key identity, so it
    keeps the default feed."""
    def _project(df: DataFrame) -> DataFrame:
        return df.select(*columns) if columns is not None else df

    def _tag1(df: DataFrame, kind: str, v: int, ts: int) -> DataFrame:
        """Tag a filter/one-sided branch: every physical row is one
        feed row (projection never changes a filter's row count), so
        the weighted form carries _n = _gross = 1."""
        return _project(df).select(
            "*",
            F.lit(kind).alias("_change_type"),
            F.lit(v).alias("_change_version"),
            F.lit(ts).alias("_change_timestamp"),
            F.lit(1).cast("long").alias("_n"),
            F.lit(1).cast("long").alias("_gross"),
        )

    def _diff(
        plus: DataFrame, minus: DataFrame, v: int, ts: int
    ) -> DataFrame:
        return _net_diff_feed_weighted(
            _project(plus), _project(minus), v, ts
        )

    out: DataFrame | None = None
    # each version of the window is read once: `cur` of v is `prev` of v+1
    snaps = [table.snapshot(v) for v in range(from_version, to_version + 1)]
    for v, prev, cur in zip(
        range(from_version + 1, to_version + 1), snaps, snaps[1:]
    ):
        if cur.operation in ("delete_mor", "update_mor"):
            # merge-on-read delete/update: rows leave the table
            # LOGICALLY at this commit (the delete entry hides them) —
            # emit them as DELETEs by reading the pre-commit state
            # (prior deletes applied) and filtering with this commit's
            # predicate. Materialization later diffs to nothing, so rows
            # are emitted exactly once. update_mor ALSO adds files with
            # the rewritten row versions; it falls through to the
            # generic set-diff below, which emits those as INSERTs —
            # without this branch a CDC consumer would double-count
            # updated rows (new version inserted, old never deleted).
            pred = cur.summary.get("predicate")
            if prev.files and pred is not None:
                rows = table._read_files(
                    prev, [f.path for f in prev.files]
                ).filter(F.coalesce(F.expr(pred), F.lit(False)))
                tagged = _tag1(rows, "DELETE", v, cur.timestamp_ms)
                out = tagged if out is None else out.unionByName(tagged)
            if cur.operation == "delete_mor":
                continue
        pf = {f.path for f in prev.files}
        cf = {f.path for f in cur.files}
        removed = sorted(pf - cf)
        added = sorted(cf - pf)
        if not removed and not added:
            continue
        if cur.operation == "delete" and cur.summary.get("predicate"):
            # CoW delete with its predicate recorded at commit time
            # (dml.delete): the survivors are exactly the removed
            # files' rows with the predicate false-or-NULL, so the
            # net diff is `removed_rows WHERE pred` — one filtered
            # read of the removed files, no read of the added files,
            # no exceptAll shuffles (r14; the summary key is dropped
            # by replace_files whenever a rebase re-filtered the
            # output, which is the one case the identity breaks).
            pred = F.coalesce(
                F.expr(cur.summary["predicate"]), F.lit(False)
            )
            tagged = _tag1(
                table._read_files(prev, removed).filter(pred),
                "DELETE",
                v,
                cur.timestamp_ms,
            )
            out = tagged if out is None else out.unionByName(tagged)
            continue
        if (
            cur.operation == "update"
            and cur.summary.get("predicate")
            and cur.summary.get("assignments")
        ):
            # CoW update recorded as replayable text (dml.update): the
            # added files are pred-false rows unchanged ⊎ pred-true
            # rows mapped, and multiset difference cancels the
            # unchanged slice analytically, so the net diff is
            # exceptAll over ONLY the pred-true rows vs their mapped
            # versions — removed files read once, added files never
            # read, shuffle bytes ∝ updated rows instead of all rows
            # of every affected file (r14). The when(true)/otherwise
            # wrapper and the cast back to the scan schema reproduce
            # update()'s type coercion and the writer's schema
            # alignment bit-for-bit.
            pred = F.coalesce(
                F.expr(cur.summary["predicate"]), F.lit(False)
            )
            rp = table._read_files(prev, removed).filter(pred)
            mapped = rp
            for name, expr in cur.summary["assignments"].items():
                mapped = mapped.withColumn(
                    name,
                    F.when(F.lit(True), F.expr(expr)).otherwise(
                        F.col(name)
                    ),
                )
            mapped = mapped.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in rp.schema.fields
                ]
            )
            tagged = _diff(mapped, rp, v, cur.timestamp_ms)
            out = tagged if out is None else out.unionByName(tagged)
            continue
        add_df = table._read_files(cur, added) if added else None
        rem_df = table._read_files(prev, removed) if removed else None

        if add_df is not None and rem_df is not None:
            tagged = _diff(add_df, rem_df, v, cur.timestamp_ms)
        elif add_df is not None:
            tagged = _tag1(add_df, "INSERT", v, cur.timestamp_ms)
        else:
            tagged = _tag1(rem_df, "DELETE", v, cur.timestamp_ms)
        out = tagged if out is None else out.unionByName(tagged)
    if out is None:
        if from_version >= to_version:
            raise ValueError("no changes between requested versions")
        # no commit of the window changed a data file (metadata-only
        # commits, appends of no rows): an empty feed
        last = snaps[-1]
        out = _tag1(
            table._read_files(last, []), "INSERT", to_version, last.timestamp_ms
        )
    # every branch emits the weighted shape; the default feed is its
    # replication
    return out if columns is not None else _replicate(out)


def apply_changelog(
    replica: LakeTable, changes: DataFrame, key_cols: list[str]
) -> Snapshot:
    """CDC apply — replay a `changelog()` feed onto a replica table so
    it converges to the source's end state (the Iceberg-CDC / Delta-CDF
    downstream-sync pattern; BigQuery surface: PRD.md:956-972).

    Per key, only the LATEST change matters: the newest
    `_change_version` wins, and within one version an INSERT outranks
    its paired DELETE (an update emits both). Keys whose last change is
    DELETE are removed; keys whose last change is INSERT are upserted.
    One atomic commit: affected replica files are rewritten without the
    touched keys and the upserts land in the same snapshot — the
    replica never shows a half-applied feed.

    Requires `key_cols` to identify rows uniquely in the source's end
    state (CDC on non-unique keys is ill-defined).
    """
    snap = replica.snapshot()  # pin base (OCC)
    with small_statement(
        replica.spark, snap.total_bytes + plan_bytes(changes)
    ):
        # latest change per key via struct-MIN, not a row_number window:
        # the aggregate partial-combines each key's feed rows map-side and
        # needs no per-key sort (the feed is the hot input at scale —
        # O(changes), every one of which the window form shuffled AND
        # sorted). Order key: newest version first (negated ASC), INSERT
        # (0) outranking its paired DELETE (1) within a version; remaining
        # payload fields are deterministic tie-breaks that a well-formed
        # feed (one INSERT / one DELETE per key-version) never reaches.
        rest = [
            c for c in changes.columns
            if c not in key_cols
            and c not in ("_change_version", "_change_timestamp")
        ]
        # External feeds are arbitrary DataFrames: negation needs a numeric
        # version, and a NULL version must LOSE (the desc-window form
        # sorted nulls last) — negated-ascending would rank it FIRST, so
        # order on an explicit null flag before the negated value.
        vtype = changes.schema["_change_version"].dataType.typeName()
        if vtype not in (
            "byte", "short", "integer", "long", "float", "double", "decimal"
        ):
            raise TypeError(
                f"_change_version must be numeric, got {vtype}: cast the "
                "feed's version to a monotone number before apply_changelog"
            )
        order_fields = [
            F.col("_change_version").isNull().cast("int").alias("_vnull"),
            (-F.coalesce(F.col("_change_version"), F.lit(0))).alias("_negv"),
            F.when(F.col("_change_type") == "INSERT", 0)
            .otherwise(1)
            .alias("_typ"),
        ]
        from ..operators.topk import _has_map

        if any(_has_map(changes.schema[c].dataType) for c in rest):
            # map-typed payload is unorderable inside the MIN struct —
            # fall back to the window form (any payload schema), same
            # order: newest version first, nulls last, INSERT over DELETE
            from pyspark.sql import Window as W

            w = W.partitionBy(*key_cols).orderBy(
                F.col("_change_version").desc_nulls_last(),
                F.when(F.col("_change_type") == "INSERT", 0).otherwise(1),
            )
            picked = (
                changes.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            picked = (
                changes.groupBy(*key_cols)
                .agg(
                    F.min(
                        F.struct(*order_fields, F.struct(*rest).alias("_row"))
                    ).alias("_w")
                )
                .select(*key_cols, F.col("_w._row.*"))
            )
        last = (
            picked.select(  # restore the feed's column order
                *[
                    c for c in changes.columns
                    if c not in ("_change_version", "_change_timestamp")
                ]
            )
            # consumed 4x below (upserts, two key joins, summary counts):
            # checkpoint once so the feed agg never recomputes per action
            .localCheckpoint(eager=True)
        )
        payload_cols = [c for c in last.columns if c != "_change_type"]
        upserts = last.filter(F.col("_change_type") == "INSERT").select(
            *payload_cols
        )
        touched_keys = last.select(*key_cols)
        # ONE job for both summary counts (was two full-feed jobs)
        n_keys, n_upserts = last.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("_change_type") == "INSERT", 1)),
        ).first()

        target = replica.scan(version=snap.version, with_file_path=True)
        hit = target.join(touched_keys, on=key_cols, how="left_semi")
        affected = _rel_paths(
            replica, [r[0] for r in hit.select(_FILE).distinct().collect()]
        )
        if affected:
            kept = replica._read_files(snap, affected).join(
                touched_keys, on=key_cols, how="left_anti"
            )
            add_df = kept.unionByName(upserts)
        else:
            add_df = upserts
        return replica.replace_files(
            affected,
            add_df,
            operation="apply_changelog",
            summary={"upserts": n_upserts, "keys": n_keys},
            expected_base=snap.version,
        )


def delete_mor(table: LakeTable, predicate: str) -> Snapshot:
    """Merge-on-read DELETE (Iceberg v2 equality-delete model): commits
    ONLY a delete entry — a SQL predicate plus the commit's sequence
    number — touching zero data files. Readers anti-filter files whose
    seq predates the delete (`LakeTable._read_files` applies this on
    every path: scans, CoW rewrites, compaction, changelog), and rows
    appended AFTER the delete are never retro-deleted.

    This is the O(1)-commit delete for 100 TB tables — copy-on-write
    `delete()` rewrites every affected file at commit time; `delete_mor`
    defers that cost to reads until a compaction materializes it (the
    delete entry auto-expires once no live file predates it).

    `predicate` is a SQL boolean over data columns, stored verbatim in
    the manifest; rows where it evaluates NULL are kept (SQL DELETE
    semantics). Validated against the current schema before commit.
    """
    snap = table.snapshot()
    # validate: must parse and resolve against the table schema
    probe = table._read_files(snap, [f.path for f in snap.files[:1]]) \
        if snap.files else None
    if probe is not None:
        probe.filter(F.expr(predicate)).schema  # raises on bad predicate
    new_version_seq = snap.version + 1
    return table._commit_snapshot(
        operation="delete_mor",
        files=snap.files,
        schema_json=snap.schema_json,
        base=snap.version,
        summary={"predicate": predicate},
        deletes=snap.deletes + [
            {"predicate": predicate, "seq": new_version_seq}
        ],
    )


def materialize_deletes(table: LakeTable) -> Snapshot:
    """Compaction-style MOR materialization: rewrite ONLY the files
    that have applicable delete entries (seq predates a delete),
    physically dropping the logically deleted rows; untouched files
    keep their entries. The commit's auto-GC then drops delete entries
    that no longer apply to any live file."""
    snap = table.snapshot()
    if not snap.deletes:
        return snap
    affected = [
        f.path
        for f in snap.files
        if any(f.seq < d["seq"] for d in snap.deletes)
    ]
    if not affected:
        return snap
    with small_statement(table.spark, snap.total_bytes):
        rewritten = table._read_files(snap, affected)  # deletes applied here
        return table.replace_files(
            affected,
            rewritten,
            operation="materialize_deletes",
            summary={"applied_deletes": len(snap.deletes)},
            expected_base=snap.version,
        )


def update_mor(
    table: LakeTable,
    assignments: dict[str, Column | str],
    predicate: str,
) -> Snapshot:
    """Merge-on-read UPDATE in ONE atomic commit: write only the
    UPDATED rows as new files (seq = this commit) and attach a delete
    entry for the predicate in the same snapshot — the delete hides the
    old versions (their files predate it) while the rewritten rows,
    carrying the commit's own seq, pass through. Readers see the update
    atomically; no pre-existing file is rewritten (CoW `update()`
    rewrites every file containing a match — at 100 TB that's the whole
    difference).

    The predicate must be a SQL string (stored in the manifest). Rows
    where it evaluates NULL are untouched, matching UPDATE semantics.
    """
    snap = table.snapshot()
    if not snap.files:
        return snap
    with small_statement(table.spark, snap.total_bytes):
        pred = F.coalesce(F.expr(predicate), F.lit(False))
        current = table._read_files(snap, [f.path for f in snap.files])
        updated = current.filter(pred)
        for name, expr in assignments.items():
            updated = updated.withColumn(
                name, _as_col(expr) if isinstance(expr, str) else expr
            )
        if snap.schema_json:
            updated = table._align_to_schema(updated, snap.schema_json)
        new_files = table._stamp_seq(table._write_files(updated))
        new_seq = snap.version + 1
        return table._commit_snapshot(
            operation="update_mor",
            files=snap.files + new_files,
            schema_json=snap.schema_json,
            base=snap.version,
            summary={"predicate": predicate,
                     "updated_rows": sum(f.rows for f in new_files)},
            deletes=snap.deletes + [{"predicate": predicate, "seq": new_seq}],
        )
