"""Deterministic sampling & data-mixing operators for training-data
pipelines — the "mix sources at fixed weights" and "downsample a
stratum" primitives every corpus build needs (SURVEY.md §7.1 step 10
extension surface).

Everything is keyed on a PORTABLE affine id hash h(id) = (id·A + B)
mod P (constants below, P = 2³¹−1): membership is a pure row-local
predicate, so sampling is a scan-time filter (no shuffle, pushes below
joins), reproducible across engines (the DuckDB oracles re-derive it
from the same constants), and stable across runs/partitionings — unlike
`DataFrame.sample`, whose output depends on partition layout. At 100 TB
the filter rides the parquet scan; nothing else moves.

Rates are materialized as INTEGER thresholds `int(rate · P)` at plan
time — the engines compare longs, never floats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

SAMPLE_P = 2147483647  # 2^31 - 1 (Mersenne)
SAMPLE_A = 1103515245  # classic LCG multiplier, < P
SAMPLE_B = 12345


def id_hash(id_col: Column | str) -> Column:
    """Portable uniform hash of an integer id into [0, P)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (
        (c.cast("long") % SAMPLE_P) * F.lit(SAMPLE_A) + F.lit(SAMPLE_B)
    ) % F.lit(SAMPLE_P)


def id_hash_sql(id_expr: str) -> str:
    """The identical hash in ANSI/DuckDB SQL (oracle generation)."""
    return (
        f"((CAST({id_expr} AS BIGINT) % {SAMPLE_P}) * {SAMPLE_A} "
        f"+ {SAMPLE_B}) % {SAMPLE_P}"
    )


def threshold(rate: float) -> int:
    """rate ∈ [0,1] → integer hash threshold (computed once in Python,
    embedded as a literal in both the Spark plan and the oracle SQL)."""
    return int(rate * SAMPLE_P)


def hash_sample(
    df: DataFrame, rate: float, id_col: str = "doc_id"
) -> DataFrame:
    """Keep ~rate of rows, deterministically by id."""
    return df.filter(id_hash(id_col) < F.lit(threshold(rate)))


def sample_by_weights(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Data mixing: per-group keep rates (e.g. upweight books, cap web).
    One CASE over integer thresholds — a scan-time filter."""
    thresh = F.lit(threshold(default_rate))
    for k, rate in sorted(weights.items()):
        thresh = F.when(F.col(key_col) == k, F.lit(threshold(rate))).otherwise(
            thresh
        )
    return df.filter(id_hash(id_col) < thresh)


# route="auto" picks by MEASURED stratum sizes (one narrow
# aggregate; see SCALE.md "stratified sampling route crossover"):
#   MAX stratum <= SINGLE bound -> grouped_topk route="single"
#       (all-JVM, one shuffle, no Python workers — safe only when
#       EVERY stratum fits one aggregation buffer, so the gate is the
#       biggest stratum, not the mean; grouped_topk's measured
#       degradation starts past ~10^4 rows/group);
#   MEAN >= THRESHOLD bound -> threshold-select (scan-time filter,
#       payload moves only for ~c·n survivors — the 100 TB shape);
#   in between              -> topk-rejoin (k-bounded Arrow partial).
# Skew (r12 VERDICT #8): with one giant stratum among many tiny ones
# the MEAN undershoots while the giant stratum dominates cost. When
# the skew ratio max/mean exceeds STRATIFIED_SKEW_SPLIT_RATIO and the
# giant stratum is individually past the threshold bound, auto routes
# the WHOLE input down the threshold path: the per-stratum cut already
# adapts (giant strata filter to ~c·n survivors, small strata keep
# everything and the bounded top-n finishes them). A per-stratum split
# (giant→threshold, rest→topk, union) measured slower — its two extra
# corpus-wide semi/anti joins and second count pass cost more than
# they save (skewed fixture, 3.2M rows, skew 188×: threshold 3.06 s,
# topk 3.32 s, split 5.82 s min-of-3 interleaved; SCALE.md
# "skew-aware stratified routing").
STRATIFIED_SINGLE_MAX_ROWS_PER_STRATUM = 10_000
STRATIFIED_AUTO_ROWS_PER_STRATUM = 300_000
# Skew bound: auto takes the threshold route when the biggest stratum
# is individually past the threshold bound AND dominates the mean by
# this much (SCALE.md "skew-aware stratified routing").
STRATIFIED_SKEW_SPLIT_RATIO = 8


def stratified_sample(
    df: DataFrame,
    n_per_stratum: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    route: str = "auto",
    oversample: int = 4,
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, chosen by hash order
    (deterministic, unbiased); ties broken by id. All routes produce
    the identical (oracle-exact) row set. route="auto" (the default —
    the deployment shape) measures the stratum sizes with one narrow
    aggregate and picks single/topk/threshold per the measured bounds
    above (SCALE.md "stratified sampling route crossover").

    route="single": all-JVM grouped_topk, one shuffle — for strata
    that each fit one aggregation buffer.

    route="topk": bounded grouped_topk with payload="rejoin"
    — only (stratum, hash, id) cross the Arrow partial, the k winners
    broadcast back, and the fat document payload never moves except
    for the selected rows. MEASURED fastest at every available
    fixture (sf0.1 0.45 s vs 0.92 s; sf3 0.56 s vs 1.03 s warm
    min-of-4 interleaved).

    route="threshold": oversampling threshold-select — the all-JVM scale shape (same idea
    as Spark's RangePartitioner oversampled sketch): selecting the n
    smallest values of a UNIFORM hash doesn't need a top-k over the
    whole stratum, because the n-th smallest hash of an N_s-row
    stratum concentrates at ~n/N_s · P. So:

      1. per-stratum counts (one narrow aggregate);
      2. scan-time filter `hash < cut_s` with
         cut_s = ceil(oversample·n·P / N_s) (cut_s = P when
         N_s ≤ oversample·n, keeping small strata whole) — expected
         survivors oversample·n per stratum, and by a Chernoff lower
         tail P[survivors < n] ≤ exp(−(1−1/c)²·c·n/2) ≈ e^(−1.125·n)
         at c=4: ~2e−10 for n=20, vanishing for bench n's;
      3. exact top-n over the ~c·n survivors (`route="single"` — the
         group size is bounded by the cut's construction);
      4. a DECLARATIVE exact fallback: strata whose survivor count
         fell below min(n, N_s) re-select over the full stratum via
         the bounded route. The branch is driven by a broadcast of the
         (normally EMPTY) shortfall stratum list, so AQE collapses the
         semi-join to an empty relation at runtime — no second scan in
         the expected case, and exactness does not rest on a
         probabilistic bound.

    The threshold route's hot path is a count + a broadcast-filtered
    scan + a tiny top-n: no Python workers, no full-stratum shuffle,
    and the payload moves only for the ~c·n survivors — the asymptotic
    win once a stratum's rows dwarf its survivors by enough to beat
    the route's extra fixed stages (the crossover is NOT reached by
    the sf3 fixture; hence the measured default above)."""
    from .topk import grouped_topk

    n = n_per_stratum
    order = lambda: [id_hash(id_col), F.col(id_col)]  # noqa: E731
    counts = None
    if route == "auto":
        # one narrow aggregate (reused by the threshold route if
        # chosen, exactly like choose_jaccard_route's measured stat):
        # route on the MEAN stratum size — the payload/Python-worker
        # cost the heavier routes avoid scales with rows/stratum
        counts = df.groupBy(stratum_col).agg(
            F.count(F.lit(1)).alias("_ns")
        )
        stat = counts.agg(
            F.sum("_ns").alias("_rows"),
            F.count(F.lit(1)).alias("_k"),
            F.max("_ns").alias("_max"),
        ).first()
        rows, strata = int(stat["_rows"] or 0), int(stat["_k"] or 1)
        biggest = int(stat["_max"] or 0)
        if biggest <= STRATIFIED_SINGLE_MAX_ROWS_PER_STRATUM:
            # every stratum (not just the mean) fits the all-JVM
            # single-aggregation buffer comfortably
            route = "single"
        elif rows >= STRATIFIED_AUTO_ROWS_PER_STRATUM * strata:
            route = "threshold"
        elif (
            biggest >= STRATIFIED_AUTO_ROWS_PER_STRATUM
            and biggest * strata >= STRATIFIED_SKEW_SPLIT_RATIO * rows
        ):
            # Skew (r12 VERDICT #8): the MEAN sits in the topk band
            # only because many tiny strata dilute one giant one.
            # Measured answer: the plain threshold route (its cut is
            # per-stratum already; see module comment).
            route = "threshold"
        else:
            route = "topk"
    if route == "single":
        return grouped_topk(
            df, [stratum_col], order(), n, route="single"
        ).select(*df.columns)
    if route == "topk":
        return grouped_topk(
            df, [stratum_col], order(), n, payload="rejoin"
        ).select(*df.columns)
    if route != "threshold":
        raise ValueError(
            f"route must be auto|single|topk|threshold: {route!r}"
        )
    if counts is None:
        counts = df.groupBy(stratum_col).agg(
            F.count(F.lit(1)).alias("_ns")
        )
    cuts = counts.select(
        F.col(stratum_col).alias("_st"),
        "_ns",
        F.when(
            F.col("_ns") <= oversample * n, F.lit(SAMPLE_P).cast("long")
        )
        .otherwise(
            F.expr(
                f"CAST(({oversample * n}L * {SAMPLE_P}L + _ns - 1) "
                "DIV _ns AS LONG)"
            )
        )
        .alias("_cut"),
    )
    surv = (
        df.join(
            F.broadcast(cuts),
            F.col(stratum_col).eqNullSafe(F.col("_st")),
        )
        .filter(id_hash(id_col) < F.col("_cut"))
        .drop("_st", "_ns", "_cut")
    )
    surv_counts = surv.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("_sv")
    )
    shortfall = (
        cuts.join(
            surv_counts,
            F.col("_st").eqNullSafe(F.col(stratum_col)),
            "left",
        )
        .filter(
            F.coalesce(F.col("_sv"), F.lit(0))
            < F.least(F.lit(n).cast("long"), F.col("_ns"))
        )
        .select(F.col("_st"))
    )
    ok = grouped_topk(
        surv.join(
            F.broadcast(shortfall),
            F.col(stratum_col).eqNullSafe(F.col("_st")),
            "left_anti",
        ),
        [stratum_col],
        order(),
        n,
        route="single",
    ).select(*df.columns)
    fallback = grouped_topk(
        df.join(
            F.broadcast(shortfall),
            F.col(stratum_col).eqNullSafe(F.col("_st")),
            "left_semi",
        ),
        [stratum_col],
        order(),
        n,
    ).select(*df.columns)
    return ok.unionByName(fallback)


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.5,
    key_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-flattened source mixing — the published multilingual
    sampling rule (sample source s ∝ n_s^α, α<1 upweights small
    sources). Realized as per-source deterministic keep rates
    r_s = (n_min/n_s)^(1-α), so the smallest source keeps everything
    and larger sources flatten toward it.

    Determinism: α=0.5 evaluates the rate with sqrt — IEEE-754 requires
    sqrt correctly rounded, so Spark and any SQL oracle produce the
    bit-identical threshold. Other α use pow(), which engines do NOT
    guarantee to the last ulp — fine for production, not hash-gated.

    Shape: one count aggregate (rows = #sources), a global window min
    over it, then a broadcast join + scan-time hash filter — nothing
    corpus-sized shuffles.
    """
    counts = df.groupBy(key_col).agg(F.count("*").alias("_n"))
    counts = counts.withColumn(
        "_nmin", F.min("_n").over(W.partitionBy())
    )
    ratio = F.col("_nmin").cast("double") / F.col("_n")
    rate = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    th = counts.select(
        key_col,
        F.floor(rate * F.lit(SAMPLE_P) + F.lit(0.5)).cast("long").alias("_th"),
    )
    return (
        df.join(F.broadcast(th), key_col)
        .filter(id_hash(id_col) < F.col("_th"))
        .drop("_th")
    )


def split_assign(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test split — every corpus build's last
    labeling step. Each row gets a `split` label by carving [0, P) into
    contiguous hash ranges proportional to `weights` (default
    80/10/10). Row-local and engine-portable like every sampler here:
    no shuffle, stable under repartitioning, disjoint and exhaustive by
    construction (the ranges partition [0, P)), and a row's split
    never changes when other rows come or go — the property that keeps
    eval sets leak-free across corpus versions."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(weights.values())
    h = id_hash(id_col)
    expr = None
    acc = 0.0
    items = sorted(weights.items())
    for name, wt in items[:-1]:
        acc += wt / total
        cond = h < F.lit(threshold(acc))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def split_assign_sql(
    weights: dict[str, float] | None = None, id_expr: str = "doc_id"
) -> str:
    """The identical CASE in ANSI/DuckDB SQL (oracle generation)."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(weights.values())
    h = id_hash_sql(id_expr)
    acc = 0.0
    branches = []
    items = sorted(weights.items())
    for name, wt in items[:-1]:
        acc += wt / total
        branches.append(f"WHEN {h} < {threshold(acc)} THEN '{name}'")
    return (
        "CASE " + " ".join(branches) + f" ELSE '{items[-1][0]}' END"
    )
