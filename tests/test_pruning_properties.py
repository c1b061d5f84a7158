"""Property tests (hypothesis) for the pruning and sketch kernels —
pure Python, no Spark session: conservativeness is the ONE invariant
that must never break (a pruner that drops a matching row is silent
data loss; one that keeps too much only costs I/O)."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from de_gcp_lakehouse_iceberg_spark.lakehouse.table import (
    _SortedKeys,
    _rg_survives,
    _stats_may_match,
)

_vals = st.one_of(
    st.integers(min_value=-10**6, max_value=10**6),
    st.floats(allow_nan=True, allow_infinity=True, width=64),
)
_ops = st.sampled_from(["=", "<", "<=", ">", ">="])


def _op_matches(op: str, v, x) -> bool:
    try:
        return {
            "=": x == v,
            "<": x < v,
            "<=": x <= v,
            ">": x > v,
            ">=": x >= v,
        }[op]
    except TypeError:
        return False


@settings(max_examples=300)
@given(
    rows=st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        min_size=1,
        max_size=20,
    ),
    op=_ops,
    v=_vals,
)
def test_stats_pruning_is_conservative(rows, op, v):
    """If ANY row value satisfies the predicate, stats built from those
    rows must keep the container (may_match True)."""
    stats = {"c": [min(rows), max(rows)]}
    if any(_op_matches(op, v, x) for x in rows):
        assert _stats_may_match(stats, "c", op, v)


@settings(max_examples=300)
@given(
    rows=st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        min_size=1,
        max_size=20,
    ),
    keys=st.lists(_vals, min_size=0, max_size=30),
)
def test_rg_in_op_conservative_and_candidates_superset(rows, keys):
    stats = {"c": [min(rows), max(rows)]}
    hit = any(
        any(_op_matches("=", k, x) for x in rows) for k in keys
    )
    if hit:
        assert _rg_survives(stats, [("c", "in", keys)])
    # candidates() must be a SUPERSET of the keys inside [min,max]
    sk = _SortedKeys(keys)
    cand = sk.candidates(stats["c"])
    for k in keys:
        if isinstance(k, float) and math.isnan(k):
            assert any(
                isinstance(c, float) and math.isnan(c) for c in cand
            )
            continue
        try:
            inside = stats["c"][0] <= k <= stats["c"][1]
        except TypeError:
            inside = False
        if inside:
            assert k in cand, (k, stats, cand)


def test_nan_bounds_or_value_never_prune():
    """Parquet writers record [1.0, NaN] for a double column holding
    1.0, 3.0, NaN, and Spark orders NaN above every double (NaN = NaN
    holds) — a NaN bound or predicate value proves nothing."""
    nan = float("nan")
    with_nan = {"c": [1.0, nan]}
    for op, v in ((">", 5.0), (">=", 4.0), ("=", nan), ("=", 2.0)):
        assert _stats_may_match(with_nan, "c", op, v), (op, v)
    assert _stats_may_match({"c": [nan, nan]}, "c", "<", 0.0)
    assert _stats_may_match({"c": [1.0, 3.0]}, "c", "=", nan)
    assert _stats_may_match({"c": [1.0, 3.0]}, "c", ">", nan)
    assert _rg_survives(with_nan, [("c", "in", [nan])])
    assert _rg_survives({"c": [1.0, 3.0]}, [("c", "in", [nan, 9.0])])
    # NaN-free stats still prune
    assert not _stats_may_match({"c": [1.0, 3.0]}, "c", ">", 5.0)
    assert not _rg_survives({"c": [1.0, 3.0]}, [("c", "in", [9.0])])


@settings(max_examples=200)
@given(
    a=st.lists(st.integers(min_value=0, max_value=10**9), max_size=200),
    b=st.lists(st.integers(min_value=0, max_value=10**9), max_size=200),
    k=st.integers(min_value=1, max_value=32),
)
def test_kmv_minmerge_equals_union_mink(a, b, k):
    """min-k(A ∪ B) == min-k(min-k(A) ∪ min-k(B)) — the mergeability
    identity every KMV rollup (q101, ivm distinct_cols) relies on."""
    mink = lambda s: sorted(set(s))[:k]  # noqa: E731
    assert mink(a + b) == mink(mink(a) + mink(b))


@settings(max_examples=200)
@given(
    sets=st.lists(
        st.frozensets(
            st.integers(min_value=0, max_value=50), min_size=1, max_size=20
        ),
        min_size=2,
        max_size=6,
    ),
    t=st.floats(min_value=0.05, max_value=1.0),
)
def test_prefix_filter_lemma(sets, t):
    """PPJoin Lemma 1 as used by _jaccard_prefix_filtered: under a
    global token order, any pair with Jaccard ≥ t must share a token
    within their (|x| − ⌈t·|x|⌉ + 1)-length prefixes."""
    order = sorted({x for s in sets for x in s})
    rank = {x: i for i, x in enumerate(order)}

    def prefix(s):
        p = len(s) - math.ceil(t * len(s) - 1e-9) + 1
        return set(sorted(s, key=rank.__getitem__)[: max(1, p)])

    for i, a in enumerate(sets):
        for b in sets[i + 1:]:
            j = len(a & b) / len(a | b)
            if j >= t:
                assert prefix(a) & prefix(b), (a, b, t)
