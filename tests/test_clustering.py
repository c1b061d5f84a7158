"""Distributed k-means: convergence on separable data, deterministic
assignment, empty-cluster carry."""

from __future__ import annotations

from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.operators.clustering import kmeans


def test_kmeans_separates_obvious_clusters(spark):
    # two tight blobs far apart; k=2 must split them exactly regardless
    # of which blob the lowest-id init points land in
    rows = [(i, [0.0 + i * 0.001, 0.0]) for i in range(10)] + [
        (100 + i, [50.0, 50.0 + i * 0.001]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans(df, k=2, iters=3).collect()
    by_cluster: dict[int, set[int]] = {}
    for r in out:
        by_cluster.setdefault(r.cid, set()).add(r.vec_id)
    assert sorted(len(v) for v in by_cluster.values()) == [10, 10]
    groups = sorted(by_cluster.values(), key=min)
    assert groups[0] == set(range(10))
    assert groups[1] == {100 + i for i in range(10)}


def test_kmeans_deterministic_across_runs(spark, sf_dir):
    from de_gcp_lakehouse_iceberg_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    a = {(r.vec_id, r.cid) for r in kmeans(emb, k=4, iters=2).collect()}
    b = {(r.vec_id, r.cid) for r in kmeans(emb, k=4, iters=2).collect()}
    assert a == b and len(a) == emb.count()


def test_kmeans_fast_path_matches_fold_path(spark, sf_dir):
    """fast=True (Arrow numpy matmul assignment) must produce the SAME
    assignment as the Catalyst fold on the fixture corpus — quantized
    integer inputs keep every squared distance well inside double's
    exact-integer range, so only a true tie could differ, and the
    fixtures have none."""
    from de_gcp_lakehouse_iceberg_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    slow = {(r.vec_id, r.cid) for r in kmeans(emb, k=4, iters=2).collect()}
    fast_rows = kmeans(emb, k=4, iters=2, fast=True).collect()
    fast = {(r.vec_id, r.cid) for r in fast_rows}
    assert slow == fast
    # distances agree to float tolerance as well
    slow_d = {r.vec_id: r.dist for r in kmeans(emb, k=4, iters=2).collect()}
    for r in fast_rows:
        assert abs(slow_d[r.vec_id] - r.dist) <= 1e-6 * max(1.0, slow_d[r.vec_id])


def test_kmeans_fast_separates_obvious_clusters(spark):
    rows = [(i, [0.0 + i * 0.001, 0.0]) for i in range(10)] + [
        (100 + i, [50.0, 50.0 + i * 0.001]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans(df, k=2, iters=3, fast=True).collect()
    by_cluster: dict[int, set[int]] = {}
    for r in out:
        by_cluster.setdefault(r.cid, set()).add(r.vec_id)
    assert sorted(len(v) for v in by_cluster.values()) == [10, 10]


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # k=3 over two distinct points: one init centroid never wins a row;
    # the run must not crash and every row must still be assigned
    rows = [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [9.0, 9.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans(df, k=3, iters=2).collect()
    assert len(out) == 3
    assert {r.vec_id for r in out} == {1, 2, 3}


def test_semdedup_flags_planted_near_duplicates(spark):
    from de_gcp_lakehouse_iceberg_spark.operators.clustering import semdedup

    # two well-separated groups (seed centroids = the two lowest ids,
    # one per group); 12/14 are near-copies of 10 (cos ≈ 1), 21/22
    # near-copies of 11; 30 is an outlier duplicate of nothing
    rows = [
        (10, [1.0, 0.0, 0.0, 0.0]),
        (12, [0.999, 0.01, 0.0, 0.0]),
        (14, [0.998, -0.01, 0.0, 0.0]),
        (11, [0.0, 0.0, 1.0, 0.0]),
        (21, [0.0, 0.01, 0.999, 0.0]),
        (22, [0.0, -0.01, 0.998, 0.0]),
        (30, [0.0, 0.7, 0.0, -0.7]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = semdedup(df, k=2, tau=0.95).collect()
    flags = {r.vec_id: r.is_dup for r in out}
    # lowest id of each near-dup group survives; higher ids flagged
    assert flags[10] is False and flags[12] and flags[14]
    assert flags[11] is False and flags[21] and flags[22]
    assert flags[30] is False
    # both eras of the pair stage respected cluster boundaries: the
    # outlier landed somewhere but matched nothing
    assert sum(1 for v in flags.values() if v) == 4


def test_semdedup_fast_assignment_matches_fold(spark, sf_dir):
    from de_gcp_lakehouse_iceberg_spark.operators.clustering import semdedup
    from de_gcp_lakehouse_iceberg_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    slow = {(r.vec_id, r.cid, r.is_dup)
            for r in semdedup(emb, k=8, tau=0.35).collect()}
    fast = {(r.vec_id, r.cid, r.is_dup)
            for r in semdedup(emb, k=8, tau=0.35, fast=True).collect()}
    assert slow == fast


def test_semdedup_auto_k_deployment_route(spark, sf_dir):
    """k=None sizes k for ~target_cluster_size vectors/cluster and
    takes the Arrow assignment (the SCALE.md round-10 k∝N shape);
    results equal the equivalent explicit call."""
    from de_gcp_lakehouse_iceberg_spark.operators.clustering import semdedup
    from de_gcp_lakehouse_iceberg_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    target = 25
    k_expect = max(8, -(-n // target))
    auto = {(r.vec_id, r.cid, r.is_dup)
            for r in semdedup(emb, k=None, tau=0.35,
                              target_cluster_size=target).collect()}
    explicit = {(r.vec_id, r.cid, r.is_dup)
                for r in semdedup(emb, k=k_expect, tau=0.35,
                                  fast=True).collect()}
    assert auto == explicit
    assert len({c for _, c, _ in auto}) <= k_expect


def test_exact_assign_equals_fold(spark, sf_dir):
    """r13: the default Arrow assignment ("exact") must be BIT-IDENTICAL
    to the Catalyst fold form ("fold") — same dimension-sequential
    accumulation order, no BLAS — including the dist doubles, not just
    the argmin. (fast=True is only set-equal; this one is exact.)"""
    from de_gcp_lakehouse_iceberg_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    exact = {
        r.vec_id: (r.cid, r.dist)
        for r in kmeans(emb, k=4, iters=2).collect()
    }
    fold = {
        r.vec_id: (r.cid, r.dist)
        for r in kmeans(emb, k=4, iters=2, assign_mode="fold").collect()
    }
    assert exact == fold  # exact dict equality: cid AND dist bits


def test_kmeans_kwarg_validation(spark, sf_dir):
    """r14 (ADVICE): an invalid assign_mode must raise a descriptive
    ValueError (not a bare KeyError), and fast=True with a CONFLICTING
    explicit assign_mode must fail loudly instead of silently ignoring
    one of them. fast=True + assign_mode="fast" is consistent sugar."""
    import pytest

    from de_gcp_lakehouse_iceberg_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="assign_mode"):
        kmeans(emb, k=2, iters=0, assign_mode="nope")
    with pytest.raises(ValueError, match="conflicts"):
        kmeans(emb, k=2, iters=0, fast=True, assign_mode="fold")
    # consistent combination stays allowed
    kmeans(emb, k=2, iters=0, fast=True, assign_mode="fast")


def test_dispersion_matches_bruteforce_pairwise(spark):
    """The ||Σv||² identity == the quadratic definition on a planted
    set (up to the operator's documented 1e-6 centroid quantization)."""
    import itertools

    vecs = {
        0: [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [1.0, 0.0, 0.0]],
        1: [[0.5, 0.5, 0.0], [0.5, 0.5, 0.0]],
    }
    rows = [
        (int(label), [float(x) for x in v])
        for label, vs in vecs.items()
        for v in vs
    ]
    df = spark.createDataFrame(
        rows, "label int, embedding array<float>"
    ).withColumn("vec_id", F.monotonically_increasing_id())

    from de_gcp_lakehouse_iceberg_spark.plans.dispersion_query import (
        q109_embedding_dispersion,
    )
    import de_gcp_lakehouse_iceberg_spark.tables as tables

    orig = tables.table
    try:
        tables_table = lambda sp, sf, name: df  # noqa: E731
        import de_gcp_lakehouse_iceberg_spark.plans.dispersion_query as dq

        dq.table = tables_table
        got = {
            r["label"]: r["mean_pair_dot"]
            for r in q109_embedding_dispersion(spark, "ignored").collect()
        }
    finally:
        import de_gcp_lakehouse_iceberg_spark.plans.dispersion_query as dq

        dq.table = orig
    for label, vs in vecs.items():
        dots = [
            sum(a * b for a, b in zip(x, y))
            for x, y in itertools.permutations(vs, 2)
        ]
        expect = sum(dots) / (len(vs) * (len(vs) - 1))
        assert abs(got[label] - expect) < 1e-4, (label, got[label], expect)
