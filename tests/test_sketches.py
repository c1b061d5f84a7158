"""KMV distinct sketch (operators/sketches.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.operators.sketches import (
    kmv_estimate,
    kmv_sketch,
    merge_kmv,
)
from de_gcp_lakehouse_iceberg_spark.plans import QUERIES
from de_gcp_lakehouse_iceberg_spark.tables import table


def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame(
        [("a", i % 10) for i in range(100)], "g string, v long"
    )
    out = kmv_estimate(kmv_sketch(df, ["g"], "v", k=64), k=64).collect()
    assert out[0].distinct_est == 10       # < k ⇒ exact by construction


def test_kmv_estimate_within_error_bound(spark, sf_dir):
    events = table(spark, sf_dir, "events")
    k = 64
    est = {
        r.event_type: r.distinct_est
        for r in kmv_estimate(
            kmv_sketch(events, ["event_type"], "user_id", k=k), k=k
        ).collect()
    }
    exact = {
        r.event_type: r.d
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for g, d in exact.items():
        if d < k:
            assert est[g] == d
        else:
            assert abs(est[g] - d) / d < 0.5   # ~4σ at k=64


def test_kmv_merge_equals_sketch_of_union(spark):
    """Mergeability — the rollup property: merging two partial
    sketches gives EXACTLY the sketch of the unioned data."""
    a = spark.createDataFrame(
        [("g", i) for i in range(0, 400)], "g string, v long"
    )
    b = spark.createDataFrame(
        [("g", i) for i in range(200, 700)], "g string, v long"
    )
    k = 32
    merged = merge_kmv(
        kmv_sketch(a, ["g"], "v", k=k),
        kmv_sketch(b, ["g"], "v", k=k),
        ["g"],
        k=k,
    )
    direct = kmv_sketch(a.unionByName(b), ["g"], "v", k=k)
    assert merged.collect()[0].hashes == direct.collect()[0].hashes
    est_m = kmv_estimate(merged, k=k).collect()[0].distinct_est
    est_d = kmv_estimate(direct, k=k).collect()[0].distinct_est
    assert est_m == est_d


def test_kmv_overlap_exact_below_k(spark):
    """With < k distinct values per side, the merged min-k IS the union
    and the overlap estimates are exact."""
    from de_gcp_lakehouse_iceberg_spark.operators.sketches import (
        kmv_overlap,
    )

    a = spark.createDataFrame(
        [("g", v) for v in range(20)], "g string, v long"
    )
    b = spark.createDataFrame(
        [("g", v) for v in range(10, 25)], "g string, v long"
    )
    ov = kmv_overlap(
        kmv_sketch(a, ["g"], "v", k=64),
        kmv_sketch(b, ["g"], "v", k=64),
        ["g"],
        k=64,
    ).collect()[0]
    assert ov.union_est == 25              # |0..24|
    assert ov.intersect_est == 10          # |10..19|


def test_kmv_overlap_reasonable_above_k(spark):
    from de_gcp_lakehouse_iceberg_spark.operators.sketches import (
        kmv_overlap,
    )

    n, half = 3000, 1500                   # 50% true overlap
    a = spark.range(n).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    b = spark.range(half, n + half).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    ov = kmv_overlap(
        kmv_sketch(a, ["g"], "v", k=256),
        kmv_sketch(b, ["g"], "v", k=256),
        ["g"],
        k=256,
    ).collect()[0]
    assert abs(ov.union_est - (n + half)) / (n + half) < 0.25
    assert abs(ov.intersect_est - half) / half < 0.45


def test_cm_sketch_overestimates_never_under(spark):
    """Count-min guarantee: estimate >= exact count, always."""
    from de_gcp_lakehouse_iceberg_spark.operators.sketches import (
        cm_lookup,
        cm_sketch,
    )

    words = [f"w{i % 50}" for i in range(2000)] + ["hot"] * 500
    df = spark.createDataFrame([(w,) for w in words], "v string")
    sk = cm_sketch(df, "v", width=128, depth=3)
    probes = spark.createDataFrame(
        [(w,) for w in ["hot", "w0", "w49", "absent"]], "v string"
    )
    est = {r.v: r.cm_est for r in cm_lookup(
        sk, probes, "v", width=128, depth=3).collect()}
    exact = {"hot": 500, "w0": 40, "w49": 40, "absent": 0}
    for wd, ex in exact.items():
        assert est[wd] >= ex, wd
    # the heavy key's estimate is close (low collision mass)
    assert est["hot"] < 500 + len(words) // 4


def test_cm_merge_is_additive(spark):
    """cm(A ∪ B) == cm_merge(cm(A), cm(B)) cell-for-cell — the shard
    property that lets per-day sketches roll up to months."""
    from de_gcp_lakehouse_iceberg_spark.operators.sketches import (
        cm_merge,
        cm_sketch,
    )

    a = spark.createDataFrame([(f"x{i % 7}",) for i in range(300)], "v string")
    b = spark.createDataFrame([(f"y{i % 5}",) for i in range(200)], "v string")
    both = a.unionByName(b)
    direct = {
        (r.r, r.b): r.cnt
        for r in cm_sketch(both, "v", width=64, depth=3).collect()
    }
    merged = {
        (r.r, r.b): r.cnt
        for r in cm_merge(
            cm_sketch(a, "v", width=64, depth=3),
            cm_sketch(b, "v", width=64, depth=3),
        ).collect()
    }
    assert direct == merged


def test_hist_quantile_close_to_exact_and_mergeable(spark):
    from de_gcp_lakehouse_iceberg_spark.operators.sketches import (
        hist_merge,
        hist_quantile,
        hist_sketch,
    )

    # deterministic skewed-ish values in [0, 100)
    df = spark.range(10_000).select(
        F.lit("g").alias("g"),
        ((F.col("id") * 37 % 1000) / 10.0).alias("v"),
    )
    sk = hist_sketch(df, ["g"], "v", 0.0, 100.0, 100)
    p50 = hist_quantile(sk, ["g"], 0.5, 0.0, 100.0, 100).collect()[0].est
    p95 = hist_quantile(sk, ["g"], 0.95, 0.0, 100.0, 100).collect()[0].est
    exact = df.selectExpr(
        "percentile(v, 0.5) as p50", "percentile(v, 0.95) as p95"
    ).collect()[0]
    assert abs(p50 - exact.p50) <= 100.0 / 100  # within one bin width
    assert abs(p95 - exact.p95) <= 100.0 / 100

    # mergeability: hist(A ∪ B) == hist_merge(hist(A), hist(B))
    a = df.filter(F.col("id") % 2 == 0)
    b = df.filter(F.col("id") % 2 == 1)
    direct = {
        (r.g, r.b): r.cnt
        for r in hist_sketch(df, ["g"], "v", 0.0, 100.0, 100).collect()
    }
    merged = {
        (r.g, r.b): r.cnt
        for r in hist_merge(
            hist_sketch(a, ["g"], "v", 0.0, 100.0, 100),
            hist_sketch(b, ["g"], "v", 0.0, 100.0, 100),
            ["g"],
        ).collect()
    }
    assert direct == merged


def test_hist_clamps_out_of_range(spark):
    from de_gcp_lakehouse_iceberg_spark.operators.sketches import (
        hist_sketch,
    )

    df = spark.createDataFrame(
        [("g", -5.0), ("g", 0.0), ("g", 99.9), ("g", 250.0)],
        "g string, v double",
    )
    cells = {
        r.b: r.cnt for r in hist_sketch(df, ["g"], "v", 0.0, 100.0, 10).collect()
    }
    assert cells[0] == 2      # -5 clamps into bin 0
    assert cells[9] == 2      # 250 clamps into the top bin


def test_unigram_scores_rank_typical_above_gibberish(spark):
    from de_gcp_lakehouse_iceberg_spark.operators.corpus import (
        unigram_doc_scores,
    )

    common = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, "en", common) for i in range(20)]
        + [(100, "en", "zqx jvk wpf qqq")],     # rare-token soup
        "doc_id long, lang string, text string",
    )
    scores = {
        r.doc_id: r.score for r in unigram_doc_scores(docs).collect()
    }
    assert scores[0] == scores[19]              # identical docs, same score
    assert scores[100] < scores[0]              # gibberish scores lower
    assert all(s <= 0 for s in scores.values())  # log-probs


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_overlap_matrix_never_joins_the_corpus_with_itself(
    spark, sf_dir_medium
):
    """q108's sketch half must be sketch-vs-sketch arithmetic. The only
    corpus-scale self-join allowed is the EXACT verification column's
    key equi-join; there must be no cartesian product anywhere (the
    20x20 source-pair expansion is a broadcast nested-loop over
    source NAMES, never over corpus rows)."""
    plan = _plan(QUERIES["q108_source_overlap_matrix"](spark, sf_dir_medium))
    assert "CartesianProduct" not in plan


def test_trigram_fast_udf_equals_expression_form(spark, sf_dir):
    """q108's Arrow keying UDF must stay bit-identical to the
    cross-engine expression anchor (the oracle replays the anchor)."""
    from de_gcp_lakehouse_iceberg_spark.plans.overlap_matrix_query import (
        _trigram_keys,
        trigram_keys_fast,
    )
    from de_gcp_lakehouse_iceberg_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    edge = spark.createDataFrame(
        [("",), ("one",), ("two words",), ("a b c d e",)], "text string"
    )
    for df in (docs.select("text"), edge):
        bad = (
            df.select(
                (
                    _trigram_keys(F.col("text"))
                    == trigram_keys_fast()(F.col("text"))
                ).alias("eq")
            )
            .filter(~F.col("eq"))
            .count()
        )
        assert bad == 0
