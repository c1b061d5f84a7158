"""Corpus-pipeline operators: deterministic sampling/mixing, sequence
packing invariants, and connected-component dup clustering."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.operators import dedup, packing, sampling
from de_gcp_lakehouse_iceberg_spark.tables import table


def test_hash_sample_is_deterministic_and_composable(spark, sf_dir_medium):
    docs = table(spark, sf_dir_medium, "documents")
    a = {r.doc_id for r in sampling.hash_sample(docs, 0.4).select("doc_id").collect()}
    b = {r.doc_id for r in sampling.hash_sample(docs, 0.4).select("doc_id").collect()}
    assert a == b  # stable across runs (unlike DataFrame.sample)
    # rate monotonicity: a smaller rate selects a SUBSET (nested samples)
    small = {
        r.doc_id for r in sampling.hash_sample(docs, 0.2).select("doc_id").collect()
    }
    assert small <= a
    # rough rate sanity on 500 docs
    n = docs.count()
    assert 0.25 * n < len(a) < 0.55 * n


def test_sample_by_weights_rates_per_group(spark, sf_dir_medium):
    docs = table(spark, sf_dir_medium, "documents")
    kept = sampling.sample_by_weights(
        docs, {"en": 1.0, "zh": 0.0}, key_col="lang", default_rate=0.5
    )
    by_lang = {r.lang: r.cnt for r in kept.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    total = {r.lang: r.cnt for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert by_lang.get("en") == total["en"]  # rate 1.0 keeps everything
    assert "zh" not in by_lang  # rate 0.0 keeps nothing
    for lang in ("de", "es", "fr"):  # default rate keeps a strict subset
        assert 0 < by_lang.get(lang, 0) < total[lang]


def test_stratified_sample_exact_counts(spark, sf_dir_medium):
    docs = table(spark, sf_dir_medium, "documents")
    picked = sampling.stratified_sample(docs, 3, stratum_col="lang")
    counts = {r.lang: r.cnt for r in picked.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    sizes = {r.lang: r.cnt for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    for lang, size in sizes.items():
        assert counts[lang] == min(3, size)
    # deterministic selection
    again = {
        (r.lang, r.doc_id)
        for r in sampling.stratified_sample(docs, 3, stratum_col="lang")
        .select("lang", "doc_id")
        .collect()
    }
    first = {(r.lang, r.doc_id) for r in picked.select("lang", "doc_id").collect()}
    assert first == again


def test_pack_chunks_invariants(spark, sf_dir_medium):
    docs = table(spark, sf_dir_medium, "documents")
    cap = 128
    packed = packing.pack_chunks(docs, capacity=cap, stream_col="lang").cache()
    rows = packed.select("lang", "doc_id", "n_tokens", "tok_offset", "chunk_id").collect()
    by_stream: dict[str, list] = {}
    for r in rows:
        by_stream.setdefault(r.lang, []).append(r)
    for lang, rs in by_stream.items():
        rs.sort(key=lambda r: r.doc_id)
        # offsets are the exact running sum, chunks the offset div
        run = 0
        for r in rs:
            assert r.tok_offset == run, (lang, r)
            assert r.chunk_id == run // cap
            run += r.n_tokens
        # chunk ids are nondecreasing and start at 0
        assert rs[0].chunk_id == 0
    # every document appears exactly once
    assert packed.count() == docs.count()
    stats = packing.chunk_stats(packed, capacity=cap, stream_col="lang")
    srow = stats.agg(F.sum("chunk_tokens").alias("t")).first()
    assert srow.t == packed.agg(F.sum("n_tokens")).first()[0]
    packed.unpersist()


def test_dup_clusters_matches_bruteforce_components(spark):
    """dup_clusters_star must equal the true connected components on a
    graph with a chain, a triangle, an isolated pair — including a chain
    long enough to need several rounds."""
    pairs = [
        # chain 1-2-3-4-5 (diameter 4)
        (1, 2), (2, 3), (3, 4), (4, 5),
        # triangle 10-11-12
        (10, 11), (11, 12), (10, 12),
        # isolated pair
        (20, 21),
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.dup_clusters_star(df).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_dup_clusters_empty_pairs(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.dup_clusters_star(df).count() == 0
    # self-pairs carry no edge: still no clusters
    loops = spark.createDataFrame([(1, 1), (2, 2)], "doc_a long, doc_b long")
    assert dedup.dup_clusters_star(loops).count() == 0


def test_dup_clusters_star_matches_label_propagation(spark):
    """large-star/small-star (the skew-safe scale path) must produce the
    exact same labelling as min-label propagation on a mixed graph —
    run here in plain Python as the reference."""
    pairs = [
        (1, 2), (2, 3), (3, 4), (4, 5),        # chain, diameter 4
        (10, 11), (11, 12), (10, 12),          # triangle
        (20, 21),                              # isolated pair
        (30, 31), (31, 32), (30, 33), (33, 34) # tree
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    lp = {u: u for e in pairs for u in e}
    changed = True
    while changed:  # every node takes the min label over its edges
        changed = False
        for u, v in pairs:
            m = min(lp[u], lp[v])
            if (lp[u], lp[v]) != (m, m):
                lp[u] = lp[v] = m
                changed = True
    star = {
        r.doc_id: r.cluster_id for r in dedup.dup_clusters_star(df).collect()
    }
    assert star == lp


def test_dup_clusters_star_skewed_hub(spark):
    """One viral component: a hub joined to 50k nodes plus a trailing
    chain. This is the shape that hot-spots one reducer under plain
    label propagation; the star variant must (a) finish in few rounds
    and (b) label every node with the component minimum."""
    hub = 7
    n = 50_000
    edges = [(hub, i) for i in range(100_000, 100_000 + n)]
    # chain hanging off one leaf so the component is not a pure star
    edges += [(100_000, 5), (5, 3), (3, 11)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    labels = dedup.dup_clusters_star(df)
    assert labels.select("cluster_id").distinct().collect()[0][0] == 3
    assert labels.count() == n + 4  # hub + n leaves + {5, 3, 11}


def test_dup_clusters_star_empty(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.dup_clusters_star(df).count() == 0


def test_chunk_text_overlap_and_tail(spark):
    from de_gcp_lakehouse_iceberg_spark.operators.packing import chunk_text

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10)))], "doc_id long, text string"
    )
    rows = (
        df.select(F.explode(chunk_text("text", 4, 3)).alias("c"))
        .select("c.chunk_idx", "c.chunk_text", "c.n_tokens")
        .collect()
    )
    got = {(r.chunk_idx, r.chunk_text, r.n_tokens) for r in rows}
    # starts 0,3,6,9 over 10 tokens; window 4; final chunk short
    assert got == {
        (0, "w0 w1 w2 w3", 4),
        (1, "w3 w4 w5 w6", 4),
        (2, "w6 w7 w8 w9", 4),
        (3, "w9", 1),
    }


def test_temperature_mix_flattens_sources(spark, sf_dir_medium):
    """α=0.5 keeps the smallest source whole and samples a larger
    source at ~sqrt(n_min/n_s) — the published flattening rule."""
    from de_gcp_lakehouse_iceberg_spark.operators.sampling import (
        temperature_mix,
    )
    from de_gcp_lakehouse_iceberg_spark.tables import table

    docs = table(spark, sf_dir_medium, "documents")
    orig = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    kept = {
        r.source: r.n
        for r in temperature_mix(docs, alpha=0.5)
        .groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    n_min = min(orig.values())
    smallest = min(orig, key=orig.get)
    assert kept[smallest] == orig[smallest]  # rate 1.0 keeps everything
    for s, n in orig.items():
        expect = (n_min / n) ** 0.5 * n
        # hash sampling is deterministic but not exact-count: allow
        # binomial-ish slack around the target
        assert abs(kept.get(s, 0) - expect) <= max(5, 0.35 * expect), (s, kept.get(s), expect)


def test_stratified_sample_shortfall_fallback_is_exact(spark):
    """The oversampling cut is probabilistic; the DECLARATIVE fallback
    must make the result exact even when the cut catches NOTHING.
    Force it: a stratum built only from ids whose hash lands in the
    TOP half of the hash space, with oversample=1 so the cut expects
    survivors in the bottom ~5% — zero survive, the shortfall branch
    re-selects the true top-n over the full stratum."""
    from de_gcp_lakehouse_iceberg_spark.operators.sampling import (
        SAMPLE_A,
        SAMPLE_B,
        SAMPLE_P,
        stratified_sample,
    )

    h = lambda i: ((i % SAMPLE_P) * SAMPLE_A + SAMPLE_B) % SAMPLE_P  # noqa: E731
    big_hash_ids = [i for i in range(100_000) if h(i) > SAMPLE_P // 2][:100]
    assert len(big_hash_ids) == 100
    df = spark.createDataFrame(
        [(i, "s") for i in big_hash_ids], "doc_id long, source string"
    )
    got = sorted(
        r.doc_id
        for r in stratified_sample(df, 5, route="threshold", oversample=1).collect()
    )
    want = sorted(
        i for i in sorted(big_hash_ids, key=lambda i: (h(i), i))[:5]
    )
    assert got == want


def test_stratified_sample_null_stratum_is_a_group(spark):
    from de_gcp_lakehouse_iceberg_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "a")], "doc_id long, source string"
    )
    for route in ("topk", "threshold"):
        out = stratified_sample(df, 1, route=route).collect()
        assert len(out) == 2 and {r.source for r in out} == {None, "a"}


def test_stratified_sample_auto_routes_all_sides(spark, monkeypatch):
    """r11 VERDICT #7: route="auto" must measure stratum sizes and land
    on every side of the two bounds with the identical row set (all
    routes are oracle-exact by construction)."""
    from de_gcp_lakehouse_iceberg_spark.operators import sampling

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias(
            "source"
        ),
    )
    want = sorted(
        tuple(r)
        for r in sampling.stratified_sample(df, 7, route="topk").collect()
    )

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    # strata of 500 rows: under the single bound -> all-JVM, no Python
    single = sampling.stratified_sample(df, 7, route="auto")
    assert "mapInPandas" not in plan(single).replace("MapInPandas", "mapInPandas")
    assert sorted(map(tuple, single.collect())) == want

    # force the mid band: single bound below 500, threshold bound above
    monkeypatch.setattr(
        sampling, "STRATIFIED_SINGLE_MAX_ROWS_PER_STRATUM", 100
    )
    monkeypatch.setattr(
        sampling, "STRATIFIED_AUTO_ROWS_PER_STRATUM", 10_000
    )
    mid = sampling.stratified_sample(df, 7, route="auto")
    # the rejoin route: winners (already materialized through the
    # Arrow partial by the size-gate's localCheckpoint) join back on
    # the _gtk_o* order keys — neither the single route nor the
    # threshold route has that shape
    p_mid = plan(mid)
    assert "_gtk_o0" in p_mid and "Union" not in p_mid
    assert sorted(map(tuple, mid.collect())) == want

    # force the top band: threshold-select (declarative shortfall union)
    monkeypatch.setattr(sampling, "STRATIFIED_AUTO_ROWS_PER_STRATUM", 100)
    high = sampling.stratified_sample(df, 7, route="auto")
    assert "Union" in plan(high)
    assert sorted(map(tuple, high.collect())) == want


def test_stratified_sample_skew_split_route(spark, monkeypatch):
    """r12 VERDICT #8: one giant stratum among many tiny ones puts the
    MEAN in the topk band while the giant stratum dominates cost.
    route="auto" must detect the skew and take the THRESHOLD path (the
    measured winner — the per-stratum cut adapts; a per-stratum split
    measured slower and is no route), with the row set identical to
    every other route."""
    from de_gcp_lakehouse_iceberg_spark.operators import sampling

    giant = spark.range(1200).select(
        F.col("id").alias("doc_id"), F.lit("giant").alias("source")
    )
    tiny = spark.range(300).select(
        (F.col("id") + 10_000).alias("doc_id"),
        F.concat(F.lit("t"), (F.col("id") % 30).cast("string")).alias(
            "source"
        ),
    )
    df = giant.unionByName(tiny)
    want = sorted(
        tuple(r)
        for r in sampling.stratified_sample(df, 5, route="topk").collect()
    )
    assert len(want) == 5 + 30 * 5

    # shrink the bounds so the fixture is skewed AT TEST SCALE:
    # biggest=1200 >= threshold bound 1000; mean = 1500/31 ~ 48 (topk
    # band); skew ratio biggest/mean ~ 24.8 >= 8 -> threshold
    monkeypatch.setattr(
        sampling, "STRATIFIED_SINGLE_MAX_ROWS_PER_STRATUM", 100
    )
    monkeypatch.setattr(sampling, "STRATIFIED_AUTO_ROWS_PER_STRATUM", 1000)
    out = sampling.stratified_sample(df, 5, route="auto")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan  # the threshold side's shortfall union
    assert sorted(map(tuple, out.collect())) == want

    with pytest.raises(ValueError, match="route must be"):
        sampling.stratified_sample(df, 5, route="split")
