"""Dedup operator semantics: exact dedup winner selection, Jaccard
correctness, SimHash determinism, the LSH-vs-exact recall gap that
a rows-only check can't see, option validation, and the
near-dup route chooser (the corpus-clean stage must auto-route to the
scale-safe LSH path when the exact inverted-index join's fan-out goes
quadratic, and the router's estimate must be the real Σ df² of the
join the exact route would run)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.operators import dedup
from de_gcp_lakehouse_iceberg_spark.operators.corpus import clean_corpus
from de_gcp_lakehouse_iceberg_spark.operators.dedup import ngram_jaccard_pairs
from de_gcp_lakehouse_iceberg_spark.tables import table


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (5, "aa"), (3, "aa"), (2, "bb")], "id long, text string"
    )
    out = dedup.exact_dedup(df, ["text"], "id")
    got = {r.text: r.id for r in out.collect()}
    assert got == {"aa": 1, "bb": 2}
    assert out.columns == df.columns  # caller's column order preserved
    # plan shape: an aggregate with map-side partial combine, NO window
    # (the window form shuffled + sorted every row)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan


def test_jaccard_pairs_exact_values(spark):
    # doc 1/2 share 2 of their 3-shingle union; doc 3 is disjoint
    df = spark.createDataFrame(
        [
            (1, "a b c d"),  # shingles: {a b c, b c d}
            (2, "a b c d e"),  # shingles: {a b c, b c d, c d e}
            (3, "x y z"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.ngram_jaccard_pairs(df, threshold=0.1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert abs(r.jaccard - 2 / 3) < 1e-12


def test_short_doc_shingles(spark):
    # doc shorter than n tokens → one full-text shingle, Jaccard defined
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c")], "doc_id long, text string"
    )
    rows = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 1.0)]


def test_simhash_deterministic_and_identical_for_same_text(spark):
    df = spark.createDataFrame(
        [(1, "spark row hash"), (2, "spark row hash"), (3, "totally different words here")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.sig for r in
            df.select("doc_id", dedup.simhash("text").alias("sig")).collect()}
    assert sigs[1] == sigs[2]
    assert 0 <= sigs[1] < 2**16
    # stable across invocations (pure function of text)
    sigs2 = {r.doc_id: r.sig for r in
             df.select("doc_id", dedup.simhash("text").alias("sig")).collect()}
    assert sigs == sigs2


def test_lsh_pairs_equal_exact_pairs(spark, sf_dir_medium):
    docs = table(spark, sf_dir_medium, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(
            docs, num_hashes=64, bands=32, threshold=0.5
        ).collect()
    }
    assert exact  # the corpus plants near-dup pairs — guard against vacuity
    assert lsh == exact


def test_max_df_cap_drops_ubiquitous_shingles(spark):
    # shingle "a b c" appears in 3 docs; cap at 2 removes it everywhere
    df = spark.createDataFrame(
        [(1, "a b c x"), (2, "a b c y"), (3, "a b c z")],
        "doc_id long, text string",
    )
    uncapped = dedup.doc_shingles(df)
    capped = dedup.doc_shingles(df, max_df=2)
    assert uncapped.filter(F.col("shingle") == "a b c").count() == 3
    assert capped.filter(F.col("shingle") == "a b c").count() == 0


def test_simhash_fast_equals_expression_form_on_10x_corpus(spark, sf_dir_medium):
    """The vectorized pandas_udf SimHash must equal the Catalyst
    expression form bit-for-bit (all-integer math) — checked on a 10×
    replicated corpus with perturbed texts so the vectorized path sees
    real batch sizes, unicode, and varied token counts."""
    from pyspark.sql import functions as F

    docs = table(spark, sf_dir_medium, "documents")
    big = docs.crossJoin(spark.range(10).select(F.col("id").alias("rep"))).select(
        (F.col("doc_id") * 10 + F.col("rep")).alias("doc_id"),
        # vary the text per replica so signatures differ across reps
        F.concat_ws(" ", F.col("text"), F.col("rep").cast("string")).alias("text"),
    )
    import time

    both = big.select(
        "doc_id",
        dedup.simhash("text").alias("expr_sig"),
        dedup.simhash_fast("text").alias("fast_sig"),
    )
    t0 = time.time()
    mismatches = both.filter(F.col("expr_sig") != F.col("fast_sig")).count()
    assert mismatches == 0
    # and a rough CPU sanity probe: fast path alone over the 10x corpus
    t1 = time.time()
    big.select(dedup.simhash_fast("text").alias("s")).agg(
        F.count("*"), F.sum("s")
    ).collect()
    fast_wall = time.time() - t1
    print(f"simhash 10x: joint={t1-t0:.2f}s fast-only={fast_wall:.2f}s")


def test_char_poly_udf_equals_expression(spark):
    """char_poly_key_udf == _char_poly_key on unicode/empty/null input."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("hello",), ("",), (None,), ("héllo wörld",), ("中文 text",)],
        "s string",
    )
    rows = df.select(
        dedup._char_poly_key(F.col("s")).alias("expr"),
        dedup.char_poly_key_udf()(F.col("s")).alias("udf"),
    ).collect()
    for r in rows:
        assert r.expr == r.udf, (r.expr, r.udf)


def test_minhash_portable_mode_matches_exact_jaccard(spark, sf_dir):
    """hash_mode='portable' (the oracle-checkable family) finds the same
    verified pair set as exact n-gram Jaccard, like the default mode."""
    docs = table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, hash_mode="portable"
        ).collect()
    }
    assert lsh == exact


def test_minhash_release_mode_same_pairs_and_frees_blocks(spark, sf_dir):
    """release=True returns the identical pair set and leaves no
    corpus-sized blocks pinned (only the output-sized pairs cache)."""
    docs = table(spark, sf_dir, "documents")
    spark.catalog.clearCache()
    kept = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, hash_mode="portable", release=True
        ).collect()
    }
    lazy = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, hash_mode="portable"
        ).collect()
    }
    assert kept == lazy and kept
    spark.catalog.clearCache()


def test_fast_minhash_sig_equals_expression_form(spark, sf_dir_medium):
    """The fused Arrow fast path (doc_keys_sig_udf: shingle build +
    char-poly keys + numpy signature in one pass) must equal the
    exploded expression-form minhash_signatures bit-for-bit in portable
    mode — all-integer math, so any divergence is a real bug."""
    docs = table(spark, sf_dir_medium, "documents")
    expr_sig = {
        r.doc_id: list(r.signature)
        for r in dedup.minhash_signatures(docs, hash_mode="portable").collect()
    }
    fast = {
        r.doc_id: (list(r.ks.keys), list(r.ks.sig) if r.ks.sig else None)
        for r in docs.select(
            F.col("doc_id"),
            dedup.doc_keys_sig_udf(3, 64)(F.col("text")).alias("ks"),
        ).collect()
    }
    assert set(expr_sig) == {d for d, (k, s) in fast.items() if s is not None}
    for doc_id, sig in expr_sig.items():
        assert fast[doc_id][1] == sig, doc_id
    # keys are sorted distinct char-poly values — spot-check one doc
    # against the exploded path
    some_doc = next(iter(expr_sig))
    exploded = sorted(
        r.k
        for r in dedup.doc_shingles(docs)
        .filter(F.col("doc_id") == some_doc)
        .select(dedup.char_poly_key_udf()(F.col("shingle")).alias("k"))
        .collect()
    )
    assert sorted(set(exploded)) == fast[some_doc][0]


def test_dup_span_stats_interval_union(spark):
    from de_gcp_lakehouse_iceberg_spark.operators.dedup import dup_span_stats

    # doc 1 and doc 2 share the 5-token run "a b c d e" → with n=3,
    # duplicated starts at positions 0,1,2 cover tokens 0..4 (5 tokens,
    # overlapping intervals union — not 3·n=9). doc 3 shares nothing.
    rows = [
        (1, "a b c d e x y z"),
        (2, "q q q a b c d e"),
        (3, "u v w t s r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_tokens, r.covered_tokens)
           for r in dup_span_stats(df, n=3).collect()}
    assert out[1] == (8, 5)
    # doc 2: "q q q" also repeats nothing globally (single occurrence),
    # so only the shared run counts: starts 3,4,5 → tokens 3..7
    assert out[2] == (8, 5)
    assert out[3] == (6, 0)


def test_dup_span_stats_within_doc_repeat(spark):
    from de_gcp_lakehouse_iceberg_spark.operators.dedup import dup_span_stats

    # the trigram "a b c" occurs twice WITHIN one doc → both spans covered
    df = spark.createDataFrame(
        [(1, "a b c z z a b c")], "doc_id long, text string"
    )
    out = dup_span_stats(df, n=3).collect()[0]
    assert (out.n_tokens, out.covered_tokens) == (8, 6)


def test_lsh_probe_pairs_incremental(spark):
    """Asymmetric probe: finds new-vs-corpus near-dups, never reports
    corpus-internal pairs, and xxhash/portable modes agree on the
    verified (exact-Jaccard) pair set."""
    from de_gcp_lakehouse_iceberg_spark.operators.dedup import (
        lsh_probe_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, base)]                     # internal dup pair!
        + [(i, f"corpus doc {i} " + " ".join(f"w{i}{j}" for j in range(12)))
           for i in range(3, 10)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, base),                              # dup of corpus 1 and 2
         (101, "entirely different words nothing shared here at all ok")],
        "doc_id long, text string",
    )
    for mode in ("xxhash64", "portable"):
        got = sorted(
            (r.new_id, r.corpus_id)
            for r in lsh_probe_pairs(
                new, corpus, threshold=0.5, hash_mode=mode
            ).collect()
        )
        # the corpus-internal (1,2) dup is NOT in the output; both
        # corpus copies match the new doc
        assert got == [(100, 1), (100, 2)], mode


def test_prefix_filtered_jaccard_identical_pairs(spark, sf_dir):
    """prefix_filter=True (AllPairs/PPJoin candidate generation) must
    return the bit-identical pair set as the naive inverted-index
    join — it is a candidate-superset + exact verify, not an
    approximation. Covers the capped (max_df) route too."""
    docs = table(spark, sf_dir, "documents")
    for kw in ({}, {"max_df": 40}, {"threshold": 0.3}):
        plain = {
            (r.doc_a, r.doc_b, round(r.jaccard, 12))
            for r in dedup.ngram_jaccard_pairs(docs, **kw).collect()
        }
        pp = {
            (r.doc_a, r.doc_b, round(r.jaccard, 12))
            for r in dedup.ngram_jaccard_pairs(
                docs, prefix_filter=True, **kw
            ).collect()
        }
        assert pp == plain and plain, kw


def test_exact_dedup_map_payload_falls_back_to_window(spark):
    """r10 ADVICE: map-typed payload is unorderable — exact_dedup must
    not raise, and must still keep the lowest-order row per key."""
    df = spark.createDataFrame(
        [("x", 2, {"k": 2}), ("x", 1, {"k": 1}), ("y", 9, {"k": 9})],
        "text string, id int, m map<string,int>",
    )
    out = {
        r.text: (r.id, dict(r.m))
        for r in dedup.exact_dedup(df, ["text"], "id").collect()
    }
    assert out == {"x": (1, {"k": 1}), "y": (9, {"k": 9})}


def test_window_keys_match_string_built_shingle_keys():
    """r13 signing rewrite: `_window_keys_batch` composes each shingle
    key from per-token char-poly hashes via exact modular identities —
    the values must be BIT-IDENTICAL to hashing the built shingle
    strings (that is what keeps every portable-hash oracle unchanged).
    Pure-numpy property check across the edge zoo: None, empty text,
    short docs (whole-text fallback), empty tokens from double spaces,
    non-ASCII codepoints, and single-char/long tokens."""
    import random

    import numpy as np

    rng = random.Random(7)
    words = ["apple", "b", "caterpillar", "δelta", "", "x" * 40, "yy"]
    texts: list = [
        " ".join(rng.choice(words) for _ in range(rng.randint(1, 30)))
        for _ in range(500)
    ]
    texts += [None, "", "one", "one two", "a  b", " ", "  ", "ű ő 語"]

    def built(t: str | None, n: int, dual: bool) -> np.ndarray:
        if t is None:
            return np.empty(0, np.int64)
        toks = t.split(" ")
        sh = [
            " ".join(toks[i : i + n])
            for i in range(max(len(toks) - n, 0) + 1)
        ]
        fams = dedup._FAMS2 if dual else dedup._FAMS1
        return dedup._pack_keys(dedup._char_poly_fams(sh, fams), fams)

    for n in (2, 3, 5):
        for fams, dual in ((dedup._FAMS1, False), (dedup._FAMS2, True)):
            got = dedup._window_keys_batch(texts, n, fams)
            for t, g in zip(texts, got):
                assert np.array_equal(g, built(t, n, dual)), (n, dual, t)


def test_simhash_pairs_equal_shared_expression_simhash(spark, sf_dir):
    """simhash_pairs (on the Arrow `simhash_fast`) pairs exactly the
    docs whose expression-form `simhash` values are equal — NULL text
    has no signature and pairs with nothing."""
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    planted = spark.createDataFrame(
        [(-1, "same words here"), (-2, "same words here"), (-3, None)],
        "doc_id long, text string",
    )
    docs = docs.unionByName(planted)
    by_sig: dict = {}
    for r in docs.select("doc_id", dedup.simhash("text").alias("s")).collect():
        if r.s is not None:
            by_sig.setdefault(r.s, []).append(r.doc_id)
    want = {
        (a, b) for ids in by_sig.values() for a in ids for b in ids if a < b
    }
    got = {(r.doc_a, r.doc_b) for r in dedup.simhash_pairs(docs).collect()}
    assert (-2, -1) in want
    assert got == want


@pytest.mark.parametrize(
    "call",
    [
        lambda d: dedup.minhash_signatures(d, hash_mode="Portable"),
        lambda d: dedup.minhash_lsh_pairs(d, hash_mode="Portable"),
        lambda d: dedup.lsh_probe_pairs(d, d, hash_mode="Portable"),
        lambda d: dedup.band_hash_col("signature", 0, 2, "Portable"),
        lambda d: dedup.near_dup_pairs(d, route="LSH"),
    ],
    ids=[
        "minhash_signatures", "minhash_lsh_pairs", "lsh_probe_pairs",
        "band_hash_col", "near_dup_pairs",
    ],
)
def test_unknown_option_values_raise(spark, call):
    """A mistyped hash_mode / route raises instead of silently running
    the xxhash64 family or the exact route."""
    docs = spark.createDataFrame(
        [(1, "a b c d")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="'Portable'|'LSH'"):
        call(docs)


# -- near-dup route chooser ---------------------------------------------

def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )


def _varied(n):
    """Heaps-ish corpus: every doc has its own vocabulary → df ≈ 1."""
    return [
        " ".join(f"w{i}_{j}" for j in range(12)) for i in range(n)
    ]


def _saturated(n):
    """3-word vocabulary: every trigram ubiquitous → Σ df² ≈ rows²."""
    words = ["aa", "bb", "cc"]
    return [
        " ".join(words[(i + j) % 3] for j in range(12)) for i in range(n)
    ]


def test_fanout_stats_match_exact_join(spark):
    """Σ df² from the estimator == the brute-force count over the
    exploded shingle table (same keys the exact join shuffles)."""
    docs = _docs(spark, _varied(20) + _saturated(10))
    rows, df2 = dedup.shingle_fanout_stats(docs)
    ex = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                dedup.doc_keys2_udf(3)(F.col("text"))
            )
        ).alias("sh"),
    )
    brute = (
        ex.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(
            F.sum("d").alias("rows"),
            F.sum(F.col("d") * F.col("d")).alias("df2"),
        )
        .first()
    )
    assert rows == brute["rows"]
    assert df2 == float(brute["df2"])


def test_route_chooser_flips_on_saturation(spark):
    varied = _docs(spark, _varied(200))
    saturated = _docs(spark, _saturated(200))
    assert dedup.choose_jaccard_route(varied) == "exact"
    assert dedup.choose_jaccard_route(saturated) == "lsh"
    # empty corpus: defined, exact (nothing to join either way)
    empty = _docs(spark, []).filter(F.lit(False))
    assert dedup.choose_jaccard_route(empty) == "exact"


def test_clean_corpus_auto_routes_and_matches_forced_routes(spark):
    """On a saturated corpus the default (auto) pipeline must take the
    LSH route AND return the exact route's survivor set — planted dups
    sit far above threshold, where banded-LSH recall ≈ 1."""
    texts = _saturated(60)
    # plant two exact-ish near-dup pairs with distinctive vocabulary
    base = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    texts += [base, base + " x13", "y1 y2 y3 y4 y5 y6 y7 y8"]
    docs = _docs(spark, texts)
    assert dedup.choose_jaccard_route(docs) == "lsh"

    auto = {r["doc_id"] for r in clean_corpus(docs).collect()}
    lsh = {r["doc_id"] for r in clean_corpus(docs, use_lsh=True).collect()}
    exact = {r["doc_id"] for r in clean_corpus(docs, use_lsh=False).collect()}
    assert auto == lsh == exact
    assert len(auto) > 0


def test_clean_corpus_auto_keeps_exact_at_gate_scale(spark, sf_dir):
    """Gate-scale fixtures stay BELOW the fan-out threshold:
    the default route is the exact oracle-verified baseline (q44's
    hash gate keeps meaning what it meant)."""
    docs = table(spark, sf_dir, "documents")
    kept = docs.filter(F.col("lang").isin(["en", "de", "fr"]))
    assert dedup.choose_jaccard_route(kept) == "exact"


def test_near_dup_pairs_routes_agree(spark):
    """The routed pair source returns the SAME (doc_a, doc_b) set on
    both routes — the invariant that lets q53/q97/q44 keep their exact
    oracles while auto-routing at scale."""
    texts = _saturated(80)
    base = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"
    texts += [base, base + " p13", base.replace("p1 ", "p1 p1 ")]
    docs = _docs(spark, texts)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.near_dup_pairs(docs, route="exact").collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.near_dup_pairs(docs, route="lsh").collect()
    }
    auto = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.near_dup_pairs(docs).collect()
    }
    assert exact == lsh == auto
    assert len(exact) > 0


# -- plan-shape guards: the properties that make these operators
# scale-safe must be visible in the physical plan, so a refactor that
# silently reintroduces a cartesian product, a full-corpus window, or
# a driver-side collapse fails here


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_jaccard_fast_path_has_no_string_shingle_shuffle(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, threshold=0.5)
    p = _plan(out)
    # The invariant: per-doc signing is ONE lazy Arrow stage whose long
    # keys feed the inverted-index join — no exploded shingle STRINGS
    # are ever hashed/shuffled, and the signing is not eagerly
    # materialized at call time (r7's eager localCheckpoint hid the
    # stage behind `Scan ExistingRDD` and serialized through the RDD
    # block manager — slower AND unguardable).
    assert "Scan ExistingRDD" not in p  # lazy: no pre-materialized RDD
    assert "ArrowEvalPython" in p or "PythonUDF" in p
    assert "xxhash64" not in p
    assert "CartesianProduct" not in p
    # every consumer reads the signing result from the columnar cache —
    # exactly one signing pass at execution time
    assert "InMemoryTableScan" in p
