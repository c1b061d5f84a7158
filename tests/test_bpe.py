"""BPE merge learning: Spark pipeline vs an independent pure-Python
reference implementation, greedy application semantics, and the
pairs+words==tokens identity the one-aggregate-per-iteration
optimization relies on."""

from __future__ import annotations

from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.operators.bpe import (
    bpe_apply,
    bpe_learn,
    word_frequencies,
)


# ---------------------------------------------------------------- reference
def _ref_bpe(word_freq: dict[str, int], n_merges: int):
    """Straight-line reference: symbols as tuples, overlap-inclusive
    pair counting (zip convention), greedy left-to-right application."""
    vocab = {tuple(w): f for w, f in word_freq.items()}
    merges = []
    for step in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (lhs, rhs), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == lhs
                    and syms[i + 1] == rhs
                ):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
        tokens_after = sum(len(s) * f for s, f in vocab.items())
        merges.append((step, lhs, rhs, cnt, tokens_after))
    return merges


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_learn_matches_reference(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest wide wide wide",
        "low newer wide wide",
    ]
    docs = _docs(spark, texts)
    wf = {
        r["word"]: r["freq"]
        for r in word_frequencies(docs).collect()
    }
    expected = _ref_bpe(wf, 6)
    got = [
        (r.step, r.lhs, r.rhs, r.pair_count, r.tokens_after)
        for r in bpe_learn(spark, docs, n_merges=6).collect()
    ]
    assert got == expected


def test_learn_stops_when_fully_merged(spark):
    docs = _docs(spark, ["ab ab ab"])
    rows = bpe_learn(spark, docs, n_merges=10).collect()
    # one word of two symbols: exactly one merge possible
    assert len(rows) == 1
    assert (rows[0].lhs, rows[0].rhs) == ("a", "b")
    assert rows[0].tokens_after == 3  # three occurrences, one token each


def test_apply_greedy_non_overlapping(spark):
    df = spark.createDataFrame([("a a a aa",)], "text string")
    toks = df.select(
        bpe_apply("text", [("a", "a")]).alias("t")
    ).collect()[0]["t"]
    # words are independent: 'a','a','a' are separate words (no pairs
    # cross spaces); 'aa' is a word of symbols a,a -> merged
    assert toks == ["a", "a", "a", "aa"]

    df2 = spark.createDataFrame([("aaa",)], "text string")
    toks2 = df2.select(
        bpe_apply("text", [("a", "a")]).alias("t")
    ).collect()[0]["t"]
    # greedy left-to-right within the word: aa + a, NOT a + aa
    assert toks2 == ["aa", "a"]


def test_apply_respects_merge_order(spark):
    df = spark.createDataFrame([("abc abc",)], "text string")
    toks = df.select(
        bpe_apply("text", [("a", "b"), ("ab", "c")]).alias("t")
    ).collect()[0]["t"]
    assert toks == ["abc", "abc"]


def test_tokens_after_matches_applied_corpus(spark):
    texts = ["spark spark shuffle shuffle sort", "spark sort sort merge"]
    docs = _docs(spark, texts)
    learned = bpe_learn(spark, docs, n_merges=4).collect()
    merges = [(r.lhs, r.rhs) for r in learned]
    applied_total = docs.select(
        F.size(bpe_apply("text", merges)).alias("n")
    ).agg(F.sum("n").alias("t")).collect()[0]["t"]
    assert applied_total == learned[-1].tokens_after


def test_learn_matches_reference_property(spark):
    """Randomized corpora (tiny alphabet maximizes merge collisions
    and tie-breaks) must match the pure-Python reference exactly."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="ab", min_size=1, max_size=4)
    doc = st.lists(word, min_size=1, max_size=6).map(" ".join)
    corpus = st.lists(doc, min_size=1, max_size=4)

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(corpus)
    def inner(texts):
        docs = _docs(spark, texts)
        wf = {
            r["word"]: r["freq"] for r in word_frequencies(docs).collect()
        }
        expected = _ref_bpe(wf, 3)
        got = [
            (r.step, r.lhs, r.rhs, r.pair_count, r.tokens_after)
            for r in bpe_learn(spark, docs, n_merges=3).collect()
        ]
        assert got == expected

    inner()


# ------------------------------------------------- batched reference
def _ref_bpe_batched(
    word_freq: dict[str, int],
    n_merges: int,
    merges_per_pass: int,
):
    """Pure-Python replay of bpe_learn(merges_per_pass=M)'s exact spec:
    per pass, top 4·M pairs in (count DESC, lhs, rhs) order →
    select_compatible_merges → one commuting rewrite; tokens_after
    falls by each merge's greedy applied count in batch order."""
    from de_gcp_lakehouse_iceberg_spark.operators.bpe import (
        select_compatible_merges,
    )

    vocab = {tuple(w): f for w, f in word_freq.items()}
    tokens = sum(len(s) * f for s, f in vocab.items())
    merges = []

    def _apply_one(syms, lhs, rhs):
        out, i, applied = [], 0, 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                out.append(lhs + rhs)
                i += 2
                applied += 1
            else:
                out.append(syms[i])
                i += 1
        return tuple(out), applied

    while len(merges) < n_merges:
        want = min(merges_per_pass, n_merges - len(merges))
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        cand = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[: 4 * merges_per_pass]
        batch = select_compatible_merges(
            [(l, r, c) for (l, r), c in cand], want
        )
        for lhs, rhs, cnt in batch:
            applied_total = 0
            new_vocab: dict[tuple, int] = {}
            for syms, f in vocab.items():
                out, applied = _apply_one(syms, lhs, rhs)
                new_vocab[out] = new_vocab.get(out, 0) + f
                applied_total += applied * f
            vocab = new_vocab
            tokens -= applied_total
            merges.append((len(merges), lhs, rhs, cnt, tokens))
    return merges


def _rich_corpus():
    """Seeded synthetic corpus with a vocabulary deep enough for 256+
    real merges (the driver fixture's 31-word vocab exhausts at ~89)."""
    import random

    rng = random.Random(7)
    alphabet = "abcdefghij"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(5, 12)))
        for _ in range(700)
    ]
    texts = []
    for i in range(400):
        k = rng.randint(6, 14)
        texts.append(" ".join(rng.choice(words) for _ in range(k)))
    return texts


def test_learn_256_merges_matches_reference_with_checkpointing(spark):
    """VERDICT r8 #5 gate: ≥256 sequential merges, lineage-checkpointed
    every 16, must equal the independent pure-Python reference merge
    for merge — and per-merge wall must stay flat (sublinear in the
    merge index), which the checkpointing is for."""
    import time

    texts = _rich_corpus()
    docs = _docs(spark, texts)
    wf = {r["word"]: r["freq"] for r in word_frequencies(docs).collect()}
    expected = _ref_bpe(wf, 256)
    assert len(expected) == 256  # corpus really supports 256 merges
    t0 = time.perf_counter()
    got = [
        (r.step, r.lhs, r.rhs, r.pair_count, r.tokens_after)
        for r in bpe_learn(
            spark, docs, n_merges=256, checkpoint_every=16
        ).collect()
    ]
    wall = time.perf_counter() - t0
    assert got == expected
    # generous CI bound; without checkpointing the replace-chain makes
    # late merges ~10x early ones and this blows past 256 s
    assert wall / 256 < 1.0, f"per-merge wall {wall / 256:.3f}s"


def test_learn_batched_matches_batched_reference(spark):
    """merges_per_pass=8: the batched spec (documented approximation)
    replayed exactly by the pure-Python reference, with exact integer
    tokens_after per merge."""
    texts = _rich_corpus()
    docs = _docs(spark, texts)
    wf = {r["word"]: r["freq"] for r in word_frequencies(docs).collect()}
    expected = _ref_bpe_batched(wf, 256, merges_per_pass=8)
    got = [
        (r.step, r.lhs, r.rhs, r.pair_count, r.tokens_after)
        for r in bpe_learn(
            spark, docs, n_merges=256, checkpoint_every=32,
            merges_per_pass=8,
        ).collect()
    ]
    assert got == expected
    assert len(got) == 256


def test_checkpointing_does_not_change_small_runs(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest wide wide wide",
    ]
    docs = _docs(spark, texts)
    a = [tuple(r) for r in bpe_learn(spark, docs, n_merges=6).collect()]
    b = [
        tuple(r)
        for r in bpe_learn(
            spark, docs, n_merges=6, checkpoint_every=2
        ).collect()
    ]
    assert a == b


def test_bpe_driver_route_equals_distributed(spark):
    """The size-gated driver-side sequential merge loop must return
    the exact rows of the distributed incremental learner (and both
    the r14 full-recount semantics, via the existing reference-replay
    pins in test_bpe.py)."""
    from de_gcp_lakehouse_iceberg_spark.operators.bpe import bpe_learn

    docs = spark.createDataFrame(
        [
            ("low low lower lowest",),
            ("new newer newest low",),
            ("wider wide widest new new",),
            ("a ab abc abcd abcd ab",),
        ],
        "text string",
    )
    local = [
        tuple(r)
        for r in bpe_learn(spark, docs, n_merges=6).collect()
    ]
    dist = [
        tuple(r)
        for r in bpe_learn(
            spark, docs, n_merges=6, driver_vocab_max=0
        ).collect()
    ]
    assert local == dist and len(local) == 6
    # exhausting every pair must terminate identically on both routes
    tiny = spark.createDataFrame([("ab ab",)], "text string")
    a = [tuple(r) for r in bpe_learn(spark, tiny, n_merges=10).collect()]
    b = [
        tuple(r)
        for r in bpe_learn(
            spark, tiny, n_merges=10, driver_vocab_max=0
        ).collect()
    ]
    assert a == b


def test_bpe_byte_gate_takes_distributed_route(spark, monkeypatch):
    """A vocabulary under the word bound but over the byte bound (a few
    very long tokens) skips the driver route and learns the same
    merges distributed."""
    from de_gcp_lakehouse_iceberg_spark.operators import bpe

    docs = spark.createDataFrame(
        [("abcab" * 40 + " " + "cabba" * 30 + " abab abab",)], "text string"
    )
    want = [tuple(r) for r in bpe.bpe_learn(spark, docs, n_merges=5).collect()]
    routes = []
    real = bpe._learn_sequential

    def distributed(*a, **kw):
        routes.append("distributed")
        return real(*a, **kw)

    monkeypatch.setattr(bpe, "_learn_sequential", distributed)
    monkeypatch.setattr(bpe, "DRIVER_VOCAB_MAX_BYTES", 100)
    got = [tuple(r) for r in bpe.bpe_learn(spark, docs, n_merges=5).collect()]
    assert routes == ["distributed"]
    assert got == want and len(got) == 5
