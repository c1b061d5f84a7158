"""TermStatsIndex: batched-incremental statistics must equal a
from-scratch aggregation bit-for-bit, ingest must be exactly-once
(WAP audit), and reads must be snapshot-consistent."""

from __future__ import annotations

from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.lakehouse.term_index import (
    TermStatsIndex,
)
from de_gcp_lakehouse_iceberg_spark.plans import QUERIES


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )


def test_incremental_equals_fromscratch(spark, tmp_path):
    rows = [
        (1, "en", "spark sort merge sort"),
        (2, "en", "merge window"),
        (3, "fr", "sort sort sort"),
        (4, "en", "spark"),
    ]
    docs = _docs(spark, rows)
    idx = TermStatsIndex.create(spark, str(tmp_path / "ti"))
    idx.ingest(docs.filter("doc_id <= 2"))
    idx.ingest(docs.filter("doc_id > 2"))

    ts = {
        (r["lang"], r["term"]): r["df"]
        for r in idx.term_stats().collect()
    }
    # df counts DOCUMENTS, not occurrences
    assert ts[("en", "sort")] == 1
    assert ts[("en", "merge")] == 2
    assert ts[("en", "spark")] == 2
    assert ts[("fr", "sort")] == 1

    ls = {r["lang"]: (r["n_docs"], r["sum_len"]) for r in idx.lang_stats().collect()}
    assert ls["en"] == (3, 7)  # 4 + 2 + 1 tokens
    assert ls["fr"] == (1, 3)

    # one-shot ingest into a fresh index gives identical stats
    idx2 = TermStatsIndex.create(spark, str(tmp_path / "ti2"))
    idx2.ingest(docs)
    ts2 = {
        (r["lang"], r["term"]): r["df"]
        for r in idx2.term_stats().collect()
    }
    assert ts2 == ts


def test_snapshot_consistency_and_time_travel(spark, tmp_path):
    idx = TermStatsIndex.create(spark, str(tmp_path / "ti"))
    r1 = idx.ingest(_docs(spark, [(1, "en", "a b")]))
    idx.ingest(_docs(spark, [(2, "en", "a c")]))
    old = {
        r["term"]: r["df"]
        for r in idx.term_stats(version=r1["version"]).collect()
    }
    now = {r["term"]: r["df"] for r in idx.term_stats().collect()}
    assert old == {"a": 1, "b": 1}
    assert now == {"a": 2, "b": 1, "c": 1}


def test_wap_stays_invisible_until_published(spark, tmp_path):
    idx = TermStatsIndex.create(spark, str(tmp_path / "ti"))
    idx.ingest(_docs(spark, [(1, "en", "x y")]))
    deltas = idx._deltas(
        _docs(spark, [(2, "en", "z")]), "text", "lang", "doc_id"
    )
    wap_id = idx.table.stage_append(deltas)
    # staged rows are invisible to readers until publish
    assert {r["term"] for r in idx.term_stats().collect()} == {"x", "y"}
    idx.table.discard_staged(wap_id)
    assert {r["term"] for r in idx.term_stats().collect()} == {"x", "y"}


def test_ingest_batching_shape_is_bit_identical(spark, tmp_path):
    """Same docs, different batchings → identical FULL delta rollups
    (the abelian property q112 relies on)."""
    rows = [(i, "en" if i % 2 else "de", f"w{i % 3} w{i % 5} w{i % 3}") for i in range(20)]
    a = TermStatsIndex.create(spark, str(tmp_path / "a"))
    b = TermStatsIndex.create(spark, str(tmp_path / "b"))
    docs = _docs(spark, rows)
    a.ingest(docs)
    for k in range(4):
        b.ingest(docs.filter(F.col("doc_id") % 4 == k))
    assert sorted(map(tuple, a.term_stats().collect())) == sorted(
        map(tuple, b.term_stats().collect())
    )
    assert sorted(map(tuple, a.lang_stats().collect())) == sorted(
        map(tuple, b.lang_stats().collect())
    )


def test_compact_stats_is_bit_identical_and_time_travels(spark, tmp_path):
    idx = TermStatsIndex.create(spark, str(tmp_path / "ti"))
    for k in range(5):
        idx.ingest(
            _docs(spark, [(k, "en", f"w{k % 2} common"), (100 + k, "fr", "fr common")])
        )
    before_t = sorted(map(tuple, idx.term_stats().collect()))
    before_l = sorted(map(tuple, idx.lang_stats().collect()))
    pre_rows = idx.table.scan().count()
    res = idx.compact_stats()
    # folded: one row per (lang, term) + one per lang
    assert idx.table.scan().count() < pre_rows
    assert sorted(map(tuple, idx.term_stats().collect())) == before_t
    assert sorted(map(tuple, idx.lang_stats().collect())) == before_l
    # pre-compaction version still readable (time travel preserved)
    old = sorted(
        map(tuple, idx.term_stats(version=res["from_version"]).collect())
    )
    assert old == before_t
    # ingest keeps working after compaction
    idx.ingest(_docs(spark, [(999, "en", "brandnew")]))
    ts = {(r["lang"], r["term"]): r["df"] for r in idx.term_stats().collect()}
    assert ts[("en", "brandnew")] == 1 and ts[("en", "common")] == 5


def test_bm25_from_index_scores_missing_terms_like_direct(
    spark, sf_dir, monkeypatch
):
    """ADVICE r8: a query term absent from the stored index must score
    with the finite df=0 idf — exactly what the direct path (q107)
    computes — not NULL out every bm25 score."""
    from de_gcp_lakehouse_iceberg_spark.plans import (
        bm25_index_query as biq,
        bm25_query as bq,
    )

    terms = ["merge", "zzz_not_in_any_doc"]
    monkeypatch.setattr(bq, "_TERMS", terms)
    monkeypatch.setattr(biq, "_TERMS", terms)
    direct = bq.q107_bm25_topk(spark, sf_dir).collect()
    stored = biq.q113_bm25_from_index(spark, sf_dir).collect()
    assert len(direct) == len(stored) > 0
    assert all(r["bm25"] is not None for r in stored)
    assert [tuple(r) for r in direct] == [tuple(r) for r in stored]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tfidf_and_bm25_use_no_window(spark, sf_dir_medium):
    """Per-group top-k must run through the bounded-state two-phase
    kernel — a Window over the corpus would sort whole partitions."""
    for q in ("q105_tfidf_terms", "q107_bm25_topk"):
        plan = _plan(QUERIES[q](spark, sf_dir_medium))
        assert "Window" not in plan, f"{q} regressed to a Window plan"


def test_bm25_stats_are_broadcast(spark, sf_dir_medium):
    """Corpus stats (idf row, avgdl row) must reach the scoring join
    as broadcasts — a shuffle join against a 1-row side is the
    anti-pattern."""
    plan = _plan(QUERIES["q107_bm25_topk"](spark, sf_dir_medium))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
