"""Tests of the benchmark itself: seeded generators, span arithmetic, and
exact repetition of the deterministic per-layer counters.

    python3 -m pytest perfbench -q

The counter test runs the benchmark (a Spark session per run), so it
takes a few minutes; the others are pure Python.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from types import SimpleNamespace

import pytest

from perfbench import gen
from perfbench.trace import Span, Tracer, parse_sql_metric, self_times, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_trip_ids_unique_across_batches_and_repeat_per_seed():
    a, b = gen.TripGen(7), gen.TripGen(7)
    batches_a = [a.batch(500, range(0, 30)) for _ in range(3)]
    batches_b = [b.batch(500, range(0, 30)) for _ in range(3)]
    assert batches_a == batches_b
    ids = [r[0] for batch in batches_a for r in batch]
    assert len(ids) == len(set(ids)) == 1500
    assert {r[13] for batch in batches_a for r in batch} == {gen.day_str(d) for d in range(30)}
    assert gen.TripGen(8).batch(10, range(3)) != gen.TripGen(7).batch(10, range(3))


def test_jsonl_batch_model():
    from random import Random

    recs, expected = gen.jsonl_batch(gen.TripGen(3), 2000, Random(4))
    again = gen.jsonl_batch(gen.TripGen(3), 2000, Random(4))
    assert (recs, expected) == again
    invalid = [e for e in expected if isinstance(e, str)]
    assert set(invalid) == set(gen.ERROR_CLASSES)
    assert 0.07 < len(invalid) / len(expected) < 0.13
    for rec, exp in zip(recs, expected):
        if exp == "invalid_timestamp_order":
            assert rec["pickup_datetime"] > rec["dropoff_datetime"]
        if isinstance(exp, tuple):
            assert round(rec["total_amount"] * 100) == exp[2]


def test_doc_shards_record_injected_groups():
    rows, groups = gen.DocGen(5).shard(100, 6)
    rows2, groups2 = gen.DocGen(5).shard(100, 6)
    assert (rows, groups) == (rows2, groups2)
    text = {d: t for d, t, _ in rows}
    assert len(groups) == 6
    for original, copy, near in groups:
        assert text[original] == text[copy] != text[near]
        a, b = text[original].split(), text[near].split()
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 2
    # a generator's next shard is fresh: new ids, new texts
    g = gen.DocGen(5)
    first, _ = g.shard(100, 6)
    nxt, _ = g.shard(100, 6)
    assert [r[0] for r in nxt] == [r[0] + 100 for r in first]
    assert not {r[1] for r in nxt} & {r[1] for r in first}


def test_statements_are_seeded_but_keep_their_kinds():
    a, b = gen.analytics_statements(11, 28, 4), gen.analytics_statements(12, 28, 4)
    assert a == gen.analytics_statements(11, 28, 4)
    assert a != b and [k for k, _ in a] == [k for k, _ in b]
    days = {gen.day_str(d) for d in range(28)}
    for stmts in (a, b):
        for kind, params in stmts:
            assert {p for p in params if isinstance(p, str)} <= days
            if kind == "time_travel":
                assert 1 <= params[0] <= 2


def test_statement_deck_is_one_deck_across_clients():
    n = len(gen.analytics_statements(11, 28, 4))
    deck = gen.statement_deck(n)
    assert deck.count(0) > deck.count(n - 1) >= 1  # Zipf skew
    starts = [c * len(deck) // 4 for c in range(4)] + [len(deck)]
    first = [i for c in range(4) for i in gen.client_schedule(deck, c, 4, starts[c + 1] - starts[c])]
    assert sorted(first) == sorted(deck)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1)
    assert union_length([], 0, 1) == 0


def test_self_time_on_a_synthetic_span_tree():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("a.child", 2.0, 3.0, parent=1),
        Span("b", 3.5, 6.0, parent=0),  # overlaps a: a thread of its own
        Span("c", 8.0, 9.0, parent=0),
    ]
    st = self_times(spans)
    assert st == pytest.approx([10 - (5 + 1), 3 - 1, 1, 2.5, 1])


class _FakeSparkContext:
    """The few SparkContext calls `Tracer.span` makes, with no jobs."""

    def getLocalProperty(self, key):
        return None

    def setJobGroup(self, group, desc):
        pass

    def setLocalProperty(self, key, value):
        pass

    def statusTracker(self):
        return SimpleNamespace(getJobIdsForGroup=lambda group: [])

    _jsc = SimpleNamespace(sc=lambda: SimpleNamespace(statusStore=lambda: None))


def test_adopting_span_owns_spans_of_other_threads():
    # a streaming run hands its commits to the query's own thread: those
    # spans must count as its children, or its self time includes them
    tracer = Tracer(SimpleNamespace(sparkContext=_FakeSparkContext()))

    def commit():
        with tracer.span("append"):
            with tracer.span("cas"):
                time.sleep(0.02)

    with tracer.span("run", adopt=True):
        t = threading.Thread(target=commit)
        t.start()
        t.join()
    t = threading.Thread(target=commit)  # after the run: no parent
    t.start()
    t.join()
    names = [s.name for s in tracer.spans]
    parents = [s.parent for s in tracer.spans]
    assert names == ["run", "append", "cas", "append", "cas"]
    assert parents == [None, 0, 1, None, 3]
    st = tracer.layer_self_times()
    assert st["run"] < st["cas"] / 2


def test_parse_sql_metric():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n782.9 KiB (1 KiB)") == pytest.approx(782.9 * 1024)
    assert parse_sql_metric("total (min, med, max)\n922 ms (1 ms)") == pytest.approx(0.922)
    assert parse_sql_metric(None) == 0.0


DETERMINISTIC = {
    "analytics": ["spark.jobs", "spark.tasks", "lakehouse.table.files_planned"],
    "ingest": ["spark.jobs", "spark.tasks", "lakehouse.table.files_added"],
    "lifecycle": ["spark.jobs", "spark.tasks", "lakehouse.table.files_planned", "lakehouse.ivm.delta_rows"],
    "curation": ["spark.jobs", "spark.tasks", "operators.dedup.candidate_pairs"],
}


def _traced_counters(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"]
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(DETERMINISTIC))
def test_deterministic_counters_repeat_per_seed(workload):
    first, second = _traced_counters(workload, 5), _traced_counters(workload, 5)
    for name in DETERMINISTIC[workload]:
        assert first[name] == second[name] > 0, name
