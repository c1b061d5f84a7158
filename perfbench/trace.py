"""Traced-run recorder: spans and counters at each layer boundary.

Spans are kept in memory (name, start, end, parent, job group) and
written out when the run ends. Every span sets its own Spark job group
on the calling thread, so the jobs an action launches inside a span are
attributed to it; job, stage and task counters are then read from
Spark's status store through each job's ``stageIds``. Python-worker
traffic comes from the SQL metrics of the executions those jobs belong
to, and streaming micro-batch timings from a ``StreamingQueryListener``.

Layers the benchmark does not call directly (manifest planning inside
the SQL gateway, the commit CAS inside an append) are reached by
temporarily wrapping the package's public methods; ``Tracer.close``
puts the originals back. An untraced run uses ``NullTracer`` and
installs nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    jobs: list = field(default_factory=list)  # [(job_id, start_s, end_s)]


def union_length(intervals, lo: float, hi: float) -> float:
    """Total length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    return [
        (s.end - s.start)
        - union_length([(c.start, c.end) for c in children[i]], s.start, s.end)
        for i, s in enumerate(spans)
    ]


class NullTracer:
    """Untraced runs: spans and counters cost nothing and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, adopt: bool = False):
        yield None

    def add(self, name: str, value: float = 1.0) -> None:
        pass


_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str | None) -> float:
    """Total of a formatted SQL size/timing metric ('... \\n1.2 KiB (...)')."""
    if not text:
        return 0.0
    line = text.split("\n")[-1].strip()
    m = re.match(r"([\d.]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    value, unit = float(m.group(1)), m.group(2)
    return value * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._listener = None
        # span that adopts spans opened on threads with no open span of
        # their own (a streaming query's foreachBatch thread)
        self._adopter: int | None = None

    # -- spans and counters ------------------------------------------------
    def add(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[name] += value

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, adopt: bool = False):
        """A span on the calling thread's stack. With `adopt`, spans that
        other threads open while it is open and that have no parent on
        their own thread become its children, so its self time excludes
        work it hands to those threads."""
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            parent = stack[-1] if stack else self._adopter
            sp = Span(name, time.time(), parent=parent, group=f"perfbench-{idx}")
            self.spans.append(sp)
            if adopt:
                prev_adopter, self._adopter = self._adopter, idx
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(sp.group, name)
        stack.append(idx)
        try:
            yield idx
        finally:
            sp.end = time.time()
            stack.pop()
            if adopt:
                with self._lock:
                    self._adopter = prev_adopter
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            sp.jobs = self._group_jobs(sp.group)

    def _group_jobs(self, group: str) -> list:
        store = self.sc._jsc.sc().statusStore()
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
            end = done.get().getTime() / 1000 if done.isDefined() else time.time()
            out.append((jid, start, end))
        return out

    # -- wrapping package entry points ----------------------------------------
    def wrap(self, owner, attr: str, span_name: str | None, after=None, before=None) -> None:
        """Replace `owner.attr` with a version that runs inside a span
        (none if `span_name` is None) and calls
        `after(result, args, before(args))` for counters."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            state = before(args) if before is not None else None
            if span_name is None:
                result = original(*args, **kwargs)
            else:
                with tracer.span(span_name):
                    result = original(*args, **kwargs)
            if after is not None:
                after(result, args, state)
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def listen_streaming(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs
                batch = d.get("triggerExecution", 0) / 1000
                add = d.get("addBatch", 0) / 1000
                tracer.add("streaming.taxi.batches")
                tracer.add("streaming.taxi.batch_s", batch)
                tracer.add("streaming.taxi.add_batch_s", add)
                tracer.add("streaming.taxi.trigger_overhead_s", batch - add)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- reports -----------------------------------------------------------------
    def layer_self_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sp, st in zip(self.spans, self_times(self.spans)):
            out[sp.name] += st
        return dict(out)

    def spark_counters(self, top_level: str, by_time: bool = False) -> dict[str, float]:
        """Job/stage/task and executor counters of the jobs each `top_level`
        span launched, plus driver time: the span's wall minus the union of
        those jobs' intervals. Jobs belong to a span through the job groups
        of its subtree, or, with `by_time` (one client, so nothing else
        runs), through their submission time; the latter also catches jobs
        a streaming query's own thread launches under its own group."""
        store = self.sc._jsc.sc().statusStore()
        subtree_jobs: dict[int, list] = defaultdict(list)
        if by_time:
            listed = store.jobsList(None)
            all_jobs = []
            for k in range(listed.size()):
                jd = listed.apply(k)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    all_jobs.append((jd.jobId(), sub.get().getTime() / 1000, done.get().getTime() / 1000))
            for i, sp in enumerate(self.spans):
                if sp.name == top_level:
                    subtree_jobs[i] = [j for j in all_jobs if sp.start <= j[1] <= sp.end]
        else:
            for i, sp in enumerate(self.spans):
                root = i
                while self.spans[root].parent is not None:
                    root = self.spans[root].parent
                subtree_jobs[root].extend(sp.jobs)
        c: dict[str, float] = defaultdict(float)
        stages_seen: set[int] = set()
        job_ids: set[int] = set()
        for i, sp in enumerate(self.spans):
            if sp.name != top_level:
                continue
            jobs = subtree_jobs[i]
            c["spark.driver_s"] += (sp.end - sp.start) - union_length(
                [(s, e) for _, s, e in jobs], sp.start, sp.end
            )
            job_ids.update(j for j, _, _ in jobs)
        for jid in sorted(job_ids):
            c["spark.jobs"] += 1
            ids = store.job(jid).stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in stages_seen:
                    continue
                stages_seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["spark.stages"] += 1
                c["spark.tasks"] += sd.numCompleteTasks()
                c["spark.executor_run_s"] += sd.executorRunTime() / 1000
                c["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spark.input_bytes"] += sd.inputBytes()
        c.update(self._pyworker(job_ids))
        return dict(c)

    def _pyworker(self, job_ids: set[int]) -> dict[str, float]:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        wanted = {
            "data sent to Python workers": "pyworker.bytes_to_python",
            "data returned from Python workers": "pyworker.bytes_from_python",
            "time to run Python workers": "pyworker.eval_s",
        }
        out = {v: 0.0 for v in wanted.values()}
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            keys = e.jobs().keySet().iterator()
            ejobs = set()
            while keys.hasNext():
                ejobs.add(int(keys.next()))
            if not ejobs & job_ids:
                continue
            values = sql.executionMetrics(e.executionId())
            seen = set()
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                name = wanted.get(m.name())
                if name is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                out[name] += parse_sql_metric(v.get() if v.isDefined() else None)
        return out

    def layer_job_counts(self) -> dict[str, float]:
        """Spark jobs launched directly under each span name (not children)."""
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += len(sp.jobs)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
