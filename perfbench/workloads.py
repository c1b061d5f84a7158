"""The four benchmark workloads.

Each workload builds its state in `setup` (warm-up included, so caches
and code generation are settled before timing), runs closed-loop
operations through `op`, and checks the program's outputs in `verify`.
An op returns an `OpResult` with its latency samples by kind, the items
it completed and its failed checks. All package calls go through the
public functions the benchmark measures; spans name the layer called.
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from decimal import Decimal
from random import Random

from . import gen


@dataclass
class OpResult:
    samples: dict[str, list[float]] = field(default_factory=dict)
    items: int = 0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    rate: float = 0.0  # items/s of concurrent clients, summed; 0 for one client

    def sample(self, kind: str, seconds: float) -> None:
        self.samples.setdefault(kind, []).append(seconds)

    def merge(self, other: "OpResult") -> None:
        for kind, xs in other.samples.items():
            self.samples.setdefault(kind, []).extend(xs)
        self.items += other.items
        self.attempted += other.attempted
        self.failures += other.failures
        self.rate += other.rate


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def norm_rows(rows) -> list[tuple]:
    """Rows as tuples of plain values, sorted by their non-float fields
    (every statement's group key). Order is not compared: a double SUM
    can differ between engines in its last bits, which may swap two
    equal-revenue rows of an ORDER BY."""
    out = [tuple(_norm(v) for v in r) for r in rows]
    return sorted(out, key=lambda r: repr([v for v in r if not isinstance(v, float)]))


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Equal rows, floats within 1e-9 relative: sums and averages of cent
    values may land exactly on a rounding boundary, so no rounding."""
    return len(got) == len(want) and all(
        len(g) == len(w)
        and all(
            math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9) if isinstance(a, float) or isinstance(b, float) else a == b
            for a, b in zip(g, w)
        )
        for g, w in zip(got, want)
    )


class Workload:
    clients = 1
    primary = ""  # sample kind of the workload's latency (`<kind>_p50_s`)

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.input_bytes = 0
        self.stored_bytes = 0

    def verify(self) -> list[str]:
        """Checks that need the whole run; per-operation checks live in `op`."""
        return []


# ---------------------------------------------------------------------------
# analytics: read-only BigQuery-dialect statements through the SQL gateway


ANALYTICS_SQL = {
    "dashboard": (
        "SELECT pickup_location_id, pickup_date, COUNT(*) AS trips, "
        "SUM(total_amount) AS revenue, AVG(trip_distance) AS avg_distance "
        "FROM `proj.taxi.taxi_trips` WHERE pickup_date BETWEEN '{0}' AND '{1}' "
        "AND pickup_location_id IN ({2}) GROUP BY pickup_location_id, pickup_date "
        "ORDER BY revenue DESC, pickup_location_id, pickup_date LIMIT 100"
    ),
    "day_count": "SELECT COUNT(*) AS trips FROM taxi_trips WHERE pickup_date = '{0}'",
    "rank_cte": (
        "WITH daily AS (SELECT pickup_location_id AS loc, pickup_date AS d, "
        "COUNT(*) AS n FROM taxi_trips WHERE pickup_date BETWEEN '{0}' AND '{1}' "
        "GROUP BY pickup_location_id, pickup_date), "
        "tot AS (SELECT loc, SUM(n) AS total FROM daily GROUP BY loc) "
        "SELECT a.d, a.loc, a.n, t.total, "
        "RANK() OVER (PARTITION BY a.d ORDER BY a.n DESC) AS rnk "
        "FROM daily a JOIN tot t ON a.loc = t.loc "
        "QUALIFY RANK() OVER (PARTITION BY a.d ORDER BY a.n DESC) <= 3"
    ),
    "time_travel": (
        "SELECT payment_type, COUNT(*) AS trips, SUM(tip_amount) AS tips "
        "FROM taxi_trips FOR SYSTEM_TIME AS OF '{0}' GROUP BY payment_type"
    ),
    "zone_join": (
        "SELECT z.borough, COUNT(*) AS trips, SUM(t.total_amount) AS revenue "
        "FROM taxi_trips t JOIN taxi_zones z ON t.pickup_location_id = z.zone_id "
        "WHERE t.pickup_date BETWEEN '{0}' AND '{1}' GROUP BY z.borough"
    ),
    "files_meta": (
        "SELECT COUNT(*) AS files, SUM(row_count) AS row_total, "
        "SUM(size_bytes) AS bytes FROM taxi_trips.files"
    ),
}


class Analytics(Workload):
    primary = "query"
    n_appends = 4
    days_per_append = 7
    rows_per_append = 6000
    write_partitions = 2  # files per append = days x partitions

    def __init__(self, spark, seed, work, tracer, clients: int):
        super().__init__(spark, seed, work, tracer)
        self.clients = clients

    def _append_batches(self) -> list[list[tuple]]:
        g = gen.TripGen(self.seed, "a")
        out = []
        for k in range(self.n_appends):
            d0 = k * self.days_per_append
            out.append(g.batch(self.rows_per_append, range(d0, d0 + self.days_per_append)))
        return out

    def oracle(self) -> None:
        """Expected rows of every distinct statement, from DuckDB over
        the same generated rows (computed before Spark starts)."""
        import duckdb
        import pandas as pd

        self.batches = self._append_batches()
        frames = []
        for k, b in enumerate(self.batches):
            pdf = gen.trips_pandas(b)
            pdf["_append"] = k
            frames.append(pdf)
        trips = pd.concat(frames, ignore_index=True)
        zones = pd.DataFrame(gen.zone_rows(), columns=["zone_id", "zone_name", "borough"])
        con = duckdb.connect()
        con.register("taxi_trips", trips)
        con.register("taxi_zones", zones)
        self.statements = gen.analytics_statements(self.seed, self.n_appends * self.days_per_append, self.n_appends)
        self.deck = gen.statement_deck(len(self.statements))
        self.expected = []
        for kind, params in self.statements:
            if kind == "files_meta":
                self.expected.append(None)  # from the manifest, after setup
                continue
            if kind == "time_travel":
                q = (
                    "SELECT payment_type, COUNT(*) AS trips, SUM(tip_amount) AS tips "
                    f"FROM taxi_trips WHERE _append <= {params[0]} GROUP BY payment_type"
                )
            else:
                q = self._text(kind, params).replace("`proj.taxi.taxi_trips`", "taxi_trips")
            self.expected.append(norm_rows(con.execute(q).fetchall()))
        con.close()

    def _text(self, kind: str, params: tuple) -> str:
        if kind == "dashboard":
            return ANALYTICS_SQL[kind].format(params[0], params[1], ", ".join(map(str, params[2])))
        if kind == "time_travel":
            return ANALYTICS_SQL[kind].format(self.snapshot_ts[params[0]])
        return ANALYTICS_SQL[kind].format(*params)

    def setup(self) -> None:
        from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable

        schema = gen.TRIP_DDL
        self.root = os.path.join(self.work, "taxi_trips")
        table = LakeTable.create(self.spark, self.root, partition_by=["pickup_date"])
        self.snapshot_ts = []
        for b in self.batches:
            df = self.spark.createDataFrame(gen.trips_pandas(b), schema).repartition(self.write_partitions)
            snap = table.append(df)
            ts = datetime.fromtimestamp(snap.timestamp_ms / 1000, timezone.utc)
            self.snapshot_ts.append(ts.isoformat(timespec="milliseconds"))
        snap = table.snapshot()
        for i, (kind, _) in enumerate(self.statements):
            if kind == "files_meta":
                # row total from the generator; file count and bytes only the manifest knows
                self.expected[i] = [(len(snap.files), sum(map(len, self.batches)), snap.total_bytes)]
        self.texts = [self._text(k, p) for k, p in self.statements]
        self.gateways = [self._gateway() for _ in range(self.clients)]
        # warm-up: every distinct statement once, spread over the clients
        n = len(self.texts)
        self._parallel(lambda c: [self._query(c, i) for i in range(c, n, self.clients)])

    def _gateway(self):
        from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable
        from de_gcp_lakehouse_iceberg_spark.sql_gateway import SqlGateway

        # one session per client: the gateway registers temp views by
        # table name, which must not race between concurrent statements
        sess = self.spark.newSession()
        zones = sess.createDataFrame(gen.zone_rows(), "zone_id long, zone_name string, borough string")
        return SqlGateway(sess, {"taxi_trips": LakeTable.load(sess, self.root), "taxi_zones": zones})

    def _parallel(self, fn) -> list:
        results = [None] * self.clients
        errors = []

        def run(c):
            try:
                results[c] = fn(c)
            except Exception as exc:  # surfaced below, after every client stopped
                errors.append(exc)

        threads = [threading.Thread(target=run, args=(c,)) for c in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return results

    def _query(self, client: int, i: int) -> list:
        return self.gateways[client].sql(self.texts[i]).collect()

    def run_clients(self, deadline: float | None, per_client: int | None) -> OpResult:
        """Closed loop: every client sends its next statement when the
        previous reply arrived, until the deadline or `per_client` ops."""
        def client(c: int) -> OpResult:
            res = OpResult()
            start = last = time.perf_counter()
            sched = gen.client_schedule(self.deck, c, self.clients, per_client or 100000)
            for i in sched:
                if deadline is not None and time.perf_counter() >= deadline:
                    break
                res.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self.tr.span("op"):
                        rows = self._query(c, i)
                except Exception as exc:  # one failed statement must not stop the client
                    res.failures.append(f"{self.statements[i][0]}: {exc!r}")
                    continue
                last = time.perf_counter()
                res.sample("query", last - t0)
                res.items += 1
                if not rows_match(norm_rows(rows), self.expected[i]):
                    res.failures.append(f"{self.statements[i][0]}{self.statements[i][1]}: rows differ from DuckDB")
            # the client's own rate, up to its last reply: clients that
            # finish early do not wait on the slowest one's last statement
            res.rate = res.items / (last - start) if res.items else 0.0
            return res

        merged = OpResult()
        for r in self._parallel(client):
            merged.merge(r)
        return merged


# ---------------------------------------------------------------------------
# ingest: streaming JSONL → validate → three-sink commits, plus maintenance


class Ingest(Workload):
    primary = "microbatch"
    files_per_cycle = 5
    rows_per_file = 1000

    def __init__(self, spark, seed, work, tracer):
        super().__init__(spark, seed, work, tracer)
        self.gen = gen.TripGen(seed, "i")
        self.rng = Random(seed + 1)
        self.cycles: list[dict] = []

    def _write_inputs(self, cycle: str, files: int, rows: int) -> dict:
        in_dir = os.path.join(self.work, f"in_{cycle}")
        os.makedirs(in_dir)
        model = {"valid": 0, "invalid": 0, "windows": 0, "cents": 0, "bytes": 0}
        for f in range(files):
            recs, expected = gen.jsonl_batch(self.gen, rows, self.rng)
            model["bytes"] += gen.write_jsonl(recs, os.path.join(in_dir, f"part_{f:03d}.jsonl"))
            valid = [e for e in expected if isinstance(e, tuple)]
            model["valid"] += len(valid)
            model["invalid"] += len(expected) - len(valid)
            model["windows"] += len({(w, loc) for w, loc, _ in valid})
            model["cents"] += sum(c for _, _, c in valid)
        return {"in": in_dir, "wh": os.path.join(self.work, f"wh_{cycle}"), "model": model}

    def setup(self) -> None:
        # warm-up cycle (one small file) so class loading and codegen are done
        self._cycle(self._write_inputs("warm", 1, 500), OpResult())

    def op(self, i: int) -> OpResult:
        res = OpResult()
        c = self._write_inputs(str(i), self.files_per_cycle, self.rows_per_file)
        self._cycle(c, res)
        self.cycles.append(c)
        m = c["model"]
        res.items = m["valid"] + m["invalid"]
        res.attempted = self.files_per_cycle
        self.input_bytes += m["bytes"]
        return res

    def _cycle(self, c: dict, res: OpResult) -> None:
        from de_gcp_lakehouse_iceberg_spark.lakehouse import Warehouse, maintenance
        from de_gcp_lakehouse_iceberg_spark.streaming.taxi import run_streaming_pipeline

        t0 = time.time()
        # the sinks commit on the query's own thread: adopt those spans
        with self.tr.span("streaming.taxi.run", adopt=True):
            counts = run_streaming_pipeline(self.spark, c["in"], c["wh"], max_files_per_trigger=1)
        t1 = time.time()
        wh = Warehouse(self.spark, c["wh"])
        tables = {n: wh.table(n) for n in ("taxi_trips", "processing_errors", "windowed_trip_stats")}
        # file-to-committed-snapshot time per micro-batch, from the commit
        # timestamps the sinks recorded
        ends: dict[str, float] = {}
        for t in tables.values():
            for s in t.snapshots():
                if s.operation.startswith("stream_batch_"):
                    ends[s.operation] = max(ends.get(s.operation, 0), s.timestamp_ms / 1000)
        # the first batch also carries the query's start, kept apart so the
        # micro-batch median is not a mix of two populations
        marks = [t0] + sorted(ends.values())
        res.sample("stream_start", marks[1] - marks[0])
        for prev, end in zip(marks[1:], marks[2:]):
            res.sample("microbatch", end - prev)
        res.sample("stream", t1 - t0)
        trips = tables["taxi_trips"]
        rows_before = trips.snapshot().total_rows
        m0 = time.perf_counter()
        maintenance.compact(trips)
        maintenance.expire_snapshots(trips, retention_days=0)
        maintenance.rewrite_manifests(trips, retention_days=0)
        res.sample("maintenance", time.perf_counter() - m0)
        c["counts"] = counts
        c["rows_after_maintenance"] = trips.snapshot().total_rows
        c["rows_before_maintenance"] = rows_before
        c["batches"] = len(ends)

    def verify(self) -> list[str]:
        from pyspark.sql import functions as F

        from de_gcp_lakehouse_iceberg_spark.lakehouse import Warehouse

        errors = []
        for i, c in enumerate(self.cycles):
            m, counts = c["model"], c["counts"]
            wh = Warehouse(self.spark, c["wh"])
            trips = wh.table("taxi_trips")
            if c["batches"] != self.files_per_cycle:
                errors.append(f"cycle {i}: {c['batches']} micro-batches, expected {self.files_per_cycle}")
            if (counts["valid"], counts["invalid"], counts["window_rows"]) != (m["valid"], m["invalid"], m["windows"]):
                errors.append(f"cycle {i}: counts {counts} != model {m}")
            if not (c["rows_before_maintenance"] == c["rows_after_maintenance"] == trips.scan().count() == m["valid"]):
                errors.append(f"cycle {i}: row count changed by maintenance")
            stats = wh.table("windowed_trip_stats").scan().agg(
                F.sum("trip_count").alias("n"), F.sum("total_revenue").alias("rev")
            ).first()
            if stats["n"] != m["valid"] or round(float(stats["rev"]) * 100) != m["cents"]:
                errors.append(f"cycle {i}: window stats {stats} != model ({m['valid']}, {m['cents']})")
            self.stored_bytes += sum(wh.table(n).snapshot().total_bytes for n in wh.table_names())
        return errors


# ---------------------------------------------------------------------------
# lifecycle: MERGE / UPDATE / DELETE, rollup refresh and CDC apply


class Lifecycle(Workload):
    primary = "change"
    rows_per_day = 100
    corrections = 20
    updates = 4

    def __init__(self, spark, seed, work, tracer):
        super().__init__(spark, seed, work, tracer)
        self.gen = gen.TripGen(seed, "l")
        self.rng = Random(seed + 2)
        self.model: dict[str, tuple] = {}
        self.rounds = 0

    def _df(self, rows):
        return self.spark.createDataFrame(gen.trips_pandas(rows), gen.TRIP_DDL)

    def setup(self) -> None:
        from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable
        from de_gcp_lakehouse_iceberg_spark.lakehouse.ivm import IncrementalRollup

        rows = self.gen.batch(self.rows_per_day * gen.N_DAYS, range(gen.N_DAYS))
        self.model = {r[0]: r for r in rows}
        self.input_bytes = sum(len(repr(r)) for r in rows)
        self.table = LakeTable.create(self.spark, os.path.join(self.work, "taxi_trips"), partition_by=["pickup_date"])
        self.table.append(self._df(rows).repartition("pickup_date"))
        self.replica = LakeTable.create(self.spark, os.path.join(self.work, "replica"))
        self.replica.append(self._df(rows))
        self.cursor = self.table.current_version()
        self.rollup = IncrementalRollup.create(
            self.spark,
            os.path.join(self.work, "rollup"),
            self.table,
            group_cols=["pickup_hour", "pickup_location_id"],
            sum_cols=["total_amount"],
            minmax_cols=["total_amount"],
            distinct_cols=["dropoff_location_id"],
        )
        # no warm-up round: the build already runs the scans, appends and
        # rollup a round uses, and a round costs more than the rest of the
        # run's set-up; only the first MERGE is still cold (about 1.5 s
        # slower than later ones, above the change median either way)

    def op(self, i: int) -> OpResult:
        from de_gcp_lakehouse_iceberg_spark.lakehouse import dml, maintenance

        res = OpResult()
        r = self.rounds
        self.rounds += 1
        rng = self.rng
        # 1. MERGE late corrections (matched) and the next day's trips (new)
        keys = rng.sample(sorted(self.model), self.corrections)
        fixed = []
        for k in keys:
            row = list(self.model[k])
            tip = round(row[8] + rng.randint(1, 300) / 100, 2)
            row[9] = round(row[9] - row[8] + tip, 2)
            row[8] = tip
            fixed.append(tuple(row))
        new_day = gen.N_DAYS + r
        fresh = self.gen.batch(self.rows_per_day, range(new_day, new_day + 1))
        source = self._df(fixed + fresh)
        t0 = time.perf_counter()
        dml.merge(
            self.table,
            source,
            on=["trip_id"],
            when_matched_update={"tip_amount": "source.tip_amount", "total_amount": "source.total_amount"},
        )
        res.sample("change", time.perf_counter() - t0)
        for row in fixed + fresh:
            self.model[row[0]] = row
        # 2. UPDATEs anonymizing the drop-offs of a busy pickup location on
        # one day; four per round, so the statement median sits between
        # samples of one kind
        changed = 0
        for _ in range(self.updates):
            loc = rng.randint(1, 5)
            day = gen.day_str(r + 1 + rng.randrange(gen.N_DAYS - 1))
            pred = f"pickup_location_id = {loc} AND pickup_date = '{day}'"
            t0 = time.perf_counter()
            dml.update(self.table, {"dropoff_location_id": "0"}, pred)
            res.sample("change", time.perf_counter() - t0)
            for k, row in self.model.items():
                if row[10] == loc and row[13] == day and row[11] != 0:
                    self.model[k] = row[:11] + (0,) + row[12:]
                    changed += 1
        # 3. DELETE retention of the oldest day
        oldest = gen.day_str(r)
        t0 = time.perf_counter()
        dml.delete(self.table, f"pickup_date = '{oldest}'")
        res.sample("change", time.perf_counter() - t0)
        gone = [k for k, row in self.model.items() if row[13] == oldest]
        for k in gone:
            del self.model[k]
        self.tr.add("lakehouse.dml.changed_rows", len(fixed) + len(fresh) + changed + len(gone))
        # compaction every round: rounds stay alike, so throughput does not
        # depend on how many rounds fit in the run
        t0 = time.perf_counter()
        maintenance.compact(self.table)
        compact_s = time.perf_counter() - t0
        # 4.-5. rollup refresh and CDC apply to the replica
        res.sample("refresh", self._propagate())
        # expiry keeps only the head, which both consumers have now read
        t0 = time.perf_counter()
        maintenance.expire_snapshots(self.table, retention_days=0)
        res.sample("maintenance", compact_s + time.perf_counter() - t0)
        res.items = 2 + self.updates
        res.attempted = 4 + self.updates
        if self.replica.snapshot().total_rows != len(self.model) or self.table.snapshot().total_rows != len(self.model):
            res.failures.append(f"round {r}: row counts differ from the model")
        return res

    def _propagate(self) -> float:
        from de_gcp_lakehouse_iceberg_spark.lakehouse import dml

        t0 = time.perf_counter()
        self.rollup.refresh()
        cur = self.table.current_version()
        dml.apply_changelog(self.replica, dml.changelog(self.table, self.cursor, cur), ["trip_id"])
        self.cursor = cur
        return time.perf_counter() - t0

    def verify(self) -> list[str]:
        errors = []
        cols = ["trip_id", "dropoff_location_id", "tip_amount", "total_amount", "pickup_date"]
        want = sorted((r[0], r[11], r[8], r[9], r[13]) for r in self.model.values())
        got = sorted(tuple(x) for x in self.table.scan().select(*cols).collect())
        if got != want:
            errors.append("source table differs from the model")
        rep = sorted(tuple(x) for x in self.replica.scan().select(*cols).collect())
        if rep != got:
            errors.append("replica differs from the source")
        agg: dict[tuple, list] = {}
        for r in self.model.values():
            a = agg.setdefault((r[12], r[10]), [0, 0, None, None, set()])
            cents = round(r[9] * 100)
            a[0] += 1
            a[1] += cents
            a[2] = cents if a[2] is None else min(a[2], cents)
            a[3] = cents if a[3] is None else max(a[3], cents)
            a[4].add(r[11])
        want_roll = sorted(
            (h.isoformat(), loc, a[0], a[1], a[2], a[3], len(a[4])) for (h, loc), a in agg.items()
        )
        got_roll = sorted(
            (
                x["pickup_hour"].isoformat(),
                x["pickup_location_id"],
                x["cnt"],
                round(Decimal(x["sum_total_amount"]) * 100),
                round(x["min_total_amount"] * 100),
                round(x["max_total_amount"] * 100),
                x["distinct_dropoff_location_id"],
            )
            for x in self.rollup.df().collect()
            if x["cnt"] > 0
        )
        if got_roll != want_roll:
            errors.append("rollup differs from a full recompute")
        self.stored_bytes = self.table.snapshot().total_bytes
        return errors


# ---------------------------------------------------------------------------
# curation: text operators over fresh document shards


class Curation(Workload):
    primary = "shard"
    docs_per_shard = 240
    groups_per_shard = 16
    bpe_merges = 8

    def __init__(self, spark, seed, work, tracer):
        super().__init__(spark, seed, work, tracer)
        self.gen = gen.DocGen(seed)

    def setup(self) -> None:
        self.op(-1)  # warm-up shard

    def op(self, i: int) -> OpResult:
        from de_gcp_lakehouse_iceberg_spark.operators import bpe, corpus, dedup

        res = OpResult(attempted=1)
        rows, groups = self.gen.shard(self.docs_per_shard, self.groups_per_shard)
        docs = self.spark.createDataFrame(rows, "doc_id long, text string, lang string")
        t0 = time.perf_counter()
        with self.tr.span("operators.corpus.clean"):
            survivors = corpus.clean_corpus(docs).cache()
            kept = {r[0] for r in survivors.select("doc_id").collect()}
        with self.tr.span("operators.dedup.exact"):
            n_exact = dedup.exact_dedup(docs, ["text"], "doc_id").count()
        with self.tr.span("operators.dedup.sign"):
            sigs = dedup.minhash_signatures(docs).collect() if self.tr.enabled else None
        with self.tr.span("operators.dedup.lsh"):
            pairs = dedup.minhash_lsh_pairs(docs, release=True).select("doc_a", "doc_b").collect()
        with self.tr.span("operators.dedup.cluster"):
            edges = self.spark.createDataFrame(pairs, "doc_a long, doc_b long")
            clusters = {r[0]: r[1] for r in dedup.dup_clusters_star(edges).collect()}
        with self.tr.span("operators.bpe.learn"):
            merges = bpe.bpe_learn(self.spark, survivors, n_merges=self.bpe_merges).collect()
        survivors.unpersist()
        res.sample("shard", time.perf_counter() - t0)
        res.items = len(rows)
        if sigs is not None:
            cands = _lsh_candidates(sigs, bands=32)
            self.tr.add("operators.dedup.candidate_pairs", cands)
            self.tr.add("operators.dedup.verified_pairs", len(pairs))
        # output checks against the generator's model
        if n_exact != len({t for _, t, _ in rows}):
            res.failures.append(f"shard {i}: exact dedup kept {n_exact}")
        in_group = {d for g in groups for d in g}
        want_kept = {d for d, _, _ in rows if d not in in_group} | {g[0] for g in groups}
        if kept != want_kept:
            res.failures.append(f"shard {i}: clean_corpus kept {len(kept)}, expected {len(want_kept)}")
        for g in groups:
            roots = {clusters.get(d) for d in g}
            if len(roots) != 1 or None in roots:
                res.failures.append(f"shard {i}: duplicate group {g} not recovered")
        if len(merges) != self.bpe_merges:
            res.failures.append(f"shard {i}: {len(merges)} BPE merges")
        return res


def _lsh_candidates(sig_rows, bands: int) -> int:
    """Candidate pairs the banded LSH join proposes: docs sharing any band."""
    buckets: dict[tuple, list[int]] = {}
    for doc_id, sig in sig_rows:
        r = len(sig) // bands
        for b in range(bands):
            buckets.setdefault((b, tuple(sig[b * r : (b + 1) * r])), []).append(doc_id)
    pairs = set()
    for ids in buckets.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                pairs.add((ids[x], ids[y]))
    return len(pairs)
