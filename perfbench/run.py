"""Lakehouse benchmark: seeded workloads against the package's public API.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 6 --trace 0

Workloads: analytics, ingest, lifecycle, curation (see NOTES.md). The run
generates its inputs from --seed, sets up (warm-up included, timed as
setup_s), runs the closed loop for --seconds, checks every output, and
prints two JSON lines: a report with the host stamp and each workload's
own metrics, then the result line
``{"correct", "attempted", "failed", "metrics"}``. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run first executes a
fixed number of operations under the tracer (per-layer spans and
counters), then the untraced loop for --seconds/2 to price the tracing.
Everything the run writes stays under .perfbench/ in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "ingest", "lifecycle", "curation")
# operations the traced phase runs: fixed, so its counters repeat per seed
TRACED_OPS = {"analytics": 8, "ingest": 1, "lifecycle": 1, "curation": 1}
TAIL_LEVELS = (0.99, 0.95, 0.9, 0.75)

# The wall-clock latencies and rates stay in the report line: on a shared
# 4-core host their ten-run spread reached 0.3, wider than any bound the
# benchmark may set (NOTES.md). CPU time of the whole process tree per
# item does not grow when the hypervisor lends the host's CPUs elsewhere.
END_TO_END = {
    "setup_s": "s",
    "cpu_per_item_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- host and noise stamp ------------------------------------------------------


def host_stamp() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "loadavg_1m_before_spark": os.getloadavg()[0],
        "python": sys.version.split()[0],
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, including descendants already reaped: each live
    process's own time plus the time of its exited, waited-for children."""
    ticks = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_gc_s(spark) -> float:
    """Time the driver JVM's garbage collectors have run so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000


def peak_rss_mb() -> float:
    """Summed peak resident set size (VmHWM, kept by the kernel) of this
    process and its live descendants: the Spark driver JVM and the Python
    workers it forked. Read once, just before Spark stops."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def descendants() -> set[int]:
    """This process and every process below it, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM it launched, and wait until
    the JVM and every Python worker below it have exited."""
    from pyspark import SparkContext

    children = descendants() - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline and any(map(_running, children)):
        time.sleep(0.1)
    for p in filter(_running, children):
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _running(pid: int) -> bool:
    """True unless the process is gone or only a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


# -- tracing hooks around the package's public entry points ---------------------


def install_tracing(tracer) -> None:
    from de_gcp_lakehouse_iceberg_spark import sql_gateway
    from de_gcp_lakehouse_iceberg_spark.lakehouse import committer, dml, ivm, maintenance, table

    add = tracer.add

    def planned(res, args, _):
        snap, files = res
        add("lakehouse.table.files_planned", len(files))
        add("lakehouse.table.files_total", len(snap.files))

    def appended(snap, args, _):
        n = snap.summary.get("added_files", 0)
        add("lakehouse.table.files_added", n)
        add("lakehouse.table.bytes_added", sum(f.bytes for f in snap.files[len(snap.files) - n :]))

    def cas(won, args, _):
        add("lakehouse.table.commits" if won else "lakehouse.committer.cas_lost")

    def files_of(args):
        return {f.path: f.bytes for f in args[0].snapshot().files}

    def rewritten(snap, args, before):
        after = {f.path: f.bytes for f in snap.files}
        add("lakehouse.dml.files_rewritten", len(before.keys() - after.keys()))
        add("lakehouse.dml.bytes_rewritten", sum(b for p, b in after.items() if p not in before))

    def compacted(res, args, _):
        add("lakehouse.maintenance.rewritten_bytes", res.get("rewritten_bytes", 0))
        add("lakehouse.maintenance.files_before", res["files_before"])
        add("lakehouse.maintenance.files_after", res["files_after"])

    def refreshed(res, args, _):
        add("lakehouse.ivm.delta_rows", res["delta_rows"])
        add("lakehouse.ivm.files_rewritten", res["files_rewritten"])
        add("lakehouse.ivm.files_total", res["files_total"])

    def conflict(res, args, _):
        add("lakehouse.table.commit_conflicts")

    tracer.wrap(sql_gateway.SqlGateway, "sql", "sql_gateway.sql")
    tracer.wrap(table.LakeTable, "plan_files", "lakehouse.table.plan", after=planned)
    tracer.wrap(table.LakeTable, "append", "lakehouse.table.append", after=appended)
    tracer.wrap(table.CommitConflict, "__init__", None, after=conflict)
    tracer.wrap(committer.PosixLinkCommitter, "cas_create", "lakehouse.committer.cas", after=cas)
    tracer.wrap(maintenance, "compact", "lakehouse.maintenance.compact", after=compacted)
    tracer.wrap(maintenance, "expire_snapshots", "lakehouse.maintenance.expire")
    tracer.wrap(maintenance, "rewrite_manifests", "lakehouse.maintenance.rewrite_manifests")
    for op in ("merge", "update", "delete"):
        tracer.wrap(dml, op, f"lakehouse.dml.{op}", after=rewritten, before=files_of)
    tracer.wrap(dml, "changelog", "lakehouse.dml.changelog")
    tracer.wrap(dml, "apply_changelog", "lakehouse.dml.apply_changelog")
    tracer.wrap(ivm.IncrementalRollup, "refresh", "lakehouse.ivm.refresh", after=refreshed)
    tracer.listen_streaming()


# span name -> per-layer metric carrying its summed self time
SELF_TIME_METRICS = {
    "sql_gateway.sql": "sql_gateway.sql_s",
    "lakehouse.table.plan": "lakehouse.table.plan_s",
    "lakehouse.table.append": "lakehouse.table.append_s",
    "lakehouse.committer.cas": "lakehouse.committer.cas_s",
    "streaming.taxi.run": "streaming.taxi.run_s",
    "lakehouse.maintenance.compact": "lakehouse.maintenance.compact_s",
    "lakehouse.maintenance.expire": "lakehouse.maintenance.expire_s",
    "lakehouse.maintenance.rewrite_manifests": "lakehouse.maintenance.rewrite_manifests_s",
    "lakehouse.dml.merge": "lakehouse.dml.merge_s",
    "lakehouse.dml.update": "lakehouse.dml.update_s",
    "lakehouse.dml.delete": "lakehouse.dml.delete_s",
    "lakehouse.dml.changelog": "lakehouse.dml.changelog_s",
    "lakehouse.dml.apply_changelog": "lakehouse.dml.apply_changelog_s",
    "lakehouse.ivm.refresh": "lakehouse.ivm.refresh_s",
    "operators.corpus.clean": "operators.corpus.clean_s",
    "operators.dedup.exact": "operators.dedup.exact_s",
    "operators.dedup.sign": "operators.dedup.sign_s",
    "operators.dedup.lsh": "operators.dedup.lsh_s",
    "operators.dedup.cluster": "operators.dedup.cluster_s",
    "operators.bpe.learn": "operators.bpe.learn_s",
}
# span name -> per-layer metric counting the Spark jobs launched directly in it
JOB_COUNT_METRICS = {
    "op": "op.jobs",
    "lakehouse.table.append": "lakehouse.table.append_jobs",
    "lakehouse.dml.merge": "lakehouse.dml.merge_jobs",
    "lakehouse.dml.update": "lakehouse.dml.update_jobs",
    "lakehouse.dml.delete": "lakehouse.dml.delete_jobs",
    "lakehouse.dml.apply_changelog": "lakehouse.dml.apply_changelog_jobs",
    "lakehouse.ivm.refresh": "lakehouse.ivm.refresh_jobs",
    "lakehouse.maintenance.compact": "lakehouse.maintenance.compact_jobs",
    "operators.corpus.clean": "operators.corpus.clean_jobs",
    "operators.dedup.exact": "operators.dedup.exact_jobs",
    "operators.dedup.sign": "operators.dedup.sign_jobs",
    "operators.dedup.lsh": "operators.dedup.lsh_jobs",
    "operators.dedup.cluster": "operators.dedup.cluster_jobs",
    "operators.bpe.learn": "operators.bpe.learn_jobs",
}
COUNTERS = [
    "lakehouse.table.files_planned",
    "lakehouse.table.files_total",
    "lakehouse.table.commits",
    "lakehouse.table.files_added",
    "lakehouse.table.bytes_added",
    "lakehouse.table.commit_conflicts",
    "lakehouse.committer.cas_lost",
    "streaming.taxi.batches",
    "streaming.taxi.batch_s",
    "streaming.taxi.add_batch_s",
    "streaming.taxi.trigger_overhead_s",
    "lakehouse.maintenance.rewritten_bytes",
    "lakehouse.maintenance.files_before",
    "lakehouse.maintenance.files_after",
    "lakehouse.dml.files_rewritten",
    "lakehouse.ivm.delta_rows",
    "operators.dedup.candidate_pairs",
]
SPARK_METRICS = [
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.input_bytes",
    "spark.driver_s",
    "pyworker.bytes_to_python",
    "pyworker.bytes_from_python",
    "pyworker.eval_s",
]


def ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer_metrics(tracer, clients: int) -> dict[str, float]:
    c = tracer.counters
    spans = tracer.spans
    out = {m: 0.0 for m in SELF_TIME_METRICS.values()}
    for name, st in tracer.layer_self_times().items():
        if name in SELF_TIME_METRICS:
            out[SELF_TIME_METRICS[name]] = st
    jobs = tracer.layer_job_counts()
    for name, metric in JOB_COUNT_METRICS.items():
        out[metric] = float(jobs.get(name, 0))
    for name in COUNTERS:
        out[name] = float(c.get(name, 0))
    out["sql_gateway.calls"] = float(sum(s.name == "sql_gateway.sql" for s in spans))
    out["lakehouse.table.plan_calls"] = float(sum(s.name == "lakehouse.table.plan" for s in spans))
    out["lakehouse.committer.cas_attempts"] = float(sum(s.name == "lakehouse.committer.cas" for s in spans))
    out["lakehouse.table.prune_ratio"] = 1 - ratio(c["lakehouse.table.files_planned"], c["lakehouse.table.files_total"]) if c["lakehouse.table.files_total"] else 0.0
    out["lakehouse.dml.bytes_rewritten_per_changed_row"] = ratio(c["lakehouse.dml.bytes_rewritten"], c["lakehouse.dml.changed_rows"])
    out["lakehouse.ivm.files_rewritten_ratio"] = ratio(c["lakehouse.ivm.files_rewritten"], c["lakehouse.ivm.files_total"])
    out["operators.dedup.pair_precision"] = ratio(c["operators.dedup.verified_pairs"], c["operators.dedup.candidate_pairs"])
    sc = tracer.spark_counters("op", by_time=clients == 1)
    for name in SPARK_METRICS:
        out[name] = float(sc.get(name, 0))
    return out


# -- the run ---------------------------------------------------------------------


def make_workload(name, spark, seed, work, tracer):
    from perfbench import workloads as w

    if name == "analytics":
        return w.Analytics(spark, seed, work, tracer, clients=os.cpu_count() or 4)
    return {"ingest": w.Ingest, "lifecycle": w.Lifecycle, "curation": w.Curation}[name](spark, seed, work, tracer)


def run_loop(wl, deadline: float | None, n_ops: int | None, tracer, first_op: int):
    """Closed loop until the deadline (or for `n_ops` operations)."""
    from perfbench.workloads import OpResult

    if wl.clients > 1:
        return wl.run_clients(deadline, None if n_ops is None else n_ops // wl.clients), 0
    total = OpResult()
    i = first_op
    while (deadline is None or time.perf_counter() < deadline) and (n_ops is None or i - first_op < n_ops):
        try:
            with tracer.span("op"):
                res = wl.op(i)
        except Exception:  # the loop reports the failure and goes on
            traceback.print_exc(file=sys.stderr)
            res = OpResult(attempted=1, failures=[f"op {i} raised"])
        total.merge(res)
        i += 1
    return total, i


def summarize(kind_samples: list[float], prefix: str, out: dict) -> None:
    """Median plus the highest percentile with at least ten samples beyond it."""
    n = len(kind_samples)
    out[f"{prefix}_p50_s"] = statistics.median(kind_samples)
    out[f"{prefix}_n"] = n
    for q in TAIL_LEVELS:
        if n * (1 - q) >= 10:
            s = sorted(kind_samples)
            out[f"{prefix}_p{round(q * 100)}_s"] = s[min(n - 1, int(q * n))]
            break


def workload_report(name: str, res, wall: float, wl) -> dict:
    r: dict = {}
    for kind, xs in sorted(res.samples.items()):
        summarize(xs, kind, r)
    per_s = res.rate or res.items / wall
    key = {
        "analytics": "queries_per_s",
        "ingest": "ingest_rows_per_s",
        "lifecycle": "changes_per_s",
        "curation": "curation_docs_per_s",
    }[name]
    r[key] = per_s
    if name == "ingest":
        r["maintenance_s"] = r["maintenance_p50_s"]
    if wl.input_bytes and name in ("ingest", "lifecycle"):
        r["stored_bytes_per_input_byte"] = wl.stored_bytes / wl.input_bytes
    return r


def main(argv) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import de_gcp_lakehouse_iceberg_spark  # noqa: F401
        import pyspark
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 3

    from perfbench import trace as trace_mod

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    # the package default heap (24g) can exceed the host's memory
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

    stamp = host_stamp()
    ticks0 = cpu_ticks()
    spark = None
    try:
        from de_gcp_lakehouse_iceberg_spark.session import get_spark
        from perfbench import workloads

        t_setup = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cpus=os.cpu_count(), warehouse_dir=os.path.join(work, "warehouse"))
        spark.sparkContext.setLogLevel("ERROR")
        wl = make_workload(args.workload, spark, args.seed, work, trace_mod.NullTracer())
        if isinstance(wl, workloads.Analytics):
            t_oracle = time.perf_counter()
            wl.oracle()  # DuckDB expectations: checking work, not set-up
            t_setup += time.perf_counter() - t_oracle
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        stamp["spark_version"] = pyspark.__version__
        stamp["spark_conf"] = {
            k: v
            for k, v in sorted(spark.sparkContext.getConf().getAll())
            if not k.endswith(("extraJavaOptions", "Time", ".id", ".host", ".port"))
        }
        stamp["loadavg_1m_after_setup"] = os.getloadavg()[0]

        first_op = 0
        if args.trace:
            tracer = trace_mod.Tracer(spark)
            wl.tr = tracer
            install_tracing(tracer)
            t0 = time.perf_counter()
            try:
                traced, first_op = run_loop(wl, None, TRACED_OPS[args.workload], tracer, 0)
            finally:
                tracer.close()
            traced_wall = time.perf_counter() - t0
            time.sleep(0.5)  # let the last streaming progress events arrive
            layers = per_layer_metrics(tracer, wl.clients)
            if args.workload != "curation":  # these layers run on curation only
                layers = {k: v for k, v in layers.items() if not k.startswith(("operators.", "pyworker."))}
            wl.tr = trace_mod.NullTracer()
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        seconds = args.seconds / 2 if args.trace else args.seconds
        cpu0, gc0 = tree_cpu_s(), jvm_gc_s(spark)
        t0 = time.perf_counter()
        res, _ = run_loop(wl, t0 + seconds, None, trace_mod.NullTracer(), first_op)
        wall = time.perf_counter() - t0
        cpu, gc = tree_cpu_s() - cpu0, jvm_gc_s(spark) - gc0
        if args.trace:
            res.failures += traced.failures
            res.attempted += traced.attempted
        errors = wl.verify()
        peak_mb = peak_rss_mb()
        # share of the host's CPU time the hypervisor gave to other guests
        # during the run: high values mark a slow host, not a slow engine
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        stamp["cpu_steal_share"] = ratio(steal, total)

        attempted = res.attempted + 1
        failed = min(attempted, len(res.failures) + (1 if errors else 0))
        report = workload_report(args.workload, res, wall, wl)
        report.update(
            setup_s=setup_s,
            cpu_per_item_s=ratio(cpu, res.items),
            jvm_gc_s=gc,
            peak_rss_mb=peak_mb,
            failed_ratio=failed / attempted,
        )
        prim = res.samples.get(wl.primary, [])
        if args.trace:
            tp = traced.samples.get(wl.primary, [])
            layers["trace.overhead_ratio"] = ratio(statistics.mean(tp), statistics.mean(prim)) - 1 if tp and prim else 0.0
            layers["trace.traced_wall_s"] = traced_wall
            metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in sorted(layers.items())}
        else:
            metrics = {k: {"value": report[k], "unit": u} for k, u in END_TO_END.items()}
        for msg in res.failures + errors:
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
        correct = failed == 0 and bool(prim)
        print(json.dumps({"workload": args.workload, "seed": args.seed, "stamp": stamp, "report": report}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("ratio") or name.endswith("precision"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
