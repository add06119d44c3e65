"""Layered benchmark of the fold engine.

One closed-loop client runs a workload's registered queries one at a
time, in a fixed order, on ``local[N]`` with N = the machine's cores.
Each query execution is timed in three phases around the package's
public calls:

* build   -- the registered query function (``queries.QUERIES[name]``),
             which runs the ``core``/``folds`` compilation; driver-side
             loops and eager streams run here too;
* plan    -- Catalyst analysis, optimization and physical planning of
             the forcing action, forced before it runs;
* execute -- the action: ``count(1)`` plus an exact sum of
             ``xxhash64`` over every output column, so no column can be
             pruned.

The cache is cleared before every query.  One untimed pass warms the JVM
and checks every collected result against its DuckDB oracle
(``queries.ORACLES``, compared as ``tools/check_contract.py`` does).
Then ``ceil(seconds / Workload.pass_s)`` timed passes run: the first
must reproduce the oracle-checked row count, and every later one the
first's ``(count, hash-sum)`` fingerprint.  A mismatch or an exception
counts as a failed execution and is named on stderr.

Inputs are generated from ``--seed`` (``gen.py``) inside the checkout's
ignored ``.perfbench/`` directory, which also holds the session's
scratch, warehouse, temp files and event log; the run deletes all of it
except the span file.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run that tags every phase with a job group, writes an event log, listens
to streaming progress, probes lifecycle state after each query, and
prints the per-layer metrics (``tracing.py``).  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload fold_small --seed 1 --seconds 20 --trace 0
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "map_reduce_folds_spark"


@dataclass(frozen=True)
class Workload:
    scale: float
    # median warm pass wall measured on a 4-core x86 VM in a slow period
    # (cold JVM start ~10 s); in fast periods a pass takes about half.  It
    # only sets the pass count, ceil(seconds / pass_s), which is then the
    # same on both sides of a comparison whatever the host does
    pass_s: float
    queries: tuple[str, ...]

    def passes(self, seconds: float) -> int:
        return max(1, math.ceil(seconds / self.pass_s))


# Why each workload exists, and which layer it isolates, is in README.md.
FOLD_QUERIES = (
    "mr_readme_sum", "mr_task1_mean", "mr_applicative", "mr_melt",
    "mr_task2_sparse", "mr_fold_vocab", "q1_pricing_summary",
    "q3_shipping_priority", "q5_local_supplier", "join_orders_customer",
    "topk_orders", "window_topk_per_group", "asof_join_purchase_click",
)
WORKLOADS = {
    # fixed-cost regime: build, plan and per-job floors dominate; no Python
    # stages and no driver loops
    "fold_small": Workload(0.001, 5.0, FOLD_QUERIES),
    # the Arrow/pandas boundary (mapInPandas, applyInPandas, pandas UDFs and
    # the core Python reduce paths), then eager driver-side loops: one
    # graph fixpoint and one stateful stream
    "udf_rounds": Workload(0.01, 11.3, (
        "dedup_minhash", "dedup_embedding", "mr_custom_fold_merge",
        "mr_filter_mapinpandas", "mr_group_reduce_keyed", "mr_assign_udf",
        "dedup_cc_clusters", "cusum_stream_stateful")),
}
RSS_INTERVAL_S = 0.2


class RssSampler(threading.Thread):
    """Peak of the summed resident set of this process and every
    descendant (the JVM and its Python workers), sampled from /proc."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        parent, rss = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            parent[int(d)] = int(fields[1])
            rss[int(d)] = int(fields[21]) * self._page
        tree, frontier = {os.getpid()}, [os.getpid()]
        children = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for c in children.get(frontier.pop(), ()):
                tree.add(c)
                frontier.append(c)
        return sum(rss.get(p, 0) for p in tree)

    def run(self) -> None:
        while not self._stop_evt.wait(RSS_INTERVAL_S):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        return max(self.peak, self.sample())


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat; field 7 is steal time, the
    share of the timed passes a hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _calib_s() -> float:
    """Median wall of a fixed single-threaded Python loop: a same-moment
    control that slows with the host, not with the program."""
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        # zstandard is not installed, so the log must be uncompressed
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "events"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def _export_root(work: str) -> None:
    """Let the Python workers import the package whatever the working
    directory: they inherit PYTHONPATH from the JVM, not ``sys.path``.
    Temp files (stream sources, checkpoints) go under the run directory."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tmp = os.path.join(work, "tmp")
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


class Harness:
    def __init__(self, args, work: str, t_start: float) -> None:
        self.args = args
        self.t_start = t_start
        self.wl = WORKLOADS[args.workload]
        self.queries = tuple(args.queries.split(",")) if args.queries \
            else self.wl.queries
        self.work = work
        self.data = os.path.join(work, "data")
        from tracing import Tracer

        self.tracer = Tracer(args.workload, bool(args.trace))
        self.attempted = 0
        self.failures: list[str] = []
        self.fingerprints: dict[str, tuple] = {}
        self.rows: dict[str, int] = {}

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        """Import the package, launch the JVM and session, load the tables.
        ``setup_s`` runs from the start of ``main`` to here, less the input
        generation (which also pays the numpy and pyarrow imports)."""
        conf = _session_conf(self.work, bool(self.args.trace))
        with self.tracer.span("setup"):
            from map_reduce_folds_spark.session import get_spark
            from map_reduce_folds_spark.sources import load_tables

            spark = get_spark(app_name="perfbench", extra_conf=conf)
            t1 = time.perf_counter()
            load_tables(spark, self.data)
        self.load_s = time.perf_counter() - t1
        self.setup_s = time.perf_counter() - self.t_start - self.gen_s
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.tracer.attach(spark)

    # -- one query execution -----------------------------------------------
    def check_query(self, name: str) -> None:
        """The untimed warm pass: build the query, collect its result and
        compare it with the DuckDB oracle."""
        from map_reduce_folds_spark.queries import ORACLES, QUERIES
        from tools.check_contract import compare

        spark, tr = self.spark, self.tracer
        self.attempted += 1
        spark.catalog.clearCache()
        try:
            with tr.span("query", query=name, pass_no=0):
                with tr.phase(spark, 0, name, "build"):
                    df = QUERIES[name](spark, self.data)
                with tr.phase(spark, 0, name, "oracle"):
                    got = df.toPandas()
                    problems = compare(
                        name, got, self.duck.sql(ORACLES[name]).fetchdf())
        except Exception as exc:  # noqa: BLE001 — one query, one failure
            return self._fail(name, 0, f"{type(exc).__name__}: {exc}")
        if problems:
            return self._fail(name, 0, "oracle mismatch: " + "; ".join(problems))
        self.rows[name] = len(got)

    def time_query(self, pass_no: int, name: str):
        """One timed execution; returns its build+plan+execute wall, or
        None if it failed or its fingerprint moved."""
        from pyspark.sql import functions as F

        from map_reduce_folds_spark.queries import QUERIES

        spark, tr = self.spark, self.tracer
        self.attempted += 1
        spark.catalog.clearCache()
        try:
            with tr.span("query", query=name, pass_no=pass_no):
                t0 = time.perf_counter()
                with tr.phase(spark, pass_no, name, "build"):
                    df = QUERIES[name](spark, self.data)
                with tr.phase(spark, pass_no, name, "plan"):
                    forced = df.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                        .alias("h"))
                    forced._jdf.queryExecution().executedPlan()
                with tr.phase(spark, pass_no, name, "execute"):
                    row = forced.collect()[0]
                wall = time.perf_counter() - t0
            tr.after_query(spark, forced)
        except Exception as exc:  # noqa: BLE001 — one query, one failure
            return self._fail(name, pass_no, f"{type(exc).__name__}: {exc}")
        # the first timed pass must reproduce the oracle-checked row count;
        # every later pass must reproduce the first pass's fingerprint
        fp = (row["n"], str(row["h"]))
        want = self.fingerprints.setdefault(name, fp)
        if fp != want or fp[0] != self.rows.get(name):
            return self._fail(name, pass_no, f"fingerprint {fp}, expected "
                              f"{want} with {self.rows.get(name)} rows")
        return wall

    def _fail(self, name: str, pass_no: int, why: str) -> None:
        self.failures.append(name)
        print(f"# FAILED {name} (pass {pass_no}): {why[:400]}", file=sys.stderr)
        return None

    # -- the run -------------------------------------------------------------
    def run(self) -> None:
        t0 = time.perf_counter()
        import gen

        self.manifest = gen.generate(self.data, self.wl.scale, self.args.seed)
        self.gen_s = time.perf_counter() - t0
        self.setup()
        import duckdb
        from map_reduce_folds_spark.sources import TABLES

        self.duck = duckdb.connect()
        for t in TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                              f"'{os.path.join(self.data, t + '.parquet')}')")
        with self.tracer.span("warm_pass", pass_no=0):
            for name in self.queries:
                self.check_query(name)

        self.pass_s: list[float] = []
        self.query_s: dict[str, list[float]] = {q: [] for q in self.queries}
        cpu0, gc0 = _cpu_ticks(), self.tracer.jvm_gc_ms(self.spark)
        for pass_no in range(1, self.wl.passes(self.args.seconds) + 1):
            p0 = time.perf_counter()
            with self.tracer.span("pass", pass_no=pass_no):
                for name in self.queries:
                    wall = self.time_query(pass_no, name)
                    if wall is not None:
                        self.query_s[name].append(wall)
            self.pass_s.append(time.perf_counter() - p0)
        self.gc_ms = self.tracer.jvm_gc_ms(self.spark) - gc0
        delta = [b - a for a, b in zip(cpu0, _cpu_ticks())]
        self.steal_frac = delta[7] / max(1, sum(delta))
        self.calib_s = _calib_s()

    def metrics(self) -> dict:
        args = self.args
        medians = {q: statistics.median(v) for q, v in self.query_s.items() if v}
        print(f"# workload={args.workload} seed={args.seed} "
              f"passes={[round(p, 3) for p in self.pass_s]} "
              f"gen_s={self.gen_s:.3f} "
              f"tables={json.dumps(self.manifest['tables'])}")
        # host-interference signals; report.py reads this line
        print(f"# host steal_frac={self.steal_frac:.4f} "
              f"calib_s={self.calib_s:.5f}")
        for q, m in medians.items():
            print(f"#   {q}: median {m:.4f}s over {len(self.query_s[q])} passes")
        failed = len(self.failures)
        print(f"# failed_frac={failed / self.attempted:.4f} "
              f"({failed}/{self.attempted}) failed={sorted(set(self.failures))}")
        pass_s = statistics.median(self.pass_s)
        if not args.trace:
            # a run with no successful query is already correct=false
            geo = math.exp(statistics.fmean(math.log(m) for m in medians.values())) \
                if medians else 0.0
            return {
                "pass_s": (pass_s, "s"),
                "query_geomean_s": (geo, "s"),
                "setup_s": (self.setup_s, "s"),
            }
        return self.layer_metrics(pass_s)

    def layer_metrics(self, pass_s: float) -> dict:
        from tracing import event_log_counters

        tr = self.tracer
        timed = set(range(1, len(self.pass_s) + 1))
        n = len(timed)
        spans = tr.phase_spans(timed)
        events = os.path.join(self.work, "events", self.spark_app_id)
        by_query_phase = event_log_counters(events, spans)
        c: dict[str, float] = {}
        for (_, phase), counters in by_query_phase.items():
            for k, v in counters.items():
                c[k] = c.get(k, 0) + v / n
                if phase == "build" and k == "jobs":
                    c["build_jobs"] = c.get("build_jobs", 0) + v / n
        self.per_query = {f"{q}/{ph}": v for (q, ph), v in by_query_phase.items()}

        def phase_s(name: str) -> float:
            return sum(s["dur"] for s in spans if s["name"] == name) / n

        batches = self.stream_batch_ms = tr.stream_batches(timed)
        print(f"# traced pass_s={pass_s:.4f} self_s="
              f"{json.dumps({k: round(v, 4) for k, v in tr.self_times().items()})}")
        print(f"# streaming batches={len(batches)} batch_ms.p50="
              f"{statistics.median(batches) if batches else None}")
        jobs = c.get("jobs", 0)
        plans, life = tr.plan_counts, tr.lifecycle
        return {
            "trace.pass_s": (pass_s, "s"),
            "memory.peak_rss_mb": (self.peak_rss / 2**20, "MB"),
            "sources.load_s": (self.load_s, "s"),
            "sources.scan_rows": (c.get("scan_rows", 0), "count"),
            "sources.scan_bytes": (c.get("scan_bytes", 0), "bytes"),
            "queries.build_s": (phase_s("build"), "s"),
            "queries.build_jobs": (c.get("build_jobs", 0), "count"),
            "plans.plan_s": (phase_s("plan"), "s"),
            "plans.exchanges": (plans["exchanges"] / n, "count"),
            "plans.broadcast_joins": (plans["broadcast_joins"] / n, "count"),
            "plans.sortmerge_joins": (plans["sortmerge_joins"] / n, "count"),
            "execute.s": (phase_s("execute"), "s"),
            "execute.jobs": (jobs, "count"),
            "execute.stages": (c.get("stages", 0), "count"),
            "execute.tasks": (c.get("tasks", 0), "count"),
            "execute.sched_delay_s": (c.get("sched_delay_ms", 0) / 1e3, "s"),
            "execute.shuffle_write_bytes": (c.get("shuffle_write", 0), "bytes"),
            "execute.shuffle_read_bytes": (c.get("shuffle_read", 0), "bytes"),
            "execute.spill_bytes": (c.get("spill", 0), "bytes"),
            "execute.task_cpu_s": (c.get("cpu_ns", 0) / 1e9, "s"),
            "execute.gc_s": (self.gc_ms / 1e3 / n, "s"),
            "execute.failed_tasks": (c.get("failed_tasks", 0), "count"),
            "python.stages": (c.get("python_stages", 0), "count"),
            "python.bytes_to_worker": (c.get("py_sent", 0), "bytes"),
            "python.bytes_from_worker": (c.get("py_recv", 0), "bytes"),
            "graph.jobs_per_query": (jobs / len(self.queries), "count"),
            "graph.s_per_job": (pass_s / jobs if jobs else 0.0, "s"),
            "streaming.batches": (len(batches) / n, "count"),
            "lifecycle.cached_after": (life["cached_after"] / n, "count"),
            "lifecycle.active_jobs_after": (life["active_jobs_after"] / n, "count"),
            "lifecycle.conf_changed": (life["conf_changed"] / n, "count"),
        }


def _stop_jvm() -> None:
    """End the JVM and wait for it: it exits when its stdin closes, and
    takes the Python worker daemon with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description="Layered fold-engine benchmark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", default="",
                    help="comma-separated subset of the workload's queries")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    unknown = set(args.queries.split(",")) - set(WORKLOADS[args.workload].queries) \
        if args.queries else set()
    if unknown:
        print(f"perfbench: not in {args.workload}: {sorted(unknown)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _export_root(work)
    sys.path.insert(0, HERE)
    rss = RssSampler()
    if args.trace:
        rss.start()
    h = Harness(args, work, t_start)
    try:
        h.run()
        h.peak_rss = rss.stop() if args.trace else 0
        h.spark_app_id = h.spark.sparkContext.applicationId
        h.spark.stop()
        metrics = h.metrics()
        h.tracer.write(
            os.path.join(base, "spans",
                         f"{args.workload}-{args.seed}-trace{args.trace}.json"),
            {"workload": args.workload, "seed": args.seed,
             "manifest": h.manifest, "metrics": metrics,
             "pass_s": h.pass_s, "setup_s": h.setup_s,
             "counters_by_query_phase": getattr(h, "per_query", {}),
             "stream_batch_ms": getattr(h, "stream_batch_ms", [])})
    finally:
        if rss.is_alive():
            rss.stop()
        spark = getattr(h, "spark", None)
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    failed = len(h.failures)
    print(f"# wall_s={time.perf_counter() - t_start:.1f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": h.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
