"""The traced run's instruments: spans, job groups, event-log counters,
streaming progress and lifecycle probes.

Everything here observes the program from outside, around the calls the
harness makes into it:

* ``Tracer.phase`` opens a span and tags every Spark job the phase
  launches with the job group ``workload/pass/query/phase``.
* Task-level counters (input rows and bytes, shuffle bytes, spill, CPU,
  scheduler delay, Python-worker bytes) are read from the
  uncompressed event log once the session has stopped.  A job is
  attributed to a phase by its job group; jobs under another group (a
  streaming query runs its micro-batches under its own run id) are
  attributed to the phase whose span contains their submission time.
* A ``StreamingQueryListener`` records every micro-batch's duration.
* ``lifecycle`` reads the CacheManager, the active jobs and the SQL conf
  after each query; the harness only records them.

Spans are kept in memory and written once, with self time per layer.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# SQL-metric names of the Arrow/pandas operators' worker traffic.
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


class _BatchListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.batches: list[tuple[float, float]] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 — Spark API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        self.batches.append((start.timestamp(),
                             float(p.durationMs.get("triggerExecution", 0))))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class Tracer:
    """Spans and counters of one traced run.  With ``enabled=False`` the
    phases are plain timers: no job groups, no listener, no probes."""

    def __init__(self, workload: str, enabled: bool) -> None:
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.listener: _BatchListener | None = None
        self.lifecycle = {"cached_after": 0, "active_jobs_after": 0,
                          "conf_changed": 0}
        self.plan_counts = {"exchanges": 0, "broadcast_joins": 0,
                            "sortmerge_joins": 0}
        self._conf0: dict[str, str] = {}

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "attrs": attrs, "t0": time.time()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - p0
            rec["t1"] = rec["t0"] + rec["dur"]
            self._stack.pop()

    @contextlib.contextmanager
    def phase(self, spark, pass_no: int, query: str, name: str):
        """One query phase: a span, and in a traced run a job group."""
        group = f"{self.workload}/{pass_no}/{query}/{name}"
        sc = spark.sparkContext
        with self.span(name, group=group, pass_no=pass_no, query=query) as rec:
            if self.enabled:
                sc.setJobGroup(group, group)
            try:
                yield rec
            finally:
                if self.enabled:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    # -- session hooks -------------------------------------------------
    def attach(self, spark) -> None:
        """Call once the session the passes use is up."""
        if not self.enabled:
            return
        self.listener = _BatchListener()
        spark.streams.addListener(self.listener)
        self._conf0 = dict(spark.conf.getAll)

    def after_query(self, spark, forced) -> None:
        """Plan counters of the executed action and the lifecycle probes."""
        if not self.enabled:
            return
        from map_reduce_folds_spark import plans

        self.plan_counts["exchanges"] += plans.count_exchanges(forced)
        self.plan_counts["broadcast_joins"] += plans.count_broadcast_joins(forced)
        self.plan_counts["sortmerge_joins"] += plans.count_sortmerge_joins(forced)
        cm = spark._jsparkSession.sharedState().cacheManager()
        self.lifecycle["cached_after"] += 0 if cm.isEmpty() else 1
        self.lifecycle["active_jobs_after"] += len(
            spark.sparkContext.statusTracker().getActiveJobsIds())
        self.lifecycle["conf_changed"] += int(dict(spark.conf.getAll) != self._conf0)

    def jvm_gc_ms(self, spark) -> int:
        """Total collection time of the JVM, which in local mode runs the
        driver and every executor task.  Task-level GC time rounds to 0 on
        small inputs; the JVM's own counter does not."""
        if not self.enabled:
            return 0
        beans = spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    # -- read-out ------------------------------------------------------
    def phase_spans(self, timed_passes: set[int]) -> list[dict]:
        return [s for s in self.spans
                if "group" in s["attrs"] and s["attrs"]["pass_no"] in timed_passes]

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["dur"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["dur"] - child[s["id"]]
        return dict(out)

    def stream_batches(self, timed_passes: set[int]) -> list[float]:
        """Durations (ms) of the micro-batches that started in a timed
        query phase."""
        if self.listener is None:
            return []
        windows = [(s["t0"], s["t1"]) for s in self.phase_spans(timed_passes)]
        return [ms for start, ms in self.listener.batches
                if any(a <= start <= b for a, b in windows)]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"self_s": self.self_times(), "spans": self.spans,
                       **extra}, f, indent=1)


def event_log_counters(path: str, spans: list[dict]) -> dict[tuple, dict]:
    """Task counters of the jobs attributed to ``spans`` (query-phase spans
    of the timed passes), summed per ``(query, phase)``."""
    phase_of_group = {s["attrs"]["group"]: (s["attrs"]["query"], s["name"])
                      for s in spans}
    windows = sorted((s["t0"] * 1000, s["t1"] * 1000,
                      (s["attrs"]["query"], s["name"])) for s in spans)
    stage_phase: dict[int, tuple[str, str]] = {}
    out: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if "/" in group:
                    phase = phase_of_group.get(group)
                else:
                    sub = ev.get("Submission Time", 0)
                    phase = next((name for a, b, name in windows
                                  if a <= sub <= b), None)
                if phase is None:
                    continue
                out[phase]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_phase.setdefault(sid, phase)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                phase = stage_phase.get(info["Stage ID"])
                if phase is None:
                    continue
                c = out[phase]
                c["stages"] += 1
                accs = {a.get("Name"): a.get("Value")
                        for a in info.get("Accumulables", [])}
                if _PY_SENT in accs or _PY_RECV in accs:
                    c["python_stages"] += 1
                    c["py_sent"] += float(accs.get(_PY_SENT) or 0)
                    c["py_recv"] += float(accs.get(_PY_RECV) or 0)
            elif kind == "SparkListenerTaskEnd":
                phase = stage_phase.get(ev["Stage ID"])
                if phase is None:
                    continue
                c = out[phase]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                c["tasks"] += 1
                c["failed_tasks"] += bool(info.get("Failed"))
                run = m.get("Executor Run Time", 0)
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                c["sched_delay_ms"] += max(
                    0, dur - run - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0)
                    - info.get("Getting Result Time", 0))
                c["cpu_ns"] += m.get("Executor CPU Time", 0)
                c["spill"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                inp = m.get("Input Metrics") or {}
                c["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                c["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
                c["scan_rows"] += inp.get("Records Read", 0)
                c["scan_bytes"] += inp.get("Bytes Read", 0)
    return {k: dict(v) for k, v in out.items()}
