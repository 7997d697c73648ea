"""Tracing for the traced run: in-memory spans around calls into each
layer, Spark's event log summarised per job group, and the Python UDF
profiler's per-UDF time.  Everything is written as one JSON document
when the run ends."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import pstats
import time


class Tracer:
    """Spans (id, name, start, end, parent) kept in memory.  A disabled
    tracer records nothing, so untraced runs pay only a context-manager
    call per step."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans = []
        self._stack = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0


def job_group(spark, name: str) -> None:
    """Tag the jobs that follow, so the event log can attribute them."""
    spark.sparkContext.setJobGroup(name, name)


_ZERO = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
         "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
         "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
         "output_bytes": 0}


def eventlog_by_group(log_dir: str) -> dict:
    """{job group: totals} from every event-log file under log_dir —
    stages completed, tasks, executor run/CPU/GC seconds, shuffle
    read/write, spill, input and output bytes.  Read after the session
    has stopped, when the log is complete."""
    stage_group, out = {}, {}
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(p)
                   and os.path.basename(p).startswith(("events_", "local-")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    for sid in e.get("Stage IDs", ()):
                        stage_group[sid] = g
                    out.setdefault(g, dict(_ZERO))["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(e["Stage Info"]["Stage ID"])
                    if g is not None:
                        out[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e.get("Stage ID"))
                    m = e.get("Task Metrics")
                    if g is None or not m:
                        continue
                    r = out[g]
                    sr = m.get("Shuffle Read Metrics", {})
                    r["tasks"] += 1
                    r["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    r["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    r["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    r["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    r["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    r["output_bytes"] += m.get("Output Metrics", {}).get(
                        "Bytes Written", 0)
    return out


def sum_groups(by_group: dict, names) -> dict:
    tot = dict(_ZERO)
    for n in names:
        for k, v in by_group.get(n, {}).items():
            tot[k] += v
    return tot


def udf_profile(spark, dump_dir: str) -> dict:
    """{udf id: {"python_s": total time, "top": [...]}} from the perf
    UDF profiler (spark.sql.pyspark.udf.profiler=perf), through its
    public dump."""
    os.makedirs(dump_dir, exist_ok=True)
    spark.profile.dump(dump_dir, type="perf")
    out = {}
    for path in sorted(glob.glob(os.path.join(dump_dir, "*.pstats"))):
        st = pstats.Stats(path)
        top = sorted(st.stats.items(), key=lambda kv: -kv[1][2])[:5]
        out[os.path.basename(path)] = {
            "python_s": st.total_tt,
            "top": [{"func": f"{fn}:{line}:{name}", "self_s": v[2],
                     "calls": v[1]} for (fn, line, name), v in top]}
    return out
