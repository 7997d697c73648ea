"""Benchmark entry point.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 12 --trace 0

Runs one workload on a local[nproc] Spark session built through
geographiclib_go_spark.session.build_session, and prints one JSON
line per run: first a record line (run stamp, host noise, the
workload's own headline numbers, set-up phases, check problems), and
last the result line {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1
they are the per-layer ones, and the spans, the Spark event-log
summary and the UDF profile are written to
.perfbench-work/traces/<workload>-seed<seed>.json.

Everything the run writes stays under .perfbench-work/ in the
checkout; its scratch directory is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_DIR = os.path.join(ROOT, ".perfbench-work")
# Spark driver heap: the engine's default (48g) does not fit a 15 GB host
# that other processes share; 3g holds every workload's cache.
HEAP = "3g"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("tile_join", "staged_resume"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return args


def engine_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "geographiclib_go_spark",
                                            "__init__.py")))


def prepare_env(work: str, cpus: int) -> None:
    """Point every scratch location of Spark, its Python workers and
    the engine's snapshot store inside the run's work directory."""
    for d in ("local", "tmp", "store", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_STORE": os.path.join(work, "store"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": os.path.join(work, "tmp"),
        # the launcher JVM would otherwise keep perf data under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = None


def start_session(work: str, cpus: int, workload: str, traced: bool):
    from geographiclib_go_spark.session import build_session
    extra = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = build_session(app=f"perfbench-{workload}",
                          master=f"local[{cpus}]", extra=extra)
    spark.range(1).count()
    return spark


def declared(key: str) -> dict:
    """{metric name: unit} for one metric list of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


def layer_metrics(outcome, events: dict, profile: dict, cpu: dict,
                  probes: dict) -> dict:
    """Per-layer metrics: the probes, plus Spark totals per traced
    iteration (median) and UDF profiler seconds per traced iteration.
    Spill bytes are 0 on both workloads, so they stay in the trace
    file's event-log summary instead."""
    from perfbench import trace
    traced = [i for i, t in enumerate(outcome.traced) if t]
    per_iter = [trace.sum_groups(events, outcome.groups[i]) for i in traced]
    m = dict(probes)
    for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes"):
        m[f"spark.{k}"] = statistics.median(it[k] for it in per_iter)
    m["udf.python_s"] = sum(p["python_s"] for p in profile.values()) / len(traced)
    m["host.steal_frac"] = cpu["steal_frac"]
    return m


def trace_overhead(outcome) -> dict:
    """Traced minus untraced iteration wall, from each traced iteration
    and the untraced one before it.  It counts the UDF profiler and the
    spans; the event log is on for the whole traced session, so its
    cost is in both sides and not counted.  `resolved` says whether
    the median difference is larger than the range of the untraced
    walls."""
    s = outcome.samples
    diffs = [s[i] - s[i - 1] for i, t in enumerate(outcome.traced)
             if t and i > 0 and not outcome.traced[i - 1]]
    plain = outcome.untraced()
    noise = max(plain) - min(plain)
    med = statistics.median(diffs) if diffs else None
    return {"median_diff_s": med, "pairs": len(diffs),
            "untraced_range_s": noise,
            "resolved": med is not None and len(plain) > 1
            and abs(med) > noise}


def main(argv=None) -> int:
    args = parse(argv)
    if not engine_present():
        print(f"error: no geographiclib_go_spark engine next to {HERE}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host, layers, metrics, trace, workloads

    cpus = host.nproc()
    work = os.path.join(WORK_DIR, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, cpus)
    cpu = host.CpuWindow()
    tracer = trace.Tracer(bool(args.trace))
    probes, profile, spark = {}, {}, None
    mon = host.TreeMonitor()
    try:
        try:
            with mon:
                t0 = time.perf_counter()
                with tracer.span("setup.session"):
                    spark = start_session(work, cpus, args.workload, args.trace)
                ctx = workloads.Ctx(spark, args.seed, args.seconds,
                                    bool(args.trace), work, tracer)
                ctx.setup["session"] = time.perf_counter() - t0
                outcome = workloads.WORKLOADS[args.workload](ctx)
                if args.trace:
                    probes.update(layers.kernel_probes(ctx))
                    probes.update(layers.spark_probes(ctx))
                    probes.update(layers.lineage_probes(ctx, outcome))
                    probes.update(layers.query_probes(ctx))
                    profile = trace.udf_profile(spark, os.path.join(work, "profile"))
                conf = {k: spark.conf.get(k) for k in (
                    "spark.master", "spark.sql.shuffle.partitions",
                    "spark.driver.memory")}
        finally:
            # the monitor has stopped sampling, so `seen` is final
            if spark is not None:
                killed = host.stop_spark(spark, mon.seen)
        cpu_use = cpu.summary(mon.cpu_ticks)
        checks = ctx.checks
        if not outcome.untraced():
            print("error: no timed iteration completed:\n"
                  + "\n".join(checks.problems), file=sys.stderr)
            return 1
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "stamp": host.stamp(ROOT), "spark": conf, "host": cpu_use,
            "setup_phases_s": ctx.setup,
            "job_samples_s": outcome.untraced(),
            "failed_frac": checks.failed / max(checks.attempted, 1),
            "problems": checks.problems[:20], "killed_pids": killed,
            "peak_rss_mb": {"tree": mon.peak_mb,
                            "jvm": mon.peak_jvm_kb / 1024,
                            "python_workers": mon.peak_py_kb / 1024,
                            "largest_python_worker": mon.peak_one_py_kb / 1024},
            **outcome.record}
        if args.trace:
            events = trace.eventlog_by_group(os.path.join(work, "eventlog"))
            values = layer_metrics(outcome, events, profile, cpu_use, probes)
            units = declared("per_layer")
            record["trace_overhead"] = trace_overhead(outcome)
            path = os.path.join(WORK_DIR, "traces",
                                f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                json.dump({"record": record, "metrics": values,
                           "moves": metrics.MOVES,
                           "notes": ctx.notes,
                           "spans": tracer.spans, "eventlog": events,
                           "udf_profile": profile,
                           "samples": {"wall_s": outcome.samples,
                                       "traced": outcome.traced,
                                       "groups": outcome.groups}},
                          fh, indent=1, default=str)
            record["trace_file"] = os.path.relpath(path, ROOT)
        else:
            units = declared("end_to_end")
            values = {"job_s": outcome.job_s(),
                      "setup_s": sum(ctx.setup.values()),
                      "worker_rss_mb": mon.peak_one_py_kb / 1024}
        print(json.dumps({"record": record}, default=str))
        print(json.dumps({
            "correct": checks.failed == 0, "attempted": checks.attempted,
            "failed": checks.failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()}}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
