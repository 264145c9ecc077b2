#!/usr/bin/env python3
"""Benchmark of the toymapreduce_go_spark engine.

    python3 perfbench/run.py --workload mr_text --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json and
perfbench/LAYERS.md): ``mr_text``, ``analytics_sweep``, ``stream_ingest``.
Each generates its inputs from ``--seed``, sets up, runs one untimed
warm-up pass and then a fixed number of timed passes over its unit of
work, checks every output, and prints a summary followed by one JSON
line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, computed from spans the
benchmark records around its calls into the package and from the Spark
event log (enabled only in a traced run). The traced run also writes
its spans to ``.perfbench_work/trace/`` and, when an untraced run of the
same workload and seed exists, reports the tracing overhead.

``--seconds`` sets the amount of work, not a deadline: each workload
turns it into a count of timed passes with its nominal warm pass time
on a 4-core host, so a slower or faster host runs the same passes and
``pass_s`` means the same thing on every run.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout, temporary files included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Load shape: one driver process, local[CORES], a pinned driver heap.
CORES = min(4, len(os.sched_getaffinity(0)))
# 2g: every workload runs within it, and runs at 4g spread more (the
# JVM grows its heap later and collects at other times).
DRIVER_MEM = "2g"


def process_start() -> float:
    """Epoch time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


class Context:
    def __init__(self, args, work: str, tracer):
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.gateway_proc = None

    def session_started(self, spark) -> None:
        sc = spark.sparkContext
        self.gateway_proc = getattr(sc._gateway, "proc", None)
        if self.traced:
            self.tracer.attach(sc)


def pin_environment(work: str, traced: bool) -> None:
    """Keep every file the run writes under ``work`` and pin the load
    shape; in a traced run, turn the event log on."""
    from spans import event_log_conf

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        # without -UsePerfData the JVM writes /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers import the package by path
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    submit = ["--conf", f"spark.sql.warehouse.dir={work}/warehouse"]
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        submit += event_log_conf(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(ctx: Context, spark) -> None:
    """Stop the session and wait for the JVM (and so its Python workers)
    to exit."""
    if spark is None:
        return
    spark.stop()
    proc = ctx.gateway_proc
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("mr_text", "analytics_sweep", "stream_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    import toymapreduce_go_spark  # noqa: F401 - fail fast without it
    from spans import Tracer, attribute_jobs, read_event_log
    from layers import PER_LAYER, per_layer
    from stats import median, peak_rss_mb
    from workloads import WORKLOADS

    tracer = Tracer()
    ctx = Context(args, work, tracer)
    wl = WORKLOADS[args.workload](ctx)
    try:
        with tracer.span("run", "run"):
            with tracer.span(args.workload, "workload"):
                wl.setup()
                wl.warm_up()
                t_first = time.time()
                wl.measure(wl.passes_for(args.seconds))
                # before the checks, which add their own work to the
                # driver and the JVM
                rss = peak_rss_mb()
                wl.finish()
    finally:
        stop_spark(ctx, wl.spark)

    e2e = {"setup_s": t_first - t_proc,
           "pass_s": median(wl.pass_s),
           "peak_rss_mb": rss}
    units = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-"
                                    f"t{args.trace}.json"), "w") as f:
        json.dump(e2e, f)

    print(f"workload {args.workload} seed {args.seed} cores {CORES} "
          f"driver_heap {DRIVER_MEM} closed loop, 1 client")
    print("inputs " + json.dumps(wl.inputs, sort_keys=True))
    print("passes_s " + json.dumps([round(x, 3) for x in wl.pass_s]))
    for msg in wl.errors:
        print(f"CHECK FAILED {msg}")
    failed_frac = wl.failed / wl.attempted if wl.attempted else 1.0
    rows = [(k, v, units[k], len(wl.pass_s) if k == "pass_s" else 1)
            for k, v in e2e.items()]
    rows += wl.named_metrics() + [("failed_frac", failed_frac, "1",
                                   wl.attempted)]
    for name, value, unit, n in rows:
        shown = "n/a (too few samples)" if value is None else f"{value:.4f}"
        print(f"metric {name} = {shown} {unit} (n={n})")

    if args.trace:
        log = read_event_log(os.path.join(work, "eventlog"))
        attribution = attribute_jobs(tracer.spans, log["jobs"])
        layer = per_layer(wl, tracer.spans, log, attribution, CORES)
        metrics = {k: {"value": layer[k], "unit": unit}
                   for k, unit in PER_LAYER.items()}
        overhead = None
        untraced = os.path.join(results,
                                f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base_e2e = json.load(f)
            overhead = {k: e2e[k] - base_e2e[k] for k in e2e}
            print("tracing overhead (traced - untraced) "
                  + json.dumps(overhead, sort_keys=True))
        else:
            print("tracing overhead: no untraced run of this seed yet")
        traces = os.path.join(base, "trace")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-s{args.seed}.json"),
                    {"per_layer": layer, "end_to_end": e2e,
                     "overhead": overhead, "inputs": wl.inputs,
                     "jobs": log["jobs"], "job_span": attribution})
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
