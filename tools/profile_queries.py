#!/usr/bin/env python
"""Profile registered queries layer by layer with the benchmark's tracer.

    python tools/profile_queries.py <sf_dir> <out.json> [query ...]

With no query names it profiles ``DECLARED + TIER2_QUERIES``. One
session with the Spark event log on runs one untimed warm-up pass (which
also captures each query's ``explain("formatted")`` text), then
``REPS`` passes over every query in turn. Each query run is an ``op``
span of ``perfbench/spans.py``'s tracer holding a ``construct`` phase
(the registry call) and an ``exec`` phase (a noop-sink write). After the
session stops, the event log's jobs are attributed to those spans, and
the output records per query and repetition, for each phase: wall time,
Spark jobs, stages and the stages' task sums; for construct also the
py4j calls.
"""
from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

from spans import (Tracer, attribute_jobs, event_log_conf,  # noqa: E402
                   read_event_log)

REPS = 3
# per-stage task sums of spans.read_event_log reported for each phase
STAGE_SUMS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "shuffle_records", "spill_bytes",
              "scan_bytes", "sink_bytes", "python_sent", "python_received",
              "failed")


def start_session(log_dir: str):
    """A new session whose event log goes to ``log_dir``."""
    from toymapreduce_go_spark.session import build_session

    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        event_log_conf(log_dir) + ["pyspark-shell"])
    spark = build_session("profile-queries")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def profile(spark, sf_dir: str, builders: dict) -> dict:
    """``{name: {"plan": text, "reps": [{"construct": {...}, "exec":
    {...}}, ...]}}`` for each ``builders[name](spark, sf_dir)``. Stops
    ``spark``: its event log is complete only then."""
    conf = spark.sparkContext.getConf()
    if conf.get("spark.eventLog.enabled") != "true":
        raise RuntimeError("profile needs a session with the event log "
                           "on; start it with start_session()")
    out = {}
    for name, build in builders.items():  # the untimed warm-up pass
        df = build(spark, sf_dir)
        text = io.StringIO()
        with contextlib.redirect_stdout(text):
            df.explain("formatted")
        _noop(df)
        out[name] = {"plan": text.getvalue(), "reps": []}
    tracer = Tracer()
    tracer.attach(spark.sparkContext)
    runs = []
    for _ in range(REPS):
        for name, build in builders.items():
            with tracer.span(name, "op"):
                with tracer.span("construct", "phase") as construct:
                    df = build(spark, sf_dir)
                with tracer.span("exec", "phase") as exec_:
                    _noop(df)
            runs.append((name, construct, exec_))
    spark.stop()
    log = read_event_log(conf.get("spark.eventLog.dir").removeprefix(
        "file://"))
    job_span = attribute_jobs(tracer.spans, log["jobs"])

    def phase(span: dict) -> dict:
        jobs = {j for j, s in job_span.items() if s == span["id"]}
        stages = [st for st in log["stages"].values() if st["job"] in jobs]
        return {"wall_s": span["end"] - span["start"], "jobs": len(jobs),
                "stages": len(stages),
                **{k: sum(st[k] for st in stages) for k in STAGE_SUMS}}

    for name, construct, exec_ in runs:
        out[name]["reps"].append({
            "construct": phase(construct)
            | {"py4j_calls": construct["py4j_calls"]},
            "exec": phase(exec_)})
    return out


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sf_dir, out_path = sys.argv[1:3]
    from toymapreduce_go_spark.plans.queries import (DECLARED, QUERIES,
                                                     TIER2_QUERIES)

    names = sys.argv[3:] or list(DECLARED) + TIER2_QUERIES
    with tempfile.TemporaryDirectory(prefix="profile-queries-") as log_dir:
        result = profile(start_session(log_dir), sf_dir,
                         {n: QUERIES[n] for n in names})
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "reps": REPS, "queries": result}, f,
                  indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
