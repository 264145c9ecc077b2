"""Per-layer metrics of a traced run, computed from the run's spans and
the Spark event log. Layers are named after the package's modules.
Every metric is reported on every workload; a layer a workload does
not exercise reads 0."""

from __future__ import annotations

from stats import median

PER_LAYER = {
    "session.start_s": "s",
    "sources.catalog_warm_s": "s",
    "plans.construct_s": "s",
    "plans.construct_py4j_calls": "count",
    "plans.construct_jobs": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.task_run_s": "s",
    "operators.task_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.core_busy_frac": "ratio",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "sources.scan_bytes": "bytes",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_received": "bytes",
    "multimodal.exec_s": "s",
    "mr.construct_s": "s",
    "mr.map_stage_task_s": "s",
    "mr.reduce_stage_task_s": "s",
    "mr.shuffle_records": "count",
    "mr.shuffle_bytes_per_input_byte": "ratio",
    "sources.sink_bytes_written": "bytes",
    "streaming.quality_step_s.p50": "s",
    "streaming.dedup_step_s.p50": "s",
    "streaming.trigger_overhead_s.p50": "s",
    "streaming.source_reads_per_batch": "ratio",
    "streaming.jobs_per_batch": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_write_bytes_per_batch": "bytes",
    "streaming.batch_tier_s": "s",
}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _med(values: list[float]) -> float:
    return median(values) if values else 0.0


def per_layer(workload, spans: list[dict], log: dict,
              attribution: dict[int, int], cores: int) -> dict[str, float]:
    """All ``PER_LAYER`` metrics over the timed passes of ``workload``."""
    by_id = {s["id"]: s for s in spans}
    out = dict.fromkeys(PER_LAYER, 0.0)

    def setup_span(name):
        return sum(_dur(s) for s in spans
                   if s["kind"] == "setup" and s["name"] == name)

    out["session.start_s"] = setup_span("session.start")
    out["sources.catalog_warm_s"] = setup_span("sources.catalog_warm")

    timed_ops = {s["id"] for s in spans if s["kind"] == "op"
                 and s["parent"] is not None
                 and by_id[s["parent"]]["kind"] == "pass"}
    ops = [by_id[i] for i in timed_ops]

    def op_of(span_id):
        s = by_id[span_id]
        while s["kind"] != "op" and s["parent"] is not None:
            s = by_id[s["parent"]]
        return s if s["kind"] == "op" else None

    # phases of timed ops (streaming steps are linked through batch_id)
    phases = [s for s in spans if s["kind"] == "phase"
              and s["parent"] in timed_ops]
    constructs = [s for s in phases if s["name"] == "construct"]
    execs = [s for s in phases if s["name"] == "exec"]
    plan_constructs = [s for s in constructs
                       if by_id[s["parent"]].get("layer") != "mr"]
    mr_constructs = [s for s in constructs
                     if by_id[s["parent"]].get("layer") == "mr"]
    out["plans.construct_s"] = sum(map(_dur, plan_constructs))
    out["plans.construct_py4j_calls"] = sum(s.get("py4j_calls", 0)
                                            for s in plan_constructs)
    out["mr.construct_s"] = sum(map(_dur, mr_constructs))
    out["operators.exec_s"] = sum(map(_dur, execs))
    out["multimodal.exec_s"] = sum(
        _dur(s) for s in execs
        if by_id[s["parent"]].get("layer") == "multimodal")

    # jobs of the timed ops, and the stages they ran
    job_span = {j: by_id[s] for j, s in attribution.items()}
    timed_jobs = {j for j, s in job_span.items()
                  if (op_of(s["id"]) or {}).get("id") in timed_ops}
    construct_ids = {s["id"] for s in plan_constructs}
    out["plans.construct_jobs"] = sum(
        1 for j in timed_jobs if job_span[j]["id"] in construct_ids)
    stages = {sid: st for sid, st in log["stages"].items()
              if st["job"] in timed_jobs}
    out["operators.jobs"] = len(timed_jobs)
    out["operators.stages"] = len(stages)

    def total(key, which=stages.values()):
        return sum(st[key] for st in which)

    out["operators.tasks"] = total("tasks")
    out["operators.failed_tasks"] = total("failed")
    out["operators.task_run_s"] = total("run_s")
    out["operators.task_cpu_s"] = total("cpu_s")
    out["operators.gc_s"] = total("gc_s")
    busy_window = sum(map(_dur, ops))
    if busy_window:
        out["operators.core_busy_frac"] = (out["operators.task_run_s"]
                                           / (busy_window * cores))
    out["operators.shuffle_write_bytes"] = total("shuffle_write_bytes")
    out["operators.shuffle_read_bytes"] = total("shuffle_read_bytes")
    out["operators.spill_bytes"] = total("spill_bytes")
    out["sources.scan_bytes"] = total("scan_bytes")
    out["sources.sink_bytes_written"] = total("sink_bytes")
    out["functions.python_bytes_sent"] = total("python_sent")
    out["functions.python_bytes_received"] = total("python_received")

    # mr: stages of mr-layer ops; map stages write shuffle, the reduce
    # stage is the one that does not
    mr_ops = {s["id"] for s in ops if s.get("layer") == "mr"}
    mr_stages = [st for st in stages.values()
                 if (op_of(job_span[st["job"]]["id"]) or {}).get("id")
                 in mr_ops]
    out["mr.map_stage_task_s"] = sum(st["run_s"] for st in mr_stages
                                     if st["shuffle_write_bytes"])
    out["mr.reduce_stage_task_s"] = sum(st["run_s"] for st in mr_stages
                                        if not st["shuffle_write_bytes"])
    out["mr.shuffle_records"] = total("shuffle_records", mr_stages)
    mr_input = sum(st["scan_bytes"] for st in mr_stages
                   if st["shuffle_write_bytes"])
    if mr_input:
        out["mr.shuffle_bytes_per_input_byte"] = (
            total("shuffle_write_bytes", mr_stages) / mr_input)

    # streaming: batch ops carry the progress numbers, their step calls
    # are phases
    batches = [s for s in ops if s["name"] == "batch"]
    if batches:
        steps: dict[str, list[float]] = {}
        for s in phases:
            steps.setdefault(s["name"], []).append(_dur(s))
        out["streaming.quality_step_s.p50"] = _med(steps.get("quality_step",
                                                             []))
        out["streaming.dedup_step_s.p50"] = _med(steps.get("dedup_step", []))
        out["streaming.trigger_overhead_s.p50"] = _med(
            [_dur(b) - b["add_batch_s"] for b in batches])
        rows_per_file = workload.inputs["rows_per_file"]
        out["streaming.source_reads_per_batch"] = (
            sum(b["rows"] for b in batches) / rows_per_file / len(batches))
        out["streaming.jobs_per_batch"] = len(timed_jobs) / len(batches)
        out["streaming.state_bytes"] = workload.inputs.get("state_bytes", 0)
        out["streaming.state_write_bytes_per_batch"] = (
            out["sources.sink_bytes_written"] / len(batches))
        out["streaming.batch_tier_s"] = workload.inputs.get("batch_tier_s",
                                                            0.0)
    return out

