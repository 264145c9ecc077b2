"""The three workloads. Each is a closed loop with one client: the next
operation starts when the previous one returns.

A workload runs in four steps. ``setup`` builds its inputs (in a child
process) and the session; ``warm_up`` runs one untimed pass over a
fixed unit of work; ``measure`` runs a fixed number of timed passes;
``finish`` checks the outputs of every pass. The run reads its peak
memory between ``measure`` and ``finish``, so neither the input
generators nor the checks and their oracles count toward it. Every
call into the package sits inside a span of the run's ``Tracer``.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

from gen import (CATALOG, FIXTURE_DIR, make_arrivals, make_mr_corpus,
                 make_permuted_catalog, mr_oracle)
from stats import median, percentile
import checks


HERE = os.path.dirname(os.path.abspath(__file__))


def in_child(fn, *args):
    """``fn(*args)`` for a function of ``gen`` with JSON arguments and
    result, run in a fresh interpreter that has exited when this returns,
    so its memory never counts toward the run's peak RSS."""
    code = ("import json, sys, gen; print(json.dumps(gen."
            f"{fn.__name__}(*json.loads(sys.argv[1]))))")
    out = subprocess.run([sys.executable, "-c", code, json.dumps(args)],
                         cwd=HERE, check=True, capture_output=True, text=True)
    return json.loads(out.stdout)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


class Workload:
    name = ""
    # Nominal wall time of one warm pass on a 4-core host. It turns
    # --seconds into a pass count, so that the number of passes, and so
    # the meaning of their median, does not depend on the host's speed.
    pass_budget_s = 1.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.tracer = ctx.tracer
        self.spark = None
        self.inputs: dict = {}
        self.pass_s: list[float] = []
        self.op_s: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- helpers -------------------------------------------------------------
    def start_session(self) -> None:
        from toymapreduce_go_spark.session import build_session

        with self.tracer.span("session.start", "setup"):
            self.spark = build_session("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.ctx.session_started(self.spark)

    def fail(self, msgs: list[str], ops: int = 1) -> None:
        if msgs:
            self.failed += ops
            self.errors.extend(msgs)

    def sample(self, key: str, seconds: float) -> None:
        self.op_s.setdefault(key, []).append(seconds)

    def passes_for(self, seconds: float) -> int:
        """Timed passes a run of ``seconds`` makes (at least one)."""
        return max(1, round(seconds / self.pass_budget_s))

    def warm_up(self) -> None:
        """One untimed pass, so that every timed pass runs in a warm
        session (the first pass pays for JIT compilation, Python worker
        start and first scans). Its outputs are checked like the
        others'."""
        with self.tracer.span("warmup", "warmup"):
            self.one_pass("warmup")
        self.op_s.clear()

    def measure(self, passes: int) -> None:
        for n in range(passes):
            with self.tracer.span("pass", "pass", index=n) as span:
                self.one_pass(n)
            self.pass_s.append(span["end"] - span["start"])

    def named_metrics(self) -> list[tuple[str, float | None, str, int]]:
        """(name, value, unit, samples) rows of the summary table; value
        None when the percentile helper has too few samples."""
        rows = []
        for key, samples in self.op_s.items():
            for q in (0.5, 0.9):
                rows.append((f"{key}.p{int(q * 100)}",
                             percentile(samples, q), "s", len(samples)))
        return rows

    def setup(self) -> None:
        raise NotImplementedError

    def one_pass(self, index: int | str) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------------

class MrText(Workload):
    """The reference's own workload: compat ``wc`` and ``indexer`` over a
    whole-file plaintext corpus, written through the text sink and
    byte-compared against a sequential oracle."""
    name = "mr_text"
    pass_budget_s = 6.0

    def setup(self) -> None:
        from toymapreduce_go_spark.mr.api import (indexer_map,
                                                  indexer_reduce, wc_map,
                                                  wc_reduce)
        self.apps = {"wc": (wc_map, wc_reduce),
                     "indexer": (indexer_map, indexer_reduce)}
        self.corpus = os.path.join(self.ctx.work, "corpus")
        with self.tracer.span("inputs", "setup"):
            self.inputs = in_child(make_mr_corpus, self.ctx.seed,
                                   self.corpus)
        self.outputs: list[tuple[str, str]] = []
        self.start_session()

    def one_pass(self, index: int | str) -> None:
        from toymapreduce_go_spark.mr.api import run_map_reduce_files
        from toymapreduce_go_spark.sources.sinks import write_text_kv

        files = os.path.join(self.corpus, "*.txt")
        for app, (map_f, reduce_f) in self.apps.items():
            out = os.path.join(self.ctx.work, f"out-{app}-{index}")
            self.attempted += 1
            try:
                with self.tracer.span(app, "op", layer="mr") as op:
                    with self.tracer.span("construct", "phase"):
                        df = run_map_reduce_files(self.spark, map_f,
                                                  reduce_f, files)
                    with self.tracer.span("exec", "phase"):
                        write_text_kv(df, out)
            except Exception as exc:  # noqa: BLE001 - counted as failed
                self.fail([f"{app}: {type(exc).__name__}: {exc}"[:300]])
                continue
            self.sample(f"{app}_s", op["end"] - op["start"])
            self.outputs.append((app, out))

    def finish(self) -> None:
        """Byte-compare every sink output with the sequential oracle."""
        oracle = mr_oracle(self.corpus,
                           lambda p: "file:" + os.path.abspath(p))
        self.inputs["distinct_keys"] = oracle["distinct_keys"]
        for app, out in self.outputs:
            self.fail(checks.check_sink(app, out, oracle[app]))


# ---------------------------------------------------------------------------

# The analytics_sweep's query set: one or two queries per layer of the
# package, small enough that the warm-up, a timed pass and the checks
# fit one run. The mr layer is left to the mr_text workload.
SWEEP_QUERIES = (
    "unicode_wordcount",    # plans: DataFrame text path
    "udaf_geomean_prices",  # functions: pandas UDAF
    "pricing_summary",      # operators: relational flagship
    "near_dedup_minhash",   # operators: MinHash LSH dedup, costly construct
    "audio_fingerprint",    # multimodal: lineage cut during construct
    "approx_stats",         # sketches; checked without an oracle
)
MULTIMODAL_QUERIES = frozenset({"audio_fingerprint"})
# the tables SWEEP_QUERIES read
SWEEP_TABLES = ("documents", "orders", "lineitem", "events")


class AnalyticsSweep(Workload):
    """Registered queries over the seed-permuted catalog, each built with
    ``QUERIES[name](spark, dir)`` and executed by collecting its rows.

    Collecting (not the noop sink) runs the complete plan once and keeps
    the rows for the output check, so no query runs twice in a timed
    pass. After the passes, every result is checked against its DuckDB
    oracle on the permuted catalog or, for a query without one, against
    its own result on the unpermuted fixture."""
    name = "analytics_sweep"
    pass_budget_s = 4.5

    def setup(self) -> None:
        from toymapreduce_go_spark.plans.queries import ORACLES, QUERIES
        from toymapreduce_go_spark.sources.registry import load_table

        self.queries, self.oracles = QUERIES, ORACLES
        self.names = list(SWEEP_QUERIES)
        self.rng = random.Random(self.ctx.seed)
        self.catalog = os.path.join(self.ctx.work, "catalog")
        with self.tracer.span("inputs", "setup"):
            self.inputs = in_child(make_permuted_catalog, self.ctx.seed,
                                   self.catalog)
        self.inputs["queries"] = len(self.names)
        self.results: list[tuple[str, list[str], list]] = []
        self.expected: dict[str, tuple] = {}
        self.start_session()
        with self.tracer.span("sources.catalog_warm", "setup"):
            for t in SWEEP_TABLES:
                load_table(self.spark, self.catalog, t).count()

    def one_pass(self, index: int | str) -> None:
        for name in self.rng.sample(self.names, len(self.names)):
            self.attempted += 1
            layer = ("multimodal" if name in MULTIMODAL_QUERIES
                     else "plans")
            try:
                with self.tracer.span(name, "op", layer=layer) as op:
                    with self.tracer.span("construct", "phase"):
                        df = self.queries[name](self.spark, self.catalog)
                    with self.tracer.span("exec", "phase"):
                        rows = df.collect()
            except Exception as exc:  # noqa: BLE001 - counted as failed
                self.fail([f"{name}: {type(exc).__name__}: {exc}"[:300]])
                continue
            self.sample("query_s", op["end"] - op["start"])
            self.results.append((name, df.columns, rows))

    def finish(self) -> None:
        duck = None
        try:
            for name, columns, rows in self.results:
                if name not in self.expected:
                    if name in self.oracles:
                        duck = duck or checks.duck_catalog(self.catalog,
                                                           CATALOG)
                        want = checks.duck_canonical(duck, self.oracles[name])
                    else:
                        want = checks.spark_canonical(
                            self.queries[name](self.spark, FIXTURE_DIR))
                    self.expected[name] = want
                got = checks.canonical(columns, rows)
                self.fail(checks.compare(name, got, self.expected[name]))
        finally:
            if duck is not None:
                duck.close()

    def named_metrics(self):
        rows = super().named_metrics()
        rows.append(("sweep_s", median(self.pass_s), "s", len(self.pass_s)))
        return rows


# ---------------------------------------------------------------------------

# Arrival files in the backlog, one micro-batch each: the first batch
# starts from empty state, the second probes it. Each batch costs 60-80
# Spark jobs whatever its size, so more would not fit a run.
ARRIVAL_FILES = 2


class StreamIngest(Workload):
    """``run_curation_ingest`` draining a backlog of arrival files,
    checked against the batch curation funnel."""
    name = "stream_ingest"
    pass_budget_s = 13.0

    def setup(self) -> None:
        import toymapreduce_go_spark.streaming.ingest as ingest

        self.ingest = ingest
        self.arrivals = os.path.join(self.ctx.work, "arrivals")
        with self.tracer.span("inputs", "setup"):
            self.inputs = in_child(make_arrivals, self.ctx.seed,
                                   self.arrivals, ARRIVAL_FILES)
        self.start_session()
        with self.tracer.span("sources.catalog_warm", "setup"):
            self.docs = self.spark.read.parquet(
                os.path.join(FIXTURE_DIR, "documents.parquet"))
            self.docs.count()
        self.drains: list[str] = []
        if self.ctx.traced:
            self._wrap_steps()

    def _wrap_steps(self) -> None:
        """Traced run only: record each step call of the foreachBatch
        body as a phase span (linked to its batch after the drain)."""
        tracer = self.tracer

        def wrap(fn, name):
            def stepped(spark, batch, batch_id, state_dir, *a, **kw):
                with tracer.span(name, "phase", batch_id=batch_id,
                                 state_dir=state_dir):
                    return fn(spark, batch, batch_id, state_dir, *a, **kw)
            return stepped

        self.ingest.quality_batch_step = wrap(self.ingest.quality_batch_step,
                                              "quality_step")
        self.ingest.near_dedup_batch_step = wrap(
            self.ingest.near_dedup_batch_step, "dedup_step")

    def one_pass(self, index: int | str) -> None:
        state = os.path.join(self.ctx.work, f"state-{index}")
        stream = (self.spark.readStream.schema(self.docs.schema)
                  .option("maxFilesPerTrigger", 1).parquet(self.arrivals))
        try:
            q = self.ingest.run_curation_ingest(stream, state, self.spark)
        except Exception as exc:  # noqa: BLE001 - counted as failed
            self.attempted += ARRIVAL_FILES
            self.fail([f"drain {index}: {type(exc).__name__}: {exc}"[:300]],
                      ARRIVAL_FILES)
            return
        pass_id = self.tracer._parent()
        for p in q.recentProgress:
            if not p["numInputRows"]:
                continue
            start = _iso_epoch(p["timestamp"])
            dur = p["durationMs"]
            op = self.tracer.add("batch", "op", start,
                                 start + dur["triggerExecution"] / 1e3,
                                 pass_id, batch_id=p["batchId"],
                                 state_dir=state,
                                 rows=p["numInputRows"],
                                 add_batch_s=dur.get("addBatch", 0) / 1e3)
            op["op"] = op["id"]
            for step in self.tracer.spans:  # traced run: this batch's steps
                if (step.get("state_dir"), step.get("batch_id")) == (
                        state, p["batchId"]) and step["kind"] == "phase":
                    step["parent"] = step["op"] = op["id"]
            self.attempted += 1
            self.sample("batch_s", dur["triggerExecution"] / 1e3)
        self.drains.append(state)

    def finish(self) -> None:
        """The checks of ``test_streaming_curation_end_to_end_matches_
        batch_funnel``, per drained state directory."""
        from pyspark.sql import functions as F
        from toymapreduce_go_spark.operators.dedup import near_dedup_minhash
        from toymapreduce_go_spark.operators.quality_model import gate_labels

        gate_ids = {r["doc_id"] for r in gate_labels(self.docs)
                    .filter("label = 1.0").select("doc_id").collect()}
        n_docs = self.inputs["rows"]
        pairs_among: dict[frozenset, int] = {}  # drains often agree
        for state in self.drains:
            tel = self.ingest.read_telemetry(self.spark, state).agg(
                F.sum("n_docs").alias("d"), F.sum("n_pass").alias("p")
            ).collect()[0]
            surv = {r["doc_id"] for r in
                    self.ingest.read_survivors(self.spark, state)
                    .select("doc_id").collect()}
            msgs = []
            if tel["d"] != n_docs:
                msgs.append(f"telemetry n_docs {tel['d']} != {n_docs}")
            if tel["p"] != len(gate_ids):
                msgs.append(f"telemetry n_pass {tel['p']} != gate "
                            f"{len(gate_ids)}")
            if not surv or not surv <= gate_ids:
                msgs.append("survivors empty or not a subset of the gate")
            key = frozenset(surv)
            if key not in pairs_among:
                surv_docs = self.docs.join(self.spark.createDataFrame(
                    [(i,) for i in sorted(surv)], "doc_id long"), "doc_id",
                    "left_semi")
                pairs_among[key] = near_dedup_minhash(
                    surv_docs, threshold=0.5).count()
            pairs = pairs_among[key]
            if pairs:
                msgs.append(f"{pairs} near-duplicate pairs among survivors")
            self.fail(msgs, ARRIVAL_FILES)
            self.inputs["state_bytes"] = dir_bytes(state)
            self.inputs["gate_pass"] = len(gate_ids)
            self.inputs["survivors"] = len(surv)
            self.inputs["near_dup_dropped_frac"] = (
                1 - len(surv) / len(gate_ids) if gate_ids else 0.0)
        if self.ctx.traced:
            # the batch tier's single pass over the same corpus: gate,
            # then verified MinHash near-dedup
            with self.tracer.span("batch_tier", "setup") as span:
                near_dedup_minhash(self.ingest.gate_filter(self.docs),
                                   threshold=0.5).write.format(
                                       "noop").mode("overwrite").save()
            self.inputs["batch_tier_s"] = span["end"] - span["start"]

    def named_metrics(self):
        rows = super().named_metrics()
        docs = self.inputs["rows"]
        rows.append(("docs_per_s", docs / median(self.pass_s), "1/s",
                     len(self.pass_s)))
        return rows


def _iso_epoch(ts: str) -> float:
    """'2026-01-02T03:04:05.678Z' -> epoch seconds."""
    import datetime
    return datetime.datetime.strptime(
        ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


WORKLOADS = {w.name: w for w in (MrText, AnalyticsSweep, StreamIngest)}
