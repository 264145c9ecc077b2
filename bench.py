#!/usr/bin/env python
"""Benchmark harness: runs the declared query surface at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock of all benched queries (lower is
better); per-query seconds are in ``queries``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from toymapreduce_go_spark.plans.queries import (  # noqa: E402
    DECLARED, QUERIES, TIER2_QUERIES)
from toymapreduce_go_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Every declared query runs in the bench. The O(n^2)-pair queries
# (embedding_near_dup) are capped by their operator design to the probe/
# bucket pattern at scale; they run as declared here.
BENCH_QUERIES = list(DECLARED)


def materialize(df) -> None:
    """Full-fidelity action: the noop sink executes the complete plan
    (every column, every operator) without driver-side collect; count()
    would let Catalyst prune projections and sorts and under-report."""
    df.write.format("noop").mode("overwrite").save()


def load_prior_bench(repo_dir: str, sf=None,
                     key: str = "queries") -> dict[str, float]:
    """Per-query seconds from the most recent driver-recorded BENCH_r*.json
    (empty if none exists / parses). When ``sf`` is given, a prior round
    recorded at a DIFFERENT scale factor is ignored — comparing an sf1
    run against an sf0.1 baseline would flag every query (or mask every
    real regression in the other direction). ``key`` selects the tier
    ("queries" = declared, "tier2" = the heavyweight pytest-only tier;
    rounds before the tier existed simply yield {} and the guard has
    nothing to compare — never a false flag)."""
    import glob
    import re

    rounds: list[tuple[int, str]] = []
    for path in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    # Most recent round with usable numbers wins — a crashed round records
    # parsed:null (r5 did) and must not mask the last good baseline.
    for _, path in sorted(rounds, reverse=True):
        try:
            with open(path) as f:
                parsed = json.load(f)["parsed"]
            if sf is not None and parsed.get("sf") != sf:
                continue
            queries = dict(parsed["queries"])  # raises -> skip the round
            return dict(parsed.get(key) or {}) if key != "queries" \
                else queries
        except Exception:
            continue
    return {}


def machine_speed_ratio(current: dict[str, float],
                        prior: dict[str, float]) -> float:
    """Median per-query current/prior ratio — the machine-speed factor
    between the two runs. A code regression is query-specific; host
    noise (shared-host neighbors, decaying load) lifts the WHOLE
    distribution, and observed medians swing 0.9-1.8x across
    identical-code runs. Clamped to >= 1 so a faster machine tightens
    the guard instead of hiding regressions."""
    ratios = sorted(sec / prior[q] for q, sec in current.items()
                    if q in prior and prior[q] > 0)
    if not ratios:
        return 1.0
    return max(1.0, ratios[len(ratios) // 2])


# A genuine host-speed swing lifts the median ratio; so does a fleet-wide
# CODE regression (r6 advice: uncapped, a change slowing >=half the suite
# is absorbed into the speed factor and the guard goes blind). Cap the
# normalization and warn loudly past the cap — per-query guard thresholds
# never exceed ratio * SPEED_CAP, whatever the host does.
SPEED_CAP = 1.5


def find_regressions(current: dict[str, float],
                     prior: dict[str, float],
                     ratio: float = 1.5,
                     min_abs_sec: float = 1.0,
                     speed: float = 1.0) -> list[str]:
    """Queries slower than ``ratio``x the (machine-speed-normalized)
    prior round AND by more than ``min_abs_sec`` absolute (sub-second
    timings are noise-dominated on a 32-thread local JVM even with
    best-of-2)."""
    return sorted(
        q for q, sec in current.items()
        if q in prior and sec > ratio * speed * prior[q]
        and sec - speed * prior[q] > min_abs_sec)


def main() -> None:
    spark = build_session("toymapreduce-go-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footers with a trivial action so per-query
    # timings measure the queries, not session startup.
    from toymapreduce_go_spark.sources.registry import TABLES, load_table
    for t in TABLES:
        load_table(spark, SF_DIR, t).count()

    # Pre-warm the Python worker pool across all cores: the first RDD /
    # pandas-UDF stage otherwise pays one daemon + N worker forks, which
    # lands on whichever Python-stage query runs first (r6 recorded
    # mr_compat_wordcount at 2.5x for exactly this class of cost; with
    # spark.python.worker.reuse pinned, warmed workers persist).
    cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(cpus * 4), cpus).map(
        lambda x: x).count()
    from pyspark.sql import functions as _F

    @_F.pandas_udf("double")
    def _warm(v):
        return v * 1.0
    spark.range(cpus * 4).repartition(cpus).select(
        _warm(_F.col("id").cast("double"))).count()

    # Best-of-2: single-shot timings on a 32-thread local JVM are noisy
    # (JIT compile storms, GC pauses, Python-worker forks inject random
    # multi-second stragglers — observed single-pass totals spread ±50%
    # on identical code). Two full passes, min per query: pass 1 pays
    # compile/fork costs, pass 2 measures the steady state a long-running
    # cluster job actually sees.
    # A raising query must not abort the harness (round 5 lost ALL perf
    # data to one AnalysisException): record the error, keep benching,
    # always emit the metrics line. Errored queries are excluded from the
    # total and the regression guard but listed under "errors".
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for _pass in range(2):
        for name in BENCH_QUERIES:
            if name in errors:
                continue
            try:
                t0 = time.perf_counter()
                materialize(QUERIES[name](spark, SF_DIR))
                el = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # noqa: BLE001 — harness boundary
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                timings.pop(name, None)
                print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
                continue
            if name not in timings or el < timings[name]:
                timings[name] = el

    # Tier 2: the heavyweight pytest-only queries (plans/queries.py
    # says which, and why each one). Timed single-pass on the now-fully-
    # warm JVM/worker pool (each is multi-second at sf0.1 so single-pass
    # noise stays under the guard's 1.5x-and-1s bar), recorded under
    # "tier2" — EXCLUDED from the headline declared total so cross-round
    # value comparisons stay apples-to-apples — and guarded against the
    # prior round exactly like the declared tier.
    tier2: dict[str, float] = {}
    for name in TIER2_QUERIES:
        try:
            t0 = time.perf_counter()
            materialize(QUERIES[name](spark, SF_DIR))
            tier2[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — harness boundary
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    line = {
        "metric": "total_declared_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "tier2": tier2,
        "sf": sf_val,
    }
    if errors:
        line["errors"] = errors
    print(json.dumps(line))

    # Regression guard: any query >1.5x slower than the prior recorded
    # round (and by >1s absolute) fails the bench loudly — a correct-but-
    # regressed operator is not done. rc=2 AFTER the JSON line so the
    # metrics are still recorded. SPARK_GRAFT_BENCH_NO_GUARD=1 disables
    # (for A/B experiments against deliberately changed baselines).
    #
    # Flagged queries get ONE confirmation re-run first: early-position
    # queries see ±2x first-query JIT variance even with best-of-2
    # (observed: wordcount 0.68/2.05/1.26 across identical-code runs), and
    # transient noise vanishes on a now-fully-warm JVM while a real
    # regression persists. The reported JSON above stays the comparable
    # best-of-2 numbers; the re-run only arbitrates the guard verdict.
    if not os.environ.get("SPARK_GRAFT_BENCH_NO_GUARD"):
        repo_dir = os.path.dirname(os.path.abspath(__file__))
        prior = load_prior_bench(repo_dir, sf=sf_val)
        # tier2 joins the guard with its own prior baseline (names never
        # collide with declared); the machine-speed normalization stays
        # declared-only — 50 best-of-2 samples beat 5 single-pass ones.
        prior.update(load_prior_bench(repo_dir, sf=sf_val, key="tier2"))
        current_all = {**timings, **tier2}
        raw_speed = machine_speed_ratio(timings, prior)
        speed = min(raw_speed, SPEED_CAP)
        if raw_speed > SPEED_CAP:
            print(f"BENCH WARNING median per-query ratio {raw_speed:.2f}x "
                  f"exceeds the host-drift cap {SPEED_CAP}x — either the "
                  "host is unusually slow or a code change slowed most of "
                  "the suite; guard normalization capped at the latter",
                  file=sys.stderr)
        elif speed > 1.05:
            print(f"BENCH NOTE machine-speed ratio {speed:.2f}x vs prior "
                  "round (median per-query) — guard thresholds scaled",
                  file=sys.stderr)
        confirmed = {}
        for q in find_regressions(current_all, prior, speed=speed):
            t0 = time.perf_counter()
            materialize(QUERIES[q](spark, SF_DIR))
            best = min(current_all[q], round(time.perf_counter() - t0, 3))
            if find_regressions({q: best}, prior, speed=speed):
                confirmed[q] = best
        if confirmed:
            for q, sec in confirmed.items():
                print(f"BENCH REGRESSION {q}: {sec}s vs prior "
                      f"{prior[q]}s (>1.5x at speed {speed:.2f}x, "
                      "confirmed on re-run)", file=sys.stderr)
            sys.exit(2)
    # An erroring query is worse than a regression — fail loudly, but only
    # AFTER the metrics line so the round still records all other numbers.
    if errors:
        sys.exit(2)


if __name__ == "__main__":
    main()
