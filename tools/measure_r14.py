#!/usr/bin/env python
"""Isolated per-query measurement for the r14 optimization round.

One warmed session, N repetitions per query (alternating rounds so a
transient host stall can't bias one query), reporting min/median plus a
construct/exec split (plan-build wall vs noop-sink wall). Guide §1:
measure the computation with the noop sink, label jobs, best-of-N.

Usage: python tools/measure_r14.py out.json [reps] [query ...]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from toymapreduce_go_spark.plans.queries import (  # noqa: E402
    DECLARED, QUERIES, TIER2_QUERIES)
from toymapreduce_go_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_path = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    names = sys.argv[3:] or list(DECLARED) + TIER2_QUERIES

    spark = build_session("measure-r14")
    spark.sparkContext.setLogLevel("ERROR")

    from toymapreduce_go_spark.sources.registry import TABLES, load_table
    for t in TABLES:
        load_table(spark, SF_DIR, t).count()
    cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(cpus * 4), cpus).map(
        lambda x: x).count()
    from pyspark.sql import functions as _F

    @_F.pandas_udf("double")
    def _warm(v):
        return v * 1.0
    spark.range(cpus * 4).repartition(cpus).select(
        _warm(_F.col("id").cast("double"))).count()

    samples: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
    for rep in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            df = QUERIES[name](spark, SF_DIR)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            samples[name].append((round(t1 - t0, 3), round(t2 - t1, 3)))
            print(f"rep{rep} {name}: construct={t1-t0:.3f} "
                  f"exec={t2-t1:.3f}", flush=True)

    result = {}
    for name, ss in samples.items():
        totals = sorted(c + e for c, e in ss)
        result[name] = {
            "construct_min": min(c for c, _ in ss),
            "exec_min": min(e for _, e in ss),
            "total_min": totals[0],
            "total_med": totals[len(totals) // 2],
            "samples": ss,
        }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print("WROTE", out_path, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
