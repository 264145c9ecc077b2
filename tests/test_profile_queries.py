"""tools/profile_queries.py: every Spark job is attributed to the query
and the phase (construct or exec) that ran it, and each query's record
carries its plan text."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from profile_queries import REPS, STAGE_SUMS, profile  # noqa: E402

SLEEP_S = 0.5  # per row of the slow query's 4 rows

# One profiler run over three builders: a planted slow Python UDF that
# runs only when the query executes, a build that runs one Spark job
# while it constructs, and one registry query.
CHILD = """
import json, sys, tempfile, time
sys.path.insert(0, {tools!r})
from pyspark.sql import functions as F
from profile_queries import profile, start_session
from toymapreduce_go_spark.plans.queries import QUERIES


def slow(x):
    time.sleep({sleep})
    return x


def slow_exec(spark, sf_dir):
    return spark.range(4, numPartitions=4).select(F.udf(slow, "long")("id"))


def construct_job(spark, sf_dir):
    spark.sparkContext.parallelize(range(10)).count()
    return spark.range(10)


with tempfile.TemporaryDirectory() as log_dir:
    out = profile(start_session(log_dir), {sf!r}, {{
        "slow_exec": slow_exec, "construct_job": construct_job,
        "pricing_summary": QUERIES["pricing_summary"]}})
print(json.dumps(out))
"""


def test_jobs_are_attributed_to_their_query_and_phase():
    code = CHILD.format(tools=os.path.join(REPO, "tools"), sleep=SLEEP_S,
                        sf=SF_DIR)
    env = dict(os.environ, SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.splitlines()[-1])

    assert list(out) == ["slow_exec", "construct_job", "pricing_summary"]
    fields = {"wall_s", "jobs", "stages", *STAGE_SUMS}
    for rec in out.values():
        assert len(rec["reps"]) == REPS
        for rep in rec["reps"]:
            assert set(rep["construct"]) == fields | {"py4j_calls"}
            assert set(rep["exec"]) == fields
    planted = 4 * SLEEP_S
    for rep in out["slow_exec"]["reps"]:
        assert rep["exec"]["run_s"] >= planted
        assert rep["exec"]["python_sent"] > 0
        assert rep["construct"]["jobs"] == 0
        assert rep["construct"]["run_s"] < planted / 10
    for name in ("construct_job", "pricing_summary"):
        for rep in out[name]["reps"]:
            assert rep["exec"]["jobs"] >= 1
            assert rep["exec"]["run_s"] < planted / 4
    for rep in out["construct_job"]["reps"]:
        assert rep["construct"]["jobs"] == 1
        assert rep["construct"]["tasks"] >= 1
    real = out["pricing_summary"]
    assert "== Physical Plan ==" in real["plan"]
    assert "lineitem" in real["plan"]
    # the registry's parquet read infers the file's schema with a Spark
    # job, so the real query's construct runs jobs of its own: the same
    # number in every repetition, none leaking to its neighbours
    assert len({rep["construct"]["jobs"] for rep in real["reps"]}) == 1
    assert all(rep["exec"]["scan_bytes"] > 0 for rep in real["reps"])


def test_refuses_a_session_without_the_event_log(spark):
    """A reused session (here the suite's) has no event log to read the
    jobs from: fail before running anything."""
    with pytest.raises(RuntimeError, match="event log"):
        profile(spark, SF_DIR, {"never_built": None})
