"""Shared driver for the availableNow foreachBatch jobs, and the one
state format they commit to.

``run_available_now`` keeps one checkpoint under the job's state dir
and is FAIL-LOUD on timeout: ``awaitTermination(timeout)`` returning
False means the run OUTLIVED the budget, and treating that as success
would report a committed PREFIX of batches as the whole job.

State tables are parquet partitioned by ``batch_id``. ``commit_batch``
overwrites only partition ``batch_id=<N>``, so a replay of batch N
rewrites its own partition byte-identically; ``read_batches`` reads a
table back with a declared schema, and ``before=N`` hides batch N's own
half-written state from its replay. A table with nothing committed
reads as empty; every other error propagates, because swallowing it
would fail the exactly-once/dedup contract *open*."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def commit_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Commit ``df`` as partition ``batch_id=<batch_id>`` of the state
    table at ``path``, replacing only that partition."""
    (df.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(path))


def _path_exists(spark: SparkSession, path: str) -> bool:
    """``FileSystem.exists`` through the session's Hadoop configuration,
    so every scheme Spark can read is checked the way Spark reads it."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()).exists(hpath)


def read_batches(spark: SparkSession, path: str, schema: str,
                 before: int | None = None) -> DataFrame:
    """The state table at ``path`` as ``schema`` (which declares the
    ``batch_id int`` partition column last), optionally only the
    batches with ``batch_id < before``."""
    df = None
    # A table not created yet is checked for first: reading it would log
    # FileStreamSink's "Assume no metadata directory" WARN with a stack.
    if _path_exists(spark, path):
        try:
            df = spark.read.schema(schema).parquet(path)
        except AnalysisException as e:  # removed since the check
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
    if df is None or not df.inputFiles():
        # nothing committed, or only zero-row batches (no files): a bare
        # directory reads batch_id as a data column, which breaks once
        # a later commit refreshes the path, so don't reference it.
        # limit(0) lets the optimizer prune joins against the frame.
        df = spark.createDataFrame([], schema).limit(0)
    return df if before is None else df.filter(F.col("batch_id") < before)


def run_available_now(stream_df: DataFrame, state_dir: str,
                      step: Callable[[DataFrame, int], None],
                      timeout: int):
    """Start ``stream_df`` → ``foreachBatch(step)`` with the checkpoint
    under ``state_dir``, drain all currently-available input
    (availableNow; production leaves the query running), and return the
    finished query — or stop it and raise TimeoutError if the budget
    elapses first (the state dir then holds only the committed prefix;
    re-running resumes from the checkpoint)."""
    ckpt = os.path.join(state_dir, "_checkpoint")
    q = (stream_df.writeStream
         .foreachBatch(step)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming run did not finish within {timeout}s "
            f"(state under {state_dir!r} holds only the committed "
            f"prefix; re-run to resume from the checkpoint)")
    return q
