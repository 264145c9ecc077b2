"""Streaming curation telemetry — per-arrival-batch quality drift.

An always-on ingest pipeline needs to know when the INCOMING data
changes character (a crawler goes bad, a source flips encodings, spam
floods in) — before the bad batch is baked into the corpus. This
monitor rides the same ``foreachBatch`` loop as the incremental dedup
tier and appends one telemetry row per micro-batch: document counts,
curation-gate pass rate, and the mean scan-side quality features —
the numbers whose drift pages an operator.

Exactly-once shape (same as ``dedup_stream``): the telemetry row for
batch N is computed deterministically from batch N's rows and committed
with ``streaming.run.commit_batch`` (a dynamic overwrite of partition
``batch_id=N``), so checkpoint replays rewrite their own row
byte-identically instead of duplicating it. State is one row per batch
— nothing grows with the corpus.

Per batch this is one scan: the gate label (``quality_model.
curation_gate``, one scan-side Column) and the scan-side features are
projected side by side from each row and folded into the row by one
global aggregate — no repetition shuffle, no self-join.

No reference parity to cite: the reference has no streaming at all
(SURVEY.md §2c); the gate predicate is the oracle-checked pipeline
gate (``quality_model.curation_gate``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from toymapreduce_go_spark.operators.quality_model import curation_gate
from toymapreduce_go_spark.operators.textstats import quality_feature_cols
from toymapreduce_go_spark.streaming.run import (commit_batch, read_batches,
                                                 run_available_now)

_TELEMETRY_SUBDIR = "telemetry"
_TELEMETRY_SCHEMA = ("n_docs bigint, n_pass bigint, pass_rate double, "
                     "avg_alpha double, avg_chars double, batch_id int")


def quality_batch_step(spark: SparkSession, batch_df: DataFrame,
                       batch_id: int, state_dir: str) -> None:
    """One ``foreachBatch`` step: aggregate the batch's gate outcomes +
    features to a single row and commit it idempotently. The label and
    the features are one projection of each row, feeding one global
    aggregate — no join, no shuffle beyond the single-row merge."""
    row = (batch_df.select(curation_gate().cast("double").alias("label"),
                           *quality_feature_cols())
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("label").cast("long").alias("n_pass"),
                F.round(F.avg("label"), 4).alias("pass_rate"),
                F.round(F.avg("alpha_ratio"), 4).alias("avg_alpha"),
                F.round(F.avg("n_chars_d"), 2).alias("avg_chars")))
    commit_batch(row, os.path.join(state_dir, _TELEMETRY_SUBDIR), batch_id)


def run_quality_monitor(documents_stream: DataFrame, state_dir: str,
                        spark: SparkSession, timeout: int = 120):
    """Drive the monitor over all currently-available input (test/ops
    entry point; production leaves the query running alongside the
    dedup stream on the same source)."""
    def step(batch_df: DataFrame, batch_id: int) -> None:
        quality_batch_step(spark, batch_df, batch_id, state_dir)

    return run_available_now(documents_stream, state_dir, step, timeout)


def read_telemetry(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_batches(spark, os.path.join(state_dir, _TELEMETRY_SUBDIR),
                        _TELEMETRY_SCHEMA)
