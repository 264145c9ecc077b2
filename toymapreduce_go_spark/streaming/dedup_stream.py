"""Incremental (streaming) MinHash near-duplicate filtering.

The batch near-dup pipeline (``operators.dedup.near_dedup_minhash``)
answers "which pairs in THIS corpus are near-dups". A training-data
ingest pipeline needs the incremental form: documents arrive
continuously, and each batch must be filtered against *everything
accepted so far* — without ever re-scanning the historical corpus.

Design (the standard Bronze→Silver incremental-dedup shape):

- State is the MinHash band index of ``operators/dedup.py`` (section
  11) under ``state_dir`` — the format, commit, manifest and verified
  probe the batch archive index uses — with the production xxhash band
  family (``band_rows``): ``sigs``, one ``(doc_id, source, sig)`` row
  per accepted document (≈ 512 B at the default 64 hashes), and
  ``bands``, one ``(doc_id, band_id, band_hash)`` row per accepted
  document per LSH band. The sig rows ARE the survivors:
  ``read_survivors`` is a projection of ``sigs``. The historical corpus
  is never touched again, only its (much smaller) index, and the
  per-batch probe is a bucket join on (band_id, band_hash).
- Per micro-batch (``foreachBatch``): ``dedup.probe_index`` verifies
  each bucket collision with the historical index by estimated Jaccard
  against the stored survivor signature before the document is dropped.
  ``threshold=None`` selects the candidate-rule-only mode (any bucket
  collision drops — LSH false positives become permanent losses).
  Within the batch, this module's own rule: a doc sharing a bucket with
  a lower fresh doc_id is verified against that bucket-minimum
  representative only — a deliberate O(bucket) approximation of the
  batch tier's full bucket self-join.
- **Exactly-once across restarts**: the step commits through
  ``dedup.commit_index_batch`` (``commit_batch`` overwrites of
  partition ``batch_id=<N>``, sigs before bands) and probes only
  batches ``< N``, so a replay never sees its own half-written state
  and rewrites its partitions byte-identically. After a crash between
  the two commits batch N's survivors are already visible to
  ``read_survivors``; the replay recomputes the same set and ends equal
  to an uninterrupted run. The banding manifest is checked once per
  run, before the stream starts: a restart with other (n, n_hashes,
  n_bands) fails instead of silently matching nothing.

No reference parity to cite: the reference engine has no streaming at
all (SURVEY.md §2c); the *banding + verification semantics* are the
batch pipeline's (``dedup.py``), which carries the oracle-checked
correctness.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from toymapreduce_go_spark.operators.dedup import (N_BANDS, N_HASHES,
                                                   SIGS_SCHEMA, band_rows,
                                                   check_index_manifest,
                                                   commit_index_batch,
                                                   est_jaccard_expr,
                                                   minhash_signatures,
                                                   probe_index)
from toymapreduce_go_spark.streaming.run import (read_batches,
                                                 run_available_now)


def near_dedup_batch_step(spark: SparkSession, batch_df: DataFrame,
                          batch_id: int, state_dir: str, n: int = 3,
                          n_hashes: int = N_HASHES,
                          n_bands: int = N_BANDS,
                          threshold: float | None = 0.5) -> None:
    """One ``foreachBatch`` step: probe the index, verify candidates by
    estimated Jaccard (unless ``threshold is None``), pick survivors,
    commit this batch's sigs + index partitions idempotently."""
    sig = minhash_signatures(batch_df, n=n, n_hashes=n_hashes,
                             key=("doc_id", "source")).persist()
    try:
        bands = band_rows(sig, n_hashes=n_hashes, n_bands=n_bands)
        matches = probe_index(state_dir, sig, band_rows, n_hashes, n_bands,
                              threshold, before=batch_id)
        fresh = bands.join(matches.select("doc_id"), "doc_id", "left_anti")

        # Within-batch survivor rule: lowest doc_id per bucket is the
        # representative; any doc sharing a bucket with a lower fresh
        # doc_id is a candidate near-dup of it (same min-doc_id
        # convention as the batch pipeline's skew cap) and is verified
        # against the representative's signature before dropping.
        bucket_min = fresh.groupBy("band_id", "band_hash").agg(
            F.min("doc_id").alias("min_id"))
        intra_cand = (fresh.join(bucket_min, ["band_id", "band_hash"])
                      .filter(F.col("doc_id") > F.col("min_id"))
                      .select("min_id", "doc_id").distinct())
        if threshold is not None:
            intra_cand = (
                intra_cand
                .join(sig.select(F.col("doc_id").alias("min_id"),
                                 F.col("sig").alias("sig_a")), "min_id")
                .join(sig.select("doc_id", F.col("sig").alias("sig_b")),
                      "doc_id")
                .filter(est_jaccard_expr("sig_a", "sig_b", n_hashes)
                        >= F.lit(threshold)))
        intra_dup_ids = intra_cand.select("doc_id").distinct()
        survivor_bands = fresh.join(intra_dup_ids, "doc_id", "left_anti")

        commit_index_batch(sig.join(survivor_bands, "doc_id", "left_semi"),
                           band_rows, state_dir, batch_id, n, n_hashes,
                           n_bands)
    finally:  # a raising probe or commit must not leak the cached frame
        sig.unpersist()


def run_near_dedup_stream(documents_stream: DataFrame, state_dir: str,
                          spark: SparkSession, n: int = 3,
                          n_hashes: int = N_HASHES,
                          n_bands: int = N_BANDS,
                          threshold: float | None = 0.5,
                          timeout: int = 120):
    """Drive the incremental near-dedup to completion of available input
    (test/ops entry point; production would leave the query running).
    Returns after all currently-available files are processed."""
    check_index_manifest(state_dir, n, n_hashes, n_bands,
                         "run_near_dedup_stream")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        near_dedup_batch_step(spark, batch_df, batch_id, state_dir,
                              n=n, n_hashes=n_hashes, n_bands=n_bands,
                              threshold=threshold)

    return run_available_now(documents_stream, state_dir, step, timeout)


def read_survivors(spark: SparkSession, state_dir: str) -> DataFrame:
    """(doc_id, source, batch_id) of every accepted document: the
    committed sig rows."""
    return (read_batches(spark, os.path.join(state_dir, "sigs"),
                         SIGS_SCHEMA)
            .select("doc_id", "source", "batch_id"))
