"""Incremental (streaming) MinHash near-duplicate filtering.

The batch near-dup pipeline (``operators.dedup.near_dedup_minhash``)
answers "which pairs in THIS corpus are near-dups". A training-data
ingest pipeline needs the incremental form: documents arrive
continuously, and each batch must be filtered against *everything
accepted so far* — without ever re-scanning the historical corpus.

Design (the standard Bronze→Silver incremental-dedup shape):

- State is two ``batch_id``-partitioned tables in ``streaming.run``'s
  format: the **band-bucket index** ``bands``, one ``(doc_id, band_id,
  band_hash)`` row per accepted document per LSH band (~``n_bands`` ×
  16 bytes/survivor), and the **survivor signatures** ``sigs``, one
  ``(doc_id, source, sig)`` row per accepted document (``n_hashes`` × 8
  bytes ≈ 512 B at the default 64 hashes). The sig rows ARE the
  survivors: ``read_survivors`` is a projection of ``sigs``. At 100
  TB/day this is the only structure that scales: the historical corpus
  is never touched again, only its (much smaller) index, and the
  per-batch probe is a bucket join on (band_id, band_hash) — the same
  shape as the batch pipeline's candidate step.
- Per micro-batch (``foreachBatch``): bucket collisions generate
  *candidate* pairs (vs the historical index, and vs the batch's own
  bucket-minimum representative), and — like the batch tier — each
  candidate is **verified** by estimated Jaccard (fraction of agreeing
  minhash positions, ``est_jaccard_expr``) against the stored survivor
  signature before the document is dropped. ``threshold=None`` selects
  the candidate-rule-only mode (any bucket collision drops — more
  aggressive, LSH false positives become permanent losses). Within a
  batch the verification is against the bucket's min-doc_id
  representative, not all bucket members — a deliberate O(bucket)
  approximation of the batch tier's full bucket self-join.
- **Exactly-once across restarts**: both commits are ``commit_batch``
  overwrites of partition ``batch_id=<N>``, so a replayed batch
  rewrites its own partitions byte-identically, and the probe reads
  state with ``before=N`` so a replay never sees its own half-written
  state. Signatures commit BEFORE band rows: a crash between the two
  leaves sigs-without-bands, never bands-without-sigs (an indexed doc
  with no signature fails the step rather than read as no match). In
  that window batch N's survivors are already visible to
  ``read_survivors``; the replay recomputes the same set and rewrites
  both partitions, ending equal to an uninterrupted run.

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
                                                   band_rows,
                                                   est_jaccard_expr,
                                                   minhash_signatures)
from toymapreduce_go_spark.streaming.run import (commit_batch, read_batches,
                                                 run_available_now)

_BANDS_SUBDIR = "bands"
_SIGS_SUBDIR = "sigs"
_BANDS_SCHEMA = "doc_id bigint, band_id int, band_hash bigint, batch_id int"
_SIGS_SCHEMA = ("doc_id bigint, source string, sig array<bigint>, "
                "batch_id int")


def near_dedup_batch_step(spark: SparkSession, batch_df: DataFrame,
                          batch_id: int, state_dir: str, n: int = 3,
                          n_hashes: int = N_HASHES,
                          n_bands: int = N_BANDS,
                          threshold: float | None = 0.5) -> None:
    """One ``foreachBatch`` step: probe the index, verify candidates by
    estimated Jaccard (unless ``threshold is None``), pick survivors,
    commit this batch's sigs + index partitions idempotently."""
    bands_path = os.path.join(state_dir, _BANDS_SUBDIR)
    sigs_path = os.path.join(state_dir, _SIGS_SUBDIR)

    batch = batch_df.select("doc_id", "source", "text")
    sig = (minhash_signatures(batch, n=n, n_hashes=n_hashes)
           .join(batch.select("doc_id", "source"), "doc_id").persist())
    bands = band_rows(sig, n_hashes=n_hashes, n_bands=n_bands)

    # Probe the historical index. batch_id < N guards replay: a restarted
    # batch must not match the band rows it already half-committed.
    hist_bands = read_batches(spark, bands_path, _BANDS_SCHEMA,
                              before=batch_id)
    cand = (bands.join(
        hist_bands.select("band_id", "band_hash",
                          F.col("doc_id").alias("hist_id")),
        ["band_id", "band_hash"])
        .select("doc_id", "hist_id").distinct())
    if threshold is not None:
        hist_sigs = read_batches(spark, sigs_path, _SIGS_SCHEMA,
                                 before=batch_id)
        torn = f"torn state at {state_dir}: an indexed doc has no sig"
        cand = (
            cand
            .join(sig.select("doc_id", F.col("sig").alias("sig_a")),
                  "doc_id")
            .join(hist_sigs.select(F.col("doc_id").alias("hist_id"),
                                   F.col("sig").alias("sig_b")),
                  "hist_id", "left")
            .filter(F.when(F.col("sig_b").isNull(),
                           F.raise_error(F.lit(torn)))
                    .otherwise(est_jaccard_expr("sig_a", "sig_b", n_hashes)
                               >= F.lit(threshold))))
    fresh = bands.join(cand.select("doc_id"), "doc_id", "left_anti")

    # Within-batch survivor rule: lowest doc_id per bucket is the
    # representative; any doc sharing a bucket with a lower fresh doc_id
    # is a candidate near-dup of it (same min-doc_id convention as the
    # batch pipeline's skew cap) and is verified against the
    # representative's signature before dropping.
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

    # Idempotent commits, sigs first (see the module docstring's
    # crash-window note). The sigs commit drops every cached plan that
    # reads sigs/, so the band rows are derived from the committed sig
    # rows instead of re-running the probe chain.
    commit_batch(sig.join(survivor_bands, "doc_id", "left_semi")
                 .select("doc_id", "source", "sig"), sigs_path, batch_id)
    committed = (read_batches(spark, sigs_path, _SIGS_SCHEMA)
                 .filter(F.col("batch_id") == batch_id))
    commit_batch(band_rows(committed, n_hashes=n_hashes, n_bands=n_bands),
                 bands_path, batch_id)
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
    def step(batch_df: DataFrame, batch_id: int) -> None:
        near_dedup_batch_step(spark, batch_df, batch_id, state_dir,
                              n=n, n_hashes=n_hashes, n_bands=n_bands,
                              threshold=threshold)

    return run_available_now(documents_stream, state_dir, step, timeout)


def read_survivors(spark: SparkSession, state_dir: str) -> DataFrame:
    """(doc_id, source, batch_id) of every accepted document: the
    committed sig rows."""
    return (read_batches(spark, os.path.join(state_dir, _SIGS_SUBDIR),
                         _SIGS_SCHEMA)
            .select("doc_id", "source", "batch_id"))
