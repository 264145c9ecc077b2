"""The streaming curation ingest front door — ONE always-on job that
composes the round-7/8 streaming pieces over a single document stream:

    arriving documents
      → quality telemetry          (one row per batch, drift monitor)
      → curation gate filter       (the batch pipeline's exact predicate)
      → incremental near-dedup     (index-probe MinHash, verified)
      → sigs + bands state         (survivors = a projection of sigs)

This is the ops entry point the r8 verdict asked for (item 6): the
pieces composed in ``tests/test_dedup_stream.py`` (a42b921) promoted to
a first-class job with ONE checkpoint and ONE state directory, plus a
``__main__`` subcommand (``--stream-ingest``).

Exactly-once across restarts comes from composing two already-idempotent
steps under one checkpoint: every write either side performs is a
``run.commit_batch`` — a deterministic dynamic-partition overwrite of
``batch_id=<N>`` (``quality_stream.quality_batch_step``,
``dedup_stream.near_dedup_batch_step``), so a crash anywhere inside
batch N — telemetry committed but dedup not, dedup half-committed — is
healed by the checkpoint re-delivering batch N, which rewrites exactly
its own partitions byte-identically. The telemetry row is computed from
the RAW batch (the monitor must see what arrives, not what survives),
the dedup tier from the gate-filtered batch.

Scale: the composition adds nothing to either tier's cost profile — the
gate is scan-side codegen (+ the repetition agg, keyed by doc_id within
the batch), telemetry is one aggregated row, and the dedup probe stays
index-sized regardless of history (measured flat per-batch wall at sf1,
SCALE.md). No reference parity to cite: the reference engine has no
streaming at all (SURVEY.md §2c).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from toymapreduce_go_spark.operators.dedup import N_BANDS, N_HASHES
from toymapreduce_go_spark.operators.quality_model import gate_labels
from toymapreduce_go_spark.streaming.dedup_stream import (
    near_dedup_batch_step, read_survivors)
from toymapreduce_go_spark.streaming.quality_stream import (
    quality_batch_step, read_telemetry)
from toymapreduce_go_spark.streaming.run import run_available_now

__all__ = ["ingest_batch_step", "run_curation_ingest", "read_survivors",
           "read_telemetry"]


def gate_filter(batch: DataFrame) -> DataFrame:
    """Batch rows passing the full curation gate (the same
    ``gate_labels`` predicate the batch pipeline and the distilled
    quality model train against)."""
    keep = gate_labels(batch).filter("label = 1.0").select("doc_id")
    return batch.join(keep, "doc_id", "left_semi")


def ingest_batch_step(spark: SparkSession, batch_df: DataFrame,
                      batch_id: int, state_dir: str, n: int = 3,
                      n_hashes: int = N_HASHES, n_bands: int = N_BANDS,
                      threshold: float | None = 0.5,
                      from_html: bool = False,
                      from_pdf: bool = False,
                      from_warc: bool = False,
                      fix_encoding: bool = False) -> None:
    """One composed ``foreachBatch`` step: telemetry on the raw batch,
    then gate-filter, then the incremental near-dedup step. Replaying
    the same (batch rows, batch_id) is a byte-identical no-op for every
    partition both sub-steps own.

    ``from_html`` puts the batch pipeline's crawl front stage
    (``operators.html_extract``) ahead of everything — arriving pages
    are extracted to prose BEFORE telemetry, gate, or dedup see a byte.
    Extraction is deterministic per batch content (the boilerplate
    threshold is computed WITHIN the batch, mirroring the batch
    pipeline's per-corpus computation — with the df>=2 floor so a tiny
    micro-batch is never emptied), so replay stays byte-identical and
    the composed exactly-once contract is untouched. ``from_pdf`` is
    the PDF-container twin (``operators.pdf_extract``), r11;
    ``from_warc`` the WARC twin (``operators.warc_extract`` — the
    batch's pages ride one synthesized per-source WARC file each
    micro-batch, parsed back record-split + chunked-decode), r12."""
    batch = batch_df.select("doc_id", "source", "text")
    if from_html:
        from ..operators.html_extract import (extract_html_documents,
                                              synthesize_html)
        pages = (batch_df if "html" in batch_df.columns
                 else synthesize_html(batch))
        batch = (extract_html_documents(pages)
                 .filter("length(text) >= 1")
                 .select("doc_id", "source", "text"))
    elif from_pdf:
        from ..operators.pdf_extract import (extract_pdf_documents,
                                             synthesize_pdf)
        pdfs = (batch_df if "pdf" in batch_df.columns
                else synthesize_pdf(batch))
        batch = (extract_pdf_documents(pdfs)
                 .filter("length(text) >= 1")
                 .select("doc_id", "source", "text"))
    elif from_warc:
        from ..operators.warc_extract import (extract_warc_documents,
                                              synthesize_warc_files)
        files = (batch_df if "warc" in batch_df.columns
                 else synthesize_warc_files(batch))
        batch = (extract_warc_documents(files)
                 .filter("length(text) >= 1")
                 .select("doc_id", "source", "text"))
    if fix_encoding:
        # the batch pipeline's 0d stage: scan-side mojibake inverse
        # map + C0 strip BEFORE telemetry/gate/dedup hash anything; a
        # pure deterministic projection, so replay stays byte-identical
        from ..operators.textfix import repair_mojibake
        from pyspark.sql import functions as F
        batch = batch.withColumn("text",
                                 repair_mojibake(F.col("text")))
    quality_batch_step(spark, batch, batch_id, state_dir)
    near_dedup_batch_step(spark, gate_filter(batch), batch_id, state_dir,
                          n=n, n_hashes=n_hashes, n_bands=n_bands,
                          threshold=threshold)


def run_curation_ingest(documents_stream: DataFrame, state_dir: str,
                        spark: SparkSession, n: int = 3,
                        n_hashes: int = N_HASHES, n_bands: int = N_BANDS,
                        threshold: float | None = 0.5,
                        timeout: int = 240,
                        from_html: bool = False,
                        from_pdf: bool = False,
                        from_warc: bool = False,
                        fix_encoding: bool = False):
    """Drive the composed ingest over all currently-available input
    (availableNow; production leaves the query running). ONE checkpoint
    under ``state_dir`` governs both tiers, so a crash-restart replays
    the last uncommitted batch through BOTH idempotent steps.
    ``from_html`` / ``from_pdf`` / ``from_warc`` prepend the matching
    container
    extraction front stage."""
    def step(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch_step(spark, batch_df, batch_id, state_dir, n=n,
                          n_hashes=n_hashes, n_bands=n_bands,
                          threshold=threshold, from_html=from_html,
                          from_pdf=from_pdf, from_warc=from_warc,
                          fix_encoding=fix_encoding)

    return run_available_now(documents_stream, state_dir, step, timeout)
