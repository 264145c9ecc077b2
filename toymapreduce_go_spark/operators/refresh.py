"""Delta-driven index maintenance — the composition ``crawl_diff``
exists to drive (verdict r10 item 1): a refresh crawl diffs two
snapshots by canonical URL, and instead of rebuilding 100 TB of
persisted state it RETRACTS exactly the removed/changed pages from
each index and EXTENDS with the re-processed added/changed pages.
Before this, both persisted indexes (the MinHash band archive,
``dedup.write_prior_index``; the IVF vector index,
``similarity.write_vector_index``) could only grow or drop whole
batches by age — a refresh left stale survivors screening future
batches against content that no longer exists.

Reference scope: none — the reference reprocesses its whole input per
run (``play.sh:62-99`` feeds a fixed file list to every job); this is
the north-star extension the r10 verdict ranked first.

Cost shape at 100 TB: the diff's delta is a few percent of a snapshot;
retraction rewrites only the partitions containing delta keys
(``sources.sinks.retract_keys_from_parquet`` — broadcast anti-join,
tmp/old rename protocol, crash-rerunnable); the extension is the
ordinary incremental path (one batch-sized signature/assignment pass,
an overwrite of its own batch partitions only). Nothing re-reads,
re-hashes, or re-embeds the unchanged archive.

Equality contract (pinned in tests/test_index_retract.py): refreshed
index == fresh build over the new crawl's corpus, provided unchanged
pages keep their ids (they are not reprocessed, by design) and — for
the vector index — the training sample is unchanged (the model at
``{index}/model``, one (kind, idx, sub, vec) format for the flat and
PQ tiers, is never retrained on a refresh; ``rebuild_vector_index`` is
the retrain path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (N_BANDS, N_HASHES, check_index_manifest,
                    retract_index_keys, write_prior_index)

RETRACT_STATUSES = ("removed", "changed")
REPROCESS_STATUSES = ("added", "changed")


def stale_keys_from_diff(diff: DataFrame, old_keys: DataFrame,
                         key_col: str) -> DataFrame:
    """Index keys to RETRACT: the removed/changed canons of ``diff``
    (``urls.crawl_diff`` output) mapped to ids through ``old_keys``
    (canon, <key_col>) — the crawl's own URL→id table, metadata-sized
    relative to content. One join between two key-only frames."""
    gone = (diff.filter(F.col("status").isin(*RETRACT_STATUSES))
            .select("canon"))
    return gone.join(old_keys, "canon").select(key_col)


def fresh_rows_from_diff(diff: DataFrame, new_rows: DataFrame) -> DataFrame:
    """The new crawl's rows to (re-)process: added/changed canons only
    — a broadcast-able semi-join gate (the delta is small by the same
    argument that makes diffing worthwhile)."""
    todo = (diff.filter(F.col("status").isin(*REPROCESS_STATUSES))
            .select("canon"))
    return new_rows.join(todo, "canon", "left_semi")


def refresh_band_index(spark, index_path: str, diff: DataFrame,
                       old_ids: DataFrame, new_docs: DataFrame,
                       batch_id: int, n: int = 3,
                       n_hashes: int = N_HASHES,
                       n_bands: int = N_BANDS) -> dict:
    """Refresh the persisted MinHash band archive from a crawl diff:
    retract removed+changed pages' band rows and signatures
    (``dedup.retract_index_keys``), then index the added+changed pages
    from the NEW crawl as one ordinary incremental batch
    (``dedup.write_prior_index`` — an overwrite of its own ``batch_id``
    partitions, so the refresh itself is crash-rerunnable end to end).

    ``old_ids``: (canon, prior_id) for the indexed corpus.
    ``new_docs``: the new crawl's documents with (doc_id, source,
    canon, text).
    Returns the retraction stats plus the extension row count."""
    # validate against the index manifest BEFORE mutating anything: a
    # parameter mismatch must fail with the index untouched, not after
    # the retraction has already removed the changed pages (review r11)
    check_index_manifest(index_path, n, n_hashes, n_bands,
                         "refresh_band_index")
    stale = stale_keys_from_diff(diff, old_ids, "prior_id")
    stats = retract_index_keys(spark, index_path, stale.toDF("doc_id"))
    fresh = fresh_rows_from_diff(diff, new_docs)
    write_prior_index(fresh.drop("canon"), index_path,
                      batch_id=batch_id, n=n,
                      n_hashes=n_hashes, n_bands=n_bands)
    stats["extended_docs"] = fresh.count()
    return stats


def refresh_vector_index(spark, index_path: str, diff: DataFrame,
                         old_ids: DataFrame,
                         new_vectors: DataFrame,
                         batch_id: int) -> dict:
    """The vector-index twin: retract removed+changed pages' postings
    (``similarity.retract_vector_index_keys`` — the stored model is
    NOT retrained), then assign the re-embedded added+changed vectors
    with the stored centroids (``similarity.extend_vector_index``).

    ``old_ids``: (canon, vec_id) for the indexed vectors.
    ``new_vectors``: the new crawl's embeddings with
    (vec_id, canon, embedding)."""
    from .similarity import extend_vector_index, \
        retract_vector_index_keys

    stale = stale_keys_from_diff(diff, old_ids, "vec_id")
    stats = retract_vector_index_keys(spark, index_path, stale)
    fresh = fresh_rows_from_diff(diff, new_vectors)
    extend_vector_index(fresh.select("vec_id", "embedding"),
                        index_path, batch_id=batch_id)
    stats["extended_vectors"] = fresh.count()
    return stats


# ---------------------------------------------------------------------------
# Corpus-level refresh — the curated-output twin of the index refreshes
# above: a re-crawl should not re-run the curation funnel over 100 TB
# of unchanged documents. The prior curated parquet is a partitioned
# table; retracting stale rows and appending the re-processed delta is
# the same partition-rewrite economics as the index paths.

CORPUS_RETRACT = ("removed", "changed")
CORPUS_REPROCESS = ("added", "changed")


def corpus_delta(old_docs: DataFrame, new_docs: DataFrame) -> DataFrame:
    """(doc_id, status): classify two crawls of the same id space as
    added / removed / changed / unchanged — ONE full-outer join on the
    document key with content fingerprints and explicit presence
    markers (the ``crawl_diff`` convention: fp nullness must never
    stand in for absence — a NULL-text row is still present). The
    fingerprint folds in whichever of source/lang BOTH frames carry
    (NUL-separated fields, so no concat ambiguity): a doc whose text
    is unchanged but whose metadata was re-labeled classifies as
    ``changed`` and gets re-curated — the kept curated row must never
    retain stale metadata. At 100 TB both crawls are written bucketed
    by doc_id and the join co-locates with no exchange."""
    meta = [c for c in ("source", "lang")
            if c in old_docs.columns and c in new_docs.columns]
    fp = F.md5(F.concat_ws(
        "\x00", *[F.coalesce(F.col(c).cast("string"), F.lit("\x01"))
                  for c in ("text", *meta)]))
    o = old_docs.select("doc_id", fp.alias("fp_old"),
                        F.lit(1).alias("_o"))
    n = new_docs.select("doc_id", fp.alias("fp_new"),
                        F.lit(1).alias("_n"))
    j = o.join(n, "doc_id", "full_outer")
    status = (F.when(F.col("_o").isNull(), "added")
              .when(F.col("_n").isNull(), "removed")
              .when(F.col("fp_old").eqNullSafe(F.col("fp_new")),
                    "unchanged")
              .otherwise("changed"))
    return j.select("doc_id", status.alias("status"))


def refresh_training_corpus(spark, sf_dir: str, old_docs: DataFrame,
                            new_docs: DataFrame,
                            prior_curated: DataFrame,
                            **pipeline_knobs
                            ) -> tuple[DataFrame, DataFrame]:
    """Delta-driven re-curation: given the prior crawl, the new crawl,
    and the prior run's curated output, produce the new curated corpus
    by (1) RETRACTING every removed/changed doc's rows from the prior
    output, (2) running the full curation funnel over ONLY the
    added/changed docs, with the kept corpus riding along as the
    prior-screen archive (Bloom exact screen + band-index near-dup
    screen — so a delta doc that duplicates a kept doc is dropped
    without ever re-scanning the kept corpus), and (3) unioning kept
    rows with the curated delta, delta bin ids shifted past the kept
    maximum so packing bins never collide across generations.

    Returns ``(curated, report)``; the report is the funnel-frame
    shape ``(stage, n_docs)`` with the delta-status counts first.

    Divergences from a from-scratch rebuild, by design (disclosed):
    - survivor preference: a delta doc that near-dups a KEPT doc is
      always the one dropped, where a full rebuild would keep the
      min-id cluster member;
    - no resurrection: retracting a changed/removed doc that was a
      dedup survivor does NOT revive its previously-dropped cluster
      mates (they return on their own next re-crawl, or on the
      periodic full rebuild a production pipeline schedules anyway);
    - corpus-relative stages (the fixture's eval slice, optional
      LM/ccnet cutoffs) are computed over the DELTA pool, not the
      union. For decontamination this is fully retired by passing a
      fixed benchmark frame (``eval_docs=...`` rides through to
      ``contamination_shared_counts`` — corpus-independent, so the
      refresh drops exactly what a full rebuild drops; pinned with a
      planted contaminated ADDED doc in the equality test); the LM
      knobs would need a frozen model the same way.
    Everything else is pinned equal to the full rebuild in
    tests/test_refresh_corpus.py on a cluster-disjoint construction.

    100 TB shape: cost scales with the DELTA, not the corpus — the
    kept output is never read beyond one metadata agg (max bin id)
    and the broadcast-sized screens derived from it."""
    from ..pipeline import CHUNK_ID_MULT, build_training_corpus

    for k in ("docs", "prior_docs", "near_prior"):
        if k in pipeline_knobs:
            raise TypeError(
                f"refresh_training_corpus drives '{k}' itself (the "
                "delta is the docs frame, the kept corpus is the "
                "prior screen); passing it as a pipeline knob would "
                "silently fight the refresh protocol")
    d = corpus_delta(old_docs, new_docs).persist()
    counts = {r["status"]: r["n"] for r in
              d.groupBy("status").agg(F.count("*").alias("n"))
              .collect()}
    stale = (d.filter(F.col("status").isin(*CORPUS_RETRACT))
             .select("doc_id"))
    # retract by the ORIGINATING document: a chunk_long row carries a
    # negative synthetic id -(doc*CHUNK_ID_MULT + chunk + 1), so a
    # changed/removed long doc must take its chunk rows with it —
    # anti-join on the inverted mapping, one expression, no extra join
    orig = F.when(
        F.col("doc_id") < 0,
        F.expr(f"(-doc_id - 1) div {CHUNK_ID_MULT}")
    ).otherwise(F.col("doc_id"))
    kept = (prior_curated.withColumn("_orig", orig)
            .join(stale.select(F.col("doc_id").alias("_orig")),
                  "_orig", "left_anti")
            .drop("_orig").persist())
    n_kept = kept.count()
    delta = new_docs.join(
        d.filter(F.col("status").isin(*CORPUS_REPROCESS))
        .select("doc_id"), "doc_id", "left_semi")
    curated_delta, _ = build_training_corpus(
        spark, sf_dir, docs=delta,
        prior_docs=kept.select("doc_id", "text"), near_prior=True,
        **pipeline_knobs)
    max_bin = kept.agg(F.max("bin_id")).first()[0]
    shift = (max_bin + 1) if max_bin is not None else 0
    curated_delta = curated_delta.withColumn(
        "bin_id", F.col("bin_id") + F.lit(shift))
    curated = kept.unionByName(curated_delta)
    n_delta = curated_delta.count()
    d.unpersist()
    rows = ([(f"0_delta_{s}", int(counts.get(s, 0)))
             for s in ("added", "removed", "changed", "unchanged")]
            + [("1_kept_rows", int(n_kept)),
               ("2_delta_curated", int(n_delta)),
               ("3_total", int(n_kept + n_delta))])
    report = spark.createDataFrame(rows, "stage string, n_docs long")
    return curated, report
