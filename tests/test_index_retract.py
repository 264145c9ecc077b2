"""Retract-by-key index maintenance (verdict r10 item 1): both
persisted indexes can now remove individual pages — the operation a
refresh crawl needs between ``crawl_diff`` and re-ingesting the delta.
Core contract: grown-then-retracted == fresh-build-without-those-pages,
for the MinHash band archive AND the IVF vector index, plus the full
diff → retract → extend composition (operators/refresh.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from toymapreduce_go_spark.operators.dedup import (
    near_dedup_vs_index, retract_index_keys, write_prior_index)
from toymapreduce_go_spark.operators.refresh import (
    refresh_band_index, refresh_vector_index)
from toymapreduce_go_spark.operators.similarity import (
    ann_query_index, extend_vector_index, retract_vector_index_keys,
    write_vector_index)
from toymapreduce_go_spark.operators.urls import crawl_diff
from toymapreduce_go_spark.sources.registry import load_table


def _docs(spark):
    return (load_table(spark, SF_DIR, "documents")
            .select("doc_id", "source", "text"))


def _content(spark, path):
    """Index content WITHOUT the batch-layout column — retraction must
    preserve exact per-doc rows however batches were laid out."""
    bands = sorted(tuple(r) for r in spark.read.parquet(f"{path}/bands")
                   .select("band_id", "band_hash", "doc_id").collect())
    sigs = sorted((int(r["doc_id"]), tuple(r["sig"])) for r in
                  spark.read.parquet(f"{path}/sigs")
                  .select("doc_id", "sig").collect())
    return bands, sigs


def test_band_index_grown_then_retracted_equals_fresh(spark, tmp_path):
    docs = _docs(spark)
    half = docs.filter("doc_id < 250")
    rest = docs.filter("doc_id >= 250")
    grown = str(tmp_path / "grown")
    write_prior_index(half, grown, batch_id=0)
    write_prior_index(rest, grown, batch_id=1)
    # retract keys spanning BOTH batches
    gone = [3, 7, 251, 400]
    stats = retract_index_keys(spark, grown, gone)
    assert stats["bands"]["partitions_rewritten"] == 2
    assert stats["sigs"]["rows_removed"] == len(gone)

    fresh = str(tmp_path / "fresh")
    write_prior_index(docs.filter(~F.col("doc_id").isin(gone)), fresh)
    assert _content(spark, grown) == _content(spark, fresh)

    # and the probe agrees: a batch screened against either index sees
    # the identical match set
    batch = docs.filter("doc_id % 10 = 0")
    got = sorted(tuple(r) for r in
                 near_dedup_vs_index(batch, grown).collect())
    want = sorted(tuple(r) for r in
                  near_dedup_vs_index(batch, fresh).collect())
    assert got == want

    # idempotent: retracting the same keys again is a no-op
    again = retract_index_keys(spark, grown, gone)
    assert again["sigs"]["rows_removed"] == 0
    assert _content(spark, grown) == _content(spark, fresh)


def test_band_index_retract_noop_and_refuse_to_empty(spark, tmp_path):
    docs = _docs(spark).filter("doc_id < 40")
    path = str(tmp_path / "idx")
    write_prior_index(docs, path)
    before = _content(spark, path)
    assert retract_index_keys(spark, path, []) == {
        "bands": {"partitions_rewritten": 0, "rows_removed": 0},
        "sigs": {"partitions_rewritten": 0, "rows_removed": 0}}
    assert retract_index_keys(
        spark, path, [99999])["sigs"]["partitions_rewritten"] == 0
    assert _content(spark, path) == before
    with pytest.raises(ValueError, match="empty"):
        retract_index_keys(spark, path, list(range(40)))
    assert _content(spark, path) == before


def test_vector_index_grown_then_retracted_equals_fresh(spark, tmp_path):
    """Retracted ids lie OUTSIDE the 64-vector training sample, so a
    fresh build over the survivors trains the same centroids and the
    two indexes must agree bit-for-bit (model untouched by design —
    retraction never retrains)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    grown = str(tmp_path / "grown")
    write_vector_index(emb.filter("vec_id < 250"), grown)
    extend_vector_index(emb.filter("vec_id >= 250"), grown, batch_id=1)
    gone = [120, 200, 300, 450]
    stats = retract_vector_index_keys(spark, grown, gone)
    assert stats["postings"]["rows_removed"] == len(gone)

    fresh = str(tmp_path / "fresh")
    write_vector_index(emb.filter(~F.col("vec_id").isin(gone)), fresh)
    got = sorted(tuple(r) for r in
                 spark.read.parquet(f"{grown}/postings")
                 .select("cell", "vec_id").collect())
    want = sorted(tuple(r) for r in
                  spark.read.parquet(f"{fresh}/postings")
                  .select("cell", "vec_id").collect())
    assert got == want and got
    probes = emb.orderBy("vec_id").limit(5)
    assert [tuple(r) for r in
            ann_query_index(probes, grown).collect()] == \
           [tuple(r) for r in ann_query_index(probes, fresh).collect()]


def test_retract_recovers_from_a_crashed_attempt(spark, tmp_path):
    """Crash simulation at the worst window: a partition moved aside to
    the __retract_old mirror (live twin missing) plus stale tmp residue.
    The next retraction must restore the stranded partition and
    complete as if the crash never happened."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "vidx")
    write_vector_index(emb, path)
    want_rows = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/postings")
        .filter(~F.col("vec_id").isin([130, 140]))
        .select("cell", "vec_id").collect())

    postings = f"{path}/postings"
    cells = [d for d in os.listdir(f"{postings}/ingest_batch=0")
             if d.startswith("cell=")]
    victim = f"{postings}/ingest_batch=0/{cells[0]}"
    old_mirror = f"{postings}__retract_old/ingest_batch=0"
    os.makedirs(old_mirror)
    os.rename(victim, f"{old_mirror}/{cells[0]}")
    os.makedirs(f"{postings}__retract_tmp/garbage")

    retract_vector_index_keys(spark, path, [130, 140])
    got = sorted(tuple(r) for r in spark.read.parquet(postings)
                 .select("cell", "vec_id").collect())
    assert got == want_rows
    assert not os.path.exists(f"{postings}__retract_old")
    assert not os.path.exists(f"{postings}__retract_tmp")


def _crawl_fixtures(spark):
    """Two crawls over a shared page universe, ids = pages: the OLD
    crawl misses pages %9==0 (later 'added'), the NEW misses %9==5
    ('removed'), pages %9 in (1,2) changed content. Ids < 100 are kept
    stable and unchanged so the vector training sample is identical
    across old/new (the refresh contract's precondition)."""
    docs = _docs(spark)
    canon = F.concat(F.lit("http://h.example.com/p"),
                     F.col("doc_id").cast("string")).alias("canon")
    is_changed = (F.col("doc_id") >= 100) & \
        (F.pmod(F.col("doc_id"), F.lit(9)).isin(1, 2))
    old_docs = (docs.filter((F.col("doc_id") < 100) |
                            (F.pmod(F.col("doc_id"), F.lit(9)) != 0))
                .select("doc_id", "source", "text", canon))
    new_docs = (docs.filter((F.col("doc_id") < 100) |
                            (F.pmod(F.col("doc_id"), F.lit(9)) != 5))
                .select("doc_id", "source",
                        F.when(is_changed,
                               F.concat("text", F.lit(" updated")))
                        .otherwise(F.col("text")).alias("text"), canon))

    def snap(d):
        return d.select("canon", F.lit("h.example.com").alias("domain"),
                        F.md5("text").alias("fp"))

    return old_docs, new_docs, crawl_diff(snap(old_docs), snap(new_docs))


def test_refresh_band_index_composes_with_crawl_diff(spark, tmp_path):
    old_docs, new_docs, diff = _crawl_fixtures(spark)
    refreshed = str(tmp_path / "refreshed")
    write_prior_index(old_docs.drop("canon"), refreshed, batch_id=0)
    stats = refresh_band_index(
        spark, refreshed, diff,
        old_ids=old_docs.select("canon",
                                F.col("doc_id").alias("prior_id")),
        new_docs=new_docs, batch_id=1)
    assert stats["extended_docs"] > 0
    assert stats["sigs"]["rows_removed"] > 0

    fresh = str(tmp_path / "fresh")
    write_prior_index(new_docs.drop("canon"), fresh)
    assert _content(spark, refreshed) == _content(spark, fresh)


def test_refresh_vector_index_composes_with_crawl_diff(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    canon = F.concat(F.lit("http://h.example.com/p"),
                     F.col("vec_id").cast("string")).alias("canon")
    is_changed = (F.col("vec_id") >= 100) & \
        (F.pmod(F.col("vec_id"), F.lit(9)).isin(1, 2))
    reembed = F.transform("embedding",
                          lambda x: x + F.lit(0.25).cast("float"))
    old_vecs = (emb.filter((F.col("vec_id") < 100) |
                           (F.pmod(F.col("vec_id"), F.lit(9)) != 0))
                .select("vec_id", "embedding", canon))
    new_vecs = (emb.filter((F.col("vec_id") < 100) |
                           (F.pmod(F.col("vec_id"), F.lit(9)) != 5))
                .select("vec_id",
                        F.when(is_changed, reembed)
                        .otherwise(F.col("embedding")).alias("embedding"),
                        canon))

    def snap(d):
        return d.select(
            "canon", F.lit("h.example.com").alias("domain"),
            F.md5(F.col("embedding").cast("string")).alias("fp"))

    diff = crawl_diff(snap(old_vecs), snap(new_vecs))
    refreshed = str(tmp_path / "refreshed")
    write_vector_index(old_vecs.select("vec_id", "embedding"), refreshed)
    stats = refresh_vector_index(
        spark, refreshed, diff,
        old_ids=old_vecs.select("canon", "vec_id"),
        new_vectors=new_vecs, batch_id=1)
    assert stats["extended_vectors"] > 0
    assert stats["postings"]["rows_removed"] > 0

    fresh = str(tmp_path / "fresh")
    write_vector_index(new_vecs.select("vec_id", "embedding"), fresh)
    got = sorted(tuple(r) for r in
                 spark.read.parquet(f"{refreshed}/postings")
                 .select("cell", "vec_id").collect())
    want = sorted(tuple(r) for r in
                  spark.read.parquet(f"{fresh}/postings")
                  .select("cell", "vec_id").collect())
    assert got == want and got


def test_rebuild_equals_fresh_build_after_drift(spark, tmp_path):
    """The quantizer-drift lifecycle (verdict r10 item 3): an index
    built on HIGH vec_ids then extended with LOW ones keeps centroids
    trained on a sample that is no longer the union's training sample —
    rebuild_vector_index retrains over the grown index and must equal a
    fresh build over the same vectors (same deterministic sample rule),
    while preserving each posting's ingest_batch."""
    from toymapreduce_go_spark.operators.similarity import (
        load_vector_index_model, rebuild_vector_index)

    emb = load_table(spark, SF_DIR, "embeddings")
    grown = str(tmp_path / "grown")
    write_vector_index(emb.filter("vec_id >= 250"), grown, batch_id=0)
    extend_vector_index(emb.filter("vec_id < 250"), grown, batch_id=1)
    fresh = str(tmp_path / "fresh")
    write_vector_index(emb, fresh)

    def model(p):
        return load_vector_index_model(spark, p)

    def cells(p):
        return sorted(tuple(r) for r in
                      spark.read.parquet(f"{p}/postings")
                      .select("cell", "vec_id").collect())

    assert model(grown) != model(fresh)  # drift is real
    rebuild_vector_index(spark, grown)
    assert model(grown) == model(fresh)
    assert cells(grown) == cells(fresh)
    # batch lineage survives the rebuild (before_batch stays meaningful)
    batches = {int(r["ingest_batch"]) for r in
               spark.read.parquet(f"{grown}/postings")
               .select("ingest_batch").distinct().collect()}
    assert batches == {0, 1}
    probes = emb.orderBy("vec_id").limit(5)
    assert [tuple(r) for r in ann_query_index(probes, grown).collect()] \
        == [tuple(r) for r in ann_query_index(probes, fresh).collect()]
    # idempotent: rebuilding an already-fresh index is a no-op
    rebuild_vector_index(spark, grown)
    assert model(grown) == model(fresh) and cells(grown) == cells(fresh)


def test_recall_monitor_floor_and_exact_at_full_probe(spark, tmp_path):
    """vector_index_recall: probing EVERY cell must be exact (recall
    1.0 — the monitor's own sanity anchor), and the default 2-cell
    probe reports a sane fraction on the fixture geometry."""
    from toymapreduce_go_spark.operators.similarity import (
        vector_index_recall)

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "vidx")
    write_vector_index(emb, path, n_cells=8)
    full = vector_index_recall(spark, path, n_probe_cells=8)
    assert full["recall"] == 1.0 and full["total"] == 25
    part = vector_index_recall(spark, path, n_probe_cells=2)
    assert 0.0 < part["recall"] <= 1.0
    assert part["hits"] <= full["hits"]


def test_retract_list_path_keeps_null_keys(spark, tmp_path):
    """Review r11: ~isin is NULL for a NULL key — the list path must
    keep NULL-keyed rows (as the DataFrame anti-join path does), never
    silently drop them from rewritten partitions."""
    from toymapreduce_go_spark.sources.sinks import (
        retract_keys_from_parquet)

    df = spark.createDataFrame(
        [(1, 10), (2, 10), (None, 10)], "k long, p int")
    path = str(tmp_path / "d")
    df.write.partitionBy("p").parquet(path)
    stats = retract_keys_from_parquet(spark, path, "k", [1])
    assert stats == {"partitions_rewritten": 1, "rows_removed": 1}
    left = sorted((r["k"] for r in spark.read.parquet(path).collect()),
                  key=lambda x: (x is None, x))
    assert left == [2, None]


def test_refresh_meta_mismatch_leaves_index_untouched(spark, tmp_path):
    """Review r11: refresh_band_index validates the index manifest
    BEFORE retracting — a parameter mismatch must fail with the index
    bytes untouched, not after the stale pages were already removed."""
    old_docs, new_docs, diff = _crawl_fixtures(spark)
    path = str(tmp_path / "idx")
    write_prior_index(old_docs.drop("canon"), path, batch_id=0,
                      n_hashes=32, n_bands=8)
    before = _content(spark, path)
    with pytest.raises(ValueError, match="manifest"):
        refresh_band_index(
            spark, path, diff,
            old_ids=old_docs.select(
                "canon", F.col("doc_id").alias("prior_id")),
            new_docs=new_docs, batch_id=1)  # default 64/16 mismatches
    assert _content(spark, path) == before


def test_retract_commit_manifest_rolls_forward(spark, tmp_path):
    """Crash at the WORST object-store window: the commit manifest is
    written and the staged tmp partitions exist, but NO move has been
    applied (object stores have no atomic rename — the manifest IS the
    commit). The next invocation must roll the manifest forward:
    swap rels replaced by their staged twins, drop rels removed."""
    import json

    from toymapreduce_go_spark.sources.sinks import (
        retract_keys_from_parquet, write_commit_manifest)
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "vidx")
    write_vector_index(emb, path)
    postings = f"{path}/postings"
    # stage the state a real retract reaches just after its commit
    # point by running one and REPLAYING its manifest: first capture
    # what a retract of [130, 140] writes
    before = sorted(tuple(r) for r in spark.read.parquet(postings)
                    .select("cell", "vec_id").collect())
    cells = sorted(d for d in os.listdir(f"{postings}/ingest_batch=0")
                   if d.startswith("cell="))
    victim_rel = f"ingest_batch=0/{cells[0]}"
    victim = f"{postings}/{victim_rel}"
    # stage a tmp twin of the victim partition with one row removed
    # (read the single partition dir: partition cols live in the
    # DIRECTORY name, not the files, so vdf is (vec_id, embedding))
    cell_val = int(cells[0].split("=", 1)[1])
    vdf = spark.read.parquet(victim)
    keep_ids = [r.vec_id for r in vdf.select("vec_id").collect()][1:]
    dropped = {(cell_val, r.vec_id) for r in
               vdf.filter(~F.col("vec_id").isin(keep_ids))
               .select("vec_id").collect()}
    (vdf.filter(F.col("vec_id").isin(keep_ids)).write
     .parquet(f"file://{postings}__retract_tmp/{victim_rel}"))
    from toymapreduce_go_spark.sources.sinks import _dir_fingerprint
    write_commit_manifest(
        postings, "retract",
        swap=[{"rel": victim_rel, "live": _dir_fingerprint(victim)}],
        drop=[])
    assert os.path.exists(f"{postings}__retract.manifest")
    # next maintenance invocation heals BEFORE doing its own work
    retract_keys_from_parquet(spark, postings, "vec_id", [])
    after = sorted(tuple(r) for r in spark.read.parquet(postings)
                   .select("cell", "vec_id").collect())
    assert sorted(set(before) - dropped) == after
    assert not os.path.exists(f"{postings}__retract.manifest")
    assert not os.path.exists(f"{postings}__retract_tmp")


def test_stale_manifest_never_drops_a_newer_generation(spark, tmp_path):
    """A manifest left behind AFTER its commit completed (crash in the
    final cleanup step) lists a drop rel; a later write re-creates the
    same partition name before recovery runs. The fingerprint guard
    must leave the newer generation untouched and clear the stale
    manifest — and a corrupt manifest must refuse loudly."""
    import pytest

    from toymapreduce_go_spark.sources.sinks import (
        retract_keys_from_parquet, write_commit_manifest)
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "vidx")
    write_vector_index(emb, path)
    postings = f"{path}/postings"
    cells = sorted(d for d in os.listdir(f"{postings}/ingest_batch=0")
                   if d.startswith("cell="))
    rel = f"ingest_batch=0/{cells[0]}"
    live = f"{postings}/{rel}"
    # the stale manifest records the OLD generation's fingerprint
    old_fp = [(f, os.path.getsize(os.path.join(live, f)))
              for f in os.listdir(live)
              if os.path.isfile(os.path.join(live, f))]
    write_commit_manifest(postings, "retract", swap=[],
                          drop=[{"rel": rel, "files": old_fp}])
    # a later write replaces the partition (newer generation)
    newer = spark.read.parquet(live).limit(1)
    newer.write.mode("overwrite").parquet("file://" + live)
    want = sorted(tuple(r) for r in spark.read.parquet(live).collect())
    retract_keys_from_parquet(spark, postings, "vec_id", [])
    assert os.path.isdir(live)           # NOT dropped
    got = sorted(tuple(r) for r in spark.read.parquet(live).collect())
    assert got == want
    assert not os.path.exists(f"{postings}__retract.manifest")
    # corrupt manifest: refuse, never guess
    with open(f"{postings}__retract.manifest", "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError, match="manifest"):
        retract_keys_from_parquet(spark, postings, "vec_id", [])
    os.remove(f"{postings}__retract.manifest")


def test_rebuild_manifest_window_rolls_forward(spark, tmp_path):
    """The whole-tree swap (vector-index rebuild / compaction path):
    staged tmp tree + written manifest, crash before any move — the
    next recover_swap completes the swap from the manifest alone."""
    from toymapreduce_go_spark.sources.sinks import (
        recover_swap, swap_paths, write_commit_manifest)
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "tree")
    emb.limit(50).write.parquet(path)
    from toymapreduce_go_spark.sources.sinks import _dir_fingerprint
    local, tmp, old = swap_paths(path, "rebuild")
    emb.limit(10).write.parquet("file://" + tmp)
    write_commit_manifest(
        local.rstrip("/"), "rebuild",
        swap=[{"rel": ".", "live": _dir_fingerprint(local)}], drop=[])
    recover_swap(local, tmp, old, "rebuild")
    assert spark.read.parquet(path).count() == 10   # staged tree live
    assert not os.path.exists(tmp) and not os.path.exists(old)
    assert not os.path.exists(f"{local}__rebuild.manifest")


def test_stale_swap_never_reverts_a_newer_generation(spark, tmp_path):
    """Review r12: a stale commit manifest whose SWAP rel's live dir
    was rewritten by a LATER operation (e.g. a rebuild between the
    crash and the recovery) must not revert the newer generation to
    the stale staged tree — the live fingerprint recorded at commit
    time gates the move."""
    from toymapreduce_go_spark.sources.sinks import (
        _dir_fingerprint, retract_keys_from_parquet,
        write_commit_manifest)
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "vidx")
    write_vector_index(emb, path)
    postings = f"{path}/postings"
    cells = sorted(d for d in os.listdir(f"{postings}/ingest_batch=0")
                   if d.startswith("cell="))
    rel = f"ingest_batch=0/{cells[0]}"
    live = f"{postings}/{rel}"
    # stage a stale tmp twin + a manifest recording the CURRENT live
    vdf = spark.read.parquet(live)
    vdf.limit(1).write.parquet(f"file://{postings}__retract_tmp/{rel}")
    write_commit_manifest(
        postings, "retract",
        swap=[{"rel": rel, "live": _dir_fingerprint(live)}], drop=[])
    # a later operation rewrites the partition (newer generation)
    vdf.limit(2).write.mode("overwrite").parquet("file://" + live)
    want = sorted(tuple(r) for r in spark.read.parquet(live).collect())
    retract_keys_from_parquet(spark, postings, "vec_id", [])
    got = sorted(tuple(r) for r in spark.read.parquet(live).collect())
    assert got == want and len(got) == 2      # NOT the stale 1-row tmp
    assert not os.path.exists(f"{postings}__retract.manifest")
    assert not os.path.exists(f"{postings}__retract_tmp")
