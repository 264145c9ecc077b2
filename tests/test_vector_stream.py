"""Streaming vector ingest (streaming/vector_stream.py): the persisted
IVF index grows batch-by-batch under one checkpoint, exactly-once."""

from __future__ import annotations

import os

from conftest import SF_DIR

from toymapreduce_go_spark.operators.similarity import (
    ann_query_index, extend_vector_index, write_vector_index)
from toymapreduce_go_spark.sources.registry import load_table
from toymapreduce_go_spark.streaming.vector_stream import (
    VINDEX_SUBDIR, read_embeddings_stream, run_vector_ingest,
    vector_index_batch_step)


def _probe(spark, idx):
    emb = load_table(spark, SF_DIR, "embeddings")
    return sorted(tuple(r) for r in ann_query_index(emb, idx).collect())


def _postings(spark, idx):
    return sorted(
        (int(r["ingest_batch"]), int(r["cell"]), int(r["vec_id"]))
        for r in spark.read.parquet(f"{idx}/postings").collect())


def test_streamed_ingest_equals_batch_built_twin(spark, tmp_path):
    """After draining a 3-split stream, the state must equal an index
    built by the BATCH API over the same batch frames (membership
    recovered from the postings' own ingest_batch column): same
    postings, same model, same probe results — stream/batch
    equivalence for the whole lifecycle."""
    state = str(tmp_path / "state")
    run_vector_ingest(read_embeddings_stream(spark, SF_DIR, n_splits=3),
                      state)
    idx = os.path.join(state, VINDEX_SUBDIR)
    posts = _postings(spark, idx)
    batches = sorted({b for b, _c, _v in posts})
    assert len(batches) == 3

    emb = load_table(spark, SF_DIR, "embeddings")
    twin = str(tmp_path / "twin")
    for i, b in enumerate(batches):
        ids = [v for bb, _c, v in posts if bb == b]
        frame = emb.filter(emb.vec_id.isin(ids))
        if i == 0:
            write_vector_index(frame, twin, batch_id=b)
        else:
            extend_vector_index(frame, twin, batch_id=b)
    assert _postings(spark, twin) == posts
    assert _probe(spark, twin) == _probe(spark, idx)
    # full coverage: every corpus vector is indexed exactly once
    assert sorted(v for _b, _c, v in posts) == sorted(
        r.vec_id for r in emb.select("vec_id").collect())


def test_crash_restart_replays_exactly_once(spark, tmp_path,
                                            monkeypatch):
    """Crash in the worst window — batch 1 fails after batch 0's build
    committed — then restart against the same checkpoint: the replay
    must land byte-identical to an uninterrupted run."""
    import pytest as _pytest

    import toymapreduce_go_spark.streaming.vector_stream as vs

    ref = str(tmp_path / "ref")
    run_vector_ingest(read_embeddings_stream(spark, SF_DIR, n_splits=3),
                      ref)
    ref_idx = os.path.join(ref, VINDEX_SUBDIR)

    crash = str(tmp_path / "crash")
    real = vs.extend_vector_index
    fired = {"done": False}

    def flaky(batch, path, batch_id):
        if batch_id == 1 and not fired["done"]:
            fired["done"] = True
            raise RuntimeError("injected crash before extension commit")
        return real(batch, path, batch_id=batch_id)

    monkeypatch.setattr(vs, "extend_vector_index", flaky)
    with _pytest.raises(Exception, match="injected crash"):
        run_vector_ingest(
            read_embeddings_stream(spark, SF_DIR, n_splits=3),
            crash)
    assert fired["done"]
    run_vector_ingest(read_embeddings_stream(spark, SF_DIR, n_splits=3),
                      crash)
    crash_idx = os.path.join(crash, VINDEX_SUBDIR)
    assert _postings(spark, crash_idx) == _postings(spark, ref_idx)
    assert _probe(spark, crash_idx) == _probe(spark, ref_idx)


def test_empty_first_batch_trains_on_first_nonempty(spark, tmp_path):
    """An empty batch 0 (dedup stream's empty-first-batch analogue)
    writes an empty model; the first NON-empty batch trains instead,
    owning its true partition id, and probing works."""
    state = str(tmp_path / "state")
    emb = load_table(spark, SF_DIR, "embeddings")
    vector_index_batch_step(emb.limit(0), 0, state)
    vector_index_batch_step(emb, 1, state)
    idx = os.path.join(state, VINDEX_SUBDIR)
    posts = _postings(spark, idx)
    assert posts and {b for b, _c, _v in posts} == {1}
    assert _probe(spark, idx)
    # replay of the building batch goes through the extend path and
    # overwrites the SAME partition — no duplicate at ingest_batch=0
    before = posts
    vector_index_batch_step(emb, 1, state)
    assert _postings(spark, idx) == before


def test_unexpected_errors_are_not_swallowed_into_rebuild(spark,
                                                          tmp_path,
                                                          monkeypatch):
    """Only the dedicated NoVectorIndexModel sentinel may route a batch
    into the train+build path (advice r10): any other ValueError from
    the extend step must propagate, because falling through would
    full-overwrite the postings and wipe every prior batch."""
    import pytest

    import toymapreduce_go_spark.streaming.vector_stream as vs

    emb = load_table(spark, SF_DIR, "embeddings").limit(8)

    def boom(batch, idx, batch_id):
        raise ValueError("unexpected corruption")

    monkeypatch.setattr(vs, "extend_vector_index", boom)
    with pytest.raises(ValueError, match="unexpected corruption"):
        vector_index_batch_step(emb, 1, str(tmp_path / "state"))


def test_parent_format_model_fails_closed(spark, tmp_path):
    """An index whose model is in the older flat (cent_id, centroid)
    format must not read as "no model yet": that would send the step
    into write_vector_index, whose full postings overwrite wipes every
    earlier batch. The step must raise an error other than
    NoVectorIndexModel and leave the postings byte-identical."""
    import pytest

    from toymapreduce_go_spark.operators.similarity import (
        NoVectorIndexModel, load_vector_index_model)

    def tree(root):
        out = {}
        for dp, _dns, fns in os.walk(root):
            for fn in fns:
                with open(os.path.join(dp, fn), "rb") as fh:
                    out[os.path.relpath(os.path.join(dp, fn), root)] = \
                        fh.read()
        return out

    state = str(tmp_path / "state")
    emb = load_table(spark, SF_DIR, "embeddings")
    for b in (0, 1):
        vector_index_batch_step(emb.filter(f"pmod(vec_id, 3) = {b}"), b,
                                state)
    idx = os.path.join(state, VINDEX_SUBDIR)
    cents = load_vector_index_model(spark, idx).cents
    (spark.createDataFrame(cents, "cent_id long, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(f"{idx}/model"))
    posts = tree(f"{idx}/postings")
    assert {b for b, _c, _v in _postings(spark, idx)} == {0, 1}

    with pytest.raises(ValueError, match="model format") as err:
        vector_index_batch_step(emb.filter("pmod(vec_id, 3) = 2"), 2,
                                state)
    assert not isinstance(err.value, NoVectorIndexModel)
    assert tree(f"{idx}/postings") == posts


def test_recall_monitor_rides_the_stream(spark, tmp_path):
    """r11: monitor_recall records the sampled brute-force recall
    floor per batch under the same state dir — one row per batch,
    values sane, and the final row equals an out-of-band monitor run
    over the finished index (deterministic given state, so the log
    inherits the ingest's exactly-once contract)."""
    from toymapreduce_go_spark.operators.similarity import (
        vector_index_recall)
    from toymapreduce_go_spark.streaming.vector_stream import (
        read_recall_log, run_vector_ingest)

    state = str(tmp_path / "state")
    run_vector_ingest(
        read_embeddings_stream(spark, SF_DIR, n_splits=3),
        state, monitor_recall=True)
    log = {int(r["batch_id"]): r for r in
           read_recall_log(spark, state).collect()}
    assert set(log) == {0, 1, 2}
    assert all(0.0 < r["recall"] <= 1.0 for r in log.values())
    final = vector_index_recall(spark, f"{state}/{VINDEX_SUBDIR}")
    assert log[2]["recall"] == final["recall"]


def test_monitor_rebuild_loop_restores_recall_mid_stream(spark,
                                                         tmp_path):
    """The CLOSED monitor→rebuild loop on the engineered drift case
    (RECALL.md): batch 0 trains on the high-id half, batch 1 extends
    with the low-id half — the stored quantizer no longer fits the
    union and the monitored recall collapses below the floor, so the
    policy retrains in place DURING the stream. Pinned: the rebuild
    fires exactly once (batch 1), recall_before is the drifted value,
    recall_after equals a fresh one-shot build's recall over the same
    vectors, and a checkpoint-style REPLAY of batch 1 re-lands the
    same log row (no duplicates) and the same index."""
    from toymapreduce_go_spark.operators.similarity import (
        vector_index_recall)
    from toymapreduce_go_spark.streaming.vector_stream import (
        read_rebuild_log, read_recall_log)

    state = str(tmp_path / "state")
    emb = load_table(spark, SF_DIR, "embeddings")
    mid = emb.count() // 2
    high = emb.filter(f"vec_id >= {mid}")
    low = emb.filter(f"vec_id < {mid}")
    floor = 0.6
    vector_index_batch_step(high, 0, state, monitor_recall=True,
                            rebuild_floor=floor)
    vector_index_batch_step(low, 1, state, monitor_recall=True,
                            rebuild_floor=floor)
    idx = os.path.join(state, VINDEX_SUBDIR)

    rlog = {r.batch_id: r for r in
            read_recall_log(spark, state).collect()}
    blog = {r.batch_id: r for r in
            read_rebuild_log(spark, state).collect()}
    assert set(blog) == {1}                 # fired once, at the drift
    assert rlog[0].recall >= floor          # fresh build: no trigger
    assert rlog[1].recall < floor           # the engineered collapse
    assert blog[1].recall_before == rlog[1].recall

    fresh = str(tmp_path / "fresh")
    write_vector_index(emb, fresh)
    want = vector_index_recall(spark, fresh)["recall"]
    assert blog[1].recall_after == want     # rebuild == fresh quality
    assert vector_index_recall(spark, idx)["recall"] == want

    # checkpoint replay of batch 1: same decision, same single log
    # row, same index bytes
    posts_before = _postings(spark, idx)
    vector_index_batch_step(low, 1, state, monitor_recall=True,
                            rebuild_floor=floor)
    assert _postings(spark, idx) == posts_before
    assert [(r.batch_id, r.recall_before, r.recall_after) for r in
            read_rebuild_log(spark, state).collect()] == \
           [(1, blog[1].recall_before, blog[1].recall_after)]


def test_rebuild_floor_requires_monitor(spark, tmp_path):
    import pytest

    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="monitor_recall"):
        vector_index_batch_step(emb, 0, str(tmp_path / "s"),
                                rebuild_floor=0.5)


def test_rebuild_log_heals_after_crash_inside_rebuild_window(
        spark, tmp_path):
    """Review r12: crash AFTER the in-place rebuild but BEFORE the
    rebuild_log completion write. The two-phase log leaves a
    (recall_before, NULL) row; the replayed batch measures the rebuilt
    index (above the floor, no re-trigger) and HEALS the row with the
    post-rebuild recall — the drifted recall_before is never lost and
    the index stays byte-identical."""
    from toymapreduce_go_spark.streaming.vector_stream import (
        _write_rebuild_row, read_rebuild_log)

    state = str(tmp_path / "state")
    emb = load_table(spark, SF_DIR, "embeddings")
    mid = emb.count() // 2
    floor = 0.6
    vector_index_batch_step(emb.filter(f"vec_id >= {mid}"), 0, state,
                            monitor_recall=True, rebuild_floor=floor)
    vector_index_batch_step(emb.filter(f"vec_id < {mid}"), 1, state,
                            monitor_recall=True, rebuild_floor=floor)
    idx = os.path.join(state, VINDEX_SUBDIR)
    done = {r.batch_id: r for r in
            read_rebuild_log(spark, state).collect()}
    assert done[1].recall_after is not None
    # reconstruct the crash state: index rebuilt, phase-B write lost
    _write_rebuild_row(spark, state, 1, done[1].recall_before, None)
    posts = _postings(spark, idx)
    # replay batch 1
    vector_index_batch_step(emb.filter(f"vec_id < {mid}"), 1, state,
                            monitor_recall=True, rebuild_floor=floor)
    healed = {r.batch_id: r for r in
              read_rebuild_log(spark, state).collect()}
    assert healed[1].recall_before == done[1].recall_before
    assert healed[1].recall_after == done[1].recall_after
    assert _postings(spark, idx) == posts
