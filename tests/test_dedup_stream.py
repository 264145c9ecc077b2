"""Incremental (streaming) MinHash near-dedup: invariants + replay.

Covers ``streaming/dedup_stream.py``: multi-batch arrival over the real
documents fixture, the bucket-independence invariant of the survivor
set, and foreachBatch replay idempotence (the exactly-once contract).
"""

from __future__ import annotations

import pytest

from conftest import SF_DIR
from toymapreduce_go_spark.operators.dedup import band_rows, minhash_signatures
from toymapreduce_go_spark.streaming.dedup_stream import (
    near_dedup_batch_step, read_survivors, run_near_dedup_stream)
from toymapreduce_go_spark.streaming.events_stream import (
    read_documents_stream)


@pytest.fixture(scope="module")
def stream_state(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("near_dedup_state"))
    stream = read_documents_stream(spark, SF_DIR, n_splits=3)
    run_near_dedup_stream(stream, state, spark)
    return state


def test_survivors_have_no_verified_near_dup_pair(spark, stream_state):
    """The defining invariant of the verified (default) mode: running the
    BATCH near-dup filter over the accepted set at the same threshold
    finds zero pairs — the streaming tier dropped exactly the documents
    the batch tier would call near-dups of an earlier survivor."""
    from toymapreduce_go_spark.operators.dedup import near_dedup_minhash

    surv = read_survivors(spark, stream_state)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    surv_docs = docs.join(surv.select("doc_id"), "doc_id", "left_semi")
    assert near_dedup_minhash(surv_docs, threshold=0.5).count() == 0


def test_candidate_rule_mode_is_bucket_independent(spark, stream_state,
                                                   tmp_path):
    """threshold=None selects the candidate-rule-only (more aggressive)
    mode: after the run no two accepted documents share ANY LSH band
    bucket — within a batch the min-doc_id rule forbids it, across
    batches the index join forbids it."""
    state = str(tmp_path / "cand_state")
    stream = read_documents_stream(spark, SF_DIR, n_splits=3)
    run_near_dedup_stream(stream, state, spark, threshold=None)
    surv = read_survivors(spark, state)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    surv_docs = docs.join(surv.select("doc_id"), "doc_id", "left_semi")
    br = band_rows(minhash_signatures(surv_docs))
    clashes = (br.groupBy("band_id", "band_hash").count()
               .filter("count > 1").count())
    assert clashes == 0
    # verification only ever KEEPS more: candidate-rule survivors are a
    # subset of the verified tier's
    ver_ids = {r["doc_id"] for r in
               read_survivors(spark, stream_state).collect()}
    cand_ids = {r["doc_id"] for r in surv.collect()}
    assert cand_ids <= ver_ids


def test_corrupt_index_propagates_not_fails_open(spark, tmp_path):
    """r7 advice (medium): a blanket except around the index read turned
    ANY failure into 'first batch', silently accepting duplicates. Only
    a genuinely missing path may mean first-batch; corrupt state must
    raise."""
    import os

    state = str(tmp_path / "corrupt_state")
    bands = os.path.join(state, "bands")
    os.makedirs(bands)
    with open(os.path.join(bands, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .orderBy("doc_id").limit(10))
    with pytest.raises(Exception) as exc:
        near_dedup_batch_step(spark, docs, 1, state)
    assert "PATH_NOT_FOUND" not in str(exc.value)


def test_survivor_set_shape(spark, stream_state):
    surv = read_survivors(spark, stream_state)
    n_surv = surv.count()
    assert surv.select("doc_id").distinct().count() == n_surv  # unique
    # every doc that produced a signature is either accepted or dropped;
    # docs too short to shingle are passed through neither path
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    eligible = minhash_signatures(docs).count()
    assert 0 < n_surv <= eligible
    # the fixture plants duplicate clusters, so some docs must drop
    assert n_surv < eligible
    # multi-batch arrival really happened
    assert surv.select("batch_id").distinct().count() >= 2


def test_no_op_restart_changes_nothing(spark, stream_state):
    """Restarting against the same checkpoint with no new input must not
    change the output (availableNow re-run = pure replay check)."""
    before = sorted(r["doc_id"] for r in
                    read_survivors(spark, stream_state).collect())
    stream = read_documents_stream(spark, SF_DIR, n_splits=3)
    run_near_dedup_stream(stream, stream_state, spark)
    after = sorted(r["doc_id"] for r in
                   read_survivors(spark, stream_state).collect())
    assert before == after


def test_batch_step_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract: re-running foreachBatch step N with the
    same rows must leave state and output byte-identical, and the
    replayed batch must not near-dup-match its own index rows."""
    state = str(tmp_path / "replay_state")
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .orderBy("doc_id").limit(50))
    near_dedup_batch_step(spark, docs, 0, state)
    first = sorted(r["doc_id"] for r in
                   read_survivors(spark, state).collect())
    assert first
    near_dedup_batch_step(spark, docs, 0, state)  # replay
    again = sorted(r["doc_id"] for r in
                   read_survivors(spark, state).collect())
    assert first == again


def test_raising_commit_leaves_no_cached_signatures(spark, tmp_path,
                                                   monkeypatch):
    """A commit that raises (the torn-state guard, an I/O error) must
    not leave the step's persisted signature frame behind: every
    checkpoint replay of the failing batch would leak one more."""
    import toymapreduce_go_spark.streaming.dedup_stream as dedup_stream

    def failing_commit(*args, **kwargs):
        raise RuntimeError("injected commit failure")

    monkeypatch.setattr(dedup_stream, "commit_index_batch", failing_commit)
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .orderBy("doc_id").limit(50))
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="injected commit failure"):
        near_dedup_batch_step(spark, docs, 0, str(tmp_path / "state"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_streaming_curation_composes_gates_with_dedup(spark, tmp_path):
    """Streaming curation = scan-side gates on the stream feeding the
    incremental near-dedup: survivors must all satisfy the gate and be
    a subset of the ungated run's corpus."""
    import pyspark.sql.functions as F

    from toymapreduce_go_spark.operators.textstats import MIN_CHARS

    state = str(tmp_path / "gated_state")
    stream = read_documents_stream(spark, SF_DIR, n_splits=2)
    gated_stream = stream.filter(F.length("text") >= MIN_CHARS)
    run_near_dedup_stream(gated_stream, state, spark)
    surv = read_survivors(spark, state)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    joined = surv.join(docs, "doc_id")
    assert joined.count() == surv.count()
    assert joined.filter(F.length("text") < MIN_CHARS).count() == 0
    assert 0 < surv.count() <= docs.filter(
        F.length("text") >= MIN_CHARS).count()


def test_streaming_curation_end_to_end_matches_batch_funnel(spark, tmp_path):
    """The round-7/8 streaming pieces compose into the full curation
    ingest: ONE document stream feeds (a) the quality monitor and
    (b) gate-filtered incremental near-dedup. Reconciliation against
    the batch world on the same data:
    - telemetry doc totals == corpus size, and its pass total == the
      batch gate's pass count;
    - every streaming survivor passes the gate;
    - the accepted set is duplicate-free under the BATCH tier's verified
      near-dup definition (zero pairs at the same threshold)."""
    import pyspark.sql.functions as F

    from toymapreduce_go_spark.operators.quality_model import gate_labels
    from toymapreduce_go_spark.streaming.quality_stream import (
        read_telemetry, run_quality_monitor)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    labels = gate_labels(docs)
    gate_ids = {r["doc_id"] for r in
                labels.filter("label = 1.0").collect()}

    # one source, two consumers
    mon_state = str(tmp_path / "mon")
    dd_state = str(tmp_path / "dd")
    run_quality_monitor(read_documents_stream(spark, SF_DIR, n_splits=3),
                        mon_state, spark)
    gated_stream = read_documents_stream(spark, SF_DIR, n_splits=3)
    gated_stream = gated_stream.join(
        spark.createDataFrame([(i,) for i in sorted(gate_ids)],
                              "doc_id long"), "doc_id", "left_semi")
    run_near_dedup_stream(gated_stream, dd_state, spark)

    tel = read_telemetry(spark, mon_state)
    assert tel.agg(F.sum("n_docs")).collect()[0][0] == docs.count()
    assert tel.agg(F.sum("n_pass")).collect()[0][0] == len(gate_ids)

    surv = {r["doc_id"] for r in
            read_survivors(spark, dd_state).collect()}
    assert surv and surv <= gate_ids
    # the accepted corpus is duplicate-free under the batch tier's
    # verified near-dup definition
    from toymapreduce_go_spark.operators.dedup import near_dedup_minhash
    surv_docs = docs.join(
        spark.createDataFrame([(i,) for i in sorted(surv)],
                              "doc_id long"), "doc_id", "left_semi")
    assert near_dedup_minhash(surv_docs, threshold=0.5).count() == 0


def test_zero_survivor_first_batch_is_empty_state_not_poison(spark,
                                                             tmp_path):
    """r8 advice (low): a first micro-batch with ZERO rows commits its
    dynamic-overwrite partitions as directories with no parquet files;
    the next batch's state read then raises UNABLE_TO_INFER_SCHEMA,
    which must mean 'empty state' (batch proceeds, dedup intact) — not
    a permanently failed stream."""
    state = str(tmp_path / "empty_first_state")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    near_dedup_batch_step(spark, docs.limit(0), 0, state)  # zero rows
    # previously: AnalysisException(UNABLE_TO_INFER_SCHEMA) here
    near_dedup_batch_step(spark, docs.orderBy("doc_id").limit(30), 1,
                          state)
    surv = read_survivors(spark, state)
    assert surv.count() > 0
    # and the corrupt-state path still propagates (fail-closed intact):
    # covered by test_corrupt_index_propagates_not_fails_open


_EMPTY_STATE_DTYPES = {
    "read_survivors": [("doc_id", "bigint"), ("source", "string"),
                       ("batch_id", "int")],
    "read_telemetry": [("n_docs", "bigint"), ("n_pass", "bigint"),
                       ("pass_rate", "double"), ("avg_alpha", "double"),
                       ("avg_chars", "double"), ("batch_id", "int")],
    "read_recall_log": [("hits", "bigint"), ("total", "bigint"),
                        ("recall", "double"), ("batch_id", "int")],
    "read_rebuild_log": [("recall_before", "double"),
                         ("recall_after", "double"), ("batch_id", "int")],
}


@pytest.mark.parametrize("reader", sorted(_EMPTY_STATE_DTYPES))
def test_state_reader_on_empty_state(spark, tmp_path, reader):
    """Before any batch commits, every streaming state reader returns
    zero rows with its declared columns and types (the state table's
    directory does not exist yet, which must read as empty)."""
    from toymapreduce_go_spark.streaming import ingest, vector_stream

    read = getattr(ingest, reader, None) or getattr(vector_stream, reader)
    df = read(spark, str(tmp_path))
    assert df.dtypes == _EMPTY_STATE_DTYPES[reader]
    assert df.count() == 0


def _dedup_state(spark, state):
    """Sorted rows of the dedup tier's survivors and both state tables."""
    from toymapreduce_go_spark.operators.dedup import read_index

    bands, sigs = read_index(spark, state, band_rows, before=None)
    return {
        "survivors": sorted(tuple(r) for r in
                            read_survivors(spark, state).collect()),
        "sigs": sorted(tuple(r) for r in sigs.collect()),
        "bands": sorted(tuple(r) for r in bands.collect()),
    }


def test_crash_between_sigs_and_bands_commits_replays_exactly_once(
        spark, stream_state, tmp_path, monkeypatch):
    """The crash window of the sigs-before-bands protocol: batch 1's
    bands commit fails once, after its sigs commit has landed. In the
    window batch 1's survivors are already visible (they are its sig
    rows) while its band rows are not; a restart from the same
    checkpoint replays batch 1 and lands survivors, sigs and bands equal
    to an uninterrupted run."""
    import toymapreduce_go_spark.operators.dedup as dedup_mod

    real_commit = dedup_mod.commit_batch
    fired = []

    def flaky(df, path, batch_id):
        if batch_id == 1 and path.endswith("bands") and not fired:
            fired.append(path)
            raise RuntimeError("injected crash after the sigs commit")
        return real_commit(df, path, batch_id)

    monkeypatch.setattr(dedup_mod, "commit_batch", flaky)
    state = str(tmp_path / "crash_window")
    with pytest.raises(Exception, match="injected crash"):
        run_near_dedup_stream(
            read_documents_stream(spark, SF_DIR, n_splits=3), state, spark)
    window = _dedup_state(spark, state)
    assert {r[-1] for r in window["survivors"]} == {0, 1}
    assert {r[-1] for r in window["bands"]} == {0}
    run_near_dedup_stream(read_documents_stream(spark, SF_DIR, n_splits=3),
                          state, spark)
    assert _dedup_state(spark, state) == _dedup_state(spark, stream_state)


def test_torn_state_fails_closed(spark, tmp_path):
    """A band row whose signature is gone (the sig table deleted outside
    the stream) must fail the step: reading the missing signatures as
    'no near-dup' would accept duplicates."""
    import os
    import shutil

    state = str(tmp_path / "torn_state")
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .orderBy("doc_id").limit(30))
    near_dedup_batch_step(spark, docs, 0, state)
    shutil.rmtree(os.path.join(state, "sigs"))
    with pytest.raises(Exception, match="torn state"):
        near_dedup_batch_step(spark, docs, 1, state)

    # the persisted batch index probes through the same guard
    from toymapreduce_go_spark.operators.dedup import (
        near_dedup_vs_index, write_prior_index)

    index = str(tmp_path / "torn_index")
    write_prior_index(docs.filter("doc_id % 2 = 0"), index, batch_id=0)
    write_prior_index(docs.filter("doc_id % 2 = 1"), index, batch_id=1)
    shutil.rmtree(os.path.join(index, "sigs", "batch_id=1"))
    with pytest.raises(Exception, match="torn state"):
        near_dedup_vs_index(docs, index).collect()


def test_restart_with_other_banding_fails_on_the_manifest(spark,
                                                         stream_state):
    """A state dir built with the default banding, restarted with other
    (n_hashes, n_bands): its band keys would collide with nothing, so
    every duplicate would be silently accepted. Both stream entry points
    refuse before the stream starts."""
    from toymapreduce_go_spark.streaming.ingest import run_curation_ingest

    for run in (run_near_dedup_stream, run_curation_ingest):
        with pytest.raises(ValueError, match="manifest"):
            run(read_documents_stream(spark, SF_DIR, n_splits=3),
                stream_state, spark, n_hashes=32, n_bands=8)


def _telemetry_multiset(spark, state):
    from toymapreduce_go_spark.streaming.ingest import read_telemetry

    return sorted((r["n_docs"], r["n_pass"], r["pass_rate"])
                  for r in read_telemetry(spark, state).collect())


def _survivor_ids(spark, state):
    from toymapreduce_go_spark.streaming.ingest import read_survivors

    return sorted(r["doc_id"] for r in
                  read_survivors(spark, state).collect())


def test_composed_ingest_crash_restart_replays_exactly_once(
        spark, tmp_path, monkeypatch):
    """r8 verdict item 6 done-gate: the COMPOSED ingest job (telemetry +
    gate + incremental near-dedup under ONE checkpoint) crashed in the
    worst window — after batch 1's telemetry committed, before its dedup
    state did — must, on restart, replay batch 1 through both idempotent
    steps and land byte-identical to an uninterrupted run."""
    import pytest as _pytest

    import toymapreduce_go_spark.streaming.ingest as ingest_mod
    from toymapreduce_go_spark.streaming.ingest import run_curation_ingest

    ref_state = str(tmp_path / "ref_state")
    run_curation_ingest(read_documents_stream(spark, SF_DIR, n_splits=3),
                        ref_state, spark)
    ref_tel = _telemetry_multiset(spark, ref_state)
    ref_surv = _survivor_ids(spark, ref_state)
    assert len(ref_tel) >= 3 and ref_surv

    crash_state = str(tmp_path / "crash_state")
    real_step = ingest_mod.near_dedup_batch_step
    fired = {"done": False}

    def flaky(spark_, batch_df, batch_id, state_dir, **kw):
        if batch_id == 1 and not fired["done"]:
            fired["done"] = True
            raise RuntimeError("injected crash between telemetry and "
                               "dedup commit")
        return real_step(spark_, batch_df, batch_id, state_dir, **kw)

    monkeypatch.setattr(ingest_mod, "near_dedup_batch_step", flaky)
    with _pytest.raises(Exception, match="injected crash"):
        run_curation_ingest(
            read_documents_stream(spark, SF_DIR, n_splits=3),
            crash_state, spark)
    assert fired["done"]
    # restart against the SAME checkpoint/state: batch 1 replays through
    # both steps, batch 2 runs fresh
    run_curation_ingest(read_documents_stream(spark, SF_DIR, n_splits=3),
                        crash_state, spark)
    assert _telemetry_multiset(spark, crash_state) == ref_tel
    assert _survivor_ids(spark, crash_state) == ref_surv


def test_stream_ingest_cli_front_door(spark, tmp_path, capsys):
    """The ops front door: `python -m toymapreduce_go_spark
    --stream-ingest SF_DIR --out STATE` runs the composed job; running
    it AGAIN against the same state dir is a pure no-op replay."""
    from toymapreduce_go_spark.__main__ import main

    out = str(tmp_path / "ingest_state")
    main(["--stream-ingest", SF_DIR, "--out", out, "--n-splits", "2"])
    text = capsys.readouterr().out
    assert "survivors:" in text and "batch 0:" in text and "batch 1:" in text
    surv = _survivor_ids(spark, out)
    tel = _telemetry_multiset(spark, out)
    assert surv and len(tel) == 2
    # gate really filtered: telemetry sees raw docs, dedup sees gated
    assert sum(n for n, _, _ in tel) > sum(p for _, p, _ in tel)
    main(["--stream-ingest", SF_DIR, "--out", out, "--n-splits", "2"])
    assert _survivor_ids(spark, out) == surv
    assert _telemetry_multiset(spark, out) == tel


def test_stream_ingest_from_html_front_stage(spark, tmp_path,
                                             monkeypatch):
    """r10: the crawl extraction front stage composed INTO the
    streaming ingest — arriving pages are extracted to prose before
    telemetry, gate, or dedup see a byte; the composed exactly-once
    contract survives a worst-window crash-restart byte-identically."""
    import pytest as _pytest

    import toymapreduce_go_spark.streaming.ingest as ingest_mod
    from toymapreduce_go_spark.streaming.ingest import (
        read_telemetry, run_curation_ingest)

    ref = str(tmp_path / "ref_html")
    run_curation_ingest(read_documents_stream(spark, SF_DIR, n_splits=3),
                        ref, spark, container="html")
    ref_tel = _telemetry_multiset(spark, ref)
    ref_surv = _survivor_ids(spark, ref)
    assert len(ref_tel) == 3 and ref_surv

    # extraction really ran: telemetry monitors the EXTRACTED prose —
    # the synthesized pages carry nav/footer boilerplate the extractor
    # strips, so every batch's avg_chars differs from the raw-text run
    plain = str(tmp_path / "plain")
    run_curation_ingest(read_documents_stream(spark, SF_DIR, n_splits=3),
                        plain, spark)
    html_chars = sorted(r["avg_chars"] for r in
                        read_telemetry(spark, ref).collect())
    plain_chars = sorted(r["avg_chars"] for r in
                         read_telemetry(spark, plain).collect())
    assert html_chars != plain_chars

    # crash between telemetry and dedup at batch 1, restart, replay
    crash = str(tmp_path / "crash_html")
    real_step = ingest_mod.near_dedup_batch_step
    fired = {"done": False}

    def flaky(spark_, batch_df, batch_id, state_dir, **kw):
        if batch_id == 1 and not fired["done"]:
            fired["done"] = True
            raise RuntimeError("injected crash between telemetry and "
                               "dedup commit")
        return real_step(spark_, batch_df, batch_id, state_dir, **kw)

    monkeypatch.setattr(ingest_mod, "near_dedup_batch_step", flaky)
    with _pytest.raises(Exception, match="injected crash"):
        run_curation_ingest(
            read_documents_stream(spark, SF_DIR, n_splits=3),
            crash, spark, container="html")
    assert fired["done"]
    run_curation_ingest(read_documents_stream(spark, SF_DIR, n_splits=3),
                        crash, spark, container="html")
    assert _telemetry_multiset(spark, crash) == ref_tel
    assert _survivor_ids(spark, crash) == ref_surv


def test_stream_ingest_tiny_batches_are_not_emptied(spark, tmp_path):
    """The r10 medium advice, pinned end to end: with n_splits=10 the
    500-doc fixture arrives in ~50-doc micro-batches, where every df=1
    line used to clear the per-batch boilerplate threshold (1·1000 >=
    20·n_docs) — extraction emptied the batch and the length gate
    silently dropped everything. With the df>=2 floor, unique prose
    survives and every batch lands survivors-eligible docs."""
    from toymapreduce_go_spark.streaming.ingest import (
        read_telemetry, run_curation_ingest)

    state = str(tmp_path / "tiny")
    run_curation_ingest(read_documents_stream(spark, SF_DIR, n_splits=10),
                        state, spark, container="html")
    tel = read_telemetry(spark, state).collect()
    assert len(tel) == 10
    # every batch kept its documents (the telemetry row is computed on
    # the EXTRACTED batch; an emptied batch records n_docs=0)
    assert all(r["n_docs"] > 0 for r in tel)
    assert _survivor_ids(spark, state)


def test_stream_ingest_from_pdf_front_stage(spark, tmp_path):
    """r11: the PDF container front stage composed into the streaming
    ingest, mirroring --from-html — extraction runs before telemetry
    (avg_chars differs from the raw-text run) and survivors land."""
    from toymapreduce_go_spark.streaming.ingest import (
        read_telemetry, run_curation_ingest)

    pdf_state = str(tmp_path / "pdf")
    run_curation_ingest(read_documents_stream(spark, SF_DIR, n_splits=2),
                        pdf_state, spark, container="pdf")
    assert _survivor_ids(spark, pdf_state)
    plain = str(tmp_path / "plain")
    run_curation_ingest(read_documents_stream(spark, SF_DIR, n_splits=2),
                        plain, spark)
    pdf_chars = sorted(r["avg_chars"] for r in
                       read_telemetry(spark, pdf_state).collect())
    plain_chars = sorted(r["avg_chars"] for r in
                         read_telemetry(spark, plain).collect())
    assert pdf_chars != plain_chars


def test_stream_ingest_fix_encoding_front_stage(spark, tmp_path):
    """r11: --fix-encoding composed into the streaming ingest — a
    corrupted stream repaired in-flight lands the SAME telemetry and
    survivor state as the clean stream (mojibake and clean copies of
    a page hash identically), while without the flag the corruption
    leaks into telemetry. Single-file sources (n_splits=1) so both
    streams see one identical batch — the splitter's repartition
    makes multi-split batch membership layout-dependent."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from toymapreduce_go_spark.operators.textfix import (
        corrupt_mojibake, rich_text_expr)
    from toymapreduce_go_spark.streaming.ingest import (
        read_telemetry, run_curation_ingest)

    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .withColumn("text", rich_text_expr()))
    dirty = docs.withColumn(
        "text", F.when(F.pmod("doc_id", F.lit(3)) == 0,
                       corrupt_mojibake(F.col("text")))
        .otherwise(F.col("text")))
    clean_dir, dirty_dir = tmp_path / "clean_sf", tmp_path / "dirty_sf"
    for d, frame in ((clean_dir, docs), (dirty_dir, dirty)):
        d.mkdir()
        pq.write_table(pa.Table.from_pandas(
            frame.orderBy("doc_id").toPandas()),
            str(d / "documents.parquet"))

    ref = str(tmp_path / "ref_state")
    run_curation_ingest(
        read_documents_stream(spark, str(clean_dir)), ref, spark)
    fixed = str(tmp_path / "fixed_state")
    run_curation_ingest(
        read_documents_stream(spark, str(dirty_dir)), fixed,
        spark, fix_encoding=True)
    assert _telemetry_multiset(spark, fixed) == \
        _telemetry_multiset(spark, ref)
    assert _survivor_ids(spark, fixed) == _survivor_ids(spark, ref)

    raw = str(tmp_path / "raw_state")
    run_curation_ingest(
        read_documents_stream(spark, str(dirty_dir)), raw, spark)
    assert _telemetry_multiset(spark, raw) != \
        _telemetry_multiset(spark, ref)
