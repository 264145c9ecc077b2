"""Persisted vector index (write_vector_index / ann_query_index) —
the build-once/probe-many production ANN pattern with the posting
lists ON DISK, partitioned by cell, so a probe job reads ONLY the
probed cells' partitions (partition pruning), never re-scanning or
re-assigning the corpus.

Correctness contract: the probe over a persisted index is EXACTLY
``ann_ivf_trained`` with the same parameters (same deterministic
sample, same Lloyd's training, same assignment argmax, doubles
round-tripping parquet bit-exactly) — and ann_ivf_trained carries full
DuckDB value-hash parity, so equality here inherits the oracle."""

from __future__ import annotations

import pytest
from conftest import SF_DIR, SF_DIR_T2
from test_explain_plans import plan_of

from toymapreduce_go_spark.operators.similarity import (
    ann_ivf_trained, ann_query_index, write_vector_index)
from toymapreduce_go_spark.sources.registry import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_probe_equals_trained_ivf(spark, tmp_path):
    path = str(tmp_path / "vidx")
    for sf in (SF_DIR, SF_DIR_T2):
        emb = load_table(spark, sf, "embeddings")
        write_vector_index(emb, path)
        got = _rows(ann_query_index(emb, path))
        want = _rows(ann_ivf_trained(emb))
        assert got == want and got


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """The 100 TB claim: the postings scan carries a PartitionFilters
    entry on cell — a probe touches n_probes × n_probe_cells partitions,
    not the corpus."""
    path = str(tmp_path / "vidx")
    emb = load_table(spark, SF_DIR, "embeddings")
    write_vector_index(emb, path)
    plan = plan_of(ann_query_index(emb, path))
    part = plan.split("PartitionFilters")[1][:200]
    assert "cell" in part and "dynamicpruning" not in part.lower(), plan
    # and the pruning is real: fewer files read than partitions exist
    import os
    n_cells = len({d for dp, dns, _f in os.walk(f"{path}/postings")
                   for d in dns if d.startswith("cell=")})
    assert n_cells > 2  # the literal IN-list is a strict subset


def test_index_rebuild_is_idempotent_and_probe_only_session(spark,
                                                            tmp_path):
    """Rebuilding over the same corpus is byte-stable (overwrite), and
    a probe job that never saw the corpus frame (the build-once/
    probe-many split) gets identical results: probes come from the
    PROBE frame, postings and centroids only from disk."""
    path = str(tmp_path / "vidx")
    emb = load_table(spark, SF_DIR, "embeddings")
    write_vector_index(emb, path)
    first = _rows(ann_query_index(emb, path))
    write_vector_index(emb, path)
    assert _rows(ann_query_index(emb, path)) == first
    # probe-only: only the first 5 vectors (the probe set) are supplied
    probes_only = emb.orderBy("vec_id").limit(5)
    assert _rows(ann_query_index(probes_only, path)) == first


def test_empty_corpus_probe_is_empty(spark, tmp_path):
    path = str(tmp_path / "vidx")
    emb = load_table(spark, SF_DIR, "embeddings")
    write_vector_index(emb.limit(0), path)
    out = ann_query_index(emb, path)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "probe_id", "neighbor_id", "rank", "cos_sim"]


def test_extend_equals_one_shot_build(spark, tmp_path):
    """The IVF lifecycle contract: train once, assign forever — an
    index built on batch 0 then EXTENDED with batch 1 is bit-identical
    to a one-shot build over the union, provided batch 0 contains the
    training sample (the 64 lowest vec_ids; both builds then train on
    the same sample, and extensions only assign with the stored
    centroids). Re-running an extension (crash-rerun) overwrites only
    its own ingest_batch partition — byte-identical, never duplicated."""
    import pytest as _pytest

    from toymapreduce_go_spark.operators.similarity import (
        extend_vector_index)

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    batch0 = emb.orderBy("vec_id").limit((n + 1) // 2)
    ids0 = {r.vec_id for r in batch0.select("vec_id").collect()}
    batch1 = emb.filter(~emb.vec_id.isin(list(ids0)))

    oneshot = str(tmp_path / "oneshot")
    write_vector_index(emb, oneshot)
    grown = str(tmp_path / "grown")
    write_vector_index(batch0, grown)
    extend_vector_index(batch1, grown, batch_id=1)
    want = _rows(ann_query_index(emb, oneshot))
    assert _rows(ann_query_index(emb, grown)) == want

    # crash-rerun: the same extension replays into its own partition
    extend_vector_index(batch1, grown, batch_id=1)
    assert _rows(ann_query_index(emb, grown)) == want

    # extensions never train: a missing model fails loudly
    with _pytest.raises(ValueError, match="write_vector_index first"):
        extend_vector_index(batch1, str(tmp_path / "nomodel"), 1)


def test_probe_before_batch_snapshot_is_stable(spark, tmp_path):
    """The before_batch read contract (verdict r10 item 2): a probe
    pinned at before_batch=N is byte-identical before and after batch N
    lands — probes racing (or lazily re-evaluated across) an extension
    read a consistent snapshot, exactly the dedup index's semantics."""
    from toymapreduce_go_spark.operators.similarity import (
        extend_vector_index)

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    batch0 = emb.orderBy("vec_id").limit((n + 1) // 2)
    ids0 = {r.vec_id for r in batch0.select("vec_id").collect()}
    batch1 = emb.filter(~emb.vec_id.isin(list(ids0)))

    path = str(tmp_path / "vidx")
    write_vector_index(batch0, path)
    before = _rows(ann_query_index(emb, path, before_batch=1))
    assert before == _rows(ann_query_index(emb, path))

    extend_vector_index(batch1, path, batch_id=1)
    # the pinned probe still sees ONLY the committed snapshot...
    assert _rows(ann_query_index(emb, path, before_batch=1)) == before
    # ...while an unpinned probe sees the grown index
    grown = _rows(ann_query_index(emb, path))
    assert grown != before
    assert _rows(ann_query_index(emb, path, before_batch=2)) == grown


# ---------------------------------------------------------------------------
# r13: PQ-coded persisted index (write_vector_index_pq / ann_query_index_pq)


def test_pq_probe_equals_flat_index_when_refine_covers(spark, tmp_path):
    """The sharp pin: the PQ index trains its coarse quantizer with
    the SAME rule as the flat index, so probes route identically —
    and at the fixture sizes refine × k covers every routed cell's
    contents, so ADC-shortlist + exact refine returns EXACTLY the
    flat index's answer (same rows, same cosines). Non-vacuity: the
    routed cells hold more than k candidates, so the top-k choice is
    real."""
    from toymapreduce_go_spark.operators.similarity import (
        ann_query_index_pq, write_vector_index_pq)

    emb = load_table(spark, SF_DIR, "embeddings")
    flat, pq = str(tmp_path / "flat"), str(tmp_path / "pq")
    write_vector_index(emb, flat)
    write_vector_index_pq(emb, pq)
    want = _rows(ann_query_index(emb, flat))
    got = _rows(ann_query_index_pq(emb, emb, pq))
    assert got == want and got
    assert len({r[1] for r in want}) > 10      # > k distinct neighbors


def test_pq_postings_are_materially_smaller(spark, tmp_path):
    """The reason this tier exists: code postings (m ints + one norm)
    undercut the flat index's float vectors by a wide margin on disk —
    the difference between an index that fits hot storage at 100 TB
    and one that doesn't."""
    import os

    from toymapreduce_go_spark.operators.similarity import (
        write_vector_index_pq)

    emb = load_table(spark, SF_DIR, "embeddings")
    flat, pq = str(tmp_path / "flat"), str(tmp_path / "pq")
    write_vector_index(emb, flat)
    write_vector_index_pq(emb, pq)

    def tree_bytes(p):
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _d, fs in os.walk(p) for f in fs
                   if f.endswith(".parquet"))

    fb, pb = tree_bytes(f"{flat}/postings"), tree_bytes(f"{pq}/postings")
    assert fb > 4 * pb, (fb, pb)


def test_pq_index_lifecycle_extend_snapshot_retract(spark, tmp_path):
    """The flat tier's lifecycle carries over unchanged: extension
    encodes with the STORED model and lands in its own ingest_batch
    partition (extend-batch-by-batch probe == one-shot-build probe);
    before_batch pins the committed snapshot; keyed retraction removes
    exactly the named vectors; extending with no model raises the
    sentinel."""
    import pytest

    from toymapreduce_go_spark.operators.similarity import (
        NoVectorIndexModel, ann_query_index_pq, extend_vector_index_pq,
        retract_vector_index_keys, write_vector_index_pq)

    emb = load_table(spark, SF_DIR, "embeddings")
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    cut = ids[len(ids) // 2]
    first = emb.filter(f"vec_id < {cut}")
    rest = emb.filter(f"vec_id >= {cut}")

    grown, oneshot = str(tmp_path / "grown"), str(tmp_path / "oneshot")
    write_vector_index_pq(first, grown, batch_id=0)
    snap_before = _rows(ann_query_index_pq(emb, emb, grown,
                                           before_batch=1))
    extend_vector_index_pq(rest, grown, batch_id=1)
    write_vector_index_pq(emb, oneshot, batch_id=0)
    # one-shot trains on the lowest ids = exactly `first`'s sample,
    # so the models agree and the probes must be identical
    assert _rows(ann_query_index_pq(emb, emb, grown)) \
        == _rows(ann_query_index_pq(emb, emb, oneshot))
    # the snapshot read still sees only batch 0 after the extension
    assert _rows(ann_query_index_pq(emb, emb, grown,
                                    before_batch=1)) == snap_before

    # keyed retraction: drop two known neighbors, they vanish
    full = _rows(ann_query_index_pq(emb, emb, grown))
    victims = sorted({r[1] for r in full})[:2]
    retract_vector_index_keys(spark, grown, victims)
    after = _rows(ann_query_index_pq(emb, emb, grown))
    assert after and not ({r[1] for r in after} & set(victims))

    with pytest.raises(NoVectorIndexModel):
        extend_vector_index_pq(rest, str(tmp_path / "nomodel"),
                               batch_id=1)


def test_pq_index_recall_and_rebuild(spark, tmp_path):
    """The monitor + drift answer on the PQ tier: recall against the
    brute-force floor matches the flat tier's at covering refine;
    rebuild over the grown corpus re-trains + re-encodes in place and
    the rebuilt probe equals a fresh build's; a rebuild whose corpus
    lost postings' vectors refuses loudly."""
    import pytest

    from toymapreduce_go_spark.operators.similarity import (
        ann_query_index_pq, extend_vector_index_pq,
        rebuild_vector_index_pq, vector_index_recall,
        vector_index_recall_pq, write_vector_index, write_vector_index_pq)

    emb = load_table(spark, SF_DIR, "embeddings")
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    cut = ids[len(ids) // 2]
    first = emb.filter(f"vec_id < {cut}")
    rest = emb.filter(f"vec_id >= {cut}")

    pq, flat = str(tmp_path / "pq"), str(tmp_path / "flat")
    write_vector_index_pq(emb, pq)
    write_vector_index(emb, flat)
    r_pq = vector_index_recall_pq(spark, pq, emb)
    r_flat = vector_index_recall(spark, flat)
    assert r_pq["total"] and r_pq["recall"] == r_flat["recall"]

    # grown index, rebuilt: model retrains on the union's lowest ids
    # (== the fresh build's sample), so probes agree
    grown = str(tmp_path / "grown")
    write_vector_index_pq(first, grown, batch_id=0)
    extend_vector_index_pq(rest, grown, batch_id=1)
    rebuild_vector_index_pq(spark, grown, emb)
    fresh = str(tmp_path / "fresh")
    write_vector_index_pq(emb, fresh)
    assert _rows(ann_query_index_pq(emb, emb, grown)) \
        == _rows(ann_query_index_pq(emb, emb, fresh))

    with pytest.raises(ValueError, match="retract them first"):
        rebuild_vector_index_pq(spark, grown, first)


def test_pq_rebuild_preserves_raw_code_mode(spark, tmp_path):
    """review r13: rebuilding a by_residual=False index must keep raw
    codes (meta flag preserved, probe equal to a fresh raw-code
    build), never silently flip the encoding mode."""
    from toymapreduce_go_spark.operators.similarity import (
        ann_query_index_pq, load_vector_index_model,
        rebuild_vector_index_pq, write_vector_index_pq)

    emb = load_table(spark, SF_DIR, "embeddings")
    raw = str(tmp_path / "raw")
    write_vector_index_pq(emb, raw, by_residual=False)
    _, _, flag0 = load_vector_index_model(spark, raw)
    assert flag0 is False
    rebuild_vector_index_pq(spark, raw, emb)
    _, _, flag1 = load_vector_index_model(spark, raw)
    assert flag1 is False
    fresh = str(tmp_path / "fresh_raw")
    write_vector_index_pq(emb, fresh, by_residual=False)
    assert _rows(ann_query_index_pq(emb, emb, raw)) \
        == _rows(ann_query_index_pq(emb, emb, fresh))


@pytest.mark.parametrize("tier", ["flat", "pq"])
def test_pq_rebuild_preserves_rows_under_duplicate_vec_ids(spark,
                                                           tmp_path,
                                                           tier):
    """ADVICE r13: a vec_id present in TWO ingest batches must not
    square through the rebuild (2 postings in, 4 out) — the rebuild
    re-encodes each posting once, keeping its batch key. One rebuild
    serves both tiers, so both are pinned."""
    from toymapreduce_go_spark.operators import similarity as sim

    write, extend, rebuild = {
        "flat": (sim.write_vector_index, sim.extend_vector_index,
                 lambda path: sim.rebuild_vector_index(spark, path)),
        "pq": (sim.write_vector_index_pq, sim.extend_vector_index_pq,
               lambda path: sim.rebuild_vector_index_pq(spark, path, emb)),
    }[tier]
    emb = load_table(spark, SF_DIR, "embeddings").limit(64)
    dup = emb.limit(8)                      # re-ingested in batch 1
    path = str(tmp_path / "dup")
    write(emb, path, batch_id=0)
    extend(dup, path, batch_id=1)
    before = spark.read.parquet(f"{path}/postings").count()
    rebuild(path)
    after = spark.read.parquet(f"{path}/postings").count()
    assert before == after == emb.count() + dup.count()
