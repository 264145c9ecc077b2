"""Semantic pin for the near-dup family: at test scale the MinHash-LSH
pipeline (16 bands x 4 rows, s-curve threshold ~0.5) must recover
exactly the pairs the exact n-gram Jaccard query reports at >= 0.5 —
the fixture's planted near-duplicates sit well above the threshold, so
estimator noise must not add or drop pairs."""

from __future__ import annotations

from conftest import SF_DIR

from toymapreduce_go_spark.plans.queries import QUERIES


def test_minhash_recovers_exact_jaccard_pairs(spark):
    exact = {(r.doc_a, r.doc_b)
             for r in QUERIES["ngram_jaccard_pairs"](spark, SF_DIR).collect()}
    approx = {(r.doc_a, r.doc_b)
              for r in QUERIES["near_dedup_minhash"](spark, SF_DIR).collect()}
    assert exact, "fixture should contain planted near-duplicates"
    assert approx == exact


def test_ngram_lsh_tier_matches_exact(spark):
    """The declared ngram_jaccard_pairs runs the round-7 LSH-candidate
    tier (banding candidates + exact array_intersect verify). On the
    fixture — planted near-dups well above the 0.5 threshold, where
    16x4 banding recall is ~1 — it must emit exactly the exact tier's
    pairs with exactly the same Jaccard values."""
    from conftest import SF_DIR

    from toymapreduce_go_spark.operators.dedup import ngram_jaccard_pairs
    from toymapreduce_go_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    exact = sorted(tuple(r) for r in
                   ngram_jaccard_pairs(docs, candidates="all").collect())
    lsh = sorted(tuple(r) for r in
                 ngram_jaccard_pairs(docs, candidates="lsh").collect())
    assert exact, "fixture should contain planted near-duplicates"
    assert lsh == exact


def test_ann_variants_recall_vs_bruteforce(spark):
    """Both ANN variants trade recall for candidate-set size; against the
    exact top-5 of each probe they must stay useful: every returned
    neighbor must be a real corpus vector, ranks contiguous from 1, and
    measured recall above a floor (deterministic — no RNG anywhere)."""
    exact = {(r.probe_id, r.neighbor_id)
             for r in QUERIES["knn_bruteforce"](spark, SF_DIR).collect()}
    for name, floor in (("ann_lsh", 0.0), ("ann_ivf", 0.1)):
        rows = QUERIES[name](spark, SF_DIR).collect()
        assert rows, name
        by_probe = {}
        for r in rows:
            by_probe.setdefault(r.probe_id, []).append(r.rank)
        for probe, ranks in by_probe.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), (name, probe)
        got = {(r.probe_id, r.neighbor_id) for r in rows}
        recall = len(got & exact) / len(exact)
        assert recall >= floor, (name, recall)


def test_ann_lsh_production_xxhash_variant(spark):
    """The declared query routes to ann_lsh_portable; this pins the
    production xxhash-sketch variant (any-dim, no literal planes)
    directly: same contract — non-empty at a bucket width matched to the
    corpus, contiguous ranks, real neighbors, deterministic across
    invocations."""
    from toymapreduce_go_spark.operators.similarity import ann_lsh
    from toymapreduce_go_spark.sources.registry import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = ann_lsh(emb, n_planes=6).collect()
    assert rows
    vec_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    by_probe = {}
    for r in rows:
        assert r.neighbor_id in vec_ids and r.neighbor_id != r.probe_id
        by_probe.setdefault(r.probe_id, []).append(r.rank)
    for probe, ranks in by_probe.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), probe
    again = ann_lsh(emb, n_planes=6).collect()
    assert {tuple(r) for r in rows} == {tuple(r) for r in again}


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """1k identical documents put every doc in the same bucket of every
    band — uncapped, the bucket join is C(1000,2) ≈ 500k pairs per band.
    With max_bucket_size=8 the self-join contributes C(8,2)=28 pairs and
    every capped-away member (992 of them) is joined back to the rank-1
    survivor, so dedup recall is total: all 999 non-survivors pair with
    doc 0 and no member could survive dedup as 'unique'."""
    from toymapreduce_go_spark.operators.dedup import near_dedup_minhash

    text = ("the quick brown fox jumps over the lazy dog again and again "
            "for this degenerate duplicate cluster fixture") * 3
    docs = spark.createDataFrame(
        [(i, text) for i in range(1000)], "doc_id long, text string")
    capped = near_dedup_minhash(docs, max_bucket_size=8).collect()
    # pair count is LINEAR in the cluster (kept C(8,2) + 992 rep pairs),
    # never the quadratic C(1000,2)
    assert len(capped) == 8 * 7 // 2 + (1000 - 8)
    assert all(r.est_jaccard == 1.0 for r in capped)
    # every member pairs with the min-doc_id survivor → zero recall loss
    paired_with_survivor = {r.doc_b for r in capped if r.doc_a == 0}
    assert paired_with_survivor == set(range(1, 1000))
    # and the uncapped semantics are unchanged on the real fixture
    from toymapreduce_go_spark.sources.registry import load_table
    fixture = load_table(spark, SF_DIR, "documents")
    uncapped = {(r.doc_a, r.doc_b)
                for r in near_dedup_minhash(fixture).collect()}
    loose_cap = {(r.doc_a, r.doc_b)
                 for r in near_dedup_minhash(fixture, max_bucket_size=10**6)
                 .collect()}
    assert loose_cap == uncapped


def test_simhash_hamming_planted_pair(spark):
    """A/B are at exactly Hamming distance 2 under the portable 60-bit
    simhash (verified offline against a pure-Python replica — they share
    only the top 20-bit block, so the pigeonhole join must surface them
    through that single block); C is ~30 bits from both and shares no
    block, so it must not pair. A duplicate of A pins distance 0."""
    from toymapreduce_go_spark.operators.dedup import simhash_hamming_pairs

    a = ("the quick brown fox jumps over the lazy dog while rain falls "
         "on green hills near quiet rivers")
    b = a + " fish"
    c = ("completely different subject matter about spacecraft propulsion "
         "systems and orbital mechanics calculations")
    docs = spark.createDataFrame(
        [(0, a), (1, b), (2, c), (3, a)], "doc_id long, text string")
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in simhash_hamming_pairs(docs).collect()}
    assert got == {(0, 1, 2), (0, 3, 0), (1, 3, 2)}


def test_jaccard_doc_freq_guard(spark):
    """The skew guard prunes ultra-common shingles: with a huge cap the
    result is identical to exact; with a tiny cap it still runs and
    reports a subset of the exact pairs (pruning only removes evidence,
    and near-dup pairs share mostly rare shingles)."""
    from toymapreduce_go_spark.operators.dedup import ngram_jaccard_pairs
    from toymapreduce_go_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    exact = {(r.doc_a, r.doc_b)
             for r in ngram_jaccard_pairs(docs).collect()}
    capped_loose = {(r.doc_a, r.doc_b)
                    for r in ngram_jaccard_pairs(docs, max_doc_freq=10**9)
                    .collect()}
    assert capped_loose == exact
    capped_tight = {(r.doc_a, r.doc_b)
                    for r in ngram_jaccard_pairs(docs, max_doc_freq=2)
                    .collect()}
    assert capped_tight <= exact


def test_persist_shared_distinguishes_same_shape_different_paths(spark, tmp_path):
    """ADVICE r5: canonicalized().toJSON() nulls the HadoopFsRelation
    field, so two same-schema corpora at different parquet paths yield
    byte-identical plan JSON — the cache key's input-file component must
    keep them apart (a hit would silently serve the wrong corpus)."""
    from toymapreduce_go_spark.operators.dedup import persist_shared

    a, b = str(tmp_path / "corpus_a"), str(tmp_path / "corpus_b")
    spark.createDataFrame([(1, "alpha")], "doc_id long, text string") \
        .write.parquet(a)
    spark.createDataFrame([(1, "bravo")], "doc_id long, text string") \
        .write.parquet(b)
    pa_ = persist_shared(spark.read.parquet(a))
    pb_ = persist_shared(spark.read.parquet(b))
    try:
        # a wrong-corpus hit would hand corpus B the SAME handle (and
        # therefore the same rows) as corpus A
        assert pb_ is not pa_
        assert [r.text for r in pa_.collect()] == ["alpha"]
        assert [r.text for r in pb_.collect()] == ["bravo"]
        # and a genuine re-read of corpus A must still hit
        assert persist_shared(spark.read.parquet(a)) is pa_
    finally:
        for df in (pa_, pb_):
            df.unpersist()


def test_lsh_multiprobe_catches_planted_strong_neighbors(spark):
    """The corpus's exact top-5 neighbors are weak (cos 0.25-0.40 —
    RECALL.md), where sign-LSH recall is theory-bounded to ~0.2. The
    operator's actual mission is near-duplicate-grade neighbors: plant
    cos>=0.99 duplicates and require the Hamming-1 multi-probe join to
    recover nearly all of them."""
    import random

    from toymapreduce_go_spark.operators.similarity import (
        ann_lsh_portable, knn_bruteforce)

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(60)]
    rows = [(i, [float(x) for x in v], "base") for i, v in enumerate(base)]
    # probes 0..4 get a planted twin: tiny perturbation -> cos ~0.999
    for i in range(5):
        twin = [x + rng.gauss(0, 0.02) for x in base[i]]
        rows.append((100 + i, [float(x) for x in twin], "twin"))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    exact = {(r.probe_id, r.neighbor_id)
             for r in knn_bruteforce(emb, n_probes=5, k=1).collect()}
    assert exact == {(i, 100 + i) for i in range(5)}  # twins ARE the top-1
    got = {(r.probe_id, r.neighbor_id)
           for r in ann_lsh_portable(emb, n_probes=5, k=1).collect()}
    found = sum((i, 100 + i) in got for i in range(5))
    assert found >= 4, f"multi-probe LSH missed planted twins: {got}"


def test_contamination_check_flags_planted_overlap(spark):
    """Planted decontamination scenario: doc 0 (eval slice: 0 % 97 == 0)
    shares a long phrase with doc 5 (>= 3 distinct 5-gram shingles) but
    not with doc 6; only doc 5 is flagged. Also pins the plan contract:
    the benchmark shingle probe must be a broadcast join."""
    import contextlib
    import io

    from toymapreduce_go_spark.operators.dedup import contamination_check

    phrase = ("the quick brown fox jumps over the lazy dog while "
              "seven wizards watch quietly")
    docs = spark.createDataFrame(
        [(0, "bench", phrase),
         (5, "train", "intro words then " + phrase + " and a tail"),
         (6, "train", "completely different content with no overlap "
                      "of any five gram runs at all here")],
        "doc_id long, source string, text string")
    out = contamination_check(docs)
    rows = {r["source"]: r for r in out.collect()}
    assert "bench" not in rows  # eval slice is excluded from the report
    assert rows["train"]["n_docs"] == 2
    assert rows["train"]["n_contaminated"] == 1
    assert rows["train"]["total_shared_shingles"] >= 3
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "BroadcastHashJoin" in buf.getvalue()


def _uf_components(pairs):
    """Reference union-find over collected pairs: doc -> min id of its
    component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark):
    """Label propagation must agree with exact union-find on the real
    LSH pair graph at fixture scale."""
    from conftest import SF_DIR
    from toymapreduce_go_spark.operators.dedup import (connected_components,
                                                       near_dedup_minhash)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs_df = near_dedup_minhash(docs).select("doc_a", "doc_b")
    pairs = [(r["doc_a"], r["doc_b"]) for r in pairs_df.collect()]
    assert pairs  # fixture plants near-dups; empty would test nothing
    want = _uf_components(pairs)
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(pairs_df).collect()}
    assert got == want


def test_connected_components_planted_chain_and_clique(spark):
    """A 5-chain (diameter 4 — forces several propagation rounds), a
    triangle, and an isolated pair each collapse to min-id labels."""
    from toymapreduce_go_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain
         (10, 11), (11, 12), (10, 12),        # clique
         (20, 21)],                           # pair
        "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_random_graphs(spark):
    """Seeded random graphs (sparse, mid, denser) vs exact union-find —
    catches propagation bugs planted topologies miss (multiple merges of
    partial components in one round, label races)."""
    import random

    from toymapreduce_go_spark.operators.dedup import connected_components

    for seed, n, m in [(1, 60, 30), (2, 80, 90), (3, 40, 160)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        want = _uf_components(edges)
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(df).collect()}
        assert got == want, f"seed {seed}"


def test_connected_components_raises_when_unconverged(spark):
    """r7 advice: silently returning unconverged labels would make
    apply_near_dedup keep docs whose label never reached the component
    minimum. A diameter-5 chain cannot converge in 1 round -> raise."""
    import pytest

    from toymapreduce_go_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="frontier"):
        connected_components(chain, max_iter=1)
    # and with enough rounds the same graph is one component
    labels = {r["doc_id"]: r["cluster_id"]
              for r in connected_components(chain, max_iter=10).collect()}
    assert set(labels.values()) == {0}


def test_dup_spans_detects_planted_shared_substring(spark):
    """A 40-char span planted in two docs must be flagged; a doc with no
    cross-doc overlap must not; content-defined sampling (sample_mod)
    must still find the long planted span while shrinking gram volume."""
    from toymapreduce_go_spark.operators.dedup import dup_span_stats

    boiler = "this exact boilerplate sentence appears in multiple docs"
    docs = spark.createDataFrame(
        [(1, "a", f"unique preamble alpha. {boiler} unique tail one."),
         (2, "a", f"different opening beta. {boiler} other ending two."),
         (3, "b", "entirely original text with no overlap whatsoever "
                   "and enough length to produce many grams here."),
         (4, "b", "short")],  # < k chars: excluded entirely
        "doc_id long, source string, text string")
    rows = {r["source"]: r for r in dup_span_stats(docs, k=20).collect()}
    assert rows["a"]["n_docs"] == 2
    assert rows["a"]["docs_with_dup"] == 2
    assert rows["a"]["dup_grams"] > 0
    # the planted span contributes ~ len(boiler)-k+1 duplicated grams
    # per doc (plus boundary grams differ): sanity-band, not exact
    assert rows["a"]["dup_grams"] >= 2 * (len(boiler) - 20 - 5)
    assert rows["b"]["n_docs"] == 1          # doc 4 too short to gram
    assert rows["b"]["dup_grams"] == 0
    assert rows["b"]["docs_with_dup"] == 0
    # content-defined sampling: fewer grams, planted dup still seen
    sampled = {r["source"]: r
               for r in dup_span_stats(docs, k=20, sample_mod=4).collect()}
    assert sampled["a"]["total_grams"] < rows["a"]["total_grams"]
    assert sampled["a"]["docs_with_dup"] == 2


def test_dup_span_coverage_exact_union_of_planted_span(spark):
    """The interval-union fold must count each duplicated character ONCE:
    a planted boilerplate of B chars yields ~B covered chars per doc
    (contiguous overlapping k-spans union to the span, not k x n_grams),
    and a doc with no cross-doc overlap contributes zero."""
    from toymapreduce_go_spark.operators.dedup import dup_span_coverage

    boiler = "x" * 0 + "this exact boilerplate sentence appears twice verbatim"
    docs = spark.createDataFrame(
        [(1, "a", f"unique preamble alpha. {boiler} unique tail one."),
         (2, "a", f"different opening beta. {boiler} other ending two."),
         (3, "b", "entirely original text with no overlap whatsoever "
                   "and enough length to produce many grams here.")],
        "doc_id long, source string, text string")
    rows = {r["source"]: r for r in dup_span_coverage(docs, k=20).collect()}
    B = len(boiler)
    # union coverage per doc is within a few chars of B (boundary grams
    # mix in per-doc context and so are not duplicated)
    assert rows["a"]["docs_with_dup"] == 2
    assert 2 * (B - 4) <= rows["a"]["dup_chars"] <= 2 * (B + 4)
    assert rows["b"]["dup_chars"] == 0
    # naive per-gram k-char counting would give ~2*k*(B-k+1) ≈ 1400:
    # the fold must NOT do that
    assert rows["a"]["dup_chars"] < 4 * B


def test_ann_ivf_pq_recall_and_determinism(spark):
    """IVF-PQ contract: deterministic 8-byte codes, valid (probe, rank)
    structure, and with the refine stage the recall floor matches the
    full-precision IVF tier's class on the fixture (measured 0.76 at
    defaults — floor set with margin). Pure ADC (refine=0) must still
    return structurally valid results."""
    from toymapreduce_go_spark.operators.similarity import (
        PQ_KSUB, PQ_M, _train_pq_codebooks, ann_ivf_pq, pq_encode)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {(r.probe_id, r.neighbor_id)
             for r in QUERIES["knn_bruteforce"](spark, SF_DIR).collect()}
    rows = ann_ivf_pq(emb).collect()
    assert rows
    got = {(r.probe_id, r.neighbor_id) for r in rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, recall
    # determinism: a second run returns identical rows
    assert [tuple(r) for r in ann_ivf_pq(emb).collect()] == \
           [tuple(r) for r in rows]
    # code structure: m codes per vector, each < ksub
    sample = [[float(x) for x in r.embedding] for r in
              emb.orderBy("vec_id").limit(64).collect()]
    books = _train_pq_codebooks(sample)
    codes = pq_encode(emb, books).select("codes").limit(20).collect()
    for r in codes:
        assert len(r.codes) == PQ_M
        assert all(0 <= c < PQ_KSUB for c in r.codes)
    # pure-ADC tier is structurally valid too
    adc_rows = ann_ivf_pq(emb, refine=0).collect()
    by_probe = {}
    for r in adc_rows:
        by_probe.setdefault(r.probe_id, []).append(r.rank)
    for probe, ranks in by_probe.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ann_label_vote_matches_exact_tier_shape(spark):
    """ann_label_vote is the promised scale path of knn_label_vote: the
    shared vote over IVF-PQ neighbor lists. Contracts: identical output
    schema, every probe voted exactly once, deterministic across runs,
    and at the committed refine=32 operating point (recall 0.84) the
    per-probe PREDICTIONS agree with the exact tier on a clear majority
    of probes."""
    from toymapreduce_go_spark.operators.similarity import (
        ann_label_vote, knn_label_vote)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = knn_label_vote(emb)
    approx = ann_label_vote(emb)
    assert exact.columns == approx.columns
    e_rows = exact.collect()
    a_rows = approx.collect()
    assert sum(r["n_probes"] for r in a_rows) == \
        sum(r["n_probes"] for r in e_rows) == 20
    for r in a_rows:
        assert 0.0 <= r["accuracy"] <= 1.0
    assert [tuple(r) for r in ann_label_vote(emb).collect()] == \
        [tuple(r) for r in a_rows]
    # prediction-level agreement via the correctness columns: totals
    # within a loose band of the exact tier (lossy codes, not garbage)
    e_correct = sum(r["n_correct"] for r in e_rows)
    a_correct = sum(r["n_correct"] for r in a_rows)
    assert abs(a_correct - e_correct) <= 10


def test_bloom_dedup_flags_every_prior_repeat(spark):
    """The Bloom guarantee: a non-prior doc whose content hash IS in
    the prior slice is flagged with certainty (no false negatives);
    distinct texts on the fixture-sparse bitmap stay unflagged (the
    false-positive probability at these sizes is ~(k·n/m)^k ≈ 1e-9)."""
    from toymapreduce_go_spark.operators.dedup import bloom_dedup

    rows = [(0, "prior_src", "yesterday ingested body one"),
            (97, "prior_src", "yesterday ingested body two"),
            (194, "prior_src", "yesterday ingested body three")]
    rows += [(i, "fresh_src", f"genuinely new document {i}")
             for i in range(1, 31)]
    rows += [(50, "repeat_src", "yesterday ingested body two"),
             (51, "repeat_src", "yesterday ingested body three")]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in bloom_dedup(docs).collect()}
    assert "prior_src" not in out          # the prior slice isn't scored
    assert out["repeat_src"]["n_docs"] == 2
    assert out["repeat_src"]["n_flagged"] == 2
    assert out["fresh_src"]["n_flagged"] == 0
    # 3 prior keys × 4 salts, no collisions at m=245760
    assert out["fresh_src"]["bloom_bits_set"] == 12


def test_bloom_dedup_scoring_plan_is_scan_side(spark):
    """Plan contract: the corpus side is a pure scan-side projection
    against the plan-literal bitmap — no join, no window, no Python
    stage; the only exchanges serve the final metadata-sized aggregate
    and sort."""
    from test_explain_plans import plan_of

    from toymapreduce_go_spark.operators.dedup import bloom_dedup
    from toymapreduce_go_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(bloom_dedup(docs))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan


def test_bloom_screen_keeps_fresh_drops_repeats(spark):
    """bloom_screen (the pipeline-facing form): prior repeats are
    dropped with certainty, fresh docs survive (FP odds ~1e-9 at these
    sizes), and the returned frame keeps the input schema."""
    from toymapreduce_go_spark.operators.dedup import bloom_screen

    prior = spark.createDataFrame(
        [(1, "old", "seen before one"), (2, "old", "seen before two")],
        "doc_id long, source string, text string")
    docs = spark.createDataFrame(
        [(10, "new", "seen before one"), (11, "new", "brand new doc a"),
         (12, "new", "seen before two"), (13, "new", "brand new doc b")],
        "doc_id long, source string, text string")
    out = bloom_screen(docs, prior)
    assert out.columns == docs.columns
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]


def test_vs_prior_is_cross_split_subset_of_full_near_dedup(spark):
    """near_dedup_vs_prior_split must report EXACTLY the cross-corpus
    subset of the full near_dedup_minhash pair set — same banding, same
    estimate, restricted to (archive, batch) pairs — with identical
    est_jaccard values (both run the portable signature path)."""
    from toymapreduce_go_spark.operators.dedup import (
        near_dedup_minhash_portable, near_dedup_vs_prior_split)
    from toymapreduce_go_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    full = near_dedup_minhash_portable(docs).collect()
    expected = {}
    for r in full:
        a_prior, b_prior = r.doc_a % 3 == 0, r.doc_b % 3 == 0
        if a_prior and not b_prior:
            expected[(r.doc_b, r.doc_a)] = r.est_jaccard
        elif b_prior and not a_prior:
            expected[(r.doc_a, r.doc_b)] = r.est_jaccard
    got = {(r.doc_id, r.prior_id): r.est_jaccard
           for r in near_dedup_vs_prior_split(docs).collect()}
    assert expected, "fixture should contain cross-split near-duplicates"
    assert got == expected


def test_vs_prior_planted_batch_near_dup_of_archive(spark):
    """Planted contract: a batch doc that shares most shingles with an
    archive doc is reported (doc_id = the batch side, prior_id = the
    archive side); fresh batch docs and archive-internal duplicates are
    not — the operator is cross-corpus only by design."""
    from toymapreduce_go_spark.operators.dedup import near_dedup_vs_prior

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    prior = spark.createDataFrame(
        [(1, "arch", base), (2, "arch", base),  # archive-internal dup pair
         (3, "arch", "completely different archive payload here today")],
        "doc_id long, source string, text string")
    batch = spark.createDataFrame(
        [(10, "new", base + " phi"),            # near-dup of 1 and 2
         (11, "new", "a genuinely fresh never seen batch document")],
        "doc_id long, source string, text string")
    rows = near_dedup_vs_prior(batch, prior).collect()
    got = {(r.doc_id, r.prior_id) for r in rows}
    assert got == {(10, 1), (10, 2)}
    assert all(r.est_jaccard >= 0.5 for r in rows)


def test_vs_prior_plan_has_no_python_stage_or_cartesian(spark):
    """Plan contract: the whole vs-prior pipeline — signatures, banding,
    index probe, estimate — is pure JVM SQL (portable md5 signatures, no
    Python workers) and every join is keyed (no cartesian blow-up)."""
    from test_explain_plans import plan_of

    from toymapreduce_go_spark.operators.dedup import near_dedup_vs_prior_split
    from toymapreduce_go_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(near_dedup_vs_prior_split(docs))
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_vs_prior_index_cap_bounds_hot_bucket_keeps_screen_recall(spark):
    """max_bucket_size on the archive index: a giant identical cluster
    (same signature → same bucket in every band) is capped to its
    lowest prior_ids, so the probe fan-out is bounded — but the batch
    doc still verifies against the kept representative (identical sigs),
    so the screen never misses the hot case the cap exists for."""
    from toymapreduce_go_spark.operators.dedup import near_dedup_vs_prior

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    prior = spark.createDataFrame(
        [(i, "arch", base) for i in range(1, 9)],  # 8 identical docs
        "doc_id long, source string, text string")
    batch = spark.createDataFrame(
        [(10, "new", base + " phi")],
        "doc_id long, source string, text string")
    uncapped = {(r.doc_id, r.prior_id)
                for r in near_dedup_vs_prior(batch, prior).collect()}
    assert uncapped == {(10, i) for i in range(1, 9)}
    capped = {(r.doc_id, r.prior_id)
              for r in near_dedup_vs_prior(batch, prior,
                                           max_bucket_size=1).collect()}
    assert capped == {(10, 1)}


def test_vs_index_roundtrip_matches_derived_frame_path(spark, tmp_path):
    """The parquet-persisted index (write_prior_index →
    near_dedup_vs_index) must report exactly what the derived-frame
    path (near_dedup_vs_prior) reports — persistence is transparent."""
    from toymapreduce_go_spark.operators.dedup import (
        near_dedup_vs_index, near_dedup_vs_prior, write_prior_index)
    from toymapreduce_go_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    prior = docs.filter("doc_id % 3 = 0")
    batch = docs.filter("doc_id % 3 <> 0")
    direct = [tuple(r) for r in near_dedup_vs_prior(batch, prior).collect()]
    assert direct, "fixture should contain cross-split near-duplicates"
    path = str(tmp_path / "idx")
    write_prior_index(prior, path)
    via_index = [tuple(r)
                 for r in near_dedup_vs_index(batch, path).collect()]
    assert via_index == direct


def test_vs_index_extension_equals_one_shot_and_replays_idempotently(
        spark, tmp_path):
    """The incremental contract: probing batch2 against (archive index
    + batch1-survivor extension) equals the one-shot probe against the
    unioned corpus, and re-running an extension with the same batch_id
    (a crashed-and-rerun commit) changes nothing."""
    from toymapreduce_go_spark.operators.dedup import (
        near_dedup_vs_index, near_dedup_vs_prior, write_prior_index)
    from toymapreduce_go_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    archive = docs.filter("doc_id % 3 = 0")
    batch1 = docs.filter("doc_id % 3 = 1")
    batch2 = docs.filter("doc_id % 3 = 2")
    path = str(tmp_path / "idx")
    write_prior_index(archive, path, batch_id=0)

    # before_batch=1 is the ingest contract: survivors1's LAZY plan
    # stays pinned to the pre-extension snapshot even after the
    # extension write lands (without it, a re-evaluation would see the
    # survivors' own partition, self-match at est 1.0, and flag all)
    hits1 = (near_dedup_vs_index(batch1, path, before_batch=1)
             .select("doc_id").distinct())
    survivors1 = batch1.join(hits1, "doc_id", "left_anti")
    n_surv = survivors1.count()
    write_prior_index(survivors1, path, batch_id=1)
    assert survivors1.count() == n_surv  # the hazard, pinned

    got = [tuple(r) for r in near_dedup_vs_index(
        batch2, path, before_batch=2).collect()]
    want = [tuple(r) for r in near_dedup_vs_prior(
        batch2, archive.unionByName(survivors1)).collect()]
    assert got == want
    assert got, "split should produce cross-corpus near-duplicates"

    # idempotent replay of the batch-1 extension commit
    n_bands_rows = spark.read.parquet(f"{path}/bands").count()
    n_sig_rows = spark.read.parquet(f"{path}/sigs").count()
    write_prior_index(survivors1, path, batch_id=1)
    assert spark.read.parquet(f"{path}/bands").count() == n_bands_rows
    assert spark.read.parquet(f"{path}/sigs").count() == n_sig_rows
    replay = [tuple(r) for r in near_dedup_vs_index(
        batch2, path, before_batch=2).collect()]
    assert replay == got


def test_ann_ivf_filtered_respects_predicate_with_recall(spark):
    """Filtered ANN: every returned neighbor satisfies the metadata
    predicate, ranks are contiguous per probe, and recall against the
    FILTERED brute-force top-k clears the unfiltered tier's floor —
    filtering must shrink the candidate set, not break the ranking."""
    import numpy as np

    from toymapreduce_go_spark.operators.similarity import ann_ivf_filtered
    from toymapreduce_go_spark.sources.registry import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = ann_ivf_filtered(emb).collect()
    assert rows
    labels = {r.vec_id: r.label
              for r in emb.select("vec_id", "label").collect()}
    assert all(labels[r.neighbor_id] % 2 == 0 for r in rows)
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r.rank)
    for probe, ranks in by_probe.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), probe
    # filtered brute force (numpy at fixture scale)
    data = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in data}
    probe_ids = sorted(vecs)[:5]
    exact = set()
    for pid in probe_ids:
        p = vecs[pid]
        pn = np.linalg.norm(p)
        scored = sorted(
            ((-float(np.dot(p, v) / (pn * np.linalg.norm(v))), vid)
             for vid, v in vecs.items()
             if vid != pid and labels[vid] % 2 == 0))
        exact |= {(pid, vid) for _, vid in scored[:5]}
    got = {(r.probe_id, r.neighbor_id) for r in rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.1, recall


def test_ann_ivf_filtered_pushes_predicate_to_scan(spark):
    """Plan contract: the IN-list predicate reaches the parquet scan as
    a pushed filter — non-matching vectors are never decoded, assigned,
    or joined (filtering makes the query cheaper, never a rescan)."""
    from test_explain_plans import plan_of

    from toymapreduce_go_spark.operators.similarity import ann_ivf_filtered
    from toymapreduce_go_spark.sources.registry import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(ann_ivf_filtered(emb))
    assert "PushedFilters" in plan, plan
    pushed = [seg[:200] for seg in plan.split("PushedFilters")[1:]]
    assert any("label" in seg and "In(" in seg for seg in pushed), pushed


def test_vs_index_manifest_fails_closed_on_mismatch(spark, tmp_path):
    """The index manifest: probing or extending with banding parameters
    different from what the index was built with joins to NOTHING
    (silent total recall loss) — both paths must fail closed instead."""
    import pytest

    from toymapreduce_go_spark.operators.dedup import (
        near_dedup_vs_index, write_prior_index)

    docs = spark.createDataFrame(
        [(1, "a", "some archive document body here today")],
        "doc_id long, source string, text string")
    path = str(tmp_path / "idx")
    write_prior_index(docs, path, n_hashes=32, n_bands=8)
    with pytest.raises(ValueError, match="manifest"):
        near_dedup_vs_index(docs, path)  # default n_hashes=64
    with pytest.raises(ValueError, match="manifest"):
        write_prior_index(docs, path, batch_id=1)  # mismatched extension
    # matching parameters pass both ways
    near_dedup_vs_index(docs, path, n_hashes=32, n_bands=8).collect()
    write_prior_index(docs, path, batch_id=1, n_hashes=32, n_bands=8)


def test_index_compaction_preserves_snapshots_and_retention_expires(
        spark, tmp_path):
    """Index maintenance: compact_prior_index rewrites bands/sigs to
    fewer files while preserving the batch_id layout — probes at
    EVERY before_batch snapshot return byte-identical results, and a
    post-compaction extension behaves exactly as on the uncompacted
    twin. expire_index_batches then drops old partitions: a probe sees
    only the kept archive content (the deliberate retention policy)."""
    import shutil

    from toymapreduce_go_spark.operators.dedup import (
        compact_prior_index, expire_index_batches, near_dedup_vs_index,
        write_prior_index)
    from toymapreduce_go_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    # months-of-commits fragmentation, for real: the band computation is
    # a NARROW chain (one write task per input split — the one-file
    # fixture yields one file per batch), so force multi-split inputs
    # with a repartition and keep AQE from coalescing it back to one.
    archive = docs.filter("doc_id % 3 = 0").repartition(4)
    batch1 = docs.filter("doc_id % 3 = 1").repartition(4)
    batch2 = docs.filter("doc_id % 3 = 2")
    path = str(tmp_path / "idx")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                   "false")
    try:
        write_prior_index(archive, path, batch_id=0)
        write_prior_index(batch1, path, batch_id=1)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       "true")

    twin = str(tmp_path / "idx_twin")
    shutil.copytree(path, twin)
    stats = compact_prior_index(spark, path)
    assert stats["bands"][1] <= stats["bands"][0]
    n_files = lambda p, sub: len(  # noqa: E731
        [f for dp, _d, fn in __import__("os").walk(f"{p}/{sub}")
         for f in fn if f.endswith(".parquet")])
    assert n_files(path, "bands") < n_files(twin, "bands")

    # every snapshot the uncompacted twin can answer, identically
    for before in (1, 2):
        got = sorted(tuple(r) for r in near_dedup_vs_index(
            batch2, path, before_batch=before).collect())
        want = sorted(tuple(r) for r in near_dedup_vs_index(
            batch2, twin, before_batch=before).collect())
        assert got == want
        assert got or before == 1  # full archive must produce hits

    # compact-then-extend equals no-compact-then-extend
    write_prior_index(batch2, path, batch_id=2)
    write_prior_index(batch2, twin, batch_id=2)
    probe = docs.filter("doc_id % 3 = 1")
    got = sorted(tuple(r) for r in near_dedup_vs_index(
        probe, path, before_batch=3).collect())
    want = sorted(tuple(r) for r in near_dedup_vs_index(
        probe, twin, before_batch=3).collect())
    assert got == want

    # retention: expire batches < 2 -> only batch-2 content remains
    removed = expire_index_batches(path, keep_from=2)
    assert removed == 4  # 2 batches x (bands, sigs)
    left = {r.batch_id for r in
            spark.read.parquet(f"{path}/bands")
            .select("batch_id").distinct().collect()}
    assert left == {2}
    post = sorted(tuple(r) for r in near_dedup_vs_index(
        probe, path, before_batch=3).collect())
    # the kept-partition probe must equal probing batch2's index alone
    alone = str(tmp_path / "idx_alone")
    write_prior_index(batch2, alone, batch_id=2)
    want_post = sorted(tuple(r) for r in near_dedup_vs_index(
        probe, alone, before_batch=3).collect())
    assert post == want_post


def test_expire_refuses_to_empty_the_index(spark, tmp_path):
    """review r10: expiring past the newest batch would leave bands/
    sigs holding only _SUCCESS and crash the next probe on schema
    inference — refused loudly instead."""
    import pytest as _pytest

    from toymapreduce_go_spark.operators.dedup import (
        expire_index_batches, write_prior_index)
    from toymapreduce_go_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "idx")
    write_prior_index(docs, path, batch_id=0)
    write_prior_index(docs.orderBy("doc_id").limit(30), path,
                      batch_id=1)
    with _pytest.raises(ValueError, match="delete the index instead"):
        expire_index_batches(path, keep_from=2)
    assert expire_index_batches(path, keep_from=1) == 2
