"""Semantic pin for the winnowing rolling fingerprint: the sparse-table
doubling rewrite (O(n log w) zip_with passes) must equal the naive
per-position windowed min (O(n·w) array_min(slice)) for power-of-2 and
non-power-of-2 windows alike."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from toymapreduce_go_spark.operators.textstats import rolling_fingerprint
from toymapreduce_go_spark.sources.registry import load_table


@pytest.mark.parametrize("window", [4, 5])
def test_rolling_fingerprint_matches_naive(spark, window):
    k = 8
    docs = load_table(spark, SF_DIR, "documents")
    grams = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("tb")
    ).select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, greatest(octet_length(tb) - {k - 1}, 0)),"
            f" i -> xxhash64(substring(tb, i, {k})))"
        ).alias("gh"),
    )
    naive = (
        grams.filter(F.size("gh") >= window)
        .select(
            "doc_id",
            F.size(F.array_distinct(F.transform(
                F.sequence(F.lit(1), F.size("gh") - (window - 1)),
                lambda i: F.array_min(F.slice("gh", i, window)),
            ))).alias("n"),
        )
    )
    expected = {r.doc_id: r.n for r in naive.collect()}
    got = {r.doc_id: r.n_fingerprints
           for r in rolling_fingerprint(docs, k=k, window=window).collect()}
    assert got == expected


def test_unicode_tokenizer_matches_go_fieldsfunc_semantics(spark):
    """tokens_unicode == the reference's FieldsFunc(!unicode.IsLetter)
    (wc.go:26-29): letters of ANY script survive as runs; digits,
    punctuation, and whitespace all split. Expectations below are the
    hand-computed Go behavior for each string."""
    from pyspark.sql import functions as F

    from toymapreduce_go_spark.functions.text import tokens_unicode

    cases = [
        ("héllo wörld", ["héllo", "wörld"]),
        ("日本語のテキスト123と漢字", ["日本語のテキスト", "と漢字"]),
        ("Ça c'est l'été!", ["Ça", "c", "est", "l", "été"]),
        ("русский текст, и ещё", ["русский", "текст", "и", "ещё"]),
        ("mixedASCIIand中文words", ["mixedASCIIand中文words"]),
        ("42 is 42", ["is"]),
        ("", []),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = {r.s: r.toks for r in
           df.select("s", tokens_unicode("s").alias("toks")).collect()}
    for s, want in cases:
        assert got[s] == want, (s, got[s], want)


def test_unicode_wordcount_cross_engine_on_multilingual_corpus(spark):
    """The round-7 declared ``unicode_wordcount`` and its DuckDB oracle
    must agree beyond the (pure-ASCII) driver fixtures: run both on a
    multilingual corpus spanning Latin-with-diacritics, CJK, Cyrillic,
    Greek, Arabic, and digits/punctuation splits — the scripts where a
    Java-regex vs RE2 \\p{L} divergence would surface if there were
    one."""
    import duckdb
    import pandas as pd

    from toymapreduce_go_spark.operators.text_mr import unicode_wordcount
    from toymapreduce_go_spark.plans.queries import ORACLES

    texts = [
        "héllo wörld héllo", "日本語のテキスト123と漢字",
        "Ça c'est l'été! über straße", "русский текст, и ещё текст",
        "ελληνικά λόγια", "نص عربي قصير", "mixedASCIIand中文words",
        "42 is 42 · no—dash", "tab\tand\nnewline split",
    ]
    docs = spark.createDataFrame(
        [(i, "t", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string")
    got = [(r.word, r.cnt) for r in unicode_wordcount(docs).collect()]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        {"doc_id": range(len(texts)), "source": "t", "text": texts}))
    want = con.execute(ORACLES["unicode_wordcount"]).fetchall()
    assert got == want and len(got) > 10


def test_pii_scrub_planted(spark):
    from toymapreduce_go_spark.operators.textstats import (pii_redact_text,
                                                           pii_scrub)

    docs = spark.createDataFrame(
        [(1, "a", "contact bob@example.com or +1-555-123-4567 now"),
         (2, "a", "server at 10.0.0.1 went down"),
         (3, "b", "nothing sensitive here at all")],
        "doc_id long, source string, text string")
    rows = {r["source"]: r for r in pii_scrub(docs).collect()}
    assert rows["a"]["n_docs_with_pii"] == 2
    assert rows["a"]["total_email"] == 1
    assert rows["a"]["total_phone"] == 1
    assert rows["a"]["total_ipv4"] == 1
    assert rows["b"]["n_docs_with_pii"] == 0
    red = {r["doc_id"]: r["text"] for r in pii_redact_text(docs).collect()}
    assert "<EMAIL>" in red[1] and "<PHONE>" in red[1]
    assert "bob@example.com" not in red[1]
    assert "<IPV4>" in red[2] and "10.0.0.1" not in red[2]
    assert red[3] == "nothing sensitive here at all"


def test_hashed_tf_unit_norm_and_identity_cosine(spark):
    from toymapreduce_go_spark.functions.vectors import cosine_sim
    from toymapreduce_go_spark.operators.textstats import \
        hashed_tf_embeddings

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "the quick brown fox jumps"),       # identical text
         (3, "entirely different words here")],
        "doc_id long, text string")
    vecs = hashed_tf_embeddings(docs)
    rows = {r["doc_id"]: r for r in vecs.collect()}
    for r in rows.values():
        norm = sum(x * x for x in r["vec"]) ** 0.5
        assert abs(norm - 1.0) < 1e-9
        assert r["nnz"] >= 1
    a = vecs.alias("a").filter("doc_id = 1")
    b = (vecs.alias("b").filter("doc_id = 2")
         .selectExpr("vec as vec_b"))
    cos = a.crossJoin(b).select(
        cosine_sim(F.col("vec"), F.col("vec_b")).alias("cos")
    ).collect()[0]["cos"]
    assert abs(cos - 1.0) < 1e-9


def test_repetition_features_short_docs_never_raise(spark):
    """r7 advice (high): sequence(1, greatest(size(toks)-1, 0)) steps
    DOWNWARD to [1, 0] on <2-token docs, and element_at(toks, 0) then
    throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT. Empty-string / one-token /
    punctuation-only docs must produce defined zero features instead."""
    from toymapreduce_go_spark.operators.textstats import (
        repetition_features, repetition_quality)

    docs = spark.createDataFrame(
        [(1, "a", ""),                      # empty string: 0 tokens
         (2, "a", "solo"),                  # exactly one token
         (3, "a", "..!!.."),                # punctuation-only: 0 tokens
         (4, "a", None),                    # null text
         (5, "b", "two words"),             # minimal bigram-bearing doc
         (6, "b", "spam spam spam spam"),   # genuine repetition
         (7, "b", "The the"),               # case folds to one token
         (8, "c", " \t  "),                 # whitespace-only: 0 tokens
         (9, "c", "!!solo!!")],             # one token among punctuation
        "doc_id long, source string, text string")
    rows = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    for short_id in (1, 2, 3, 4, 8, 9):
        assert rows[short_id]["n_bigrams"] == 0
        assert rows[short_id]["top_bigram_frac"] == 0.0
        assert rows[short_id]["dup_word_frac"] == 0.0
    assert rows[5]["n_bigrams"] == 1
    assert rows[5]["top_bigram_frac"] == 1.0
    assert rows[6]["dup_word_frac"] == 0.75
    assert rows[7]["dup_word_frac"] == 0.5
    assert rows[7]["top_bigram_frac"] == 1.0
    # and the rollup (the declared query + pipeline gate) stays defined
    agg = {r["source"]: r for r in repetition_quality(docs).collect()}
    assert agg["a"]["n_docs"] == 4 and agg["a"]["n_flagged"] == 0


def _repetition_reference(text):
    """(n_tok, n_bigrams, dup_word_frac, top_bigram_frac) in plain
    Python: lowercased letter-run tokens, the most frequent bigram's
    count by Counter, Spark's round(x, 4) (HALF_UP on the decimal
    form of the double)."""
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def r4(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                               ROUND_HALF_UP))

    if text is None:
        return None, 0, 0.0, 0.0
    toks = [t.lower() for t in re.split("[^a-zA-Z]+", text) if t]
    n_bigrams = max(len(toks) - 1, 0)
    dup = r4(1.0 - len(set(toks)) / len(toks)) if toks else 0.0
    top = (r4(max(Counter(zip(toks, toks[1:])).values()) / n_bigrams)
           if n_bigrams else 0.0)
    return len(toks), n_bigrams, dup, top


def test_repetition_features_match_python_reference(spark):
    """The one-projection kernel (top bigram = longest run of equal
    neighbours in the sorted bigram array) equals a Counter-based
    reference on docs built to break a run scan: tied top bigrams, the
    longest run first or last in sort order, case folding, and 0/1
    token, null and punctuation-only text."""
    import random

    from toymapreduce_go_spark.operators.textstats import (
        repetition_features)

    rng = random.Random(7)
    texts = [
        "a b a b c d c d",             # two bigrams tied for the top
        "x y z zz zz zz zz",           # longest run sorts last
        "aa aa aa b",                  # longest run sorts first
        "q q q q r s r s",             # a run of 3 before a tie of 2s
        "The the THE tHe",             # case folding: one bigram x3
        "Ab cD ab CD",                 # mixed case folds to "ab cd" x2
        "", "solo", None, "..!!..", "it's", "one, two",
        " ".join(rng.choice(["lo", "Lo", "mid", "hi", "x"])
                 for _ in range(300)),
        " ".join(f"w{i % 7}" * (i % 3 + 1) for i in range(101)),
    ]
    docs = spark.createDataFrame(
        [(i, "s", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string")
    got = {r["doc_id"]: (r["n_tok"], r["n_bigrams"], r["dup_word_frac"],
                         r["top_bigram_frac"])
           for r in repetition_features(docs).collect()}
    assert got == {i: _repetition_reference(t) for i, t in enumerate(texts)}


def test_source_mix_weights_math(spark):
    """Temperature alpha=0.5 math on known counts: weights ∝ sqrt(n),
    sum to ~1, and small sources get boost > 1, large ones < 1."""
    from toymapreduce_go_spark.operators.textstats import source_mix_weights

    docs = spark.createDataFrame(
        [(i, "big" if i < 90 else "small", "t") for i in range(100)],
        "doc_id long, source string, text string")
    rows = {r["source"]: r for r in source_mix_weights(docs).collect()}
    # sqrt(90)=9.4868, sqrt(10)=3.1623 -> weights .7500/.2500 (scaled)
    assert abs(rows["big"]["weight"] + rows["small"]["weight"] - 1.0) < 1e-6
    assert abs(rows["big"]["weight"] - 0.75) < 0.01
    assert rows["small"]["boost"] > 1.0 > rows["big"]["boost"]
    # natural-share sanity: boost == weight / (n/total)
    assert abs(rows["small"]["boost"]
               - rows["small"]["weight"] / 0.1) < 0.01


def test_lm_surprisal_ranks_gibberish_above_typical_text(spark):
    """CCNet-style sanity: a doc made of corpus-rare tokens must score
    a higher mean NLL than docs built from the corpus's common tokens,
    and repeating a common phrase lowers surprisal."""
    from toymapreduce_go_spark.operators.textstats import (lm_quality,
                                                           unigram_doc_nll)

    common = "the cat sat on the mat and the dog sat too"
    docs = spark.createDataFrame(
        [(1, "a", common), (2, "a", common), (3, "a", common),
         (4, "a", "the cat and the dog sat on the mat"),
         (5, "b", "qzxv jkwp vbnm xyzzy plugh qwerty zxcvb")],
        "doc_id long, source string, text string")
    nll = {r["doc_id"]: r["nll"]
           for r in unigram_doc_nll(docs).collect()}
    assert nll[5] > nll[4] > 0
    assert nll[5] > nll[1]
    rollup = {r["source"]: r for r in lm_quality(docs).collect()}
    assert rollup["b"]["avg_nll"] > rollup["a"]["avg_nll"]
    assert rollup["a"]["n_docs"] == 4 and rollup["b"]["n_docs"] == 1
    assert rollup["a"]["min_nll"] <= rollup["a"]["max_nll"]


def test_epoch_sample_applies_temperature_quotas(spark):
    """The materialized epoch must honor the mix: the small source is
    sampled at a HIGHER fraction than the large one (alpha<1 upweights
    it), quotas cap at source size, and the sample is deterministic."""
    from toymapreduce_go_spark.operators.textstats import epoch_sample_stats

    docs = spark.createDataFrame(
        [(i, "big" if i < 90 else "small", "t") for i in range(100)],
        "doc_id long, source string, text string")
    rows = {r["source"]: r for r in epoch_sample_stats(docs).collect()}
    assert rows["big"]["n_sampled"] == rows["big"]["quota"]
    assert rows["small"]["n_sampled"] == rows["small"]["quota"]
    frac_big = rows["big"]["n_sampled"] / rows["big"]["n_docs"]
    frac_small = rows["small"]["n_sampled"] / rows["small"]["n_docs"]
    assert frac_small > frac_big
    # the small source's quota saturates at its full size (the boost
    # can't sample more docs than exist), so the total lands somewhat
    # UNDER epoch_frac x corpus — that shortfall is correct behavior
    assert rows["small"]["n_sampled"] == rows["small"]["n_docs"] == 10
    total = rows["big"]["n_sampled"] + rows["small"]["n_sampled"]
    assert 44 <= total <= 52
    again = {r["source"]: r["sampled_id_sum"]
             for r in epoch_sample_stats(docs).collect()}
    assert again == {s: r["sampled_id_sum"] for s, r in rows.items()}


def test_bigram_lm_detects_scrambled_word_order(spark):
    """The whole point of the bigram tier: a doc with the SAME words in
    scrambled order must score higher bigram NLL than the naturally-
    ordered docs it was scrambled from, while the unigram model — bag
    of words — scores them (near-)identically."""
    from toymapreduce_go_spark.operators.textstats import (bigram_doc_nll,
                                                           unigram_doc_nll)

    nat = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, "a", nat), (2, "a", nat), (3, "a", nat), (4, "a", nat),
         (5, "a", "dog the lazy over jumps fox brown quick the")],
        "doc_id long, source string, text string")
    bi = {r["doc_id"]: r["nll"] for r in bigram_doc_nll(docs).collect()}
    uni = {r["doc_id"]: r["nll"] for r in unigram_doc_nll(docs).collect()}
    assert bi[5] > bi[1] + 0.5, (bi[5], bi[1])   # sequence anomaly seen
    assert abs(uni[5] - uni[1]) < 1e-9           # bag-of-words blind


def test_ccnet_buckets_tertiles_and_quality_direction(spark):
    """CCNet split semantics: tertile sizes are exact (ties aside),
    every doc lands in exactly one bucket, and planted gibberish —
    maximally surprising under the corpus LM — lands in the TAIL while
    repetitive common-word docs land in the HEAD."""
    from toymapreduce_go_spark.operators.textstats import \
        ccnet_bucket_stats

    common = "the cat sat on the mat and the dog ran to the house "
    rows = [(i, "normal", common * 3) for i in range(30)]
    rows += [(100 + i, "gibberish",
              f"zqxj{i} vwkpf{i * 7} bgtrm{i * 13} xyzzy{i * 31} "
              f"qqwop{i * 3} zzkkr{i * 11}") for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in ccnet_bucket_stats(docs).collect()}
    for r in out.values():
        assert r["n_head"] + r["n_middle"] + r["n_tail"] == r["n_docs"]
    # the 30 identical common-word docs share one (lowest) NLL score ->
    # the head cutoff lands inside them; all gibberish is in the tail
    assert out["gibberish"]["n_tail"] == 10
    assert out["gibberish"]["n_head"] == 0
    assert out["normal"]["n_tail"] == 0


def test_training_shards_cover_and_balance(spark):
    """Shard assignment invariants: every doc in exactly one shard
    (sizes sum to corpus), checksums partition the id space, the lead
    doc really is the shard's md5-minimum, and the spread is hash-like
    (no empty shard at 500 docs over 64 shards would be suspicious,
    but a few are statistically fine — assert occupancy > 70%)."""
    import hashlib

    from conftest import SF_DIR
    from toymapreduce_go_spark.operators.textstats import \
        training_shard_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = training_shard_stats(docs).collect()
    n = docs.count()
    assert sum(r["n_docs"] for r in out) == n
    assert sum(r["id_sum"] for r in out) == \
        docs.agg({"doc_id": "sum"}).collect()[0][0]
    assert len(out) >= 0.7 * 64
    # independent lead check for a few shards
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    by_shard = {}
    for i in ids:
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        s = h % 64
        if s not in by_shard or h < by_shard[s][0]:
            by_shard[s] = (h, i)
    for r in out[:10]:
        assert r["lead_doc_id"] == by_shard[r["shard"]][1]


def test_dataset_split_partitions_corpus_and_matches_reference(spark):
    """Split invariants on the real fixture: the three splits partition
    the corpus exactly (doc counts and id-sum checksums both sum to the
    whole), and the assignment matches an independent Python md5
    recomputation doc-for-doc."""
    import hashlib

    from toymapreduce_go_spark.operators.textstats import \
        dataset_split_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dataset_split_stats(docs).collect()
    n = docs.count()
    assert sum(r["n_docs"] for r in out) == n
    assert sum(r["id_sum"] for r in out) == \
        docs.agg({"doc_id": "sum"}).collect()[0][0]
    # independent per-doc recomputation of the content-hash buckets
    want = {"train": 0, "val": 0, "test": 0}
    for r in docs.select("text").collect():
        h = int(hashlib.md5((r["text"] or "").encode()).hexdigest()[:15],
                16)
        b = h % 100
        want["test" if b < 1 else "val" if b < 2 else "train"] += 1
    got = {"train": 0, "val": 0, "test": 0}
    for r in out:
        got[r["split"]] += r["n_docs"]
    assert got == want


def test_dataset_split_duplicate_text_never_straddles_holdout(spark):
    """The leakage contract the content key exists for: byte-identical
    documents (different doc_ids, different sources) always land in the
    SAME split — construct many duplicate groups and check each is
    split-pure."""
    from toymapreduce_go_spark.operators.textstats import \
        dataset_split_stats

    rows = []
    for g in range(40):                     # 40 dup groups × 3 copies
        text = f"duplicate group {g} body text shared across copies"
        for c in range(3):
            rows.append((g * 3 + c, f"src_{c}", text))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string")
    # Certify purity from the OPERATOR'S output alone (no re-derived
    # split expression, which would be tautologically pure): each text
    # has exactly one copy per source, so a content-keyed split makes
    # the three sources' per-split stats symmetric. A doc_id- (or
    # source-) keyed split scatters a group's copies and breaks this.
    out = dataset_split_stats(docs).collect()
    assert sum(r["n_docs"] for r in out) == 120
    cells = {(r["source"], r["split"]): r for r in out}
    splits = {r["split"] for r in out}
    for s in splits:
        per_src = [cells.get((f"src_{c}", s)) for c in range(3)]
        # split-pure groups put ONE copy per source into each split...
        counts = {0 if r is None else r["n_docs"] for r in per_src}
        assert len(counts) == 1, (s, per_src)
        n = counts.pop()
        if n == 0:
            continue
        # ...and copy c of group g is doc_id 3g+c, so each source's
        # id_sum exceeds the previous source's by exactly one per group
        # — this certifies the same GROUPS landed in the split, not
        # just the same number of docs
        assert per_src[1]["id_sum"] - per_src[0]["id_sum"] == n, (s, per_src)
        assert per_src[2]["id_sum"] - per_src[1]["id_sum"] == n, (s, per_src)


def test_dataset_split_validates_percents():
    from toymapreduce_go_spark.operators.textstats import \
        dataset_split_stats

    with pytest.raises(ValueError):
        dataset_split_stats(None, val_pct=60, test_pct=60)
    with pytest.raises(ValueError):
        dataset_split_stats(None, val_pct=-1)
