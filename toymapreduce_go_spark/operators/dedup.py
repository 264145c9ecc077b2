"""Deduplication family for LLM training-data pipelines (north star;
SURVEY.md §2c last row, §2d #13-14).

Five strategies, cheapest-first — the order a real 100 TB pipeline runs
them:

1. exact (sha2 of normalized text)         — one shuffle on the hash
2. n-gram Jaccard — exact set Jaccard verified on LSH-band candidates
   (the declared scale path since r7); full shingle-self-join exact
   tier via ``candidates="all"`` for small corpora / verification
3. MinHash + LSH banding                   — the scale path for near-dup
4. SimHash (Hamming buckets)               — cheap complement to MinHash
5. embedding cosine near-dup               — semantic dup, via LSH buckets

All hashing is deterministic built-ins (sha2/md5/xxhash64 with literal
seeds) — no RNG, so every run and every cluster size produces identical
output.
"""

from __future__ import annotations

import json
import os
from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens
from ..streaming.run import commit_batch, read_batches

# ---------------------------------------------------------------------------
# Shared persisted stages.
#
# Signature frames (MinHash sigs, SimHash codes) are slim — tens of bytes
# per doc vs the kilobytes of text they summarize — and every consumer
# re-derives them from the raw corpus: near_dedup_minhash references its
# sig frame three times in one plan (banding + two pair re-attaches), and
# simhash_buckets / simhash_hamming_pairs each recompute the same 60-vote
# aggregation. Spark evaluates each reference independently unless the
# frame is persisted, so without this the corpus is tokenized and hashed
# 3-5x per query family. At 100 TB the persisted frame is ~0.5 KB/doc —
# MEMORY_AND_DISK across the cluster, exactly what a production pipeline
# checkpoints between dedup stages. Keyed by the ANALYZED plan's semantic
# hash (stable across identical load_table calls, distinct for different
# corpora/parameters) + application id (a dead session's handles must not
# leak into a new one); bounded LRU so test corpora don't accumulate.

_PERSIST_CACHE: OrderedDict[tuple, DataFrame] = OrderedDict()
_PERSIST_CACHE_MAX = 8


def persist_shared(df: DataFrame) -> DataFrame:
    """Return a session-scoped persisted handle for ``df``, reusing one
    materialization across every plan (and repeated query invocation)
    with a semantically identical subtree."""
    import hashlib

    from pyspark import StorageLevel

    # Three key components, each covering a distinct collision class:
    # - sha256 of the canonicalized plan's JSON separates different plan
    #   SHAPES exactly (toString() truncates wide node arg lists at
    #   spark.sql.debug.maxToStringFields — e.g. a 60-expression SimHash
    #   vote Aggregate — so it can't). It does NOT separate same-shape
    #   plans over different parquet paths: canonicalized().toJSON()
    #   serializes the HadoopFsRelation field as null (observed on
    #   PySpark 4.1.2), so two corpora with identical schemas yield
    #   byte-identical JSON.
    # - sha256 of the sorted input file list covers exactly that
    #   path-only difference (and a corpus whose files changed between
    #   calls within one session). Collected from the ANALYZED plan's
    #   leaf FileIndexes, NOT df.inputFiles(): inputFiles() reads the
    #   optimized plan, where the cache manager substitutes
    #   InMemoryRelation once a matching frame is persisted — every
    #   re-read after the first would key on an empty file list and
    #   miss (or worse, all corpora would collide on "no files").
    # - the 32-bit semanticHash is belt-and-braces over both.
    analyzed = df._jdf.queryExecution().analyzed()
    leaves = analyzed.collectLeaves()
    files: list[str] = []
    for i in range(leaves.size()):
        try:  # non-file leaves (local relations, views) carry no paths
            files.extend(leaves.apply(i).relation().location().inputFiles())
        except Exception:
            pass
    key = (df.sparkSession.sparkContext.applicationId,
           hashlib.sha256(analyzed.canonicalized().toJSON().encode())
           .hexdigest(),
           hashlib.sha256("\0".join(sorted(files)).encode()).hexdigest(),
           df.semanticHash())
    hit = _PERSIST_CACHE.get(key)
    if hit is not None:
        _PERSIST_CACHE.move_to_end(key)
        return hit
    p = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSIST_CACHE[key] = p
    while len(_PERSIST_CACHE) > _PERSIST_CACHE_MAX:
        _, old = _PERSIST_CACHE.popitem(last=False)
        try:  # unpersist only drops cached blocks; plans stay correct
            old.unpersist()
        except Exception:
            pass
    return p

# ---------------------------------------------------------------------------
# 1. Exact dedup


def exact_dedup_survivors(documents: DataFrame) -> DataFrame:
    """Exact dedup by sha2-256 of the raw text; survivor = min doc_id per
    hash (deterministic). Returns per-source survivor/duplicate counts.

    Scale: groupBy on a 256-bit hash is perfectly uniform — no skew — and
    the map-side partial agg reduces each partition to its distinct hashes
    before the shuffle.
    """
    hashed = documents.select(
        "doc_id", "source", F.sha2(F.col("text"), 256).alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    marked = hashed.withColumn("rn", F.row_number().over(w))
    return (
        marked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_survivors"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_duplicates"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# 2. N-gram Jaccard (exact pairwise over shingle join — oracle-checkable)


def _shingle_hashes(df: DataFrame, n: int,
                    key: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """(*key, h0s array<bigint>) — 64-bit shingle fingerprints per doc,
    one array entry per shingle position, all map-side: each token is
    hashed once, a shingle's fingerprint combines its n token hashes (no
    shingle strings are ever materialized). Shared by MinHash (folds mins
    over the multiset) and exact Jaccard (array_distinct for set
    semantics). Each pass is projected in its own select so Catalyst
    never duplicates the previous one."""
    toks = (df.select(*key, tokens("text").alias("toks"))
            .filter(F.size("toks") >= n))
    th = toks.select(
        *key, F.transform("toks", lambda t: F.xxhash64(t)).alias("th"))
    return th.select(
        *key,
        F.transform(
            F.sequence(F.lit(1), F.size("th") - (n - 1)),
            lambda i: F.xxhash64(*[F.element_at("th", i + j)
                                   for j in range(n)]),
        ).alias("h0s"))


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3,
                        threshold: float = 0.5,
                        max_doc_freq: int | None = None,
                        candidates: str = "lsh") -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle sets; emit doc
    pairs ≥ threshold. Two candidate-generation tiers (round-7: the r6
    verdict's one scale-grower, fixed by composing the two existing
    pipelines):

    - ``candidates="lsh"`` (declared, the scale path): candidate pairs
      come from the SAME MinHash-LSH banding ``near_dedup_minhash`` uses
      (16 bands × 4 rows, portable signatures so the DuckDB oracle
      reproduces them), then exact set Jaccard is computed only on those
      candidates via one array_intersect per pair. Cost is O(docs ×
      bands) banding + O(candidates) verification — flat per data
      decade (SCALE.md), vs 6.7× for the shingle self-join. Semantics:
      a pair appears iff some band collides AND exact Jaccard ≥
      threshold; at the 0.5 threshold banding catches a true-J pair
      with prob 1−(1−J⁴)¹⁶ (≈ 1 for the planted near-dups, which sit
      well above 0.5 — measured identical output to the exact tier on
      all fixtures, pinned by ``test_ngram_lsh_tier_matches_exact``).

    - ``candidates="all"`` (exact tier): the shingle self-join — only
      docs sharing a shingle ever meet, never a crossJoin — then
      |A∩B| / (|A|+|B|−|A∩B|). Recall 1.0 by construction; grows with
      shingle document frequency, so it's the small-corpus /
      verification tier. ``max_doc_freq`` is its skew guard: a shingle
      appearing in f docs contributes f² join rows, so dropping
      shingles with document frequency above the cap bounds every join
      key's fan-out (standard winnowing-style approximation).

    Shingles are represented by 64-bit fingerprints (`_shingle_hashes`):
    the per-doc set is `array_distinct` map-side — (doc_id, fp) is then
    globally distinct by construction, so set semantics cost NO shuffle —
    and joins move 8-byte keys instead of n-word strings. Jaccard over
    fingerprints equals Jaccard over shingles absent a 64-bit collision
    inside a candidate pair (odds ~s²/2⁶⁴ for s shared shingles; the
    fixed fixtures are verified collision-free by the DuckDB
    string-shingle oracle).
    """
    if candidates == "lsh":
        pairs, _sig = minhash_band_pairs(documents, n=n, portable=True)
        fpsets = persist_shared(_shingle_hashes(documents, n).select(
            "doc_id", F.array_distinct("h0s").alias("fps")))
        joined = (
            pairs
            .join(fpsets.select(F.col("doc_id").alias("doc_a"),
                                F.col("fps").alias("fps_a")), "doc_a")
            .join(fpsets.select(F.col("doc_id").alias("doc_b"),
                                F.col("fps").alias("fps_b")), "doc_b")
        )
        inter = F.size(F.array_intersect("fps_a", "fps_b"))
        return (
            joined.withColumn(
                "jaccard",
                F.round(inter / (F.size("fps_a") + F.size("fps_b") - inter),
                        4))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
            .orderBy("doc_a", "doc_b")
        )
    fpsets = _shingle_hashes(documents, n).select(
        "doc_id", F.array_distinct("h0s").alias("fps"))
    # explode_outer, NOT explode: plain explode plants an implicit
    # `size(fps) > 0` filter that predicate-pushdown inlines below the
    # projections — the whole tokenize/hash/distinct pipeline gets
    # re-evaluated inside the filter with the token-hash array expanded
    # per element (measured 10s vs 0.6s at sf0.1). The outer variant
    # generates no filter; empty docs are already gone (size >= n guard).
    # persist the slim (doc_id, fp) frame: it feeds BOTH sides of the
    # self-join AND the per-doc set sizes — unpersisted, Spark would
    # re-run the tokenize/hash/distinct pipeline three times.
    sh = persist_shared(
        fpsets.select("doc_id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull()))
    if max_doc_freq is not None:
        df_counts = sh.groupBy("fp").agg(
            F.count(F.lit(1)).alias("_df"))
        sh = (sh.join(df_counts.filter(F.col("_df") <= max_doc_freq)
                      .select("fp"), "fp"))
    # fps is distinct per doc, so the row count per doc IS the set size
    # (post-cap in the guarded branch, where pruned sets are the
    # semantics) — derived from the persisted frame, not a re-tokenize.
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# 3. MinHash + LSH


N_HASHES = 64
N_BANDS = 16  # 16 bands × 4 rows → s-curve threshold ≈ (1/16)^(1/4) ≈ 0.5


def minhash_signatures(documents: DataFrame, n: int = 3,
                       n_hashes: int = N_HASHES,
                       key: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """(*key, sig array<bigint>) MinHash signatures over word n-gram
    shingles; ``key`` names the input columns each signature row
    carries (the streaming tier carries ``source`` next to doc_id, so
    it never joins the signatures back to the batch). Permutation i is
    simulated by xxhash64(i, shingle_hash) (seeded, deterministic — no
    RNG, unlike spark.ml's MinHashLSH whose coefficients depend on a
    random seed).

    Plan shape: SHUFFLE-FREE — the whole signature is a per-row projection
    over the scan. Each token is hashed once; shingle hash ``h0`` combines
    the n token hashes (never materializing shingle strings); permutation
    i re-hashes the 64-bit value with seed i and ``array_min`` folds each
    permutation map-side. min over the position multiset equals min over
    the shingle set, so no distinct is needed either. At 100 TB this is
    exactly the shape you want: signatures stream out of the scan stage
    and the only shuffle in the whole near-dup pipeline is the LSH bucket
    join. (Each intermediate array is projected in its own select so
    Catalyst never duplicates the token-hash pass per permutation.)"""
    h0 = _shingle_hashes(documents, n, key)
    # ONE parsed expression for the whole signature array (the r14
    # driver-side rule: n_hashes separate F.transform lambdas cost a
    # py4j round trip per Column op; the identical tree parses from
    # text in ~2 ms). Same xxhash64(seed, h) per permutation.
    perms = ",".join(
        f"array_min(transform(h0s, h -> xxhash64({i}, h)))"
        for i in range(n_hashes))
    return h0.select(*key, F.expr(f"array({perms})").alias("sig"))


MINHASH_PRIME = 2147483647  # 2^31 - 1, the classic universal-hash modulus


def minhash_perm_params(n_hashes: int = N_HASHES) -> list[tuple[int, int]]:
    """Seeded (a, b) coefficients for the portable linear permutations
    h_i(x) = (a_i·x + b_i) mod p. Deterministic: the same literals are
    inlined into the Spark plan and the generated DuckDB oracle SQL."""
    import random

    rng = random.Random(0x5EED)
    return [(rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
            for _ in range(n_hashes)]


def minhash_signatures_portable(documents: DataFrame, n: int = 3,
                                n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, sig) MinHash signatures both engines can compute bit-for-
    bit: shingle → 32-bit md5-derived hash, reduced mod p = 2³¹−1, then
    permutation i = (a_i·x + b_i) mod p with seeded literal coefficients
    (``minhash_perm_params``). Still a shuffle-free scan projection like
    the xxhash64 production variant — and the per-permutation work is a
    multiply-add-mod instead of a re-hash. Bounds: x, a < 2³¹ so a·x+b
    < 2⁶² never overflows a long; min over the position multiset equals
    min over the shingle set because the permutation is per-element."""
    toks = (documents.select("doc_id", tokens("text").alias("toks"))
            .filter(F.size("toks") >= n))
    shingle = "concat_ws(' ', " + ", ".join(
        f"element_at(toks, i + {j})" for j in range(n)) + ")"
    xs = toks.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(toks) - {n - 1}), i -> "
            f"cast(conv(substring(md5({shingle}), 1, 8), 16, 10) as bigint)"
            f" % {MINHASH_PRIME}L)").alias("xs"))

    # The 64-permutation array is built as ONE parsed expression, not 64
    # F.transform lambdas: each Python-side Column op is a py4j round
    # trip, and 64 × (transform + array_min + mul/add/mod) cost ~0.8 s
    # of pure driver time per construction (r14 measurement) — the same
    # Catalyst tree parses from text in ~2 ms. Arithmetic is unchanged
    # ((x·a + b) % p over bigints), so signatures stay bit-identical.
    perms = ",".join(
        f"array_min(transform(xs, x -> (x * {a}L + {b}L) % "
        f"{MINHASH_PRIME}L))"
        for a, b in minhash_perm_params(n_hashes))
    return xs.select("doc_id", F.expr(f"array({perms})").alias("sig"))


def _banded(sig: DataFrame, band_key_sql, n_bands: int) -> DataFrame:
    """Explode a signature frame into (doc_id, band_id, band_hash) rows —
    one explode, band-key expressions evaluated inside the same
    projection (no per-band passes over the signature array).
    ``band_key_sql(b)`` returns the band-b key as SQL TEXT: the whole
    array-of-structs is one F.expr parse instead of ~10 py4j Column ops
    per band (the r14 driver-side construction rule)."""
    structs = ",".join(
        f"named_struct('band_id', {b}, 'band_hash', {band_key_sql(b)})"
        for b in range(n_bands))
    return sig.select(
        "doc_id",
        F.expr(f"explode(array({structs}))").alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")


def band_rows(sig: DataFrame, n_hashes: int = N_HASHES,
              n_bands: int = N_BANDS) -> DataFrame:
    """Production band rows (xxhash64 over each signature slice — the 8-
    byte bucket key that keeps the bucket-join shuffle narrow). Shared by
    the batch LSH pipelines (`minhash_band_pairs`) and the streaming
    incremental-dedup tier (`streaming/dedup_stream.py`), so both tiers
    agree bit-for-bit on what a candidate bucket is."""
    rows_per_band = n_hashes // n_bands

    def band_key_sql(b: int) -> str:
        cols = ",".join(f"sig[{b * rows_per_band + r}]"
                        for r in range(rows_per_band))
        return f"xxhash64({cols})"

    return _banded(sig, band_key_sql, n_bands)


def portable_band_rows(sig: DataFrame, n_hashes: int = N_HASHES,
                       n_bands: int = N_BANDS) -> DataFrame:
    """Portable band rows: exact slice-tuple equality as a CSV string —
    the form the DuckDB oracle replays with ``array_to_string`` —
    collision-free by construction (the production ``band_rows`` hashes
    to 8 bytes instead to keep the bucket-join shuffle narrow). The ONE
    definition shared by ``minhash_band_pairs(portable=True)`` and the
    archive band index (``prior_band_index``, ``write_prior_index``,
    ``near_dedup_vs_index``), so the banding stays bit-identical across
    all of them and the generated oracles."""
    rows_per_band = n_hashes // n_bands

    def band_key_sql(b: int) -> str:
        cols = ",".join(f"cast(sig[{b * rows_per_band + r}] as string)"
                        for r in range(rows_per_band))
        return f"concat_ws(',', {cols})"

    return _banded(sig, band_key_sql, n_bands)


def minhash_band_pairs(documents: DataFrame, n: int = 3,
                       n_hashes: int = N_HASHES,
                       n_bands: int = N_BANDS,
                       max_bucket_size: int | None = None,
                       portable: bool = False
                       ) -> tuple[DataFrame, DataFrame]:
    """LSH banding candidate generation, shared by ``near_dedup_minhash``
    and the LSH-candidate tier of ``ngram_jaccard_pairs``: band the
    signature, bucket-join on (band_id, band_hash), return the distinct
    (doc_a, doc_b) candidate pairs plus the persisted per-doc signature
    frame (so callers can re-attach signatures without recomputing).

    ``max_bucket_size`` is the skew guard: each (band_id, band_hash)
    bucket keeps only its ``max_bucket_size`` lowest doc_ids for the
    self-join, bounding every join key's fan-out at cap² pairs. Recall
    is preserved explicitly, not by luck: capped-away rows (row_number
    > cap) are joined back to their bucket's rank-1 representative (the
    min doc_id — the dedup survivor), so EVERY member of a giant
    identical cluster still emits a pair with the survivor. That extra
    join is linear in the bucket (each dropped row meets exactly one
    representative row per band), so the hot key costs O(bucket log
    bucket) for the window + O(bucket) pairs instead of O(bucket²).
    """
    if portable:
        sig = persist_shared(minhash_signatures_portable(documents, n, n_hashes))
        banded = portable_band_rows(sig, n_hashes, n_bands)
    else:
        sig = persist_shared(minhash_signatures(documents, n, n_hashes))
        banded = band_rows(sig, n_hashes, n_bands)
    # Band rows carry ONLY (doc_id, band_id, band_hash): the 64-long
    # signature array never rides the self-join / pair-dedup shuffles
    # (that tripled shuffle bytes); signatures re-attach afterwards from
    # the per-doc sig table, which is corpus-sized, not pair-sized.
    dropped_pairs = None
    if max_bucket_size is not None:
        wb = Window.partitionBy("band_id", "band_hash").orderBy("doc_id")
        ranked = banded.withColumn("_bn", F.row_number().over(wb))
        rep = (ranked.filter(F.col("_bn") == 1)
               .select("band_id", "band_hash",
                       F.col("doc_id").alias("rep_id")))
        # rep_id < doc_id by construction (rep is rank 1, dropped rn > 1)
        dropped_pairs = (
            ranked.filter(F.col("_bn") > max_bucket_size)
            .join(rep, ["band_id", "band_hash"])
            .select(F.col("rep_id").alias("doc_a"),
                    F.col("doc_id").alias("doc_b")))
        banded = ranked.filter(F.col("_bn") <= max_bucket_size).drop("_bn")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    if dropped_pairs is not None:
        pairs = pairs.unionByName(dropped_pairs)
    return pairs.dropDuplicates(["doc_a", "doc_b"]), sig


def est_jaccard_expr(sig_a: str = "sig_a", sig_b: str = "sig_b",
                     n_hashes: int = N_HASHES) -> F.Column:
    """Estimated Jaccard between two minhash signature columns: the
    fraction of agreeing positions. Shared by the batch near-dup filter
    and the streaming tier's candidate verification so both tiers apply
    the identical estimate (JVM-side higher-order functions, no Python)."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b,
                   lambda x, y: F.when(x == y, 1.0).otherwise(0.0)),
        F.lit(0.0), lambda acc, x: acc + x,
    ) / F.lit(float(n_hashes))


def near_dedup_minhash(documents: DataFrame, n: int = 3,
                       threshold: float = 0.5,
                       n_hashes: int = N_HASHES,
                       n_bands: int = N_BANDS,
                       max_bucket_size: int | None = None,
                       portable: bool = False) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: band the signature, bucket-join on
    (band_id, band_hash), then estimate Jaccard as fraction of agreeing
    minhashes; keep pairs ≥ threshold.

    This is the 100 TB path: cost is O(docs × bands) rows into one
    bucket-join shuffle — never pairwise. Bucket sizes are bounded in
    practice (identical band-hash = near-identical docs), EXCEPT for
    degenerate corpora: a giant cluster of identical/boilerplate documents
    puts all its members in the same bucket of every band, and the bucket
    join goes quadratic on that one key — SURVEY.md §4's "one hot key =
    one slow reduce group" in LSH clothing. ``max_bucket_size`` (see
    ``minhash_band_pairs``) is the skew guard; off (None) for the
    declared query so the estimate stays exact.
    """
    pairs, sig = minhash_band_pairs(documents, n, n_hashes, n_bands,
                                    max_bucket_size, portable)
    cand = (
        pairs
        .join(sig.select(F.col("doc_id").alias("doc_a"),
                         F.col("sig").alias("sig_a")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"),
                         F.col("sig").alias("sig_b")), "doc_b")
    )
    raw = est_jaccard_expr("sig_a", "sig_b", n_hashes)
    # k/n_hashes with n_hashes a power of two is an exact dyadic double —
    # both engines produce bit-identical values, so the portable declared
    # query needs (and must have) NO rounding for its value-hash oracle.
    est = cand.withColumn(
        "est_jaccard", raw if portable else F.round(raw, 4))
    return (
        est.filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b")
    )


def near_dedup_minhash_portable(documents: DataFrame) -> DataFrame:
    """Declared variant: portable md5-mod-p signatures with literal (a,b)
    permutation coefficients, so the generated DuckDB oracle
    (``plans.queries._minhash_oracle_sql``) computes bit-identical
    signatures, pairs, and agreement fractions."""
    return near_dedup_minhash(documents, portable=True)


# ---------------------------------------------------------------------------
# 4. SimHash


SIMHASH_BITS = 60


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash) 60-bit SimHash per doc over its token multiset.

    simhash bit j = sign of Σ_tokens (±1 depending on bit j of the token
    hash). Entirely JVM-side: per-doc token explode → 60 codegen'd
    ±1-vote sum aggregates with map-side partials — no arrays or
    collect_list on the shuffle. Token hashes are 60-bit md5 prefixes
    that DuckDB computes identically (('0x'||substr(md5,1,15))::BIGINT),
    so the simhash queries get real value-hash oracles.
    """
    th = F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast("long")
    tok = documents.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    ).select("doc_id", th.alias("th"))
    # The per-bit vote aggregates and the sign-fold mask are built as
    # parsed SQL text: 60 separate Column chains cost ~7 py4j round
    # trips each (~1.3 s of pure driver time per construction, r14
    # measurement) for a tree that parses from text in ~2 ms.
    # Semantics unchanged: vote j = Σ ±1 on bit j of the token hash,
    # simhash = OR of 1<<j where the vote is positive.
    votes = tok.groupBy("doc_id").agg(*[
        F.expr(f"sum(CASE WHEN (shiftright(th, {j}) & 1) = 1 "
               f"THEN 1 ELSE -1 END) AS v{j}")
        for j in range(SIMHASH_BITS)
    ])
    simhash_sql = " | ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j}L ELSE 0L END)"
        for j in range(SIMHASH_BITS))
    # One persisted (doc_id, simhash) frame serves simhash_buckets AND
    # simhash_hamming_pairs (and the hamming self-join's two sides): the
    # 60-aggregate vote pass — the family's dominant cost — runs once
    # per corpus, not once per consumer.
    return persist_shared(votes.select(
        "doc_id", F.expr(simhash_sql).alias("simhash")))


def simhash_buckets(documents: DataFrame) -> DataFrame:
    """SimHash bucket sizes: docs sharing a simhash are near-identical
    (full DuckDB oracle); Hamming-≤k neighbor search is
    ``simhash_hamming_pairs``."""
    return (
        simhash_signatures(documents).groupBy("simhash").agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("simhash")
    )


def hamming_block_width(bits: int, max_hamming: int,
                        n_blocks: int | None = None) -> int:
    """Validate the pigeonhole decomposition — ``n_blocks`` equal
    blocks (default max_hamming+1) must tile the signature exactly and
    leave at least one clean block per qualifying pair — and return the
    block width in bits. Callers with an expensive signature stage
    (image decode) run this BEFORE building the signature frame so bad
    arguments fail fast."""
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks={n_blocks} must exceed max_hamming={max_hamming} "
            "(pigeonhole needs at least one clean block)")
    if bits % n_blocks:
        raise ValueError(
            f"n_blocks={n_blocks} must divide the {bits}-bit "
            "signature into equal blocks")
    return bits // n_blocks


def hamming_block_pairs(sigs: DataFrame, sig_col: str, bits: int,
                        max_hamming: int,
                        n_blocks: int | None = None) -> DataFrame:
    """Pigeonhole block join over any packed-BIGINT signature column:
    all (doc_a, doc_b, hamming) pairs with Hamming distance ≤
    max_hamming. Split the signature into ``n_blocks`` equal bit-blocks
    (default max_hamming+1): d ≤ max_hamming differing bits spoil at
    most d blocks, so at least t = n_blocks − max_hamming blocks match
    exactly — join on every t-combination of block values (one packed
    BIGINT key per combination), then verify with bit_count(xor). EXACT
    at any valid (n_blocks, max_hamming): pigeonhole guarantees no
    false negatives, the verify filter removes false positives.

    Scale — ``n_blocks`` is THE collision-rate knob: with the default
    t=1 the join key carries bits/(max_hamming+1) bits, and a narrow
    key (image/video: 63 bits at k=6 → 9-bit blocks, 512 values) makes
    candidates grow as n²·(k+1)/2^(width+1) — measured 153M candidates
    at 150k docs. Raising n_blocks joins on t-combinations whose keys
    carry t·width bits: 9 blocks of 7 bits at k=6 → C(9,3)=84 keys of
    21 bits, candidates ∝ n²·84/2^22 — ~340× fewer — for an 84-row
    (tiny) explode per doc. This is the multi-table generalization in
    Manku et al.'s simhash dedup (WWW'07, §3). One helper serves the
    text tier (``simhash_hamming_pairs``) and the image/audio/video
    fingerprint tiers.
    """
    import itertools

    width = hamming_block_width(bits, max_hamming, n_blocks)
    if n_blocks is None:
        n_blocks = max_hamming + 1
    t = n_blocks - max_hamming
    block_mask = (1 << width) - 1

    def block_val_sql(b: int) -> str:
        return f"(shiftright({sig_col}, {b * width}) & {block_mask}L)"

    # one packed BIGINT key per t-combination of blocks:
    # combo_id · 2^(t·width) + v_b1 · 2^((t-1)·width) + ... + v_bt
    combos = list(itertools.combinations(range(n_blocks), t))
    if len(combos) > 512:
        raise ValueError(
            f"C({n_blocks},{t})={len(combos)} block combinations — the "
            "per-doc explode would dominate; choose n_blocks closer to "
            "max_hamming+1")
    key_bits = (len(combos) - 1).bit_length() + t * width
    if key_bits > 63:
        raise ValueError(
            f"packed bucket key needs {key_bits} bits (> 63); choose a "
            "smaller n_blocks")
    # the whole key array is ONE parsed expression: the image/video tier
    # runs C(9,3)=84 combos × t=3 shift/or chains — ~840 py4j Column ops
    # (~1.2 s of driver time per construction, r14 measurement) for a
    # tree that parses from text in ~3 ms
    keys = []
    for cid, combo in enumerate(combos):
        key = f"cast({cid} as bigint)"
        for b in combo:
            key = f"(shiftleft({key}, {width}) | {block_val_sql(b)})"
        keys.append(key)
    blocks = sigs.select(
        "doc_id", sig_col,
        F.expr(f"explode(array({','.join(keys)}))").alias("bucket_key"))
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (
        a.join(b, (F.col("a.bucket_key") == F.col("b.bucket_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col(f"a.{sig_col}").alias("sig_a"),
                F.col(f"b.{sig_col}").alias("sig_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def simhash_hamming_pairs(documents: DataFrame,
                          max_hamming: int = 2) -> DataFrame:
    """All doc pairs with SimHash Hamming distance ≤ max_hamming — the
    pigeonhole block join of ``hamming_block_pairs`` over the (shared,
    persisted) simhash signature frame."""
    return hamming_block_pairs(simhash_signatures(documents), "simhash",
                               SIMHASH_BITS, max_hamming)


# ---------------------------------------------------------------------------
# 5. Embedding cosine near-dup


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.4,
                       n_blocks: int = 8) -> DataFrame:
    """Semantic near-duplicate pairs: exact cosine ≥ threshold over every
    vector pair, computed as a *blocked* all-pairs (blocked GEMM):

    - each vector lands in block ``vec_id % n_blocks``;
    - the (bi ≤ bj) block-pair grid is joined so every unordered vector
      pair meets in exactly one group;
    - per group, an Arrow-batched ``applyInPandas`` does one numpy
      matmul over the (block × block) tile and emits only pairs above
      threshold.

    Scale: shuffle volume is n_blocks × corpus (each vector replicated to
    its row+column of the grid) and each tile is |corpus|/n_blocks wide —
    pick n_blocks so a tile's matrix fits executor memory; the quadratic
    work happens inside BLAS, never as a row-per-pair shuffle. This stays
    exact; for approximate-but-linear near-dup see ``ann_lsh``.

    Default threshold is 0.4 because the synthetic fixture's embeddings
    are near-orthogonal (max pairwise cosine ≈ 0.51 at sf0.01) — a real
    semantic-dedup run sets ~0.95.
    """
    import numpy as np
    import pandas as pd

    # pmod, not %: negative vec_ids (the pipeline's synthetic chunk ids)
    # must land IN the 0..n_blocks-1 grid the inline() sequences below
    # cover — a signed % gives a negative blk whose cross-block groups
    # get only one side, silently dropping those pairs (matches
    # semantic_dedup._cell_block_replicas).
    e = embeddings.select(
        "vec_id", "embedding",
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int").alias("blk"))
    # the (bi <= bj) grid is statically known from n_blocks, so each
    # vector's grid replicas — row side 'a' for every bj ≥ blk, column
    # side 'b' for every bi ≤ blk (the diagonal lands on both sides,
    # as the tile kernel expects) — are generated by ONE data-dependent
    # inline() over ONE scan. r14: this replaces two corpus-wide
    # distinct() aggregations, a crossJoin, two broadcast grid joins
    # and a two-scan union (plan: 6 parquet scans → 1, both
    # BroadcastNestedLoopJoins gone); with blk in [0, n_blocks) a block
    # with no vectors produced no grid group either way, so results are
    # identical to the former grid-join form.
    rep = e.select(
        "vec_id", "embedding",
        F.expr(
            f"inline(concat("
            f"transform(sequence(blk, {n_blocks - 1}), "
            f"j -> named_struct('bi', blk, 'bj', cast(j as int), "
            f"'side', 'a')), "
            f"transform(sequence(0, blk), "
            f"i -> named_struct('bi', cast(i as int), 'bj', blk, "
            f"'side', 'b'))))"))

    def tile(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        bi_v, bj_v = key
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        A = np.vstack(a["embedding"].to_numpy()).astype(np.float64)
        B = np.vstack(b["embedding"].to_numpy()).astype(np.float64)
        An = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-300)
        Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)
        C = An @ Bn.T
        ia, jb = np.nonzero(C >= threshold)
        ids_a = a["vec_id"].to_numpy()[ia]
        ids_b = b["vec_id"].to_numpy()[jb]
        cos = C[ia, jb]
        if bi_v == bj_v:
            keep = ids_a < ids_b  # triu: each within-block pair once
        else:
            keep = np.ones(len(ids_a), dtype=bool)  # cross-block: all distinct
        lo = np.minimum(ids_a[keep], ids_b[keep])
        hi = np.maximum(ids_a[keep], ids_b[keep])
        # HALF_UP rounding (matches Spark/DuckDB round for positives)
        cs = np.floor(cos[keep] * 1e4 + 0.5) / 1e4
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": cs})

    return (
        rep.groupBy("bi", "bj")
        .applyInPandas(tile, schema="id_a long, id_b long, cos_sim double")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# 5b. Cross-document duplicated spans (ExactSubstr-style)


def dup_span_stats(documents: DataFrame, k: int = 20,
                   sample_mod: int | None = None) -> DataFrame:
    """Cross-document duplicated-span detection — the distributed
    rolling-hash form of ExactSubstr dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better":
    substrings repeated across documents are memorization fuel; the
    paper's implementation builds a corpus-wide suffix array, which is
    inherently serial). Spark shape: hash every k-char gram of every
    document (scan-side md5 projection — the same DuckDB-portable gram
    hash as the declared ``rolling_fingerprint``), keep one row per
    DISTINCT (doc, gram-hash), count documents per hash in ONE groupBy
    shuffle, and call a gram duplicated when ≥ 2 distinct documents
    contain it. Reported per source: doc/gram totals, duplicated-gram
    share, and how many docs carry any cross-doc duplicated span.

    Scale: pair volume is O(total characters) into one hash-keyed
    shuffle — the honest cost of substring-level dedup (a suffix array
    pays the same O(corpus), serially). ``sample_mod=p`` switches to
    content-defined sampling (keep grams with ``h % p == 0``): selection
    depends only on the gram's bytes, so every COPY of a duplicated
    span samples the same grams and detection survives, with a
    duplicated span of length L ≥ k missed with probability
    ~(1-1/p)^(L-k+1). That divides shuffle volume by p — a 100 TB run
    uses p = 8..32 with a wider k. The skew profile is benign: one
    boilerplate gram shared by millions of docs makes a hot groupBy key
    but the agg is a count (map-side combinable), never a pair join.
    """
    gh = F.expr(
        f"transform(sequence(1, length(text) - {k - 1}), "
        f"i -> cast(conv(substring(md5(substring(text, i, {k})), 1, 15), "
        f"16, 10) as bigint))")
    pairs = (documents
             .filter(F.length("text") >= k)
             .select("doc_id", "source",
                     F.explode(F.array_distinct(gh)).alias("h")))
    if sample_mod is not None:
        pairs = pairs.filter(F.col("h") % sample_mod == 0)
    pairs = persist_shared(pairs)
    dup_h = (pairs.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
             .filter(F.col("nd") >= 2).select("h"))
    flagged = pairs.join(dup_h, "h", "left_semi")
    tot = pairs.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_grams"))
    dup = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("dup_grams"),
        F.countDistinct("doc_id").alias("docs_with_dup"))
    return (tot.join(dup, "source", "left")
            .select("source", "n_docs", "total_grams",
                    F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
                    F.coalesce("docs_with_dup", F.lit(0))
                     .alias("docs_with_dup"),
                    F.round(F.coalesce("dup_grams", F.lit(0))
                            / F.col("total_grams").cast("double"), 4)
                     .alias("dup_frac"))
            .orderBy("source"))


def dup_span_coverage(documents: DataFrame, k: int = 20,
                      sample_mod: int | None = None) -> DataFrame:
    """Exact duplicated-CHARACTER accounting — ExactSubstr's actual
    deliverable (Lee et al. 2021 report and then remove the duplicated
    characters, not just flag docs): for each document, the number of
    characters covered by the union of all k-char spans that also occur
    in another document, rolled up per source.

    Plan shape on top of ``dup_span_stats``'s pair machinery: positions
    ride along (posexplode), duplicated-gram start positions are
    collected per doc (sorted, corpus-linear collect), and the interval
    union is ONE JVM-side ``aggregate`` fold over the sorted starts —
    the classic sweep (extend-or-start) with the (covered, last_end)
    state packed into a single BIGINT (covered << 31 | last_end; exact
    integer ops) so the identical fold runs in the DuckDB oracle's
    ``list_reduce``, which requires accumulator and element types to
    match. The 31-bit fields are safe BY CONSTRUCTION: both engines cap
    string length at int32 (< 2^31 chars), so no representable document
    can overflow either half (covered <= n_chars < 2^31 and the packed
    word stays under 2^62, inside signed 64-bit). No Python anywhere;
    the per-doc start lists are span-count-sized, not char-sized.

    ``sample_mod`` composes (content-defined sampling, see
    ``dup_span_stats``): coverage then undercounts by the sampling gap —
    a bound, not an estimate, which is what a removal pass wants."""
    if k >= 1 << 31:
        raise ValueError("k must fit the 2^31 packed-state layout")
    gh = F.expr(
        f"transform(sequence(1, length(text) - {k - 1}), "
        f"i -> cast(conv(substring(md5(substring(text, i, {k})), 1, 15), "
        f"16, 10) as bigint))")
    g = (documents
         .filter(F.length("text") >= k)
         .select("doc_id", "source", F.length("text").alias("n_chars"),
                 F.posexplode(gh).alias("pos", "h")))
    if sample_mod is not None:
        g = g.filter(F.col("h") % sample_mod == 0)
    g = persist_shared(g)
    dup_h = (g.select("doc_id", "h").distinct()
             .groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
             .filter(F.col("nd") >= 2).select("h"))
    starts = (g.join(dup_h, "h", "left_semi")
              .groupBy("doc_id", "source", "n_chars")
              .agg(F.sort_array(F.collect_list("pos")).alias("ss")))
    lo_mask = F.lit((1 << 31) - 1)
    fold = F.aggregate(
        F.col("ss"), F.lit(0).cast("long"),
        lambda acc, s: F.shiftleft(
            F.shiftright(acc, 31)
            + F.greatest(F.lit(0).cast("long"),
                         s + k - F.greatest(acc.bitwiseAND(lo_mask), s)),
            31).bitwiseOR(F.greatest(acc.bitwiseAND(lo_mask), s + k)))
    per_doc = starts.select(
        "doc_id", "source", "n_chars",
        F.shiftright(fold, 31).alias("dup_chars"))
    eligible = (documents.filter(F.length("text") >= k)
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(F.length("text")).alias("total_chars")))
    dup = per_doc.groupBy("source").agg(
        F.sum("dup_chars").alias("dup_chars"),
        F.count(F.lit(1)).alias("docs_with_dup"))
    return (eligible.join(dup, "source", "left")
            .select("source", "n_docs", "total_chars",
                    F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
                    F.coalesce("docs_with_dup", F.lit(0))
                     .alias("docs_with_dup"),
                    F.round(F.coalesce("dup_chars", F.lit(0))
                            / F.col("total_chars").cast("double"), 4)
                     .alias("dup_char_frac"))
            .orderBy("source"))


def mask_dup_spans(documents: DataFrame, k: int = 20,
                   sample_mod: int | None = None) -> DataFrame:
    """The removal pass ExactSubstr dedup exists for: rewrite each
    document's text with every cross-document duplicated k-char span
    CUT OUT (Lee et al. 2021 delete the duplicated characters and keep
    the rest — dropping whole documents over one boilerplate line
    throws away good text).

    Plan: the ``dup_span_coverage`` machinery yields each doc's sorted
    duplicated-span starts; two JVM-side ``aggregate`` folds finish the
    job — (1) merge starts into disjoint [s, e) intervals (array-of-
    struct accumulator, extend-or-append sweep), (2) splice the
    complement substrings back together (state = (prev_end, text-so-
    far), finish appends the tail). Both folds run over span-count-sized
    arrays inside one projection: no Python, no extra shuffle beyond
    the shared gram pipeline, and untouched/short documents pass
    through verbatim via the left join. Not SQL-oracle-able (DuckDB's
    list_reduce cannot carry a struct accumulator); the pytest contract
    is exact agreement with an independent pure-Python reference on
    planted corpora."""
    gh = F.expr(
        f"transform(sequence(1, length(text) - {k - 1}), "
        f"i -> cast(conv(substring(md5(substring(text, i, {k})), 1, 15), "
        f"16, 10) as bigint))")
    g = (documents
         .filter(F.length("text") >= k)
         .select("doc_id", F.posexplode(gh).alias("pos", "h")))
    if sample_mod is not None:
        g = g.filter(F.col("h") % sample_mod == 0)
    g = persist_shared(g)
    dup_h = (g.select("doc_id", "h").distinct()
             .groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
             .filter(F.col("nd") >= 2).select("h"))
    starts = (g.join(dup_h, "h", "left_semi")
              .groupBy("doc_id")
              .agg(F.sort_array(F.collect_list("pos")).alias("ss")))

    empty_ivs = F.expr("cast(array() as array<struct<s:bigint,e:bigint>>)")

    def merge_iv(acc, s):
        last = F.element_at(acc, -1)
        overlaps = (F.size(acc) > 0) & (s <= last["e"])
        extended = F.struct(last["s"].alias("s"),
                            F.greatest(last["e"], s + k).alias("e"))
        return F.when(
            overlaps,
            F.concat(F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))),
                     F.array(extended))
        ).otherwise(
            F.concat(acc, F.array(F.struct(s.alias("s"),
                                           (s + k).alias("e")))))

    with_text = starts.join(
        documents.select("doc_id", F.col("text").alias("orig")), "doc_id")
    merged = F.aggregate(F.col("ss"), empty_ivs, merge_iv)
    # splice the complement: [0, s1) + [e1, s2) + ... + [e_last, n)
    orig = F.col("orig")
    spliced = F.aggregate(
        merged,
        F.struct(F.lit(0).cast("bigint").alias("pe"),
                 F.lit("").alias("txt")),
        lambda acc, iv: F.struct(
            iv["e"].alias("pe"),
            F.concat(acc["txt"],
                     orig.substr(acc["pe"] + 1,
                                 iv["s"] - acc["pe"])).alias("txt")),
        lambda acc: F.concat(
            acc["txt"],
            orig.substr(acc["pe"] + 1, F.length(orig) - acc["pe"])))
    rewritten = with_text.select(
        "doc_id", spliced.alias("masked_text"))
    # preserve every other column (lang, metadata, ...) so the pass
    # drops into any pipeline stage; untouched docs keep text verbatim
    return (documents.join(rewritten, "doc_id", "left")
            .withColumn(
                "removed_chars",
                F.coalesce(F.length("text")
                           - F.length(F.coalesce("masked_text", "text")),
                           F.lit(0)))
            .withColumn("text", F.coalesce("masked_text", "text"))
            .drop("masked_text"))


def _line_first_occurrence_flags(documents: DataFrame, min_len: int
                                 ) -> tuple[DataFrame, DataFrame]:
    """Shared core of the corpus-level line-dedup pair (stats +
    rewrite): returns ``(lines, flagged)`` — the posexploded
    (doc_id, source, pos, line, len) frame, and the eligible-line
    frame with ``dup = 1`` on every occurrence that LOSES
    first-(doc_id, pos) selection. One definition of the winner rule,
    so the report and the removal pass cannot silently diverge.

    Skew-safe first-occurrence selection: a window over the line hash
    would send every copy of one viral line to one task; instead the
    winner is found with two map-side-combinable min aggs (min doc_id
    per hash, then min pos within that doc) — the same reduce profile
    as a word count no matter how hot a line is. The line hash is the
    portable md5-prefix BIGINT, so the DuckDB oracle replays selection
    exactly."""
    lines = (documents
             .select("doc_id", "source",
                     F.posexplode(F.split("text", "\n"))
                     .alias("pos", "line"))
             .withColumn("len", F.length("line")))
    elig = (lines.filter(F.col("len") >= min_len)
            .withColumn("h", F.expr(
                "cast(conv(substring(md5(line), 1, 15), 16, 10) "
                "as bigint)")))
    elig = persist_shared(elig)
    d0 = elig.groupBy("h").agg(F.min("doc_id").alias("d0"))
    p0 = (elig.join(d0, "h")
          .filter(F.col("doc_id") == F.col("d0"))
          .groupBy("h", "d0").agg(F.min("pos").alias("p0")))
    flagged = (elig.join(p0, "h")
               .withColumn("dup", ((F.col("doc_id") != F.col("d0"))
                                   | (F.col("pos") != F.col("p0")))
                           .cast("long")))
    return lines, flagged


def line_dedup_stats(documents: DataFrame,
                     min_len: int = 30) -> DataFrame:
    """Corpus-level exact LINE dedup — the C4 recipe (Raffel et al.
    2020 discard every repeated three-sentence span corpus-wide, keep
    the first occurrence; the line-granular form is the common
    boilerplate killer for nav bars / cookie banners / license headers
    that repeat across millions of pages): a line is ELIGIBLE when it
    has >= ``min_len`` characters (short lines — blanks, bullets —
    repeat naturally and are not boilerplate evidence), and among all
    corpus occurrences of an eligible line only the FIRST in
    (doc_id, position) order survives. Reports per source: line totals,
    duplicate lines, characters removable, and docs touched.

    ``chars_removable`` is exactly what ``dedup_lines_across_corpus``
    removes: each dropped line takes one adjacent newline with it,
    EXCEPT that a document whose every line is dropped ends up as
    empty text — an n-line doc has only n-1 newlines — so the per-doc
    accounting subtracts one for fully-cleared docs. Winner selection
    is the shared skew-safe two-min-agg core
    (``_line_first_occurrence_flags``)."""
    lines, flagged = _line_first_occurrence_flags(documents, min_len)
    tot = lines.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("doc_id").alias("n_docs"))
    # per-doc roll first (doc_id keys — uniform): needed to detect
    # fully-cleared docs, whose last removed line has no newline
    nl = documents.select(
        "doc_id", F.size(F.split("text", "\n")).alias("n_lines_doc"))
    per_doc = (flagged.groupBy("source", "doc_id")
               .agg(F.count(F.lit(1)).alias("n_elig"),
                    F.sum("dup").alias("n_dup"),
                    F.sum(F.when(F.col("dup") == 1, F.col("len") + 1)
                          .otherwise(F.lit(0))).alias("chars"))
               .join(nl, "doc_id"))
    dup = per_doc.groupBy("source").agg(
        F.sum("n_elig").alias("n_eligible"),
        F.sum("n_dup").alias("n_dup_lines"),
        (F.sum("chars")
         - F.sum((F.col("n_dup") == F.col("n_lines_doc")).cast("long")))
        .alias("chars_removable"),
        F.sum((F.col("n_dup") > 0).cast("long")).alias("docs_with_dup"))
    return (tot.join(dup, "source", "left")
            .select("source", "n_docs", "n_lines",
                    F.coalesce("n_eligible", F.lit(0))
                     .alias("n_eligible"),
                    F.coalesce("n_dup_lines", F.lit(0))
                     .alias("n_dup_lines"),
                    F.coalesce("chars_removable", F.lit(0))
                     .alias("chars_removable"),
                    F.coalesce("docs_with_dup", F.lit(0))
                     .alias("docs_with_dup"))
            .orderBy("source"))


def dedup_lines_across_corpus(documents: DataFrame,
                              min_len: int = 30) -> DataFrame:
    """The materializing form of ``line_dedup_stats``: rewrite every
    document keeping only ineligible lines and FIRST occurrences of
    eligible ones (same two-agg winner rule — the shared
    ``_line_first_occurrence_flags`` core), preserving original line
    order; all other columns pass through. Documents whose every line
    vanished keep an empty text (callers re-gate on length, as the
    pipeline does after span masking)."""
    lines, flagged = _line_first_occurrence_flags(documents, min_len)
    losers = (flagged.filter(F.col("dup") == 1)
              .select("doc_id", "pos"))
    kept = lines.join(losers, ["doc_id", "pos"], "left_anti")
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("pos", "line"))),
                       lambda s: s["line"]), "\n").alias("new_text")))
    return (documents.join(rebuilt, "doc_id", "left")
            .withColumn("removed_chars",
                        F.length("text")
                        - F.length(F.coalesce("new_text", F.lit(""))))
            .withColumn("text", F.coalesce("new_text", F.lit("")))
            .drop("new_text"))


def dedup_lines_within_doc(documents: DataFrame,
                           min_len: int = 30) -> DataFrame:
    """WITHIN-document repeated-line removal (the MassiveText/Dolma
    intra-doc cleanup that complements the corpus-level pass above):
    inside each document, among equal lines of >= ``min_len`` chars only
    the first occurrence survives; shorter lines (blanks, bullets) pass
    through untouched. Adds ``removed_chars``; all other columns ride.

    Scale: a pure scan-side array expression — split, filter-with-index
    (``array_position`` finds the first occurrence), re-join. ZERO
    shuffle: the whole pass is per-row whole-stage codegen, so it costs
    a projection no matter the corpus size. Per-doc cost is quadratic
    in the document's LINE count (array_position scans the array per
    kept line), bounded by document size — documents with enough lines
    to care route through the hashed corpus-level pass anyway.

    Disclosed fixture blind spot: the synthetic documents tables are
    single-line (no '\\n'), so this operator is exercised by constructed
    frames in tests/test_dedup_lines.py, not by a registered fixture
    query — registering it would compare all-zeros."""
    lines = F.split("text", "\n")
    keep = F.filter(
        lines,
        lambda x, i: (F.length(x) < min_len)
        | (F.array_position(lines, x) == i + F.lit(1)))
    new_text = F.array_join(keep, "\n")
    return (documents
            .withColumn("__new_text", new_text)
            .withColumn("removed_chars",
                        F.length("text") - F.length("__new_text"))
            .withColumn("text", F.col("__new_text"))
            .drop("__new_text"))


# ---------------------------------------------------------------------------
# 6. Benchmark decontamination


def _word_shingles(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, source, shingle): each document's DISTINCT word
    ``n``-grams — the shared projection under every contamination
    form. Scan-side."""
    shingle = "concat_ws(' ', " + ", ".join(
        f"element_at(toks, i + {j})" for j in range(n)) + ")"
    return (
        documents.select("doc_id", "source", tokens("text").alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id", "source",
            F.explode_outer(F.array_distinct(F.expr(
                f"transform(sequence(1, size(toks) - {n - 1}), "
                f"i -> {shingle})"))).alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def contamination_shared_counts(documents: DataFrame, n: int = 5,
                                eval_mod: int = 97,
                                eval_docs: DataFrame | None = None
                                ) -> DataFrame:
    """Per-document benchmark-overlap counts: ``(doc_id, n_shared)``
    for every candidate document sharing >= 1 distinct word ``n``-gram
    with the evaluation set. Shared base of the ``contamination_check``
    rollup and the corpus-build pipeline's per-doc drop gate; the
    benchmark shingle set is BROADCAST, so the corpus side rides the
    scan without a shuffle.

    Two eval-set forms:
    - ``eval_docs=None`` (the fixture default): the deterministic
      slice ``doc_id % eval_mod == 0`` of the INPUT plays the
      benchmark, and the non-eval rows are the candidates.
    - ``eval_docs`` given (the production form — a real benchmark
      frame with a ``text`` column): its shingles are the benchmark
      and EVERY input doc is a candidate. Because the eval set no
      longer depends on the candidate pool, decontamination becomes
      corpus-independent — a delta-driven refresh
      (``refresh.refresh_training_corpus``) that passes the same
      frame drops exactly the docs a full rebuild drops (r11: this
      retires the refresh path's documented eval-slice divergence)."""
    sh = _word_shingles(documents, n)
    if eval_docs is not None:
        bench = (_word_shingles(
            eval_docs.select(F.lit(-1).alias("doc_id"),
                             F.lit("eval").alias("source"), "text"), n)
            .select("shingle").distinct())
        cand = sh
    else:
        is_eval = F.pmod(F.col("doc_id"), F.lit(eval_mod)) == 0
        bench = sh.filter(is_eval).select("shingle").distinct()
        cand = sh.filter(~is_eval)
    return (
        cand.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shared"))
    )


def contamination_check(documents: DataFrame, n: int = 5,
                        eval_mod: int = 97,
                        min_shared: int = 3) -> DataFrame:
    """Benchmark decontamination — flag training documents that overlap
    an evaluation set by >= ``min_shared`` distinct word ``n``-grams (the
    GPT-3-style 13-gram rule, shortened to fit the fixture's doc length).
    The eval set here is the deterministic slice ``doc_id % eval_mod ==
    0`` so the oracle can reproduce it; production passes a real
    benchmark frame in its place.

    Plan shape — the reason this scales: the benchmark is always tiny
    relative to the corpus (eval suites are KBs to MBs), so its distinct
    shingle set is BROADCAST and the corpus side never shuffles. Total
    cost is one scan-side shingle projection over the corpus plus a
    map-side hash-join probe, then one per-source aggregation: at 100 TB
    the decontamination pass rides the same scan as the other curation
    filters."""
    shared = contamination_shared_counts(documents, n, eval_mod)
    is_eval = F.pmod(F.col("doc_id"), F.lit(eval_mod)) == 0
    base = documents.filter(~is_eval).select("doc_id", "source")
    return (
        base.join(shared, "doc_id", "left")
        .withColumn("n_shared", F.coalesce(F.col("n_shared"), F.lit(0)))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_shared") >= min_shared).cast("int"))
             .alias("n_contaminated"),
            F.sum("n_shared").alias("total_shared_shingles"),
        )
        .orderBy("source")
    )


BLOOM_WORD_BITS = 60     # bits packed per BIGINT word — 60, not 64, so
                         # the shift never reaches the sign bit and the
                         # identical packing runs in DuckDB


def bloom_dedup(documents: DataFrame, prior_mod: int = 97,
                m_words: int = 4096, k: int = 4) -> DataFrame:
    """Exact-dedup screening against a PRIOR corpus snapshot via a
    broadcast-size Bloom filter — the 100 TB shape for "drop today's
    crawl docs already ingested yesterday" when the prior key set is
    too large to broadcast exactly (``contamination_check`` broadcasts
    its eval set verbatim; a multi-billion-key prior snapshot cannot
    ship that way, but its ~10-bits-per-key Bloom bitmap can).

    The prior set here is the deterministic slice ``doc_id % prior_mod
    == 0`` keyed by md5(text) content hash, so the DuckDB oracle can
    reproduce the whole construction; production passes a real prior
    snapshot in its place. ``k`` salted positions per key (salt = the
    literal digit prefix on the hex hash) land in an ``m_words × 60``
    bit space; a non-prior doc is flagged iff ALL k of its bits are
    set. Bloom guarantee: every true repeat of a prior key is flagged
    (no false negatives); false positives are ~(1 − e^(−k·n/m))^k —
    size ``m_words`` to ~10 bits per prior key for ~1% at production
    scale (the fixture's slice is far sparser).

    Plan shape — the reason this scales: the bitmap is built from the
    (small) prior slice by one count-combinable ``bit_or`` aggregation,
    collected (≤ ``m_words`` rows — model-sized, the plan-literal
    convention of ``ann_ivf``'s centroids), and inlined as ONE array
    literal; scoring is then a pure scan-side projection over the
    corpus — no join, no corpus shuffle, membership is
    ``element_at(arr, p div 60 + 1) >> (p mod 60) & 1`` per salt —
    into one per-source count-combinable aggregate.

    The output carries two bitmap-certifying constants
    (``bloom_bits_set``, ``bloom_checksum``): the fixture has no
    cross-slice duplicate text, so ``n_flagged`` is 0 there and a
    flags-only oracle would verify nothing — the checksum columns make
    the DuckDB value-hash pin the entire bitmap construction
    (positions, salting, packing) even when no document is flagged."""
    content = F.md5(F.coalesce(F.col("text"), F.lit("")))
    is_prior = F.pmod(F.col("doc_id"), F.lit(prior_mod)) == 0
    prior = (documents.filter(is_prior)
             .select(content.alias("h")).distinct())
    bitmap = build_bloom_bitmap(prior, m_words, k)
    bits_set = sum(bin(b).count("1") for b in bitmap)
    checksum = sum((w + 1) * bin(b).count("1")
                   for w, b in enumerate(bitmap))
    scored = (documents.filter(~is_prior)
              .select("doc_id", "source", content.alias("h")))
    flagged = bloom_member_expr(bitmap, k)
    return (scored.select("source", flagged.cast("int").alias("hit"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("hit").cast("long").alias("n_flagged"))
            .withColumn("bloom_bits_set", F.lit(bits_set).cast("long"))
            .withColumn("bloom_checksum", F.lit(checksum).cast("long"))
            .orderBy("source"))


def _bloom_pos(j: int, m: int):
    """Salted bucket position for the content-hash column ``h``:
    md5 re-hash with a literal digit prefix, 60-bit prefix mod m —
    the construction the DuckDB oracle replays verbatim."""
    salted = F.md5(F.concat(F.lit(str(j)), F.col("h")))
    return F.pmod(
        F.conv(F.substring(salted, 1, 15), 16, 10).cast("long"),
        F.lit(m))


def build_bloom_bitmap(prior_hashes: DataFrame, m_words: int = 4096,
                       k: int = 4) -> list[int]:
    """Bloom bitmap over a frame of content hashes (column ``h``): one
    count-combinable ``bit_or`` aggregation, collected model-sized
    (≤ m_words rows by construction)."""
    m = m_words * BLOOM_WORD_BITS
    word_rows = (
        prior_hashes.select(F.explode(F.array(
                 *[_bloom_pos(j, m).alias("p") for j in range(k)]))
                 .alias("p"))
        .groupBy((F.col("p") / BLOOM_WORD_BITS).cast("long").alias("w"))
        .agg(F.expr(f"bit_or(shiftleft(1L, cast(p % {BLOOM_WORD_BITS} "
                    "as int)))").alias("bits"))
        .collect())
    bitmap = [0] * m_words
    for r in word_rows:
        bitmap[int(r["w"])] = int(r["bits"])
    return bitmap


def bloom_member_expr(bitmap: list[int], k: int = 4):
    """Scan-side membership test against the plan-literal bitmap for a
    row's content-hash column ``h``: AND over the k salted bits."""
    import functools
    m = len(bitmap) * BLOOM_WORD_BITS
    # ONE array Literal (not 4096 Literal nodes) — flat analysis cost
    arr = F.lit(bitmap)
    checks = []
    for j in range(k):
        p = _bloom_pos(j, m)
        word = F.element_at(arr, (p / BLOOM_WORD_BITS).cast("int") + 1)
        checks.append(
            F.call_function("shiftright", word,
                            p.cast("int") % BLOOM_WORD_BITS)
             .bitwiseAND(F.lit(1)) == 1)
    return functools.reduce(lambda a, b: a & b, checks)


def bloom_screen(documents: DataFrame, prior: DataFrame,
                 m_words: int = 4096, k: int = 4) -> DataFrame:
    """Drop every document whose content hash MIGHT already be in the
    ``prior`` snapshot (Bloom semantics: every true repeat is dropped
    with certainty; a false positive drops a fresh doc with probability
    ~(1 − e^(−k·n/m))^k — size ``m_words`` to ~10 bits per prior key).
    The ingest-screen form of ``bloom_dedup``: same construction, but
    returns the surviving rows for pipeline composition instead of
    per-source counts."""
    content = F.md5(F.coalesce(F.col("text"), F.lit("")))
    prior_hashes = prior.select(content.alias("h")).distinct()
    bitmap = build_bloom_bitmap(prior_hashes, m_words, k)
    hit = bloom_member_expr(bitmap, k)
    return (documents.withColumn("h", content)
            .filter(~hit).drop("h"))


# ---------------------------------------------------------------------------
# 7. Near-dup cluster assignment (connected components)


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Minimum-label propagation over an undirected edge list
    ``(doc_a, doc_b)`` → ``(doc_id, cluster_id)`` with ``cluster_id`` =
    the min doc_id of the component (deterministic).

    Frontier (delta) propagation: round 1 every vertex broadcasts its
    label to its neighbors and adopts the minimum it hears; every later
    round only vertices whose label just IMPROVED re-broadcast. Min is
    monotone, so messages from unchanged vertices are already reflected
    and never need re-sending — the per-round join shrinks from |V| to
    |frontier|, which collapses geometrically (near-dup graphs are dense
    little cliques-with-bridges, diameter almost always <= 3). This is
    the delta-stepping form of label propagation; the O(log n)
    star-contraction algorithms (Kiveris et al., "Connected Components
    in MapReduce and Beyond") win only on high-diameter graphs dedup
    never produces. Lineage is truncated every round with an EAGER
    localCheckpoint: without it the iterated join plan nests
    exponentially and the driver dies on plan analysis long before the
    executors break a sweat. (localCheckpoint trades replayability for
    speed — a production run on preemptible executors would use reliable
    checkpoint() to HDFS instead.)

    The driver-side loop only ever pulls ONE scalar per round (the
    frontier size) — labels themselves never leave the cluster.
    """
    sym = (edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
           .union(edges.select(F.col("doc_b").alias("a"),
                               F.col("doc_a").alias("b")))
           .distinct())
    sym = sym.localCheckpoint(eager=True)
    labels = (sym.select(F.col("a").alias("doc_id"))
              .distinct()
              .withColumn("label", F.col("doc_id"))
              .localCheckpoint(eager=True))
    frontier = labels
    n_frontier = -1
    for _ in range(max_iter):
        nbr_min = (sym.join(frontier, sym["b"] == frontier["doc_id"])
                   .groupBy(F.col("a").alias("doc_id"))
                   .agg(F.min("label").alias("nbr_label")))
        # one checkpointed frame carries both the updated label and the
        # improved flag, so the round costs exactly one materialization
        # and one scalar action
        upd = (labels.join(nbr_min, "doc_id", "left")
               .select("doc_id",
                       F.least(F.col("label"),
                               F.coalesce(F.col("nbr_label"),
                                          F.col("label"))).alias("label"),
                       (F.coalesce(F.col("nbr_label"), F.col("label"))
                        < F.col("label")).alias("improved"))
               .localCheckpoint(eager=True))
        labels = upd.select("doc_id", "label")
        frontier = upd.filter("improved").select("doc_id", "label")
        n_frontier = frontier.count()
        if n_frontier == 0:
            break
    if n_frontier != 0:
        # Unconverged labels would make apply_near_dedup keep documents
        # whose cluster never reached its component minimum — an error,
        # not a warning. max_iter bounds graph diameter, and near-dup
        # graphs converge in ~3 rounds; hitting 20 means pathology.
        raise RuntimeError(
            f"connected_components: frontier still has {n_frontier} "
            f"vertices after {max_iter} rounds — graph diameter exceeds "
            f"max_iter; raise max_iter for this corpus")
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def near_dup_clusters(documents: DataFrame, n: int = 3,
                      threshold: float = 0.5,
                      portable: bool = False) -> DataFrame:
    """Transitive near-dup clusters — the operation a dedup pipeline
    actually keys its survivorship on (pairs alone under-merge: A~B and
    B~C must collapse to ONE survivor even when A!~C). Pairs come from
    the declared MinHash pipeline, components from min-label
    propagation; the report is per-cluster-size histogram plus survivor
    accounting, so the whole corpus rollup stays small however large the
    corpus."""
    pairs = near_dedup_minhash(documents, n=n, threshold=threshold,
                               portable=portable)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_docs", F.col("cluster_size") * F.col("n_clusters"))
        .withColumn("n_survivors", F.col("n_clusters"))
        .withColumn("n_removed", F.col("n_docs") - F.col("n_survivors"))
        .orderBy("cluster_size")
    )


def near_dup_clusters_portable(documents: DataFrame) -> DataFrame:
    """Declared-oracle variant: portable signatures so the DuckDB twin
    (banding CTEs + recursive-CTE transitive closure) reproduces pairs,
    components, and the histogram bit-for-bit."""
    return near_dup_clusters(documents, portable=True)


def apply_near_dedup(documents: DataFrame, n: int = 3,
                     threshold: float = 0.5,
                     portable: bool = False) -> DataFrame:
    """The materializing form of cluster dedup: the corpus with every
    near-dup cluster collapsed to its min-doc_id survivor (exact dups
    are a cluster like any other — their estimated Jaccard is 1.0).
    Anti-join against the non-survivor set, which is pair-graph-sized,
    not corpus-sized: documents that never hit a bucket with anyone
    stay untouched without ever being shuffled."""
    pairs = near_dedup_minhash(documents, n=n, threshold=threshold,
                               portable=portable)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    losers = comp.filter(F.col("doc_id") != F.col("cluster_id")) \
        .select("doc_id")
    return documents.join(losers, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# 11. The persisted MinHash band index, and incremental near-dedup on it
#
# "Which of today's documents are near-duplicates of ANYTHING already
# accepted" — without re-shuffling the accepted corpus, which takes part
# only through its band INDEX (the reference re-runs its whole job over
# old+new input: cmd/mrcoordinator/main.go takes a fixed file list). One
# index serves both tiers — the batch archive (``write_prior_index``,
# portable band family, oracle-checked via ``near_dedup_vs_prior``) and
# the streaming dedup state (``streaming/dedup_stream.py``, xxhash band
# family) — as ``streaming/run.py`` state tables partitioned by batch_id:
#   {path}/sigs           (doc_id, source, sig)
#   {path}/bands          (doc_id, band_id, band_hash of the band fn's type)
#   {path}/manifest.json  {"n", "n_hashes", "n_bands"}
# A commit overwrites only its own ``batch_id=<N>`` partitions, sigs
# BEFORE bands, so a rerun rewrites them byte-for-byte and a crash in
# between leaves sigs-without-bands, never bands-without-sigs. A probe
# reads only batches ``< N`` and fails closed on a band row whose
# signature is missing instead of reading it as no match.

SIGS_SCHEMA = ("doc_id bigint, source string, sig array<bigint>, "
               "batch_id int")


def _local(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def check_index_manifest(path: str, n: int, n_hashes: int, n_bands: int,
                         what: str) -> bool:
    """Validate (n, n_hashes, n_bands) against the index manifest at
    ``path``; return whether one exists. A mismatch must be LOUD:
    probing an n_hashes=32 index with n_hashes=64 band keys silently
    returns zero matches — every near-duplicate missed, no error. The
    manifest is a local file read, never a Spark job."""
    try:
        with open(os.path.join(_local(path), "manifest.json")) as f:
            meta = json.load(f)
    except FileNotFoundError:
        return False
    if meta != {"n": n, "n_hashes": n_hashes, "n_bands": n_bands}:
        raise ValueError(
            f"{what} with (n={n}, n_hashes={n_hashes}, "
            f"n_bands={n_bands}) does not match the index manifest at "
            f"{path}: {meta} — mismatched banding silently finds "
            f"nothing, so this fails closed")
    return True


def commit_index_batch(sig: DataFrame, band_fn, path: str, batch_id: int,
                       n: int, n_hashes: int, n_bands: int) -> None:
    """Commit ``sig`` (doc_id, source, sig) as batch ``batch_id`` of the
    index at ``path``: the manifest on the first commit, then the sigs
    partition, then band rows (``band_fn``) derived from the COMMITTED
    sig partition. The sigs commit drops every cached plan that reads
    sigs/, so deriving the bands from ``sig``'s own plan would re-run
    whatever chain produced it (a stream step's whole probe)."""
    manifest = os.path.join(_local(path), "manifest.json")
    if not os.path.exists(manifest):
        os.makedirs(_local(path), exist_ok=True)
        with open(manifest + ".writing", "w") as f:
            json.dump({"n": n, "n_hashes": n_hashes, "n_bands": n_bands}, f)
        os.replace(manifest + ".writing", manifest)
    sigs_path = os.path.join(path, "sigs")
    commit_batch(sig.select("doc_id", "source", "sig"), sigs_path, batch_id)
    committed = (read_batches(sig.sparkSession, sigs_path, SIGS_SCHEMA)
                 .filter(F.col("batch_id") == batch_id))
    commit_batch(band_fn(committed, n_hashes, n_bands),
                 os.path.join(path, "bands"), batch_id)


def read_index(spark, path: str, band_fn, before: int | None
               ) -> tuple[DataFrame, DataFrame]:
    """(bands, sigs) of the index at ``path``, read through
    ``read_batches`` with declared schemas — band_hash typed as
    ``band_fn`` emits it — empty when nothing is committed, and only
    batches ``< before`` unless it is None."""
    sigs = read_batches(spark, os.path.join(path, "sigs"), SIGS_SCHEMA,
                        before)
    schema = ", ".join(f"{c} {t}" for c, t in band_fn(sigs).dtypes)
    return (read_batches(spark, os.path.join(path, "bands"),
                         f"{schema}, batch_id int", before), sigs)


def _verified_matches(bands: DataFrame, sig: DataFrame,
                      idx_bands: DataFrame, idx_sigs: DataFrame,
                      n_hashes: int, threshold: float | None) -> DataFrame:
    """The verify core: probe band rows ``bands`` (doc_id, band_id,
    band_hash) bucket-joined against index band rows ``idx_bands``, each
    distinct (doc_id, prior_id) candidate kept iff its estimated Jaccard
    (``est_jaccard_expr``) against the index signature is ≥
    ``threshold``. Signatures re-attach from the per-doc tables
    (corpus-sized, not pair-sized) — band rows never carry the 64-long
    array through the bucket join. ``threshold=None`` returns the
    unverified (doc_id, prior_id) candidates."""
    cand = (bands.join(idx_bands.select("band_id", "band_hash",
                                        F.col("doc_id").alias("prior_id")),
                       ["band_id", "band_hash"])
            .select("doc_id", "prior_id")
            .dropDuplicates(["doc_id", "prior_id"]))
    if threshold is None:
        return cand
    # k/n_hashes with n_hashes a power of two is an exact dyadic double
    # (near_dedup_minhash's portable convention) — no rounding, the
    # DuckDB value-hash compares raw doubles.
    est = F.when(F.col("sig_a").isNull(), F.raise_error(F.lit(
        "torn state: an indexed doc has no signature"))).otherwise(
        est_jaccard_expr("sig_a", "sig_b", n_hashes))
    return (cand
            .join(idx_sigs.select(F.col("doc_id").alias("prior_id"),
                                  F.col("sig").alias("sig_a")),
                  "prior_id", "left")
            .join(sig.select("doc_id", F.col("sig").alias("sig_b")),
                  "doc_id")
            .withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= threshold)
            .select("doc_id", "prior_id", "est_jaccard"))


def probe_index(path: str, sig: DataFrame, band_fn, n_hashes: int,
                n_bands: int, threshold: float | None,
                before: int | None) -> DataFrame:
    """Matches (doc_id, prior_id, est_jaccard) of the signatures ``sig``
    (doc_id, sig) against the index at ``path`` (``_verified_matches``
    over ``read_index``), banded by the index's own ``band_fn``.
    ``before`` = the batch id about to be committed: the result is LAZY,
    and a re-evaluation after that commit would otherwise see the
    probing batch's own rows, which self-match at est 1.0."""
    idx_bands, idx_sigs = read_index(sig.sparkSession, path, band_fn,
                                     before)
    return _verified_matches(band_fn(sig, n_hashes, n_bands), sig,
                             idx_bands, idx_sigs, n_hashes, threshold)


def prior_band_index(prior: DataFrame, n: int = 3,
                     n_hashes: int = N_HASHES,
                     n_bands: int = N_BANDS,
                     max_bucket_size: int | None = None
                     ) -> tuple[DataFrame, DataFrame]:
    """(bands, sigs) for an archive corpus as DERIVED frames in the
    index's row format — portable-MinHash band rows ``(doc_id, band_id,
    band_hash)`` plus the per-doc ``(doc_id, sig)`` table — so the
    DuckDB oracle can replay the whole construction
    (``write_prior_index`` persists the same rows).

    ``max_bucket_size`` caps each (band_id, band_hash) bucket at its
    lowest doc_ids, bounding a hot bucket's probe fan-out (a giant
    identical-boilerplate cluster in the archive). Screen recall is
    preserved for exactly that hot case — identical docs have identical
    signatures, so any kept representative verifies in the kept member's
    place; a MIXED over-full bucket can lose the one true near-dup, so
    the cap is off by default and the declared query runs uncapped."""
    sig = persist_shared(minhash_signatures_portable(prior, n, n_hashes))
    idx = portable_band_rows(sig, n_hashes, n_bands)
    if max_bucket_size is not None:
        wb = Window.partitionBy("band_id", "band_hash").orderBy("doc_id")
        idx = (idx.withColumn("_bn", F.row_number().over(wb))
               .filter(F.col("_bn") <= max_bucket_size).drop("_bn"))
    return idx, sig


def near_dedup_vs_prior(batch: DataFrame, prior: DataFrame, n: int = 3,
                        threshold: float = 0.5,
                        n_hashes: int = N_HASHES,
                        n_bands: int = N_BANDS,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Near-duplicate pairs (doc_id, prior_id, est_jaccard) between a new
    BATCH corpus and a PRIOR archive: portable MinHash signatures on the
    batch (scan-side projection, see ``minhash_signatures_portable``),
    band rows joined against the archive's band index, estimated Jaccard
    kept at ≥ ``threshold`` — the index's verify core over derived
    frames (``prior_band_index``).

    100 TB shape — why this is the incremental-ingest path:
    - The archive contributes ONLY its band index and sig table, both
      ~0.5 KB/doc metadata written once at snapshot time
      (``write_prior_index``). A day's incremental run shuffles the
      BATCH's band rows (batch-sized) into a join against the stored
      index; the archive corpus itself is never re-scanned, re-hashed,
      or re-shuffled. Cost per batch is O(batch × bands) + index probe —
      independent of how many batches came before, the same property
      the streaming tier measures (SCALE.md, sf1 growing-index run).
    - Batch-vs-batch duplicates are a separate ``near_dedup_minhash``
      pass over the (small) batch alone; this operator is deliberately
      cross-corpus only, so its join never goes quadratic on an
      archive-internal boilerplate cluster.
    - A hot band bucket (giant boilerplate cluster in the archive) fans
      out batch probes linearly — each batch row meets the bucket's
      members — not quadratically; ``max_bucket_size`` (threaded to
      ``prior_band_index``) caps the index side if even that linear
      fan-out needs bounding.
    """
    bands, sigs = prior_band_index(prior, n, n_hashes, n_bands,
                                   max_bucket_size)
    bsig = persist_shared(minhash_signatures_portable(batch, n, n_hashes))
    return (_verified_matches(portable_band_rows(bsig, n_hashes, n_bands),
                              bsig, bands, sigs, n_hashes, threshold)
            .orderBy("doc_id", "prior_id"))


def write_prior_index(docs: DataFrame, path: str, batch_id: int = 0,
                      n: int = 3, n_hashes: int = N_HASHES,
                      n_bands: int = N_BANDS) -> None:
    """Commit ``docs`` (doc_id, source, text) as batch ``batch_id`` of
    the archive index ``near_dedup_vs_index`` probes — the "written ONCE
    at snapshot time" half of the incremental contract: ``batch_id=0``
    for the initial archive, then a fresh ``batch_id`` per ingested
    batch's NEW survivors (disjoint from what the index already holds).
    A rerun replaces its own partitions byte-for-byte; parameters that
    mismatch the manifest fail closed. At 100 TB, bucket ``bands`` by
    band_hash at write time so every later probe join is co-located."""
    check_index_manifest(path, n, n_hashes, n_bands, "write_prior_index")
    sig = (minhash_signatures_portable(docs, n, n_hashes)
           .join(docs.select("doc_id", "source"), "doc_id"))
    commit_index_batch(sig, portable_band_rows, path, batch_id, n,
                       n_hashes, n_bands)


def near_dedup_vs_index(batch: DataFrame, path: str,
                        n: int = 3, threshold: float = 0.5,
                        n_hashes: int = N_HASHES,
                        n_bands: int = N_BANDS,
                        before_batch: int | None = None) -> DataFrame:
    """``near_dedup_vs_prior`` against a persisted index
    (``write_prior_index``): the archive contributes ONLY stored band
    rows and signatures — its corpus is not even an argument. This is
    the operator a daily ingest actually runs; the derived-frame form
    exists so the fixture oracle can replay the whole construction.

    ``before_batch`` restricts the probe to batches ``< before_batch``
    — ALWAYS pass it when the same job later extends the index (see
    ``probe_index``; measured, not hypothetical). The partition filter
    prunes at the file listing, so old probes never pay for newer
    snapshots. Probe parameters are validated against the manifest."""
    if not check_index_manifest(path, n, n_hashes, n_bands,
                                "near_dedup_vs_index"):
        raise FileNotFoundError(f"near_dedup_vs_index: no index at {path}")
    bsig = persist_shared(minhash_signatures_portable(batch, n, n_hashes))
    return (probe_index(path, bsig, portable_band_rows, n_hashes, n_bands,
                        threshold, before_batch)
            .orderBy("doc_id", "prior_id"))


def compact_prior_index(spark, path: str,
                        target_mb: int = 128) -> dict[str, tuple[int, int]]:
    """Index maintenance: every commit adds one ``batch_id=<id>``
    partition per table forever, and each leaves one file per write
    task — after months of daily ingests the probe's file LISTING (not
    the data) becomes the bottleneck. This rewrites ``{path}/bands`` and
    ``{path}/sigs`` through ``sources.sinks.compact_parquet``, which
    preserves the hive ``batch_id=`` layout (rows are hash-repartitioned
    ON the partition column, so every batch still compacts to its own
    partition directory) — therefore ``before_batch`` snapshot
    semantics are EXACTLY preserved: only the file count within each
    directory drops. The manifest is left alone. Crash-rerunnable via
    compact_parquet's tmp/old rename protocol.

    Returns {"bands": (files_before, files_after), "sigs": ...}."""
    from ..sources.sinks import compact_parquet

    return {sub: compact_parquet(spark, f"{path}/{sub}", target_mb)
            for sub in ("bands", "sigs")}


def expire_index_batches(path: str, keep_from: int) -> int:
    """Retention, the policy half of index maintenance: drop all
    ``batch_id < keep_from`` partitions from ``{path}/bands`` and
    ``{path}/sigs``. This DELIBERATELY changes probe results — future
    batches are no longer screened against the expired archive content
    (the operator a pipeline runs when its dedup horizon is "the last
    N days", not "all of history"). Probes with ``before_batch`` inside
    the expired range see only what survives, so expire only below the
    oldest snapshot any consumer still replays. Pure directory removal
    (partition pruning in reverse) — no Spark job, no rewrite of kept
    batches. Returns the number of partition directories removed.

    Refuses to empty either table: retire the whole index by deleting
    it, not by expiring past its newest batch. Checked PER table: a
    crash between the sigs and bands commits can leave the two at
    different newest batches (review r10 ×2)."""
    import re
    import shutil

    tables = {}
    for sub in ("bands", "sigs"):
        d = os.path.join(_local(path), sub)
        tables[sub] = {
            int(m.group(1)): os.path.join(d, name)
            for name in (os.listdir(d) if os.path.isdir(d) else [])
            if (m := re.fullmatch(r"batch_id=(\d+)", name))}
        if tables[sub] and keep_from > max(tables[sub]):
            raise ValueError(
                f"expire_index_batches: keep_from={keep_from} would "
                f"remove every {sub} partition (its newest batch is "
                f"{max(tables[sub])}) — delete the index instead of "
                "expiring it empty")
    doomed = [d for parts in tables.values()
              for b, d in parts.items() if b < keep_from]
    for d in doomed:
        shutil.rmtree(d)
    return len(doomed)


def screen_vs_prior(batch: DataFrame, prior: DataFrame, n: int = 3,
                    threshold: float = 0.5) -> DataFrame:
    """The materializing form: batch docs that are NOT near-duplicates
    of anything in the prior archive (input schema preserved). The
    incremental-ingest complement of ``bloom_screen``: Bloom catches
    exact re-ingests scan-side, this catches lightly-edited ones with
    one batch-sized bucket join against the archive's band index. The
    anti-join key set is match-sized (docs that hit the archive), not
    corpus-sized — untouched batch docs are never shuffled by it."""
    hits = (near_dedup_vs_prior(batch, prior, n=n, threshold=threshold)
            .select("doc_id").distinct())
    return batch.join(hits, "doc_id", "left_anti")


def near_dedup_vs_prior_split(documents: DataFrame, prior_mod: int = 3,
                              n: int = 3, threshold: float = 0.5
                              ) -> DataFrame:
    """Fixture-facing form: the deterministic slice ``doc_id % prior_mod
    == 0`` plays the archive (the ``bloom_dedup`` convention — exactly
    reproducible in the DuckDB oracle), the rest is today's batch.
    Production passes two real corpora to ``near_dedup_vs_prior``."""
    is_prior = F.pmod(F.col("doc_id"), F.lit(prior_mod)) == 0
    return near_dedup_vs_prior(documents.filter(~is_prior),
                               documents.filter(is_prior),
                               n=n, threshold=threshold)


def retract_index_keys(spark, path: str, prior_ids) -> dict:
    """Retract pages BY KEY from a persisted ``write_prior_index``
    archive — the maintenance move ``expire_index_batches`` (whole
    batches by age) cannot make: a refresh crawl's diff names exactly
    which pages were removed or changed (``urls.crawl_diff``), and
    leaving them in the index screens future batches against stale
    content. Removes every band row and signature whose ``doc_id`` is
    in ``prior_ids`` (list = plan-literal IN filter; DataFrame with a
    ``doc_id`` column = broadcast anti-join — the big-delta path),
    rewriting ONLY the ``batch_id`` partitions that contain them via
    the tmp/old rename protocol (``sources.sinks.retract_keys_from_parquet``)
    — crash-rerunnable at any point, untouched batches byte-identical.

    Contract pinned in tests/test_index_retract.py: an index grown
    then retracted equals a fresh build over the surviving corpus
    (signatures and band rows are per-document, so retraction is
    exact set difference). The manifest is untouched. Retraction
    that would empty the index is refused (delete it instead).

    Composes as: ``crawl_diff`` → retract removed+changed →
    ``write_prior_index(new batch)`` with the re-extracted pages —
    see ``operators.refresh.refresh_band_index``."""
    from ..sources.sinks import retract_keys_from_parquet

    return {sub: retract_keys_from_parquet(
                spark, f"{path}/{sub}", "doc_id", prior_ids)
            for sub in ("bands", "sigs")}
