"""Similarity search over the ``embeddings`` table (north star;
SURVEY.md §2d #15).

Two tiers:
- ``knn_bruteforce`` — exact top-k for a fixed probe set; the *correctness*
  baseline and the right tool whenever |probes| is small (probes broadcast;
  the corpus is scanned once, never shuffled).
- ``ann_lsh`` — random-hyperplane LSH bucketing; the 100 TB path when the
  probe set is itself huge: both sides hash to sign-sketch buckets and only
  bucket-mates meet (multi-probe over Hamming-1 neighbors recovers recall).
"""

from __future__ import annotations

import random
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions.vectors import cosine_sim_sql, l2_norm_sql

DEFAULT_K = 5


def knn_bruteforce(embeddings: DataFrame, n_probes: int = 5,
                   k: int = DEFAULT_K) -> DataFrame:
    """Exact cosine top-k: probes = the ``n_probes`` lowest vec_ids
    (deterministic fixture of the declared query); corpus = all vectors.

    Plan: broadcast(probes) ⋈ corpus (no shuffle of the corpus, no
    crossJoin of the full table) → cosine via JVM higher-order functions →
    per-probe top-k via window. Tie-break on vec_id (FIXTURES.md).
    At 1000 executors this reads the corpus once, computes k·|probes|
    locally per partition, and shuffles only |probes|·k candidate rows.
    """
    probes = (
        embeddings.orderBy("vec_id").limit(n_probes)
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb"))
    )
    scored = (
        embeddings.alias("c")
        .join(broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos", F.expr(cosine_sim_sql("probe_emb", "embedding")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("cos", 4).alias("cos_sim"))
        .orderBy("probe_id", "rank")
    )


def knn_label_vote(embeddings: DataFrame, n_probes: int = 20,
                   k: int = DEFAULT_K) -> DataFrame:
    """kNN label classification over the embedding space — the intrinsic
    eval every embedding table gets (does proximity predict the label?):
    for a deterministic probe set (the ``n_probes`` lowest vec_ids),
    find the k nearest neighbors by cosine (self excluded), majority-
    vote their labels (ties → smallest label — deterministic in both
    engines), and report per TRUE label: probe count, correct count,
    accuracy.

    Plan: the same broadcast-probes shape as ``knn_bruteforce`` (corpus
    scanned once, never shuffled; only |probes|·k candidate rows move),
    then two metadata-sized aggs (votes, rollup). Cost class: probes ×
    corpus — the brute-force EXACT eval tier, linear in corpus size by
    definition (every probe must see every vector). When the corpus
    outgrows a full scan per eval, run the same vote over an ANN tier's
    neighbor lists (``ann_ivf_pq`` shortlists + a label join) — the
    vote/rollup half is neighbor-frame-agnostic."""
    probes = (
        embeddings.orderBy("vec_id").limit(n_probes)
        .select(F.col("vec_id").alias("probe_id"),
                F.col("embedding").alias("probe_emb"),
                F.col("label").alias("true_label")))
    scored = (
        embeddings
        .join(broadcast(probes),
              F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos", F.expr(cosine_sim_sql("probe_emb",
                                                 "embedding"))))
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    top = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k)
           .select("probe_id", "true_label", "label"))
    return _label_vote_rollup(top)


def _label_vote_rollup(top: DataFrame) -> DataFrame:
    """Majority vote + per-true-label accuracy rollup over ANY
    (probe_id, true_label, label) neighbor frame — shared by the exact
    (``knn_label_vote``) and ANN (``ann_label_vote``) tiers. Ties go to
    the smallest label; both aggs are metadata-sized. The vote agg
    shuffles on its own fine (probe, label) key with map-side partial
    aggregation below the exchange (guide §2.2/§2.5, r15 — a probe-
    keyed pre-repartition bounded agg parallelism at n_probes and
    moved uncombined rows); the argmax window's probe-keyed exchange
    carries only the combined vote rows."""
    votes = (top.groupBy("probe_id", "true_label", "label")
             .agg(F.count(F.lit(1)).alias("c")))
    wv = Window.partitionBy("probe_id").orderBy(
        F.col("c").desc(), F.col("label").asc())
    pred = (votes.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("probe_id", "true_label",
                    F.col("label").alias("pred_label")))
    return (pred.groupBy("true_label")
            .agg(F.count(F.lit(1)).alias("n_probes"),
                 F.sum((F.col("pred_label") == F.col("true_label"))
                       .cast("long")).alias("n_correct"),
                 F.round(F.avg((F.col("pred_label")
                                == F.col("true_label"))
                               .cast("double")), 4).alias("accuracy"))
            .orderBy("true_label"))


def ann_label_vote(embeddings: DataFrame, n_probes: int = 20,
                   k: int = DEFAULT_K, **ivf_pq_kw) -> DataFrame:
    """The 100 TB path of ``knn_label_vote``: the SAME majority vote
    over ``ann_ivf_pq``'s neighbor lists — probe cost is cells-probed ×
    refine instead of the whole corpus. Labels ride two model-sized
    joins (neighbor label by vec_id semi-shape; probe truth broadcast);
    the vote/rollup half is shared (``_label_vote_rollup``), so any
    future ANN tier gets the eval for free. Lossy codes mean lossy
    neighbor lists: accuracy is the ANN operating point's, not the
    exact tier's (RECALL.md quantifies the gap's source)."""
    nbrs = ann_ivf_pq(embeddings, n_probes=n_probes, k=k, **ivf_pq_kw)
    truths = (embeddings.orderBy("vec_id").limit(n_probes)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("label").alias("true_label")))
    nlabels = embeddings.select(F.col("vec_id").alias("neighbor_id"),
                                F.col("label").alias("label"))
    top = (nbrs.select("probe_id", "neighbor_id")
           .join(nlabels, "neighbor_id")
           .join(broadcast(truths), "probe_id")
           .select("probe_id", "true_label", "label"))
    return _label_vote_rollup(top)


N_PLANES = 12   # planes PER BAND (production sketch)
LSH_BANDS = 4   # independent OR'd sketch bands (round-7: multi-band LSH)


def _sign_sketch(emb_col, n_planes: int = N_PLANES, plane_offset: int = 0):
    """Deterministic random-hyperplane sign sketch → int bucket id.

    Plane p's component for dimension d is a pseudo-random weight in
    {-3,-2,-1,1,2,3} derived from xxhash64(p, d) — fixed across runs and
    cluster layouts, and zero-free so every dimension contributes to every
    plane. sketch bit p = sign(Σ_d w_pd · emb[d]). ``plane_offset`` shifts
    the global plane index so each band of a multi-band sketch draws
    disjoint (independent) hyperplanes from the same hash stream.
    """
    dims = F.size(emb_col)
    def plane_dot(p):
        def weight(d):
            # residue in {-3..2}, then skip 0 by shifting non-negatives up
            r = F.pmod(F.xxhash64(F.lit(plane_offset + p), d),
                       F.lit(6)) - F.lit(3)
            return F.when(r >= 0, r + 1).otherwise(r).cast("double")
        return F.aggregate(
            F.zip_with(
                emb_col,
                F.sequence(F.lit(0), dims - 1),
                lambda x, d: x.cast("double") * weight(d),
            ),
            F.lit(0.0), lambda acc, x: acc + x,
        )
    return F.aggregate(
        F.array(*[
            F.when(plane_dot(p) > 0, F.shiftleft(F.lit(1), p)).otherwise(F.lit(0))
            for p in range(n_planes)
        ]),
        F.lit(0), lambda acc, x: acc.bitwiseOR(x),
    )


LSH_SEED = 0x51DE
LSH_DIM = 64  # the embeddings table's fixed dimension (TESTDATA.md)
# The declared portable query uses 4 bands x 6 planes: 6 planes (64
# buckets per band) is coarse enough that the 500-2000-vector test
# corpora yield full top-k candidate sets, and OR-ing 4 independent
# bands lifts weak-neighbor recall the way MinHash banding does
# (per-band hit prob q -> 1-(1-q)^B; measured in RECALL.md).
# Production sizes n_planes ~ log2(|corpus| / target_bucket_size) and
# tunes n_bands to the recall target; the plan shape is identical.
PORTABLE_LSH_PLANES = 6  # planes PER BAND
PORTABLE_LSH_BANDS = 4


def lsh_plane_weights(n_planes: int = N_PLANES,
                      dim: int = LSH_DIM) -> list[list[int]]:
    """Seeded literal hyperplanes: weights in {-3,-2,-1,1,2,3} (zero-free
    — every dimension votes on every plane). Like the IVF centroids and
    the MinHash (a,b) coefficients, the planes ARE the model: a few
    hundred ints inlined into the plan as literals, identically into the
    generated DuckDB oracle. Zero per-row hashing — cheaper than the
    xxhash64 sketch, at the cost of fixing ``dim`` at plan-build time."""
    rng = random.Random(LSH_SEED)
    return [[rng.choice([-3, -2, -1, 1, 2, 3]) for _ in range(dim)]
            for _ in range(n_planes)]


def _sign_sketch_literal(emb: str, planes: list[list[int]]):
    """Bucket id from literal planes, as ONE parsed SQL expression (the
    Py4J round-trip lesson from ``ann_ivf``: thousands of literal Column
    nodes cost seconds of driver time; text parses in milliseconds).
    Each plane's dot is ``aggregate(zip_with(weights, emb, *), 0D, +)``
    — a left-to-right fold, the SAME accumulation order as the DuckDB
    twin's ``list_sum(list_transform(...))`` (the proven ``_COS``
    equivalence) — bit-identical doubles, bit-identical signs. The fold
    form keeps the expression tree ~64 literals per plane instead of 64
    unrolled multiply-adds: r7's 4-band sketch (24 planes) in unrolled
    form OOM'd whole-stage codegen on a default-sized (1g) driver JVM."""
    def plane_dot(w: list[int]) -> str:
        arr = "array(" + ",".join(f"{float(x)!r}D" for x in w) + ")"
        return (f"aggregate(zip_with({arr}, {emb},"
                " (w, x) -> w * double(x)), 0D, (a, x) -> a + x)")
    return F.expr("(" + " + ".join(
        f"(case when ({plane_dot(w)}) > 0D then {1 << p} else 0 end)"
        for p, w in enumerate(planes)) + ")")


def ann_lsh_portable(embeddings: DataFrame, n_probes: int = 5,
                     k: int = DEFAULT_K,
                     n_planes: int = PORTABLE_LSH_PLANES,
                     n_bands: int = PORTABLE_LSH_BANDS) -> DataFrame:
    """Declared variant of ``ann_lsh``: identical banded bucket-then-rank
    plan, but each band's sign sketch uses seeded literal planes so the
    DuckDB oracle reproduces buckets, candidates, and ranks exactly
    (including the per-band Hamming-1 multi-probe expansion)."""
    all_planes = lsh_plane_weights(n_bands * n_planes)
    buckets = F.array(*[
        _sign_sketch_literal(
            "embedding", all_planes[b * n_planes:(b + 1) * n_planes])
        for b in range(n_bands)])
    return _rank_banded_candidates(embeddings, buckets, n_probes, k,
                                   n_bands=n_bands, n_planes=n_planes)


def _rank_banded_candidates(embeddings: DataFrame, buckets: "F.Column",
                            n_probes: int, k: int,
                            n_bands: int, n_planes: int) -> DataFrame:
    """Candidate generation + exact rank for multi-band sign-LSH.

    ``buckets`` is the sketch expression — one bucket id per
    independent band — applied HERE rather than by the caller (r14):
    the probe branch applies it AFTER its ``limit``, so only the
    ``n_probes`` retained rows pay the bands × planes × dims fold (the
    former pre-sketched input computed the full corpus sketch twice —
    once per join side). Two recall knobs compose (round-7, RECALL.md's
    named fix):

    - **Hamming-1 multi-probe** within a band: a vector on the far side
      of ONE hyperplane lands one bit away, so each probe searches its
      own bucket plus the n_planes one-bit-flip buckets.
    - **OR over bands** (the MinHash banding pattern): a pair missed by
      one band's planes gets fresh independent chances in the others —
      per-band hit prob q becomes 1-(1-q)^B.

    Both stay equi-joins: corpus rows posexplode to (band, bucket) and
    probes to (band, ring bucket), joined on exact (band, bucket) — no
    distance predicate ever scans the corpus. Per-probe candidates are
    ~|corpus| * B*(n_planes+1)/2^n_planes, a vanishing fraction at
    production plane counts. A pair matching in several bands is
    deduped by the slim (probe_id, vec_id, cos) aggregate — the
    embedding arrays never ride that shuffle.
    """
    probes = (
        embeddings.orderBy("vec_id").limit(n_probes)
        .select(F.col("vec_id").alias("probe_id"),
                F.col("embedding").alias("probe_emb"),
                buckets.alias("probe_buckets"))
    )
    probes = probes.select(
        "probe_id", "probe_emb",
        F.posexplode("probe_buckets").alias("band", "pb"))
    probes = probes.select(
        "probe_id", "probe_emb", "band",
        F.explode(F.array(*(
            [F.col("pb")]
            + [F.col("pb").bitwiseXOR(F.lit(1 << p))
               for p in range(n_planes)]))).alias("probe_bucket"))
    # posexplode_OUTER: the bucket array is a fixed-width expression
    # (one id per band, never empty), so outer emits identical rows —
    # but a non-outer Generate lets Catalyst infer a `size(...) > 0`
    # filter below it that re-evaluates the ENTIRE sketch fold a
    # second time per corpus row (r14; measured 2× the per-row cost in
    # the plan's Filter node)
    corpus = embeddings.select(
        "vec_id", "embedding",
        F.posexplode_outer(buckets).alias("band", "bucket"))
    c, p = corpus.alias("c"), probes.alias("p")
    cand = (
        c.join(broadcast(p),
               (F.col("c.band") == F.col("p.band"))
               & (F.col("c.bucket") == F.col("p.probe_bucket"))
               & (F.col("c.vec_id") != F.col("p.probe_id")))
        .withColumn("cos", F.expr(cosine_sim_sql("p.probe_emb",
                                                 "c.embedding")))
    )
    # band-dedup: within a band the ring values are distinct and a vector
    # has one bucket, so dupes only come from OR-ing bands — max(cos)
    # over identical values, narrow shuffle. Two-level shape (guide
    # §2.2/§2.5, r15): the dedup agg shuffles on the FINE
    # (probe_id, vec_id) key with a map-side partial aggregate BELOW
    # the exchange, so a hot LSH bucket's raw multiplicity combines in
    # the map tasks instead of landing whole on one of ≤ n_probes
    # reducers (the r14 probe-keyed shared exchange bounded agg
    # parallelism at n_probes and shipped every raw candidate row to
    # it). The top-k window's own probe-keyed exchange then carries
    # only the DEDUPED slim rows — the per-probe reducer every
    # per-probe top-k has, at its minimum input.
    pairs = (
        cand.select(F.col("p.probe_id").alias("probe_id"),
                    F.col("c.vec_id").alias("vec_id"), "cos")
        .groupBy("probe_id", "vec_id")
        .agg(F.max("cos").alias("cos"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(),
                                               F.col("vec_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("cos", 4).alias("cos_sim"))
        .orderBy("probe_id", "rank")
    )


def ann_lsh(embeddings: DataFrame, n_probes: int = 5, k: int = DEFAULT_K,
            n_planes: int = N_PLANES,
            n_bands: int = LSH_BANDS) -> DataFrame:
    """Approximate top-k: bucket corpus and probes by ``n_bands``
    independent sign sketches; rank only within band-bucket matches.
    Recall < 1 by design (the declared ``ann_lsh_portable`` twin is
    recall-tested against bruteforce; this any-dim production variant is
    pinned directly in tests/test_dedup_semantics.py); the win is that
    per-probe candidates are |corpus| * B*(n_planes+1)/2^n_planes in
    expectation — at 100 TB with n_planes≈20 the bucket join touches
    thousands, not billions, of rows per probe, and B trades linear
    extra scan work for exponential recall gain on near-dup neighbors.
    """
    buckets = F.array(*[
        _sign_sketch(F.col("embedding"), n_planes,
                     plane_offset=b * n_planes)
        for b in range(n_bands)])
    return _rank_banded_candidates(embeddings, buckets, n_probes, k,
                                   n_bands=n_bands, n_planes=n_planes)


def embedding_stats(embeddings: DataFrame) -> DataFrame:
    """Array/higher-order-function coverage over the vector column: per
    label, average L2 norm and average element mean, computed with
    transform + aggregate entirely JVM-side (the float elements are cast
    to double *before* summing so Spark and DuckDB accumulate
    identically). One shuffle on the small label key."""
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    el_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    per_vec = embeddings.select(
        "label",
        F.sqrt(sq_sum).alias("norm"),
        (el_sum / F.size("embedding")).alias("mean_elem"),
        F.size("embedding").alias("dim"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("dim").alias("dim"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.avg("mean_elem"), 4).alias("avg_mean_elem"),
        )
        .orderBy("label")
    )


def _py_dot(a: list, b: list) -> float:
    """Strict left-to-right fold over dimensions — the SAME accumulation
    order as Spark's ``aggregate(zip_with(...))`` and DuckDB's
    ``list_sum(list_transform(...))``, so all three engines produce
    bit-identical doubles (validated by ann_ivf staying hash-green)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _py_norm(a: list) -> float:
    import math
    return math.sqrt(_py_dot(a, a))


def _py_cos(a: list, b: list, na: float, nb: float) -> float:
    return _py_dot(a, b) / (na * nb) if na > 0 and nb > 0 else 0.0


def _lowest(frame: DataFrame, n: int) -> list[tuple[int, list[float]]]:
    """(vec_id, embedding) of the ``n`` lowest vec_ids, collected to
    the driver — the deterministic training-sample and probe rule every
    IVF tier uses, so any engine can reproduce it (ORDER BY vec_id
    LIMIT n)."""
    return [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in frame.orderBy("vec_id").limit(n)
            .select("vec_id", "embedding").collect()]


IVF_SAMPLE_SIZE = 64
IVF_TRAIN_ITERS = 3


def train_ivf_centroids(sample: list[tuple[int, list[float]]],
                        n_cells: int,
                        n_iters: int = IVF_TRAIN_ITERS) -> list[list[float]]:
    """Deterministic Lloyd's k-means over a fixed sample (ascending
    vec_id), cosine metric, ``n_iters`` iterations. Init = the sample's
    first ``n_cells`` vectors; assignment ties break to the LARGER
    centroid index (mirroring the engine's greatest(struct(cos, cid)));
    an empty cluster keeps its previous centroid. Every accumulation is
    an explicit left-to-right fold in vec_id/dimension order so the
    generated DuckDB twin (unrolled CTE iterations with
    list(... ORDER BY vec_id)) trains bit-identical centroids.

    Scale: training cost is |sample| x n_cells x dim per iteration,
    driver-side — the sample is model-sized by declaration (same budget
    class as collecting the centroid seeds was before)."""
    # Degenerate corpora (fewer vectors than cells, or none at all) train
    # however many cells the sample can seed — the oracle twin unrolls the
    # same rule, and at declared sizes (sample 64 > cells 8) it's a no-op.
    n_cells = min(n_cells, len(sample))
    if n_cells == 0:
        return []
    dim = len(sample[0][1])
    cents = [list(emb) for _, emb in sample[:n_cells]]
    for _ in range(n_iters):
        sums = [[0.0] * dim for _ in range(n_cells)]
        cnts = [0] * n_cells
        norms = [_py_norm(c) for c in cents]
        for _vid, v in sample:  # ascending vec_id
            nv = _py_norm(v)
            _, best = max((_py_cos(c, v, norms[j], nv), j)
                          for j, c in enumerate(cents))
            cnts[best] += 1
            s = sums[best]
            for d in range(dim):
                s[d] = s[d] + v[d]
        cents = [[s[d] / cnts[j] for d in range(dim)] if cnts[j] > 0
                 else cents[j]
                 for j, s in enumerate(sums)]
    return cents


def ann_ivf(embeddings: DataFrame, n_cells: int = 16,
            n_probe_cells: int = 2, n_probes: int = 5,
            k: int = DEFAULT_K) -> DataFrame:
    """IVF-style ANN (the scale path next to ``ann_lsh``): a coarse
    quantizer assigns every vector to its nearest of ``n_cells``
    deterministic centroids (the lowest vec_ids; ``ann_ivf_trained`` is
    the k-means-trained tier); probes search only their
    ``n_probe_cells`` nearest cells.

    Scale: the centroid set IS the model — a handful of vectors that
    live on the driver and are inlined into the plan as literals
    (spark.ml broadcasts k-means model params the same way). Assignment
    is then a pure scalar projection over the scan: no per-centroid row
    blowup, no argmax shuffle, no re-attach join. The probe join touches
    |corpus| * n_probe_cells / n_cells candidates instead of the full
    corpus. Deterministic given the centroid rule, so fully
    value-checked against the generated DuckDB twin
    (``plans.queries._ann_ivf_oracle_sql``).
    """
    cents, probes = _seed_cents_probes(embeddings, n_cells, n_probes)
    return _ivf_rank(embeddings, cents, probes, n_probe_cells, k)


def _seed_cents_probes(embeddings: DataFrame, n_cells: int, n_probes: int
                       ) -> tuple[list, list]:
    """Shared seed model: centroids = embeddings of the ``n_cells``
    lowest vec_ids, probes = the ``n_probes`` lowest (reusing the
    centroid rows when they suffice, one extra model-sized collect when
    n_probes > n_cells). One definition so ``ann_ivf`` and
    ``ann_ivf_filtered`` can never diverge on probe selection."""
    cents = _lowest(embeddings, n_cells)
    probes = (cents[:n_probes] if n_probes <= n_cells
              else _lowest(embeddings, n_probes))
    return cents, probes


def ann_ivf_filtered(embeddings: DataFrame,
                     where: str = "label IN (0, 2, 4, 6, 8)",
                     n_cells: int = 16, n_probe_cells: int = 2,
                     n_probes: int = 5, k: int = DEFAULT_K) -> DataFrame:
    """Filtered ANN — top-k cosine neighbors among corpus vectors that
    satisfy a METADATA predicate (the vector-search "filtered search"
    mode: "nearest docs *where lang = 'en'*"). The IVF index is the
    point: it is built ONCE over the full corpus (same deterministic
    seed centroids as ``ann_ivf`` — a filter never triggers a rebuild),
    and the predicate restricts only the candidate stream.

    Plan shape: the predicate is applied to the corpus frame BEFORE the
    literal-centroid assignment projection, so Catalyst pushes a
    pushable predicate (IN-lists, comparisons on plain columns) all the
    way into the parquet scan (``PushedFilters`` — plan-asserted in
    pytest): non-matching vectors are never decoded, assigned, or
    joined. Per-probe candidates shrink from
    |corpus| × n_probe_cells / n_cells to |match| × n_probe_cells /
    n_cells — filtering makes the query CHEAPER, never a rescan. This
    post-filter-in-cells design is the standard batch answer at 100 TB;
    very selective predicates want smaller n_cells or more probe cells
    to keep per-cell match counts up (recall is measured against the
    filtered brute force in pytest)."""
    cents, probes = _seed_cents_probes(embeddings, n_cells, n_probes)
    return _ivf_rank(embeddings.filter(where), cents, probes,
                     n_probe_cells, k)


def ann_ivf_trained(embeddings: DataFrame, n_cells: int = 8,
                    n_iters: int = IVF_TRAIN_ITERS,
                    sample_size: int = IVF_SAMPLE_SIZE,
                    n_probe_cells: int = 2, n_probes: int = 5,
                    k: int = DEFAULT_K) -> DataFrame:
    """``ann_ivf`` with Lloyd's-trained centroids instead of raw seed
    vectors: same plan shape (literal-centroid scan projection + bucket
    join), better cell balance → better recall at the same probe budget
    (measured in RECALL.md). The sample is the ``sample_size`` lowest
    vec_ids, so both engines can reproduce training exactly."""
    sample = _lowest(embeddings, sample_size)
    cents = list(enumerate(train_ivf_centroids(sample, n_cells, n_iters)))
    probes = sample[:n_probes]
    return _ivf_rank(embeddings, cents, probes, n_probe_cells, k)


def _assign_cells(embeddings: DataFrame,
                  cents: list[tuple[int, list[float]]],
                  keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Literal-centroid assignment projection: (vec_id, embedding,
    *keep_cols, cell) with cell = nearest-centroid argmax. Shared by
    the in-session IVF tiers and the persisted flat index;
    ``keep_cols`` rides extra columns through (the rebuild path keeps
    each posting's original ingest_batch)."""
    # One projected corpus-vector norm, reused by every centroid score —
    # inlining cosine_sim n_cells times would recompute it n_cells times
    # per row.
    emb_n = embeddings.select(
        "vec_id", "embedding", *keep_cols,
        F.expr(l2_norm_sql("embedding")).alias("nrm"))
    return emb_n.select(
        "vec_id", "embedding", *keep_cols,
        F.expr(_cell_argmax_sql(cents, "nrm")).alias("cell"))


def _cell_argmax_sql(cents: list[tuple[int, list[float]]],
                     norm_col: str) -> str:
    """THE nearest-centroid rule as SQL text over ``embedding`` and its
    precomputed L2 norm ``norm_col`` (one norm per row, reused by every
    centroid score), shared by ``_assign_cells`` and ``_pq_assign``.

    The whole argmax is ONE string parsed JVM-side in a single F.expr:
    building ~n_cells*dim literal Column nodes through the Python API
    costs thousands of Py4J round trips (~1.5 s of driver time for
    16x64), while parsing the equivalent text is milliseconds.
    greatest(struct(cos, cent_id)) breaks ties to the larger cent_id;
    greatest() needs >= 2 operands, so a one-centroid model
    (single-vector corpus) assigns every row to that cell outright."""
    if len(cents) == 1:
        return f"{cents[0][0]}L"

    def score(emb: list) -> str:
        cn = _py_norm(emb)
        if cn == 0:
            return "0D"
        arr = "array(" + ",".join(f"{x!r}D" for x in emb) + ")"
        d = (f"aggregate(zip_with({arr}, embedding,"
             " (x, y) -> x * double(y)), 0D, (a, x) -> a + x)")
        return (f"(case when {norm_col} > 0D then {d} / "
                f"({cn!r}D * {norm_col}) else 0D end)")

    return "greatest(" + ",".join(
        f"struct({score(emb)} as cos_c, {cid}L as cent_id)"
        for cid, emb in cents) + ").cent_id"


def _top_probe_cells(cents: list[tuple[int, list[float]]],
                     probes: list[tuple[int, list[float]]],
                     n_probe_cells: int
                     ) -> list[tuple[int, list[float], list[int]]]:
    """(probe_id, probe_emb, routed cells) per probe — THE probe→cell
    routing rule (max cosine, deterministic ties), model-sized driver
    work. One definition shared by the flat index path and the PQ
    path: the PQ-equals-flat probe pin rests on the two tiers routing
    identically, so the routing must be mechanically shared, not
    copied (review r13)."""
    cent_norms = {cid: _py_norm(emb) for cid, emb in cents}
    out = []
    for pid, emb in probes:
        pn = _py_norm(emb)
        scored = [(-_py_cos(cemb, emb, cent_norms[cid], pn), cid)
                  for cid, cemb in cents]
        out.append((pid, emb,
                    [cid for _, cid in sorted(scored)[:n_probe_cells]]))
    return out


def _route_probes(spark, routed: list[tuple[int, list[float], list[int]]]
                  ) -> DataFrame:
    """Probe→cell routing is model-sized work (|probes| × n_cells
    scores): computed driver-side (``_top_probe_cells``), shipped as a
    literal broadcast frame (probe_id, probe_emb, cell)."""
    return spark.createDataFrame(
        [(pid, emb, cell) for pid, emb, cells in routed for cell in cells],
        "probe_id long, probe_emb array<double>, cell long",
    )


def _rank_probe_candidates(assigned: DataFrame, probe_cells: DataFrame,
                           k: int) -> DataFrame:
    """Bucket join + exact per-probe top-k over the routed cells."""
    cand = (
        assigned.join(broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos", F.expr(cosine_sim_sql("probe_emb",
                                                 "embedding")))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "rank",
                F.round("cos", 4).alias("cos_sim"))
        .orderBy("probe_id", "rank")
    )


def _ivf_rank(embeddings: DataFrame,
              cents: list[tuple[int, list[float]]],
              probes: list[tuple[int, list[float]]],
              n_probe_cells: int, k: int) -> DataFrame:
    """Shared IVF execution: literal-centroid assignment projection,
    driver-side probe→cell routing, bucket join, per-probe top-k."""
    # Zero-row corpus (a fully-pruned partition, an empty tenant): there
    # is nothing to index or probe — return an empty, correctly-schemed
    # result instead of building a degenerate argmax expression.
    if not cents or not probes:
        return embeddings.sparkSession.createDataFrame(
            [], "probe_id long, neighbor_id long, rank int, cos_sim double")
    assigned = _assign_cells(embeddings, cents)
    probe_cells = _route_probes(
        embeddings.sparkSession,
        _top_probe_cells(cents, probes, n_probe_cells))
    return _rank_probe_candidates(assigned, probe_cells, k)


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization on top of the IVF coarse quantizer


# 8 subspaces × 16 centroids = 8-byte codes on the fixture's dim-64
# vectors (64× smaller than float32); with the refine stage this
# matches the full-precision IVF tier's recall (RECALL.md).
PQ_M = 8          # subspaces
# r9: 16 -> 64 centroids per subspace (6-bit codes, still 1 B/subspace
# stored) trained on a 256-vector sample — with residual encoding this
# lifts refine-tier recall 0.76 -> 0.84 at BOTH sf0.01/sf0.1 and gets
# ADC-only to ~0.5 on the weak fixture geometry (RECALL.md ladder)
PQ_KSUB = 64      # centroids per subspace (6-bit codes)
PQ_SAMPLE_SIZE = 256


def _train_pq_codebooks(sample_vecs: list[list[float]], m: int = PQ_M,
                        ksub: int = PQ_KSUB,
                        n_iters: int = IVF_TRAIN_ITERS
                        ) -> list[list[list[float]]]:
    """Deterministic per-subspace L2 Lloyd's over a fixed sample: split
    each dim-D vector into ``m`` contiguous D/m-dim sub-vectors, train
    ``ksub`` centroids per subspace (init = the sample's first ksub
    sub-vectors, assignment ties to the LARGER code — mirroring the
    engine's greatest(struct(-dist, code)) — empty clusters keep their
    previous centroid). Model size: m * ksub * D/m = ksub * D doubles —
    driver/plan-literal class, like the coarse centroids."""
    if not sample_vecs:
        return []
    dim = len(sample_vecs[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    import numpy as np
    arr = np.asarray(sample_vecs, dtype=np.float64)
    books: list[list[list[float]]] = []
    for j in range(m):
        subs = arr[:, j * dsub:(j + 1) * dsub]          # (n, dsub)
        k = min(ksub, len(subs))
        cents = subs[:k].copy()                          # (k, dsub)
        for _ in range(n_iters):
            # ||s - c||^2 for every (sample, centroid) pair in one op;
            # the larger-code tie-break (greatest(struct(-d, code))
            # semantics) falls out of argmin over the REVERSED centroid
            # axis (argmin takes the first minimum = the largest code)
            d2 = ((subs[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            best = k - 1 - np.argmin(d2[:, ::-1], axis=1)
            sums = np.zeros_like(cents)
            np.add.at(sums, best, subs)
            cnts = np.bincount(best, minlength=k).astype(np.float64)
            nonempty = cnts > 0
            cents[nonempty] = sums[nonempty] / cnts[nonempty, None]
        books.append(cents.tolist())
    return books


def assign_cells_py(vecs: list[list[float]],
                    cents: list[list[float]]) -> list[int]:
    """Driver-side twin of the SQL coarse-assignment rule (max cosine,
    ties -> highest cell id, zero-norm -> highest cell id — the
    greatest()-over-structs semantics)."""
    cent_norms = [_py_norm(c) for c in cents]
    out = []
    for v in vecs:
        nv = _py_norm(v)
        _, best = max((_py_cos(c, v, cent_norms[ci], nv), ci)
                      for ci, c in enumerate(cents))
        out.append(best)
    return out


def pq_residuals(vecs: list[list[float]],
                 cents: list[list[float]]) -> list[list[float]]:
    """x − c(cell(x)) per training vector — what residual-PQ codebooks
    train on (the FAISS IVFPQ ``by_residual`` default): after the coarse
    quantizer explains the between-cell structure, the codes only have
    to carry the WITHIN-cell offsets, whose spread is far smaller, so
    the same m×ksub budget buys much finer resolution."""
    cells = assign_cells_py(vecs, cents)
    return [[x - c for x, c in zip(v, cents[cell])]
            for v, cell in zip(vecs, cells)]


def _pq_codes_sql(books: list[list[list[float]]],
                  residual_col: str | None = None) -> str:
    """The argmin-L2 PQ code of every subspace as ONE parsed SQL
    expression (Py4J-avoidance, see ``pq_encode``). With
    ``residual_col`` the distance is measured from the RESIDUAL
    (embedding − that row's coarse centroid, supplied as an array
    column) — encoding stays a pure projection either way.

    Form matters at ksub=64: the r8 ``greatest(struct(-d, code))``
    unrolling inlined the residual subexpression once PER CENTROID
    (64 copies per subspace — codegen-dominated plans, ~10 s of
    compile at sf0.1). This form computes the per-centroid distances
    into ONE array via ``transform`` over a nested-array codebook
    literal stored in REVERSED order, then takes
    ``array_position(ds, array_min(ds))`` — first minimum in reversed
    order == the LARGEST original code, i.e. exactly the old
    greatest()-over-structs tie-break, with identical per-centroid
    fold arithmetic and a ~ksub× smaller expression tree."""
    m = len(books)
    dsub = len(books[0][0]) if m else 0

    def code_sql(j: int) -> str:
        k = len(books[j])
        if k == 1:
            return "0"
        sub = f"slice(embedding, {j * dsub + 1}, {dsub})"
        if residual_col is None:
            res = f"transform({sub}, x -> double(x))"
        else:
            csub = f"slice({residual_col}, {j * dsub + 1}, {dsub})"
            res = f"zip_with({sub}, {csub}, (x, c) -> double(x) - c)"
        book_rev = "array(" + ",".join(
            "array(" + ",".join(f"{x!r}D" for x in c) + ")"
            for c in reversed(books[j])) + ")"
        ds = (f"transform({book_rev}, c -> "
              f"aggregate(zip_with({res}, c, (r, y) -> "
              f"(r - y) * (r - y)), 0D, (a, x) -> a + x))")
        return (f"cast({k} - array_position(ds_{j}, "
                f"array_min(ds_{j})) as int)"
                .replace(f"ds_{j}", f"({ds})"))

    return "array(" + ",".join(code_sql(j) for j in range(m)) + ")"


def pq_encode(embeddings: DataFrame,
              books: list[list[list[float]]]) -> DataFrame:
    """Scan-side PQ encoding: per subspace, the argmin-L2 code against
    the literal codebook — the whole m × ksub distance argmax is ONE
    parsed SQL expression (same Py4J-avoidance as ``_ivf_rank``), so
    encoding is a pure projection: no shuffle, no Python, and the output
    is ``(vec_id, codes array<int>, vnorm)`` — m bytes of code (ksub ≤
    256) + one double per vector instead of D floats: the 100 TB memory
    story (a 10⁹ × 128-dim float corpus is 512 GB raw, 12 GB encoded)."""
    return embeddings.select(
        "vec_id", "embedding",
        F.expr(_pq_codes_sql(books)).alias("codes"),
        F.expr(l2_norm_sql("embedding")).alias("vnorm"))


def ann_ivf_pq(embeddings: DataFrame, n_cells: int = 8,
               n_probe_cells: int = 2, n_probes: int = 5,
               k: int = DEFAULT_K, m: int = PQ_M,
               ksub: int = PQ_KSUB,
               sample_size: int = PQ_SAMPLE_SIZE,
               refine: int = 32,
               by_residual: bool = True) -> DataFrame:
    """IVF-PQ ANN (Jégou et al. 2011, "Product Quantization for Nearest
    Neighbor Search" — the memory-bound scale tier FAISS's IVFPQ index
    implements): the IVF coarse quantizer routes probes to cells, and
    within a cell candidates are scored from their m-byte PQ codes via
    ADC (asymmetric distance computation) — the probe precomputes a
    LUT[j][c] = <probe_subj, centroid_jc> table (model-sized,
    driver-side), and a candidate's approximate dot product is m LUT
    lookups instead of a D-dim product against a vector that, at 100 TB,
    no longer fits anywhere. Approximate cosine divides by the stored
    per-vector norm (the FAISS cosine/IP recipe).

    Plan shape: one scan-side encode projection (cell + codes + norm),
    one broadcast bucket join on cell, LUT scoring via
    zip_with(codes, lut) — no Python rows anywhere. ``refine`` adds the
    standard two-stage finish (FAISS IndexRefineFlat): ADC picks a
    ``refine × k`` shortlist from codes alone, then ONLY the shortlist
    re-ranks by exact cosine against re-fetched full vectors — at 100 TB
    the full-precision corpus is touched for probes × refine × k rows
    instead of every candidate, which is the point of the codes.
    ``refine=0`` disables (pure-ADC ranking).

    ``by_residual`` (default, the FAISS IVFPQ default) encodes each
    vector's RESIDUAL against its coarse centroid instead of the raw
    vector: the codes spend their m×ksub budget on within-cell offsets
    only, and the probe recovers <q, x> ≈ <q, c_cell> + Σ_j LUT[j][code]
    — the cell term is exact (model-sized driver arithmetic), only the
    residual is quantized, which is what lifts ADC-only recall on weak
    geometry (measured in RECALL.md; r8 raw codes floored at 0.20–0.32).
    Pytest tier: exact parity is meaningless for a lossy code; the
    contract is the recall floor vs bruteforce (RECALL.md) plus
    deterministic encoding."""
    sample = _lowest(embeddings, sample_size)
    if not sample:
        return embeddings.sparkSession.createDataFrame(
            [], "probe_id long, neighbor_id long, rank int, approx_cos double")
    cents = list(enumerate(train_ivf_centroids(
        sample, n_cells, IVF_TRAIN_ITERS)))
    vecs = [v for _, v in sample]
    books = _train_pq_codebooks(
        pq_residuals(vecs, [c for _, c in cents]) if by_residual
        else vecs, m, ksub)
    assigned = _pq_assign(embeddings, cents, books, by_residual)
    probe_df = _pq_probe_frame(
        embeddings.sparkSession, IndexModel(cents, books, by_residual),
        _top_probe_cells(cents, sample[:n_probes], n_probe_cells))
    return _adc_rank(assigned, probe_df, k, refine,
                     embeddings.select("vec_id", "embedding"),
                     out_col="approx_cos")


def _pq_assign(embeddings: DataFrame,
               cents: list[tuple[int, list[float]]],
               books: list[list[list[float]]],
               by_residual: bool,
               keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(vec_id, codes, vnorm, *keep_cols, cell): coarse cell + PQ
    codes + stored norm — ONE encode projection (residual mode adds a
    broadcast join against the model-sized centroid table so the code
    expression can subtract the row's own centroid). Shared by the
    in-session ``ann_ivf_pq`` and the persisted PQ index."""
    encoded = embeddings.select(
        "vec_id", "embedding", *keep_cols,
        F.expr(l2_norm_sql("embedding")).alias("vnorm"))
    with_cell = encoded.withColumn(
        "cell", F.expr(_cell_argmax_sql(cents, "vnorm")))
    if by_residual:
        cents_df = embeddings.sparkSession.createDataFrame(
            [(cid, c) for cid, c in cents], "cell long, cvec array<double>")
        return (with_cell.join(broadcast(cents_df), "cell")
                .select("vec_id", F.expr(
                    _pq_codes_sql(books, residual_col="cvec"))
                    .alias("codes"), "vnorm", *keep_cols, "cell"))
    return with_cell.select(
        "vec_id", F.expr(_pq_codes_sql(books)).alias("codes"),
        "vnorm", *keep_cols, "cell")


def _pq_probe_frame(spark, model: IndexModel,
                    routed: list[tuple[int, list[float], list[int]]]
                    ) -> DataFrame:
    """(probe_id, probe_emb, pnorm, lut, cell, qc): the routed probes
    (``_top_probe_cells`` — the SAME rule the flat index probes with,
    the PQ-equals-flat pin's precondition) + the per-probe ADC LUT
    (LUT[j][c] = <probe_subj, centroid_jc>) — all model-sized driver
    work, shipped as one literal broadcast frame. Residual mode
    carries the exact <q, c_cell> term (``qc``) the quantized residual
    rides on."""
    books = model.books
    m = len(books)
    dsub = len(books[0][0])
    cent_by_id = dict(model.cents)
    probe_rows = []
    for pid, emb, cells in routed:
        pn = _py_norm(emb)
        lut = [[_py_dot(emb[j * dsub:(j + 1) * dsub], c)
                for c in books[j]] for j in range(m)]
        for cell in cells:
            qc = (_py_dot(emb, cent_by_id[cell]) if model.by_residual
                  else 0.0)
            probe_rows.append((pid, emb, pn, lut, cell, qc))
    return spark.createDataFrame(
        probe_rows,
        "probe_id long, probe_emb array<double>, pnorm double, "
        "lut array<array<double>>, cell long, qc double")


def _adc_rank(assigned: DataFrame, probe_df: DataFrame, k: int,
              refine: int, fetch_vectors: DataFrame,
              out_col: str = "cos_sim") -> DataFrame:
    """ADC scoring + optional exact refine: broadcast bucket join on
    cell, approximate cosine from m LUT lookups, per-probe top-k —
    and with ``refine > 0`` the two-stage finish: ADC picks a
    ``refine × k`` shortlist from the codes alone, then ONLY the
    shortlist re-ranks by exact cosine against ``fetch_vectors``
    (vec_id, embedding) — the full-precision source the codes spare
    (at 100 TB: probes × refine × k row fetches instead of a corpus
    scan)."""
    adc = F.aggregate(
        F.zip_with("codes", "lut", lambda c, row: F.element_at(row, c + 1)),
        F.lit(0.0), lambda a, x: a + x)
    cand = (assigned.join(broadcast(probe_df), "cell")
            .filter(F.col("vec_id") != F.col("probe_id"))
            .withColumn("approx",
                        F.when((F.col("pnorm") > 0) & (F.col("vnorm") > 0),
                               (F.col("qc") + adc)
                               / (F.col("pnorm") * F.col("vnorm")))
                        .otherwise(F.lit(0.0))))
    w_adc = Window.partitionBy("probe_id").orderBy(
        F.col("approx").desc(), F.col("vec_id").asc())
    if refine <= 0:
        return (cand.withColumn("rank", F.row_number().over(w_adc))
                .filter(F.col("rank") <= k)
                .select("probe_id", F.col("vec_id").alias("neighbor_id"),
                        "rank", F.round("approx", 4).alias(out_col))
                .orderBy("probe_id", "rank"))
    shortlist = (cand.withColumn("arank", F.row_number().over(w_adc))
                 .filter(F.col("arank") <= refine * k)
                 .select("probe_id", "probe_emb", "vec_id"))
    # exact re-rank touches only the shortlist's full vectors
    exact = (shortlist
             .join(fetch_vectors.select("vec_id", "embedding"), "vec_id")
             .withColumn("cos", F.expr(cosine_sim_sql("probe_emb",
                                                      "embedding"))))
    w_x = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    return (exact.withColumn("rank", F.row_number().over(w_x))
            .filter(F.col("rank") <= k)
            .select("probe_id", F.col("vec_id").alias("neighbor_id"),
                    "rank", F.round("cos", 4).alias(out_col))
            .orderBy("probe_id", "rank"))


# ---------------------------------------------------------------------------
# Persisted vector index: build once, extend per arrival batch, probe many.
#
# One index serves both tiers. ``{path}/model`` holds one model format,
# (kind, idx, sub, vec) rows: a ``meta`` row (vec[0] = the by_residual
# flag), the ``coarse`` centroids (idx = cell id) and, for the PQ tier
# only, the ``pq`` codebook rows (sub = subspace, idx = code).
# ``{path}/postings`` holds one row per indexed vector, partitioned by
# (ingest_batch, cell), so a probe reads only its routed cells'
# partitions and an extension rewrites only its own batch. A flat
# model's postings carry (vec_id, embedding); a PQ model's carry
# (vec_id, codes, vnorm) — m ints + one norm, ~32× smaller at dim 64,
# the difference between an index that fits hot storage at 100 TB and
# one that doesn't — and its probes refine the code shortlist against
# the full-precision corpus. Which payload a posting carries is read
# from the stored model (pq rows or none), so build, extension,
# retraction, snapshot reads and rebuild are one code path; the tiers'
# public entry points differ only in training settings and ranker.
#
# Both tiers train the coarse quantizer with the SAME rule (the lowest
# ``sample_size`` vec_ids, ``_train_model``), so they route probes
# identically: whenever refine × k covers the routed cells' contents
# (true at the fixture sizes) the PQ-refined top-k EQUALS the flat
# probe exactly (tests/test_vector_index.py); RECALL.md carries the
# measured floors where refine binds.

PQ_REFINE = 32
_MODEL_COLUMNS = ["kind", "idx", "sub", "vec"]


class IndexModel(NamedTuple):
    """A persisted index's model: the coarse quantizer ``cents``
    ((cell id, centroid) pairs), the per-subspace PQ codebooks
    ``books`` (empty for a flat index) and ``by_residual`` (codes
    encode x − c(cell(x)) rather than x)."""
    cents: list[tuple[int, list[float]]]
    books: list[list[list[float]]]
    by_residual: bool


class NoVectorIndexModel(ValueError):
    """Raised by ``load_vector_index_model`` when ``{path}/model`` is
    absent or holds no centroids (an index built over an empty batch)
    — a DEDICATED sentinel so callers with a train-on-first-batch
    fallback (``streaming.vector_stream``) can distinguish "no model
    yet" from any other ValueError: catching bare ValueError there
    would route an unexpected error into ``write_vector_index``, whose
    postings write is a full overwrite that silently wipes every
    previously ingested batch (advice r10). Subclasses ValueError so
    pre-existing callers keep working."""


def _train_model(vectors: DataFrame, n_cells: int, n_iters: int,
                 sample_size: int, m: int = PQ_M, ksub: int = PQ_KSUB,
                 pq_sample_size: int = 0,
                 by_residual: bool = False) -> IndexModel:
    """THE training rule of every build and rebuild, both tiers: the
    coarse quantizer is Lloyd's over the lowest ``sample_size`` vec_ids
    (``ann_ivf_trained``'s sample, so a flat probe is bit-identical to
    that tier and inherits its DuckDB oracle); codebooks train on the
    lowest ``pq_sample_size`` — on their coarse residuals when
    ``by_residual``. ``pq_sample_size=0`` trains none: a flat model."""
    sample = _lowest(vectors, max(sample_size, pq_sample_size))
    coarse = train_ivf_centroids(sample[:sample_size], n_cells, n_iters)
    vecs = [v for _, v in sample[:pq_sample_size]]
    books = _train_pq_codebooks(
        pq_residuals(vecs, coarse) if by_residual else vecs, m, ksub)
    return IndexModel(list(enumerate(coarse)), books, by_residual)


def _save_model(spark, model: IndexModel, path: str) -> None:
    """Write ``{path}/model`` — the one model writer. Total size:
    n_cells·D (+ ksub·D for PQ) doubles + one meta row."""
    rows = [("meta", 0, 0, [1.0 if model.by_residual else 0.0])]
    rows += [("coarse", i, 0, c) for i, c in model.cents]
    rows += [("pq", ci, j, c)
             for j, book in enumerate(model.books)
             for ci, c in enumerate(book)]
    spark.createDataFrame(
        rows, "kind string, idx long, sub long, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/model")


def load_vector_index_model(spark, path: str) -> IndexModel:
    """Read ``{path}/model`` — the one model reader, for both tiers.

    Raises ``NoVectorIndexModel`` when no model was built yet (absent,
    or written over an empty batch), and a plain ValueError when the
    directory holds anything but the (kind, idx, sub, vec) format, such
    as the older flat (cent_id, centroid) model: mistaking that for "no
    model yet" would send a streaming step into ``write_vector_index``,
    whose full postings overwrite wipes every ingested batch, so it
    fails closed instead (rebuild the index from its corpus with
    ``write_vector_index``)."""
    from pyspark.errors import AnalysisException
    try:
        frame = spark.read.parquet(f"{path}/model")
    except AnalysisException:
        frame = None
    if frame is not None and frame.columns != _MODEL_COLUMNS:
        raise ValueError(
            f"{path}/model has columns {frame.columns}, not the vector "
            f"index model format {_MODEL_COLUMNS} — rebuild the index "
            "with write_vector_index / write_vector_index_pq")
    rows = frame.collect() if frame is not None else []
    cents = sorted((int(r["idx"]), [float(x) for x in r["vec"]])
                   for r in rows if r["kind"] == "coarse")
    if not cents:
        raise NoVectorIndexModel(
            f"no vector index model at {path}/model — build the index "
            "with write_vector_index first (or write_vector_index_pq; "
            "extensions encode with the STORED model, they never train)")
    pq = sorted((int(r["sub"]), int(r["idx"]), [float(x) for x in r["vec"]])
                for r in rows if r["kind"] == "pq")
    n_sub = 1 + max((j for j, _, _ in pq), default=-1)
    books = [[v for j, _, v in pq if j == sub] for sub in range(n_sub)]
    by_residual = any(r["kind"] == "meta" and r["vec"][0] > 0
                      for r in rows)
    return IndexModel(cents, books, by_residual)


def _encode(vectors: DataFrame, model: IndexModel,
            keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Postings rows for ``vectors`` under ``model`` — what the stored
    model says a posting carries: PQ codes when it has codebooks, the
    full vector otherwise. Both are one scan-side projection."""
    if model.books:
        return _pq_assign(vectors, model.cents, model.books,
                          model.by_residual, keep_cols)
    return _assign_cells(vectors, model.cents, keep_cols)


def _commit_postings(encoded: DataFrame, dest: str, overwrite: str) -> None:
    """THE postings write, (ingest_batch, cell) layout. ``"static"``
    replaces the whole tree (a build or rebuild); ``"dynamic"`` replaces
    only the ingest_batch partitions ``encoded`` carries — the
    exactly-once convention of ``streaming/run.py:commit_batch``: a
    crashed-and-rerun extension replaces its own partition
    byte-for-byte and never touches earlier batches."""
    (encoded.write.mode("overwrite")
     .option("partitionOverwriteMode", overwrite)
     .partitionBy("ingest_batch", "cell")
     .parquet(dest))


def _build(vectors: DataFrame, path: str, batch_id: int,
           **train) -> None:
    model = _train_model(vectors, **train)
    _save_model(vectors.sparkSession, model, path)
    if model.cents:
        _commit_postings(_encode(vectors, model)
                         .withColumn("ingest_batch", F.lit(batch_id)),
                         f"{path}/postings", "static")


def write_vector_index(embeddings: DataFrame, path: str,
                       n_cells: int = 8, n_iters: int = IVF_TRAIN_ITERS,
                       sample_size: int = IVF_SAMPLE_SIZE,
                       batch_id: int = 0) -> None:
    """Build the flat persisted index — model AND posting lists: the
    corpus is assigned once (the scan-side literal-centroid argmax of
    ``ann_ivf_trained``) and written under ``{path}/postings``, so
    probe cost ∝ probed cells × cell size, independent of corpus size.

    Training is ``ann_ivf_trained``'s (lowest ``sample_size``
    vec_ids), so ``ann_query_index`` over this index is bit-identical
    to the in-session trained tier (doubles round-trip parquet exactly)
    — pinned in ``tests/test_vector_index.py``. The postings land in
    ``ingest_batch=<batch_id>``, the layout extensions append to: the
    streaming tier's train-on-first-nonempty-batch fallback needs the
    building batch to own its true partition id, so a checkpoint
    replay (which takes the extend path once the model exists)
    overwrites the SAME partition. The postings write is a FULL
    overwrite. At 100 TB, cells are also the skew unit: n_cells grows
    ∝ corpus (the SemDeDup convention) so partitions stay bounded."""
    _build(embeddings, path, batch_id, n_cells=n_cells, n_iters=n_iters,
           sample_size=sample_size)


def write_vector_index_pq(embeddings: DataFrame, path: str,
                          n_cells: int = 8, m: int = PQ_M,
                          ksub: int = PQ_KSUB,
                          n_iters: int = IVF_TRAIN_ITERS,
                          sample_size: int = IVF_SAMPLE_SIZE,
                          pq_sample_size: int = PQ_SAMPLE_SIZE,
                          batch_id: int = 0,
                          by_residual: bool = True) -> None:
    """Build the PQ-coded persisted index: the flat index's coarse
    training rule, plus ``m`` codebooks of ``ksub`` codes trained on
    the lowest ``pq_sample_size`` vectors (their coarse residuals when
    ``by_residual``, the FAISS IVFPQ default); postings hold (vec_id,
    codes, vnorm). Same layout and batch contract as
    ``write_vector_index``."""
    _build(embeddings, path, batch_id, n_cells=n_cells, n_iters=n_iters,
           sample_size=sample_size, m=m, ksub=ksub,
           pq_sample_size=pq_sample_size, by_residual=by_residual)


def extend_vector_index(batch: DataFrame, path: str,
                        batch_id: int) -> None:
    """Incrementally extend an index with a new batch of vectors — the
    production IVF lifecycle: the model is trained ONCE (never touched
    here) and every later batch is merely ASSIGNED (and, for a PQ
    index, encoded) with it, then dynamic-overwrites only
    ``ingest_batch=<batch_id>`` — ingest cost is one scan-side
    projection over the batch, independent of index size, and a
    crash-rerun replaces its own partition. Extend-batch-by-batch is
    bit-identical to a one-shot build over the union whenever the
    first batch holds the training sample (pinned in
    tests/test_vector_index.py). Raises ``NoVectorIndexModel`` when
    there is no model yet."""
    model = load_vector_index_model(batch.sparkSession, path)
    _commit_postings(_encode(batch, model)
                     .withColumn("ingest_batch", F.lit(batch_id)),
                     f"{path}/postings", "dynamic")


def extend_vector_index_pq(batch: DataFrame, path: str,
                           batch_id: int) -> None:
    """``extend_vector_index`` for a PQ index (the stored model says
    the postings carry codes)."""
    extend_vector_index(batch, path, batch_id)


def _probe(probes_df: DataFrame, path: str, n_probe_cells: int,
           n_probes: int, before_batch: int | None, rank) -> DataFrame:
    """The probe skeleton both tiers share: load the model, route the
    lowest-id probes driver-side, scan only the routed cells' postings
    (``PartitionFilters`` on cell, plan-asserted) in the
    ``before_batch`` snapshot, and hand them to the tier's ``rank``
    (postings, routed probes, model)."""
    spark = probes_df.sparkSession
    try:
        model = load_vector_index_model(spark, path)
    except NoVectorIndexModel:          # an index over an empty corpus
        model = None
    probes = _lowest(probes_df, n_probes)
    if model is None or not probes:
        return spark.createDataFrame(
            [], "probe_id long, neighbor_id long, rank int, cos_sim double")
    routed = _top_probe_cells(model.cents, probes, n_probe_cells)
    cells = sorted({c for _, _, cs in routed for c in cs})
    postings = (spark.read.parquet(f"{path}/postings")
                .filter(F.col("cell").isin(cells)))
    if before_batch is not None:
        postings = postings.filter(F.col("ingest_batch") < before_batch)
    return rank(postings, routed, model)


def ann_query_index(probes_df: DataFrame, path: str,
                    n_probe_cells: int = 2, n_probes: int = 5,
                    k: int = DEFAULT_K,
                    before_batch: int | None = None) -> DataFrame:
    """Probe a flat index: exact cosine top-k among the routed cells'
    postings — the corpus is never re-read, re-assigned, or shuffled.
    Probes come from ``probes_df`` (lowest ``n_probes`` vec_ids, the
    repo's probe convention), which need not be the indexed corpus —
    the build-once/probe-many split.

    ``before_batch`` restricts the scan to ``ingest_batch <
    before_batch`` partitions — the dedup index's snapshot-read
    contract (``dedup.near_dedup_vs_index``): the returned frame is
    LAZY, so a probe racing a concurrent extension (or re-evaluated
    after one) would otherwise see that extension's partial or
    complete postings. Pass the batch id about to be written and the
    probe is pinned to the committed snapshot (pinned in
    tests/test_vector_index.py). An index over an empty corpus probes
    empty."""
    spark = probes_df.sparkSession
    return _probe(probes_df, path, n_probe_cells, n_probes, before_batch,
                  lambda postings, routed, _model: _rank_probe_candidates(
                      postings, _route_probes(spark, routed), k))


def ann_query_index_pq(probes_df: DataFrame, corpus: DataFrame,
                       path: str, n_probe_cells: int = 2,
                       n_probes: int = 5, k: int = DEFAULT_K,
                       refine: int = PQ_REFINE,
                       before_batch: int | None = None) -> DataFrame:
    """Probe a PQ index: the routing, pruning and snapshot contract of
    ``ann_query_index``, with ADC scoring (driver-side LUTs) picking a
    refine × k shortlist from the codes alone; ONLY the shortlist joins
    ``corpus`` (vec_id, embedding — the full-precision parquet) for the
    exact re-rank. Output schema matches ``ann_query_index`` (cos_sim =
    exact cosine after refine), which is what the equality pin
    compares."""
    spark = probes_df.sparkSession
    return _probe(probes_df, path, n_probe_cells, n_probes, before_batch,
                  lambda postings, routed, model: _adc_rank(
                      postings, _pq_probe_frame(spark, model, routed), k,
                      refine, corpus))


def _neighbor_sets(df: DataFrame) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(int(r["probe_id"]), set()).add(int(r["neighbor_id"]))
    return out


def _recall(exact_source: DataFrame, probed: DataFrame, n_probes: int,
            k: int) -> dict:
    """The recall monitor: ``probed``'s neighbor lists against the
    EXACT brute-force top-k over ``exact_source`` — the sampled floor a
    pipeline computes after every extension batch, because quantizer
    drift is silent (centroids are trained once; as the corpus grows
    and drifts, cells skew and probe recall decays with no error
    anywhere). Cost: one corpus scan against n_probes broadcast probes
    (``knn_bruteforce`` shape) — priced like one extra probe batch."""
    exact = _neighbor_sets(knn_bruteforce(exact_source, n_probes=n_probes,
                                          k=k))
    got = _neighbor_sets(probed)
    hits = sum(len(exact[p] & got.get(p, set())) for p in exact)
    total = sum(len(v) for v in exact.values())
    return {"hits": hits, "total": total,
            "recall": hits / total if total else 1.0}


def vector_index_recall(spark, path: str, n_probes: int = 5,
                        k: int = DEFAULT_K,
                        n_probe_cells: int = 2) -> dict:
    """Recall of a flat index against brute force over the index's own
    vectors; probes are the ``n_probes`` lowest vec_ids. Returns
    {"hits", "total", "recall"}. When recall sinks below the pipeline's
    floor, ``rebuild_vector_index`` retrains the quantizer in place."""
    vectors = (spark.read.parquet(f"{path}/postings")
               .select("vec_id", "embedding"))
    return _recall(vectors, ann_query_index(
        vectors, path, n_probe_cells=n_probe_cells, n_probes=n_probes,
        k=k), n_probes, k)


def vector_index_recall_pq(spark, path: str, corpus: DataFrame,
                           n_probes: int = 5, k: int = DEFAULT_K,
                           n_probe_cells: int = 2,
                           refine: int = PQ_REFINE) -> dict:
    """``vector_index_recall`` for a PQ index: the index holds codes,
    not vectors, so the exact floor and the probes come from the
    full-precision ``corpus``."""
    return _recall(corpus, ann_query_index_pq(
        corpus, corpus, path, n_probe_cells=n_probe_cells,
        n_probes=n_probes, k=k, refine=refine), n_probes, k)


def retract_vector_index_keys(spark, path: str, vec_ids) -> dict:
    """Retract vectors BY KEY from a persisted index, either tier —
    the vector twin of ``dedup.retract_index_keys``: a refresh crawl
    re-embeds changed pages and must first remove their stale vectors,
    and batch-level retention (``expire``) cannot name individual
    pages. Removes every posting whose ``vec_id`` is in ``vec_ids``,
    rewriting ONLY the ``(ingest_batch, cell)`` partitions that contain
    them (``sources.sinks.retract_keys_from_parquet`` — tmp/old rename
    protocol, crash-rerunnable, untouched partitions byte-identical).

    The MODEL is deliberately untouched: extensions assign with the
    stored centroids, so retraction must not retrain (a probe would
    otherwise route against centroids the survivors were never assigned
    with). Centroid refresh is ``rebuild_vector_index``. Pinned in
    tests/test_index_retract.py: grown-then-retracted equals a fresh
    build over the survivors whenever the retracted ids lie outside the
    training sample; retraction that would empty the postings is
    refused."""
    from ..sources.sinks import retract_keys_from_parquet

    return {"postings": retract_keys_from_parquet(
        spark, f"{path}/postings", "vec_id", vec_ids)}


def _rebuild(spark, path: str, vectors_of, **train) -> None:
    """Retrain the model over the GROWN index and re-encode every
    posting, keeping the stored encoding mode (hardcoding residual
    would silently flip a raw-code index's ADC semantics) and each
    posting's ``ingest_batch`` (so ``before_batch`` snapshot reads stay
    meaningful). ``vectors_of(postings)`` gives the (vec_id, embedding,
    ingest_batch) rows to re-encode, one per posting.

    Crash safety: the new model+postings are built complete at a
    sibling ``__rebuild_tmp`` tree, then swapped in with the tmp/old
    rename pair (the ``compact_parquet`` protocol) — re-runnable after
    a crash at any point; readers never see a half-rebuilt index."""
    from ..sources.sinks import commit_swap, recover_swap, swap_paths

    local, tmp, old = swap_paths(path, "rebuild")
    recover_swap(local, tmp, old, "rebuild")
    by_residual = load_vector_index_model(spark, path).by_residual
    vectors = vectors_of(spark.read.parquet(f"{path}/postings"))
    model = _train_model(vectors, by_residual=by_residual, **train)
    _save_model(spark, model, f"file://{tmp}")
    if model.cents:
        _commit_postings(_encode(vectors, model, ("ingest_batch",)),
                         f"file://{tmp}/postings", "static")
    commit_swap(local, tmp, old, "rebuild")


def rebuild_vector_index(spark, path: str, n_cells: int = 8,
                         n_iters: int = IVF_TRAIN_ITERS,
                         sample_size: int = IVF_SAMPLE_SIZE) -> None:
    """Retrain a flat index's quantizer over the grown index and
    re-assign every posting in place — the lifecycle step extensions
    deliberately skip (they assign with stored centroids so ingest
    stays cheap; after enough drift the recall monitor says it's time).
    Training is the build's rule over the WHOLE index, so a rebuilt
    index is pinned EQUAL to ``write_vector_index`` over the same
    vectors (tests/test_index_retract.py)."""
    _rebuild(spark, path,
             lambda postings: postings.select("vec_id", "embedding",
                                              "ingest_batch"),
             n_cells=n_cells, n_iters=n_iters, sample_size=sample_size)


def rebuild_vector_index_pq(spark, path: str, corpus: DataFrame,
                            n_cells: int = 8, m: int = PQ_M,
                            ksub: int = PQ_KSUB,
                            n_iters: int = IVF_TRAIN_ITERS,
                            sample_size: int = IVF_SAMPLE_SIZE,
                            pq_sample_size: int = PQ_SAMPLE_SIZE
                            ) -> None:
    """``rebuild_vector_index`` for a PQ index: the postings hold codes
    only, so each posting's vector comes from the full-precision
    ``corpus`` (one row per vec_id). A posting whose vec_id the corpus
    no longer carries is a retraction the caller skipped — it raises
    rather than silently dropping rows."""
    def vectors_of(postings: DataFrame) -> DataFrame:
        posts = (postings.select("vec_id", "ingest_batch")
                 .join(corpus.select("vec_id", "embedding"), "vec_id",
                       "left"))
        n_lost = posts.filter(F.col("embedding").isNull()).count()
        if n_lost:
            raise ValueError(
                f"rebuild_vector_index_pq: {n_lost} postings have no "
                "corpus vector — retract them first "
                "(retract_vector_index_keys), the rebuild never drops "
                "rows silently")
        return posts

    _rebuild(spark, path, vectors_of, n_cells=n_cells, n_iters=n_iters,
             sample_size=sample_size, m=m, ksub=ksub,
             pq_sample_size=pq_sample_size)
