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
    from ..functions.partitioning import spread_for_compute
    probes = (
        embeddings.orderBy("vec_id").limit(n_probes)
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb"))
    )
    # |probes| interpreted cosine folds per corpus row — floor the scan
    # parallelism so one small row group can't serialize them
    scored = (
        spread_for_compute(embeddings, "vec_id").alias("c")
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
    from ..functions.partitioning import spread_for_compute
    probes = (
        embeddings.orderBy("vec_id").limit(n_probes)
        .select(F.col("vec_id").alias("probe_id"),
                F.col("embedding").alias("probe_emb"),
                F.col("label").alias("true_label")))
    scored = (
        spread_for_compute(embeddings, "vec_id")
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
    from ..functions.partitioning import spread_for_compute
    all_planes = lsh_plane_weights(n_bands * n_planes)
    # the per-row plane-dot folds are interpreted higher-order
    # functions (bands × planes × dims lambda calls per vector) — floor
    # the scan parallelism so one small row group can't serialize them
    embeddings = spread_for_compute(embeddings, "vec_id")
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
    cent_rows = (
        embeddings.orderBy("vec_id").limit(n_cells)
        .select("vec_id", "embedding").collect()
    )
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
             for r in cent_rows]
    probes = [(cid, emb) for cid, emb in cents[:n_probes]] \
        if n_probes <= n_cells else [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in embeddings.orderBy("vec_id").limit(n_probes)
            .select("vec_id", "embedding").collect()]
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
    sample_rows = (
        embeddings.orderBy("vec_id").limit(sample_size)
        .select("vec_id", "embedding").collect()
    )
    sample = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in sample_rows]
    cents = (list(enumerate(train_ivf_centroids(sample, n_cells, n_iters)))
             if sample else [])
    probes = sample[:n_probes]
    return _ivf_rank(embeddings, cents, probes, n_probe_cells, k)


def _assign_cells(embeddings: DataFrame,
                  cents: list[tuple[int, list[float]]],
                  keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Literal-centroid assignment projection: (vec_id, embedding,
    *keep_cols, cell) with cell = nearest-centroid argmax. Shared by
    the in-session IVF tiers and the persisted index writer;
    ``keep_cols`` rides extra columns through (the rebuild path keeps
    each posting's original ingest_batch)."""
    from ..functions.partitioning import spread_for_compute

    cent_norms = {cid: _py_norm(emb) for cid, emb in cents}

    # the argmax fold is an interpreted higher-order expression
    # (n_cells × dims lambda calls per vector) — floor the scan
    # parallelism so one small row group can't serialize it (no-op at
    # production scan parallelism; runs above any pushed filter, so
    # PushedFilters are unaffected)
    embeddings = spread_for_compute(embeddings, "vec_id")

    # One projected corpus-vector norm, reused by every centroid score —
    # inlining cosine_sim n_cells times would recompute it n_cells times
    # per row.
    emb_n = embeddings.select(
        "vec_id", "embedding", *keep_cols,
        F.expr(l2_norm_sql("embedding")).alias("nrm"))

    # The whole argmax is assembled as ONE SQL string and parsed JVM-side
    # in a single F.expr call: building ~n_cells*dim literal Column nodes
    # through the Python API costs thousands of Py4J round trips (~1.5 s
    # of driver time for 16x64), while parsing the equivalent text is
    # milliseconds.
    def cent_score_sql(cid: int, emb: list) -> str:
        cn = cent_norms[cid]
        if cn == 0:
            return "0D"
        arr = "array(" + ",".join(f"{x!r}D" for x in emb) + ")"
        d = (f"aggregate(zip_with({arr}, embedding,"
             " (x, y) -> x * double(y)), 0D, (a, x) -> a + x)")
        return f"(case when nrm > 0D then {d} / ({cn!r}D * nrm) else 0D end)"

    # nearest-centroid argmax over the literal set via
    # greatest(struct(cos, cent_id)) — ties break to the larger cent_id,
    # matching the previous max(struct(...)) semantics.
    # greatest() needs >= 2 operands; a one-centroid model (single-vector
    # corpus) assigns every row to that cell outright.
    if len(cents) == 1:
        best_sql = f"{cents[0][0]}L"
    else:
        best_sql = "greatest(" + ",".join(
            f"struct({cent_score_sql(cid, emb)} as cos_c, {cid}L as cent_id)"
            for cid, emb in cents
        ) + ").cent_id"
    return emb_n.select(
        "vec_id", "embedding", *keep_cols,
        F.expr(best_sql).alias("cell"))


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


def _route_probes(spark, cents: list[tuple[int, list[float]]],
                  probes: list[tuple[int, list[float]]],
                  n_probe_cells: int) -> DataFrame:
    """Probe→cell routing is model-sized work (|probes| × n_cells
    scores): computed driver-side (``_top_probe_cells``), shipped as a
    literal broadcast frame (probe_id, probe_emb, cell)."""
    return spark.createDataFrame(
        [(pid, emb, cell)
         for pid, emb, cells in _top_probe_cells(cents, probes,
                                                 n_probe_cells)
         for cell in cells],
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
    probe_cells = _route_probes(embeddings.sparkSession, cents, probes,
                                n_probe_cells)
    return _rank_probe_candidates(assigned, probe_cells, k)


def save_ivf_model(spark, path: str, embeddings: DataFrame,
                   n_cells: int = 8, n_iters: int = IVF_TRAIN_ITERS,
                   sample_size: int = IVF_SAMPLE_SIZE) -> None:
    """Train the Lloyd's IVF coarse quantizer once and persist it as a
    tiny parquet model (cent_id, centroid) — the production pattern:
    indexes are built by one job and probed by many, so the centroids
    must outlive the session instead of retraining per query. The model
    is a few hundred doubles; readers inline it as plan literals exactly
    like the in-session tier."""
    sample_rows = (embeddings.orderBy("vec_id").limit(sample_size)
                   .select("vec_id", "embedding").collect())
    sample = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in sample_rows]
    cents = train_ivf_centroids(sample, n_cells, n_iters) if sample else []
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cent_id long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def ann_ivf_from_model(embeddings: DataFrame, model_path: str,
                       n_probe_cells: int = 2, n_probes: int = 5,
                       k: int = DEFAULT_K) -> DataFrame:
    """Probe a persisted IVF model: identical plan shape to the trained
    in-session tier (literal-centroid assignment projection + bucket
    join); only the centroid source differs."""
    spark = embeddings.sparkSession
    cent_rows = spark.read.parquet(model_path).orderBy("cent_id").collect()
    cents = [(int(r["cent_id"]), [float(x) for x in r["centroid"]])
             for r in cent_rows]
    probe_rows = (embeddings.orderBy("vec_id").limit(n_probes)
                  .select("vec_id", "embedding").collect())
    probes = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in probe_rows]
    return _ivf_rank(embeddings, cents, probes, n_probe_cells, k)


def write_vector_index(embeddings: DataFrame, path: str,
                       n_cells: int = 8, n_iters: int = IVF_TRAIN_ITERS,
                       sample_size: int = IVF_SAMPLE_SIZE,
                       batch_id: int = 0) -> None:
    """Persist the FULL vector index — model AND posting lists — the
    production build-once/probe-many pattern ``save_ivf_model`` only
    half delivers (it persists centroids, but every probe job still
    re-scans and re-assigns the whole corpus). Here the corpus is
    assigned once (the same scan-side literal-centroid argmax as
    ``ann_ivf_trained``) and written to ``{path}/postings``
    PARTITIONED BY cell, so a probe reads only its routed cells'
    partitions: probe cost ∝ probed cells × cell size, independent of
    corpus size. ``{path}/model`` holds the (cent_id, centroid) rows.

    Training uses the same deterministic sample as ``ann_ivf_trained``
    (lowest ``sample_size`` vec_ids), so ``ann_query_index`` over this
    index is bit-identical to the in-session trained tier (doubles
    round-trip parquet exactly) — equality pinned in
    ``tests/test_vector_index.py``, inheriting the trained tier's
    DuckDB oracle. At 100 TB, cells are also the skew unit: n_cells
    grows ∝ corpus (the SemDeDup convention) so partitions stay
    bounded."""
    spark = embeddings.sparkSession
    sample_rows = (embeddings.orderBy("vec_id").limit(sample_size)
                   .select("vec_id", "embedding").collect())
    sample = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in sample_rows]
    cents = (list(enumerate(train_ivf_centroids(sample, n_cells, n_iters)))
             if sample else [])
    spark.createDataFrame(
        [(cid, emb) for cid, emb in cents],
        "cent_id long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/model")
    if cents:
        # ingest_batch=<batch_id> in the same (ingest_batch, cell)
        # layout extend_vector_index appends to, so builds and
        # extensions are one uniform index (probes prune on cell either
        # way). batch_id matters to the STREAMING tier's train-on-
        # first-nonempty-batch fallback: the building batch must own
        # its true partition id so a checkpoint replay (which takes the
        # extend path once the model exists) overwrites the SAME
        # partition instead of leaving a duplicate at 0.
        (_assign_cells(embeddings, cents)
         .withColumn("ingest_batch", F.lit(batch_id))
         .write.mode("overwrite")
         .partitionBy("ingest_batch", "cell")
         .parquet(f"{path}/postings"))


class NoVectorIndexModel(ValueError):
    """Raised by ``extend_vector_index`` when ``{path}/model`` is absent
    — a DEDICATED sentinel so callers with a train-on-first-batch
    fallback (``streaming.vector_stream``) can distinguish "no model
    yet" from any other ValueError: catching bare ValueError there
    would route an unexpected error into ``write_vector_index``, whose
    postings write is a full overwrite that silently wipes every
    previously ingested batch (advice r10). Subclasses ValueError so
    pre-existing callers keep working."""


def extend_vector_index(batch: DataFrame, path: str,
                        batch_id: int) -> None:
    """Incrementally extend a ``write_vector_index`` index with a new
    batch of vectors — the production IVF lifecycle: the coarse
    quantizer is trained ONCE (the stored model is never touched) and
    every later batch is merely ASSIGNED with the stored centroids and
    appended, so ingest cost is one scan-side argmax projection over
    the batch, independent of index size.

    Layout: batch postings land under ``{path}/postings`` partitioned
    by (ingest_batch, cell) via a dynamic-partition overwrite of ONLY
    ``ingest_batch=<id>`` — the exactly-once convention of the state
    tables' ``streaming/run.py:commit_batch``, which the dedup band
    index commits through: a crashed-and-rerun extension
    replaces its own partition byte-for-byte and never touches earlier
    batches. The initial ``write_vector_index`` build writes
    ``ingest_batch=0`` the same way, so extend-batch-by-batch is
    bit-identical to a one-shot build over the union (same centroids,
    same argmax — pinned in tests/test_vector_index.py). Probes prune
    on cell exactly as before; the extra partition level only adds
    directories, and ``dedup.compact_prior_index``'s compactor applies
    if file counts ever matter."""
    from pyspark.errors import AnalysisException
    spark = batch.sparkSession
    try:
        cent_rows = (spark.read.parquet(f"{path}/model")
                     .orderBy("cent_id").collect())
    except AnalysisException:
        cent_rows = []
    cents = [(int(r["cent_id"]), [float(x) for x in r["centroid"]])
             for r in cent_rows]
    if not cents:
        raise NoVectorIndexModel(
            f"extend_vector_index: no model at {path}/model — build the "
            "index with write_vector_index first (extensions assign with "
            "the STORED centroids; they never train)")
    (_assign_cells(batch, cents)
     .withColumn("ingest_batch", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("ingest_batch", "cell")
     .parquet(f"{path}/postings"))


def ann_query_index(probes_df: DataFrame, path: str,
                    n_probe_cells: int = 2, n_probes: int = 5,
                    k: int = DEFAULT_K,
                    before_batch: int | None = None) -> DataFrame:
    """Probe a ``write_vector_index`` index: centroids load as a tiny
    collect, probe routing is driver-side, and the postings scan is
    PARTITION-PRUNED to the routed cells via a literal IN filter on the
    partition column (plan-asserted: ``PartitionFilters`` on cell) —
    the corpus is never re-read, re-assigned, or shuffled. Probes come
    from ``probes_df`` (lowest ``n_probes`` vec_ids, the repo's probe
    convention), which need not be the indexed corpus — the
    build-once/probe-many split.

    ``before_batch`` restricts the scan to ``ingest_batch <
    before_batch`` partitions — the dedup index's snapshot-read
    contract (``dedup.near_dedup_vs_index``) inherited here (verdict
    r10 item 2): the returned frame is LAZY, so a probe racing a
    concurrent ``extend_vector_index`` (or re-evaluated after one)
    would otherwise see that extension's partial or complete postings.
    Pass the batch id about to be written and the probe is pinned to
    the committed snapshot (byte-identity across an extension is
    pinned in tests/test_vector_index.py). Both filters are partition
    filters, so old probes also never pay for newer snapshots."""
    spark = probes_df.sparkSession
    cent_rows = (spark.read.parquet(f"{path}/model")
                 .orderBy("cent_id").collect())
    cents = [(int(r["cent_id"]), [float(x) for x in r["centroid"]])
             for r in cent_rows]
    probe_rows = (probes_df.orderBy("vec_id").limit(n_probes)
                  .select("vec_id", "embedding").collect())
    probes = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in probe_rows]
    if not cents or not probes:
        return spark.createDataFrame(
            [], "probe_id long, neighbor_id long, rank int, cos_sim double")
    probe_cells = _route_probes(spark, cents, probes, n_probe_cells)
    routed = sorted({int(r["cell"]) for r in probe_cells.collect()})
    postings = (spark.read.parquet(f"{path}/postings")
                .filter(F.col("cell").isin(routed)))
    if before_batch is not None:
        postings = postings.filter(F.col("ingest_batch") < before_batch)
    return _rank_probe_candidates(postings, probe_cells, k)


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
    sample_rows = (embeddings.orderBy("vec_id").limit(sample_size)
                   .select("vec_id", "embedding").collect())
    sample = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in sample_rows]
    if not sample:
        return embeddings.sparkSession.createDataFrame(
            [], "probe_id long, neighbor_id long, rank int, approx_cos double")
    cents = list(enumerate(train_ivf_centroids(
        sample, n_cells, IVF_TRAIN_ITERS)))
    vecs = [v for _, v in sample]
    books = _train_pq_codebooks(
        pq_residuals(vecs, [c for _, c in cents]) if by_residual
        else vecs, m, ksub)
    probes = sample[:n_probes]
    assigned = _pq_assign(embeddings, cents, books, by_residual)
    probe_df = _pq_probe_frame(embeddings.sparkSession, cents, books,
                               probes, n_probe_cells, by_residual)
    return _adc_rank(assigned, probe_df, k, refine,
                     embeddings.select("vec_id", "embedding"),
                     out_col="approx_cos")


def _pq_assign(embeddings: DataFrame,
               cents: list[tuple[int, list[float]]],
               books: list[list[list[float]]],
               by_residual: bool) -> DataFrame:
    """(vec_id, codes, vnorm, cell): coarse cell + PQ codes + stored
    norm — ONE encode projection (residual mode adds a broadcast join
    against the model-sized centroid table so the code expression can
    subtract the row's own centroid). Shared by the in-session
    ``ann_ivf_pq`` and the persisted PQ index writer/extender."""
    cent_norms = {cid: _py_norm(emb) for cid, emb in cents}
    encoded = embeddings.select(
        "vec_id", "embedding",
        F.expr(l2_norm_sql("embedding")).alias("vnorm"))
    if len(cents) == 1:
        best_sql = f"{cents[0][0]}L"
    else:
        def cs(cid, emb):
            cn = cent_norms[cid]
            if cn == 0:
                return "0D"
            arr = "array(" + ",".join(f"{x!r}D" for x in emb) + ")"
            d = (f"aggregate(zip_with({arr}, embedding, (x, y) -> "
                 f"x * double(y)), 0D, (a, x) -> a + x)")
            return (f"(case when vnorm > 0D then {d} / ({cn!r}D * vnorm) "
                    f"else 0D end)")
        best_sql = "greatest(" + ",".join(
            f"struct({cs(cid, emb)} as cos_c, {cid}L as cent_id)"
            for cid, emb in cents) + ").cent_id"
    with_cell = encoded.withColumn("cell", F.expr(best_sql))
    if by_residual:
        cents_df = embeddings.sparkSession.createDataFrame(
            [(cid, c) for cid, c in cents], "cell long, cvec array<double>")
        return (with_cell.join(broadcast(cents_df), "cell")
                .select("vec_id", F.expr(
                    _pq_codes_sql(books, residual_col="cvec"))
                    .alias("codes"), "vnorm", "cell"))
    return with_cell.select(
        "vec_id", F.expr(_pq_codes_sql(books)).alias("codes"),
        "vnorm", "cell")


def _pq_probe_frame(spark, cents: list[tuple[int, list[float]]],
                    books: list[list[list[float]]],
                    probes: list[tuple[int, list[float]]],
                    n_probe_cells: int, by_residual: bool) -> DataFrame:
    """(probe_id, probe_emb, pnorm, lut, cell, qc): probe→cell routing
    + the per-probe ADC LUT (LUT[j][c] = <probe_subj, centroid_jc>) —
    all model-sized driver work, shipped as one literal broadcast
    frame. Residual mode carries the exact <q, c_cell> term (``qc``)
    the quantized residual rides on. Routing is ``_top_probe_cells``
    — the SAME rule the flat index probes with (the PQ-equals-flat
    pin's precondition)."""
    m = len(books)
    dsub = len(books[0][0])
    cent_by_id = dict(cents)
    probe_rows = []
    for pid, emb, cells in _top_probe_cells(cents, probes,
                                            n_probe_cells):
        pn = _py_norm(emb)
        lut = [[_py_dot(emb[j * dsub:(j + 1) * dsub], c)
                for c in books[j]] for j in range(m)]
        for cell in cells:
            qc = _py_dot(emb, cent_by_id[cell]) if by_residual else 0.0
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


def save_ivf_pq_model(spark, path: str, embeddings: DataFrame,
                      n_cells: int = 8, m: int = PQ_M,
                      ksub: int = PQ_KSUB,
                      sample_size: int = PQ_SAMPLE_SIZE,
                      by_residual: bool = True) -> None:
    """Train the coarse quantizer AND the PQ codebooks once and persist
    both as one tiny parquet model (kind, idx, sub, vec) — the
    index-build-once/probe-many production pattern (``save_ivf_model``'s
    sibling). ``by_residual`` (default, matching ``ann_ivf_pq``) trains
    the codebooks on coarse residuals and records the flag in a meta
    row so a probe-only job scores codes the way they were built.
    Total size: n_cells·D + ksub·D doubles + one meta row."""
    sample_rows = (embeddings.orderBy("vec_id").limit(sample_size)
                   .select("vec_id", "embedding").collect())
    sample = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in sample_rows]
    cents = train_ivf_centroids(sample, n_cells) if sample else []
    vecs = [v for _, v in sample]
    if sample:
        books = _train_pq_codebooks(
            pq_residuals(vecs, cents) if by_residual else vecs, m, ksub)
    else:
        books = []
    rows = [("meta", 0, 0, [1.0 if by_residual else 0.0])]
    rows += [("coarse", i, 0, c) for i, c in enumerate(cents)]
    rows += [("pq", ci, j, c)
             for j, book in enumerate(books)
             for ci, c in enumerate(book)]
    spark.createDataFrame(
        rows, "kind string, idx long, sub long, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_ivf_pq_model(spark, path: str
                      ) -> tuple[list[tuple[int, list[float]]],
                                 list[list[list[float]]], bool]:
    """(coarse centroids, PQ codebooks, by_residual) back from
    ``save_ivf_pq_model`` output — reader twin used by tests and any
    probe-only job. Pre-r9 models (no meta row) load as raw-code
    (by_residual=False), which is how they were trained."""
    rows = spark.read.parquet(path).collect()
    cents = sorted((int(r["idx"]), [float(x) for x in r["vec"]])
                   for r in rows if r["kind"] == "coarse")
    pq_rows = [r for r in rows if r["kind"] == "pq"]
    n_sub = 1 + max((int(r["sub"]) for r in pq_rows), default=-1)
    books: list[list[list[float]]] = []
    for j in range(n_sub):
        sub = sorted((int(r["idx"]), [float(x) for x in r["vec"]])
                     for r in pq_rows if int(r["sub"]) == j)
        books.append([v for _, v in sub])
    meta = [r for r in rows if r["kind"] == "meta"]
    by_residual = bool(meta and float(meta[0]["vec"][0]) > 0)
    return cents, books, by_residual


def retract_vector_index_keys(spark, path: str, vec_ids) -> dict:
    """Retract vectors BY KEY from a persisted ``write_vector_index``
    index — the vector twin of ``dedup.retract_index_keys`` (verdict
    r10 item 1): a refresh crawl re-embeds changed pages and must
    first remove their stale vectors, and batch-level retention
    (``expire``) cannot name individual pages. Removes every posting
    whose ``vec_id`` is in ``vec_ids``, rewriting ONLY the
    ``(ingest_batch, cell)`` partitions that contain them
    (``sources.sinks.retract_keys_from_parquet`` — tmp/old rename
    protocol, crash-rerunnable, untouched partitions byte-identical).

    The coarse-quantizer MODEL is deliberately untouched: extensions
    assign with stored centroids, so retraction must not retrain (a
    probe would otherwise route against centroids the survivors were
    never assigned with). Centroid refresh is ``rebuild_vector_index``.
    Pinned in tests/test_index_retract.py: grown-then-retracted equals
    a fresh build over the survivors whenever the retracted ids lie
    outside the training sample (same sample → same centroids → same
    assignment); retraction that would empty the postings is refused."""
    from ..sources.sinks import retract_keys_from_parquet

    return {"postings": retract_keys_from_parquet(
        spark, f"{path}/postings", "vec_id", vec_ids)}


def vector_index_recall(spark, path: str, n_probes: int = 5,
                        k: int = DEFAULT_K,
                        n_probe_cells: int = 2) -> dict:
    """Recall monitor for a persisted vector index (verdict r10 item
    3): probe the index and compare against the EXACT brute-force
    top-k over the index's own vectors — the sampled floor a pipeline
    computes after every extension batch, because quantizer drift is
    silent (centroids are trained once; as the corpus grows and
    drifts, cells skew and probe recall decays with no error anywhere).
    Probes are the ``n_probes`` lowest vec_ids (the repo's probe
    convention). Returns {"hits", "total", "recall"}.

    Cost: the exact floor is one corpus scan against n_probes
    broadcast probes (``knn_bruteforce`` shape) — the monitor is a
    sampled diagnostic, priced like one extra probe batch, not an
    index operation. When recall sinks below the pipeline's floor,
    ``rebuild_vector_index`` retrains the quantizer in place."""
    vectors = (spark.read.parquet(f"{path}/postings")
               .select("vec_id", "embedding"))
    exact: dict[int, set[int]] = {}
    for r in knn_bruteforce(vectors, n_probes=n_probes, k=k).collect():
        exact.setdefault(int(r["probe_id"]), set()).add(
            int(r["neighbor_id"]))
    got: dict[int, set[int]] = {}
    probes = vectors.orderBy("vec_id").limit(n_probes)
    for r in ann_query_index(probes, path, n_probe_cells=n_probe_cells,
                             n_probes=n_probes, k=k).collect():
        got.setdefault(int(r["probe_id"]), set()).add(
            int(r["neighbor_id"]))
    hits = sum(len(exact[p] & got.get(p, set())) for p in exact)
    total = sum(len(v) for v in exact.values())
    return {"hits": hits, "total": total,
            "recall": hits / total if total else 1.0}


def rebuild_vector_index(spark, path: str, n_cells: int = 8,
                         n_iters: int = IVF_TRAIN_ITERS,
                         sample_size: int = IVF_SAMPLE_SIZE) -> None:
    """Retrain the coarse quantizer over the GROWN index and re-assign
    every posting in place — the lifecycle step extensions deliberately
    skip (they assign with stored centroids so ingest stays cheap;
    after enough drift the recall monitor says it's time). Training
    uses the same deterministic rule as a fresh build (lowest
    ``sample_size`` vec_ids — now of the WHOLE index), so a rebuilt
    index is pinned EQUAL to ``write_vector_index`` over the same
    vectors (tests/test_index_retract.py). Each posting keeps its
    original ``ingest_batch``, so ``before_batch`` snapshot reads stay
    meaningful across the rebuild (rows unchanged — only their cell
    routing moves).

    Crash safety: the new model+postings are built complete at a
    sibling ``__rebuild_tmp`` tree, then swapped in with the tmp/old
    rename pair (the ``compact_parquet`` protocol) — re-runnable after
    a crash at any point; readers never see a half-rebuilt index."""
    from ..sources.sinks import commit_swap, recover_swap, swap_paths

    local, tmp, old = swap_paths(path, "rebuild")
    recover_swap(local, tmp, old, "rebuild")

    posts = (spark.read.parquet(f"{path}/postings")
             .select("vec_id", "embedding", "ingest_batch"))
    sample_rows = (posts.orderBy("vec_id").limit(sample_size)
                   .select("vec_id", "embedding").collect())
    sample = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in sample_rows]
    cents = (list(enumerate(train_ivf_centroids(sample, n_cells,
                                                n_iters)))
             if sample else [])
    spark.createDataFrame(
        [(cid, emb) for cid, emb in cents],
        "cent_id long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"file://{tmp}/model")
    if cents:
        (_assign_cells(posts, cents, keep_cols=("ingest_batch",))
         .write.mode("overwrite")
         .partitionBy("ingest_batch", "cell")
         .parquet(f"file://{tmp}/postings"))
    commit_swap(local, tmp, old, "rebuild")


# ---------------------------------------------------------------------------
# PQ-coded persisted vector index (r12 verdict item 4). The flat
# ``write_vector_index`` postings carry full float vectors — ~D·8
# bytes each — so at 100 TB the index is corpus-sized and cannot live
# in hot storage. This tier persists the m-byte PQ codes instead
# (m ints + one norm per vector: ~32× smaller at dim 64), keeps the
# same (ingest_batch, cell) partition layout so every lifecycle
# operation carries over unchanged (extension = encode-with-stored-
# model + dynamic partition overwrite; retraction = the same keyed
# partition rewrite; snapshot reads = the same before_batch partition
# filter), and probes via ADC + the standard exact-refine finish
# AGAINST THE FULL-PRECISION CORPUS PARQUET — the codes shortlist,
# the parquet re-ranks probes × refine × k rows, and the corpus is
# touched for exactly that shortlist.
#
# The coarse quantizer trains with the SAME deterministic rule as the
# flat index (lowest IVF_SAMPLE_SIZE vec_ids), so the two tiers route
# probes IDENTICALLY — which is what makes the correctness pin sharp:
# whenever refine × k covers the routed cells' contents (true at the
# fixture sizes), the PQ-refined top-k EQUALS the flat index's probe
# answer exactly (tests/test_vector_index.py); RECALL.md carries the
# measured floors where refine binds.

PQ_REFINE = 32


def write_vector_index_pq(embeddings: DataFrame, path: str,
                          n_cells: int = 8, m: int = PQ_M,
                          ksub: int = PQ_KSUB,
                          n_iters: int = IVF_TRAIN_ITERS,
                          sample_size: int = IVF_SAMPLE_SIZE,
                          pq_sample_size: int = PQ_SAMPLE_SIZE,
                          batch_id: int = 0,
                          by_residual: bool = True) -> None:
    """Build the PQ-coded persisted index: ``{path}/pq_model`` holds
    the coarse centroids + per-subspace codebooks + residual flag (the
    ``save_ivf_pq_model`` row layout, read back by
    ``load_ivf_pq_model``), ``{path}/postings`` holds (vec_id, codes,
    vnorm) partitioned by (ingest_batch, cell). Coarse training =
    the flat index's rule (lowest ``sample_size`` ids); codebooks
    train on ``pq_sample_size`` coarse residuals."""
    spark = embeddings.sparkSession
    sample_rows = (embeddings.orderBy("vec_id").limit(
        max(sample_size, pq_sample_size))
        .select("vec_id", "embedding").collect())
    sample = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in sample_rows]
    coarse = train_ivf_centroids(
        sample[:sample_size], n_cells, n_iters) if sample else []
    cents = list(enumerate(coarse))
    vecs = [v for _, v in sample[:pq_sample_size]]
    books = (_train_pq_codebooks(
        pq_residuals(vecs, coarse) if by_residual else vecs, m, ksub)
        if sample else [])
    rows = [("meta", 0, 0, [1.0 if by_residual else 0.0])]
    rows += [("coarse", i, 0, c) for i, c in cents]
    rows += [("pq", ci, j, c)
             for j, book in enumerate(books)
             for ci, c in enumerate(book)]
    spark.createDataFrame(
        rows, "kind string, idx long, sub long, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/pq_model")
    if cents:
        (_pq_assign(embeddings, cents, books, by_residual)
         .withColumn("ingest_batch", F.lit(batch_id))
         .write.mode("overwrite")
         .partitionBy("ingest_batch", "cell")
         .parquet(f"{path}/postings"))


def extend_vector_index_pq(batch: DataFrame, path: str,
                           batch_id: int) -> None:
    """Extend a PQ index with a new batch: encode with the STORED
    model (never retrain — same contract as ``extend_vector_index``)
    and dynamic-partition-overwrite only ``ingest_batch=<id>``.
    Raises ``NoVectorIndexModel`` when the model is absent."""
    from pyspark.errors import AnalysisException
    spark = batch.sparkSession
    try:
        cents, books, by_residual = load_ivf_pq_model(
            spark, f"{path}/pq_model")
    except AnalysisException:
        cents, books = [], []
    if not cents or not books:
        raise NoVectorIndexModel(
            f"extend_vector_index_pq: no model at {path}/pq_model — "
            "build the index with write_vector_index_pq first "
            "(extensions encode with the STORED model; they never "
            "train)")
    (_pq_assign(batch, cents, books, by_residual)
     .withColumn("ingest_batch", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("ingest_batch", "cell")
     .parquet(f"{path}/postings"))


def ann_query_index_pq(probes_df: DataFrame, corpus: DataFrame,
                       path: str, n_probe_cells: int = 2,
                       n_probes: int = 5, k: int = DEFAULT_K,
                       refine: int = PQ_REFINE,
                       before_batch: int | None = None) -> DataFrame:
    """Probe a PQ index: model loads as a tiny collect, probe routing
    and the ADC LUTs are driver-side, the postings scan is
    partition-pruned to the routed cells, ADC picks the refine × k
    shortlist from codes alone, and ONLY the shortlist joins
    ``corpus`` (vec_id, embedding — the full-precision parquet) for
    the exact re-rank. ``before_batch`` = the flat tier's snapshot
    contract (a partition filter). Output schema matches
    ``ann_query_index`` (cos_sim = exact cosine after refine), which
    is what the equality pin compares."""
    spark = probes_df.sparkSession
    cents, books, by_residual = load_ivf_pq_model(
        spark, f"{path}/pq_model")
    probe_rows = (probes_df.orderBy("vec_id").limit(n_probes)
                  .select("vec_id", "embedding").collect())
    probes = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in probe_rows]
    if not cents or not books or not probes:
        return spark.createDataFrame(
            [], "probe_id long, neighbor_id long, rank int, "
                "cos_sim double")
    probe_df = _pq_probe_frame(spark, cents, books, probes,
                               n_probe_cells, by_residual)
    routed = sorted({int(r["cell"]) for r in
                     probe_df.select("cell").distinct().collect()})
    postings = (spark.read.parquet(f"{path}/postings")
                .filter(F.col("cell").isin(routed)))
    if before_batch is not None:
        postings = postings.filter(F.col("ingest_batch") < before_batch)
    return _adc_rank(postings, probe_df, k, refine,
                     corpus.select("vec_id", "embedding"))


def vector_index_recall_pq(spark, path: str, corpus: DataFrame,
                           n_probes: int = 5, k: int = DEFAULT_K,
                           n_probe_cells: int = 2,
                           refine: int = PQ_REFINE) -> dict:
    """The recall monitor, PQ tier: the exact floor comes from
    brute-force over the full-precision CORPUS (the index holds codes,
    not vectors); probes are the lowest ``n_probes`` corpus ids.
    Returns {"hits", "total", "recall"} like ``vector_index_recall``."""
    exact: dict[int, set[int]] = {}
    for r in knn_bruteforce(corpus, n_probes=n_probes, k=k).collect():
        exact.setdefault(int(r["probe_id"]), set()).add(
            int(r["neighbor_id"]))
    got: dict[int, set[int]] = {}
    probes = corpus.orderBy("vec_id").limit(n_probes)
    for r in ann_query_index_pq(probes, corpus, path,
                                n_probe_cells=n_probe_cells,
                                n_probes=n_probes, k=k,
                                refine=refine).collect():
        got.setdefault(int(r["probe_id"]), set()).add(
            int(r["neighbor_id"]))
    hits = sum(len(exact[p] & got.get(p, set())) for p in exact)
    total = sum(len(v) for v in exact.values())
    return {"hits": hits, "total": total,
            "recall": hits / total if total else 1.0}


def rebuild_vector_index_pq(spark, path: str, corpus: DataFrame,
                            n_cells: int = 8, m: int = PQ_M,
                            ksub: int = PQ_KSUB,
                            n_iters: int = IVF_TRAIN_ITERS,
                            sample_size: int = IVF_SAMPLE_SIZE,
                            pq_sample_size: int = PQ_SAMPLE_SIZE
                            ) -> None:
    """Retrain the PQ index over the grown corpus and re-encode every
    posting in place — the drift answer for the PQ tier. The index
    stores codes only, so the rebuild joins the postings' (vec_id,
    ingest_batch) against the full-precision ``corpus`` for the
    vectors to re-encode (each posting keeps its ingest_batch, so
    snapshot reads stay meaningful). Same tmp/old swap protocol as
    ``rebuild_vector_index`` — crash-rerunnable, readers never see a
    half-rebuilt index. A posting whose vec_id the corpus no longer
    carries is a retraction the caller skipped — it raises rather
    than silently dropping rows."""
    from ..sources.sinks import commit_swap, recover_swap, swap_paths

    local, tmp, old = swap_paths(path, "rebuild")
    recover_swap(local, tmp, old, "rebuild")

    # the rebuild preserves the index's stored encoding mode (review
    # r13: hardcoding residual would silently flip a raw-code index's
    # ADC semantics on rebuild)
    _, _, by_residual = load_ivf_pq_model(spark, f"{path}/pq_model")
    keys = (spark.read.parquet(f"{path}/postings")
            .select("vec_id", "ingest_batch"))
    posts = keys.join(corpus.select("vec_id", "embedding"), "vec_id",
                      "left")
    n_lost = posts.filter(F.col("embedding").isNull()).count()
    if n_lost:
        raise ValueError(
            f"rebuild_vector_index_pq: {n_lost} postings have no "
            f"corpus vector — retract them first "
            "(retract_vector_index_keys), the rebuild never drops "
            "rows silently")
    sample_rows = (posts.orderBy("vec_id").limit(
        max(sample_size, pq_sample_size))
        .select("vec_id", "embedding").collect())
    sample = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in sample_rows]
    coarse = train_ivf_centroids(
        sample[:sample_size], n_cells, n_iters) if sample else []
    cents = list(enumerate(coarse))
    vecs = [v for _, v in sample[:pq_sample_size]]
    books = (_train_pq_codebooks(
        pq_residuals(vecs, coarse) if by_residual else vecs, m, ksub)
        if sample else [])
    rows = [("meta", 0, 0, [1.0 if by_residual else 0.0])]
    rows += [("coarse", i, 0, c) for i, c in cents]
    rows += [("pq", ci, j, c)
             for j, book in enumerate(books)
             for ci, c in enumerate(book)]
    spark.createDataFrame(
        rows, "kind string, idx long, sub long, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"file://{tmp}/pq_model")
    if cents:
        # encode each DISTINCT vec_id once before re-attaching batch
        # keys (ADVICE r13: a vec_id present in two ingest_batches
        # would otherwise square through this join — 2 postings in, 4
        # out — unlike the row-preserving flat rebuild; latent only
        # because refresh retracts before extending)
        (_pq_assign(posts.select("vec_id", "embedding")
                    .dropDuplicates(["vec_id"]), cents, books,
                    by_residual)
         .join(keys, "vec_id")
         .select("vec_id", "codes", "vnorm", "ingest_batch", "cell")
         .write.mode("overwrite")
         .partitionBy("ingest_batch", "cell")
         .parquet(f"file://{tmp}/postings"))
    commit_swap(local, tmp, old, "rebuild")
