"""SemDeDup-style semantic deduplication (Abbas et al. 2023, public
method; original implementation here): cluster the embedding space
with the SAME deterministic Lloyd's k-means the IVF tier trains, then
compute EXACT pairwise cosines only WITHIN clusters — the near-linear
100 TB path next to ``dedup.embedding_near_dup``'s exact-but-quadratic
blocked GEMM.

Why this scales where the block grid doesn't: the block-pair grid does
n²/B work regardless of geometry; clustering does quadratic work only
inside cells, so with ``n_cells`` grown ∝ corpus the per-cell tile
stays bounded and total work stays near-linear. The price is recall —
a near-dup pair split across cells is missed. Two measured mitigations
(RECALL.md-style evidence in tests/SCALE.md):

- ``n_assign``: each vector joins its ``n_assign`` nearest cells (the
  multi-probe trick IVF uses on the query side, applied to the index
  side), so a pair is caught when the vectors share ANY cell. At the
  fixture's weak geometry (max pairwise cos ≈ 0.5) n_cells=8,
  n_assign=3 recovers 0.97 of the brute-force pairs for 3× the
  shuffle; real semantic-dup corpora (cos ≥ 0.95 duplicates, the
  regime SemDeDup targets) cluster far more tightly.
- every emitted pair is EXACT (full-precision cosine, threshold
  applied per pair) — the approximation only ever DROPS pairs, never
  invents them, so the result is a verified subset of
  ``embedding_near_dup``'s.

Determinism: centroids are ``similarity.train_ivf_centroids`` on the
deterministic lowest-vec_id sample (bit-identical to the unrolled
DuckDB training twin); top-``n_assign`` cell ranking breaks ties to
the larger cent_id (the engine's assignment convention); pair cosines
round to 4 decimals at the presentation edge. The DuckDB oracle
replays training, assignment, and the within-cell pair join exactly
(``plans.queries._semantic_dedup_oracle_sql``).

Plan shape: assignment is ONE scalar projection over the scan (the
centroid model is a plan literal — scores computed into a single array
via transform over a nested-array literal, never an unrolled
per-centroid expression; see the r9 PQ-encode lesson), exploded
``n_assign``× into the cell shuffle; each cell is then tiled over the
same bounded (block_i ≤ block_j) grid ``dedup.embedding_near_dup``
uses, so a HOT cell (a near-dup-dense region — exactly what this
operator hunts) never lands in one task: per-task input is at most two
blocks of one cell (~2·|cell|/n_blocks rows), and the cell's GEMM is
``n_blocks·(n_blocks+1)/2`` bounded numpy tiles instead of one
unbounded n_cell² matmul. Shuffle volume is
``n_assign·(n_blocks+1)·corpus`` — the grid multiplies the (already
n_assign-replicated) assignment rows, not the pair set. The pair
output (candidate pairs, not the corpus) is deduplicated across
shared cells; within one cell every unordered pair meets in exactly
one (bi, bj) tile, so the blocking changes WHERE pairs are computed,
never the pair set — the DuckDB oracle is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm
from .similarity import IVF_TRAIN_ITERS, _py_norm, train_ivf_centroids

SEMDEDUP_CELLS = 8
SEMDEDUP_ASSIGN = 3
SEMDEDUP_BLOCKS = 4


def semantic_dedup_pairs(embeddings: DataFrame, threshold: float = 0.4,
                         n_cells: int = SEMDEDUP_CELLS,
                         n_assign: int = SEMDEDUP_ASSIGN,
                         n_iters: int = IVF_TRAIN_ITERS,
                         sample_size: int = 64,
                         n_blocks: int = SEMDEDUP_BLOCKS) -> DataFrame:
    """``(id_a, id_b, cos_sim)`` for every near-dup pair sharing at
    least one of their ``n_assign`` nearest cells, ``id_a < id_b``,
    exact cosine >= ``threshold``, ordered. ``n_blocks`` bounds the
    per-task tile (~2·|cell|/n_blocks rows) — size it so two blocks of
    the LARGEST plausible cell fit executor memory."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    sample = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
              for r in embeddings.orderBy("vec_id").limit(sample_size)
              .select("vec_id", "embedding").collect()]
    cents = train_ivf_centroids(sample, n_cells, n_iters)
    if not cents:
        return spark.createDataFrame(
            [], "id_a long, id_b long, cos_sim double")
    cent_norms = [_py_norm(c) for c in cents]

    # scores into ONE array via a nested-array literal (not n_cells
    # inlined expressions); rank by (score desc, cent_id desc) via an
    # ascending sort on (-score, -cent_id)
    cents_sql = "array(" + ",".join(
        "array(" + ",".join(f"{x!r}D" for x in c) + ")" for c in cents
    ) + ")"
    norms_sql = "array(" + ",".join(f"{x!r}D" for x in cent_norms) + ")"
    scores_sql = (
        f"transform(sequence(1, {len(cents)}), i -> "
        f"CASE WHEN element_at({norms_sql}, i) > 0D AND nrm > 0D THEN "
        f"aggregate(zip_with(element_at({cents_sql}, i), embedding, "
        f"(x, y) -> x * double(y)), 0D, (a, x) -> a + x) "
        f"/ (element_at({norms_sql}, i) * nrm) ELSE 0D END)")
    cells_sql = (
        f"transform(slice(array_sort(transform(sequence(1, {len(cents)}),"
        f" i -> struct(-element_at(sc, i) as ns, -(i - 1) as nc))),"
        f" 1, {n_assign}), s -> -s.nc)")
    assigned = (
        embeddings
        .select("vec_id", "embedding",
                l2_norm(F.col("embedding")).alias("nrm"))
        .withColumn("sc", F.expr(scores_sql))
        .select("vec_id", "embedding",
                F.explode(F.expr(cells_sql)).alias("cell")))

    replicas = _cell_block_replicas(assigned, n_blocks)

    def tile(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        _, bi_v, bj_v = key
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        A = np.array(a["embedding"].tolist(), dtype=np.float64)
        B = np.array(b["embedding"].tolist(), dtype=np.float64)
        an = np.linalg.norm(A, axis=1, keepdims=True)
        bn = np.linalg.norm(B, axis=1, keepdims=True)
        an[an == 0] = 1.0
        bn[bn == 0] = 1.0
        s = (A / an) @ (B / bn).T
        ia, jb = np.nonzero(s >= threshold)
        ids_a = a["vec_id"].to_numpy()[ia]
        ids_b = b["vec_id"].to_numpy()[jb]
        if bi_v == bj_v:
            keep = ids_a < ids_b  # diagonal tile: each pair once
        else:
            keep = np.ones(len(ids_a), dtype=bool)
        lo = np.minimum(ids_a[keep], ids_b[keep])
        hi = np.maximum(ids_a[keep], ids_b[keep])
        # HALF_UP rounding (matches Spark/DuckDB round for positives —
        # np.round is half-to-even and would diverge on .xxxx5 ties)
        cs = np.floor(s[ia, jb][keep] * 1e4 + 0.5) / 1e4
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": cs})

    pairs = (replicas
             .groupBy("cell", "bi", "bj")
             .applyInPandas(
                 tile, schema="id_a long, id_b long, cos_sim double"))
    return pairs.distinct().orderBy("id_a", "id_b")


def _cell_block_replicas(assigned: DataFrame, n_blocks: int) -> DataFrame:
    """Replicate the ``(vec_id, embedding, cell)`` assignment frame over
    the bounded (bi ≤ bj) block grid — the intra-cell tiling of
    ``dedup.embedding_near_dup``'s pattern, keyed additionally by cell.
    A (cell, bi, bj) task receives |cell ∩ blk=bi| + |cell ∩ blk=bj|
    rows (2·|cell ∩ blk=bi| on the diagonal) — at most two blocks of
    one cell, never the whole cell. Factored out so the per-task input
    bound is directly testable (tests/test_semantic_dedup.py)."""
    # pmod, not %: negative vec_ids (the pipeline's synthetic chunk ids
    # are negative) must land IN the 0..n_blocks-1 grid — a signed %
    # would route them to a blk no grid row matches and silently drop
    # them from the pair set (review r10)
    #
    # each row's grid replicas — row side 'a' for every bj ≥ blk,
    # column side 'b' for every bi ≤ blk (the diagonal on both sides,
    # as the tile kernel expects) — come from ONE data-dependent
    # inline() over ONE pass (r14, the ``embedding_near_dup`` fold):
    # the former two-join union evaluated the upstream ASSIGNMENT
    # projection (the n_cells × dims interpreted score fold, the
    # operator's per-row cost) twice per vector.
    return (assigned
            .withColumn("blk",
                        F.pmod(F.col("vec_id"), F.lit(n_blocks))
                        .cast("int"))
            .select("cell", "vec_id", "embedding",
                    F.expr(
                        f"inline(concat("
                        f"transform(sequence(blk, {n_blocks - 1}), "
                        f"j -> named_struct('bi', blk, "
                        f"'bj', cast(j as int), 'side', 'a')), "
                        f"transform(sequence(0, blk), "
                        f"i -> named_struct('bi', cast(i as int), "
                        f"'bj', blk, 'side', 'b'))))"))
            .select("cell", "bi", "bj", "side", "vec_id", "embedding"))
