#!/usr/bin/env python
"""Regenerate PLANS.md: captured physical plans of representative
queries with the properties each is supposed to exhibit. Run from the
repo root: python tools/gen_plans.py [sf_dir]"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from toymapreduce_go_spark.plans.queries import QUERIES  # noqa: E402
from toymapreduce_go_spark.session import build_session  # noqa: E402

# query -> the plan properties a reviewer should find in the output
SHOWCASE: dict[str, str] = {
    "pricing_summary": (
        "TPC-H Q1 shape. Look for: `PushedFilters` with the shipdate "
        "predicate at the parquet scan, a pruned `ReadSchema` (no "
        "l_orderkey), and TWO `HashAggregate` nodes — partial (map-side "
        "combine) then final, with one exchange between them."),
    "top_unshipped_orders": (
        "Q3 shape. Look for: `BroadcastHashJoin` on both dim joins (no "
        "`SortMergeJoin` anywhere — the fact table is never shuffled "
        "for a join), `TakeOrderedAndProject` for the top-k instead of "
        "a full sort."),
    "events_asof_join": (
        "As-of join as union + window. Look for: a single window over "
        "the union (one shuffle on user_id), `last(...) ignoreNulls` "
        "carrying the most recent right struct — no per-row subquery, "
        "no range self-join."),
    "near_dedup_minhash": (
        "MinHash-LSH. Look for: `InMemoryTableScan` of the persisted "
        "signature frame feeding banding AND both pair re-attaches "
        "(one signature computation, three consumers), band rows "
        "carrying only (doc_id, band_id, band_hash) into the self-join "
        "exchange — the 64-long sig array is NOT in the shuffle."),
    "ann_lsh": (
        "Multi-band sign-sketch LSH (4 bands OR'd, Hamming-1 ring per "
        "band). Look for: the literal-plane per-band bucket array inside "
        "the scan-side projection (no per-row hash functions, no extra "
        "pass), `BroadcastHashJoin` of the exploded (band, ring-bucket) "
        "probe side against the (band, bucket)-exploded corpus, a slim "
        "(probe_id, vec_id, cos) aggregate deduping cross-band hits — "
        "embeddings never ride that shuffle — and a window only over "
        "per-probe candidates."),
    "embedding_near_dup": (
        "Blocked all-pairs verification tier. Look for: the block grid "
        "as the only nested-loop join (`BroadcastNestedLoopJoin` over "
        "the 8-row block-id frames — block PAIRS, never row pairs), "
        "per-block GEMM inside `FlatMapGroupsInPandas` (Arrow-batched "
        "applyInPandas), and the downstream exchanges carrying only "
        "(id, id, cos) rows."),
    "curation_pipeline": (
        "Scan-side feature pipeline. Look for: one parquet scan of "
        "documents, all quality features computed in a single "
        "`Project`/`WholeStageCodegen` span, one small exchange for the "
        "final per-source aggregate."),
    "contamination_check": (
        "Benchmark decontamination. Look for: `BroadcastHashJoin` of "
        "the (tiny, distinct) benchmark shingle set against the corpus "
        "shingle stream — the corpus side reaches the probe straight "
        "from the scan projection with no shuffle before the per-doc "
        "aggregate."),
    "repetition_quality": (
        "Gopher repetition gates. Look for: every per-doc feature "
        "(dup_word_frac, and the bigram mode as the longest run in the "
        "doc's sorted bigram array) inside ONE scan-side `Project`, no "
        "`Generate` and no join; past load_table's round-robin scan "
        "spread, the only exchanges feed the per-source partial+final "
        "`HashAggregate` and the presentation sort."),
    "sequence_packing": (
        "Sharded FFD packing. Look for: `bpe_ish` token counting in the "
        "JVM projection, `FlatMapGroupsInPandas` whose input schema is "
        "exactly (doc_id, n_tok, shard, cap) — text never crosses into "
        "Python — and one exchange on the shard key."),
    "dup_spans": (
        "ExactSubstr-style duplicated spans. Look for: the md5 gram "
        "transform in the scan-side Project (no Python stage anywhere), "
        "a pruned ReadSchema (doc_id, source, text only), partial+final "
        "HashAggregate on the gram hash (count is map-side combinable), "
        "and the left-semi flag join reusing the persisted pair frame "
        "(InMemoryTableScan) instead of rehashing the corpus."),
    "lm_quality": (
        "Corpus-trained unigram surprisal. Look for: ONE exchange on "
        "the token key (the model-training agg), the vocab-count model "
        "on the BUILD side of a BroadcastHashJoin (scoring never "
        "re-shuffles the corpus), and a pruned ReadSchema."),
    "ann_ivf_pq": (
        "IVF-PQ with residual encoding + refine (r9). Look for: the "
        "coarse-assignment Project (literal centroids), a "
        "BroadcastHashJoin against the model-sized cell→centroid table "
        "feeding the residual code Project (greatest(...) argmins over "
        "aggregate(zip_with(...)) folds — no Python execution stages), "
        "BroadcastHashJoin on the cell bucket with the probe/LUT/qc "
        "frame as the broadcast side, the qc + ADC zip_with scoring in "
        "the post-join projection, and the exact re-rank touching the "
        "full-vector corpus only under the shortlist window filter."),
    "stratified_sample": (
        "Skew-safe exact sampling (r9 hash-cutoff core). Look for: the "
        "corpus-sized exchange hashing on (source, b) — the 65536-"
        "bucket md5-prefix key, never bare source — partial+final "
        "HashAggregate for the bucket counts, a Window over the "
        "metadata-sized bucket table for the cumulative boundary "
        "search, and the ONLY row_number Window sitting above the "
        "boundary-bucket restriction (pushed into its broadcast join "
        "condition), so no per-source corpus sort exists anywhere."),
    "line_dedup": (
        "C4-style corpus-level line dedup (r9). Look for: posexplode + "
        "scan-side md5 line hash, then ONLY min()-aggregates on the "
        "hash (partial+final HashAggregate pairs — a viral boilerplate "
        "line combines map-side instead of funnelling one reducer), "
        "and NO Window anywhere: first-occurrence selection is two "
        "joins against the metadata-shaped (hash, winner) tables."),
    "dsir_importance": (
        "DSIR importance weighting (r9). Look for: the feature "
        "explode feeding a partial+final HashAggregate with at most "
        "1024 distinct keys (the fixed hashed-feature space), the "
        "log-ratio model riding a BroadcastExchange into the scoring "
        "join (no SortMergeJoin anywhere — the corpus is never "
        "shuffled for a join), the persisted bucketed-feature frame "
        "(InMemoryTableScan) feeding BOTH the model's count agg and "
        "the pool scorer from one corpus scan, and the only "
        "corpus-sized exchanges being load_table's round-robin scan "
        "spread plus the keyed doc_id (per-doc sum) and source "
        "(report) aggs."),
    "semantic_dedup": (
        "SemDeDup clustered near-dup (r9). Look for: NO join and NO "
        "Window before the cell shuffle — assignment is one scan-side "
        "Project computing the score array from the nested-array "
        "centroid literal, then Generate (the n_assign explode) "
        "straight into the Exchange on `cell`; the quadratic work is "
        "inside FlatMapGroupsInPandas (one numpy GEMM per cell), and "
        "only candidate PAIRS reach the dedup/sort exchanges after "
        "it."),
    "image_phash": (
        "DCT perceptual-hash image near-dup (r9). Look for: BOTH "
        "self-join sides scanning `ExistingRDD` — the decode+DCT "
        "MapInPandas runs ONCE behind a localCheckpoint lineage cut "
        "(PythonUDF subplans don't canonicalize equal, so without the "
        "cut Spark re-decodes per join side; the hash stage itself is "
        "plan-asserted shuffle-free in test_phash.py), then Generate "
        "(the pigeonhole explode: 9 blocks of 7 bits at k=6, one packed "
        "21-bit key per block TRIPLE — C(9,3)=84 keys, the Manku "
        "multi-table widening that keeps candidates ~n²/50k instead of "
        "n²/146) into the bucket-key equi-join, and a single codegen'd "
        "bit_count(xor) Filter verifying each candidate — never an "
        "all-pairs product."),
    "audio_fingerprint": (
        "Spectral-hash audio near-dup (r9). Look for: BOTH self-join "
        "sides scanning `ExistingRDD` — the WAV-decode + FFT-hash "
        "MapInPandas runs ONCE behind the same localCheckpoint lineage "
        "cut as image_phash — then Generate (the 3-block pigeonhole "
        "explode at Hamming ≤ 2) into the 21-bit block-value equi-join, "
        "and one codegen'd bit_count(xor) Filter verifying each "
        "candidate — never an all-pairs product."),
    "heavy_hitters": (
        "CMS-gated exact frequent tokens (r9). Look for: NO Join — the "
        "sketch is 4 plan-literal counter arrays; a scan-side Filter "
        "computing least() of element_at lookups gates which tokens "
        "reach the word HashAggregate, so the exact-count shuffle "
        "carries candidates only; the final Filter is the exact "
        "HAVING that makes the sketch provably invisible."),
    "bloom_dedup": (
        "Prior-snapshot Bloom dedup (r9). Look for: NO Join, NO Window, "
        "NO Python stage anywhere — the bitmap is a plan-literal array "
        "(built by a separate model-sized bit_or agg at construction "
        "time, the ann_ivf centroid convention) and membership is a "
        "scan-side element_at + shiftright projection; the only "
        "Exchanges serve the per-source HashAggregate and the final "
        "sort."),
    "video_fingerprint": (
        "Bag-of-frames video near-dup (r9). Look for: BOTH self-join "
        "sides scanning `ExistingRDD` — the MJPEG-split + per-frame "
        "pHash + majority-vote MapInPandas runs ONCE behind the shared "
        "localCheckpoint lineage cut — then Generate (the "
        "9-blocks-of-7-bits pigeonhole explode, one packed 21-bit key "
        "per block triple, same decomposition as image_phash) into the "
        "bucket-key equi-join and one codegen'd bit_count(xor) Filter "
        "per candidate — never an all-pairs product."),
    "crawl_frontier": (
        "The crawl-scheduling capstone (r11; redirect-composed r14). "
        "Look for: the plan-literal deny `Filter` (array_contains) "
        "BELOW the rank equi-join — blocked targets never reach the "
        "shuffle; `BroadcastHashJoin` for the domain-sized robots "
        "rules; the r14 re-key join against the checkpointed redirect "
        "artifact deliberately HINT-FREE (its mapping side is "
        "page-scale — SortMergeJoin/shuffle here is the correct "
        "100 TB shape, and both sides bucket by canon at cluster "
        "scale; the UN-composed form keeps the strict no-SMJ "
        "contract, plan-asserted); the politeness `Window` running "
        "AFTER the page-sized groupBy(canon) aggregate, never over "
        "corpus-sized input; and the PageRank iterations appearing "
        "as checkpointed `ExistingRDD` scans (per-iteration lineage "
        "cuts)."),
    "dataset_split": (
        "Content-keyed holdout split (r9). Look for: a scan-side "
        "Project (md5 + pmod + CASE — the whole assignment), ONE "
        "partial+final HashAggregate pair on the ≤ 3×sources key "
        "space, and NOTHING else — no join, no window, no Python "
        "stage; the corpus is read once and reduced immediately."),
    "top_docs_per_source": (
        "Salted-tournament exact top-k per group (r9). Look for: NO "
        "Window operator anywhere — stage 1 is a partial+final "
        "HashAggregate pair on (source, salt) collecting each "
        "bucket's k best, stage 2 re-aggregates the exploded "
        "survivors on source alone; stage-1 buffers are bounded by "
        "the bucket (N_group/n_salts — the knob), stage-2 lists by "
        "n_salts*k."),
    "fuzzy_name_stats": (
        "Deletion-neighborhood edit-distance-1 join (r9). Look for: "
        "Generate (the variant explode) on BOTH join sides feeding "
        "ONE equi-join keyed on the variant string — no "
        "CartesianProduct, no BroadcastNestedLoopJoin, no distance "
        "predicate over raw row pairs; levenshtein appears only in "
        "the post-join Filter over candidates."),
    "event_funnel": (
        "Ordered-sequence funnel (r9). Look for: one filtered scan + "
        "HashAggregate pair per step, each step's equi-join on user_id "
        "against the previous step's ≤-one-row-per-user frame (AQE "
        "picks broadcast at fixture scale; shuffle join at corpus "
        "user counts), min aggs with map-side partials — no Window "
        "over raw events, no collect_list, no cartesian."),
    "chunk_stats": (
        "Overlapping document chunking (r9). Look for: the windowing "
        "is ONE scan-side Project (tokens → transform(sequence) of "
        "clamped slices) feeding Generate (posexplode) — no shuffle, "
        "no join, no Python anywhere in the chunking itself; the only "
        "Exchange serves the final per-source count-combinable "
        "HashAggregate pair."),
    "ann_ivf_filtered": (
        "Filtered vector search (r9). Look for: the label IN-list in "
        "`PushedFilters` at the embeddings parquet scan — the metadata "
        "predicate prunes vectors BEFORE the literal-centroid "
        "assignment projection, so non-matching rows are never "
        "decoded, assigned, or joined; then the same shape as ann_ivf "
        "(scan-side argmax, broadcast probe-cell join, one slim "
        "window for per-probe top-k)."),
    "near_dedup_vs_prior": (
        "Incremental batch near-dedup vs a prior archive (r9). Look "
        "for: two persisted signature relations (the archive's and the "
        "batch's), each read twice via `InMemoryTableScan` — band rows "
        "+ sig re-attach; at 100 TB the archive side is a STORED "
        "parquet index instead — band rows carrying only "
        "(doc_id, band_id, band_hash) into ONE bucket equi-join — the "
        "64-long sig arrays re-attach afterwards from the per-doc "
        "tables — and no Python stage anywhere (portable md5 "
        "signatures are pure JVM SQL)."),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else (
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    spark = build_session("gen-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = io.StringIO()
    out.write(
        "# PLANS — captured physical plans of flagship queries\n\n"
        f"Generated by `python tools/gen_plans.py {sf_dir}`; regenerate "
        "after changing any of these operators. Each section states the "
        "plan properties the operator is DESIGNED to have — if the "
        "captured plan stops showing them, the scale story regressed "
        "(several are also asserted in tests/test_explain_plans.py).\n")
    for name, why in SHOWCASE.items():
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.write(f"\n## {name}\n\n{why}\n\n```\n{buf.getvalue()}```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write(out.getvalue())
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
