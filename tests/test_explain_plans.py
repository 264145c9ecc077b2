"""Physical-plan assertions: the 100 TB posture is only real if the
optimizer actually produces the plans we claim (SURVEY.md §6 implications:
pushdown, pruning, broadcast joins, partial aggregation)."""

from __future__ import annotations

import contextlib
import io

from conftest import SF_DIR

from toymapreduce_go_spark.operators.relational import (pricing_summary,
                                                        region_nation_rollup,
                                                        top_unshipped_orders)
from toymapreduce_go_spark.operators.text_mr import wordcount
from toymapreduce_go_spark.sources.registry import load_table


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_pricing_summary_pushdown_and_pruning(spark):
    df = pricing_summary(load_table(spark, SF_DIR, "lineitem"))
    plan = plan_of(df)
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200], plan
    # column pruning: only the 8 needed columns are read, not l_orderkey etc.
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_returnflag" in read_schema and "l_orderkey" not in read_schema
    # partial+final hash aggregation (map-side combine the reference lacks)
    assert plan.count("HashAggregate") >= 2


def test_broadcast_joins_for_dims(spark):
    df = top_unshipped_orders(
        load_table(spark, SF_DIR, "customer"),
        load_table(spark, SF_DIR, "orders"),
        load_table(spark, SF_DIR, "lineitem"))
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    # fact table must NOT be exchanged for the dim join
    assert "SortMergeJoin" not in plan


def test_rollup_broadcasts_both_dims(spark):
    df = region_nation_rollup(
        load_table(spark, SF_DIR, "region"),
        load_table(spark, SF_DIR, "nation"),
        load_table(spark, SF_DIR, "customer"))
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Expand" in plan  # rollup grouping-sets expansion


def test_wordcount_partial_agg(spark):
    df = wordcount(load_table(spark, SF_DIR, "documents"))
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2  # partial + final
    # codegen mode shows the fused stages (formatted mode hides them
    # behind AdaptiveSparkPlan until execution)
    assert "WholeStageCodegen subtrees" in plan_of(df, "codegen")


def test_whole_stage_codegen_on_text_ops(spark):
    from toymapreduce_go_spark.operators.textstats import token_counts
    df = token_counts(load_table(spark, SF_DIR, "documents"))
    assert "WholeStageCodegen subtrees" in plan_of(df, "codegen")
    assert "BatchEvalPython" not in plan_of(df)  # no row-wise Python UDFs


def test_regional_revenue_broadcasts_dims(spark):
    from toymapreduce_go_spark.operators.relational import regional_revenue
    df = regional_revenue(*[load_table(spark, SF_DIR, t) for t in
                            ("customer", "orders", "lineitem", "supplier",
                             "nation", "region")])
    plan = plan_of(df)
    # supplier and the nation⋈region build side must broadcast; the only
    # non-broadcast joins may be the two fact-side equi joins
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_promo_revenue_broadcasts_part(spark):
    from toymapreduce_go_spark.operators.relational import promo_revenue_share
    df = promo_revenue_share(load_table(spark, SF_DIR, "lineitem"),
                             load_table(spark, SF_DIR, "part"))
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_price_band_is_nested_loop_broadcast(spark):
    from toymapreduce_go_spark.operators.relational import price_band_totals
    df = price_band_totals(spark, load_table(spark, SF_DIR, "orders"))
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan  # inequality-only join, tiny build


def test_suppliers_semi_join(spark):
    from toymapreduce_go_spark.operators.relational import (
        suppliers_with_shipments)
    df = suppliers_with_shipments(load_table(spark, SF_DIR, "supplier"),
                                  load_table(spark, SF_DIR, "lineitem"),
                                  load_table(spark, SF_DIR, "nation"))
    plan = plan_of(df)
    assert "LeftSemi" in plan


def test_array_and_stats_queries_stay_jvm_side(spark):
    from toymapreduce_go_spark.operators.similarity import embedding_stats
    from toymapreduce_go_spark.operators.textstats import lang_id
    for df in (embedding_stats(load_table(spark, SF_DIR, "embeddings")),
               lang_id(load_table(spark, SF_DIR, "documents"))):
        assert "BatchEvalPython" not in plan_of(df)


def test_correlated_subquery_decorrelates(spark):
    from toymapreduce_go_spark.plans.queries import QUERIES
    df = QUERIES["big_spender_orders"](spark, SF_DIR)
    plan = plan_of(df)
    # Catalyst rewrites the correlated scalar subquery into agg + join;
    # a per-row subquery would appear as a Subquery/ScalarSubquery node
    assert "Join" in plan and "Subquery" not in plan, plan


def test_fingerprint_queries_have_no_global_output_sort(spark):
    """r5 verdict nit: doc_fingerprint / rolling_fingerprint emit
    corpus-sized output, so a trailing orderBy is a whole-corpus sort
    reducer at scale. The driver's value-hash is order-insensitive;
    these plans must not pay for an ordering nobody consumes. (The
    window-function Sort inside doc_fingerprint is partition-local —
    global ordering shows up as a Sort with an Exchange rangepartitioning
    above the final project, which is what we reject.)"""
    from toymapreduce_go_spark.plans.queries import QUERIES
    for name in ("doc_fingerprint", "rolling_fingerprint"):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "rangepartitioning" not in plan.lower(), (name, plan[:1500])


def test_multiband_lsh_plan_stays_bucket_join_shaped(spark):
    """The round-7 multi-band ann_lsh must keep the LSH scale shape:
    candidates come from a broadcast EQUI-join on (band, bucket) — never
    a nested-loop / cross join with a distance predicate over the corpus
    — the per-band bucket sketch is a scan-side projection (no extra
    pass, no Python), and the cross-band pair dedup aggregates the slim
    (probe_id, vec_id, cos) triple so embedding arrays never ride that
    shuffle."""
    from toymapreduce_go_spark.operators.similarity import ann_lsh_portable

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = plan_of(ann_lsh_portable(emb))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # sketch is JVM-side
    # the pair-dedup aggregate groups on (probe_id, vec_id) with a
    # map-side partial before its exchange, and its input is the slim
    # (probe_id, vec_id, cos) triple — embeddings are projected away
    # before the shuffle
    assert "Keys [2]: [probe_id" in plan, plan[:2000]
    partial_blocks = [b for b in plan.split("\n\n")
                      if "partial_max(cos" in b]
    assert partial_blocks, plan[:2000]
    assert all("embedding" not in b for b in partial_blocks)


def test_quartiles_band_plan_no_whole_table_sort_and_exact(spark):
    """The r6 quartiles plan (approx band + exact refine) must (a) agree
    with the brute-force type-1 quartile on adversarial shapes — tiny
    groups, heavy duplicates, all-equal values — and (b) never run
    row_number over the whole table (the refine window only sees band
    rows, so the pre-window exchange carries a band filter)."""
    import math
    import random

    from toymapreduce_go_spark.operators.relational import (
        lineitem_price_quartiles)

    rng = random.Random(11)
    rows = []
    groups = {
        "A": [100.0],                       # n=1: every quartile = the row
        "B": [5.0, 7.0],                    # n=2
        "C": [3.0] * 500,                   # all-equal
        "D": [float(rng.randint(1, 20)) for _ in range(997)],  # dup-heavy
    }
    for flag, vals in groups.items():
        rows += [(flag, v) for v in vals]
    # NULL-price contract (r6 advice): an all-NULL group must not crash
    # the banded path (its sketch band array is NULL) or skew the
    # windowed path's n; sprinkled NULLs inside a group must be ignored.
    rows += [("E", None)] * 7
    rows += [("D", None)] * 5
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double")
    for threshold in (10**9, 0):  # windowed path, then banded path
        got = {r.l_returnflag: (r.n_items, r.p25, r.p50, r.p75)
               for r in lineitem_price_quartiles(
                   df, band_threshold=threshold).collect()}
        for flag, vals in groups.items():
            s = sorted(vals)
            want = tuple(round(s[math.ceil(q * len(s)) - 1], 2)
                         for q in (0.25, 0.5, 0.75))
            assert got[flag] == (len(vals), *want), (
                threshold, flag, got[flag], want)
        assert set(got) == set(groups), got  # all-NULL group E dropped
    # banded plan shape: the only row_number window partitions by
    # (flag, qi) and its input is band-filtered — the sort covers band
    # rows, not the table; the band predicate is a literal price range
    # eligible for parquet min/max pruning
    plan = plan_of(lineitem_price_quartiles(
        load_table(spark, SF_DIR, "lineitem"), band_threshold=0))
    assert "windowspecdefinition(l_returnflag" in plan and "qi" in plan
    assert "isnotnull(qi" in plan
    assert "l_extendedprice), GreaterThanOrEqual" in plan.replace("#", ")#") \
        or "GreaterThanOrEqual(l_extendedprice" in plan, plan[:2000]


def test_repetition_quality_partial_agg_and_pruning(spark):
    """The per-source rollup must be partial+final hash aggregation
    (every per-doc feature, the bigram mode included, is computed in
    the scan projection, so the only aggregation is the source
    rollup), and the scan must read only doc_id/source/text."""
    from toymapreduce_go_spark.operators.textstats import repetition_quality

    plan = plan_of(repetition_quality(load_table(spark, SF_DIR,
                                                 "documents")))
    assert plan.count("HashAggregate") >= 2
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "text" in read_schema and "embedding" not in read_schema


def test_stratified_sample_corpus_shuffles_on_bucketed_key(spark):
    """r9 rewrite: the only corpus-sized exchange hashes on
    (source, b) — the 65536-bucket md5-prefix key — so a dominant
    stratum spreads over its buckets instead of one reducer. (The bare
    hashpartitioning(source) exchanges that remain feed windows over
    the metadata-sized bucket table and the boundary bucket only —
    pinned structurally by
    test_exact_sampling_ranks_only_the_boundary_bucket.)"""
    from toymapreduce_go_spark.operators.textstats import \
        stratified_sample_stats

    plan = plan_of(stratified_sample_stats(load_table(spark, SF_DIR,
                                                      "documents")))
    # the bucketed corpus agg key is present
    import re
    assert re.search(r"hashpartitioning\(source#\d+, b#\d+", plan), plan
    assert "Window" in plan


def test_pii_scrub_is_scan_side(spark):
    """The scrub itself must not shuffle: exactly the final per-source
    aggregation exchanges rows, with regex work in the scan projection."""
    from toymapreduce_go_spark.operators.textstats import pii_scrub

    plan = plan_of(pii_scrub(load_table(spark, SF_DIR, "documents")))
    # agg exchange + the presentation orderBy's range exchange, no more
    assert plan.count("+- Exchange") <= 2, plan
    assert plan.count("HashAggregate") >= 2


def test_pack_sequences_python_stage_input_is_slim(spark):
    """Token counting stays JVM-side: the pandas stage's input must be
    the 4 slim columns, never text."""
    from toymapreduce_go_spark.operators.packing import pack_sequences

    plan = plan_of(pack_sequences(load_table(spark, SF_DIR, "documents")),
                   mode="extended")
    assert "FlatMapGroupsInPandas" in plan
    py_stage = plan.split("FlatMapGroupsInPandas")[1][:200]
    assert "text" not in py_stage


def test_dup_spans_scan_side_hash_and_pruned_scan(spark):
    """dup_spans' gram hashing must be a scan-side projection (no Python
    stage), reading only (doc_id, source, text), with the length filter
    pushed to the scan."""
    from toymapreduce_go_spark.operators.dedup import dup_span_stats

    df = dup_span_stats(load_table(spark, SF_DIR, "documents"))
    plan = plan_of(df)
    assert "Python" not in plan and "ArrowEval" not in plan
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "text" in read_schema and "lang" not in read_schema
    assert "HashAggregate" in plan  # count-combinable dup-hash agg


def test_source_mix_broadcasts_totals(spark):
    """source_mix's normalizing-total join must broadcast (the count
    table is dozens of rows at any scale), never sort-merge."""
    from toymapreduce_go_spark.operators.textstats import source_mix_weights

    df = source_mix_weights(load_table(spark, SF_DIR, "documents"))
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_ivf_pq_encode_is_projection_and_probe_broadcast(spark):
    """PQ encoding must be a pure projection (literal codebooks in the
    plan, no Python, no shuffle before the bucket join) and the probe
    frame must ride a broadcast join."""
    from toymapreduce_go_spark.operators.similarity import ann_ivf_pq

    df = ann_ivf_pq(load_table(spark, SF_DIR, "embeddings"))
    plan = plan_of(df)
    # no Python EXECUTION stages (the probe/LUT literal frame scans as
    # an ExistingRDD whose name mentions Python — that's driver-side
    # model data, not a per-row Python stage)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, marker
    assert "BroadcastHashJoin" in plan


def test_lm_quality_scoring_join_broadcasts_model(spark):
    """lm_quality's claim: the vocab-count model broadcasts, so the
    corpus is shuffled ONCE (the training agg) — the scoring join must
    be a BroadcastHashJoin, never a SortMergeJoin on the token key."""
    from toymapreduce_go_spark.operators.textstats import lm_quality

    plan = plan_of(lm_quality(load_table(spark, SF_DIR, "documents")))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "text" in read_schema and "lang" not in read_schema


def _tree_nodes(plan: str):
    """Parse the formatted-plan tree section into (depth, name, opid)."""
    import re

    nodes = []
    for line in plan.splitlines():
        m = re.match(r"^([\s:+\-*]*)([A-Za-z][\w ]*?) \((\d+)\)\s*$", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2).strip(),
                          int(m.group(3))))
    return nodes


def _is_descendant(nodes, anc_id: int, desc_id: int) -> bool:
    """True when desc_id sits in anc_id's subtree (deeper indentation
    until the tree pops back to anc's level)."""
    depth = {opid: d for d, _, opid in nodes}
    order = [opid for _, _, opid in nodes]
    if anc_id not in depth or desc_id not in depth:
        return False
    started = False
    for opid in order:
        if opid == anc_id:
            started = True
            continue
        if started:
            if depth[opid] <= depth[anc_id]:
                return False
            if opid == desc_id:
                return True
    return False


def test_exact_sampling_ranks_only_the_boundary_bucket(spark):
    """r8 verdict item 1: exact per-source sampling must NOT run a
    row_number window partitioned by source over the whole corpus (a
    dominant source = single-reducer sort at 100 TB). In the hash-cutoff
    plan the only row_number window's input is the boundary-bucket
    filter (b = boundary_b), and the corpus-sized pass is a
    partial+final (source, bucket) hash aggregate."""
    import re

    from toymapreduce_go_spark.operators.textstats import (
        epoch_sample_stats, stratified_sample_stats)

    docs = load_table(spark, SF_DIR, "documents")
    for op in (stratified_sample_stats, epoch_sample_stats):
        plan = plan_of(op(docs))
        nodes = _tree_nodes(plan)
        # locate the row_number Window, and every node whose detail
        # block restricts on boundary_b (Catalyst pushes the
        # b = boundary_b filter into the broadcast-join condition)
        win_ids = [int(m.group(1)) for m in
                   re.finditer(r"\((\d+)\) Window\b", plan)
                   if "row_number" in plan.split(f"({m.group(1)}) Window",
                                                 1)[1][:500]]
        assert win_ids, plan
        bound_ids = [
            int(m.group(1)) for m in
            re.finditer(r"\((\d+)\) (?:Filter|BroadcastHashJoin)\b", plan)
            if "boundary_b" in plan.split(f"({m.group(1)}) ", 1)[1][:900]]
        assert bound_ids, plan
        for win in win_ids:
            assert any(_is_descendant(nodes, win, f) for f in bound_ids), \
                (op.__name__, win, bound_ids, plan)
        # partial+final agg for the (source, bucket) counts
        assert plan.count("HashAggregate") >= 2


def test_exact_sampling_dominant_source_matches_brute_force(spark):
    """Semantics under the exact skew shape the rewrite exists for: one
    source holding ~99.8% of the corpus. The hash-cutoff selection must
    agree doc-for-doc (checksum) with the Python brute force of the
    contract: sort by (md5(str(doc_id)), doc_id), take ceil(n/10)."""
    import hashlib
    import math

    from toymapreduce_go_spark.operators.textstats import (
        stratified_sample_stats)

    rows = ([(i, "big") for i in range(5000)]
            + [(i, "tiny") for i in range(5000, 5010)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r["source"]: r for r in stratified_sample_stats(df).collect()}
    by_src = {"big": range(5000), "tiny": range(5000, 5010)}
    for src, ids in by_src.items():
        ordered = sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(),
                                i))
        take = ordered[:math.ceil(len(ordered) * 0.1)]
        assert got[src]["n_sampled"] == len(take)
        assert got[src]["sampled_id_sum"] == sum(take)


def test_exact_sampling_quota_above_count_takes_everything(spark):
    """quota > n_docs must mean 'take everything' (the naive window's
    rn <= quota semantics), not 'no boundary bucket crosses, take
    nothing' — the core clamps quota to n_docs."""
    from toymapreduce_go_spark.operators.textstats import (
        stratified_sample_stats)

    rows = [(i, "a") for i in range(50)] + [(i, "b") for i in (100, 101)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r["source"]: r
           for r in stratified_sample_stats(df, fraction=1.2).collect()}
    assert got["a"]["n_sampled"] == 50
    assert got["a"]["sampled_id_sum"] == sum(range(50))
    assert got["b"]["n_sampled"] == 2
    assert got["b"]["sampled_id_sum"] == 201


def test_bigram_lm_pruned_scoring_join_broadcasts(spark):
    """SCALE.md's bigram-knob claim, pinned by plan (the fixture's
    closed vocabulary can't show it in wall time): with min_count
    pruning + broadcast_bigrams, the scoring join against the bigram
    model must be a BroadcastHashJoin — the corpus-shaped bigram frame
    is never exchanged for scoring; the one remaining corpus-linear
    exchange is the (w1, w2) training agg."""
    import re

    from toymapreduce_go_spark.operators.textstats import \
        lm_bigram_quality

    def pair_join_kinds(plan: str) -> set[str]:
        kinds = set()
        for block in plan.split("\n\n"):
            m = re.match(r"\(\d+\) (\w+Join)", block)
            if m and re.search(r"Left keys \[2\]: \[w1#\d+, w2#\d+\]",
                               block):
                kinds.add(m.group(1))
        return kinds

    docs = load_table(spark, SF_DIR, "documents")
    plan = plan_of(lm_bigram_quality(docs, min_count=2,
                                     broadcast_bigrams=True))
    # the scoring join on (w1, w2) is broadcast BY HINT — robust at any
    # scale, unlike the exact tier whose join form is size-dependent
    # (the fixture's tiny bigram table auto-broadcasts under the 64 MB
    # threshold; at web scale it would sort-merge, which is exactly why
    # the knob exists)
    assert pair_join_kinds(plan) == {"BroadcastHashJoin"}, plan[:2000]


def test_dataset_split_is_scan_side_projection_plus_one_agg(spark):
    """dataset_split's 100 TB posture, pinned: the holdout assignment
    is a scan-side projection (md5 + pmod + CASE) feeding ONE
    partial+final hash aggregate on the ≤ 3×sources key space — no
    joins, no windows, no Python stages, and the only corpus-sized
    exchange is the count-combinable agg's (the trailing orderBy
    repartitions the ≤ 3×sources result, which is metadata-sized)."""
    from toymapreduce_go_spark.operators.textstats import \
        dataset_split_stats

    plan = plan_of(dataset_split_stats(load_table(spark, SF_DIR,
                                                  "documents")))
    for forbidden in ("Join", "Window", "ArrowEvalPython", "MapInPandas",
                      "BatchEvalPython"):
        assert forbidden not in plan, (forbidden, plan[:1500])
    # partial + final aggregate pair, and nothing else heavy
    assert plan.count("HashAggregate") == 4      # 2 nodes × 2 prints
    assert "PushedFilters" in plan or "ReadSchema" in plan


def test_mojibake_repair_is_scan_side_before_rollup(spark):
    """The repair chain is a pure projection: no join, no window, and
    exactly the one exchange the per-source rollup needs."""
    from toymapreduce_go_spark.operators.textfix import mojibake_stats
    plan = plan_of(mojibake_stats(load_table(spark, SF_DIR,
                                             "documents")))
    import re
    assert "Join" not in plan and "Window" not in plan, plan
    # exactly the agg exchange + the presentation-sort exchange
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert plan.count("HashAggregate") >= 2   # partial + final


def test_crawl_frontier_deny_gate_runs_below_the_rank_join(spark):
    """The plan-literal deny list must filter edge rows BEFORE the one
    corpus-sized shuffle (the rank join): in the analyzed plan the
    DEEPEST array_contains filter sits strictly below every join (the
    r14 composition adds a second, terminal-host deny gate that
    legitimately sits above the re-key join — the scan-side one is
    the scale contract). Robots rules ride a broadcast join; on the
    UN-composed form no SMJ exists anywhere, while the composed
    re-key join is deliberately hint-free (the r13 verdict's `weak`:
    its mapping side is page-scale, so the planner — not a broadcast
    hint — picks its strategy)."""
    from toymapreduce_go_spark.operators.frontier import (
        frontier_candidates)
    docs = load_table(spark, SF_DIR, "documents")
    df = frontier_candidates(docs)
    plan = plan_of(df, "extended")
    analyzed = (plan.split("== Analyzed Logical Plan ==")[1]
                .split("== Optimized Logical Plan ==")[0])
    lines = analyzed.splitlines()
    filt = max(i for i, ln in enumerate(lines)
               if "array_contains" in ln)
    joins = [i for i, ln in enumerate(lines) if "Join" in ln]
    # deeper in the tree = later lines; the gate must be BELOW (after)
    # every join line in the analyzed dump
    assert joins and all(filt > j for j in joins), plan
    phys = plan_of(df)
    assert "BroadcastHashJoin" in phys
    # the re-key mapping must NOT be broadcast by hint: no broadcast
    # function call rides the apply_redirects join (grep the analyzed
    # plan for a hint node — ResolvedHint appears only for the robots
    # frames, which are domain-class-sized)
    assert "UnresolvedHint" not in plan
    # the un-composed frontier keeps the strict r11 contract
    phys0 = plan_of(frontier_candidates(docs, redirects=False))
    assert "SortMergeJoin" not in phys0, phys0
    assert "BroadcastHashJoin" in phys0


def test_sitemap_parse_touches_the_corpus_once(spark):
    """The only corpus-sized work is the page-universe distinct: ONE
    scan of the documents table feeds the whole synthesize→parse→
    rollup chain (everything downstream is host-sized)."""
    from toymapreduce_go_spark.operators.sitemaps import (
        sitemap_extract_stats)
    import re
    plan = plan_of(sitemap_extract_stats(load_table(spark, SF_DIR,
                                                    "documents")))
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan


def test_fetch_list_runs_the_rank_join_exactly_once(spark):
    """fetch_channels references the frontier channel twice (union as
    ch 0, anti-join for the sitemap-only remainder); the page-sized
    channel is localCheckpoint-ed so the corpus-sized edge ⋈ rank
    join and its priority groupBy run ONCE — the fetch_list physical
    plan must contain ZERO rank aggregates (they already executed)
    and reference the checkpointed channel at least twice."""
    from toymapreduce_go_spark.operators.scheduling import fetch_list
    plan = plan_of(fetch_list(load_table(spark, SF_DIR, "documents")))
    import re
    assert not re.findall(r"sum\(r[)#]", plan), plan
    assert plan.count("Scan ExistingRDD") >= 2, plan


def test_lsh_dedup_agg_partially_aggregates_below_its_exchange(spark):
    """_rank_banded_candidates dedups candidates on the FINE
    (probe_id, vec_id) key with a map-side partial aggregate BELOW the
    exchange (guide §2.2/§2.5): a hot LSH bucket's raw multiplicity
    combines in the map tasks instead of landing whole on one of
    ≤ n_probes reducers (the r14 probe-keyed shared exchange bounded
    agg parallelism at n_probes). The window's own probe-keyed
    exchange then moves only deduped slim rows."""
    import re
    from toymapreduce_go_spark.operators.similarity import ann_lsh_portable
    plan = plan_of(ann_lsh_portable(load_table(spark, SF_DIR,
                                               "embeddings")))
    # a map-side partial max exists (raw multiplicity combines before
    # any exchange), and any exchange feeding the dedup agg is keyed
    # at pair grain or finer, never on probe_id alone
    assert "partial_max" in plan, plan
    assert "Window" in plan, plan
    # exactly one probe_id-only exchange: the window's, which consumes
    # the DEDUPED output of the final agg — raw candidates never move
    # on the ≤ n_probes key
    hash_probe_only = re.findall(
        r"hashpartitioning\(probe_id#\d+L?, \d+\)", plan)
    assert len(hash_probe_only) == 1, plan


def test_lsh_planted_hot_bucket_stays_exact(spark):
    """Skew guard (guide §2.5): plant a hot bucket — every vector
    identical, so ALL corpus rows of every band land in ONE bucket and
    every probe's candidate set is the whole corpus. The fine-key
    dedup must still return the exact brute-force top-k (cos 1.0,
    ties by vec_id)."""
    from toymapreduce_go_spark.operators.similarity import (
        ann_lsh_portable, DEFAULT_K)
    n = 400
    emb = spark.range(n).selectExpr(
        "id as vec_id",
        "array(cast(1.0 as float), cast(2.0 as float), "
        "cast(3.0 as float), cast(4.0 as float)) as embedding",
        "cast(id % 3 as int) as label")
    got = ann_lsh_portable(emb, n_probes=3).collect()
    assert len(got) == 3 * DEFAULT_K
    for r in got:
        assert r["cos_sim"] == 1.0
    # ties break by vec_id: probe 0's neighbors are 1..k, probe 1's
    # are 0,2..k, etc.
    by_probe = {}
    for r in got:
        by_probe.setdefault(r["probe_id"], []).append(r["neighbor_id"])
    for p, ns in by_probe.items():
        want = [v for v in range(DEFAULT_K + 1) if v != p][:DEFAULT_K]
        assert ns == want, (p, ns)


def _plant_embeddings(path, n_rows: int) -> None:
    """One single-row-group embeddings file (the local fixtures' shape)
    of ``n_rows`` 64-dim vectors, written without Spark."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(7)
    emb = rng.standard_normal((n_rows, 64)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(np.arange(n_rows, dtype=np.int32) % 10),
    }), str(path), row_group_size=n_rows)


def test_load_table_is_the_one_parallelism_floor(spark, tmp_path):
    """``load_table`` is the only place a small compute-heavy input is
    fanned out: an in-window documents/embeddings file (256 KB–64 MB,
    decided from file bytes) gets exactly one round-robin exchange to
    the default parallelism, and a relational table or a sub-window
    file gets none. The operators over that frame add no floor of
    their own, so building them runs no Spark job — the fan-out
    exchange executes inside the query, not while it is built."""
    import re

    from toymapreduce_go_spark.operators.dedup import embedding_near_dup
    from toymapreduce_go_spark.operators.similarity import (
        ann_lsh_portable, knn_bruteforce, knn_label_vote)
    from toymapreduce_go_spark.sources.registry import (FANOUT_MAX_BYTES,
                                                        FANOUT_MIN_BYTES)
    big, small = tmp_path / "big", tmp_path / "small"
    big.mkdir()
    small.mkdir()
    _plant_embeddings(big / "embeddings.parquet", 2000)
    _plant_embeddings(small / "embeddings.parquet", 100)
    (big / "orders.parquet").write_bytes(
        (big / "embeddings.parquet").read_bytes())
    size = (big / "embeddings.parquet").stat().st_size
    assert FANOUT_MIN_BYTES < size < FANOUT_MAX_BYTES, size
    assert (small / "embeddings.parquet").stat().st_size < FANOUT_MIN_BYTES

    sc = spark.sparkContext
    target = sc.defaultParallelism

    def round_robins(df):
        return re.findall(r"RoundRobinPartitioning\((\d+)\)",
                          plan_of(df, "simple"))

    emb = load_table(spark, str(big), "embeddings")
    assert round_robins(emb) == [str(target)]
    assert round_robins(load_table(spark, str(big), "orders")) == []
    assert round_robins(load_table(spark, str(small), "embeddings")) == []

    tracker = sc.statusTracker()
    unlabelled = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("one_floor.construct", "vector queries construct")
    try:
        for build in (knn_bruteforce, knn_label_vote, ann_lsh_portable,
                      embedding_near_dup):
            build(emb)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert not tracker.getJobIdsForGroup("one_floor.construct")
    assert not set(tracker.getJobIdsForGroup(None)) - unlabelled
