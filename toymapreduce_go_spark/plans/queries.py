"""The declared query surface (SURVEY.md §2d + north-star extensions).

``QUERIES``: name → callable(spark, sf_dir) → DataFrame.
``ORACLES``: name → equivalent DuckDB SQL over the same parquet tables
(views pre-registered by the driver). Names absent from ``ORACLES`` are
non-SQL-expressible (MinHash/SimHash/LSH/winnowing — hash functions with
no DuckDB twin) and get the driver's rows-only check.

Determinism rules applied throughout (FIXTURES.md §3): explicit ORDER BY
on a unique key, every computed column aliased identically in Spark and
SQL, float aggregates rounded at the presentation edge, sets serialized
as sorted CSVs, µs-precision integer arithmetic for time gaps.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..mr.api import run_map_reduce, wc_map, wc_reduce
from ..operators import (bpe, chunking, dedup, dsir, events, frontier,
                         html_extract, joins, langid_model, linkgraph,
                         packing,
                         pdf_extract, quality_model, redirects,
                         relational,
                         scheduling,
                         semantic_dedup, similarity, sitemaps, text_mr,
                         textfix, textstats, unigram_tok, urls,
                         warc_extract)
from ..functions.checksum import CKSUM_MOD
from ..sources.registry import load_table


def _q(fn):
    """Adapt an operator over named tables to (spark, sf_dir)."""
    import inspect
    from ..sources.registry import TABLES
    params = [p for p in inspect.signature(fn).parameters if p in TABLES]

    def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(*[load_table(spark, sf_dir, t) for t in params])

    return runner


# ---------------------------------------------------------------------------
# Python-UDF-path queries (compat API, multimodal) need explicit wiring.

def _mr_compat_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2d #16 — wordcount through the map/reduce compat API (F15 parity):
    same result as the declarative `wordcount`, same oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = run_map_reduce(spark, wc_map, wc_reduce, docs, n_reduce=8)
    return (
        out.select(F.col("key").alias("word"),
                   F.col("value").cast("long").alias("cnt"))
        .orderBy("word")
    )


def _udaf_geomean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas grouped-agg UDAF (Arrow path) — geometric mean of order
    totals per priority; oracle is exp(avg(ln(x)))."""
    from ..functions.python_udx import geomean
    orders = load_table(spark, sf_dir, "orders")
    # a grouped-agg pandas UDF cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — counts come from a second agg over
    # the same shuffle key, joined on the 5-row result
    gm = (orders.groupBy("o_orderpriority")
          .agg(F.round(geomean("o_totalprice"), 2).alias("geo_mean_price")))
    counts = (orders.groupBy("o_orderpriority")
              .agg(F.count(F.lit(1)).alias("n_orders")))
    return gm.join(counts, "o_orderpriority").orderBy("o_orderpriority")


def _udtf_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF tokenizer (Spark 3.5+ table function) feeding the
    declarative count — same result and oracle as `wordcount`, proving
    the UDTF surface against the same contract as the mr-compat API."""
    from ..functions.python_udx import SplitWords
    spark.udtf.register("split_words", SplitWords)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udtf")
    return spark.sql("""
        SELECT s.word, count(*) AS cnt
        FROM _docs_udtf d, LATERAL split_words(d.text) s
        GROUP BY s.word ORDER BY s.word
    """)


def _big_spender_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL entry point (§2c
    subqueries): orders 30% above their customer's own average.
    Catalyst de-correlates this into an aggregate + join — asserted in
    the plan tests — so it's one extra shuffle, never a per-row probe."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_orders_cs")
    return spark.sql("""
        SELECT o_custkey, count(*) AS n_big_orders,
               round(sum(o_totalprice), 2) AS sum_big
        FROM _orders_cs o
        WHERE o_totalprice > (SELECT 1.3 * avg(o2.o_totalprice)
                              FROM _orders_cs o2
                              WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_custkey ORDER BY o_custkey
    """)


def _multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.binary import decode_meta_query
    return decode_meta_query(load_table(spark, sf_dir, "documents"))


def _multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.binary import multimodal_pipeline_query
    return multimodal_pipeline_query(load_table(spark, sf_dir, "documents"))


def _image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.phash import image_phash_pairs
    return image_phash_pairs(load_table(spark, sf_dir, "documents"))


def _audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.audio import audio_stats_query
    return audio_stats_query(load_table(spark, sf_dir, "documents"))


def _audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.audiofp import audio_fingerprint_pairs
    return audio_fingerprint_pairs(load_table(spark, sf_dir, "documents"))


def _video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.videofp import video_fingerprint_pairs
    return video_fingerprint_pairs(load_table(spark, sf_dir, "documents"))


def _heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import heavy_hitters
    return heavy_hitters(load_table(spark, sf_dir, "documents"))


def _video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.video import video_stats_query
    return video_stats_query(load_table(spark, sf_dir, "documents"))


def _streaming_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tier2 streaming coverage (r15): one fixed 3-batch availableNow
    replay of the documents table through the composed curation ingest
    (telemetry → gate → incremental near-dedup), returning the per-batch
    telemetry × survivor rollup for the noop sink. EVERYTHING is built
    fresh inside the call — a pid-scoped temp state dir AND a fresh
    3-split source staging of the parquet input — so every invocation
    recomputes from the fixture with no cross-run state or caches
    (dead-pid leftovers are GC'd best-effort, the _stream_src_dir
    convention)."""
    import os
    import shutil
    import tempfile

    from ..streaming.ingest import (read_survivors, read_telemetry,
                                    run_curation_ingest)

    tmp = tempfile.gettempdir()
    prefix = "tmrs_stream_cycle_"
    for stale in os.listdir(tmp):
        if not stale.startswith(prefix):
            continue
        try:
            os.kill(int(stale[len(prefix):].split("_")[0]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(tmp, stale), ignore_errors=True)
        except PermissionError:
            pass
    state_dir = tempfile.mkdtemp(prefix=f"{prefix}{os.getpid()}_")
    docs = load_table(spark, sf_dir, "documents")
    src_dir = os.path.join(state_dir, "src")
    docs.repartition(3).write.mode("overwrite").parquet(src_dir)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    run_curation_ingest(stream, state_dir, spark)
    surv = (read_survivors(spark, state_dir)
            .groupBy("batch_id")
            .agg(F.count(F.lit(1)).alias("n_survivors"),
                 F.sum(F.pmod(F.col("doc_id"), F.lit(CKSUM_MOD)))
                 .alias("survivor_checksum")))
    # only batches that carried documents: an empty source still
    # stages one schema-only file, which arrives as a zero-doc batch
    return (read_telemetry(spark, state_dir)
            .filter("n_docs > 0")
            .join(surv, "batch_id", "left")
            .select("batch_id", "n_docs", "n_pass", "pass_rate",
                    "n_survivors", "survivor_checksum")
            .orderBy("batch_id"))


def _session_index_dir(sf_dir: str, tag: str) -> str:
    """A pid-scoped temp dir for a session-built persisted index: two
    concurrent runs (pytest parity + bench) must not overwrite each
    other's postings mid-probe (review r10). GCs the corpus-sized
    copies DEAD pids left behind (the _stream_src_dir
    best-effort-cleanup convention) — live pids are skipped so a
    concurrent run's index is never yanked mid-probe."""
    import hashlib
    import os
    import shutil
    import tempfile

    prefix = (f"tmrg_{tag}_"
              f"{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}_")
    tmp = tempfile.gettempdir()
    for stale in os.listdir(tmp):
        if stale.startswith(prefix) and stale != f"{prefix}{os.getpid()}":
            try:
                os.kill(int(stale[len(prefix):]), 0)
            except (ProcessLookupError, ValueError):
                shutil.rmtree(os.path.join(tmp, stale),
                              ignore_errors=True)
            except PermissionError:
                pass  # pid alive under another uid — leave it
    return os.path.join(tmp, f"{prefix}{os.getpid()}")


def _ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the PERSISTED vector index (model + cell-partitioned
    posting lists) into a session temp dir, then probe it — result
    bit-identical to ann_ivf_trained (same deterministic training,
    doubles round-trip parquet exactly), so it shares that oracle.
    The probe's postings scan is partition-pruned to the routed cells
    (tests/test_vector_index.py plan assertion)."""
    from ..operators.similarity import ann_query_index, write_vector_index
    emb = load_table(spark, sf_dir, "embeddings")
    path = _session_index_dir(sf_dir, "vec_index")
    write_vector_index(emb, path)
    return ann_query_index(emb, path)


def _ann_index_probe_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the PQ-CODED persisted index (r13: m-byte codes in the
    cell-partitioned postings — ~32× smaller than the flat tier's
    float vectors) and probe it via ADC + exact refine against the
    full-precision corpus. Invariant tier (a lossy code has no SQL
    twin); its pinned contract is equality with the FLAT index's
    probe whenever refine × k covers the routed cells
    (tests/test_vector_index.py) plus the recall floor."""
    from ..operators.similarity import (ann_query_index_pq,
                                        write_vector_index_pq)
    emb = load_table(spark, sf_dir, "embeddings")
    path = _session_index_dir(sf_dir, "vec_index_pq")
    write_vector_index_pq(emb, path)
    return ann_query_index_pq(emb, emb, path)


def _approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL count-distinct, t-digest quantiles) —
    sketch-based, rows-only check (non-deterministic vs an exact oracle by
    design; at 100 TB these replace exact distincts wherever ±2% is fine).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.round(F.percentile_approx("value", 0.5), 2).alias("approx_median_value"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- reference text/MR surface (SURVEY.md §2b/§2d #1-5 + A6) ---------
    "wordcount": _q(text_mr.wordcount),
    "unicode_wordcount": _q(text_mr.unicode_wordcount),
    "inverted_index": _q(text_mr.inverted_index),
    "distinct_words_per_doc": _q(text_mr.distinct_words_per_doc),
    "per_source_doc_count": _q(text_mr.per_source_doc_count),
    "sorted_concat": _q(text_mr.sorted_concat_sources_per_lang),
    "constant_key_metadata": _q(text_mr.constant_key_metadata),
    "mr_compat_wordcount": _mr_compat_wordcount,
    "udtf_wordcount": _udtf_wordcount,
    "udaf_geomean_prices": _udaf_geomean_prices,
    # -- relational spread (§2d #6-10) -----------------------------------
    "pricing_summary": _q(relational.pricing_summary),
    "top_unshipped_orders": _q(relational.top_unshipped_orders),
    "region_nation_rollup": _q(relational.region_nation_rollup),
    "order_priority_window": _q(relational.order_priority_window),
    "set_ops": _q(relational.customer_set_ops),
    "customers_without_orders": _q(relational.customers_without_orders),
    "big_spender_orders": _big_spender_orders,
    "events_cube": _q(relational.events_cube),
    "events_json_extract": _q(relational.events_json_extract),
    "events_props_map": _q(relational.events_props_map),
    "orders_pivot": _q(relational.orders_pivot),
    "regional_revenue": _q(relational.regional_revenue),
    "promo_revenue_share": _q(relational.promo_revenue_share),
    "parts_grouping_sets": _q(relational.parts_grouping_sets),
    "suppliers_with_shipments": _q(relational.suppliers_with_shipments),
    "price_band_totals": lambda spark, sf_dir: relational.price_band_totals(
        spark, load_table(spark, sf_dir, "orders")),
    "order_seasonality": _q(relational.order_seasonality),
    "lineitem_price_quartiles": _q(relational.lineitem_price_quartiles),
    "customer_name_parse": _q(relational.customer_name_parse),
    "embedding_stats": _q(similarity.embedding_stats),
    # -- event time (§2d #11-12) -----------------------------------------
    "events_tumbling": _q(events.events_tumbling),
    "events_sliding": _q(events.events_sliding),
    "events_sessionize": _q(events.events_sessionize),
    "set_ops_all": _q(relational.customer_set_ops_all),
    "events_asof_join": _q(joins.events_asof_join),
    "approx_stats": _approx_stats,
    # -- dedup family (§2d #13-14 + north star) --------------------------
    "exact_dedup": _q(dedup.exact_dedup_survivors),
    "ngram_jaccard_pairs": _q(dedup.ngram_jaccard_pairs),
    "near_dedup_minhash": _q(dedup.near_dedup_minhash_portable),
    "simhash_buckets": _q(dedup.simhash_buckets_portable),
    "simhash_hamming": _q(dedup.simhash_hamming_pairs),
    "embedding_near_dup": _q(dedup.embedding_near_dup),
    # -- similarity search (§2d #15 + north star) ------------------------
    "knn_bruteforce": _q(similarity.knn_bruteforce),
    "ann_lsh": _q(similarity.ann_lsh_portable),
    "ann_ivf": _q(similarity.ann_ivf),
    "ann_ivf_filtered": _q(similarity.ann_ivf_filtered),
    "ann_ivf_trained": _q(similarity.ann_ivf_trained),
    "ann_index_probe": _ann_index_probe,
    "ann_index_probe_pq": _ann_index_probe_pq,
    "ann_ivf_pq": _q(similarity.ann_ivf_pq),
    "knn_label_vote": _q(similarity.knn_label_vote),
    "ann_label_vote": _q(similarity.ann_label_vote),
    # -- text analysis (north star) --------------------------------------
    "lang_id": _q(textstats.lang_id),
    "text_quality": _q(textstats.text_quality),
    "token_counts": _q(textstats.token_counts),
    "doc_fingerprint": _q(textstats.doc_fingerprint),
    "rolling_fingerprint": _q(textstats.rolling_fingerprint_portable),
    "curation_pipeline": _q(textstats.curation_pipeline),
    "repetition_quality": _q(textstats.repetition_quality),
    "stratified_sample": _q(textstats.stratified_sample_stats),
    "contamination_check": _q(dedup.contamination_check),
    "bloom_dedup": _q(dedup.bloom_dedup),
    "near_dedup_vs_prior": _q(dedup.near_dedup_vs_prior_split),
    "heavy_hitters": _heavy_hitters,
    "streaming_cycle": _streaming_cycle,
    "pii_scrub": _q(textstats.pii_scrub),
    "sequence_packing": _q(packing.packing_stats),
    "chunk_stats": _q(chunking.chunk_stats),
    "near_dup_clusters": _q(dedup.near_dup_clusters_portable),
    "hashed_tf": _q(textstats.hashed_tf_summary),
    "events_gapfill": _q(events.events_gapfill),
    "event_funnel": _q(events.event_funnel),
    "user_retention": _q(events.user_retention),
    "event_anomalies": _q(events.event_anomalies),
    "top_docs_per_source": _q(relational.top_docs_per_source),
    "fuzzy_name_stats": _q(relational.fuzzy_name_stats),
    "orders_upsert": _q(relational.orders_upsert),
    "weighted_sample": _q(textstats.weighted_sample_stats),
    "dup_spans": _q(dedup.dup_span_stats),
    "line_dedup": _q(dedup.line_dedup_stats),
    "dup_span_coverage": _q(dedup.dup_span_coverage),
    "source_mix": _q(textstats.source_mix_weights),
    "quality_distill": _q(quality_model.quality_model_report),
    "lm_quality": _q(textstats.lm_quality),
    "lm_quality_pruned": lambda spark, sf_dir: textstats.lm_quality(
        load_table(spark, sf_dir, "documents"), min_count=500),
    "lm_bigram_quality": _q(textstats.lm_bigram_quality),
    "epoch_sample": _q(textstats.epoch_sample_stats),
    "ccnet_buckets": _q(textstats.ccnet_bucket_stats),
    "training_shards": _q(textstats.training_shard_stats),
    "dataset_split": _q(textstats.dataset_split_stats),
    "bpe_stats": _q(bpe.bpe_stats),
    "dsir_importance": _q(dsir.dsir_importance_stats),
    "tfidf": _q(textstats.tfidf_summary),
    "unigram_tok": _q(unigram_tok.unigram_tok_stats),
    "semantic_dedup": _q(semantic_dedup.semantic_dedup_pairs),
    "html_extract": _q(html_extract.html_extract_stats),
    "pdf_extract": _q(pdf_extract.pdf_extract_stats),
    "warc_extract": _q(warc_extract.warc_extract_stats),
    "warc_extract_gz": _q(warc_extract.warc_gz_extract_stats),
    "link_pagerank": _q(linkgraph.link_pagerank),
    "crawl_frontier": _q(frontier.crawl_frontier),
    "sitemap_extract": _q(sitemaps.sitemap_extract_stats),
    "sitemap_index": _q(sitemaps.sitemap_index_stats),
    "mojibake_repair": _q(textfix.mojibake_stats),
    "recrawl_schedule": _q(sitemaps.recrawl_schedule),
    "recrawl_revalidation": _q(sitemaps.recrawl_revalidation),
    "etag_revalidation": _q(sitemaps.etag_revalidation),
    "fetch_list": _q(scheduling.fetch_list),
    "robots_gate": _q(urls.robots_stats),
    "url_canonical": _q(urls.url_stats),
    "crawl_diff": _q(urls.crawl_diff_stats),
    "redirect_resolve": _q(redirects.redirect_stats),
    "redirect_aware_diff": _q(redirects.redirect_aware_diff_stats),
    "domain_blocklist": _q(urls.domain_blocklist_stats),
    "domain_reputation": _q(urls.domain_reputation),
    "corpus_datasheet": _q(textstats.corpus_datasheet),
    "langid_trained": _q(langid_model.langid_confusion),
    # -- multimodal plumbing (north star) --------------------------------
    "multimodal_decode": _multimodal_decode,
    "multimodal_pipeline": _multimodal_pipeline,
    "audio_stats": _audio_stats,
    "video_stats": _video_stats,
    "image_phash": _image_phash,
    "audio_fingerprint": _audio_fingerprint,
    "video_fingerprint": _video_fingerprint,
}


def entry_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: pricing_summary (§2d #6)."""
    return QUERIES["pricing_summary"](spark, sf_dir)


# ---------------------------------------------------------------------------
# The driver records at most 50 CORRECTNESS rows per round (observed in
# r01 and r02: exactly the first 50 QUERIES keys both times, the 51st —
# multimodal_pipeline — silently dropped despite having an oracle). The
# surface exposed through __spark_entry__ is therefore curated to exactly
# 50 entries; everything in QUERIES beyond DECLARED keeps full oracle
# parity coverage in tests/test_oracle_parity.py, which iterates the
# complete dicts.
#
# Curation choices (nothing loses its check):
# - multimodal_decode: its decode-stage metrics are folded into
#   multimodal_pipeline's rollup, so the declared pipeline query
#   certifies decode + resize + frame-sample end-to-end.
# - udtf_wordcount: proves the UDTF surface against the same oracle as
#   wordcount/mr_compat_wordcount; it stays pytest-oracled.
# - ann_ivf_trained: same plan shape as the declared ann_ivf with a
#   trained centroid model; its full value-hash parity (including the
#   unrolled Lloyd's training twin) runs in pytest.
# - wordcount (round 7, displaced by unicode_wordcount): the ASCII
#   tokenizer form. mr_compat_wordcount runs the IDENTICAL computation
#   against the IDENTICAL oracle through the plugin-compat path, so the
#   declared surface still value-checks A1+A2 twice over — once per
#   tokenizer contract (ASCII via mr-compat, full-Unicode via
#   unicode_wordcount, the reference's actual wc.go semantics).

# - repetition_quality / stratified_sample (round 7): Gopher-style
#   repetition gates and exact deterministic stratified sampling — full
#   DuckDB-oracle parity in pytest; kept off the 50-slot declared list
#   rather than displace an established query mid-stream.
PYTEST_ONLY = ("multimodal_decode", "udtf_wordcount", "ann_ivf_trained",
               "wordcount", "repetition_quality", "stratified_sample",
               "contamination_check", "pii_scrub", "sequence_packing",
               "near_dup_clusters", "hashed_tf", "events_gapfill",
               "audio_stats", "video_stats", "weighted_sample",
               "dup_spans", "dup_span_coverage", "line_dedup",
               "source_mix",
               "ann_ivf_pq", "knn_label_vote", "ann_label_vote",
               "quality_distill", "lm_quality",
               "lm_quality_pruned", "lm_bigram_quality", "epoch_sample",
               "ccnet_buckets", "training_shards", "bpe_stats",
               "dsir_importance", "tfidf", "unigram_tok",
               "semantic_dedup", "image_phash", "dataset_split",
               "audio_fingerprint", "video_fingerprint", "bloom_dedup",
               "heavy_hitters", "near_dedup_vs_prior",
               "ann_ivf_filtered", "chunk_stats", "event_funnel",
               "user_retention", "top_docs_per_source",
               "fuzzy_name_stats", "event_anomalies", "orders_upsert",
               "html_extract", "url_canonical", "langid_trained",
               "ann_index_probe", "ann_index_probe_pq",
               "crawl_diff", "redirect_resolve", "redirect_aware_diff",
               "corpus_datasheet",
               "domain_blocklist", "domain_reputation", "pdf_extract",
               "warc_extract", "warc_extract_gz",
               "link_pagerank", "robots_gate",
               "crawl_frontier", "sitemap_extract", "sitemap_index",
               "mojibake_repair",
               "recrawl_schedule", "recrawl_revalidation",
               "etag_revalidation", "fetch_list", "streaming_cycle")

# Pytest-tier ops with NO DuckDB twin (sequential/greedy algorithms SQL
# can't express); their correctness contract is invariant tests instead
# (tests/test_packing.py) — the same convention as the declared
# rows-only approx_stats.
# (audio/video stats decode real RIFF/MJPEG containers — DuckDB cannot;
# their oracle is the lossless round-trip + distributed-equals-local
# recomputation in tests/test_audio_video.py.)
# (ann_ivf_pq is a LOSSY code — exact SQL parity is meaningless; its
# contract is the recall floor vs bruteforce + deterministic encoding,
# tests/test_property.py / RECALL.md. quality_distill trains a
# pyspark.ml model — distributed histogram aggregation is not
# bit-deterministic; its contract is the agreement floor + exact rate
# matching, tests/test_quality_model.py.)
# (bpe_stats and unigram_tok train tokenizers with iterative loops
# (argmax-merge / hard-EM prune) SQL can't express; their contract is
# exact agreement with independent reference trainers, tests/test_bpe.py
# and tests/test_unigram_tok.py.)
# (streaming_cycle is the tier2 bench face of the composed curation
# ingest — a foreachBatch replay with checkpointed state; its
# correctness contract is the batch-equivalence + restart-idempotence
# pins in tests/test_dedup_stream.py, not a SQL twin.)
PYTEST_INVARIANT_ONLY = ("sequence_packing", "audio_stats", "video_stats",
                         "streaming_cycle",
                         "ann_ivf_pq", "ann_index_probe_pq",
                         "ann_label_vote",
                         "quality_distill", "bpe_stats", "unigram_tok",
                         "image_phash", "audio_fingerprint",
                         "video_fingerprint")

# DECLARED is pinned against tests/declared_surface.txt
# (test_oracle_parity.py::test_declared_surface_frozen): displacing a
# query mid-stream breaks cross-round CORRECTNESS/BENCH diffs and the
# bench regression guard, so any change must be an explicit, reviewed
# diff that updates the snapshot file in the same commit.
DECLARED: list[str] = [q for q in QUERIES if q not in PYTEST_ONLY]


# ---------------------------------------------------------------------------
# DuckDB oracles. Shared fragments first.

_TOKS = ("SELECT doc_id, list_filter(string_split_regex(text, '[^a-zA-Z]+'), "
         "t -> length(t) > 0) AS toks FROM documents")

_WORDS = (f"SELECT doc_id, unnest(toks) AS word FROM ({_TOKS})")

_SHINGLES3 = f"""
    SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
    FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
          FROM ({_TOKS}) WHERE len(toks) >= 3)
"""

_COS = """
    CASE WHEN sqrt(list_sum(list_transform(range(1, len({a}) + 1),
                   i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE))) > 0
          AND sqrt(list_sum(list_transform(range(1, len({b}) + 1),
                   i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE))) > 0
    THEN list_sum(list_transform(range(1, len({a}) + 1),
                  i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, len({a}) + 1),
                  i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, len({b}) + 1),
                  i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE))))
    ELSE 0.0 END
"""

_WORDCOUNT_SQL = f"""
    SELECT word, count(*) AS cnt FROM ({_WORDS})
    GROUP BY word ORDER BY word
"""

_QUALITY_FEATS = """
    SELECT doc_id, source,
           length(text)::DOUBLE AS n_chars_d,
           round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                 / greatest(length(text)::DOUBLE, 1.0), 4) AS alpha_ratio,
           round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                 / greatest(length(text)::DOUBLE, 1.0), 4) AS punct_ratio,
           round(len(list_filter(string_split_regex(text, '[^a-zA-Z]+'),
                     t -> length(t) > 0 AND lower(t) IN
                          ('the','a','and','of','to','in')))::DOUBLE
                 / greatest(len(list_filter(string_split_regex(text, '\\s+'),
                            t -> length(t) > 0))::DOUBLE, 1.0), 4) AS stopword_ratio,
           round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                 / greatest(len(list_filter(string_split_regex(text, '\\s+'),
                            t -> length(t) > 0))::DOUBLE, 1.0), 4) AS mean_word_len
    FROM documents
"""

def _simhash_sigs_sql(bits: int = 60) -> str:
    """Generated DuckDB twin of ``dedup.simhash_signatures(portable=True)``:
    per-bit ±1 vote sums over 60-bit md5-derived token hashes (identical
    to Spark's conv(substring(md5,1,15),16,10))."""
    votes = ", ".join(
        f"sum(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits))
    sh = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""
        SELECT doc_id, CAST({sh} AS BIGINT) AS simhash
        FROM (SELECT doc_id, {votes}
              FROM (SELECT doc_id,
                           ('0x' || substr(md5(word), 1, 15))::BIGINT AS th
                    FROM ({_WORDS}))
              GROUP BY doc_id)
    """


def _minhash_band_ctes(n: int = 3, n_hashes: int = 64,
                       n_bands: int = 16) -> str:
    """WITH-clause body producing the LSH banding candidate pairs —
    ``pairs(doc_a, doc_b)`` plus the ``sigs`` frame — the DuckDB twin of
    ``dedup.minhash_band_pairs(portable=True)``: shingle → 32-bit md5
    prefix mod p = 2³¹−1, permutation i = (a_i·x + b_i) mod p with the
    SAME literal coefficients (``dedup.minhash_perm_params``), 4-row
    band keys as CSV strings, bucket self-join. Shared by the
    near_dedup_minhash oracle and the ngram_jaccard_pairs LSH-candidate
    oracle (round 7)."""
    from ..operators.dedup import MINHASH_PRIME, minhash_perm_params

    p = MINHASH_PRIME
    rows = n_hashes // n_bands
    sig_exprs = ",\n               ".join(
        f"list_min(list_transform(xs, x -> (x * {a} + {b}) % {p}))"
        for a, b in minhash_perm_params(n_hashes))
    shingle = f"array_to_string(toks[i:i+{n - 1}], ' ')"
    return f"""xs AS (
            SELECT doc_id,
                   list_transform(range(1, len(toks) - {n} + 2),
                       i -> ('0x' || substr(md5({shingle}), 1, 8))::BIGINT
                            % {p}) AS xs
            FROM ({_TOKS}) WHERE len(toks) >= {n}),
        sigs AS (
            SELECT doc_id, [{sig_exprs}] AS sig FROM xs),
        bands AS (
            SELECT doc_id, b AS band_id,
                   array_to_string(sig[b*{rows}+1 : b*{rows}+{rows}], ',')
                       AS band_hash
            FROM sigs, (SELECT unnest(range(0, {n_bands})) AS b) bs),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id)"""


def _minhash_oracle_sql(n: int = 3, n_hashes: int = 64, n_bands: int = 16,
                        threshold: float = 0.5) -> str:
    """Generated DuckDB twin of ``dedup.near_dedup_minhash(portable=True)``:
    banding candidates (``_minhash_band_ctes``), then agreement fraction
    k/n_hashes — an exact dyadic double in both engines, so no rounding
    is needed (or wanted: the value-hash compares raw doubles)."""
    return f"""
        WITH {_minhash_band_ctes(n, n_hashes, n_bands)},
        est AS (
            SELECT doc_a, doc_b,
                   list_sum(list_transform(range(1, {n_hashes + 1}),
                       i -> CASE WHEN sa.sig[i] = sb.sig[i]
                                 THEN 1 ELSE 0 END))::DOUBLE
                   / {float(n_hashes)} AS est_jaccard
            FROM pairs JOIN sigs sa ON sa.doc_id = doc_a
                       JOIN sigs sb ON sb.doc_id = doc_b)
        SELECT doc_a, doc_b, est_jaccard FROM est
        WHERE est_jaccard >= {threshold} ORDER BY doc_a, doc_b
    """


def _event_funnel_oracle_sql(steps: tuple[str, ...] = ("view", "click",
                                                       "purchase"),
                             within_minutes: int = 24 * 60) -> str:
    """Generated DuckDB twin of ``events.event_funnel``: the same
    greedy-earliest chain as a sequence of min-agg CTEs (one per step),
    integer-µs horizon arithmetic (``epoch_us`` == Spark
    ``unix_micros``), and the mod-prime matched-time checksum."""
    w_us = within_minutes * 60 * 1_000_000
    p = CKSUM_MOD
    ctes = [f"""s1 AS (
            SELECT user_id, min(us) AS t, min(us) + {w_us} AS deadline
            FROM base WHERE event_type = '{steps[0]}' GROUP BY user_id)"""]
    for i, s in enumerate(steps[1:], start=2):
        ctes.append(f"""s{i} AS (
            SELECT b.user_id, min(b.us) AS t, max(p.deadline) AS deadline
            FROM base b JOIN s{i - 1} p USING (user_id)
            WHERE b.event_type = '{s}' AND b.us > p.t
              AND b.us <= p.deadline
            GROUP BY b.user_id)""")
    selects = "\n            UNION ALL\n            ".join(
        f"SELECT {i} AS step, '{s}' AS event_type, "
        f"count(*) AS n_users, "
        f"coalesce(sum(t % {p}), 0)::BIGINT AS t_checksum FROM s{i}"
        for i, s in enumerate(steps, start=1))
    body = ",\n        ".join(ctes)
    return f"""
        WITH base AS (
            SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        {body}
        SELECT * FROM (
            {selects}
        ) ORDER BY step
    """


def _chunk_stats_oracle_sql(chunk_tokens: int = 32, overlap: int = 8
                            ) -> str:
    """Generated DuckDB twin of ``chunking.chunk_stats``: the same
    integer ceil-div window count (DuckDB ``//`` == Spark ``div``),
    end-exclusive ``range`` == the guarded Spark ``sequence``, clamped
    list slices, and the (chunk_id + 1)-weighted md5-mod-prime content
    checksum. ``unnest`` rides inside the SELECT so every ROW chunks
    independently — faithful under duplicate doc_ids."""
    c, s = chunk_tokens, chunk_tokens - overlap
    return f"""
        WITH toks AS (
            SELECT doc_id, source,
                   list_filter(string_split_regex(text, '[^a-zA-Z]+'),
                               t -> length(t) > 0) AS toks
            FROM documents),
        nc AS (
            SELECT doc_id, source, toks,
                   CASE WHEN len(toks) <= 0 THEN 0
                        WHEN len(toks) <= {c} THEN 1
                        ELSE 1 + ((len(toks) - {c} + {s - 1}) // {s})
                   END AS n_chunks
            FROM toks),
        ch AS (
            SELECT doc_id, source, toks,
                   unnest(range(1, n_chunks + 1)) - 1 AS chunk_id
            FROM nc),
        cw AS (
            SELECT doc_id, source, chunk_id,
                   toks[chunk_id * {s} + 1 : chunk_id * {s} + {c}]
                       AS ctoks
            FROM ch),
        terms AS (
            SELECT doc_id, source, len(ctoks) AS n_tokens,
                   ((chunk_id + 1) *
                    (('0x' || substr(md5(array_to_string(ctoks, ' ')),
                                     1, 12))::BIGINT % {CKSUM_MOD}))
                   % {CKSUM_MOD} AS term
            FROM cw)
        SELECT source, count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_chunks,
               sum(n_tokens) AS sum_chunk_tokens,
               max(n_tokens) AS max_chunk_tokens,
               sum(term) AS chunk_checksum
        FROM terms GROUP BY source ORDER BY source
    """


def _html_extract_oracle_sql(boilerplate_milli: int = 20) -> str:
    """Generated DuckDB twin of ``html_extract.html_extract_stats``:
    the same deterministic page synthesis (byte-identical concat,
    entity-escaped body), the same RE2-compatible strip chain
    ((?s) lazy script/style removal — RE2 and Java regex agree on
    these constructs), the same entity unescape order (&amp; last),
    parallel-unnest line positions (DuckDB zips same-SELECT unnests;
    range is end-exclusive so len+1 == Spark's posexplode+1), the
    cross-multiplied integer boilerplate threshold, and the
    pos-weighted mod-prime checksum over kept lines."""
    return f"""
        WITH esc AS (
            SELECT doc_id, source,
                   replace(replace(replace(text, '&', '&amp;'),
                           '<', '&lt;'), '>', '&gt;') AS et
            FROM documents),
        page AS (
            SELECT doc_id, source,
              '<!DOCTYPE html>' || chr(10) || '<html>' || chr(10) ||
              '<head><title>' || source || ' #' ||
              CAST(doc_id AS VARCHAR) || '</title>' || chr(10) ||
              '<style>body{{margin:0;padding:0}}</style>' || chr(10) ||
              '<script type="text/javascript">var p="' ||
              CAST(doc_id AS VARCHAR) || '";track(p);</script>' ||
              chr(10) || '</head>' || chr(10) || '<body>' || chr(10) ||
              '<header><nav><a href="/">Home</a> | ' ||
              '<a href="/about">About</a> | ' ||
              '<a href="/contact">Contact</a></nav></header>' ||
              chr(10) ||
              '<div class="banner">Subscribe &amp; save today!</div>' ||
              chr(10) || '<main>' || chr(10) ||
              '<h1>' || source || ' document ' ||
              CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) ||
              '<p>' || et || '</p>' || chr(10) || '</main>' ||
              chr(10) || '<footer>&copy; 2026 ' || source ||
              '. All rights reserved.</footer>' || chr(10) ||
              '</body>' || chr(10) || '</html>' AS html
            FROM esc),
        ext AS (
            SELECT doc_id, source,
              replace(replace(replace(replace(replace(replace(replace(
                regexp_replace(regexp_replace(regexp_replace(html,
                  '(?is)<script[^>]*>.*?</script>', '', 'g'),
                  '(?is)<style[^>]*>.*?</style>', '', 'g'),
                  '<[^>]*>', '', 'g'),
                '&copy;', '(c)'), '&nbsp;', ' '), '&quot;', '"'),
                '&#39;', chr(39)), '&lt;', '<'), '&gt;', '>'),
                '&amp;', '&') AS txt
            FROM page),
        {_extract_stats_tail_sql(boilerplate_milli)}
    """


def _extract_stats_tail_sql(boilerplate_milli: int) -> str:
    """Shared line/boilerplate/rollup CTE tail over an
    ``ext(doc_id, source, txt)`` CTE — the DuckDB mirror of
    ``html_extract.flagged_extracted_lines`` + ``extract_stats_rollup``
    (container-agnostic by the same argument: the HTML and PDF twins
    differ only in how ``ext`` is produced). ``df >= 2``: the r10
    small-batch boilerplate floor, mirrored from the engine."""
    return f"""l0 AS (SELECT doc_id, source,
                      string_split(txt, chr(10)) AS ls FROM ext),
        lines AS (SELECT doc_id, source,
                         unnest(range(1, len(ls) + 1)) AS pos,
                         trim(unnest(ls)) AS line
                  FROM l0),
        ne AS (SELECT doc_id, source, pos, line,
                      ('0x' || substr(md5(line), 1, 15))::BIGINT AS h
               FROM lines WHERE length(line) > 0),
        boiler AS (
            SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df
                           FROM ne GROUP BY h)
            WHERE df >= 2 AND df * 1000 >= {boilerplate_milli} *
                  (SELECT count(DISTINCT doc_id) FROM documents)),
        flagged AS (
            SELECT ne.*, CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END
                   AS is_boiler
            FROM ne LEFT JOIN boiler b ON ne.h = b.h),
        raw AS (SELECT source, count(DISTINCT doc_id) AS n_docs,
                       sum(len(ls)) AS n_raw_lines
                FROM l0 GROUP BY source),
        per AS (SELECT source, count(*) AS n_nonempty_lines,
                       sum(is_boiler) AS n_boiler_dropped,
                       sum(1 - is_boiler) AS n_kept_lines,
                       sum(CASE WHEN is_boiler = 0
                                THEN (pos * (h % {CKSUM_MOD}))
                                     % {CKSUM_MOD}
                                ELSE 0 END) AS clean_checksum
                FROM flagged GROUP BY source)
        SELECT raw.source AS source, n_docs, n_raw_lines,
               coalesce(n_nonempty_lines, 0) AS n_nonempty_lines,
               coalesce(n_boiler_dropped, 0) AS n_boiler_dropped,
               coalesce(n_kept_lines, 0) AS n_kept_lines,
               coalesce(clean_checksum, 0) AS clean_checksum
        FROM raw LEFT JOIN per ON raw.source = per.source
        ORDER BY raw.source"""


def _sql_str(s: str) -> str:
    """A Python string as a DuckDB single-quoted literal (embedded
    newlines are legal and literal in SQL strings)."""
    return "'" + s.replace("'", "''") + "'"


def _pdf_extract_oracle_sql(boilerplate_milli: int = 20) -> str:
    """Generated DuckDB twin of ``pdf_extract.pdf_extract_stats``: the
    same byte-deterministic minimal-PDF synthesis (constant objects and
    offsets interpolated from the engine's own module literals; the
    variable tail — /Length, xref offset 5, startxref — computed per
    row via strlen/lpad exactly like the engine's octet_length), the
    same stream → BT/ET → Tj extraction regexes (RE2 and Java agree on
    (?s), lazy quantifiers, and the escape-aware operand class), the
    same paren-first/backslash-last unescape chain, then the shared
    line/boilerplate/rollup tail."""
    from ..operators.pdf_extract import (PDF_HEADER, PDF_LETTERHEAD,
                                         PDF_OBJ1, PDF_OBJ2, PDF_OBJ3,
                                         PDF_OBJ5, PDF_OFF1, PDF_OFF2,
                                         PDF_OFF3, PDF_OFF4)
    head = _sql_str(PDF_HEADER + PDF_OBJ1 + PDF_OBJ2 + PDF_OBJ3)
    xref_const = _sql_str(
        "xref\n0 6\n0000000000 65535 f \n"
        + "".join(f"{o:010d} 00000 n \n"
                  for o in (PDF_OFF1, PDF_OFF2, PDF_OFF3, PDF_OFF4)))
    return f"""
        WITH esc AS (
            SELECT doc_id, source,
                   array_to_string(list_transform(
                       string_split(text, chr(10)),
                       ln -> '(' || replace(replace(replace(ln,
                             '\\', '\\\\'), '(', '\\('), ')', '\\)')
                             || ') Tj'),
                       chr(10) || '0 -14 Td' || chr(10)) AS body
            FROM documents),
        st AS (
            SELECT doc_id, source,
              'BT' || chr(10) || '/F1 12 Tf' || chr(10) ||
              '72 720 Td' || chr(10) ||
              '({PDF_LETTERHEAD}) Tj' || chr(10) ||
              '0 -14 Td' || chr(10) ||
              '(' || source || ' document ' ||
              CAST(doc_id AS VARCHAR) || ') Tj' || chr(10) ||
              '0 -14 Td' || chr(10) ||
              body || chr(10) ||
              '0 -14 Td' || chr(10) ||
              '(Page 1 of 1 - \\(c\\) 2026 ' || source || ') Tj' ||
              chr(10) || 'ET' AS s
            FROM esc),
        o4 AS (
            SELECT doc_id, source,
              '4 0 obj' || chr(10) || '<< /Length ' ||
              CAST(strlen(s) AS VARCHAR) || ' >>' || chr(10) ||
              'stream' || chr(10) || s || chr(10) ||
              'endstream' || chr(10) || 'endobj' || chr(10) AS obj4
            FROM st),
        page AS (
            SELECT doc_id, source,
              {head} || obj4 || {_sql_str(PDF_OBJ5)} || {xref_const} ||
              lpad(CAST({PDF_OFF4} + strlen(obj4) AS VARCHAR),
                   10, '0') || ' 00000 n ' || chr(10) ||
              'trailer' || chr(10) || '<< /Size 6 /Root 1 0 R >>' ||
              chr(10) || 'startxref' || chr(10) ||
              CAST({PDF_OFF4} + strlen(obj4) + {len(PDF_OBJ5)}
                   AS VARCHAR) || chr(10) || '%%EOF' AS pdf
            FROM o4),
        ext AS (
            SELECT doc_id, source,
              array_to_string(
                list_transform(
                  flatten(list_transform(
                    flatten(list_transform(
                      regexp_extract_all(pdf,
                        '(?s)stream\\n(.*?)\\nendstream', 1),
                      s2 -> regexp_extract_all(s2,
                        '(?s)BT\\n(.*?)\\nET', 1))),
                    b -> regexp_extract_all(b,
                      '\\(((?:[^()\\\\]|\\\\.)*)\\)\\s*Tj', 1))),
                  t -> replace(replace(replace(t, '\\(', '('),
                               '\\)', ')'), '\\\\', '\\')),
                chr(10)) AS txt
            FROM page),
        {_extract_stats_tail_sql(boilerplate_milli)}
    """


def _url_canon_ctes() -> str:
    """Shared WITH-clause body for the URL family oracles: the same
    messy-URL synthesis (doc_id quads share a page, doc_id % 4 picks
    the raw variant) and the same RFC 3986 normalization chain step
    for step (fragment strip, lowercased scheme/host, default-port
    drop, empty path → '/', tracking-param filter via the SHARED
    ``TRACKING_RE`` literal, byte-lexicographic param sort — DuckDB
    list_sort and Spark array_sort both compare UTF-8 bytes).
    Produces ``d(doc_id, url, canon, domain)``; consumers append their
    own CTEs (DuckDB ignores unused ones)."""
    from ..operators.urls import TRACKING_RE
    return f"""u AS (
          SELECT doc_id,
            CASE CAST(doc_id % 4 AS INT)
              WHEN 0 THEN 'http://www.site' ||
                   CAST((doc_id // 4) % 16 AS VARCHAR) ||
                   '.example.com:80/articles/item' ||
                   CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1'
              WHEN 1 THEN 'HTTP://' || upper('www.site' ||
                   CAST((doc_id // 4) % 16 AS VARCHAR) ||
                   '.example.com') || '/articles/item' ||
                   CAST(doc_id // 4 AS VARCHAR) || '?a=1&b=2#section-2'
              WHEN 2 THEN 'http://www.site' ||
                   CAST((doc_id // 4) % 16 AS VARCHAR) ||
                   '.example.com/articles/item' ||
                   CAST(doc_id // 4 AS VARCHAR) ||
                   '?utm_source=feed&a=1&b=2&utm_campaign=spring'
              ELSE 'http://www.site' ||
                   CAST((doc_id // 4) % 16 AS VARCHAR) ||
                   '.example.com/articles/item' ||
                   CAST(doc_id // 4 AS VARCHAR) || '?a=1&fbclid=x' ||
                   CAST(doc_id AS VARCHAR) || '&b=2'
            END AS url
          FROM documents),
        s1 AS (SELECT doc_id, url,
                      regexp_replace(url, '#.*$', '') AS nofrag
               FROM u),
        s2 AS (SELECT *, lower(regexp_extract(nofrag,
                        '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                      regexp_replace(nofrag,
                        '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
               FROM s1),
        s3 AS (SELECT *,
                      regexp_extract(rest, '^([^/?]*)', 1) AS authority,
                      regexp_replace(rest, '^[^/?]*', '') AS pathq
               FROM s2),
        s3b AS (SELECT *,
                      regexp_extract(authority, '^(.*)@', 1) AS userinfo,
                      lower(regexp_extract(authority, '([^@]*)$', 1))
                        AS hostport
               FROM s3),
        s4 AS (SELECT *,
                      regexp_extract(hostport,
                        '^(\\[[^\\]]*\\]|[^:]*)', 1) AS host,
                      regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                      regexp_extract(pathq, '^([^?]*)', 1) AS path0,
                      regexp_extract(pathq, '\\?(.*)$', 1) AS query
               FROM s3b),
        s5 AS (SELECT *,
                      CASE WHEN path0 = '' THEN '/' ELSE path0 END
                        AS path,
                      CASE WHEN port = ''
                                OR (scheme = 'http' AND port = '80')
                                OR (scheme = 'https' AND port = '443')
                           THEN '' ELSE ':' || port END AS keep_port,
                      list_sort(list_filter(string_split(query, '&'),
                          p -> p <> '' AND
                               NOT regexp_matches(p, '{TRACKING_RE}')))
                        AS params
               FROM s4),
        c AS (SELECT doc_id, url,
                     CASE WHEN scheme = '' THEN nofrag
                          ELSE scheme || '://' ||
                               (CASE WHEN userinfo = '' THEN ''
                                     ELSE userinfo || '@' END) ||
                               host || keep_port ||
                               path ||
                               (CASE WHEN len(params) > 0
                                     THEN '?' ||
                                          array_to_string(params, '&')
                                     ELSE '' END)
                     END AS canon
              FROM s5),
        d AS (SELECT doc_id, url, canon,
                     regexp_extract(lower(canon),
                       '^[a-z][a-z0-9+.-]*://(?:[^/?]*@)?' ||
                       '(\\[[^\\]]*\\]|[^/:?]*)', 1) AS domain
              FROM c)"""


def _url_canonical_oracle_sql() -> str:
    """Generated DuckDB twin of ``urls.url_stats``: the shared
    synthesis+normalization CTEs plus the per-domain rollup with the
    mod-prime canonical checksum."""
    return f"""
        WITH {_url_canon_ctes()},
        pc AS (SELECT domain, canon, count(*) AS n,
                      count(DISTINCT url) AS nraw
               FROM d GROUP BY domain, canon)
        SELECT domain, sum(n) AS n_urls, sum(nraw) AS n_raw_distinct,
               count(*) AS n_canonical,
               sum(n) - count(*) AS n_dup_urls,
               sum(('0x' || substr(md5(canon), 1, 15))::BIGINT
                   % {CKSUM_MOD}) AS canon_checksum
        FROM pc GROUP BY domain ORDER BY domain
    """


def _domain_reputation_oracle_sql() -> str:
    """Generated DuckDB twin of ``urls.domain_reputation``: the shared
    synthesis+normalization CTEs, text re-attached by doc_id, then the
    same two per-domain rollups (URL hygiene; content quality with
    cross-multiplied integer alpha gate and milli dup rate) joined.
    Sums are cast to BIGINT (DuckDB widens integer sums to HUGEINT)."""
    from ..operators.urls import LOW_ALPHA_MILLI, SHORT_DOC_CHARS
    return f"""
        WITH {_url_canon_ctes()},
        dd AS (SELECT d.doc_id, d.canon, d.domain, doc.text
               FROM d JOIN documents doc ON doc.doc_id = d.doc_id),
        urlr AS (SELECT domain, count(*) AS n_docs,
                        count(DISTINCT canon) AS n_pages
                 FROM dd GROUP BY domain),
        contr AS (SELECT domain,
                         count(DISTINCT md5(text)) AS n_distinct_texts,
                         CAST(sum(length(text)) AS BIGINT) AS total_chars,
                         CAST(sum(CASE WHEN length(text) <
                                  {SHORT_DOC_CHARS} THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_short_docs,
                         CAST(sum(CASE WHEN length(regexp_replace(text,
                                  '[^a-zA-Z]', '', 'g')) * 1000 <
                                  {LOW_ALPHA_MILLI} * length(text)
                                  THEN 1 ELSE 0 END) AS BIGINT)
                              AS n_low_alpha_docs
                  FROM dd GROUP BY domain)
        SELECT urlr.domain AS domain, n_docs, n_pages,
               n_docs - n_pages AS n_dup_fetches,
               n_docs - n_distinct_texts AS n_dup_texts,
               ((n_docs - n_distinct_texts) * 1000) // n_docs
                 AS text_dup_milli,
               total_chars // n_docs AS mean_chars,
               n_short_docs, n_low_alpha_docs
        FROM urlr JOIN contr ON urlr.domain = contr.domain
        ORDER BY urlr.domain
    """


def _crawl_diff_oracle_sql() -> str:
    """Generated DuckDB twin of ``urls.crawl_diff_stats`` on the shared
    URL CTEs: both snapshots replay synthesis (page universe filtered
    by ``page % SNAPSHOT_MOD``), per-page fingerprint = min(md5(text))
    over fetched variants, the NEW crawl re-stamps the CHANGED_MODS
    pages (md5(fp || ':recrawl')), FULL OUTER join on canon, status
    CASE, per-(domain, status) counts + the mod-prime canonical
    checksum."""
    from ..operators.urls import (CHANGED_MODS, NEW_EXCLUDE, OLD_EXCLUDE,
                                  SNAPSHOT_MOD)
    changed = ", ".join(str(m) for m in CHANGED_MODS)
    return f"""
        WITH {_url_canon_ctes()},
        pages AS (
            SELECT d.canon, d.domain, (d.doc_id // 4) AS page,
                   md5(doc.text) AS h
            FROM d JOIN documents doc ON doc.doc_id = d.doc_id),
        old AS (
            SELECT canon, min(domain) AS domain, min(h) AS fp
            FROM pages WHERE page % {SNAPSHOT_MOD} <> {OLD_EXCLUDE}
            GROUP BY canon),
        new0 AS (
            SELECT canon, min(domain) AS domain, min(h) AS fp0,
                   min(page) AS page
            FROM pages WHERE page % {SNAPSHOT_MOD} <> {NEW_EXCLUDE}
            GROUP BY canon),
        new AS (
            SELECT canon, domain,
                   CASE WHEN page % {SNAPSHOT_MOD} IN ({changed})
                        THEN md5(fp0 || ':recrawl') ELSE fp0 END AS fp
            FROM new0),
        diff AS (
            SELECT coalesce(old.canon, new.canon) AS canon,
                   coalesce(old.domain, new.domain) AS domain,
                   CASE WHEN old.canon IS NULL THEN 'added'
                        WHEN new.canon IS NULL THEN 'removed'
                        WHEN old.fp IS NOT DISTINCT FROM new.fp
                             THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM old FULL OUTER JOIN new ON old.canon = new.canon)
        SELECT domain, status, count(*) AS n_pages,
               sum(('0x' || substr(md5(canon), 1, 15))::BIGINT
                   % {CKSUM_MOD}) AS canon_checksum
        FROM diff GROUP BY domain, status ORDER BY domain, status
    """


def _redirect_aware_diff_oracle_sql() -> str:
    """Generated DuckDB twin of ``redirects.redirect_aware_diff_stats``
    — the crawl-diff twin with BOTH snapshots keyed at the permanent
    redirect terminal, derived INDEPENDENTLY from page arithmetic
    (moved hosts are m%8==6, all their pages are even; identity moves
    along the permanent PREFIX — page%5 ∉ {1,2} lands at the ``mm``
    terminal, page%5 == 2 at the intermediate ``m`` host the 301
    named, page%5 == 1 stays home) — never the engine's remap join,
    so a value-hash match proves the re-key semantics, not shared
    code."""
    from ..operators.redirects import (MOVED_HOST_MOD, TEMP_HOP1_MOD,
                                       TEMP_HOP2_MOD)
    from ..operators.urls import (CHANGED_MODS, NEW_EXCLUDE, OLD_EXCLUDE,
                                  SNAPSHOT_MOD)
    changed = ", ".join(str(m) for m in CHANGED_MODS)
    mv_full = (f"(page % 16) % 8 = {MOVED_HOST_MOD} AND "
               f"page % 5 NOT IN ({TEMP_HOP1_MOD}, {TEMP_HOP2_MOD})")
    mv_half = (f"(page % 16) % 8 = {MOVED_HOST_MOD} AND "
               f"page % 5 = {TEMP_HOP2_MOD}")
    return f"""
        WITH {_url_canon_ctes()},
        pages AS (
            SELECT d.canon, d.domain, (d.doc_id // 4) AS page,
                   md5(doc.text) AS h
            FROM d JOIN documents doc ON doc.doc_id = d.doc_id),
        mvp AS (
            SELECT page, h,
                   CASE WHEN {mv_full}
                        THEN 'http://www.site' || (page % 16) ||
                             'mm.example.com/articles/item' || page ||
                             '?a=1&b=2'
                        WHEN {mv_half}
                        THEN 'http://www.site' || (page % 16) ||
                             'm.example.com/articles/item' || page ||
                             '?a=1&b=2'
                        ELSE canon END AS canon,
                   CASE WHEN {mv_full}
                        THEN 'www.site' || (page % 16) ||
                             'mm.example.com'
                        WHEN {mv_half}
                        THEN 'www.site' || (page % 16) ||
                             'm.example.com'
                        ELSE domain END AS domain
            FROM pages),
        old AS (
            SELECT canon, min(domain) AS domain, min(h) AS fp
            FROM mvp WHERE page % {SNAPSHOT_MOD} <> {OLD_EXCLUDE}
            GROUP BY canon),
        new0 AS (
            SELECT canon, min(domain) AS domain, min(h) AS fp0,
                   min(page) AS page
            FROM mvp WHERE page % {SNAPSHOT_MOD} <> {NEW_EXCLUDE}
            GROUP BY canon),
        new AS (
            SELECT canon, domain,
                   CASE WHEN page % {SNAPSHOT_MOD} IN ({changed})
                        THEN md5(fp0 || ':recrawl') ELSE fp0 END AS fp
            FROM new0),
        diff AS (
            SELECT coalesce(old.canon, new.canon) AS canon,
                   coalesce(old.domain, new.domain) AS domain,
                   CASE WHEN old.canon IS NULL THEN 'added'
                        WHEN new.canon IS NULL THEN 'removed'
                        WHEN old.fp IS NOT DISTINCT FROM new.fp
                             THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM old FULL OUTER JOIN new ON old.canon = new.canon)
        SELECT domain, status, count(*) AS n_pages,
               sum(('0x' || substr(md5(canon), 1, 15))::BIGINT
                   % {CKSUM_MOD}) AS canon_checksum
        FROM diff GROUP BY domain, status ORDER BY domain, status
    """


def _vs_prior_oracle_sql(n: int = 3, n_hashes: int = 64, n_bands: int = 16,
                         threshold: float = 0.5, prior_mod: int = 3) -> str:
    """Generated DuckDB twin of ``dedup.near_dedup_vs_prior_split``: the
    SAME portable banding CTEs, but candidate pairs are cross-corpus only
    — archive slice (doc_id % prior_mod = 0) joined against the batch
    slice — then the agreement-fraction estimate. The shared ``pairs``
    CTE goes unused here (DuckDB inlines CTEs; unreferenced ones cost
    nothing)."""
    return f"""
        WITH {_minhash_band_ctes(n, n_hashes, n_bands)},
        xpairs AS (
            SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS prior_id
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id % {prior_mod} = 0
             AND b.doc_id % {prior_mod} <> 0),
        est AS (
            SELECT xpairs.doc_id AS doc_id, xpairs.prior_id AS prior_id,
                   list_sum(list_transform(range(1, {n_hashes + 1}),
                       i -> CASE WHEN sa.sig[i] = sb.sig[i]
                                 THEN 1 ELSE 0 END))::DOUBLE
                   / {float(n_hashes)} AS est_jaccard
            FROM xpairs JOIN sigs sa ON sa.doc_id = xpairs.prior_id
                        JOIN sigs sb ON sb.doc_id = xpairs.doc_id)
        SELECT doc_id, prior_id, est_jaccard FROM est
        WHERE est_jaccard >= {threshold} ORDER BY doc_id, prior_id
    """


def _clusters_oracle_sql(n: int = 3, n_hashes: int = 64, n_bands: int = 16,
                         threshold: float = 0.5) -> str:
    """DuckDB twin of ``dedup.near_dup_clusters_portable``: the portable
    banding/estimate CTEs, then connected components as a recursive-CTE
    transitive closure (min reachable doc_id = the same deterministic
    cluster label min-label propagation converges to), then the
    cluster-size histogram. Transitive closure is O(V·E) rows — fine for
    an oracle at test scale; the engine side runs the O(diameter)
    propagation loop instead."""
    return f"""
        WITH RECURSIVE {_minhash_band_ctes(n, n_hashes, n_bands)},
        est AS (
            SELECT doc_a, doc_b,
                   list_sum(list_transform(range(1, {n_hashes + 1}),
                       i -> CASE WHEN sa.sig[i] = sb.sig[i]
                                 THEN 1 ELSE 0 END))::DOUBLE
                   / {float(n_hashes)} AS est_jaccard
            FROM pairs JOIN sigs sa ON sa.doc_id = doc_a
                       JOIN sigs sb ON sb.doc_id = doc_b),
        dup_pairs AS (
            SELECT doc_a, doc_b FROM est WHERE est_jaccard >= {threshold}),
        edges2 AS (
            SELECT doc_a AS a, doc_b AS b FROM dup_pairs
            UNION SELECT doc_b, doc_a FROM dup_pairs),
        reach AS (
            SELECT a AS src, a AS node FROM edges2
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges2 e ON e.a = r.node),
        comp AS (
            SELECT src AS doc_id, min(node) AS cluster_id
            FROM reach GROUP BY src),
        sizes AS (
            SELECT cluster_id, count(*) AS cluster_size
            FROM comp GROUP BY cluster_id)
        SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_survivors,
               CAST(cluster_size * count(*) - count(*) AS BIGINT)
                   AS n_removed
        FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """


def _ngram_lsh_oracle_sql(n: int = 3, threshold: float = 0.5) -> str:
    """Generated DuckDB twin of the declared ``ngram_jaccard_pairs``
    (round-7 LSH-candidate tier): candidate pairs from the SAME portable
    MinHash banding as near_dedup_minhash, exact string-shingle set
    Jaccard computed only on those candidates. Mirrors
    ``dedup.ngram_jaccard_pairs(candidates="lsh")`` exactly — the engine
    verifies with 64-bit fingerprint sets (collision-free on the
    fixtures), the oracle with the shingle strings themselves."""
    return f"""
        WITH {_minhash_band_ctes(n)},
        sh AS ({_SHINGLES3}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT p.doc_a, p.doc_b, count(*) AS n_common
            FROM pairs p
            JOIN sh a ON a.doc_id = p.doc_a
            JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
            GROUP BY 1, 2)
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT doc_a, doc_b,
                   round(n_common / (sa.sz + sb.sz - n_common), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b)
        WHERE jaccard >= {threshold} ORDER BY doc_a, doc_b
    """


def _ann_lsh_oracle_sql(n_probes: int = 5, k: int = 5) -> str:
    """Generated DuckDB twin of ``similarity.ann_lsh_portable``: the SAME
    seeded literal hyperplanes (``similarity.lsh_plane_weights``), each
    plane's dot product written as the SAME explicit left-to-right term
    chain (bit-identical doubles → bit-identical signs → identical
    per-band buckets), then the banded candidate set + cosine rank.

    The engine's per-band Hamming-1 ring equi-join is expressed here as
    its set-equivalent predicate: a (probe, vector) pair is a candidate
    iff SOME band's buckets differ in at most one bit —
    ``bit_count(xor(...)) <= 1`` — OR-ed over bands. Identical candidate
    sets, and SQL's single join predicate needs no band explode or
    pair dedup."""
    from ..operators.similarity import (PORTABLE_LSH_BANDS,
                                        PORTABLE_LSH_PLANES,
                                        lsh_plane_weights)

    all_planes = lsh_plane_weights(PORTABLE_LSH_BANDS * PORTABLE_LSH_PLANES)
    bands = [all_planes[b * PORTABLE_LSH_PLANES:(b + 1) * PORTABLE_LSH_PLANES]
             for b in range(PORTABLE_LSH_BANDS)]

    def plane_dot(w: list[int]) -> str:
        # list_sum(list_transform(...)) folds left-to-right exactly like
        # the engine's aggregate(zip_with(...)) — the proven _COS
        # equivalence; w[i] * embedding[i] pairs with (w, x) -> w *
        # double(x) on the Spark side (1-based lists both engines here).
        arr = "[" + ",".join(f"{float(x)!r}" for x in w) + "]"
        return (f"list_sum(list_transform(range(1, len(embedding) + 1), "
                f"i -> ({arr})[i] * embedding[i]::DOUBLE))")

    def bucket(band: list[list[int]]) -> str:
        return " + ".join(
            f"(CASE WHEN ({plane_dot(w)}) > 0 THEN {1 << p} ELSE 0 END)"
            for p, w in enumerate(band))

    bucket_cols = ", ".join(f"{bucket(band)} AS b{i}"
                            for i, band in enumerate(bands))
    any_band = " OR ".join(f"bit_count(xor(s.b{i}, p.b{i})) <= 1"
                           for i in range(len(bands)))
    return f"""
        WITH sk AS (
            SELECT vec_id, embedding, {bucket_cols} FROM embeddings),
        probes AS (
            SELECT vec_id AS probe_id, embedding AS probe_emb,
                   {', '.join(f'b{i}' for i in range(len(bands)))}
            FROM sk ORDER BY vec_id LIMIT {n_probes}),
        cand AS (
            SELECT p.probe_id, s.vec_id AS neighbor_id,
                   {_COS.format(a='p.probe_emb', b='s.embedding')} AS cos
            FROM sk s JOIN probes p
              ON s.vec_id <> p.probe_id AND ({any_band})),
        ranked AS (
            SELECT probe_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM cand)
        SELECT probe_id, neighbor_id, rank, round(cos, 4) AS cos_sim
        FROM ranked WHERE rank <= {k} ORDER BY probe_id, rank
    """


def _ann_ivf_oracle_sql(n_cells: int = 16, n_probe_cells: int = 2,
                        n_probes: int = 5, k: int = 5,
                        corpus_where: str = "TRUE") -> str:
    """Generated DuckDB twin of ``similarity.ann_ivf`` (and, with a
    ``corpus_where`` predicate, of ``similarity.ann_ivf_filtered`` —
    the filter restricts only the assigned candidate corpus; centroids
    and probes still come from the full table, mirroring the engine's
    build-once index). The 'model' —
    centroids = embeddings of the ``n_cells`` lowest vec_ids — is
    recomputed from the table rather than inlined: Spark inlines the
    repr of the collected float32 values, and DuckDB's FLOAT→DOUBLE cast
    yields the same doubles, so both engines score against identical
    centroid vectors. Tie-breaks mirror the Spark plan exactly:
    assignment takes the LARGER cent_id on a cosine tie
    (greatest(struct(cos, cent_id))), probe routing takes the SMALLER
    (python sorted((-cos, cid)))."""
    norm = ("sqrt(list_sum(list_transform(range(1, len({e}) + 1),"
            " i -> {e}[i]::DOUBLE * {e}[i]::DOUBLE)))")
    dotp = ("list_sum(list_transform(range(1, len({a}) + 1),"
            " i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))")
    cos_cn = (f"CASE WHEN c.cn > 0 AND {{n}} > 0 THEN "
              f"{dotp.format(a='c.cent_emb', b='{e}')} / (c.cn * {{n}}) "
              f"ELSE 0.0 END")
    return f"""
        WITH cents AS (
            SELECT vec_id AS cent_id, embedding AS cent_emb,
                   {norm.format(e='embedding')} AS cn
            FROM embeddings ORDER BY vec_id LIMIT {n_cells}),
        corpus AS (
            SELECT vec_id, embedding, label,
                   {norm.format(e='embedding')} AS nrm
            FROM embeddings),
        assigned AS (
            SELECT vec_id, embedding, cent_id AS cell FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cos_cn.format(e='e.embedding', n='e.nrm')}
                                    DESC, c.cent_id DESC) AS ra
                FROM corpus e CROSS JOIN cents c
                WHERE {corpus_where})
            WHERE ra = 1),
        probe_cells AS (
            SELECT probe_id, probe_emb, cent_id AS cell FROM (
                SELECT p.vec_id AS probe_id, p.embedding AS probe_emb,
                       c.cent_id,
                       row_number() OVER (
                           PARTITION BY p.vec_id
                           ORDER BY {cos_cn.format(e='p.embedding', n='p.nrm')}
                                    DESC, c.cent_id ASC) AS rc
                FROM (SELECT * FROM corpus ORDER BY vec_id
                      LIMIT {n_probes}) p
                CROSS JOIN cents c)
            WHERE rc <= {n_probe_cells}),
        cand AS (
            SELECT pc.probe_id, a.vec_id AS neighbor_id,
                   {_COS.format(a='pc.probe_emb', b='a.embedding')} AS cos
            FROM assigned a JOIN probe_cells pc
              ON a.cell = pc.cell AND a.vec_id <> pc.probe_id),
        ranked AS (
            SELECT probe_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM cand)
        SELECT probe_id, neighbor_id, rank, round(cos, 4) AS cos_sim
        FROM ranked WHERE rank <= {k} ORDER BY probe_id, rank
    """


def _ivf_training_ctes(n_cells: int, n_iters: int, sample_size: int,
                       dim: int) -> tuple[list, str, str]:
    """Shared CTE prefix of the trained-IVF and semantic-dedup oracles:
    Lloyd's training unrolled as ``n_iters`` CTE pairs (assign →
    re-center) ending in ``cents`` (with norms) plus the normalized
    ``corpus_n``. Returns ``(parts, nrm, cos)`` format templates. The
    Spark sides train driver-side in pure Python and inline the final
    centroids as plan literals; parity holds because every accumulation
    on both sides is the same left-to-right fold — dots/norms over
    dimension order, cluster means over ``list(... ORDER BY vec_id)`` —
    and assignment ties break to the larger cent_id (the engine's
    greatest(struct) convention)."""
    nrm = ("sqrt(list_sum(list_transform(range(1, {d}), "
           "i -> {e}[i] * {e}[i])))").format(d=dim + 1, e="{e}")
    dot = ("list_sum(list_transform(range(1, {d}), "
           "i -> {a}[i] * {b}[i]))").format(d=dim + 1, a="{a}", b="{b}")
    cos = (f"CASE WHEN {{cn}} > 0 AND {{n}} > 0 THEN "
           f"{dot} / ({{cn}} * {{n}}) ELSE 0.0 END")
    parts = [f"""
        samp AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
            FROM embeddings ORDER BY vec_id LIMIT {sample_size}),
        samp_n AS (
            SELECT vec_id, emb, {nrm.format(e='emb')} AS nrm FROM samp),
        cents0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id,
                   emb AS cent_emb
            FROM (SELECT * FROM samp ORDER BY vec_id LIMIT {n_cells}))"""]
    for t in range(1, n_iters + 1):
        parts.append(f"""
        ass{t} AS (
            SELECT vec_id, emb, cent_id AS cell FROM (
                SELECT s.vec_id, s.emb, c.cent_id,
                       row_number() OVER (
                           PARTITION BY s.vec_id
                           ORDER BY {cos.format(a='c.cent_emb', b='s.emb',
                                                cn='c.cn', n='s.nrm')}
                                    DESC, c.cent_id DESC) AS ra
                FROM samp_n s CROSS JOIN (
                    SELECT cent_id, cent_emb,
                           {nrm.format(e='cent_emb')} AS cn
                    FROM cents{t - 1}) c)
            WHERE ra = 1),
        cents{t} AS (
            SELECT c.cent_id, COALESCE(m.memb, c.cent_emb) AS cent_emb
            FROM cents{t - 1} c LEFT JOIN (
                SELECT cell,
                       list_transform(range(1, {dim + 1}),
                           d -> list_sum(list_transform(vl, v -> v[d]))
                                / cnt) AS memb
                FROM (SELECT cell, list(emb ORDER BY vec_id) AS vl,
                             count(*) AS cnt
                      FROM ass{t} GROUP BY cell) g) m
              ON m.cell = c.cent_id)""")
    parts.append(f"""
        cents AS (
            SELECT cent_id, cent_emb, {nrm.format(e='cent_emb')} AS cn
            FROM cents{n_iters}),
        corpus AS (
            SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
            FROM embeddings),
        corpus_n AS (
            SELECT vec_id, emb, {nrm.format(e='emb')} AS nrm FROM corpus)""")
    return parts, nrm, cos


def _ann_ivf_trained_oracle_sql(n_cells: int = 8, n_iters: int = 3,
                                sample_size: int = 64,
                                n_probe_cells: int = 2, n_probes: int = 5,
                                k: int = 5, dim: int = 64) -> str:
    """Generated DuckDB twin of ``similarity.ann_ivf_trained`` on the
    shared ``_ivf_training_ctes`` prefix; probe routing ties break to
    the SMALLER cent_id (mirroring the engine)."""
    parts, nrm, cos = _ivf_training_ctes(n_cells, n_iters, sample_size,
                                         dim)
    final = f"""
        assigned AS (
            SELECT vec_id, emb, cent_id AS cell FROM (
                SELECT e.vec_id, e.emb, c.cent_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cos.format(a='c.cent_emb', b='e.emb',
                                                cn='c.cn', n='e.nrm')}
                                    DESC, c.cent_id DESC) AS ra
                FROM corpus_n e CROSS JOIN cents c)
            WHERE ra = 1),
        probe_cells AS (
            SELECT probe_id, probe_emb, cent_id AS cell FROM (
                SELECT p.vec_id AS probe_id, p.emb AS probe_emb, c.cent_id,
                       row_number() OVER (
                           PARTITION BY p.vec_id
                           ORDER BY {cos.format(a='c.cent_emb', b='p.emb',
                                                cn='c.cn', n='p.nrm')}
                                    DESC, c.cent_id ASC) AS rc
                FROM (SELECT * FROM samp_n ORDER BY vec_id
                      LIMIT {n_probes}) p
                CROSS JOIN cents c)
            WHERE rc <= {n_probe_cells}),
        cand AS (
            SELECT pc.probe_id, a.vec_id AS neighbor_id,
                   {cos.format(a='pc.probe_emb', b='a.emb',
                               cn=nrm.format(e='pc.probe_emb'),
                               n=nrm.format(e='a.emb'))} AS cos
            FROM assigned a JOIN probe_cells pc
              ON a.cell = pc.cell AND a.vec_id <> pc.probe_id),
        ranked AS (
            SELECT probe_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM cand)
        SELECT probe_id, neighbor_id, rank, round(cos, 4) AS cos_sim
        FROM ranked WHERE rank <= {k} ORDER BY probe_id, rank"""
    return "WITH " + ",".join(parts) + "," + final


def _semantic_dedup_oracle_sql(n_cells: int = 8, n_iters: int = 3,
                               sample_size: int = 64, n_assign: int = 3,
                               threshold: float = 0.4,
                               dim: int = 64) -> str:
    """Generated DuckDB twin of ``semantic_dedup.semantic_dedup_pairs``
    on the shared ``_ivf_training_ctes`` prefix: every corpus vector
    joins its ``n_assign`` nearest cells (ties → larger cent_id, the
    assignment convention), candidate pairs share >= 1 cell, each pair
    scores ONE exact cosine, threshold at full precision, round-4 at
    the presentation edge."""
    parts, nrm, cos = _ivf_training_ctes(n_cells, n_iters, sample_size,
                                         dim)
    final = f"""
        assigned AS (
            SELECT vec_id, cent_id AS cell FROM (
                SELECT e.vec_id, c.cent_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cos.format(a='c.cent_emb', b='e.emb',
                                                cn='c.cn', n='e.nrm')}
                                    DESC, c.cent_id DESC) AS ra
                FROM corpus_n e CROSS JOIN cents c)
            WHERE ra <= {n_assign}),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id < b.vec_id),
        scored AS (
            SELECT p.id_a, p.id_b,
                   {cos.format(a='x.emb', b='y.emb',
                               cn='x.nrm', n='y.nrm')} AS c
            FROM cand p
            JOIN corpus_n x ON x.vec_id = p.id_a
            JOIN corpus_n y ON y.vec_id = p.id_b)
        SELECT id_a, id_b, round(c, 4) AS cos_sim FROM scored
        WHERE c >= {threshold} ORDER BY id_a, id_b"""
    return "WITH " + ",".join(parts) + "," + final


def _domain_blocklist_oracle_sql() -> str:
    """Generated DuckDB twin of ``urls.domain_blocklist_stats`` on the
    shared URL CTEs: the same deny list (via ``fixture_blocklist`` —
    one literal, two engines), the same per-source kept/blocked counts
    and kept-set id-sum checksum."""
    from ..operators.urls import fixture_blocklist
    deny = ", ".join(f"'{h}'" for h in fixture_blocklist())
    return f"""
        WITH {_url_canon_ctes()},
        g AS (
            SELECT doc.source, d.doc_id,
                   (d.domain IN ({deny})) AS blocked
            FROM d JOIN documents doc ON doc.doc_id = d.doc_id)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_blocked,
               CAST(sum(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_kept,
               CAST(sum(CASE WHEN blocked THEN 0
                             ELSE doc_id % {CKSUM_MOD} END) AS BIGINT)
                   AS kept_checksum
        FROM g GROUP BY source ORDER BY source
    """


def _rb_text_sql() -> str:
    """The fixture robots.txt as ONE DuckDB expression over
    ``domain``, rendered from the SAME ``ROBOTS_FIXTURE_BLOCKS``
    structure the engine's synthesis renders — the fixture text
    cannot desynchronize between engines."""
    from ..operators.urls import ROBOTS_FIXTURE_BLOCKS
    mm = "CAST(regexp_extract(domain, 'site(\\d+)', 1) AS INT)"
    out = []
    for cond, text in ROBOTS_FIXTURE_BLOCKS:
        parts = []
        for i, chunk in enumerate(text.split("{domain}")):
            if i:
                parts.append("domain")
            if chunk:
                lit = chunk.replace("\n", "' || chr(10) || '")
                lit = f"'{lit}'".replace(" || ''", "")
                parts.append(lit)
        body = " || ".join(parts)
        if cond is None:
            out.append(f"({body})")
        elif cond == "m8_5":
            out.append(f"(CASE WHEN {mm} % 8 = 5 THEN {body} "
                       f"ELSE '' END)")
        elif cond in ("m4_1", "m4_2", "m4_3"):
            k = int(cond.split("_")[1])
            out.append(f"(CASE WHEN {mm} % 4 = {k} THEN {body} "
                       f"ELSE '' END)")
        else:
            raise ValueError(
                f"unknown ROBOTS_FIXTURE_BLOCKS condition {cond!r}")
    return " || ".join(out)


def _robots_rules_ctes() -> str:
    """``rdoms``/``rb``/…/``rrules``/``rdelay``: the per-domain
    robots.txt synthesis (rendered from the shared fixture blocks),
    line parse, RFC 9309 §2.2.1 GROUP SELECTION, and per-rule regex
    compile (§2.2.3: trailing ``$`` → end anchor, ``ROBOTS_RX_META``
    escaped — the SAME shared literal the engine compiles with —
    ``*`` → ``.*``) — ONE generator consumed by every robots-gated
    twin (``robots_gate``, ``crawl_frontier``, ``fetch_list``), so
    the oracles cannot keep divergent hand copies of the rules.

    The group selection is an INDEPENDENT formulation (deliberately
    unlike the engine's single fold): lines are numbered, a UA line
    ``u`` is "in force" for a body line ``b`` iff no (body, UA) pair
    sits between them — the declarative statement of "a User-agent
    line after group body opens a new group, consecutive UA lines
    accumulate" — each body line's group score is the max over its
    in-force UA tokens' match specificities, and the kept entries are
    those whose group score equals the file-wide best (``rbest``) and
    matched at all. ``rdelay`` applies the same selection to
    Crawl-delay lines (max across combined tied groups). ``rb`` also
    carries the fetch's transport ``status`` (RFC 9309 §2.3.1 — r14):
    ``r5xx`` lists the full-disallow hosts, every verdict consumer
    blocks them, and ``rdelay`` excludes them (an unreadable file
    declares nothing). Assumes the URL CTEs' ``d`` is in scope."""
    from ..operators.urls import (ROBOTS_AGENT, ROBOTS_DELAY_RE,
                                  ROBOTS_RULE_RE, ROBOTS_RX_META,
                                  ROBOTS_UA_RE)
    rx = ("'^' || replace(regexp_replace("
          "CASE WHEN p LIKE '%$' THEN substr(p, 1, length(p) - 1) "
          "ELSE p END, "
          f"'{ROBOTS_RX_META}', '\\\\\\1', 'g'), '*', '.*') "
          "|| CASE WHEN p LIKE '%$' THEN '$' ELSE '' END")
    from ..operators.urls import ROBOTS_5XX_MODS
    mods_5xx = ", ".join(str(int(k)) for k in ROBOTS_5XX_MODS)
    return f"""rdoms AS (SELECT DISTINCT domain FROM d),
        rb AS (SELECT domain, {_rb_text_sql()} AS txt,
                      CASE WHEN CAST(regexp_extract(domain,
                             'site(\\d+)', 1) AS INT) IN ({mods_5xx})
                           THEN 503 ELSE 200 END AS status
               FROM rdoms),
        r5xx AS (SELECT domain FROM rb WHERE status >= 500),
        rlines AS (
            SELECT domain, unnest(range(1, len(ls) + 1)) AS i, ls
            FROM (SELECT domain, string_split(txt, chr(10)) AS ls
                  FROM rb)),
        rkind AS (
            SELECT domain, i,
                   regexp_extract(ls[i], '{ROBOTS_UA_RE}', 1) AS ua,
                   lower(regexp_extract(ls[i], '{ROBOTS_RULE_RE}', 1))
                     AS verb,
                   regexp_extract(ls[i], '{ROBOTS_RULE_RE}', 2) AS p,
                   regexp_extract(ls[i], '{ROBOTS_DELAY_RE}', 1) AS cd
            FROM rlines),
        ruas AS (SELECT domain, i,
                   CASE WHEN ua = '*' THEN 0
                        WHEN starts_with('{ROBOTS_AGENT.lower()}',
                                         lower(ua)) THEN length(ua)
                        ELSE -1 END AS sc
                 FROM rkind WHERE ua <> ''),
        rbody AS (SELECT domain, i FROM rkind
                  WHERE p <> '' OR cd <> ''),
        rgrp AS (
            SELECT b.domain, b.i, max(u.sc) AS g
            FROM rbody b JOIN ruas u
              ON u.domain = b.domain AND u.i < b.i
            WHERE NOT EXISTS (
                SELECT 1 FROM rbody k JOIN ruas u2
                  ON u2.domain = k.domain AND u2.i > k.i
                WHERE k.domain = u.domain AND k.i > u.i
                  AND u2.i < b.i)
            GROUP BY b.domain, b.i),
        rbest AS (SELECT domain, max(sc) AS gm FROM ruas
                  GROUP BY domain),
        rrules AS (
            SELECT k.domain, k.p, k.verb = 'allow' AS a, {rx} AS rx
            FROM rkind k
            JOIN rgrp g ON g.domain = k.domain AND g.i = k.i
            JOIN rbest b ON b.domain = k.domain
            WHERE k.p <> '' AND g.g >= 0 AND g.g = b.gm),
        rdelay AS (
            SELECT k.domain, max(CAST(k.cd AS BIGINT)) AS cd
            FROM rkind k
            JOIN rgrp g ON g.domain = k.domain AND g.i = k.i
            JOIN rbest b ON b.domain = k.domain
            WHERE k.cd <> '' AND g.g >= 0 AND g.g = b.gm
              AND k.domain NOT IN (SELECT domain FROM r5xx)
            GROUP BY k.domain)"""


def _robots_matched_cte(name: str, src: str, key: str) -> str:
    """The INDEPENDENT most-specific-match window over ``rrules`` —
    per {key}: every matching rule ranked by raw-pattern length DESC,
    Allow DESC; row 1 is the verdict (coalesced to allow when no rule
    matches). ONE generator for all three robots-gated twins (the
    window formulation must stay independent of the engine's fold,
    but the three twins must not keep hand-copies of it). The oracle
    deliberately runs EVERY rule through its compiled regex — the
    engine's prefix fast path is an optimization the equality must
    not depend on."""
    return f"""{name} AS (
            SELECT {src}.{key}, r.a,
                   row_number() OVER (
                       PARTITION BY {src}.{key}
                       ORDER BY length(r.p) DESC, r.a DESC) AS rn
            FROM {src} JOIN rrules r
              ON r.domain = {src}.domain
             AND regexp_matches({src}.path, r.rx))"""


def _robots_oracle_sql() -> str:
    """Generated DuckDB twin of ``urls.robots_stats``: the shared URL
    synthesis CTEs, the shared robots-rules CTEs
    (``_robots_rules_ctes``), and the most-specific-match verdict as
    an INDEPENDENT formulation (a per-URL window ORDER BY raw-pattern
    length DESC, allow DESC over ``regexp_matches`` hits vs the
    engine's aggregate fold) — matching it proves the fold implements
    RFC 9309 §2.2.2/§2.2.3 most-specific-match over wildcard rules,
    not just that two engines ran the same code."""
    from ..operators.urls import ROBOTS_PATH_RE
    return f"""
        WITH {_url_canon_ctes()},
        uu AS (SELECT doc_id, domain,
                      regexp_extract(canon,
                        '{ROBOTS_PATH_RE}', 1)
                      AS path
               FROM d),
        {_robots_rules_ctes()},
        {_robots_matched_cte("matched", "uu", "doc_id")},
        verdict AS (
            SELECT uu.doc_id, uu.domain,
                   CASE WHEN uu.domain IN (SELECT domain FROM r5xx)
                        THEN false ELSE coalesce(m.a, true) END AS ok
            FROM uu LEFT JOIN
                 (SELECT doc_id, a FROM matched WHERE rn = 1) m
              ON m.doc_id = uu.doc_id)
        SELECT domain, count(*) AS n_urls,
               CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_allowed,
               CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_blocked,
               CAST(sum(CASE WHEN ok THEN doc_id % {CKSUM_MOD}
                             ELSE 0 END) AS BIGINT)
                 AS allowed_checksum
        FROM verdict GROUP BY domain ORDER BY domain
    """


def _link_pagerank_oracle_sql(iters: int = 3, fanout: int = 3,
                              scale: int = 1_000_000) -> str:
    """Generated DuckDB twin of ``linkgraph.link_pagerank``: the same
    deterministic edge synthesis, then every power iteration UNROLLED
    as an (inflow agg, rank update) CTE pair — the Lloyd's-twin
    convention. All arithmetic is integer micro-units (``//`` ==
    Spark ``div`` on non-negatives; integer sums are order-independent
    so the distributed agg replays bit-for-bit). The per-source top
    doc uses the oracle-side window (ORDER BY r DESC, v ASC == the
    engine's min-struct (-r, v) argmax)."""
    js = ", ".join(str(j) for j in range(1, fanout + 1))
    ctes = [f"""nn AS (SELECT count(*) AS c FROM documents),
        e AS (SELECT doc_id AS u, (doc_id * 7 + j.j) % nn.c AS v
              FROM documents CROSS JOIN nn
              CROSS JOIN (SELECT unnest([{js}]) AS j) j),
        r0 AS (SELECT doc_id AS v, ({scale} // nn.c) AS r
               FROM documents CROSS JOIN nn)"""]
    prev = "r0"
    for t in range(1, iters + 1):
        ctes.append(f"""s{t} AS (
            SELECT e.v, sum({prev}.r // {fanout}) AS inf
            FROM e JOIN {prev} ON {prev}.v = e.u GROUP BY e.v),
        r{t} AS (
            SELECT d.doc_id AS v,
                   ((15 * {scale} // 100) // nn.c
                    + (85 * coalesce(s{t}.inf, 0)) // 100) AS r
            FROM documents d CROSS JOIN nn
            LEFT JOIN s{t} ON s{t}.v = d.doc_id)""")
        prev = f"r{t}"
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body},
        joined AS (
            SELECT d.source, r.v, r.r
            FROM documents d JOIN {prev} r ON r.v = d.doc_id),
        top AS (
            SELECT source, v AS top_doc_id,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY r DESC, v ASC) AS rn
            FROM joined)
        SELECT j.source AS source, count(*) AS n_nodes,
               CAST(sum(j.r) AS BIGINT) AS total_rank,
               max(j.r) AS max_rank,
               min(t.top_doc_id) AS top_doc_id,
               CAST(sum((j.v * (j.r % {CKSUM_MOD})) % {CKSUM_MOD})
                    AS BIGINT) AS rank_checksum
        FROM joined j
        JOIN (SELECT source, top_doc_id FROM top WHERE rn = 1) t
          ON t.source = j.source
        GROUP BY j.source ORDER BY j.source
    """


def _frontier_common_ctes(iters: int = 3, fanout: int = 3,
                          scale: int = 1_000_000) -> str:
    """The CTE block shared by the frontier and fetch-list twins (to
    be appended after ``_url_canon_ctes()``): PageRank re-unrolled
    with ``p``-prefixed names (the ``s1..s5`` slots are taken by the
    URL chain), the deny-gated link targets with their rank-inflow
    priorities (``fpri``), and the parsed robots rules (``rrules``) —
    the same independent longest-match machinery as
    ``_robots_oracle_sql``."""
    from ..operators.frontier import FRONTIER_MOD
    from ..operators.urls import fixture_blocklist
    js = ", ".join(str(j) for j in range(1, fanout + 1))
    deny = ", ".join(f"'{b}'" for b in fixture_blocklist())
    ctes = [f"""nn AS (SELECT count(*) AS c FROM documents),
        pe AS (SELECT doc_id AS u, (doc_id * 7 + j.j) % nn.c AS v
               FROM documents CROSS JOIN nn
               CROSS JOIN (SELECT unnest([{js}]) AS j) j),
        pr0 AS (SELECT doc_id AS v, ({scale} // nn.c) AS r
                FROM documents CROSS JOIN nn)"""]
    prev = "pr0"
    for t in range(1, iters + 1):
        ctes.append(f"""pi{t} AS (
            SELECT pe.v, sum({prev}.r // {fanout}) AS inf
            FROM pe JOIN {prev} ON {prev}.v = pe.u GROUP BY pe.v),
        pr{t} AS (
            SELECT dd.doc_id AS v,
                   ((15 * {scale} // 100) // nn.c
                    + (85 * coalesce(pi{t}.inf, 0)) // 100) AS r
            FROM documents dd CROSS JOIN nn
            LEFT JOIN pi{t} ON pi{t}.v = dd.doc_id)""")
        prev = f"pr{t}"
    body = ",\n        ".join(ctes)
    return f"""{body},
        fe AS (SELECT u, v FROM pe
               WHERE (u // 4) % {FRONTIER_MOD} <> 0
                 AND (v // 4) % {FRONTIER_MOD} = 0),
        tgt AS (SELECT d.canon, d.domain, fe.u
                FROM fe JOIN d ON d.doc_id = fe.v
                WHERE d.domain NOT IN ({deny})),
        fpri AS (SELECT tgt.canon, tgt.domain,
                        CAST(sum(r.r) AS BIGINT) AS priority
                 FROM tgt JOIN {prev} r ON r.v = tgt.u
                 GROUP BY tgt.canon, tgt.domain),
        {_robots_rules_ctes()}"""


def _crawl_frontier_oracle_sql(iters: int = 3, fanout: int = 3,
                               scale: int = 1_000_000) -> str:
    """Generated DuckDB twin of ``frontier.crawl_frontier``: the shared
    URL canonicalization CTEs (``d``) give every link target its
    canonical URL by doc-id join; PageRank, the deny-gated priorities,
    and the robots rules come from ``_frontier_common_ctes``; the
    robots verdict uses the INDEPENDENT window formulation (longest
    prefix, Allow wins ties) — applied TWICE around the redirect
    re-key (r14: gate at the discovered host, re-key permanent chains
    to the terminal URL via the shared unrolled-hop ``remap``,
    re-aggregate priorities on the new key, gate at the terminal
    host); the politeness cap and the (canon-hash × priority)
    checksum replay the engine's integer arithmetic exactly."""
    from ..operators.frontier import FRONTIER_PER_DOMAIN
    from ..operators.urls import ROBOTS_PATH_RE, fixture_blocklist
    deny = ", ".join(f"'{b}'" for b in fixture_blocklist())
    dom_re = "'^[a-z][a-z0-9+.-]*://(?:[^/?]*@)?([^/:?]*)'"
    return f"""
        WITH {_url_canon_ctes()},
        {_frontier_common_ctes(iters, fanout, scale)},
        {_redirect_ctes()},
        pp AS (SELECT canon, domain, priority,
                      regexp_extract(canon,
                        '{ROBOTS_PATH_RE}', 1)
                        AS path
               FROM fpri),
        {_robots_matched_cte("matched", "pp", "canon")},
        okd AS (
            SELECT pp.canon, pp.domain, pp.priority
            FROM pp LEFT JOIN
                 (SELECT canon, a FROM matched WHERE rn = 1) m
              ON m.canon = pp.canon
            WHERE CASE WHEN pp.domain IN (SELECT domain FROM r5xx)
                       THEN false ELSE coalesce(m.a, true) END),
        rk AS (SELECT coalesce(rm.final, okd.canon) AS canon,
                      CAST(sum(okd.priority) AS BIGINT) AS priority
               FROM okd LEFT JOIN remap rm ON rm.src = okd.canon
               GROUP BY 1),
        rkg AS (SELECT canon,
                       regexp_extract(canon, {dom_re}, 1) AS domain,
                       priority,
                       regexp_extract(canon,
                         '{ROBOTS_PATH_RE}', 1) AS path
                FROM rk
                WHERE regexp_extract(canon, {dom_re}, 1)
                      NOT IN ({deny})),
        {_robots_matched_cte("matched2", "rkg", "canon")},
        okd2 AS (
            SELECT rkg.canon, rkg.domain, rkg.priority
            FROM rkg LEFT JOIN
                 (SELECT canon, a FROM matched2 WHERE rn = 1) m2
              ON m2.canon = rkg.canon
            WHERE CASE WHEN rkg.domain IN (SELECT domain FROM r5xx)
                       THEN false ELSE coalesce(m2.a, true) END),
        sched AS (
            SELECT canon, domain, priority,
                   row_number() OVER (PARTITION BY domain
                                      ORDER BY priority DESC,
                                               canon ASC) AS rn
            FROM okd2)
        SELECT domain, count(*) AS n_candidates,
               CAST(sum(CASE WHEN rn <= {FRONTIER_PER_DOMAIN}
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_scheduled,
               CAST(sum(CASE WHEN rn <= {FRONTIER_PER_DOMAIN}
                             THEN priority ELSE 0 END) AS BIGINT)
                 AS sched_priority,
               min(CASE WHEN rn = 1 THEN canon END) AS top_canon,
               CAST(sum(CASE WHEN rn <= {FRONTIER_PER_DOMAIN}
                             THEN ((('0x' || substr(md5(canon), 1, 15))
                                    ::BIGINT % {CKSUM_MOD})
                                   * (priority % {CKSUM_MOD}))
                                  % {CKSUM_MOD}
                             ELSE 0 END) AS BIGINT)
                 AS frontier_checksum
        FROM sched GROUP BY domain ORDER BY domain
    """


def _fetch_list_oracle_sql(iters: int = 3, fanout: int = 3,
                           scale: int = 1_000_000) -> str:
    """Generated DuckDB twin of ``scheduling.fetch_list``: one verdict
    table (deny + independent robots window) over the whole page
    universe gates all three channels at the DISCOVERED host; the
    page universe then re-keys permanent redirect chains to the
    terminal URL (the shared unrolled-hop ``remap``) and a SECOND
    verdict pass gates the terminal host (r14 — the engine's
    gate → re-key → gate sequence); the link channel joins the
    frontier's re-keyed rank-inflow priorities, the sitemap-only
    channel is the gated uncrawled remainder, the recrawl channel is
    the stale crawled pages with the staleness gap as priority; then
    the unified per-host budget window (now on the TERMINAL host) and
    the channel-weighted checksum."""
    from ..operators.frontier import FRONTIER_MOD
    from ..operators.scheduling import (FETCH_CYCLE_US,
                                        RATE_BASE_MILLI)
    from ..operators.urls import ROBOTS_PATH_RE
    from ..operators.sitemaps import FETCH_DAY_MULT
    from ..operators.urls import fixture_blocklist
    deny = ", ".join(f"'{b}'" for b in fixture_blocklist())
    dom_re = "'^[a-z][a-z0-9+.-]*://(?:[^/?]*@)?([^/:?]*)'"
    return f"""
        WITH {_url_canon_ctes()},
        {_frontier_common_ctes(iters, fanout, scale)},
        {_redirect_ctes()},
        pgu AS (SELECT DISTINCT (doc_id // 4) AS page FROM documents),
        pcu AS (SELECT pgu.page, min(d.canon) AS canon,
                       min(d.domain) AS domain
                FROM pgu JOIN d ON (d.doc_id // 4) = pgu.page
                WHERE d.domain NOT IN ({deny})
                GROUP BY pgu.page),
        pthu AS (SELECT *, regexp_extract(canon,
                   '{ROBOTS_PATH_RE}', 1) AS path
                 FROM pcu),
        {_robots_matched_cte("mtu", "pthu", "canon")},
        pok AS (SELECT pthu.page, pthu.canon, pthu.domain
                FROM pthu LEFT JOIN
                     (SELECT canon, a FROM mtu WHERE rn = 1) m
                  ON m.canon = pthu.canon
                WHERE CASE WHEN pthu.domain IN
                                (SELECT domain FROM r5xx)
                           THEN false
                           ELSE coalesce(m.a, true) END),
        rpok AS (SELECT pok.page,
                        coalesce(rm.final, pok.canon) AS canon
                 FROM pok LEFT JOIN remap rm ON rm.src = pok.canon),
        rpd AS (SELECT page, canon,
                       regexp_extract(canon, {dom_re}, 1) AS domain,
                       regexp_extract(canon,
                         '{ROBOTS_PATH_RE}', 1) AS path
                FROM rpok
                WHERE regexp_extract(canon, {dom_re}, 1)
                      NOT IN ({deny})),
        {_robots_matched_cte("mtu2", "rpd", "canon")},
        pok2 AS (SELECT rpd.page, rpd.canon, rpd.domain
                 FROM rpd LEFT JOIN
                      (SELECT canon, a FROM mtu2 WHERE rn = 1) m2
                   ON m2.canon = rpd.canon
                 WHERE CASE WHEN rpd.domain IN
                                 (SELECT domain FROM r5xx)
                            THEN false
                            ELSE coalesce(m2.a, true) END),
        fpri2 AS (SELECT coalesce(rm.final, fpri.canon) AS canon,
                         CAST(sum(fpri.priority) AS BIGINT) AS priority
                  FROM fpri LEFT JOIN remap rm ON rm.src = fpri.canon
                  GROUP BY 1),
        chA AS (SELECT pok2.canon, pok2.domain, fpri2.priority, 0 AS ch
                FROM fpri2 JOIN pok2 ON pok2.canon = fpri2.canon),
        chB AS (SELECT canon, domain, CAST(0 AS BIGINT) AS priority,
                       1 AS ch
                FROM pok2 WHERE page % {FRONTIER_MOD} = 0
                  AND canon NOT IN (SELECT canon FROM chA)),
        chC AS (SELECT canon, domain,
                       CAST(page % 365
                            - (page * {FETCH_DAY_MULT}) % 365
                            AS BIGINT) AS priority, 2 AS ch
                FROM pok2 WHERE page % {FRONTIER_MOD} <> 0
                  AND page % 365 > (page * {FETCH_DAY_MULT}) % 365),
        un AS (SELECT * FROM chA UNION ALL SELECT * FROM chB
               UNION ALL SELECT * FROM chC),
        bud AS (SELECT *, row_number() OVER (
                    PARTITION BY domain
                    ORDER BY ch ASC, priority DESC, canon ASC) AS rn
                FROM un),
        tim AS (SELECT bud.*,
                    (rn - 1) * coalesce(
                        (nullif(rd.cd, 0) * 1000000000) // 1000,
                        1000000000 //
                        ((({RATE_BASE_MILLI} *
                           (CASE (CAST(regexp_extract(bud.domain,
                                  'site(\\d+)', 1) AS BIGINT) % 3)
                            WHEN 0 THEN 1 WHEN 1 THEN 2
                            ELSE 4 END)
                           * 1000) // 1000))) AS fetch_at_us
                FROM bud LEFT JOIN rdelay rd
                  ON rd.domain = bud.domain)
        SELECT domain,
               CAST(sum(CASE WHEN ch = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_link_cand,
               CAST(sum(CASE WHEN ch = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_sitemap_only,
               CAST(sum(CASE WHEN ch = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_recrawl,
               CAST(sum(CASE WHEN fetch_at_us < {FETCH_CYCLE_US}
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_scheduled,
               CAST(max(CASE WHEN fetch_at_us < {FETCH_CYCLE_US}
                             THEN fetch_at_us ELSE 0 END) AS BIGINT)
                 AS makespan_us,
               min(CASE WHEN rn = 1 THEN canon END) AS top_canon,
               CAST(sum(CASE WHEN fetch_at_us < {FETCH_CYCLE_US}
                             THEN ((((('0x' ||
                                       substr(md5(canon), 1, 15))
                                    ::BIGINT % {CKSUM_MOD})
                                   * (1 + ch)) % {CKSUM_MOD})
                                   * (1 + fetch_at_us % {CKSUM_MOD}))
                                  % {CKSUM_MOD}
                             ELSE 0 END) AS BIGINT) AS fetch_checksum
        FROM tim GROUP BY domain ORDER BY domain
    """


def _redirect_ctes() -> str:
    """The redirect CTE block shared by the ``redirect_resolve`` twin
    and the redirect-composed frontier/fetch twins: the deterministic
    moved-host edge synthesis WITH the permanence class, the bounded
    follow UNROLLED hop by hop (the Lloyd's/PageRank-twin convention —
    each hop replays the engine's exact rules: final keeps following,
    hops and perm freeze once looped, a revisit of the source flags),
    the budget-exhaustion EXISTS (``rerr``), and the permanent-PREFIX
    re-key mapping (``remap`` — what ``apply_redirects`` consumes:
    ``pfinal``, the last node reached while every hop so far was
    permanent, for sources whose identity actually moved).
    Names are ``re``-prefixed to coexist with the URL/frontier CTE
    families."""
    from ..operators.redirects import (MOVED_HOST_MOD,
                                       REDIRECT_MAX_HOPS,
                                       TEMP_HOP1_MOD, TEMP_HOP2_MOD)
    hops_ctes = []
    prev = "rew1"
    for t in range(2, REDIRECT_MAX_HOPS + 1):
        hops_ctes.append(f"""rew{t} AS (
            SELECT {prev}.src,
                   coalesce(ree.dst, {prev}.final) AS final,
                   CASE WHEN ree.dst IS NOT NULL AND NOT {prev}.looped
                        THEN {prev}.hops + 1 ELSE {prev}.hops END
                     AS hops,
                   ({prev}.looped OR
                    coalesce(ree.dst = {prev}.src, false)) AS looped,
                   CASE WHEN ree.dst IS NOT NULL AND NOT {prev}.looped
                        THEN {prev}.perm AND ree.perm
                        ELSE {prev}.perm END AS perm,
                   CASE WHEN ree.dst IS NOT NULL AND NOT {prev}.looped
                             AND {prev}.perm AND ree.perm
                        THEN ree.dst ELSE {prev}.pfinal END AS pfinal
            FROM {prev} LEFT JOIN ree ON ree.src = {prev}.final)""")
        prev = f"rew{t}"
    body = ",\n        ".join(hops_ctes)
    return f"""repg AS (SELECT DISTINCT (doc_id // 4) AS page
                    FROM documents),
        remp AS (SELECT page, page % 16 AS m FROM repg
                 WHERE (page % 16) % 8 = {MOVED_HOST_MOD}),
        ree AS (
            SELECT 'http://www.site' || m ||
                     '.example.com/articles/item' || page ||
                     '?a=1&b=2' AS src,
                   'http://www.site' || m ||
                     'm.example.com/articles/item' || page ||
                     '?a=1&b=2' AS dst,
                   page % 5 <> {TEMP_HOP1_MOD} AS perm
            FROM remp
            UNION ALL
            SELECT 'http://www.site' || m ||
                     'm.example.com/articles/item' || page ||
                     '?a=1&b=2',
                   'http://www.site' || m ||
                     'mm.example.com/articles/item' || page ||
                     '?a=1&b=2',
                   page % 5 <> {TEMP_HOP2_MOD}
            FROM remp WHERE page % 2 = 0
            UNION ALL
            SELECT DISTINCT
                   'http://www.site' || m || '.example.com/loop/a',
                   'http://www.site' || m || '.example.com/loop/b',
                   true
            FROM remp
            UNION ALL
            SELECT DISTINCT
                   'http://www.site' || m || '.example.com/loop/b',
                   'http://www.site' || m || '.example.com/loop/a',
                   true
            FROM remp),
        rew1 AS (SELECT src, dst AS final, 1 AS hops,
                        (dst = src) AS looped, perm,
                        CASE WHEN perm THEN dst ELSE src END AS pfinal
                 FROM ree),
        {body},
        rerr AS (SELECT {prev}.src, {prev}.final, {prev}.hops,
                        ({prev}.looped OR EXISTS(
                            SELECT 1 FROM ree
                            WHERE ree.src = {prev}.final)) AS looped,
                        {prev}.perm, {prev}.pfinal
                 FROM {prev}),
        remap AS (SELECT src, pfinal AS final FROM rerr
                  WHERE NOT looped AND pfinal <> src)"""


def _redirect_oracle_sql() -> str:
    """Generated DuckDB twin of ``redirects.redirect_stats`` over the
    shared redirect CTE block (``_redirect_ctes``), with the
    per-source-domain rollup, the permanent/temporary split, and the
    shared checksum arithmetic extended by the perm-class factor."""
    h = ("(('0x' || substr(md5({c}), 1, 15))::BIGINT % "
         f"{CKSUM_MOD})")
    return f"""
        WITH {_redirect_ctes()}
        SELECT regexp_extract(src,
                 '^[a-z][a-z0-9+.-]*://(?:[^/?]*@)?([^/:?]*)', 1)
                 AS domain,
               count(*) AS n_redirected,
               CAST(sum(CASE WHEN looped THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_resolved,
               CAST(sum(CASE WHEN looped OR NOT perm THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_permanent,
               CAST(sum(CASE WHEN NOT looped AND NOT perm THEN 1
                             ELSE 0 END) AS BIGINT) AS n_temporary,
               CAST(sum(CASE WHEN NOT looped AND pfinal <> src THEN 1
                             ELSE 0 END) AS BIGINT) AS n_rekeyed,
               CAST(sum(CASE WHEN looped THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_loops,
               CAST(max(CASE WHEN looped THEN 0 ELSE hops END)
                    AS INTEGER) AS max_hops,
               CAST(sum(((((({h.format(c='src')} * (1 + hops))
                            % {CKSUM_MOD})
                           * (CASE WHEN looped THEN 1
                              ELSE {h.format(c='final')} + 1 END))
                          % {CKSUM_MOD}
                          * (CASE WHEN perm THEN 1 ELSE 2 END))
                         % {CKSUM_MOD}
                         * (CASE WHEN NOT looped AND pfinal <> src
                            THEN {h.format(c='pfinal')} + 1
                            ELSE 1 END))
                        % {CKSUM_MOD}) AS BIGINT)
                 AS redirect_checksum
        FROM rerr GROUP BY domain ORDER BY domain
    """


def _sitemap_oracle_sql(discovered: bool = False) -> str:
    """Generated DuckDB twin of ``sitemaps.sitemap_extract_stats`` —
    deliberately INDEPENDENT of the XML: each page's canonical URL
    comes from the URL-quad table (``d``) and its lastmod offset from
    the page id, so a value-hash match proves the engine's whole
    synthesize → XML-escape → parse → unescape → canonicalize round
    trip against a formulation that never built the XML at all.

    ``discovered=True`` is the ``sitemap_index`` form: discovery runs
    through robots.txt ``Sitemap:`` lines, so hosts whose robots
    fetch answered 5xx (``ROBOTS_5XX_MODS`` — unreadable file,
    RFC 9309 §2.3.1.3) never have their sitemap discovered and drop
    out entirely."""
    from ..operators.frontier import FRONTIER_MOD
    from ..operators.sitemaps import SITEMAP_EPOCH
    from ..operators.urls import ROBOTS_5XX_MODS
    gate = ""
    if discovered:
        mods = ", ".join(str(int(k)) for k in ROBOTS_5XX_MODS)
        gate = f" WHERE (page % 16) NOT IN ({mods})"
    return f"""
        WITH {_url_canon_ctes()},
        pg AS (SELECT DISTINCT (doc_id // 4) AS page
               FROM documents{gate}),
        pc AS (SELECT pg.page, min(d.canon) AS canon,
                      min(d.domain) AS domain
               FROM pg JOIN d ON (d.doc_id // 4) = pg.page
               GROUP BY pg.page)
        SELECT domain, count(*) AS n_entries,
               count(DISTINCT canon) AS n_pages,
               CAST(sum(CASE WHEN page % {FRONTIER_MOD} = 0
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_uncrawled,
               max(strftime(DATE '{SITEMAP_EPOCH}'
                            + CAST(page % 365 AS INTEGER),
                            '%Y-%m-%d')) AS max_lastmod,
               CAST(sum(((('0x' || substr(md5(canon), 1, 15))::BIGINT
                          % {CKSUM_MOD}) * (1 + page % 365))
                        % {CKSUM_MOD}) AS BIGINT) AS sitemap_checksum
        FROM pc GROUP BY domain ORDER BY domain
    """


def _recrawl_oracle_sql() -> str:
    """Generated DuckDB twin of ``sitemaps.recrawl_schedule`` — like
    the sitemap twin, it never builds or parses XML: canon from the
    URL-quad table, lastmod offset and fetch day from the page id, the
    same strict staleness comparison."""
    from ..operators.frontier import FRONTIER_MOD
    from ..operators.sitemaps import FETCH_DAY_MULT
    return f"""
        WITH {_url_canon_ctes()},
        pg AS (SELECT DISTINCT (doc_id // 4) AS page FROM documents
               WHERE (doc_id // 4) % {FRONTIER_MOD} <> 0),
        pc AS (SELECT pg.page, min(d.canon) AS canon,
                      min(d.domain) AS domain
               FROM pg JOIN d ON (d.doc_id // 4) = pg.page
               GROUP BY pg.page),
        v AS (SELECT canon, domain, page % 365 AS off,
                     (page * {FETCH_DAY_MULT}) % 365 AS fday
              FROM pc)
        SELECT domain, count(*) AS n_crawled_pages,
               CAST(sum(CASE WHEN off > fday THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_stale,
               CAST(sum(CASE WHEN off > fday THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_fresh,
               CAST(sum(CASE WHEN off > fday
                             THEN ((('0x' || substr(md5(canon), 1, 15))
                                    ::BIGINT % {CKSUM_MOD})
                                   * (1 + off)) % {CKSUM_MOD}
                             ELSE 0 END) AS BIGINT) AS stale_checksum
        FROM v GROUP BY domain ORDER BY domain
    """


def _revalidation_oracle_sql() -> str:
    """Generated DuckDB twin of ``sitemaps.recrawl_revalidation`` —
    the recrawl twin's XML-free derivation (canon from the quad table,
    staleness from the page id) joined with the per-page body size
    (min document byte length over the page's fetched variants,
    straight off the documents table)."""
    from ..operators.frontier import FRONTIER_MOD
    from ..operators.sitemaps import FETCH_DAY_MULT
    return f"""
        WITH {_url_canon_ctes()},
        pg AS (SELECT DISTINCT (doc_id // 4) AS page FROM documents
               WHERE (doc_id // 4) % {FRONTIER_MOD} <> 0),
        pc AS (SELECT pg.page, min(d.canon) AS canon,
                      min(d.domain) AS domain
               FROM pg JOIN d ON (d.doc_id // 4) = pg.page
               GROUP BY pg.page),
        sz AS (SELECT (doc_id // 4) AS page,
                      min(coalesce(strlen(text), 0))
                        AS body_bytes
               FROM documents GROUP BY page),
        v AS (SELECT pc.canon, pc.domain, sz.body_bytes,
                     (pc.page % 365) <= (pc.page * {FETCH_DAY_MULT})
                       % 365 AS fresh
              FROM pc JOIN sz ON sz.page = pc.page)
        SELECT domain, count(*) AS n_conditional,
               CAST(sum(CASE WHEN fresh THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_304,
               CAST(sum(CASE WHEN fresh THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_200,
               CAST(sum(CASE WHEN fresh THEN 0 ELSE body_bytes END)
                    AS BIGINT) AS bytes_transferred,
               CAST(sum(CASE WHEN fresh THEN body_bytes ELSE 0 END)
                    AS BIGINT) AS bytes_saved,
               CAST(sum(CASE WHEN fresh
                             THEN ((('0x' || substr(md5(canon), 1, 15))
                                    ::BIGINT % {CKSUM_MOD})
                                   * (1 + body_bytes)) % {CKSUM_MOD}
                             ELSE 0 END) AS BIGINT) AS reval_checksum
        FROM v GROUP BY domain ORDER BY domain
    """


def _etag_revalidation_oracle_sql() -> str:
    """Generated DuckDB twin of ``sitemaps.etag_revalidation``: the
    crawl-diff twin's snapshot fingerprints (min md5(text), the NEW
    crawl re-stamping the CHANGED_MODS pages), the per-page body size,
    and the lastmod-disagreement classes from pure page arithmetic —
    the whole fingerprint-vs-lastmod story replayed without any
    shared code."""
    from ..operators.frontier import FRONTIER_MOD
    from ..operators.sitemaps import FETCH_DAY_MULT
    from ..operators.urls import (CHANGED_MODS, NEW_EXCLUDE, OLD_EXCLUDE,
                                  SNAPSHOT_MOD)
    changed = ", ".join(str(m) for m in CHANGED_MODS)
    return f"""
        WITH {_url_canon_ctes()},
        pages AS (
            SELECT d.canon, d.domain, (d.doc_id // 4) AS page,
                   md5(doc.text) AS h
            FROM d JOIN documents doc ON doc.doc_id = d.doc_id),
        old AS (
            SELECT canon, min(domain) AS domain, min(page) AS page,
                   min(h) AS fp
            FROM pages WHERE page % {SNAPSHOT_MOD} <> {OLD_EXCLUDE}
            GROUP BY canon),
        new0 AS (
            SELECT canon, min(h) AS fp0, min(page) AS page
            FROM pages WHERE page % {SNAPSHOT_MOD} <> {NEW_EXCLUDE}
            GROUP BY canon),
        new AS (
            SELECT canon,
                   CASE WHEN page % {SNAPSHOT_MOD} IN ({changed})
                        THEN md5(fp0 || ':recrawl') ELSE fp0 END AS fp
            FROM new0),
        sz AS (SELECT (doc_id // 4) AS page,
                      min(coalesce(strlen(text), 0)) AS body_bytes
               FROM documents GROUP BY page),
        v AS (
            SELECT old.canon, old.domain, old.page, sz.body_bytes,
                   CASE WHEN new.canon IS NULL THEN 'gone'
                        WHEN old.fp IS NOT DISTINCT FROM new.fp
                             THEN '304' ELSE '200' END AS verdict,
                   old.page % {FRONTIER_MOD} <> 0 AS crawled,
                   (old.page % 365)
                     > (old.page * {FETCH_DAY_MULT}) % 365 AS lm_stale
            FROM old LEFT JOIN new ON new.canon = old.canon
            JOIN sz ON sz.page = old.page)
        SELECT domain, count(*) AS n_conditional,
               CAST(sum(CASE WHEN verdict = '304' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_304,
               CAST(sum(CASE WHEN verdict = '200' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_200,
               CAST(sum(CASE WHEN verdict = 'gone' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_gone,
               CAST(sum(CASE WHEN verdict = '304' AND crawled
                              AND lm_stale THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_lastmod_lied,
               CAST(sum(CASE WHEN verdict = '200' AND crawled
                              AND NOT lm_stale THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_lastmod_missed,
               CAST(sum(CASE WHEN verdict = '200' THEN body_bytes
                             ELSE 0 END) AS BIGINT)
                 AS bytes_transferred,
               CAST(sum(CASE WHEN verdict = '304' THEN body_bytes
                             ELSE 0 END) AS BIGINT) AS bytes_saved,
               CAST(sum(CASE WHEN verdict = '304'
                             THEN ((('0x' || substr(md5(canon), 1, 15))
                                    ::BIGINT % {CKSUM_MOD})
                                   * (1 + body_bytes)) % {CKSUM_MOD}
                             ELSE 0 END) AS BIGINT) AS etag_checksum
        FROM v GROUP BY domain ORDER BY domain
    """


def _mojibake_oracle_sql() -> str:
    """Generated DuckDB twin of ``textfix.mojibake_stats`` — replays
    the suffix synthesis and the FORWARD utf-8-as-cp1252 corruption
    (chain generated from the same ``moji_pairs()`` table) but NEVER
    runs the repair: every stat (repaired count, inflation, checksum)
    is computed from the CLEAN text, so a value-hash match proves the
    engine's repair chain is the exact inverse on every document."""
    from ..operators.textfix import CORRUPT_MOD, _SUFFIXES, moji_pairs
    corrupt = "rich"
    for ch, moji in moji_pairs():
        corrupt = f"replace({corrupt}, '{ch}', '{moji}')"
    sfx = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_SUFFIXES[:3]))
    return f"""
        WITH rich AS (
            SELECT doc_id, source,
                   text || CASE CAST(doc_id % 4 AS INT)
                     {sfx} ELSE '{_SUFFIXES[3]}' END AS rich
            FROM documents),
        raw AS (
            SELECT doc_id, source, rich,
                   CASE WHEN doc_id % {CORRUPT_MOD} = 0
                        THEN {corrupt} || chr(7) ELSE rich END AS raw
            FROM rich)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN raw <> rich THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_repaired,
               CAST(sum(CASE WHEN raw = rich THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clean,
               CAST(sum(length(raw) - length(rich)) AS BIGINT)
                 AS chars_inflated,
               CAST(sum(('0x' || substr(md5(rich), 1, 15))::BIGINT
                        % {CKSUM_MOD}) AS BIGINT) AS repaired_checksum
        FROM raw GROUP BY source ORDER BY source
    """


def _langid_oracle_sql(n: int = 2, dim: int = 1024,
                       scale: int = 1_000_000, holdout_mod: int = 5) -> str:
    """Generated DuckDB twin of ``langid_model.langid_confusion`` —
    replays TRAINING (hashed char-n-gram counts → integer per-million
    weights, ``(c * scale) // tot`` == Spark ``div``) and SCORING
    (per-doc weight sums, argmax with ``ORDER BY s DESC, cand ASC`` ==
    Spark's greatest + ascending when-chain) bit-for-bit. The md5-prefix
    bucket hash is nonneg (< 2^60) so ``%`` == Spark ``pmod``; DuckDB
    ``range`` is end-exclusive, matching Spark's inclusive
    ``sequence(1, len - n + 1)``."""
    grams = (f"list_transform(range(1, length(t) - {n - 2}), "
             f"i -> ('0x' || substr(md5(substr(t, CAST(i AS INT), {n})), "
             f"1, 15))::BIGINT % {dim})")
    return f"""
        WITH usable AS (
            SELECT doc_id, lang, lower(text) AS t FROM documents
            WHERE length(lower(text)) >= {n}),
        tg AS (
            SELECT lang, unnest({grams}) AS b
            FROM usable WHERE doc_id % {holdout_mod} <> 0),
        counts AS (SELECT lang, b, count(*) AS c FROM tg GROUP BY 1, 2),
        tots AS (SELECT lang, sum(c) AS tot FROM counts GROUP BY 1),
        w AS (SELECT counts.lang, b, (c * {scale}) // tot AS w
              FROM counts JOIN tots USING (lang)),
        hold AS (SELECT doc_id, lang, t FROM usable
                 WHERE doc_id % {holdout_mod} = 0),
        hg AS (SELECT doc_id, unnest({grams}) AS b FROM hold),
        langs AS (SELECT DISTINCT lang AS cand FROM w),
        sc AS (SELECT hg.doc_id, w.lang AS cand, sum(w.w) AS s
               FROM hg JOIN w ON w.b = hg.b GROUP BY 1, 2),
        scored AS (
            SELECT h.doc_id, h.lang, l.cand, coalesce(sc.s, 0) AS s
            FROM hold h CROSS JOIN langs l
            LEFT JOIN sc ON sc.doc_id = h.doc_id AND sc.cand = l.cand),
        pred AS (
            SELECT doc_id, lang, cand AS pred_lang,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY s DESC, cand ASC) AS rn
            FROM scored)
        SELECT lang, pred_lang, count(*) AS n_docs
        FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"""


ORACLES: dict[str, str] = {
    "wordcount": _WORDCOUNT_SQL,
    # round 7: the reference's true full-Unicode tokenizer contract,
    # declared with a real oracle — RE2 (DuckDB) and Java regex agree on
    # \p{L} for the fixture alphabet (pure ASCII, enumerated) and on
    # the pytest multilingual fixture; see text_mr.unicode_wordcount.
    "unicode_wordcount": r"""
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(list_filter(
                  string_split_regex(text, '[^\p{L}]+'),
                  t -> length(t) > 0)) AS word
              FROM documents)
        GROUP BY word ORDER BY word
    """,
    "mr_compat_wordcount": _WORDCOUNT_SQL,
    "udtf_wordcount": _WORDCOUNT_SQL,
    "udaf_geomean_prices": """
        SELECT o_orderpriority,
               round(exp(avg(ln(o_totalprice))), 2) AS geo_mean_price,
               count(*) AS n_orders
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "inverted_index": f"""
        SELECT word, count(*) AS n_docs,
               string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
        FROM (SELECT DISTINCT word, doc_id FROM ({_WORDS}))
        GROUP BY word ORDER BY word
    """,
    "distinct_words_per_doc": f"""
        SELECT doc_id, count(DISTINCT word) AS n_words
        FROM ({_WORDS}) GROUP BY doc_id ORDER BY doc_id
    """,
    "per_source_doc_count": """
        SELECT source, count(*) AS n_docs FROM documents
        GROUP BY source ORDER BY source
    """,
    "sorted_concat": """
        SELECT lang,
               string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
               count(DISTINCT source) AS n_sources
        FROM documents GROUP BY lang ORDER BY lang
    """,
    "constant_key_metadata": """
        SELECT doc_id, unnest(['a','b','c','d']) AS k,
               unnest([id_str, length(id_str)::VARCHAR, text_len::VARCHAR,
                       'xyzzy']) AS v
        FROM (SELECT doc_id, doc_id::VARCHAR AS id_str,
                     length(text) AS text_len FROM documents)
        ORDER BY doc_id, k
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                   AS sum_charge,
               round(avg(l_quantity), 2) AS avg_qty,
               round(avg(l_extendedprice), 2) AS avg_price,
               round(avg(l_discount), 2) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "top_unshipped_orders": """
        SELECT o_orderkey, o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "region_nation_rollup": """
        SELECT r_name, n_name, count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
    "order_priority_window": """
        SELECT o_custkey, o_orderkey, rn, round(o_totalprice, 2) AS price,
               cum_spend
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER w AS rn,
                     round(sum(o_totalprice) OVER (
                         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                         AS cum_spend
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey))
        WHERE rn <= 3 ORDER BY o_custkey, rn
    """,
    "set_ops": """
        WITH with_orders AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
             sampled AS (SELECT c_custkey AS custkey FROM customer
                         WHERE c_custkey % 3 = 0)
        SELECT custkey, 'both' AS tag
        FROM (SELECT custkey FROM with_orders
              INTERSECT SELECT custkey FROM sampled)
        UNION ALL
        SELECT custkey, 'only_orders' AS tag
        FROM (SELECT custkey FROM with_orders
              EXCEPT SELECT custkey FROM sampled)
        ORDER BY tag, custkey
    """,
    "customers_without_orders": """
        SELECT c_nationkey, count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS sum_acctbal
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    "big_spender_orders": """
        SELECT o_custkey, count(*) AS n_big_orders,
               round(sum(o_totalprice), 2) AS sum_big
        FROM orders o
        WHERE o_totalprice > (SELECT 1.3 * avg(o2.o_totalprice)
                              FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_custkey ORDER BY o_custkey
    """,
    "events_cube": """
        SELECT event_type, weekday, count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM (SELECT event_type, dayofweek(ts) + 1 AS weekday, value
              FROM events)
        GROUP BY CUBE(event_type, weekday)
        ORDER BY event_type NULLS FIRST, weekday NULLS FIRST
    """,
    "events_json_extract": """
        SELECT event_type, k % 10 AS k_bucket, count(*) AS n_events,
               CAST(sum(k) AS BIGINT) AS sum_k
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events)
        WHERE k IS NOT NULL
        GROUP BY event_type, k % 10
        ORDER BY event_type, k_bucket
    """,
    "events_props_map": """
        SELECT event_type, k AS prop_key, count(*) AS n_rows,
               CAST(sum(CAST(json_extract_string(props, '$.' || k)
                             AS BIGINT)) AS BIGINT) AS sum_val
        FROM (SELECT event_type, props, unnest(json_keys(props)) AS k
              FROM events)
        GROUP BY event_type, k ORDER BY event_type, prop_key
    """,
    "orders_pivot": """
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_F,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_O,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS n_P
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "regional_revenue": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name ORDER BY n_name
    """,
    "promo_revenue_share": """
        SELECT year(l_shipdate) AS ship_year,
               round(sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END) * 100.0
                     / sum(l_extendedprice * (1 - l_discount)), 2) AS promo_pct,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY year(l_shipdate) ORDER BY ship_year
    """,
    "parts_grouping_sets": """
        SELECT p_brand, p_type, count(*) AS n_parts,
               round(avg(p_retailprice), 2) AS avg_price
        FROM part
        GROUP BY GROUPING SETS ((p_brand), (p_type), ())
        ORDER BY p_brand NULLS FIRST, p_type NULLS FIRST
    """,
    "suppliers_with_shipments": """
        SELECT n_name, count(*) AS n_suppliers,
               round(sum(s_acctbal), 2) AS sum_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
        GROUP BY n_name ORDER BY n_name
    """,
    "price_band_totals": """
        SELECT band, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders
        JOIN (VALUES ('p0_under_50k', 0.0, 50000.0),
                     ('p1_50k_150k', 50000.0, 150000.0),
                     ('p2_150k_300k', 150000.0, 300000.0),
                     ('p3_over_300k', 300000.0, 1e18)) b(band, lo, hi)
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band ORDER BY band
    """,
    "order_seasonality": """
        SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
               count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_customers,
               round(avg(o_totalprice), 2) AS avg_price
        FROM orders GROUP BY 1, 2 ORDER BY yr, qtr
    """,
    "lineitem_price_quartiles": """
        WITH ranked AS (
            SELECT l_returnflag, l_extendedprice,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_extendedprice) AS rn,
                   count(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem)
        SELECT l_returnflag, count(*) AS n_items,
               round(max(CASE WHEN rn = ceil(0.25 * n)
                              THEN l_extendedprice END), 2) AS p25,
               round(max(CASE WHEN rn = ceil(0.5 * n)
                              THEN l_extendedprice END), 2) AS p50,
               round(max(CASE WHEN rn = ceil(0.75 * n)
                              THEN l_extendedprice END), 2) AS p75
        FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "customer_name_parse": """
        SELECT c_mktsegment, count(*) AS n_customers,
               CAST(sum(CASE WHEN CAST(split_part(c_name, '#', 2) AS BIGINT)
                                  = c_custkey THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_key_matches,
               round(avg(length(c_name)), 2) AS avg_name_len
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "embedding_stats": """
        SELECT label, count(*) AS n_vecs, min(dim) AS dim,
               round(avg(norm), 4) AS avg_norm,
               round(avg(mean_elem), 4) AS avg_mean_elem
        FROM (SELECT label, len(embedding) AS dim,
                     sqrt(list_sum(list_transform(embedding,
                          x -> x::DOUBLE * x::DOUBLE))) AS norm,
                     list_sum(list_transform(embedding, x -> x::DOUBLE))
                         / len(embedding) AS mean_elem
              FROM embeddings)
        GROUP BY label ORDER BY label
    """,
    "events_tumbling": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
        ORDER BY window_start, event_type
    """,
    "events_sliding": """
        WITH base AS (
            SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800)
                        AS TIMESTAMP) AS w0,
                   event_type, value
            FROM events),
        wins AS (
            SELECT w0 AS window_start, event_type, value FROM base
            UNION ALL
            SELECT w0 - INTERVAL 30 MINUTE, event_type, value FROM base)
        SELECT window_start, event_type, count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM wins GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
    "set_ops_all": """
        WITH hi AS (SELECT o_orderpriority FROM orders
                    JOIN customer ON o_custkey = c_custkey
                    WHERE c_acctbal > 5000),
             lo AS (SELECT o_orderpriority FROM orders
                    JOIN customer ON o_custkey = c_custkey
                    WHERE c_acctbal <= 5000),
        tagged AS (
            SELECT 'common' AS tag, o_orderpriority
            FROM (SELECT o_orderpriority FROM hi
                  INTERSECT ALL SELECT o_orderpriority FROM lo)
            UNION ALL
            SELECT 'hi_surplus' AS tag, o_orderpriority
            FROM (SELECT o_orderpriority FROM hi
                  EXCEPT ALL SELECT o_orderpriority FROM lo))
        SELECT tag, o_orderpriority, count(*) AS n_rows
        FROM tagged GROUP BY tag, o_orderpriority
        ORDER BY tag, o_orderpriority
    """,
    "events_sessionize": """
        WITH lagged AS (
            SELECT user_id, ts, event_id, value,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_ts
            FROM events),
        flagged AS (
            SELECT *, CASE WHEN prev_ts IS NULL
                            OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                           THEN 1 ELSE 0 END AS new_session
            FROM lagged),
        sess AS (
            -- CAST: DuckDB's window sum() yields HUGEINT; Spark emits
            -- BIGINT, and the driver's value-hash serializes them
            -- differently even when every value matches.
            SELECT *, CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
            FROM flagged)
        SELECT user_id, session_id,
               min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id
    """,
    "events_asof_join": """
        SELECT e.event_id, e.user_id, round(e.value, 2) AS err_value,
               c.ts AS prev_click_ts, round(c.value, 2) AS prev_click_value
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON e.user_id = c.user_id AND e.ts >= c.ts
        ORDER BY e.event_id
    """,
    "exact_dedup": """
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_survivors,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_duplicates
        FROM (SELECT source,
                     row_number() OVER (PARTITION BY sha256(text)
                                        ORDER BY doc_id) AS rn
              FROM documents)
        GROUP BY source ORDER BY source
    """,
    "ngram_jaccard_pairs": _ngram_lsh_oracle_sql(),
    "embedding_near_dup": f"""
        SELECT id_a, id_b, round(cos, 4) AS cos_sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_COS.format(a='a.embedding', b='b.embedding')} AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        WHERE cos >= 0.4 ORDER BY id_a, id_b
    """,
    "knn_bruteforce": f"""
        WITH probes AS (SELECT vec_id AS probe_id, embedding AS probe_emb
                        FROM embeddings ORDER BY vec_id LIMIT 5),
        scored AS (
            SELECT p.probe_id, e.vec_id AS neighbor_id,
                   {_COS.format(a='p.probe_emb', b='e.embedding')} AS cos
            FROM probes p JOIN embeddings e ON e.vec_id <> p.probe_id),
        ranked AS (
            SELECT probe_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        SELECT probe_id, neighbor_id, rank, round(cos, 4) AS cos_sim
        FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank
    """,
    # kNN label vote: the knn_bruteforce machinery over 50 probes, then
    # a deterministic majority (count desc, label asc) per probe.
    "knn_label_vote": f"""
        WITH probes AS (SELECT vec_id AS probe_id, embedding AS probe_emb,
                               label AS true_label
                        FROM embeddings ORDER BY vec_id LIMIT 20),
        scored AS (
            SELECT p.probe_id, p.true_label, e.vec_id AS neighbor_id,
                   e.label AS nlabel,
                   {_COS.format(a='p.probe_emb', b='e.embedding')} AS cos
            FROM probes p JOIN embeddings e ON e.vec_id <> p.probe_id),
        ranked AS (
            SELECT probe_id, true_label, nlabel,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY cos DESC, neighbor_id)
                       AS rank
            FROM scored),
        votes AS (
            SELECT probe_id, true_label, nlabel, count(*) AS c
            FROM ranked WHERE rank <= 5
            GROUP BY probe_id, true_label, nlabel),
        pred AS (
            SELECT probe_id, true_label, nlabel AS pred_label,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY c DESC, nlabel) AS rn
            FROM votes)
        SELECT true_label, count(*) AS n_probes,
               CAST(sum(CASE WHEN pred_label = true_label
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               round(avg(CASE WHEN pred_label = true_label
                              THEN 1.0 ELSE 0.0 END), 4) AS accuracy
        FROM pred WHERE rn = 1
        GROUP BY true_label ORDER BY true_label
    """,
    "lang_id": f"""
        WITH scores AS (
            SELECT d.doc_id, d.lang,
                   sum(CASE WHEN lower(w.word) IN ('the','and','of')
                            THEN 1 ELSE 0 END) AS s_en,
                   sum(CASE WHEN lower(w.word) IN ('der','und','die')
                            THEN 1 ELSE 0 END) AS s_de,
                   sum(CASE WHEN lower(w.word) IN ('le','la','et')
                            THEN 1 ELSE 0 END) AS s_fr,
                   sum(CASE WHEN lower(w.word) IN ('el','los','que')
                            THEN 1 ELSE 0 END) AS s_es
            FROM ({_WORDS}) w JOIN documents d ON w.doc_id = d.doc_id
            GROUP BY d.doc_id, d.lang),
        pred AS (
            SELECT lang,
                   CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
                        WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                        WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                        WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                        ELSE 'es' END AS pred_lang
            FROM scores)
        SELECT lang, pred_lang, count(*) AS n_docs
        FROM pred GROUP BY lang, pred_lang ORDER BY lang, pred_lang
    """,
    "text_quality": f"""
        WITH feats AS (
            SELECT *, round(least(n_chars_d / 400.0, 1.0) * 0.4
                            + alpha_ratio * 0.4
                            + least(stopword_ratio * 4.0, 1.0) * 0.2, 4)
                       AS quality
            FROM ({_QUALITY_FEATS}))
        SELECT source, count(*) AS n_docs,
               round(avg(quality), 4) AS avg_quality,
               round(avg(alpha_ratio), 4) AS avg_alpha_ratio,
               round(avg(stopword_ratio), 4) AS avg_stopword_ratio,
               round(avg(mean_word_len), 4) AS avg_word_len
        FROM feats GROUP BY source ORDER BY source
    """,
    "token_counts": r"""
        WITH per_doc AS (
            SELECT source, lang,
                   len(list_filter(string_split_regex(text, '\s+'),
                       t -> length(t) > 0)) AS ws,
                   len(regexp_extract_all(text,
                       '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe
            FROM documents)
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(ws) AS BIGINT) AS ws_tokens,
               CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
               round(avg(bpe), 2) AS avg_bpe_per_doc
        FROM per_doc GROUP BY source, lang ORDER BY source, lang
    """,
    "doc_fingerprint": """
        WITH fps AS (
            SELECT doc_id,
                   md5(lower(regexp_replace(text, '[^a-zA-Z]+', ' ', 'g')))
                       AS fp
            FROM documents)
        SELECT f.doc_id, f.fp, c.n_sharing
        FROM fps f
        JOIN (SELECT fp, count(*) AS n_sharing FROM fps GROUP BY fp) c
          ON f.fp = c.fp
        ORDER BY f.doc_id
    """,
    "curation_pipeline": """
        WITH per_doc AS (
            SELECT source, lang,
                   length(text) AS n_chars_i,
                   round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                         / greatest(length(text)::DOUBLE, 1.0), 4) AS alpha_ratio,
                   row_number() OVER (PARTITION BY sha256(text)
                                      ORDER BY doc_id) AS rn
            FROM documents),
        flagged AS (
            SELECT *, CASE WHEN rn = 1 AND n_chars_i >= 100
                            AND alpha_ratio >= 0.6 THEN 1 ELSE 0 END AS keep
            FROM per_doc)
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(keep) AS BIGINT) AS n_kept,
               round(sum(keep) * 100.0 / count(*), 2) AS pct_kept,
               round(sum(CASE WHEN keep = 1 THEN
                              CAST(round(alpha_ratio * 10000) AS BIGINT)
                         END) / (sum(keep) * 10000.0), 4) AS avg_kept_alpha
        FROM flagged GROUP BY source, lang ORDER BY source, lang
    """,
    "repetition_quality": r"""
        WITH base AS (
            SELECT doc_id, source,
                   list_transform(
                       list_filter(string_split_regex(text, '[^a-zA-Z]+'),
                                   t -> length(t) > 0),
                       t -> lower(t)) AS toks
            FROM documents),
        feats AS (
            SELECT doc_id, source, len(toks) AS n_tok,
                   greatest(len(toks) - 1, 0) AS n_bigrams,
                   CASE WHEN len(toks) > 0 THEN
                        round(1.0 - len(list_distinct(toks))::DOUBLE
                              / len(toks), 4)
                   ELSE 0.0 END AS dup_word_frac,
                   toks
            FROM base),
        bg AS (
            SELECT f.doc_id, concat(f.toks[g.i], ' ', f.toks[g.i + 1])
                       AS bigram
            FROM feats f, LATERAL unnest(generate_series(1, f.n_bigrams))
                 AS g(i)),
        top AS (
            SELECT doc_id, max(c) AS top_c FROM (
                SELECT doc_id, bigram, count(*) AS c
                FROM bg GROUP BY doc_id, bigram) GROUP BY doc_id),
        per_doc AS (
            SELECT f.doc_id, f.source, f.dup_word_frac,
                   CASE WHEN f.n_bigrams > 0 THEN
                        round(coalesce(t.top_c, 0)::DOUBLE / f.n_bigrams, 4)
                   ELSE 0.0 END AS top_bigram_frac
            FROM feats f LEFT JOIN top t ON f.doc_id = t.doc_id)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN dup_word_frac > 0.3
                              OR top_bigram_frac > 0.2
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               round(sum(CAST(round(dup_word_frac * 10000) AS BIGINT))
                     / (count(*) * 10000.0), 4) AS avg_dup_word_frac,
               round(sum(CAST(round(top_bigram_frac * 10000) AS BIGINT))
                     / (count(*) * 10000.0), 4) AS avg_top_bigram_frac
        FROM per_doc GROUP BY source ORDER BY source
    """,
    # Heavy hitters: the Spark side routes through a Count-Min-Sketch
    # candidate pass, but the final HAVING re-checks the EXACT count,
    # so the result provably equals the naive form — which is what the
    # oracle runs (ceil via integer (n*milli+999)//1000).
    "heavy_hitters": """
        WITH tok AS (
            SELECT unnest(list_filter(
                       string_split_regex(text, '[^a-zA-Z]+'),
                       t -> length(t) > 0)) AS word
            FROM documents),
        tot AS (SELECT count(*) AS n FROM tok)
        SELECT word, count(*) AS n_occurrences
        FROM tok GROUP BY word
        HAVING count(*) >= (SELECT (n * 5 + 999) // 1000 FROM tot)
        ORDER BY n_occurrences DESC, word
    """,
    # Bloom-filter prior-snapshot dedup: the bitmap construction (salted
    # md5 positions into 60-bit-packed BIGINT words — 60 so the shift
    # never reaches the sign bit) is replayed verbatim; bit_count-based
    # checksum columns certify the bitmap even when n_flagged is 0 on
    # the duplicate-free fixture.
    "bloom_dedup": """
        WITH prior AS (
            SELECT DISTINCT md5(coalesce(text, '')) AS h
            FROM documents WHERE doc_id % 97 = 0),
        pos AS (
            SELECT (('0x' || substr(md5(j || h), 1, 15))::BIGINT)
                       % 245760 AS p
            FROM prior, (SELECT unnest(['0','1','2','3']) AS j)),
        words AS (
            SELECT p // 60 AS w,
                   bit_or(1::BIGINT << CAST(p % 60 AS INT)) AS bits
            FROM pos GROUP BY 1),
        cert AS (
            SELECT CAST(coalesce(sum(bit_count(bits)), 0) AS BIGINT)
                       AS bits_set,
                   CAST(coalesce(sum((w + 1) * bit_count(bits)), 0)
                       AS BIGINT) AS checksum
            FROM words),
        corpus AS (
            -- rid, not doc_id, is the per-row key: the Spark operator
            -- scores every ROW, so a duplicated doc_id must not
            -- collapse into one AND-of-8-positions group here
            SELECT row_number() OVER (ORDER BY doc_id, source) AS rid,
                   source, md5(coalesce(text, '')) AS h
            FROM documents WHERE doc_id % 97 <> 0),
        cpos AS (
            SELECT rid, source,
                   (('0x' || substr(md5(j || h), 1, 15))::BIGINT)
                       % 245760 AS p
            FROM corpus, (SELECT unnest(['0','1','2','3']) AS j)),
        hits AS (
            SELECT c.rid, c.source,
                   min(CASE WHEN w.bits IS NULL THEN 0
                            ELSE CAST((w.bits >> CAST(c.p % 60 AS INT))
                                      & 1 AS INT)
                       END) AS all_set
            FROM cpos c LEFT JOIN words w ON c.p // 60 = w.w
            GROUP BY 1, 2)
        SELECT source, count(*) AS n_docs,
               CAST(sum(all_set) AS BIGINT) AS n_flagged,
               (SELECT bits_set FROM cert) AS bloom_bits_set,
               (SELECT checksum FROM cert) AS bloom_checksum
        FROM hits GROUP BY source ORDER BY source
    """,
    "contamination_check": r"""
        WITH toks AS (
            SELECT doc_id, source,
                   list_filter(string_split_regex(text, '[^a-zA-Z]+'),
                               t -> length(t) > 0) AS toks
            FROM documents),
        sh AS (
            SELECT DISTINCT doc_id, source,
                   array_to_string(toks[i:i+4], ' ') AS shingle
            FROM (SELECT doc_id, source, toks,
                         unnest(range(1, len(toks) - 3)) AS i
                  FROM toks WHERE len(toks) >= 5)),
        bench AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        shared AS (
            SELECT s.doc_id, count(*) AS n_shared
            FROM sh s JOIN bench b ON s.shingle = b.shingle
            WHERE s.doc_id % 97 <> 0
            GROUP BY s.doc_id),
        base AS (
            SELECT doc_id, source FROM documents WHERE doc_id % 97 <> 0)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN coalesce(n_shared, 0) >= 3
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_contaminated,
               CAST(sum(coalesce(n_shared, 0)) AS BIGINT)
                   AS total_shared_shingles
        FROM base LEFT JOIN shared USING (doc_id)
        GROUP BY source ORDER BY source
    """,
    # Patterns are the PII_PATTERNS literals (textstats.py) — Java/RE2
    # common subset; replacement order (email → phone → ipv4) matches.
    "pii_scrub": r"""
        WITH per_doc AS (
            SELECT doc_id, source,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS n_email,
                   len(regexp_extract_all(text,
                       '\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}'))
                       AS n_phone,
                   len(regexp_extract_all(text,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
                       AS n_ipv4,
                   length(regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}',
                       '<PHONE>', 'g'),
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                       '<IPV4>', 'g')) - length(text) AS len_delta
            FROM documents)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN n_email + n_phone + n_ipv4 > 0
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_with_pii,
               CAST(sum(n_email) AS BIGINT) AS total_email,
               CAST(sum(n_phone) AS BIGINT) AS total_phone,
               CAST(sum(n_ipv4) AS BIGINT) AS total_ipv4,
               CAST(sum(len_delta) AS BIGINT) AS total_len_delta
        FROM per_doc GROUP BY source ORDER BY source
    """,
    "events_gapfill": """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   count(*) AS n, round(avg(value), 4) AS avg_v
            FROM events GROUP BY event_type, date_trunc('hour', ts)),
        bounds AS (
            SELECT event_type, min(h) AS h0, max(h) AS h1
            FROM hourly GROUP BY event_type),
        grid AS (
            SELECT b.event_type, g.h
            FROM bounds b, LATERAL unnest(
                generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS g(h))
        SELECT g.event_type, g.h AS hour,
               CAST(coalesce(hr.n, 0) AS BIGINT) AS n_events,
               last_value(hr.avg_v IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS filled_avg_v
        FROM grid g LEFT JOIN hourly hr
          ON g.event_type = hr.event_type AND g.h = hr.h
        ORDER BY g.event_type, hour
    """,
    "hashed_tf": r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '[^a-zA-Z]+'),
                                      t -> length(t) > 0)) AS tok
            FROM documents),
        counts AS (
            SELECT doc_id,
                   ('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 AS b,
                   count(*) AS c
            FROM toks GROUP BY doc_id, b),
        agg AS (
            SELECT doc_id, count(*) AS nnz, max(c) AS mx,
                   sum(c * c) AS ss
            FROM counts GROUP BY doc_id),
        top AS (
            SELECT co.doc_id, min(co.b) AS top_bucket
            FROM counts co JOIN agg a ON co.doc_id = a.doc_id
            WHERE co.c = a.mx GROUP BY co.doc_id)
        SELECT a.doc_id, a.nnz, t.top_bucket,
               round(a.mx / sqrt(a.ss::DOUBLE), 4) AS top_weight
        FROM agg a JOIN top t ON a.doc_id = t.doc_id
        ORDER BY a.doc_id
    """,
    # TF-IDF over the hashed bucket space: idf scaled to integer
    # milli-units BEFORE multiplying, so weights/argmax/ties are
    # integer-exact cross-engine; w <= ~1e7 keeps w*w exactly
    # representable in the double norm sum.
    "tfidf": r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '[^a-zA-Z]+'),
                                      t -> length(t) > 0)) AS tok
            FROM documents),
        counts AS (
            SELECT doc_id,
                   ('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 AS b,
                   count(*) AS c
            FROM toks GROUP BY doc_id, b),
        total AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        idf AS (
            SELECT b, CAST(round(ln((n_docs + 1.0) / (count(*) + 1.0))
                                 * 1000) AS BIGINT) AS idf_s
            FROM counts, total GROUP BY b, n_docs),
        w AS (
            SELECT co.doc_id, co.b, co.c * i.idf_s AS w
            FROM counts co JOIN idf i ON co.b = i.b),
        agg AS (
            SELECT doc_id, count(*) AS nnz, max(w) AS mx,
                   sum(CAST(w AS DOUBLE) * w) AS ss
            FROM w GROUP BY doc_id),
        top AS (
            SELECT w.doc_id, min(w.b) AS top_bucket
            FROM w JOIN agg a ON w.doc_id = a.doc_id
            WHERE w.w = a.mx GROUP BY w.doc_id)
        SELECT a.doc_id, a.nnz, t.top_bucket,
               CASE WHEN a.ss > 0
                    THEN round(a.mx / sqrt(a.ss), 4) END AS top_tfidf
        FROM agg a JOIN top t ON a.doc_id = t.doc_id
        ORDER BY a.doc_id
    """,
    "weighted_sample": """
        WITH per_doc AS (
            SELECT lang, doc_id,
                   CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                                1, 8))::BIGINT
                             / 4294967296.0
                             < CASE lang WHEN 'en' THEN 0.5
                                         WHEN 'de' THEN 0.2
                                         WHEN 'fr' THEN 0.1
                                         ELSE 0.05 END
                        THEN 1 ELSE 0 END AS kept
            FROM documents)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(kept) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN kept = 1 THEN doc_id END) AS BIGINT)
                   AS kept_id_sum
        FROM per_doc GROUP BY lang ORDER BY lang
    """,
    "stratified_sample": """
        WITH ranked AS (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                               doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS cnt
            FROM documents)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN rn <= ceil(cnt * 0.1) THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_sampled,
               CAST(sum(CASE WHEN rn <= ceil(cnt * 0.1) THEN doc_id END)
                   AS BIGINT) AS sampled_id_sum
        FROM ranked GROUP BY source ORDER BY source
    """,
    # The oracle re-derives what the synthesizer embedded in the REAL
    # container headers the Spark side then parses back out
    # (multimodal/binary.py): even doc_ids are PNG (57 framing bytes
    # around the text), odd are JPEG (41); dims are arithmetic on the
    # text's octet length. A parser bug on either side breaks the match.
    "multimodal_decode": """
        SELECT source, count(*) AS n_items,
               CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_png,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_jpeg,
               CAST(sum(byte_len) AS BIGINT) AS total_bytes,
               CAST(sum(width) AS BIGINT) AS sum_width,
               CAST(sum(height) AS BIGINT) AS sum_height,
               CAST(sum(n_pixels) AS BIGINT) AS total_pixels
        FROM (SELECT source, doc_id,
                     octet_length(encode(text))
                     + CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 41 END
                         AS byte_len,
                     64 + octet_length(encode(text)) % 512 AS width,
                     64 + (octet_length(encode(text)) * 7) % 512 AS height,
                     (64 + octet_length(encode(text)) % 512)
                     * (64 + (octet_length(encode(text)) * 7) % 512) * 3
                         AS n_pixels
              FROM documents)
        GROUP BY source ORDER BY source
    """,
    "multimodal_pipeline": """
        SELECT source, count(*) AS n_items,
               CAST(sum(byte_len) AS BIGINT) AS total_bytes,
               CAST(sum(width) AS BIGINT) AS sum_width,
               CAST(sum(height) AS BIGINT) AS sum_height,
               CAST(sum(width * height * 3) AS BIGINT) AS total_pixels,
               CAST(sum(least(byte_len, 64 * 64 * 3)) AS BIGINT)
                   AS total_resized_bytes,
               CAST(sum(1 + byte_len // 1024) AS BIGINT) AS total_frames,
               CAST(sum((1 + byte_len // 1024 + 3) // 4) AS BIGINT)
                   AS total_sampled
        FROM (SELECT source,
                     octet_length(encode(text))
                     + CASE WHEN doc_id % 2 = 0 THEN 57 ELSE 41 END
                         AS byte_len,
                     64 + octet_length(encode(text)) % 512 AS width,
                     64 + (octet_length(encode(text)) * 7) % 512 AS height
              FROM documents)
        GROUP BY source ORDER BY source
    """,
    # Winnowing with portable 60-bit md5 gram hashes: both engines
    # compute int(hex(md5(gram))[0:15]) identically (Spark conv ==
    # DuckDB '0x' cast), so the declared variant is fully value-checked;
    # the xxhash64 byte-gram production path stays rows-only in pytest.
    "rolling_fingerprint": """
        WITH grams AS (
            SELECT doc_id,
                   list_transform(range(1, length(text) - 6),
                       i -> ('0x' || substr(md5(substr(text, i, 8)), 1, 15))
                            ::BIGINT) AS gh
            FROM documents WHERE length(text) >= 11),
        sel AS (
            SELECT doc_id,
                   list_transform(range(1, len(gh) - 2),
                       j -> list_min(gh[j:j+3])) AS mins
            FROM grams)
        SELECT doc_id, len(list_distinct(mins)) AS n_fingerprints
        FROM sel ORDER BY doc_id
    """,
    # Portable 60-bit simhash (md5 token hashes): both engines compute
    # the same signatures, so bucket and Hamming-pair queries are fully
    # value-checked; the xxhash64 64-bit production path stays in pytest.
    "simhash_buckets": f"""
        SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc_id
        FROM ({_simhash_sigs_sql()})
        GROUP BY simhash HAVING count(*) > 1 ORDER BY simhash
    """,
    "simhash_hamming": f"""
        WITH sigs AS ({_simhash_sigs_sql()}),
        blocks AS (
            SELECT doc_id, simhash, b AS block_id,
                   (simhash >> (b * 20)) & 1048575 AS block_val
            FROM sigs, (SELECT unnest([0, 1, 2]) AS b) bs),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.simhash AS sh_a, b.simhash AS sh_b
            FROM blocks a JOIN blocks b
              ON a.block_id = b.block_id AND a.block_val = b.block_val
             AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 2
        ORDER BY doc_a, doc_b
    """,
    # MinHash-LSH with the portable md5-mod-p signatures: fully
    # value-checked — same literal permutation coefficients inlined in
    # both plans.
    "near_dedup_minhash": _minhash_oracle_sql(),
    "near_dedup_vs_prior": _vs_prior_oracle_sql(),
    "chunk_stats": _chunk_stats_oracle_sql(),
    "html_extract": _html_extract_oracle_sql(),
    "pdf_extract": _pdf_extract_oracle_sql(),
    # oracle-inheritance tier (the r10 convention): the WARC path is
    # pinned byte-LOSSLESS in tests/test_warc_extract.py (parsed pages
    # equal the direct synthesis; Content-Length validated per record,
    # mismatches raise), so its rollup is value-identical to
    # html_extract's by construction and shares its DuckDB twin
    "warc_extract": _html_extract_oracle_sql(),
    # gzip-member WARC: the gzip round trip is pinned byte-equal and
    # the inner parse lossless (tests/test_warc_extract.py), so the
    # compressed front door inherits the same twin
    "warc_extract_gz": _html_extract_oracle_sql(),
    "link_pagerank": _link_pagerank_oracle_sql(),
    "crawl_frontier": _crawl_frontier_oracle_sql(),
    "sitemap_extract": _sitemap_oracle_sql(),
    # sitemapindex form: the two-level (index -> gzipped children)
    # round trip is pinned equal to the flat parse in
    # tests/test_sitemaps.py, so it inherits the same XML-free twin
    # the index form discovers via robots.txt: 5xx-robots hosts are
    # never discovered (r14) — the twin drops them the same way
    "sitemap_index": _sitemap_oracle_sql(discovered=True),
    "mojibake_repair": _mojibake_oracle_sql(),
    "recrawl_schedule": _recrawl_oracle_sql(),
    "fetch_list": _fetch_list_oracle_sql(),
    "robots_gate": _robots_oracle_sql(),
    "redirect_resolve": _redirect_oracle_sql(),
    "redirect_aware_diff": _redirect_aware_diff_oracle_sql(),
    "recrawl_revalidation": _revalidation_oracle_sql(),
    "etag_revalidation": _etag_revalidation_oracle_sql(),
    "url_canonical": _url_canonical_oracle_sql(),
    "crawl_diff": _crawl_diff_oracle_sql(),
    "domain_blocklist": _domain_blocklist_oracle_sql(),
    "domain_reputation": _domain_reputation_oracle_sql(),
    "corpus_datasheet": r"""
        WITH lt AS (
            SELECT source, lang, count(*) AS cnt
            FROM documents GROUP BY 1, 2),
        top AS (
            SELECT source, lang AS top_lang FROM lt
            QUALIFY row_number() OVER (
                PARTITION BY source ORDER BY cnt DESC, lang ASC) = 1),
        base AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars,
                   CAST(sum(len(list_filter(
                       string_split_regex(text, '\s+'),
                       t -> length(t) > 0))) AS BIGINT) AS n_tokens,
                   count(DISTINCT md5(text)) AS n_distinct_texts,
                   count(DISTINCT lang) AS n_langs
            FROM documents GROUP BY source)
        SELECT source, n_docs, n_chars, n_tokens, n_distinct_texts,
               ((n_docs - n_distinct_texts) * 1000) // n_docs
                   AS dup_rate_milli,
               n_langs, top_lang
        FROM base JOIN top USING (source) ORDER BY source
    """,
    "langid_trained": _langid_oracle_sql(),
    "event_funnel": _event_funnel_oracle_sql(),
    # CDC upsert: the oracle expresses the MERGE declaratively (updated
    # keys take the update row, the rest keep base) — matching it
    # proves the engine's combinable struct-max formulation implements
    # exactly that spec, not merely the same trick twice
    "orders_upsert": f"""
        WITH upd AS (
            SELECT o_orderkey, 'U' AS o_orderstatus,
                   o_orderdate + INTERVAL 1 DAY AS o_orderdate
            FROM orders WHERE o_orderkey % 10 = 0),
        merged AS (
            SELECT o_orderkey, o_orderstatus, o_orderdate FROM orders
            WHERE o_orderkey % 10 <> 0
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_orderdate FROM upd)
        SELECT o_orderstatus, count(*) AS n_orders,
               CAST(sum(o_orderkey % {CKSUM_MOD}) AS BIGINT)
                   AS key_checksum,
               CAST(sum(epoch_us(o_orderdate) % {CKSUM_MOD}) AS BIGINT)
                   AS date_checksum
        FROM merged GROUP BY 1 ORDER BY 1
    """,
    # Hourly anomaly detection with the INTEGER-EXACT z² test:
    # (n·c − s)² > k²·(n·ss − s²) over integer moments — no float
    # mean/stddev anywhere, so the knife-edge cases agree bit-for-bit
    "event_anomalies": f"""
        WITH h AS (
            SELECT event_type, date_trunc('hour', ts) AS hr,
                   count(*) AS c
            FROM events GROUP BY 1, 2),
        m AS (
            SELECT event_type, count(*) AS n, sum(c) AS s,
                   sum(c*c) AS ss
            FROM h GROUP BY 1),
        j AS (
            SELECT h.event_type, h.hr, h.c,
                   (m.n*h.c - m.s)*(m.n*h.c - m.s) AS dev2,
                   m.n*m.ss - m.s*m.s AS var_n2
            FROM h JOIN m USING (event_type))
        SELECT event_type,
               count(*) AS n_hours,
               CAST(sum(c) AS BIGINT) AS sum_events,
               CAST(sum(CASE WHEN dev2 > 4*var_n2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_anomalies_2s,
               CAST(sum(CASE WHEN dev2 > 9*var_n2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_anomalies_3s,
               CAST(sum(CASE WHEN dev2 > 9*var_n2
                             THEN epoch_us(hr) % {{CKSUM_MOD}} ELSE 0 END)
                    AS BIGINT) AS anomaly_checksum
        FROM j GROUP BY 1 ORDER BY 1
    """.format(CKSUM_MOD=CKSUM_MOD),
    # Edit-distance-1 name join: the oracle is the NAIVE n² cross-join
    # — deliberately, because matching it proves the engine's
    # deletion-neighborhood blocking has recall 1, not just that both
    # sides ran the same clever algorithm
    "fuzzy_name_stats": f"""
        WITH c AS (SELECT c_custkey, c_name FROM customer),
        pairs AS (
            SELECT a.c_custkey AS ka, b.c_custkey AS kb,
                   levenshtein(a.c_name, b.c_name) AS dist
            FROM c a JOIN c b ON a.c_custkey < b.c_custkey
            WHERE levenshtein(a.c_name, b.c_name) <= 1)
        SELECT CAST(dist AS BIGINT) AS dist,
               count(*) AS n_pairs,
               CAST(sum((ka * 31 + kb) % {CKSUM_MOD}) AS BIGINT)
                   AS pair_checksum
        FROM pairs GROUP BY dist ORDER BY dist
    """,
    # Exact top-k per group: the oracle USES the per-group window the
    # engine-side salted tournament exists to avoid — fine in DuckDB
    # at test scale, the single-reducer killer in Spark at 100 TB
    "top_docs_per_source": """
        WITH toks AS (
            SELECT source, doc_id,
                   len(list_filter(string_split_regex(text, '[^a-zA-Z]+'),
                                   t -> length(t) > 0)) AS n_tokens
            FROM documents),
        ranked AS (
            SELECT source, doc_id, n_tokens,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_tokens DESC, doc_id)
                       AS rank
            FROM toks)
        SELECT source, rank, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
        FROM ranked WHERE rank <= 5 ORDER BY source, rank
    """,
    # Cohort retention: ISO-Monday week truncation in both engines
    # (DuckDB's week-trunc yields DATE — cast back to TIMESTAMP to
    # match Spark); week offsets are exact integer day-diffs / 7;
    # n_active_days sharpens the value-hash beyond the saturated
    # all-users-active fixture retention
    "user_retention": """
        WITH act AS (
            SELECT DISTINCT user_id,
                   date_trunc('week', ts)::TIMESTAMP AS week,
                   date_trunc('day', ts)::TIMESTAMP AS day
            FROM events),
        coh AS (
            SELECT user_id, min(week) AS cohort_week
            FROM act GROUP BY user_id),
        j AS (
            SELECT a.user_id, a.day, c.cohort_week,
                   date_diff('day', c.cohort_week, a.week) // 7
                       AS week_offset
            FROM act a JOIN coh c USING (user_id))
        SELECT cohort_week, week_offset,
               count(DISTINCT user_id) AS n_users,
               count(DISTINCT (user_id, day)) AS n_active_days
        FROM j GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "near_dup_clusters": _clusters_oracle_sql(),
    # ANN with literal models (seeded hyperplanes / lowest-vec_id
    # centroids): deterministic, so fully value-checked — buckets, cell
    # assignment, candidate sets, and ranks all reproduced in SQL.
    "ann_lsh": _ann_lsh_oracle_sql(),
    "ann_ivf": _ann_ivf_oracle_sql(),
    "ann_ivf_filtered": _ann_ivf_oracle_sql(
        corpus_where="e.label IN (0, 2, 4, 6, 8)"),
    "ann_ivf_trained": _ann_ivf_trained_oracle_sql(),
    # the persisted index probe is bit-identical to the trained tier by
    # construction (same sample, training, argmax; doubles round-trip
    # parquet exactly) — the oracle replays the same build
    "ann_index_probe": _ann_ivf_trained_oracle_sql(),
    "semantic_dedup": _semantic_dedup_oracle_sql(),
    # ExactSubstr-style duplicated spans: 20-char gram hashes (same
    # portable md5 pattern as rolling_fingerprint), duplicated = present
    # in >= 2 distinct docs. NOTE DuckDB range() is end-EXCLUSIVE vs
    # Spark sequence() inclusive, hence length - 18 here vs
    # sequence(1, length - 19) there.
    "dup_spans": """
        WITH pairs AS (
            SELECT doc_id, source,
                   unnest(list_distinct(list_transform(
                       range(1, length(text) - 18),
                       i -> ('0x' || substr(md5(substr(text, i, 20)), 1, 15))
                            ::BIGINT))) AS h
            FROM documents WHERE length(text) >= 20),
        dup AS (SELECT h FROM pairs GROUP BY h HAVING count(*) >= 2),
        tot AS (SELECT source, count(DISTINCT doc_id) AS n_docs,
                       count(*) AS total_grams
                FROM pairs GROUP BY source),
        dupped AS (SELECT source, count(*) AS dup_grams,
                          count(DISTINCT doc_id) AS docs_with_dup
                   FROM pairs WHERE h IN (SELECT h FROM dup)
                   GROUP BY source)
        SELECT t.source, t.n_docs, t.total_grams,
               COALESCE(d.dup_grams, 0) AS dup_grams,
               COALESCE(d.docs_with_dup, 0) AS docs_with_dup,
               round(COALESCE(d.dup_grams, 0) / t.total_grams::DOUBLE, 4)
                   AS dup_frac
        FROM tot t LEFT JOIN dupped d USING (source) ORDER BY t.source
    """,
    # C4-style corpus-level exact line dedup: first (doc_id, pos)
    # occurrence of each eligible (>= 30 chars) line wins; winner found
    # by the same two-min rule the Spark side uses (skew-safe there,
    # exact here). chr(10) == the Spark split's newline.
    "line_dedup": """
        WITH parts AS (SELECT doc_id, source,
                              string_split(text, chr(10)) AS ls
                       FROM documents),
        lines AS (SELECT doc_id, source, i - 1 AS pos, ls[i] AS line,
                         length(ls[i]) AS len
                  FROM (SELECT doc_id, source, ls,
                               unnest(range(1, len(ls) + 1)) AS i
                        FROM parts)),
        elig AS (SELECT *,
                        ('0x' || substr(md5(line), 1, 15))::BIGINT AS h
                 FROM lines WHERE len >= 30),
        d0 AS (SELECT h, min(doc_id) AS d0 FROM elig GROUP BY h),
        p0 AS (SELECT e.h, d.d0, min(e.pos) AS p0
               FROM elig e JOIN d0 d ON e.h = d.h AND e.doc_id = d.d0
               GROUP BY e.h, d.d0),
        flagged AS (SELECT e.source, e.doc_id, e.len,
                           CASE WHEN e.doc_id != p.d0 OR e.pos != p.p0
                                THEN 1 ELSE 0 END AS dup
                    FROM elig e JOIN p0 p ON e.h = p.h),
        tot AS (SELECT source, count(*) AS n_lines,
                       count(DISTINCT doc_id) AS n_docs
                FROM lines GROUP BY source),
        -- per-doc first: a fully-cleared doc (every line a removed
        -- dup) loses one newline fewer than lines removed, matching
        -- dedup_lines_across_corpus exactly
        nl AS (SELECT doc_id, len(ls) AS n_lines_doc FROM parts),
        per_doc AS (SELECT f.source, f.doc_id, nl.n_lines_doc,
                           count(*) AS n_elig, sum(f.dup) AS n_dup,
                           sum(CASE WHEN f.dup = 1 THEN f.len + 1
                                    ELSE 0 END) AS chars
                    FROM flagged f JOIN nl ON f.doc_id = nl.doc_id
                    GROUP BY f.source, f.doc_id, nl.n_lines_doc),
        agg AS (SELECT source, CAST(sum(n_elig) AS BIGINT) AS n_eligible,
                       CAST(sum(n_dup) AS BIGINT) AS n_dup_lines,
                       CAST(sum(chars)
                            - sum(CASE WHEN n_dup = n_lines_doc
                                       THEN 1 ELSE 0 END) AS BIGINT)
                           AS chars_removable,
                       CAST(sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS docs_with_dup
                FROM per_doc GROUP BY source)
        SELECT t.source, t.n_docs, t.n_lines,
               COALESCE(a.n_eligible, 0) AS n_eligible,
               COALESCE(a.n_dup_lines, 0) AS n_dup_lines,
               COALESCE(a.chars_removable, 0) AS chars_removable,
               COALESCE(a.docs_with_dup, 0) AS docs_with_dup
        FROM tot t LEFT JOIN agg a USING (source) ORDER BY t.source
    """,
    # Exact duplicated-character coverage: interval-union sweep over the
    # sorted duplicated-gram starts, with the (covered, last_end) state
    # packed into one BIGINT (covered << 31 | last_end — 31-bit fields
    # hold any int32-length string both engines can represent) so the
    # IDENTICAL integer fold runs as Spark aggregate() and DuckDB
    # list_reduce() (whose accumulator must match the element type).
    "dup_span_coverage": """
        WITH pos AS (
            SELECT doc_id, source, length(text) AS n_chars,
                   unnest(range(1, length(text) - 18)) AS i
            FROM documents WHERE length(text) >= 20),
        g AS (
            SELECT p.doc_id, p.source, p.n_chars, p.i - 1 AS pos,
                   ('0x' || substr(md5(substr(d.text, p.i, 20)), 1, 15))
                       ::BIGINT AS h
            FROM pos p JOIN documents d ON p.doc_id = d.doc_id),
        dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM g)
                GROUP BY h HAVING count(*) >= 2),
        starts AS (SELECT doc_id, source, n_chars,
                          list_sort(list(pos)) AS ss
                   FROM g WHERE h IN (SELECT h FROM dup)
                   GROUP BY doc_id, source, n_chars),
        cov AS (SELECT doc_id, source, n_chars,
                       list_reduce(list_prepend(0, ss),
                           (acc, s) -> (((acc >> 31)
                               + greatest(0, s + 20
                                          - greatest(acc & 2147483647, s)))
                               << 31)
                               | greatest(acc & 2147483647, s + 20)) >> 31
                           AS dup_chars
                FROM starts),
        tot AS (SELECT source, count(*) AS n_docs,
                       sum(length(text)) AS total_chars
                FROM documents WHERE length(text) >= 20 GROUP BY source),
        d AS (SELECT source, sum(dup_chars) AS dup_chars,
                     count(*) AS docs_with_dup
              FROM cov GROUP BY source)
        SELECT t.source, t.n_docs, t.total_chars,
               COALESCE(d.dup_chars, 0) AS dup_chars,
               COALESCE(d.docs_with_dup, 0) AS docs_with_dup,
               round(COALESCE(d.dup_chars, 0) / t.total_chars::DOUBLE, 4)
                   AS dup_char_frac
        FROM tot t LEFT JOIN d USING (source) ORDER BY t.source
    """,
    # Corpus-trained unigram LM surprisal (CCNet-style). ln() is not
    # guaranteed correctly-rounded across libms, but per-value ulp
    # differences (~1e-16) sit measure-zero-close to the 4-decimal
    # rounding boundaries; the per-source average uses the scaled-
    # integer pattern so summation order cannot move it.
    "lm_quality": """
        WITH words AS (
            SELECT doc_id, source, lower(w) AS w FROM (
                SELECT doc_id, source,
                       unnest(list_filter(
                           string_split_regex(text, '[^a-zA-Z]+'),
                           t -> length(t) > 0)) AS w
                FROM documents)),
        counts AS (SELECT w, count(*) AS c FROM words GROUP BY w),
        tot AS (SELECT sum(c) AS n_total, count(*) AS vocab FROM counts),
        scored AS (
            SELECT doc_id, source,
                   -ln((c + 0.5) / (n_total + 0.5 * (vocab + 1)))
                       AS nll_tok
            FROM words JOIN counts USING (w), tot),
        per_doc AS (
            SELECT doc_id, source, round(avg(nll_tok), 4) AS nll
            FROM scored GROUP BY doc_id, source)
        SELECT source, count(*) AS n_docs,
               round(sum(CAST(round(nll * 10000) AS BIGINT))
                     / (count(*) * 10000.0), 4) AS avg_nll,
               round(min(nll), 4) AS min_nll,
               round(max(nll), 4) AS max_nll
        FROM per_doc GROUP BY source ORDER BY source
    """,
    # Count-pruned unigram LM (min_count=500): the model is the Zipf
    # head only; pruned/unseen words score at the c = 0 smoothing floor
    # via the LEFT JOIN — totals and vocab are of the KEPT table, the
    # exact semantics of unigram_doc_nll(min_count=500).
    "lm_quality_pruned": """
        WITH words AS (
            SELECT doc_id, source, lower(w) AS w FROM (
                SELECT doc_id, source,
                       unnest(list_filter(
                           string_split_regex(text, '[^a-zA-Z]+'),
                           t -> length(t) > 0)) AS w
                FROM documents)),
        counts AS (SELECT w, count(*) AS c FROM words GROUP BY w
                   HAVING count(*) >= 500),
        tot AS (SELECT sum(c) AS n_total, count(*) AS vocab FROM counts),
        scored AS (
            SELECT doc_id, source,
                   -ln((COALESCE(c, 0) + 0.5)
                       / (n_total + 0.5 * (vocab + 1))) AS nll_tok
            FROM words LEFT JOIN counts USING (w), tot),
        per_doc AS (
            SELECT doc_id, source, round(avg(nll_tok), 4) AS nll
            FROM scored GROUP BY doc_id, source)
        SELECT source, count(*) AS n_docs,
               round(sum(CAST(round(nll * 10000) AS BIGINT))
                     / (count(*) * 10000.0), 4) AS avg_nll,
               round(min(nll), 4) AS min_nll,
               round(max(nll), 4) AS max_nll
        FROM per_doc GROUP BY source ORDER BY source
    """,
    # Interpolated-bigram surprisal (same rounding contract as
    # lm_quality; DuckDB's list_zip pairs adjacent tokens).
    "lm_bigram_quality": """
        WITH toks AS (
            SELECT doc_id, source,
                   list_transform(list_filter(
                       string_split_regex(text, '[^a-zA-Z]+'),
                       t -> length(t) > 0), t -> lower(t)) AS tk
            FROM documents),
        base AS (SELECT * FROM toks WHERE len(tk) >= 2),
        bi AS (
            SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM (
                SELECT doc_id, source,
                       unnest(list_transform(range(1, len(tk)),
                           i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS b
                FROM base)),
        words AS (SELECT unnest(tk) AS w FROM base),
        uni AS (SELECT w, count(*) AS c FROM words GROUP BY w),
        tot AS (SELECT sum(c) AS n_total, count(*) AS vocab FROM uni),
        bic AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
        scored AS (
            SELECT bi.doc_id, bi.source,
                   -ln(0.7 * (c12 + 0.5) / (u1.c + 0.5 * (vocab + 1))
                       + 0.3 * (u2.c + 0.5)
                         / (n_total + 0.5 * (vocab + 1))) AS nll_tok
            FROM bi
            JOIN bic ON bi.w1 = bic.w1 AND bi.w2 = bic.w2
            JOIN uni u1 ON bi.w1 = u1.w
            JOIN uni u2 ON bi.w2 = u2.w, tot),
        per_doc AS (
            SELECT doc_id, source, round(avg(nll_tok), 4) AS nll
            FROM scored GROUP BY doc_id, source)
        SELECT source, count(*) AS n_docs,
               round(sum(CAST(round(nll * 10000) AS BIGINT))
                     / (count(*) * 10000.0), 4) AS avg_nll,
               round(min(nll), 4) AS min_nll,
               round(max(nll), 4) AS max_nll
        FROM per_doc GROUP BY source ORDER BY source
    """,
    # DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    # features (the portable md5 bucket), two Laplace-smoothed (+0.5)
    # 1024-bucket models (target = the doc_id % 97 eval slice, raw =
    # the rest), per-doc weight = summed log ratio over the doc's
    # feature occurrences. Same rounding contract as lm_quality:
    # per-doc round-4, integer-scaled rollup average.
    "dsir_importance": """
        WITH tk AS (
            SELECT doc_id, source,
                   list_transform(list_filter(
                       string_split_regex(text, '[^a-zA-Z]+'),
                       t -> length(t) > 0), t -> lower(t)) AS tk
            FROM documents),
        feats AS (
            SELECT doc_id, source, doc_id % 97 = 0 AS is_t,
                   unnest(tk) AS f
            FROM tk
            UNION ALL
            SELECT doc_id, source, doc_id % 97 = 0 AS is_t,
                   unnest(list_transform(range(1, len(tk)),
                                         i -> tk[i] || ' ' || tk[i + 1]))
                       AS f
            FROM tk WHERE len(tk) >= 2),
        bk AS (
            SELECT doc_id, source, is_t,
                   ('0x' || substring(md5(f), 1, 8))::BIGINT % 1024 AS b
            FROM feats),
        counts AS (
            SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
                   sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
            FROM bk GROUP BY b),
        tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM counts),
        model AS (
            SELECT b, ln((ct + 0.5) / (nt + 512.0))
                      - ln((cr + 0.5) / (nr + 512.0)) AS lr
            FROM counts, tot),
        -- EVERY pool doc scores: zero-feature docs (no letter runs)
        -- carry no evidence and take the neutral 0.0 via the LEFT JOIN
        scored_f AS (
            SELECT doc_id, source, round(sum(lr), 4) AS w
            FROM bk JOIN model USING (b) WHERE NOT is_t
            GROUP BY doc_id, source),
        scored AS (
            SELECT p.doc_id, p.source, COALESCE(s.w, 0.0) AS w
            FROM (SELECT doc_id, source FROM documents
                  WHERE doc_id % 97 <> 0) p
            LEFT JOIN scored_f s
              ON p.doc_id = s.doc_id AND p.source = s.source)
        SELECT source, count(*) AS n_docs,
               round(sum(CAST(round(w * 10000) AS BIGINT))
                     / (count(*) * 10000.0), 4) AS avg_w,
               CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_preferred,
               round(max(w), 4) AS max_w,
               round(min(w), 4) AS min_w
        FROM scored GROUP BY source ORDER BY source
    """,
    # Materialized training epoch from the temperature mix: quotas are
    # exact integer/sqrt arithmetic (see source_mix), selection is the
    # md5(doc_id)-order permutation (see stratified_sample) — the
    # checksum verifies the SAME documents were chosen.
    "epoch_sample": """
        WITH c AS (SELECT source, count(*) AS n_docs
                   FROM documents GROUP BY source),
        s AS (SELECT source, n_docs,
                     CAST(round(sqrt(n_docs) * 10000) AS BIGINT) AS w_scaled
              FROM c),
        t AS (SELECT sum(w_scaled) AS tot_w, sum(n_docs) AS tot_n FROM s),
        q AS (SELECT source, n_docs,
                     least(n_docs,
                           CAST(round(tot_n * 0.5 * w_scaled
                                      / tot_w::DOUBLE) AS BIGINT)) AS quota
              FROM s, t),
        ranked AS (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                               doc_id) AS rn
            FROM documents)
        SELECT r.source, count(*) AS n_docs, min(q.quota) AS quota,
               CAST(sum(CASE WHEN r.rn <= q.quota THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_sampled,
               CAST(sum(CASE WHEN r.rn <= q.quota THEN r.doc_id END)
                   AS BIGINT) AS sampled_id_sum
        FROM ranked r JOIN q ON r.source = q.source
        GROUP BY r.source ORDER BY r.source
    """,
    # CCNet head/middle/tail perplexity tertiles: per-doc NLL (the
    # lm_quality chain, already hash-exact cross-engine) scaled to
    # integers, histogram + running-count cutoffs at ceil(N/3) and
    # ceil(2N/3) — fully integer threshold selection, so ties bucket
    # identically in both engines.
    "ccnet_buckets": """
        WITH words AS (
            SELECT doc_id, source, lower(w) AS w FROM (
                SELECT doc_id, source,
                       unnest(list_filter(
                           string_split_regex(text, '[^a-zA-Z]+'),
                           t -> length(t) > 0)) AS w
                FROM documents)),
        counts AS (SELECT w, count(*) AS c FROM words GROUP BY w),
        tot AS (SELECT sum(c) AS n_total, count(*) AS vocab FROM counts),
        scored AS (
            SELECT doc_id, source,
                   -ln((c + 0.5) / (n_total + 0.5 * (vocab + 1)))
                       AS nll_tok
            FROM words JOIN counts USING (w), tot),
        per_doc AS (
            SELECT doc_id, source, round(avg(nll_tok), 4) AS nll
            FROM scored GROUP BY doc_id, source),
        sq AS (SELECT doc_id, source,
                      CAST(round(nll * 10000) AS BIGINT) AS q
               FROM per_doc),
        hist AS (SELECT q, count(*) AS c FROM sq GROUP BY q),
        cum AS (SELECT q, sum(c) OVER (ORDER BY q
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum FROM hist),
        nn AS (SELECT count(*) AS n FROM sq),
        th1 AS (SELECT min(q) AS t1 FROM cum, nn
                WHERE cum >= (n + 2) // 3),
        th2 AS (SELECT min(q) AS t2 FROM cum, nn
                WHERE cum >= (2 * n + 2) // 3),
        b AS (SELECT s.source, s.doc_id,
                     CASE WHEN s.q <= t1 THEN 'head'
                          WHEN s.q <= t2 THEN 'middle'
                          ELSE 'tail' END AS bucket
              FROM sq s, th1, th2)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_head,
               CAST(sum(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_middle,
               CAST(sum(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_tail,
               CAST(sum(CASE WHEN bucket = 'head' THEN doc_id END)
                   AS BIGINT) AS head_id_sum,
               CAST(sum(CASE WHEN bucket = 'tail' THEN doc_id END)
                   AS BIGINT) AS tail_id_sum
        FROM b GROUP BY source ORDER BY source
    """,
    # Content-keyed holdout split: the md5 is over the TEXT (null → ''),
    # so byte-identical docs share a split by construction; integer
    # percent buckets keep the boundaries float-free in both engines.
    "dataset_split": """
        WITH a AS (
            SELECT doc_id, source,
                   (('0x' || substr(md5(coalesce(text, '')), 1, 15))
                       ::BIGINT) % 100 AS b,
                   length(coalesce(text, '')) AS nc
            FROM documents)
        SELECT source,
               CASE WHEN b < 1 THEN 'test'
                    WHEN b < 2 THEN 'val'
                    ELSE 'train' END AS split,
               count(*) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_sum,
               CAST(sum(nc) AS BIGINT) AS char_sum
        FROM a GROUP BY source, split ORDER BY source, split
    """,
    # Deterministic training shards: md5-derived shard + md5-order lead
    # doc; h is 15 hex digits (< 2^60, nonnegative) so % == pmod.
    "training_shards": """
        WITH a AS (
            SELECT doc_id,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       ::BIGINT AS h
            FROM documents)
        SELECT h % 64 AS shard, count(*) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_sum,
               arg_min(doc_id, h) AS lead_doc_id
        FROM a GROUP BY shard ORDER BY shard
    """,
    # Temperature mixing at alpha = 0.5: sqrt is IEEE-exact in both
    # engines (pow is not, across libms), and the 4-decimal scaled
    # integer makes the normalizing sum exact/order-independent.
    "source_mix": """
        WITH c AS (SELECT source, count(*) AS n_docs
                   FROM documents GROUP BY source),
        s AS (SELECT source, n_docs,
                     CAST(round(sqrt(n_docs) * 10000) AS BIGINT) AS w_scaled
              FROM c),
        t AS (SELECT sum(w_scaled) AS tot_w, sum(n_docs) AS tot_n FROM s)
        SELECT source, n_docs,
               round(w_scaled / tot_w::DOUBLE, 6) AS weight,
               round((w_scaled / tot_w::DOUBLE)
                     / (n_docs / tot_n::DOUBLE), 4) AS boost
        FROM s, t ORDER BY source
    """,
    # approx_stats: intentionally no oracle (HLL/t-digest sketch
    # internals are engine-specific) → rows-only check, as SURVEY.md
    # §2d notes.
}
