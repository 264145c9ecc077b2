"""End-to-end training-corpus construction — the composition every
individual operator in this engine exists to serve:

    raw documents
      → prior-snapshot Bloom screen    (optional; scan-side plan-literal
                                        bitmap — drops re-ingested docs)
      → near-dup screen vs prior       (optional; batch-sized probe of
                                        the archive's band index — drops
                                        lightly-edited re-ingests)
      → PII redaction                  (scan-side regex)
      → quality gates                  (length/alpha + Gopher repetition)
      → exact + near dedup             (LSH clusters → one survivor each)
      → benchmark decontamination      (broadcast n-gram overlap)
      → long-document chunking         (optional; over-budget docs split
                                        into half-budget windows)
      → sequence packing               (sharded FFD into token bins)
      → curated parquet + funnel report

Stage order is the cost order a 100 TB run wants: cheap scan-side
filters first shrink the corpus before the shuffling stages (dedup)
and the Python stage (packing) see it. Every stage is one of the
oracle-/invariant-checked operators; this module only composes them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import (apply_near_dedup,
                              contamination_shared_counts,
                              dedup_lines_across_corpus, mask_dup_spans)
from .operators.html_extract import extract_container
from .operators.packing import pack_sequences
from .operators.quality_model import gate_filter
from .operators.textstats import (MIN_CHARS, ccnet_doc_buckets,
                                  pii_redact_text)
from .sources.registry import load_table

# chunk_long synthetic-id namespace: a long document d's chunk c gets
# doc_id -(d*CHUNK_ID_MULT + c + 1) — negative, disjoint from every
# real id, and invertible (orig doc = (-id - 1) div CHUNK_ID_MULT, the
# mapping refresh_training_corpus uses to retract a changed/removed
# long doc's chunk rows along with it)
CHUNK_ID_MULT = 1 << 24


def build_training_corpus(spark: SparkSession, sf_dir: str,
                          out_path: str | None = None,
                          max_tokens: int = 256,
                          min_shared_contamination: int = 3,
                          docs: DataFrame | None = None,
                          mask_spans: bool = False,
                          span_k: int = 20,
                          span_sample_mod: int | None = None,
                          lm_filter: bool = False,
                          dedup_lines: bool = False,
                          dsir_frac: float | None = None,
                          prior_docs: DataFrame | None = None,
                          near_prior: bool = False,
                          chunk_long: bool = False,
                          container: str | None = None,
                          blocklist: list[str] | None = None,
                          robots: bool = False,
                          fix_encoding: bool = False,
                          eval_docs: DataFrame | None = None,
                          tokenized_shards_dir: str | None = None,
                          tokenizer_merges: int = 50
                          ) -> tuple[DataFrame, DataFrame]:
    """Run the full curation funnel over ``sf_dir``'s documents table
    (or an explicit ``docs`` frame — the hook fault-injection and
    streaming-source tests use).

    Returns ``(curated, funnel)``: the curated corpus frame
    ``(doc_id, source, lang, text, bin_id)`` (also written to
    ``out_path`` if given, partitioned by source) and a small funnel
    report frame ``(stage, n_docs)`` ordered by stage.

    ``out_path`` scheme dispatch (the reference's DFS-flag shape,
    ``cmd/main.go:25`` + ``fsclient.go:34-45``): bare/"file" paths — and
    any scheme Hadoop itself handles — write partitioned parquet through
    Spark's writer; a scheme registered in the *Python* fs registry
    (``sources/fs.py``) routes through the kvtext sink's rename-on-commit
    protocol instead (key = doc_id, value = JSON row), so the pipeline's
    output commit is scheme-agnostic end to end."""
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    stages: list[tuple[str, int]] = [("0_raw", docs.count())]

    # 0a0 (optional). Domain deny list: the crawl-hygiene gate runs
    # FIRST — a plan-literal array_contains scan expression (no join,
    # no shuffle, operators/urls.py), so blocked domains never cost a
    # single downstream byte of extraction, hashing, or modeling.
    if blocklist is not None:
        from .operators.urls import blocklist_filter
        docs = blocklist_filter(docs, blocklist).drop("canon", "domain")
        stages.append(("0a0_blocklisted", docs.count()))

    # 0a0b (optional). robots.txt politeness gate (RFC 9309
    # longest-match, operators/urls.py): URLs the domain's robots
    # rules disallow are dropped before extraction — scan-side verdict
    # fold against a broadcast domain-sized rules frame, no corpus
    # shuffle. Runs after the (cheaper, plan-literal) deny list.
    if robots:
        from .operators.urls import robots_filter_docs
        docs = robots_filter_docs(docs)
        stages.append(("0a0b_robots_allowed", docs.count()))

    # 0a (optional). Container → text extraction, the crawl front door
    # (operators/html_extract.py:extract_container): HTML (tag strip +
    # entity unescape + line-frequency boilerplate removal), PDF
    # (content-stream text + the same boilerplate machinery) or WARC
    # (record split, header parse, HTTP strip incl. chunked transfer
    # decoding, then the same machinery) runs BEFORE any gate, hash,
    # or model sees a byte, so every downstream stage operates on
    # prose, not markup. localCheckpoint: the extraction embeds a
    # broadcast-subquery (boilerplate set) — lineage-depth discipline
    # like the other optional stages.
    if container is not None:
        docs = extract_container(docs, container).localCheckpoint()
        stages.append((f"0a_{container}_extracted", docs.count()))

    # 0a'' (optional). Encoding repair (operators/textfix.py): the
    # ftfy pass — the utf-8-as-cp1252 mojibake inverse map + newline
    # normalization + C0 control strip — runs right after extraction
    # and BEFORE the first hashing stage (the prior screens below!),
    # so prior-screen keys, dedup keys, shingles, and models all see
    # clean text: a corrupted re-ingest of yesterday's page must hash
    # like yesterday's page to be dropped (r11 review finding — placed
    # after the screens, corrupted re-ingests sailed through). Pure
    # scan-side projection; drops nothing, so no funnel row.
    if fix_encoding:
        from .operators.textfix import repair_mojibake
        docs = docs.withColumn("text", repair_mojibake(F.col("text")))

    # 0b (optional). Prior-snapshot Bloom screen: drop docs already
    # ingested in an earlier corpus build BEFORE any other stage runs —
    # the bitmap is a plan literal, so this is the cheapest possible
    # first gate (pure scan-side expression, no join, no shuffle) and
    # at 100 TB it spares every downstream stage the re-ingested share.
    if prior_docs is not None:
        from .operators.dedup import bloom_screen
        docs = bloom_screen(docs, prior_docs)
        stages.append(("0b_prior_screened", docs.count()))

    # 0c (optional). Near-dup screen vs the prior archive: the Bloom
    # gate above catches byte-identical re-ingests; this catches
    # lightly-edited ones with ONE batch-sized bucket join against the
    # archive's band index (near_dedup_vs_prior — the archive corpus is
    # never re-scanned). localCheckpoint for the same lineage-depth
    # reason as the later optional stages.
    if near_prior:
        if prior_docs is None:
            raise ValueError("near_prior requires prior_docs")
        from .operators.dedup import screen_vs_prior
        docs = screen_vs_prior(docs, prior_docs).localCheckpoint()
        stages.append(("0c_near_prior_screened", docs.count()))

    # 1. PII redaction (doesn't drop docs; changes text BEFORE hashing
    # so dedup/contamination operate on what would actually be trained)
    red = pii_redact_text(docs)

    # 2. quality gates: curation thresholds + repetition flags
    # (quality_model.gate_filter, the streaming ingest's gate too): one
    # scan-side filter, no shuffle.
    # Each stage is persisted: the funnel counts AND every downstream
    # stage re-reference it, and without a materialization Spark would
    # re-run the full upstream chain per reference (measured 3.1x decade
    # growth from exactly that; 2.0x with persists). A production run
    # would checkpoint stage outputs to the lake instead.
    gated = gate_filter(red).persist()
    stages.append(("1_quality_gated", gated.count()))

    # 2b (optional). CCNet LM gate: train the corpus unigram LM on the
    # gate SURVIVORS (scoring raw spam would drag the model toward it),
    # split into perplexity tertiles with the exact histogram-cutoff
    # pass (ccnet_doc_buckets — no corpus-sized sort), and drop the
    # TAIL — CCNet's keep-head+middle recipe (Wenzek et al. 2020).
    if lm_filter:
        pre_lm = gated
        tail = (ccnet_doc_buckets(gated)
                .filter(F.col("bucket") == "tail").select("doc_id"))
        # localCheckpoint, not persist: the LM gate's plan embeds the
        # ccnet threshold subqueries; persist() caches DATA but every
        # downstream ACTION still re-ANALYZES the whole tree, and with
        # the later optional stages stacked on top that analysis cost
        # compounds per action (measured: the downstream dedup stages
        # went 4 s -> 30+ s from lineage depth alone). Checkpointing
        # truncates the lineage — the production analog is writing the
        # stage to the lake and reading it back.
        gated = gated.join(tail, "doc_id", "left_anti").localCheckpoint()
        stages.append(("1b_lm_gated", gated.count()))
        pre_lm.unpersist()

    # 1c (optional). C4-style corpus-level line dedup: cut repeated
    # boilerplate LINES before any hashing stage sees them — removing
    # shared banners here both shrinks the corpus and sharpens near-dup
    # detection (two docs that only shared boilerplate stop colliding).
    # Re-gate on length afterwards, same contract as span masking.
    if dedup_lines:
        pre_ld = gated
        gated = (dedup_lines_across_corpus(gated)
                 .filter(F.length("text") >= MIN_CHARS)
                 .drop("removed_chars").localCheckpoint())
        stages.append(("1c_line_deduped", gated.count()))
        pre_ld.unpersist()

    # 1d (optional). DSIR selection: keep the top-``dsir_frac`` of the
    # gated pool by hashed-feature importance ratio vs the target
    # slice (Xie et al. 2023) — the "train on what looks like the
    # recipe" dial, run before the shuffling stages so they see only
    # the selected corpus. Exact histogram-cutoff threshold (the ccnet
    # shape): no corpus-sized sort. Target-slice docs are the recipe,
    # not candidates — the semi join drops them from the training
    # corpus (they are the eval-adjacent slice decontamination exists
    # to protect).
    if dsir_frac is not None:
        from .operators.dsir import dsir_select
        pre_ds = gated
        keep = dsir_select(gated, keep_frac=dsir_frac).select("doc_id")
        gated = (gated.join(keep, "doc_id", "left_semi")
                 .localCheckpoint())
        stages.append(("1d_dsir_selected", gated.count()))
        pre_ds.unpersist()

    # 3. dedup: exact dups have estimated Jaccard 1.0, so the LSH
    # cluster pass subsumes the exact pass — one survivor per component
    deduped = apply_near_dedup(gated).persist()
    stages.append(("2_deduped", deduped.count()))

    # 3b (optional). ExactSubstr span removal: cut cross-document
    # duplicated spans out of the SURVIVORS' text (whole-doc dedup
    # already removed near-identical docs; this removes the boilerplate
    # shared between docs that are otherwise distinct), then re-apply
    # the length gate — a doc that was mostly boilerplate may no longer
    # carry enough text to train on.
    #
    # The 100 TB knobs ride through: ``span_sample_mod=p`` switches the
    # gram pipeline to content-defined sampling (keep grams with
    # h % p == 0 — every COPY of a span samples identically, so
    # detection survives), dividing the span stage's shuffle volume by
    # p at the cost of a bounded UNDERCOUNT: a duplicated span of
    # length L >= k is missed entirely with probability
    # ~(1 - 1/p)^(L - k + 1), and a detected span's masked region can
    # start/end up to the sampling gap inside the true span — strictly
    # fewer characters removed, never wrong ones (mask_dup_spans cuts
    # only grams that verifiably repeat). A production run pairs p with
    # a wider ``span_k`` (boilerplate runs are long; k=40..64 at p=8..32
    # keeps recall on the spans worth cutting while pricing out noise).
    if mask_spans:
        pre_mask = deduped
        deduped = (mask_dup_spans(deduped, k=span_k,
                                  sample_mod=span_sample_mod)
                   .filter(F.length("text") >= MIN_CHARS)
                   .drop("removed_chars").localCheckpoint())
        stages.append(("2b_span_masked", deduped.count()))
        # the masked frame is materialized by the count above, so the
        # pre-mask corpus cache can be released now instead of leaking
        # for the rest of the session
        pre_mask.unpersist()

    # 4. decontamination — vs a caller-supplied benchmark frame (the
    # production form: corpus-independent, so incremental refreshes
    # drop exactly what a full rebuild drops) or, by default, the
    # fixture's deterministic eval slice
    contaminated = (contamination_shared_counts(deduped,
                                                eval_docs=eval_docs)
                    .filter(F.col("n_shared") >= min_shared_contamination)
                    .select("doc_id"))
    clean = deduped.join(contaminated, "doc_id", "left_anti").persist()
    stages.append(("3_decontaminated", clean.count()))

    # 4b (optional). Long-document chunking: split documents whose
    # token count exceeds the packing budget into windows BEFORE the
    # packer sees them (packing.py deliberately gives oversized docs a
    # bin of their own rather than truncating; this stage makes that
    # case disappear). Chunk width is half the budget in ASCII-token
    # units — the margin absorbs the difference between the chunker's
    # word tokens and the packer's finer bpe_ish count. Chunk rows get
    # NEGATIVE synthetic ids (-(doc_id·2²⁴ + chunk_id + 1)) — a
    # namespace disjoint from every real nonnegative doc_id, and
    # collision-free by a LOUD guard: chunk_id must stay below the
    # multiplier (2²⁴ chunks ≈ 2.1e9 tokens per document at the
    # default max_tokens=256) or distinct chunks from different
    # documents would silently merge in the downstream packing join.
    # Note the funnel count may INCREASE at this stage (one long doc →
    # several chunks); that is the point.
    if chunk_long:
        from .operators.chunking import chunk_documents
        from .operators.packing import bpe_ish_token_count
        n_tok = F.coalesce(bpe_ish_token_count(F.col("text")), F.lit(0))
        long_docs = clean.filter(n_tok > max_tokens)
        short_docs = clean.join(long_docs.select("doc_id"),
                                "doc_id", "left_anti")
        synth_id = F.when(
            F.col("chunk_id") < CHUNK_ID_MULT,
            -(F.col("doc_id") * CHUNK_ID_MULT + F.col("chunk_id") + 1)
        ).otherwise(F.raise_error(F.concat(
            F.lit("chunk_long: document "), F.col("doc_id"),
            F.lit(f" produced >= {CHUNK_ID_MULT} chunks — synthetic "
                  "ids would collide across documents"))))
        chunks = (chunk_documents(long_docs,
                                  chunk_tokens=max(1, max_tokens // 2),
                                  overlap=0)
                  .join(long_docs.select("doc_id", "lang"), "doc_id")
                  .select(
                      synth_id.alias("doc_id"),
                      "source", "lang", "text"))
        pre_chunk = clean
        clean = (short_docs.select("doc_id", "source", "lang", "text")
                 .unionByName(chunks).localCheckpoint())
        stages.append(("3b_long_docs_chunked", clean.count()))
        pre_chunk.unpersist()

    # 5. sequence packing
    bins = pack_sequences(clean, max_tokens=max_tokens)
    curated = clean.select("doc_id", "source", "lang", "text").join(
        bins.select("doc_id", "bin_id"), "doc_id")
    stages.append(("4_packed", curated.count()))

    # 5b (optional). Tokenized training shards (r14): train the BPE
    # tokenizer on the CURATED corpus, apply it corpus-wide to token
    # IDS, re-pack the id sequences on REAL token counts (the
    # heuristic bins above budget pre-tokenizer), and deliver through
    # the tokenized WebDataset sink — the artifact a pretraining
    # loader mounts directly.
    if tokenized_shards_dir is not None:
        from .operators.bpe import bpe_encode_ids, train_bpe
        from .operators.packing import pack_by_counts
        from .sources.wds import write_tokenized_webdataset
        merges = train_bpe(clean, tokenizer_merges)
        # the Arrow-batched encode is the funnel's most expensive
        # Python stage and feeds THREE consumers (the pack join, the
        # sink's bin count, the shard write) — checkpoint it once
        # (review r14: un-checkpointed it re-executed ~5-6×)
        ids = bpe_encode_ids(clean, merges).localCheckpoint()
        tbins = pack_by_counts(
            ids.select("doc_id", F.col("n_tokens").alias("n_tok")),
            max_tokens=max_tokens)
        tok = ids.join(tbins.select("doc_id", "bin_id"), "doc_id")
        mf = write_tokenized_webdataset(
            tok.select("doc_id", "bin_id", "token_ids"),
            tokenized_shards_dir)
        # the stage count comes from the manifest already collected
        # for the sweep — no extra corpus pass
        n_tok = sum(int(r["n_docs"]) for r in
                    mf.select("n_docs").collect())
        stages.append(("4b_tokenized_shards", n_tok))

    if out_path is not None:
        from .sources.fs import split_scheme
        scheme, _ = split_scheme(out_path)
        if scheme in ("", "file"):
            (curated.write.mode("overwrite")
             .partitionBy("source").parquet(out_path))
        else:
            # custom registered scheme: kvtext sink (register AFTER
            # register_fs so the source pickles the current registry)
            from .sources import kvtext
            kvtext.register(spark)
            (curated.select(
                F.col("doc_id").cast("string").alias("key"),
                F.to_json(F.struct("source", "lang", "bin_id", "text"))
                 .alias("value"))
             .write.format("kvtext").mode("overwrite").save(out_path))

    for df in (gated, deduped, clean):
        df.unpersist()
    funnel = spark.createDataFrame(stages, "stage string, n_docs long") \
        .orderBy("stage")
    return curated, funnel
