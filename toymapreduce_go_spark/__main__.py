"""CLI entry point — operational parity with the reference binary
(cmd/main.go:20-44).

The reference runs as two cooperating processes: ``mapreduce coord
-input f1,f2 -nreduce 4`` and ``mapreduce worker -mrpath plugin.so``
(flag surface cmd/main.go:22-29; input normalization to URIs
cmd/coord/coordinator.go:37-43). Spark collapses coordinator and worker
into one driver + managed executors, so this CLI takes the union of
their flags in a single invocation:

    python -m toymapreduce_go_spark --app wc \
        --input 'data/a.txt,data/b.txt' --nreduce 4 --out out/

    python -m toymapreduce_go_spark --plugin my_mr.py \
        --input 'corpus/*.txt' --out out/ --single-file

``--app`` picks a built-in compat app (the reference's example/mrapps
set); ``--plugin`` loads a Python file the way the reference worker
dlopens a .so (worker.go plugin load): the module must export ``Map``
and ``Reduce`` (the Go symbol contract, with Reduce in the sequential
(key, values) -> value form, mrsequential.go:110) or the grouped-form
``map_f`` / ``reduce_f``. Output is the reference's "key value" text
format, one directory of part files per run (F9) — ``--single-file``
gives the sequential oracle's one sorted file.
"""

from __future__ import annotations

import argparse
import importlib.util
import sys


def load_plugin(path: str):
    """Load (map_f, grouped_reduce_f) from a user Python file — the
    pluggable-UDF contract (F15)."""
    from .mr.api import simple_reduce

    spec = importlib.util.spec_from_file_location("mr_plugin", path)
    if spec is None or spec.loader is None:
        raise SystemExit(f"cannot load plugin: {path}")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["mr_plugin"] = mod  # registrable for pickle-by-value
    spec.loader.exec_module(mod)
    try:
        from pyspark import cloudpickle
        cloudpickle.register_pickle_by_value(mod)
    except Exception:
        pass
    if hasattr(mod, "map_f") and hasattr(mod, "reduce_f"):
        return mod.map_f, mod.reduce_f
    if hasattr(mod, "Map") and hasattr(mod, "Reduce"):
        return mod.Map, simple_reduce(mod.Reduce)
    raise SystemExit(
        f"plugin {path} must export Map/Reduce or map_f/reduce_f")


def main(argv: list[str] | None = None) -> None:
    from .mr.apps import APPS

    p = argparse.ArgumentParser(
        prog="python -m toymapreduce_go_spark",
        description="Run a map/reduce compat app on Spark "
                    "(reference: cmd/main.go).")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--app", choices=sorted(APPS),
                     help="built-in compat app (example/mrapps twin)")
    src.add_argument("--plugin", metavar="FILE.py",
                     help="Python plugin exporting Map/Reduce "
                          "(worker -mrpath analog)")
    src.add_argument("--corpus-build", metavar="SF_DIR",
                     help="run the end-to-end curation pipeline "
                          "(pipeline.py) over SF_DIR's documents table: "
                          "curated parquet to --out, funnel to stdout")
    src.add_argument("--stream-ingest", metavar="SF_DIR",
                     help="run the composed streaming curation ingest "
                          "(streaming/ingest.py: telemetry + gate + "
                          "incremental near-dedup) over SF_DIR's "
                          "documents table; --out is the shared "
                          "checkpoint/state dir — re-running against it "
                          "resumes/replays exactly-once")
    p.add_argument("--input", required=False,
                   help="comma-separated input files/globs "
                        "(coord -input analog; Hadoop FS URIs OK)")
    p.add_argument("--nreduce", type=int, default=4,
                   help="number of reduce partitions/output files "
                        "(coord -nreduce analog, same default)")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--single-file", action="store_true",
                   help="one sorted output file (sequential-oracle "
                        "layout, mrsequential.go:62-84)")
    p.add_argument("--max-failures", type=int, default=4,
                   help="task retry budget (coordinator reschedule "
                        "analog; >1 required for the crash app)")
    p.add_argument("--mask-spans", action="store_true",
                   help="with --corpus-build: also cut cross-document "
                        "duplicated spans out of survivor text "
                        "(ExactSubstr removal stage)")
    p.add_argument("--dedup-lines", action="store_true",
                   help="with --corpus-build: C4-style corpus-level "
                        "exact line dedup before the hashing stages "
                        "(first occurrence of each repeated long line "
                        "wins)")
    p.add_argument("--lm-filter", action="store_true",
                   help="with --corpus-build: drop the CCNet perplexity "
                        "TAIL tertile (corpus-LM surprisal gate) after "
                        "the scan-side quality gates")
    p.add_argument("--dsir-select", type=float, default=None,
                   metavar="FRAC",
                   help="with --corpus-build: keep the top-FRAC of the "
                        "gated pool by DSIR importance weight vs the "
                        "target slice (exact histogram-cutoff "
                        "threshold, no corpus sort)")
    p.add_argument("--span-k", type=int, default=20,
                   help="with --mask-spans: duplicated-span gram width "
                        "(widen alongside --span-sample-mod at scale)")
    p.add_argument("--span-sample-mod", type=int, default=None,
                   help="with --mask-spans: content-defined gram "
                        "sampling modulus p — shuffle volume /p, "
                        "bounded undercount (see pipeline.py)")
    p.add_argument("--bloom-prior", metavar="PARQUET_DIR", default=None,
                   help="with --corpus-build: drop docs whose content "
                        "hash might already be in PARQUET_DIR's "
                        "documents table (prior-snapshot Bloom screen, "
                        "scan-side plan-literal bitmap — runs before "
                        "every other stage)")
    p.add_argument("--tokenized-shards", metavar="DIR", default=None,
                   help="with --corpus-build: additionally train the "
                        "BPE tokenizer on the curated corpus, encode "
                        "it to token ids, re-pack on real token "
                        "counts, and write tokenized WebDataset tar "
                        "shards to DIR (r14)")
    p.add_argument("--tokenizer-merges", type=int, default=50,
                   help="BPE merge count for --tokenized-shards")
    p.add_argument("--wds-out", metavar="DIR", default=None,
                   help="with --corpus-build: also materialize the "
                        "curated corpus as WebDataset tar shards "
                        "(deterministic bytes, rename-on-commit, "
                        "manifest parquet) under DIR")
    p.add_argument("--blocklist", metavar="DOMAINS", default=None,
                   help="corpus-build: comma-separated canonical-domain "
                        "deny list applied as the first pipeline gate "
                        "(scan-side plan-literal filter, no join); the "
                        "literal 'fixture' uses the synthesized-host "
                        "deny list")
    p.add_argument("--robots", action="store_true",
                   help="with --corpus-build: drop documents whose "
                        "canonical URL the domain's robots.txt rules "
                        "disallow (RFC 9309 longest-match gate, after "
                        "the deny list)")
    p.add_argument("--eval-docs", metavar="PARQUET", default=None,
                   help="with --corpus-build: decontaminate against "
                        "this benchmark frame (parquet with a text "
                        "column) instead of the fixture's doc_id-mod "
                        "eval slice — the corpus-independent "
                        "production form")
    p.add_argument("--fix-encoding", action="store_true",
                   help="with --corpus-build/--stream-ingest: repair "
                        "utf-8-as-cp1252 mojibake and strip C0 "
                        "controls before PII/hashing (scan-side, "
                        "operators/textfix.py)")
    # one container at a time: the flags share one destination, and
    # argparse rejects two of them at parse time
    box = p.add_mutually_exclusive_group()
    box.add_argument("--from-html", dest="container", action="store_const",
                     const="html",
                     help="with --corpus-build/--stream-ingest: run "
                          "HTML→text extraction (tag strip + entity "
                          "unescape + line-frequency boilerplate "
                          "removal) as the front stage; an html column "
                          "is consumed directly, a text-only frame gets "
                          "the synthesized-page fixture path")
    box.add_argument("--from-pdf", dest="container", action="store_const",
                     const="pdf",
                     help="with --corpus-build/--stream-ingest: run "
                          "PDF→text extraction (content-stream Tj text "
                          "+ the shared line-frequency boilerplate "
                          "removal) as the front stage; a pdf column is "
                          "consumed directly, a text-only frame gets the "
                          "synthesized-PDF fixture path")
    box.add_argument("--from-warc", dest="container", action="store_const",
                     const="warc",
                     help="with --corpus-build/--stream-ingest: run "
                          "WARC→text extraction (record split, HTTP "
                          "strip incl. chunked transfer decoding, the "
                          "shared boilerplate removal) as the front "
                          "stage; a warc files column is consumed "
                          "directly, a text-only frame gets the "
                          "synthesized-WARC fixture path")
    p.add_argument("--chunk-long", action="store_true",
                   help="with --corpus-build: split documents whose "
                        "token count exceeds the packing budget into "
                        "half-budget windows before packing (synthetic "
                        "negative doc_ids for chunk rows)")
    p.add_argument("--near-prior", action="store_true",
                   help="with --corpus-build and --bloom-prior: also "
                        "drop docs that are NEAR-duplicates of the "
                        "prior snapshot (one batch-sized bucket join "
                        "against the archive's band index — the "
                        "archive is never re-scanned)")
    p.add_argument("--n-splits", type=int, default=3,
                   help="with --stream-ingest: split the input into N "
                        "arrival batches (simulated arrival; production "
                        "points the stream at a landing directory)")
    args = p.parse_args(argv)
    if args.near_prior and not args.bloom_prior:
        p.error("--near-prior requires --bloom-prior (the prior "
                "snapshot directory supplies the archive)")

    if args.stream_ingest:
        from .session import build_session
        from .streaming.events_stream import read_documents_stream
        from .streaming.ingest import (read_survivors, read_telemetry,
                                       run_curation_ingest)
        spark = build_session("stream-ingest")
        spark.sparkContext.setLogLevel("ERROR")
        stream = read_documents_stream(spark, args.stream_ingest,
                                       n_splits=args.n_splits)
        run_curation_ingest(stream, args.out, spark,
                            container=args.container,
                            fix_encoding=args.fix_encoding)
        for r in (read_telemetry(spark, args.out)
                  .orderBy("batch_id").collect()):
            print(f"batch {r['batch_id']}: {r['n_docs']} docs, "
                  f"{r['n_pass']} pass ({r['pass_rate']}), "
                  f"avg_alpha={r['avg_alpha']} "
                  f"avg_chars={r['avg_chars']}")
        n_surv = read_survivors(spark, args.out).count()
        print(f"survivors: {n_surv} -> {args.out}")
        return

    if args.corpus_build:
        from .pipeline import build_training_corpus
        from .session import build_session
        spark = build_session("corpus-build")
        spark.sparkContext.setLogLevel("ERROR")
        prior = (spark.read.parquet(f"{args.bloom_prior}/documents.parquet")
                 if args.bloom_prior else None)
        if args.blocklist == "fixture":
            from .operators.urls import fixture_blocklist
            deny = fixture_blocklist()
        elif args.blocklist:
            deny = [d.strip() for d in args.blocklist.split(",")
                    if d.strip()]
        else:
            deny = None
        curated, funnel = build_training_corpus(
            spark, args.corpus_build, out_path=args.out,
            mask_spans=args.mask_spans, span_k=args.span_k,
            span_sample_mod=args.span_sample_mod,
            lm_filter=args.lm_filter, dedup_lines=args.dedup_lines,
            dsir_frac=args.dsir_select, prior_docs=prior,
            near_prior=args.near_prior, chunk_long=args.chunk_long,
            container=args.container,
            blocklist=deny, robots=args.robots,
            fix_encoding=args.fix_encoding,
            eval_docs=(spark.read.parquet(args.eval_docs)
                       if args.eval_docs else None),
            tokenized_shards_dir=args.tokenized_shards,
            tokenizer_merges=args.tokenizer_merges)
        for r in funnel.collect():
            print(f"{r['stage']} {r['n_docs']}")
        if args.wds_out:
            from .sources.wds import write_webdataset
            man = write_webdataset(
                curated.select("doc_id", "source", "lang", "text"),
                args.wds_out)
            rows = man.collect()
            print(f"wds: {len(rows)} shards, "
                  f"{sum(r['n_docs'] for r in rows)} docs -> "
                  f"{args.wds_out}")
        return

    if not args.input:
        p.error("--input is required with --app/--plugin")
    if args.plugin:
        map_f, reduce_f = load_plugin(args.plugin)
        app_name = args.plugin
    else:
        map_f, reduce_f = APPS[args.app]
        app_name = args.app

    # Master: on a cluster, spark-submit owns it (build_session's
    # externally-managed check); standalone build_session runs
    # local[N, maxFailures] — the retry budget (F12) the reference gets
    # from coordinator rescheduling (coordinator.go:176-199), required
    # for the crash app.
    from .mr.api import run_map_reduce_files
    from .session import build_session
    from .sources.sinks import write_text_kv

    spark = build_session(f"mr-{app_name}",
                          shuffle_partitions=args.nreduce,
                          local_max_failures=args.max_failures)
    spark.sparkContext.setLogLevel("ERROR")

    result = run_map_reduce_files(spark, map_f, reduce_f,
                                  args.input, n_reduce=args.nreduce)
    # persist before the two actions (write, count) — without it the
    # whole MR lineage (and the crash app's injected failures + retries)
    # would execute twice
    result.persist()
    write_text_kv(result, args.out, single_file=args.single_file)
    n = result.count()
    print(f"{app_name}: {n} output rows -> {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
