"""HTML → text extraction (operators/html_extract.py): tag/script/
style stripping, entity unescape order, the line-frequency boilerplate
threshold at its integer boundary, the materializing rebuild, and the
pipeline front-stage composition. Value parity vs the generated DuckDB
twin runs in tests/test_oracle_parity.py."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from conftest import SF_DIR
from toymapreduce_go_spark.operators.html_extract import (
    extract_html_documents, html_extract_stats, html_to_text,
    synthesize_html)


def _extract_one(spark, html: str) -> str:
    df = spark.createDataFrame([(html,)], "html string")
    return df.select(html_to_text(F.col("html")).alias("t")).first()["t"]


def test_script_and_style_content_is_removed(spark):
    out = _extract_one(
        spark,
        '<html><head><style>p{color:red}\n.x{b:1}</style>'
        '<script>\nvar a=1;\nalert(a);\n</script></head>'
        '<body><p>keep me</p>'
        '<script src="x.js"></script><script>more()</script>'
        '</body></html>')
    assert "keep me" in out
    assert "color:red" not in out
    assert "alert" not in out
    # lazy .*? — adjacent script blocks must not merge and swallow
    # the text between them
    out2 = _extract_one(
        spark, '<script>a()</script><p>between</p><script>b()</script>')
    assert "between" in out2


def test_entity_unescape_order(spark):
    # &amp; is unescaped LAST: a double-escaped '&amp;lt;' must become
    # the literal '&lt;' the author wrote, never '<'
    assert _extract_one(spark, "a &amp;lt; b") == "a &lt; b"
    assert _extract_one(spark, "x &amp; y &lt; z &gt; w") == "x & y < z > w"
    assert _extract_one(spark, "&quot;q&quot; &#39;s&#39;") == '"q" \'s\''
    assert _extract_one(spark, "&copy; 2026") == "(c) 2026"


def test_escape_extract_roundtrip_on_fixture(spark):
    """Synthesis escapes the body text; extraction must recover the
    original text as one of the kept lines for every document."""
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50))
    pages = synthesize_html(docs)
    got = (pages.select(
        "doc_id", F.split(html_to_text(F.col("html")), "\n").alias("ls"))
        .join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("hit", F.array_contains("ls", F.col("text"))))
    assert got.filter((F.length("text") > 0) & ~F.col("hit")).count() == 0


def test_boilerplate_threshold_integer_boundary(spark):
    """10 docs, milli=200 (20%): a line in exactly 2 docs sits ON the
    boundary (2*1000 >= 200*10) and must be dropped; a line in 1 doc
    (1000 < 2000) must be kept."""
    rows = []
    for i in range(10):
        body = "this line is unique to document number %d" % i
        shared = "shared pair line" if i < 2 else ("solo %d" % i)
        rows.append((i, "s", f"<p>{body}</p>\n<p>{shared}</p>"))
    pages = spark.createDataFrame(
        rows, "doc_id long, source string, html string")
    out = extract_html_documents(pages, boilerplate_milli=200)
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert "shared pair line" not in texts[0]
    assert "shared pair line" not in texts[1]
    assert "unique to document number 0" in texts[0]
    assert "solo 5" in texts[5]


def test_materializing_form_on_fixture(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = extract_html_documents(synthesize_html(docs))
    row = out.orderBy("doc_id").first()
    # global nav/banner + per-source footer are gone; prose survives
    assert "All rights reserved" not in row["text"]
    assert "Subscribe" not in row["text"]
    assert "track(p)" not in row["text"]
    assert "margin:0" not in row["text"]
    assert row["removed_lines"] == 3
    # every document came back, none merged or dropped
    assert out.count() == docs.count()


def test_plan_is_broadcast_no_window(spark):
    """The boilerplate set must come back as a broadcast — the corpus
    is never sort-merge-joined or windowed."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        html_extract_stats(docs).explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_pipeline_front_stage(spark):
    """--from-html composes extraction as stage 0a; the funnel gains
    the stage and the curated output still packs."""
    from toymapreduce_go_spark.pipeline import build_training_corpus
    curated, funnel = build_training_corpus(
        spark, SF_DIR, container="html")
    stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert "0a_html_extracted" in stages
    assert stages["0a_html_extracted"] > 0
    assert curated.count() > 0
    # extraction ran before the gates: curated text carries no markup
    sample = curated.select("text").first()["text"]
    assert "<" not in sample and "&amp;" not in sample


def test_uppercase_script_style_blocks_are_removed(spark):
    """HTML tag names are case-insensitive ((?is) strip, advice r10):
    uppercase <SCRIPT>/<STYLE> content must not leak into the text."""
    out = _extract_one(
        spark,
        '<HTML><STYLE>h1{color:blue}</STYLE>'
        '<SCRIPT>evil();</SCRIPT><P>prose stays</P></HTML>')
    assert "prose stays" in out
    assert "color:blue" not in out
    assert "evil" not in out


def test_small_batch_is_not_emptied_by_boilerplate(spark):
    """The df >= 2 floor (advice r10): on a tiny corpus slice (a
    streaming micro-batch of <= 1000/milli docs) every unique line used
    to clear the frequency threshold at df=1 and extraction emptied the
    whole batch. Unique prose must survive; genuinely shared lines must
    still drop."""
    rows = [(i, "s",
             f"<p>unique prose line number {i}</p>\n<p>shared footer</p>")
            for i in range(3)]
    pages = spark.createDataFrame(
        rows, "doc_id long, source string, html string")
    out = {r["doc_id"]: r["text"]
           for r in extract_html_documents(
               pages, boilerplate_milli=20).collect()}
    for i in range(3):
        assert f"unique prose line number {i}" in out[i]
        assert "shared footer" not in out[i]  # df=3 still drops


def test_duplicate_doc_id_pages_raise(spark):
    """The rebuild groups lines by doc_id; duplicate page rows would
    silently merge into one doubled text — they must raise instead
    (advice r10)."""
    import pytest

    pages = spark.createDataFrame(
        [(1, "s", "<p>copy one</p>"), (1, "s", "<p>copy two</p>"),
         (2, "s", "<p>fine</p>")],
        "doc_id long, source string, html string")
    with pytest.raises(Exception, match="duplicate doc_id"):
        extract_html_documents(pages).collect()


def test_stats_single_scan_of_pages(spark):
    """html_extract_stats reads raw line counts off the same flagged
    pass (one fewer corpus scan, advice r10): the plan must contain at
    most two evaluations of the synthesis chain (the boilerplate agg
    subtree + the flagged join side), never a third raw-count branch."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        html_extract_stats(docs).explain("formatted")
    plan = buf.getvalue()
    # three documents scans survive: the boilerplate agg subtree and
    # the flagged join side (the two synthesis evaluations) plus the
    # doc_id-only count_distinct denominator (column-pruned, no
    # synthesis). The removed raw-count branch was a FOURTH, with a
    # full synthesis+tag-strip re-evaluation. formatted explain
    # mentions each node twice (tree + details).
    assert plan.count("Scan parquet") <= 6, plan
