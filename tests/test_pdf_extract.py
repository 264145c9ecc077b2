"""PDF → text extraction (operators/pdf_extract.py): structural
synthesis (xref offsets byte-exact), Tj extraction with PDF string
escapes round-tripping, the shared boilerplate machinery, the
materializing form, and the pipeline front-stage composition. Value
parity vs the generated DuckDB twin runs in tests/test_oracle_parity.py
(``pdf_extract``)."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from conftest import SF_DIR
from toymapreduce_go_spark.operators.pdf_extract import (
    PDF_LETTERHEAD, extract_pdf_documents, pdf_extract_stats,
    pdf_to_text, synthesize_pdf)


def _pdf_of(spark, rows):
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string")
    return {r["doc_id"]: r["pdf"] for r in synthesize_pdf(docs).collect()}


def test_synthesized_pdf_is_structurally_real(spark):
    """The xref table's offsets must point at the actual byte position
    of every object, /Length must equal the stream's byte length, and
    startxref must point at the xref keyword — i.e. a real PDF reader's
    cross-reference walk works on these bytes."""
    pdf = _pdf_of(spark, [(7, "s", "hello pdf body")])[7]
    data = pdf.encode()
    offsets = [int(m) for m in re.findall(
        rb"^(\d{10}) 00000 n ?$", data, re.M)]
    assert len(offsets) == 5
    for i, off in enumerate(offsets, start=1):
        assert data[off:off + len(f"{i} 0 obj")] == f"{i} 0 obj".encode()
    startxref = int(re.search(rb"startxref\n(\d+)\n%%EOF$", data).group(1))
    assert data[startxref:startxref + 4] == b"xref"
    length = int(re.search(rb"/Length (\d+) >>", data).group(1))
    stream = re.search(rb"stream\n(.*?)\nendstream", data,
                       re.S).group(1)
    assert len(stream) == length


def test_extraction_and_escape_roundtrip(spark):
    """Body text with parens and backslashes must round-trip through
    PDF string escaping; each Tj is one line; the letterhead and
    footer lines come back unescaped."""
    body = r"body with (parens) and \back\ and \(mix\)"
    pdf = _pdf_of(spark, [(1, "src9", body)])[1]
    df = spark.createDataFrame([(pdf,)], "pdf string")
    lines = df.select(pdf_to_text(F.col("pdf")).alias("t")) \
        .first()["t"].split("\n")
    assert lines == [PDF_LETTERHEAD, "src9 document 1", body,
                     "Page 1 of 1 - (c) 2026 src9"]


def test_multi_stream_and_non_text_blocks(spark):
    """Extraction over a hand-built PDF-ish body: two streams, text
    outside BT/ET ignored, parens inside operands escaped."""
    doc = ("x\nstream\nBT\n(one) Tj\nET\nendstream\ny"
           "\nstream\nnoise (not text) here\nBT\n(two \\(2\\)) Tj\n"
           "0 -14 Td\n(three) Tj\nET\nendstream\nz")
    df = spark.createDataFrame([(doc,)], "pdf string")
    out = df.select(pdf_to_text(F.col("pdf")).alias("t")).first()["t"]
    assert out == "one\ntwo (2)\nthree"


def test_boilerplate_shared_machinery_on_fixture(spark):
    """Letterhead (global) and per-source footers are boilerplate at
    the default threshold; title and body survive; stats rows cover
    every source."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = extract_pdf_documents(synthesize_pdf(docs))
    row = out.orderBy("doc_id").first()
    assert PDF_LETTERHEAD not in row["text"]
    assert "Page 1 of 1" not in row["text"]
    assert "document 0" in row["text"]
    assert row["removed_lines"] == 2
    assert out.count() == docs.count()
    stats = pdf_extract_stats(docs)
    srcs = docs.select("source").distinct().count()
    assert stats.count() == srcs
    r = stats.first()
    assert r["n_raw_lines"] > r["n_kept_lines"] > 0


def test_plan_is_broadcast_no_window(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pdf_extract_stats(docs).explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    # zero Python in the hot path
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_pipeline_front_stage_from_pdf(spark):
    """--from-pdf composes extraction as stage 0a'; the funnel gains
    the stage and curated text carries no PDF syntax."""
    from toymapreduce_go_spark.pipeline import build_training_corpus
    curated, funnel = build_training_corpus(spark, SF_DIR, container="pdf")
    stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert "0a_pdf_extracted" in stages and stages["0a_pdf_extracted"] > 0
    assert curated.count() > 0
    sample = curated.select("text").first()["text"]
    assert " Tj" not in sample and "endstream" not in sample
    assert PDF_LETTERHEAD not in sample


def test_multiline_text_with_embedded_markers_roundtrips(spark):
    """Review r11: the body is written one Tj per text line, so
    multi-line text — even text containing 'endstream' or 'ET' lines —
    can never embed the '\\nendstream'/'\\nET' sequences the naive
    framing regexes stop at; the original line structure round-trips
    exactly."""
    body = "first line\nendstream\nET\nlast (line) with \\marks\\"
    pdf = _pdf_of(spark, [(3, "sx", body)])[3]
    df = spark.createDataFrame([(pdf,)], "pdf string")
    lines = df.select(pdf_to_text(F.col("pdf")).alias("t")) \
        .first()["t"].split("\n")
    assert lines == ([PDF_LETTERHEAD, "sx document 3"]
                     + body.split("\n")
                     + ["Page 1 of 1 - (c) 2026 sx"])
