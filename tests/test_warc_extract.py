"""WARC container front door (operators/warc_extract.py): record
grammar, lossless parse (the oracle-inheritance pin), Content-Length
validation, non-response record skipping, and the materializing form.
Value parity runs in test_oracle_parity.py (``warc_extract``, sharing
html_extract's twin — justified by the losslessness pinned here)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from toymapreduce_go_spark.operators.html_extract import (
    html_extract_stats, synthesize_html)
from toymapreduce_go_spark.operators.warc_extract import (
    extract_warc_documents, parse_warc_records, synthesize_warc_files,
    warc_extract_stats)


def _docs(spark, n=None):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return d.limit(n) if n else d


def test_warc_grammar_is_structurally_real(spark):
    """Every record: version line, named headers, CRLF CRLF block
    separators, CRLF CRLF terminator, and a Content-Length that equals
    the true byte length of its block — checked with an independent
    driver-side parse."""
    w = synthesize_warc_files(_docs(spark, 8)).first()["warc"]
    records = w.split("WARC/1.0\r\n")[1:]
    assert len(records) >= 2  # warcinfo + responses
    for r in records:
        head, rest = r.split("\r\n\r\n", 1)
        assert rest.endswith("\r\n\r\n")
        clen = int(re.search(r"Content-Length: (\d+)", head).group(1))
        assert len(rest[:-4].encode()) == clen
    assert "WARC-Type: warcinfo" in records[0]
    assert all("WARC-Type: response" in r for r in records[1:])
    assert "HTTP/1.1 200 OK" in records[1]


def test_parse_is_lossless_and_skips_warcinfo(spark):
    docs = _docs(spark)
    parsed = parse_warc_records(synthesize_warc_files(docs))
    assert parsed.count() == docs.count()  # warcinfo skipped
    assert parsed.filter("NOT length_ok").count() == 0
    direct = synthesize_html(docs).select(
        "doc_id", F.col("html").alias("h2"))
    assert parsed.join(direct, "doc_id") \
        .filter("html <> h2").count() == 0
    # URIs parsed back: every record carries its messy synthesized URL
    assert parsed.filter(~F.col("uri").rlike(
        r"^[Hh][Tt][Tt][Pp]://")).count() == 0


def test_corrupted_content_length_raises(spark):
    """The stats path validates Content-Length per record — a
    corrupted record must raise, never silently truncate."""
    files = synthesize_warc_files(_docs(spark, 4))
    bad = files.select(F.regexp_replace(
        "warc", r"Content-Length: (\d\d\d+)", "Content-Length: 7")
        .alias("warc"), "source")
    from toymapreduce_go_spark.operators.html_extract import (
        extract_stats_rollup, flagged_extracted_lines, html_to_text)
    pages = parse_warc_records(bad)
    guarded = F.when(F.col("length_ok"),
                     html_to_text(F.col("html"))).otherwise(
        F.raise_error(F.lit("Content-Length mismatch")).cast("string"))
    with pytest.raises(Exception, match="Content-Length mismatch"):
        extract_stats_rollup(
            flagged_extracted_lines(pages, guarded, 20)).collect()


def test_stats_equal_html_path_and_materializing_form(spark):
    """The oracle-inheritance pin: the WARC rollup is value-identical
    to html_extract_stats (lossless parse + shared machinery), and the
    materializing form recovers every document's prose."""
    docs = _docs(spark)
    a = sorted(tuple(r) for r in warc_extract_stats(docs).collect())
    b = sorted(tuple(r) for r in html_extract_stats(docs).collect())
    assert a == b and a
    out = extract_warc_documents(synthesize_warc_files(docs))
    assert out.count() == docs.count()
    row = out.orderBy("doc_id").first()
    assert "document 0" in row["text"]
    assert "All rights reserved" not in row["text"]
    assert "WARC-Type" not in row["text"]


def test_null_text_documents_survive_the_warc_roundtrip(spark):
    """Review r11: a NULL-text document must not vanish from the WARC
    file (a NULL record is silently dropped by array_join) — it rides
    as a 204 No Content response and parses back to NULL html, so the
    rollup stays value-identical to the direct HTML path."""
    docs = spark.createDataFrame(
        [(1, "s", "real prose here"), (2, "s", None),
         (3, "s", "more prose")],
        "doc_id long, source string, text string")
    parsed = parse_warc_records(synthesize_warc_files(docs))
    assert parsed.count() == 3
    nulls = parsed.filter("doc_id = 2").collect()
    assert len(nulls) == 1 and nulls[0]["html"] is None
    assert nulls[0]["length_ok"]
    a = sorted(tuple(r) for r in warc_extract_stats(docs).collect())
    b = sorted(tuple(r) for r in html_extract_stats(docs).collect())
    assert a == b
    assert a[0][1] == 3  # n_docs counts the NULL-text doc


def test_negative_doc_ids_roundtrip(spark):
    """Review r11: the record-id regex must keep the sign — chunk-long
    synthetic ids are negative by convention."""
    docs = spark.createDataFrame(
        [(-5, "s", "negative id doc"), (5, "s", "positive id doc")],
        "doc_id long, source string, text string")
    got = {r["doc_id"] for r in
           parse_warc_records(synthesize_warc_files(docs)).collect()}
    assert got == {-5, 5}


def test_materializing_form_also_raises_on_corruption(spark):
    """Review r11: extract_warc_documents shares the Content-Length
    guard — corrupted records can never silently enter a corpus
    through the pipeline-facing path either."""
    files = synthesize_warc_files(_docs(spark, 4))
    bad = files.select("source", F.regexp_replace(
        "warc", r"Content-Length: (\d\d\d+)", "Content-Length: 7")
        .alias("warc"))
    with pytest.raises(Exception, match="Content-Length mismatch"):
        extract_warc_documents(bad).collect()


def test_gzip_members_round_trip_byte_equal(spark):
    """gunzip(gzip(files)) is byte-identical to the uncompressed
    synthesis — the pin that lets warc_extract_gz inherit the
    lossless-parse oracle chain."""
    from toymapreduce_go_spark.operators.warc_extract import (
        gunzip_warc_files, gzip_warc_files)
    files = synthesize_warc_files(_docs(spark))
    back = gunzip_warc_files(gzip_warc_files(files))
    a = {r["source"]: r["warc"] for r in files.collect()}
    b = {r["source"]: r["warc"] for r in back.collect()}
    assert a == b


def test_gzip_is_one_member_per_record(spark):
    """The Common Crawl shape: every WARC record is its OWN gzip
    member (a reader can range-fetch one record), verified with an
    independent driver-side member walk."""
    import zlib

    from toymapreduce_go_spark.operators.warc_extract import (
        gzip_warc_files)
    row = gzip_warc_files(synthesize_warc_files(_docs(spark, 8))) \
        .first()
    data, members = bytes(row["warc_gz"]), []
    while data:
        d = zlib.decompressobj(wbits=31)
        members.append(d.decompress(data).decode())
        assert d.eof
        data = d.unused_data
    n_src_docs = _docs(spark, 8).filter(
        F.col("source") == row["source"]).count()
    assert len(members) == n_src_docs + 1          # + warcinfo
    assert all(m.startswith("WARC/1.0\r\n") for m in members)
    assert "WARC-Type: warcinfo" in members[0]


def test_corrupt_gzip_member_raises_loudly(spark):
    """A flipped byte inside a member must surface as a loud error
    naming the member (zlib's CRC32/ISIZE trailer check), never as
    silently truncated or garbled text."""
    import pytest

    from toymapreduce_go_spark.operators.warc_extract import (
        gunzip_warc_files, gzip_warc_files)
    gz = gzip_warc_files(synthesize_warc_files(_docs(spark, 8)))

    def corrupt(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["warc_gz"] = [
                bytes(g[:60]) + bytes([g[60] ^ 0xFF]) + bytes(g[61:])
                for g in pdf["warc_gz"]]
            yield pdf

    bad = gz.mapInPandas(corrupt, "source string, warc_gz binary")
    with pytest.raises(Exception, match="warc_gz"):
        gunzip_warc_files(bad).collect()


def test_gz_stats_equal_uncompressed_stats(spark):
    """warc_gz_extract_stats == warc_extract_stats == the shared twin:
    compression is transparent to every downstream value."""
    from toymapreduce_go_spark.operators.warc_extract import (
        warc_gz_extract_stats)
    docs = _docs(spark)
    a = {tuple(r) for r in warc_gz_extract_stats(docs).collect()}
    b = {tuple(r) for r in warc_extract_stats(docs).collect()}
    assert a == b


def test_chunked_transfer_round_trip_and_mix(spark):
    """HTTP/1.1 chunked framing (doc_id % 3 == 1 responses): the
    fixture carries BOTH identity and chunked responses, every
    chunk-size line is the chunk's true byte length in hex, and the
    scan-side dechunker restores the exact page bytes (covered by the
    losslessness pin; re-asserted here against an independent Python
    dechunk of the raw record text)."""
    docs = _docs(spark)
    w = synthesize_warc_files(docs).collect()
    n_chunked = n_identity = 0
    for row in w:
        for r in row["warc"].split("WARC/1.0\r\n")[1:]:
            if "WARC-Type: response" not in r:
                continue
            head, rest = r.split("\r\n\r\n", 1)
            if "Transfer-Encoding: chunked" not in rest.split(
                    "\r\n\r\n", 1)[0]:
                n_identity += 1
                continue
            n_chunked += 1
            body = rest.split("\r\n\r\n", 1)[1]
            assert body.endswith("0\r\n\r\n\r\n\r\n")  # trailer + term
            # independent sequential dechunk, validating every size
            buf, out = body[:-4], []
            while True:
                size_line, buf = buf.split("\r\n", 1)
                n = int(size_line, 16)
                if n == 0:
                    break
                data = buf.encode()[:n].decode()
                out.append(data)
                assert len(data.encode()) == n
                assert buf[len(data):len(data) + 2] == "\r\n"
                buf = buf[len(data) + 2:]
            html = "".join(out)
            assert html.startswith("<!DOCTYPE html>")
            assert html.endswith("</html>")
    assert n_chunked and n_identity       # both framings exercised
    # and the engine's dechunk agrees with the direct synthesis for
    # every chunked doc (subset of the losslessness pin, named here)
    parsed = parse_warc_records(synthesize_warc_files(docs))
    direct = synthesize_html(docs).select(
        "doc_id", F.col("html").alias("h2"))
    bad = (parsed.filter("doc_id % 3 = 1").join(direct, "doc_id")
           .filter("html <> h2 OR html IS NULL AND h2 IS NOT NULL"))
    assert bad.count() == 0
    assert parsed.filter("doc_id % 3 = 1").count() > 0


def test_corrupt_chunk_size_raises(spark):
    """A lying chunk-size line (framing corruption) must trip the same
    loud guard a Content-Length lie does — never silently yield
    truncated or garbled text."""
    import pytest

    docs = _docs(spark, 8)
    files = synthesize_warc_files(docs)
    # lie about the FIRST chunk's size in a chunked response: 0x78
    # (120 ASCII chars) becomes 0x79 — the size line no longer matches
    # the chunk's actual bytes
    corrupted = files.select("source", F.regexp_replace(
        "warc",
        r"(Transfer-Encoding: chunked\r\n\r\n)78\r\n",
        "$179\r\n").alias("warc"))
    # the corruption actually landed (a chunked record exists here)
    assert corrupted.filter(
        F.col("warc").contains("chunked\r\n\r\n79\r\n")).count() > 0
    with pytest.raises(Exception, match="Content-Length mismatch"):
        extract_warc_documents(corrupted).collect()


def test_pipeline_front_stage_from_warc_equals_from_html(spark):
    """--from-warc composes the WARC container as stage 0a3; since the
    synthesized WARC wraps exactly the synthesized HTML pages and the
    parse is byte-lossless, the curated corpus is ROW-IDENTICAL to a
    --from-html build — container transparency end to end (lang labels
    re-attached by doc_id on the fixture path)."""
    from toymapreduce_go_spark.pipeline import build_training_corpus
    curated_w, funnel_w = build_training_corpus(spark, SF_DIR,
                                                container="warc")
    stages = {r["stage"]: r["n_docs"] for r in funnel_w.collect()}
    assert stages.get("0a_warc_extracted", 0) > 0
    curated_h, _ = build_training_corpus(spark, SF_DIR, container="html")
    got = {(r.doc_id, r.source, r.lang, r.text)
           for r in curated_w.collect()}
    want = {(r.doc_id, r.source, r.lang, r.text)
            for r in curated_h.collect()}
    assert got == want and got


def test_stream_ingest_from_warc_front_stage(spark, tmp_path):
    """The WARC container front stage composed into the streaming
    ingest, mirroring --from-html/--from-pdf: per micro-batch the
    pages ride one synthesized per-source WARC file, and because the
    parse is lossless the telemetry equals the HTML front stage's
    batch for batch (single-file source so both streams see one
    identical batch), while differing from the raw-text run."""
    from toymapreduce_go_spark.streaming.events_stream import (
        read_table_stream)
    from toymapreduce_go_spark.streaming.ingest import (
        read_telemetry, run_curation_ingest)

    def stream():
        return read_table_stream(spark, SF_DIR, "documents",
                                 max_files_per_trigger=1, n_splits=1)

    states = {}
    for mode, kw in (("warc", {"container": "warc"}),
                     ("html", {"container": "html"}), ("plain", {})):
        states[mode] = str(tmp_path / mode)
        run_curation_ingest(stream(), states[mode], spark, **kw)
    tel = {m: sorted(tuple(r) for r in
                     read_telemetry(spark, states[m]).collect())
           for m in states}
    assert tel["warc"] == tel["html"] and tel["warc"]
    assert tel["warc"] != tel["plain"]


def test_dechunk_accepts_rfc_variants_and_rejects_garbage(spark):
    """RFC 9112 §7.1 framing variants a foreign WARC legally carries
    (review r12): chunk extensions on size lines, a zero chunk with
    leading zeros or an extension, trailer FIELD lines after the
    terminator — all accepted; bad hex, size lies, missing
    terminator, and post-terminator garbage still fail."""
    from toymapreduce_go_spark.operators.warc_extract import (
        dechunk_http_body)
    cases = [
        ("5\r\nhello\r\n0", True, "hello"),
        ("5;ext=1\r\nhello\r\n0", True, "hello"),          # chunk ext
        ("5\r\nhello\r\n00", True, "hello"),               # 00 terminal
        ("5\r\nhello\r\n0;done", True, "hello"),           # 0 with ext
        ("5\r\nhello\r\n0\r\nx-sum: abc", True, "hello"),  # trailer
        ("5\r\nhello\r\n0\r\nnot a field", False, None),   # garbage
        ("G\r\nhello\r\n0", False, None),                  # bad hex
        ("6\r\nhello\r\n0", False, None),                  # size lie
        ("5\r\nhello", False, None),                       # no 0 chunk
    ]
    df = spark.createDataFrame([(p,) for p, _, _ in cases],
                               "payload string")
    got = {r["payload"]: (r["d"]["ok"], r["d"]["out"]) for r in
           df.select("payload",
                     dechunk_http_body("payload").alias("d")).collect()}
    for p, ok, out in cases:
        assert got[p][0] is ok, p
        if ok:
            assert got[p][1] == out, p


def test_chunked_empty_body_frames_and_round_trips(spark):
    """An empty body frames as JUST the terminal chunk (a zero-size
    data chunk would be a second terminator the parser rejects) and
    round-trips to '' (review r12)."""
    from toymapreduce_go_spark.operators.warc_extract import (
        chunked_http_body, dechunk_http_body)
    df = spark.createDataFrame([("",), ("x" * 300,)], "html string")
    rows = {len(r["html"]): r for r in df.select(
        "html", chunked_http_body(F.col("html")).alias("c")).collect()}
    assert rows[0]["c"] == "0\r\n\r\n"
    # round trip through the parser's stripped form
    stripped = spark.createDataFrame(
        [(r["c"][:-4] if r["c"].endswith("\r\n\r\n") else r["c"],
          r["html"]) for r in rows.values()],
        "payload string, want string")
    for r in stripped.select(
            "want", dechunk_http_body("payload").alias("d")).collect():
        assert r["d"]["ok"] and r["d"]["out"] == r["want"]


# ---------------------------------------------------------------------------
# r13: per-MEMBER record framing + HTTP body encodings (.warc.gz)


def _member_texts(files_df) -> dict:
    """Inflate every member of every file -> {(source, n): bytes}."""
    import gzip
    import io

    out = {}
    for r in files_df.collect():
        bio = io.BytesIO(bytes(r["warc_gz"]))
        n = 0
        import zlib
        data = bytes(r["warc_gz"])
        pos = 0
        while pos < len(data):
            d = zlib.decompressobj(wbits=31)
            rec = d.decompress(data[pos:])
            out[(r["source"], n)] = rec
            consumed = len(data) - pos - len(d.unused_data)
            pos += consumed
            n += 1
    return out


def test_member_path_round_trips_every_body_encoding(spark):
    """The per-member .warc.gz path (r13): every record is one gzip
    member; identity / chunked / gzipped / chunked+gzipped bodies all
    decode back to the direct HTML synthesis EXACTLY; length_ok holds
    everywhere; and each encoding class is actually present on the
    wire (headers inspected on the inflated members)."""
    from toymapreduce_go_spark.operators.html_extract import (
        synthesize_html)
    from toymapreduce_go_spark.operators.warc_extract import (
        parse_warc_gz_records, synthesize_warc_gz_files)
    from toymapreduce_go_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR, "documents")
    files = synthesize_warc_gz_files(docs)
    parsed = parse_warc_gz_records(files)
    got = {r["doc_id"]: r for r in parsed.collect()}
    want = {r["doc_id"]: r["html"]
            for r in synthesize_html(docs).collect()}
    assert set(got) == set(want)
    for did, h in want.items():
        assert got[did]["html"] == h, did
        assert got[did]["length_ok"] is True, did
    # every encoding class present in the fixture universe
    ids = sorted(got)
    assert any(i % 9 == 4 for i in ids)            # chunked+gzipped
    assert any(i % 3 == 2 for i in ids)            # gzipped identity
    assert any(i % 3 == 1 and i % 9 != 4 for i in ids)  # plain chunked
    assert any(i % 3 == 0 for i in ids)            # identity
    # wire check: the inflated members carry the advertised headers
    members = _member_texts(files)
    seen = {"ce": 0, "te": 0, "both": 0, "plain": 0}
    for (_, _), rec in members.items():
        head = rec.split(b"\r\n\r\n", 1)[0]
        if b"WARC-Type: response" not in head:
            continue
        body_head = rec.split(b"\r\n\r\n", 2)[1]
        ce = b"Content-Encoding: gzip" in body_head
        te = b"Transfer-Encoding: chunked" in body_head
        if ce and te:
            seen["both"] += 1
        elif ce:
            seen["ce"] += 1
        elif te:
            seen["te"] += 1
        else:
            seen["plain"] += 1
    assert all(v > 0 for v in seen.values()), seen


def test_member_path_parses_payload_containing_the_delimiter(spark):
    """The framing caveat is RETIRED on the member path: a response
    body containing the textual record delimiter (``WARC/1.0\\r\\n``
    after a blank line) parses byte-exactly, because members frame
    records and Content-Length frames the block — no textual split
    anywhere. The old string-split path provably mis-frames the same
    payload."""
    from pyspark.sql import functions as F
    from toymapreduce_go_spark.operators.warc_extract import (
        _join_members, parse_warc_gz_records, warc_gz_members_from_pages)

    evil = ("before\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n"
            "fake headers\r\n\r\nafter ending in CRLF\r\n\r\n")
    pages = spark.createDataFrame(
        [("s0", 0, "http://h/x", evil),
         ("s0", 1, "http://h/y", "plain page"),
         ("s0", 2, "http://h/z", None)],
        "source string, doc_id long, uri string, html string")
    members = warc_gz_members_from_pages(pages)
    per_file = (members.groupBy("source")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "gz"))),
                    lambda s: s["gz"]).alias("members")))
    gz = per_file.mapInPandas(_join_members,
                              "source string, warc_gz binary")
    got = {r["doc_id"]: r for r in parse_warc_gz_records(gz).collect()}
    assert got[0]["html"] == evil and got[0]["length_ok"] is True
    assert got[1]["html"] == "plain page"
    assert got[2]["html"] is None and got[2]["length_ok"] is True


def test_member_path_guards_raise_loudly():
    """Unit-level guards on the member parser: a corrupt gzip RESPONSE
    BODY raises naming the doc and source (zlib CRC validation); a
    Content-Length lie and a mis-framed chunked body flag
    length_ok=False (the consuming rollup's _guarded_text raises on
    it); a non-WARC member raises."""
    import gzip

    import pytest

    from toymapreduce_go_spark.operators.warc_extract import (
        _http_block, _parse_member_record)

    def rec_for(doc_id, http):
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Record-ID: urn:doc:" + str(doc_id).encode()
                + b"\r\nWARC-Target-URI: http://h/x\r\n"
                b"Content-Length: " + str(len(http)).encode()
                + b"\r\n\r\n" + http + b"\r\n\r\n")

    # corrupt gzipped body
    http = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
            + b"\x1f\x8b" + b"garbage-not-gzip")
    with pytest.raises(ValueError, match="doc 7 in source sX"):
        _parse_member_record("sX", 0, rec_for(7, http))

    # length lie -> length_ok False, never an exception
    good = _http_block(0, "hello")
    lie = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Record-ID: urn:doc:0\r\n"
           b"WARC-Target-URI: http://h/x\r\n"
           b"Content-Length: " + str(len(good) + 2).encode()
           + b"\r\n\r\n" + good + b"\r\n\r\n")
    out = _parse_member_record("sX", 0, lie)
    assert out[4] is False

    # mis-framed chunked body (size line lies about the chunk length)
    bad_chunk = (b"HTTP/1.1 200 OK\r\n"
                 b"Transfer-Encoding: chunked\r\n\r\n"
                 b"a\r\nhello\r\n0\r\n\r\n")
    out = _parse_member_record("sX", 0, rec_for(1, bad_chunk))
    assert out[4] is False

    # decode ORDER is load-bearing: gzip-then-chunk (the RFC 9112
    # composition) parses; the reverse construction cannot (the
    # chunked framing would be inside the gzip stream)
    comp = _http_block(4, "composed body " * 20)   # doc 4 -> both
    out = _parse_member_record("sX", 0, rec_for(4, comp))
    assert out[3] == "composed body " * 20 and out[4] is True

    with pytest.raises(ValueError, match="not a WARC/1.0 record"):
        _parse_member_record("sX", 3, b"not a record at all")


def test_member_dechunker_matches_the_sql_folds_acceptance():
    """review r13: the byte dechunker's post-terminator surface equals
    the SQL fold's — trailer field lines (terminated or not) pass,
    anything else after the 0 chunk is garbage and flags; the old
    split()[:-1] silently dropped an unterminated garbage tail."""
    from toymapreduce_go_spark.operators.warc_extract import (
        _dechunk_body)

    ok = lambda b: _dechunk_body(b)[1]  # noqa: E731
    assert ok(b"5\r\nhello\r\n0\r\n\r\n") is True
    assert ok(b"5\r\nhello\r\n0\r\nX-T: v\r\n\r\n") is True
    assert ok(b"5\r\nhello\r\n0\r\nX-T: v") is True    # fold-equal
    assert ok(b"5\r\nhello\r\n0\r\njunk") is False
    assert ok(b"5\r\nhello\r\n0\r\nX-T: v\r\njunk no colon") is False
    assert _dechunk_body(b"5\r\nhello\r\n0\r\n\r\n")[0] == b"hello"


def test_member_parser_names_missing_foreign_headers():
    """review r13: a spec-valid foreign record (urn:uuid record id, or
    a missing Content-Length) raises the module's descriptive
    ValueError naming the member and source — never an opaque
    AttributeError from inside the pandas UDF."""
    import pytest

    from toymapreduce_go_spark.operators.warc_extract import (
        _parse_member_record)

    uuid_rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Record-ID: <urn:uuid:1234>\r\n"
                b"WARC-Target-URI: http://h/x\r\n"
                b"Content-Length: 5\r\n\r\nhello\r\n\r\n")
    with pytest.raises(ValueError,
                       match="member 3 in source sX.*WARC-Record-ID"):
        _parse_member_record("sX", 3, uuid_rec)
    no_len = (b"WARC/1.0\r\nWARC-Type: response\r\n"
              b"WARC-Record-ID: urn:doc:1\r\n"
              b"WARC-Target-URI: http://h/x\r\n\r\nhello\r\n\r\n")
    with pytest.raises(ValueError, match="Content-Length"):
        _parse_member_record("sX", 0, no_len)


def test_revisit_cycle_round_trip_and_rebuild_equality(spark):
    """ISO 28500 §6.7.2 revisit records (r13 verdict item 4): the
    refetch cycle stores unchanged pages as revisit records (refers-to
    + payload digest, headers-only block) and changed pages as full
    responses; parsing back recovers both classes losslessly; and
    rebuilding the corpus from responses₁ + cycle-2 records EQUALS the
    re-store-everything corpus — the container form of the 304
    accounting. The legacy 5-column parser skips revisit records the
    way it skips warcinfo."""
    from toymapreduce_go_spark.operators.sitemaps import FETCH_DAY_MULT
    from toymapreduce_go_spark.operators.warc_extract import (
        _payload_digest, parse_warc_gz_records, parse_warc_gz_records_full,
        rebuild_from_revisits, synthesize_warc_gz_files,
        synthesize_warc_gz_refetch)
    from toymapreduce_go_spark.sources.registry import load_table
    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    cycle1 = parse_warc_gz_records(synthesize_warc_gz_files(docs))
    refetch_gz = synthesize_warc_gz_refetch(docs)
    cycle2 = parse_warc_gz_records_full(refetch_gz)
    rows = cycle2.collect()
    assert rows and all(r["length_ok"] for r in rows)
    base = {r["doc_id"]: r["html"] for r in cycle1.collect()}
    seen = set()
    n_rev = n_resp = 0
    for r in rows:
        seen.add(r["doc_id"])
        page = r["doc_id"] // 4
        changed = (page % 365) > (page * FETCH_DAY_MULT) % 365
        if changed:
            assert r["record_type"] == "response"
            assert r["html"] == base[r["doc_id"]]
            assert r["refers_to"] is None and r["digest"] is None
            n_resp += 1
        else:
            assert r["record_type"] == "revisit"
            assert r["html"] is None
            assert r["refers_to"] == r["doc_id"]
            assert r["digest"] == _payload_digest(base[r["doc_id"]])
            n_rev += 1
    assert seen == set(base) and n_rev > 0 and n_resp > 0
    # the legacy parser sees ONLY the full responses
    legacy = parse_warc_gz_records(refetch_gz).collect()
    assert {r["doc_id"] for r in legacy} \
        == {r["doc_id"] for r in rows if r["record_type"] == "response"}
    # rebuild equality: resolving revisits against the prior archive
    # reproduces the full corpus byte-for-byte
    rebuilt = {r["doc_id"]: r["html"] for r in
               rebuild_from_revisits(cycle1, cycle2).collect()}
    assert rebuilt == base


def test_revisit_digest_mismatch_raises(spark):
    """A revisit whose stored payload digest does not match the
    referred record's actual body raises loudly inside the rebuild —
    wrong content can never silently substitute."""
    import pytest
    from pyspark.sql import functions as F

    from toymapreduce_go_spark.operators.warc_extract import (
        parse_warc_gz_records, parse_warc_gz_records_full,
        rebuild_from_revisits, synthesize_warc_gz_files,
        synthesize_warc_gz_refetch)
    from toymapreduce_go_spark.sources.registry import load_table
    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(64)
    cycle1 = parse_warc_gz_records(synthesize_warc_gz_files(docs))
    cycle2 = parse_warc_gz_records_full(
        synthesize_warc_gz_refetch(docs))
    bad = cycle2.withColumn(
        "digest",
        F.when(F.col("record_type") == "revisit",
               F.lit("sha1:0000000000000000000000000000000000000000"))
        .otherwise(F.col("digest")))
    with pytest.raises(Exception, match="payload digest mismatch"):
        rebuild_from_revisits(cycle1, bad).collect()


def test_revisit_records_are_the_container_form_of_revalidation(spark):
    """The r13 verdict's framing made explicit: the refetch cycle's
    revisit/response split IS the revalidation accounting's 304/200
    split in container form — for every crawled page,
    recrawl_revalidation says 304 exactly when the refetch archive
    stores revisit records for that page's documents, and says 200
    exactly when it stores full responses; the per-host revisit doc
    counts reconcile with n_304 × the quad width."""
    from toymapreduce_go_spark.operators.sitemaps import (
        recrawl_revalidation)
    from toymapreduce_go_spark.operators.warc_extract import (
        parse_warc_gz_records_full, synthesize_warc_gz_refetch)
    from toymapreduce_go_spark.sources.registry import load_table
    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    refetch = parse_warc_gz_records_full(
        synthesize_warc_gz_refetch(docs)).collect()
    by_page: dict[int, set] = {}
    for r in refetch:
        by_page.setdefault(r["doc_id"] // 4, set()).add(r["record_type"])
    # one verdict per page: a page's documents never mix classes
    assert all(len(v) == 1 for v in by_page.values())
    reval = {r["domain"]: r for r in recrawl_revalidation(docs).collect()}
    # recrawl_revalidation covers CRAWLED pages (page % 3 != 0);
    # reconcile its per-host 304/200 with the archive's record classes
    host_rev: dict[str, int] = {}
    host_resp: dict[str, int] = {}
    for page, kinds in by_page.items():
        if page % 3 == 0:
            continue
        dom = f"www.site{page % 16}.example.com"
        if kinds == {"revisit"}:
            host_rev[dom] = host_rev.get(dom, 0) + 1
        else:
            host_resp[dom] = host_resp.get(dom, 0) + 1
    assert {d: r["n_304"] for d, r in reval.items() if r["n_304"]} \
        == host_rev
    assert {d: r["n_200"] for d, r in reval.items() if r["n_200"]} \
        == host_resp
