"""WARC source: record splitting, header/payload extraction, document
mapping (text vs media spans), multi-file + gzip reads."""

from __future__ import annotations

import gzip
import re

from pyspark.sql import functions as F

from dataset_crawler_spark.sources.warc import read_warc, warc_to_documents

# every Python execution node Spark plans: (Arrow|Batch)EvalPython,
# PythonMapInArrow, MapInPandas, FlatMap(Co)GroupsInPandas, ...
PY_STAGES = r"Python|InPandas"


def _record(
    warc_type: str, uri: str | None, payload: str, rec_id: str,
    version: str = "1.0",
) -> str:
    h = [f"WARC-Type: {warc_type}"]
    if uri:
        h.append(f"WARC-Target-URI: {uri}")
    h += [
        "WARC-Date: 2026-01-02T03:04:05Z",
        f"WARC-Record-ID: <urn:uuid:{rec_id}>",
        f"Content-Length: {len(payload)}",
    ]
    return f"WARC/{version}\r\n" + "\r\n".join(h) + "\r\n\r\n" + payload + "\r\n\r\n"


def _http(status: str, ctype: str, body: str) -> str:
    return (
        f"HTTP/1.1 {status}\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n{body}"
    )


HTML_BODY = "<html><body>hello warc\r\n\r\nsecond paragraph</body></html>"

WARC_A = (
    _record("warcinfo", None, "software: test-fixture 0.1", "aaaa0000")
    + _record(
        "request", "http://ex.org/page1", "GET /page1 HTTP/1.1\r\nHost: ex.org\r\n", "aaaa0001"
    )
    + _record(
        "response", "http://ex.org/page1", _http("200 OK", "text/html; charset=utf-8", HTML_BODY),
        "aaaa0002",
    )
    + _record(
        "response", "http://ex.org/img7", _http("200 OK", "image/jpeg", "\x01\x02JFIFdata"),
        "aaaa0003",
    )
    + _record(
        "response", "http://ex.org/gone", _http("404 Not Found", "text/html", "nope"),
        "aaaa0004",
    )
)

WARC_B = _record(
    "response", "http://ex.org/doc.json", _http("200 OK", "application/json", '{"k": 1}'),
    "bbbb0000",
)


def test_read_warc_records_and_fields(spark, tmp_path):
    p = tmp_path / "a.warc"
    p.write_text(WARC_A)
    rows = {r.record_id: r for r in read_warc(spark, str(p)).collect()}
    assert len(rows) == 5
    info = rows["<urn:uuid:aaaa0000>"]
    assert info.warc_type == "warcinfo" and info.target_uri is None
    assert info.http_status is None and info.body == "software: test-fixture 0.1"

    page = rows["<urn:uuid:aaaa0002>"]
    assert page.warc_type == "response"
    assert page.target_uri == "http://ex.org/page1"
    assert page.http_status == 200 and page.content_type == "text/html"
    # body preserved exactly, including its INTERNAL \r\n\r\n (split limit 3)
    assert page.body == HTML_BODY

    assert rows["<urn:uuid:aaaa0004>"].http_status == 404


def test_warc_to_documents_text_and_media(spark, tmp_path):
    (tmp_path / "a.warc").write_text(WARC_A)
    (tmp_path / "b.warc").write_text(WARC_B)
    docs = {r.doc_id: r.spans for r in
            warc_to_documents(spark, str(tmp_path)).collect()}
    # 2xx responses only: request/warcinfo/404 records are dropped
    assert set(docs) == {"http://ex.org/page1", "http://ex.org/img7", "http://ex.org/doc.json"}

    (s,) = docs["http://ex.org/page1"]
    assert (s.kind, s.text, s.media_ref, s.offset) == ("text", HTML_BODY, None, 0)

    (s,) = docs["http://ex.org/img7"]
    assert (s.kind, s.text, s.media_ref, s.offset) == (
        "image", None, "http://ex.org/img7", 0
    )

    (s,) = docs["http://ex.org/doc.json"]
    assert s.kind == "text" and s.text == '{"k": 1}'


def test_warc_1_1_and_mixed_versions(spark, tmp_path):
    """WARC/1.1 files (wget/warcio default, valid ISO 28500) must split into
    records exactly like 1.0 — the round-3 marker matched only the literal
    1.0 head, collapsing a 1.1 file into a single row. Mixed-version files
    (re-packed archives) parse too."""
    recs_11 = (
        _record("warcinfo", None, "software: wget", "cccc0000", version="1.1")
        + _record(
            "response", "http://ex.org/v11-a",
            _http("200 OK", "text/plain", "one one"), "cccc0001", version="1.1",
        )
        + _record(
            "response", "http://ex.org/v11-b",
            _http("200 OK", "text/plain", "two"), "cccc0002", version="1.1",
        )
    )
    p = tmp_path / "v11.warc"
    p.write_text(recs_11)
    rows = read_warc(spark, str(p)).collect()
    assert len(rows) == 3  # NOT one collapsed row
    docs = {r.doc_id: r.spans for r in warc_to_documents(spark, str(p)).collect()}
    assert set(docs) == {"http://ex.org/v11-a", "http://ex.org/v11-b"}
    (s,) = docs["http://ex.org/v11-a"]
    assert (s.kind, s.text) == ("text", "one one")

    mixed = tmp_path / "mixed.warc"
    mixed.write_text(
        _record("response", "http://ex.org/old",
                _http("200 OK", "text/plain", "v10 body"), "dddd0000")
        + recs_11
    )
    got = {r.doc_id for r in warc_to_documents(spark, str(mixed)).collect()}
    assert got == {"http://ex.org/old", "http://ex.org/v11-a", "http://ex.org/v11-b"}


def test_warc_payload_mentioning_warc_version_not_split(spark, tmp_path):
    """A payload that merely CONTAINS ``WARC/1.x`` — mid-line prose or even
    at the start of a line — must not split its record: the marker is the
    full inter-record boundary (blank line + ``WARC/1.``), which a body can
    only fake with a blank line immediately followed by the version prefix."""
    body = "stored in WARC/1.1 format\r\nWARC/1.0 at line start\r\nmore text"
    warc = (
        _record("response", "http://ex.org/meta",
                _http("200 OK", "text/plain", body), "eeee0000")
        + _record("response", "http://ex.org/next",
                  _http("200 OK", "text/plain", "after"), "eeee0001")
    )
    p = tmp_path / "mention.warc"
    p.write_text(warc)
    rows = {r.target_uri: r for r in read_warc(spark, str(p)).collect()}
    assert set(rows) == {"http://ex.org/meta", "http://ex.org/next"}
    assert rows["http://ex.org/meta"].body == body
    assert rows["http://ex.org/next"].body == "after"


def test_warc_gzip_read(spark, tmp_path):
    with gzip.open(tmp_path / "a.warc.gz", "wt") as fh:
        fh.write(WARC_A)
    n = warc_to_documents(spark, str(tmp_path / "a.warc.gz")).count()
    assert n == 2  # same 2xx responses as the plain file


def test_warc_scan_is_codegen_only(spark, tmp_path):
    """The parse must stay JVM-side: no Python eval nodes in the plan."""
    (tmp_path / "a.warc").write_text(WARC_A)
    df = warc_to_documents(spark, str(tmp_path / "a.warc"))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(PY_STAGES, plan) is None


def test_warc_roundtrip_property(spark, tmp_path):
    """Property: serialize arbitrary records → read_warc recovers every
    field and the exact payload (modulo the documented marker caveat —
    payloads containing a literal record marker are excluded, as in the
    module docstring)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    payload = st.text(
        alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
        min_size=0, max_size=300,
    ).filter(lambda s: "\r\n\r\nWARC/1." not in s and not s.endswith("\r\n"))
    slug = st.text(alphabet="abcdefghij0123456789", min_size=1, max_size=12)

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.lists(st.tuples(slug, payload), min_size=1, max_size=6, unique_by=lambda t: t[0]))
    def roundtrip(docs):
        warc = "".join(
            _record("response", f"http://ex.org/{s}",
                    _http("200 OK", "text/plain", body), f"id-{s}")
            for s, body in docs
        )
        p = tmp_path / "prop.warc"
        p.write_text(warc)
        got = {r.target_uri: r for r in read_warc(spark, str(p)).collect()}
        assert len(got) == len(docs)
        for s, body in docs:
            r = got[f"http://ex.org/{s}"]
            assert r.warc_type == "response"
            assert r.http_status == 200
            # regexp trailer strip removes record-separator CRLFs only;
            # generator excludes payloads ending in \r\n so equality is exact
            assert r.body == body

    roundtrip()


def test_warc_wet_extraction(spark, tmp_path):
    """extract_text=True runs the WET projection on HTML responses only:
    script/style/head blocks vanish, tags strip to spaces, entities decode,
    whitespace normalizes — while JSON/plain bodies pass through untouched
    and the plan stays pure codegen (no Python stage)."""
    import re

    page = (
        "<html><head><title>t</title><style>p {color:red}</style>"
        '<script>var x = "1";</script></head>'
        "<body><h1>Big&nbsp;News</h1><!-- secret --><p>alpha</p>"
        "<p>beta &amp; gamma</p></body></html>"
    )
    warc = (
        _record("response", "http://ex.org/html", _http("200 OK", "text/html", page), "cccc0000")
        + _record(
            "response", "http://ex.org/raw.json",
            _http("200 OK", "application/json", '{"k": 1}'), "cccc0001",
        )
    )
    p = tmp_path / "wet.warc"
    p.write_text(warc)

    docs = warc_to_documents(spark, str(p), extract_text=True)
    got = {r.doc_id: r.spans[0].text for r in docs.collect()}
    assert got["http://ex.org/html"] == "Big News alpha beta & gamma"
    assert got["http://ex.org/raw.json"] == '{"k": 1}'

    docs.count()
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"ArrowEvalPython|MapInPandas", plan) is None


def test_html_to_text_entity_order_and_custom_elements(spark):
    """Review-pinned edge cases: escaped entities must single-decode
    ('&amp;lt;' is the VISIBLE text '&lt;', never '<'), and a custom
    element sharing a block tag's name prefix ('<styled-card>') must not
    be swallowed by the style-block eraser."""
    from dataset_crawler_spark.functions.html import html_to_text
    from pyspark.sql import functions as F

    cases = [
        ("<p>&amp;lt;b&amp;gt;</p>", "&lt;b&gt;"),
        ("<p>&amp;amp;</p>", "&amp;"),
        (
            "<styled-card>Buy now</styled-card><p>Details</p><style>.x{}</style>",
            "Buy now Details",
        ),
        ("<template-part>kept</template-part>", "kept"),
        ("<style >gone</style><b>kept</b>", "kept"),  # attr-less w/ space
        ("<style type=x>gone</style>kept", "kept"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "html string")
    got = [r[0] for r in df.select(html_to_text(F.col("html"))).collect()]
    assert got == [w for _, w in cases]


def test_html_extract_is_narrow(spark, tmp_path):
    """Plan contract: the regexp_replace chain fuses into the parquet scan —
    zero exchanges, nothing Python."""
    from dataset_crawler_spark.functions.html import html_to_text

    path = str(tmp_path / "pages")
    spark.createDataFrame(
        [(i, f"<html><head><style>p {{}}</style></head><p>doc {i} &amp;</p></html>")
         for i in range(20)],
        "doc_id long, html string",
    ).write.parquet(path)
    df = spark.read.parquet(path).select("doc_id", html_to_text("html").alias("text"))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert re.search(PY_STAGES, plan) is None


# -- WARC write sink -----------------------------------------------------------


def _walk_warc_bytes(data: bytes):
    """Parse raw WARC bytes the way an EXTERNAL reader does — walk
    Content-Length, demand the two-CRLF trailer — and yield
    (warc_headers, http_block_bytes). Proves the sink's framing against
    the spec, not just against this module's marker-splitting reader."""
    import re as _re

    pos = 0
    while pos < len(data):
        assert data[pos:].startswith(b"WARC/1.1\r\n"), data[pos : pos + 20]
        hdr_end = data.index(b"\r\n\r\n", pos)
        headers = data[pos:hdr_end].decode()
        cl = int(_re.search(r"(?m)^Content-Length: (\d+)$", headers).group(1))
        block = data[hdr_end + 4 : hdr_end + 4 + cl]
        trailer = data[hdr_end + 4 + cl : hdr_end + 4 + cl + 4]
        assert trailer == b"\r\n\r\n", trailer
        yield headers, block
        pos = hdr_end + 4 + cl + 4


def test_write_warc_roundtrip(spark, tmp_path):
    """write_warc → read_warc recovers every document (including unicode
    bodies and a body that MENTIONS the record marker version string
    mid-line), fields are spec-shaped (response type, deterministic
    urn:uuid ids, byte-correct Content-Length), and the raw bytes parse
    under a Content-Length walk."""
    import re

    from dataset_crawler_spark.sources.warc import write_warc

    docs = spark.createDataFrame(
        [
            ("http://ex.org/a", "hello world"),
            ("http://ex.org/b", "unicode éé body"),
            ("http://ex.org/c", "mentions WARC/1.1 mid line"),
            ("http://ex.org/empty", ""),
        ],
        "doc_id string, text string",
    )
    out = tmp_path / "out"
    stats = write_warc(docs, str(out), warc_date="2026-02-03T04:05:06Z", n_files=2)
    assert stats == {"n_records": 4, "n_files": 2}

    back = read_warc(spark, str(out))
    rows = {r.target_uri: r for r in back.collect()}
    assert len(rows) == 4
    for r in rows.values():
        assert r.warc_type == "response"
        assert r.http_status == 200
        assert r.content_type == "text/plain"
        assert r.warc_date == "2026-02-03T04:05:06Z"
        assert re.fullmatch(
            r"<urn:uuid:[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}>", r.record_id
        )
    got = {r.doc_id: r.spans[0].text for r in warc_to_documents(spark, str(out)).collect()}
    assert got == {r.doc_id: r.text for r in docs.collect()}

    # external-reader framing: Content-Length walk over every part file,
    # HTTP-level Content-Length counts BYTES (the éé body is chars+2)
    n = 0
    for f in sorted(out.glob("part-*")):
        for headers, block in _walk_warc_bytes(f.read_bytes()):
            n += 1
            m = re.search(rb"(?m)^Content-Length: (\d+)\r$", block)
            body = block.split(b"\r\n\r\n", 1)[1]
            assert int(m.group(1)) == len(body)
    assert n == 4


def test_write_warc_deterministic(spark, tmp_path):
    """Same corpus + same date ⇒ byte-identical output (no RNG, no
    wall-clock — the export-shards determinism contract)."""
    from dataset_crawler_spark.sources.warc import write_warc

    docs = spark.createDataFrame(
        [(f"http://ex.org/{i}", f"doc {i} body") for i in range(50)],
        "doc_id string, text string",
    )
    a, b = tmp_path / "a", tmp_path / "b"
    write_warc(docs, str(a), n_files=4)
    write_warc(docs, str(b), n_files=4)

    def contents(d):
        return [f.read_bytes() for f in sorted(d.glob("part-*"))]

    ca, cb = contents(a), contents(b)
    assert len(ca) == 4 and ca == cb


def test_write_warc_interleaved_overrides_and_header_safety(spark, tmp_path):
    """Interleaved (doc_id, spans) input flattens text spans in offset
    order; per-row http_status/content_type columns override the defaults
    (404 gets its canonical reason, read back as status 404); CR/LF in a
    hostile doc_id cannot smuggle a header line."""
    from dataset_crawler_spark.sources.warc import write_warc

    span = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    inter = spark.createDataFrame(
        [
            (
                "http://ex.org/two-spans",
                [("text", "second", None, 10), ("text", "first", None, 0)],
                200,
                "text/html",
            ),
            ("http://ex.org/gone", [("text", "nope", None, 0)], 404, "text/html"),
            (
                "http://evil.example/x\r\nWARC-Type: smuggled",
                [("text", "payload", None, 0)],
                200,
                None,
            ),
            # media-only doc (the warc_to_documents shape): no text span —
            # must round-trip back to the SAME media span via the derived
            # "<kind>/unknown" content type, not flatten to empty text
            (
                "http://ex.org/pic.jpg",
                [("image", None, "http://ex.org/pic.jpg", 0)],
                200,
                None,
            ),
        ],
        f"doc_id string, spans {span}, http_status int, content_type string",
    )
    out = tmp_path / "out"
    stats = write_warc(inter, str(out), n_files=1)
    assert stats["n_records"] == 4

    docs_back = {r.doc_id: r.spans for r in warc_to_documents(spark, str(out)).collect()}
    pic = docs_back["http://ex.org/pic.jpg"]
    assert [(s.kind, s.text, s.media_ref, s.offset) for s in pic] == [
        ("image", None, "http://ex.org/pic.jpg", 0)
    ]

    rows = {r.target_uri: r for r in read_warc(spark, str(out)).collect()}
    assert rows["http://ex.org/two-spans"].body == "first second"
    assert rows["http://ex.org/two-spans"].content_type == "text/html"
    assert rows["http://ex.org/gone"].http_status == 404
    # hostile URI: CR/LF stripped, so the smuggle attempt stays on ONE
    # header line in the raw bytes and no record acquired a forged
    # WARC-Type (the reader's \S+ grammar truncates the echo at the space)
    assert all(r.warc_type == "response" for r in rows.values())
    raw = b"".join(f.read_bytes() for f in sorted(out.glob("part-*")))
    assert b"WARC-Target-URI: http://evil.example/xWARC-Type: smuggled\r\n" in raw
    assert b"\r\nWARC-Type: smuggled" not in raw
    assert b"HTTP/1.1 404 Not Found\r\n" in raw
