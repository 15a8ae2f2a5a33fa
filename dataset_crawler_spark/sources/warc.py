"""WARC source — web-archive records → interleaved documents.

The reference crawls live endpoints only; a web-scale training-data pipeline
ingests mostly ARCHIVED crawls (Common Crawl ships WARC — ISO 28500), so this
source closes that gap. It is deliberately RELATIONAL: records are split by
the file reader itself (``spark.read.text`` with the record marker as
``lineSep``) and every field is extracted with built-in expressions — the
whole parse stays inside WholeStageCodegen, no Python in the path, and a
1000-file Common Crawl segment parallelizes file-per-task like any text scan.

Format recap (ISO 28500): each record starts with ``WARC/<version>\\r\\n``,
then WARC headers, ``\\r\\n\\r\\n``, then the payload, then the mandatory
record terminator ``\\r\\n\\r\\n``; ``response`` records carry a full HTTP
response (status line + headers + ``\\r\\n\\r\\n`` + body). The split marker
is the full inter-record boundary ``\\r\\n\\r\\nWARC/1.`` — the spec-mandated
block-terminating blank line plus the version-family prefix — so WARC/1.0
and WARC/1.1 files (wget/warcio default to 1.1) split identically, and a
payload merely CONTAINING ``WARC/1.x`` (prose, a mid-line mention, even a
line starting with it) cannot split a record: a false split needs a blank
line immediately followed by ``WARC/1.`` at line start inside a payload.
Each record after the first keeps a remnant minor-version line (``0\\r\\n``
/ ``1\\r\\n``) at the head of its header block, which is parsed with
multiline anchors; the first record keeps its full ``WARC/1.x`` line —
equally harmless. Splitting on the boundary instead of walking
Content-Length is the one simplification (the residual false-split is
detectable as a record with no ``WARC-Type``); the trade buys a fully
relational, splittable scan. Gzipped
``.warc.gz`` inputs work through Spark's codec support but are
one-task-per-file (gzip is unsplittable) — Common Crawl's ~1 GB shard
convention makes file-level parallelism the real axis there, same as every
other consumer.

Document mapping (interleaved schema): ``doc_id`` = WARC-Target-URI; textual
payloads (text/*, html, json, xml) become one ``kind='text'`` span holding
the body; every other content type becomes a ``kind=<major type>`` media
span pointing at the target URI (``media_ref``) with no text — decoding is
left to a downstream media stage, matching the binary-column design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# inter-record boundary: the record-terminating blank line + version-family
# prefix — matches WARC/1.0 and WARC/1.1 heads alike, never a bare payload
# mention of "WARC/1.x" (which lacks the preceding \r\n\r\n)
RECORD_MARKER = "\r\n\r\nWARC/1."

_TEXTUAL = ("text/", "application/json", "application/xml", "application/xhtml")


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Parse WARC file(s) → one row per record:
    (file_path, warc_type, target_uri, warc_date, record_id, http_status,
    content_type, body). Non-HTTP records (warcinfo, metadata) carry their
    raw payload in ``body`` with null http fields."""
    raw = spark.read.text(path, lineSep=RECORD_MARKER).select(
        F.col("_metadata.file_path").alias("file_path"), "value"
    )
    rec = raw.where(F.length(F.trim(F.col("value"))) > 0)

    parts = F.split(F.col("value"), "\r\n\r\n", 3)
    wh = parts.getItem(0)

    def whdr(name: str):
        return F.nullif(
            F.regexp_extract(wh, rf"(?m)^{name}:\s*(\S+)", 1), F.lit("")
        )

    rec = rec.select(
        "file_path",
        whdr("WARC-Type").alias("warc_type"),
        whdr("WARC-Target-URI").alias("target_uri"),
        whdr("WARC-Date").alias("warc_date"),
        whdr("WARC-Record-ID").alias("record_id"),
        parts.getItem(1).alias("_p1"),
        parts.getItem(2).alias("_p2"),
    )
    is_http = F.col("_p1").rlike(r"^HTTP/\d\.\d\s+\d{3}")
    http_status = F.when(
        is_http, F.regexp_extract("_p1", r"^HTTP/\d\.\d\s+(\d{3})", 1).cast("int")
    )
    content_type = F.when(
        is_http,
        F.nullif(
            F.lower(F.regexp_extract("_p1", r"(?mi)^Content-Type:\s*([^;\r\n]+)", 1)),
            F.lit(""),
        ),
    )
    # payload: after the HTTP header block for http records, else the first
    # block; WARC mandates \r\n\r\n between records — strip that trailer
    body = F.regexp_replace(
        F.when(is_http, F.coalesce(F.col("_p2"), F.lit(""))).otherwise(
            F.coalesce(F.col("_p1"), F.lit(""))
        ),
        r"(\r\n)+$",
        "",
    )
    return rec.select(
        "file_path",
        "warc_type",
        "target_uri",
        "warc_date",
        "record_id",
        http_status.alias("http_status"),
        content_type.alias("content_type"),
        body.alias("body"),
    )


def warc_to_documents(
    spark: SparkSession, path: str, extract_text: bool = False
) -> DataFrame:
    """WARC file(s) → interleaved documents (doc_id, spans): 2xx ``response``
    records only (the fetched-page set — request/metadata/warcinfo records
    are transport bookkeeping). Textual bodies become a text span; other
    content types become a typed media span for a downstream decode stage.

    ``extract_text=True`` runs the WET projection on HTML bodies
    (functions/html.py html_to_text — drop script/style/head blocks, strip
    tags, decode entities, normalize whitespace) so the text span carries
    the visible text instead of markup; non-HTML textual bodies (json,
    n-triples, plain text) pass through untouched. Still a pure codegen
    projection fused into the WARC scan."""
    r = read_warc(spark, path).where(
        (F.col("warc_type") == "response")
        & F.col("target_uri").isNotNull()
        & (F.col("http_status") >= 200)
        & (F.col("http_status") < 300)
    )
    # startswith-any as one boolean (stays in codegen)
    textual = F.lit(False)
    for t in _TEXTUAL:
        textual = textual | F.coalesce(F.col("content_type").startswith(t), F.lit(False))

    body = F.col("body")
    if extract_text:
        from dataset_crawler_spark.functions.html import html_to_text

        is_html = F.lit(False)
        for t in ("text/html", "application/xhtml"):
            is_html = is_html | F.coalesce(
                F.col("content_type").startswith(t), F.lit(False)
            )
        body = F.when(is_html, html_to_text(body)).otherwise(body)
    text_span = F.struct(
        F.lit("text").alias("kind"),
        body.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    media_span = F.struct(
        F.coalesce(F.split(F.col("content_type"), "/").getItem(0), F.lit("binary")).alias(
            "kind"
        ),
        F.lit(None).cast("string").alias("text"),
        F.col("target_uri").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    return r.select(
        F.col("target_uri").alias("doc_id"),
        F.array(F.when(textual, text_span).otherwise(media_span)).alias("spans"),
    )


def write_warc(
    docs: DataFrame,
    path: str,
    warc_date: str = "2026-01-01T00:00:00Z",
    n_files: int = 8,
    default_content_type: str = "text/plain",
) -> dict:
    """WARC sink: corpus state → spec-shaped WARC/1.1 ``response`` records —
    the archival artifact every crawl ecosystem exchanges (Common Crawl,
    Heritrix, wget --warc), closing the loop read_warc opens: a crawl run
    by THIS engine can be handed to any WARC consumer, and
    ``read_warc(write_warc(x)) == x`` is pinned by tests.

    ``docs``: (doc_id, text) or interleaved (doc_id, spans) — spans are
    flattened with the trainer-facing projection (text spans in offset
    order). Optional per-row columns override constants when present:
    ``content_type``, ``http_status`` (defaults 200), ``warc_date``.

    Record shape (ISO 28500): WARC header (Type/Record-ID/Date/Target-URI/
    Content-Type: application/http/Content-Length in BYTES) + CRLF CRLF +
    HTTP status line + headers + CRLF CRLF + body; the text writer's
    ``lineSep="\\r\\n\\r\\n"`` terminator supplies the mandated two-CRLF
    record trailer, so a Content-Length-walking reader and this module's
    marker-splitting reader both parse the output. Record IDs are
    deterministic ``urn:uuid`` values derived from md5(target-uri, date) —
    same corpus + same date ⇒ byte-identical files (no RNG, no wall-clock),
    matching the export-shards determinism contract.

    Scale shape (100 TB): record serialization is pure codegen (concat /
    format_string / octet_length — no Python anywhere); exactly one
    exchange (the repartition to ``n_files`` writer tasks, hashed on doc_id
    so no file is hot); one sorted file per task. CR/LF are stripped from
    header-bound fields so a hostile URI cannot smuggle a header line; a
    BODY containing the inter-record marker is the reader's one documented
    false-split caveat (detectable: split fragment with no WARC-Type).

    Returns {"n_records", "n_files"} via ``observe`` (no extra pass, no
    persist of the serialized records).
    """
    from pyspark.sql import Observation

    if "spans" in docs.columns and "text" not in docs.columns:
        from dataset_crawler_spark.sources.training_export import spans_to_text

        # media-only docs (the warc_to_documents shape for images/audio/
        # video: one media span, no text) round-trip through the content
        # type: export as "<kind>/unknown" with an empty body, so re-ingest
        # maps them straight back to the same media span (the bytes were
        # never stored — decoding is a downstream media stage's job). A doc with
        # BOTH text and media spans exports its flattened text; a single
        # response record has one content type, so inline media refs ride
        # the text, not the header — the one lossy case, by ISO mapping.
        derived_ct = F.when(
            ~F.expr("exists(spans, s -> s.kind = 'text')"),
            F.concat(
                F.expr("filter(spans, s -> s.kind != 'text')[0].kind"),
                F.lit("/unknown"),
            ),
        )
        docs = docs.withColumn("_derived_ct", derived_ct)
        keep = [c for c in docs.columns if c != "spans"]
        docs = spans_to_text(docs.select("doc_id", "spans")).join(
            docs.select(*keep), "doc_id"
        )
        if "content_type" in keep:
            docs = docs.withColumn(
                "content_type", F.coalesce("content_type", "_derived_ct")
            ).drop("_derived_ct")
        else:
            docs = docs.withColumnRenamed("_derived_ct", "content_type")

    def hdr_safe(c):  # header values must be single-line
        return F.regexp_replace(c.cast("string"), "[\\r\\n]", "")

    uri = hdr_safe(F.col("doc_id"))
    date = hdr_safe(
        F.col("warc_date") if "warc_date" in docs.columns else F.lit(warc_date)
    )
    ctype = hdr_safe(
        F.coalesce(
            F.col("content_type") if "content_type" in docs.columns else F.lit(None),
            F.lit(default_content_type),
        )
    )
    if "http_status" in docs.columns:
        status = F.coalesce(F.col("http_status").cast("int"), F.lit(200))
        # reason phrase: canonical for the codes the engine emits, else
        # empty (status-line grammar allows an empty reason after the SP)
        reason = (
            F.when(status == 200, F.lit("OK"))
            .when(status == 301, F.lit("Moved Permanently"))
            .when(status == 302, F.lit("Found"))
            .when(status == 304, F.lit("Not Modified"))
            .when(status == 404, F.lit("Not Found"))
            .otherwise(F.lit(""))
        )
    else:
        status, reason = F.lit(200), F.lit("OK")
    body = F.coalesce(F.col("text"), F.lit(""))

    crlf = "\r\n"
    http_block = F.concat(
        F.format_string("HTTP/1.1 %d ", status),
        reason,
        F.lit(crlf + "Content-Type: "),
        ctype,
        F.format_string(crlf + "Content-Length: %d" + crlf + crlf,
                        F.octet_length(body)),
        body,
    )
    # deterministic urn:uuid (md5 of identity fields, 8-4-4-4-12)
    m = F.md5(F.concat_ws(" ", uri, date))
    record_id = F.concat_ws(
        "-",
        F.substring(m, 1, 8),
        F.substring(m, 9, 4),
        F.substring(m, 13, 4),
        F.substring(m, 17, 4),
        F.substring(m, 21, 12),
    )
    record = F.concat(
        F.lit("WARC/1.1" + crlf + "WARC-Type: response" + crlf
              + "WARC-Record-ID: <urn:uuid:"),
        record_id,
        F.lit(">" + crlf + "WARC-Date: "),
        date,
        F.lit(crlf + "WARC-Target-URI: "),
        uri,
        F.lit(crlf + "Content-Type: application/http; msgtype=response"
              + crlf + "Content-Length: "),
        F.octet_length(http_block).cast("string"),
        F.lit(crlf + crlf),
        http_block,
    )

    obs = Observation("write_warc")
    records = (
        docs.select(record.alias("value"), F.col("doc_id"))
        .repartition(max(n_files, 1), "doc_id")
        .sortWithinPartitions("doc_id")
        .select("value")
        .observe(obs, F.count(F.lit(1)).alias("n_records"))
    )
    records.write.mode("overwrite").option("lineSep", crlf + crlf).text(path)
    return {"n_records": int(obs.get["n_records"]), "n_files": max(n_files, 1)}
