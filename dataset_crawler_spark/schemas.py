"""Engine schemas.

The primary input shape is the interleaved text+media document table
(BASELINE.json ``input_hint``), generalizing the reference's
``resource_instances`` + ordered ``resource_values`` EAV model
(/root/reference/ld_crawler_schema.sql:315-323, 393-403;
entities/Resource.java:12 — insertion-ordered value list → ``offset``).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def empty_df(spark, schema: T.StructType):
    """A statically-empty DataFrame with ``schema``.

    Built from ``range(0)`` + typed null casts so the optimizer folds it to an
    empty ``LocalRelation`` — which lets plan-shape checks (e.g. the diff
    bootstrap fast path, operators/diff.py) prove emptiness WITHOUT running a
    job. ``createDataFrame([], schema)`` would instead produce a LogicalRDD
    whose emptiness is invisible to Catalyst.
    """
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )

# One span ≈ one resource_value row (property_uri → kind, value → text) or one
# media attachment; ``offset`` pins the order the reference kept implicitly in
# its ArrayList (entities/Resource.java:12).
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

# frontier: the scheduler's work queue (≈ seed file + crawl_setups,
# ld_crawler_schema.sql:70-77).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), nullable=False),
        T.StructField("host", T.StringType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("discovered_crawl_id", T.IntegerType()),
        T.StructField("seed_rank", T.IntegerType()),
        T.StructField("state", T.StringType()),  # pending|fetched|failed|excluded
    ]
)

# lineage: the change-capture output, analog of the reference's seven *_log
# tables (ld_crawler_schema.sql:256-266, 374-383) collapsed into one stream.
SPAN_OP = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("op", T.StringType()),  # added|deleted
    ]
)
LINEAGE = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("crawl_id", T.IntegerType(), nullable=False),
        T.StructField("op", T.StringType(), nullable=False),  # added|updated|deleted
        T.StructField("span_ops", T.ArrayType(SPAN_OP)),
        T.StructField("partition_id", T.IntegerType()),
    ]
)

LOG_ADDED = "added"
LOG_UPDATED = "updated"
LOG_DELETED = "deleted"

#: per-operation status vocabulary of the fetch stage and the ops log
#: (database_operations/CrawlerLogs.java:30-48: success|error|exception|
#: time_out per request).
OP_SUCCESS, OP_ERROR, OP_EXCEPTION, OP_TIMEOUT = "success", "error", "exception", "time_out"

#: conditional-GET outcome beyond the reference's vocabulary: the server
#: answered 304 Not Modified to our validators, so the stored document is
#: current and no body crossed the wire. Not a failure (never retried, never
#: counts against a host's budget) and not a plain success (nothing to diff).
OP_NOT_MODIFIED = "not_modified"

#: a 3xx surfaced instead of followed (http_fetch ``follow_redirects=False``):
#: the row's spans carry one kind='redirect' span whose media_ref is the
#: absolute target. Not a failure and not a document: the redirecting URL
#: enters the seen set, and its target enters the NEXT round's discovered
#: frontier through the same canonicalize → seen-filter → robots →
#: politeness path as any outlink — so chains resolve one hop per closure
#: round and cap at the loop's round limit.
OP_REDIRECT = "redirect"
