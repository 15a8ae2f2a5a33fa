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
