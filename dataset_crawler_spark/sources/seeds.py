"""Seed-list source (S1, SURVEY.md §2.1).

Twin of the reference's TSV seed parsing — ``id \\t endpoint_url \\t
description`` per line, malformed (<3 field) lines skipped, file order = crawl
order (IncrementalDatasetCrawler.java:129-149; README.md:60-66) — as a
DataFrame scan. ``seed_rank`` preserves the load-bearing file order via a
line-number window (the file is tiny: one row per dataset/host).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_seed_list(spark: SparkSession, path: str) -> DataFrame:
    """(seed_rank, seed_id, url, description) — file order pinned."""
    raw = spark.read.text(path).select(
        F.monotonically_increasing_id().alias("_line_no"), F.col("value")
    )
    parts = F.split(F.col("value"), "\t")
    parsed = raw.select(
        "_line_no",
        parts.getItem(0).alias("seed_id"),
        parts.getItem(1).alias("url"),
        parts.getItem(2).alias("description"),
        F.size(parts).alias("_n"),
    ).where(
        # malformed-seed filter (P2): <3 tab fields, empty id/url
        (F.col("_n") >= 3) & (F.length("seed_id") > 0) & (F.length("url") > 0)
    )
    w = Window.orderBy("_line_no")
    return parsed.select(
        (F.row_number().over(w) - 1).alias("seed_rank"),
        "seed_id",
        "url",
        "description",
    )

