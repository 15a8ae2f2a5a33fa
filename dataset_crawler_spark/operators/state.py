"""Snapshot reconstruction from change logs — the read path.

Re-expresses DatasetRepresentation.loadDatasetRepresentation +
CrawlLoadData.loadFullDatasetInformation (range-bounded log folds,
/root/reference/src/main/java/database_operations/CrawlLoadData.java:16-229;
DatasetRepresentation.java:31-58): reconstruct "the table as of round r" from
the append-only lineage + version logs by a last-state-wins fold
(W1-W3, SURVEY.md §2.5).

Inputs:
- ``lineage``:  (doc_id, crawl_id, op, span_ops, partition_id) — all rounds.
- ``versions``: (doc_id, crawl_id, spans) — content captured whenever a doc
  was added/updated in a round (the analog of resource_values rows tagged by
  crawl_id).

The fold is ``max_by(x, crawl_id)`` per doc over rounds ≤ r — one shuffle per
input, both on ``doc_id``; partition pruning on the ``crawl_id`` filter makes
the range read cheap when the logs are written partitioned by round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataset_crawler_spark.schemas import LOG_DELETED


def last_state(lineage: DataFrame, as_of: int | None = None) -> DataFrame:
    """(doc_id, last_op, last_crawl_id) — last-state-wins over crawl logs.

    Twin of ``isResourceDeleted``'s ascending-TreeMap fold
    (CrawlOperations.java:347-357): the log with the highest crawl_id decides.
    """
    lin = lineage if as_of is None else lineage.where(F.col("crawl_id") <= as_of)
    return lin.groupBy("doc_id").agg(
        F.max_by("op", "crawl_id").alias("last_op"),
        F.max("crawl_id").alias("last_crawl_id"),
    )


def reconstruct_as_of(lineage: DataFrame, versions: DataFrame, as_of: int) -> DataFrame:
    """The visible snapshot (doc_id, spans) as of round ``as_of``.

    Drop docs whose last state is deleted (net W3 semantics,
    DatasetRepresentation.java:39-56), then join each survivor to its latest
    captured version ≤ as_of.
    """
    st = last_state(lineage, as_of).where(F.col("last_op") != LOG_DELETED)
    ver = (
        versions.where(F.col("crawl_id") <= as_of)
        .groupBy("doc_id")
        .agg(F.max_by("spans", "crawl_id").alias("spans"))
    )
    return st.join(ver, "doc_id", "inner").select("doc_id", "spans")


def state_table_as_of(lineage: DataFrame, versions: DataFrame, as_of: int) -> DataFrame:
    """Full state (doc_id, spans, last_op, last_crawl_id) incl. tombstones —
    the input shape ``operators.diff.snapshot_diff`` expects."""
    st = last_state(lineage, as_of)
    ver = (
        versions.where(F.col("crawl_id") <= as_of)
        .groupBy("doc_id")
        .agg(F.max_by("spans", "crawl_id").alias("spans"))
    )
    return st.join(ver, "doc_id", "left").select("doc_id", "spans", "last_op", "last_crawl_id")


def versions_from_round(live: DataFrame, lineage: DataFrame, crawl_id: int) -> DataFrame:
    """Content log rows for one round: live spans of every added/updated doc."""
    touched = lineage.where(F.col("op") != LOG_DELETED).select("doc_id")
    return (
        live.join(touched, "doc_id", "left_semi")
        .select("doc_id", F.lit(crawl_id).cast("int").alias("crawl_id"), "spans")
    )
