"""Training-shard export sink — the artifact end of the corpus pipeline.

`pack_assignments` decides WHERE every document goes (shard, bin); this
sink materializes that layout as the on-disk artifact a trainer's data
loader consumes: one directory per shard, rows sorted by (bin_id, doc_id) so
each token-budget bin is contiguous in file order, plus a tiny manifest
recording per-shard doc/token totals for loader-side integrity checks.

Scale shape (100 TB): document text moves exactly twice and only ever by
hash — the doc_id equi-join that attaches text to its assignment, and the
shard exchange that lands it in its output task. One task per shard writes
one sorted file (shard count is the packing fan-out, thousands at corpus
scale — each a bounded token budget sum, so no task is hot). The manifest
is a per-shard aggregate of longs. Everything is deterministic: same corpus
+ same assignments → byte-identical shard contents (no RNG, no wall-clock),
so re-exports are cache-stable for the trainer.

Reference: this generalizes the reference's CSV dump sink
(CrawlLoadData.java writes flat per-table dumps) to the partitioned,
budget-packed layout an LLM trainer actually reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataset_crawler_spark.functions.hashing import h60


def pack_assignments(
    docs: DataFrame, n_shards: int = 8, budget: int = 2048
) -> DataFrame:
    """(shard, doc_id, n_tokens, bin_id) packing plan over (doc_id, text)
    docs, as the export CLI runs it. Shard by h60(doc_id) (uniform — no hot
    key in the window shuffle), pack greedily in doc_id order:
    bin_id = floor(cum_tokens_before / budget)."""
    d = docs.select(
        "doc_id",
        F.pmod(h60(F.col("doc_id").cast("string")), F.lit(n_shards)).alias("shard"),
        # split('') is [''] — an empty doc (e.g. a media-only doc flattened
        # by spans_to_text) is 0 tokens, not a phantom 1
        F.when(F.length("text") == 0, F.lit(0))
        .otherwise(F.size(F.split("text", " ")))
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return d.select(
        "shard",
        "doc_id",
        "n_tokens",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget)
        .cast("long")
        .alias("bin_id"),
    )


def spans_to_text(docs: DataFrame) -> DataFrame:
    """(doc_id, text) from interleaved (doc_id, spans) state — text spans
    in offset order, space-joined (the trainer-facing flattening; media
    spans are referenced by their own modality pipeline, not inlined)."""
    texts = F.expr(
        "transform(array_sort(filter(spans, s -> s.kind = 'text'), "
        "(a, b) -> case when a.offset < b.offset then -1 "
        "when a.offset > b.offset then 1 else 0 end), s -> s.text)"
    )
    return docs.select("doc_id", F.concat_ws(" ", texts).alias("text"))


def write_training_shards(
    docs: DataFrame, assignments: DataFrame, path: str
) -> dict:
    """Export packed training shards.

    ``docs``: (doc_id, text, …) corpus; ``assignments``: (shard, doc_id,
    n_tokens, bin_id) from `pack_assignments`. Writes
    ``<path>/shards/shard=<s>/`` parquet (rows sorted by bin_id, doc_id)
    and ``<path>/manifest/`` with per-shard totals. Returns the corpus-level
    summary the caller logs."""
    # the plan feeds three consumers (manifest, shard write, summary) and is
    # itself a window over the corpus — materialize it once
    assignments = assignments.persist()
    try:
        # manifest first: a tiny per-shard aggregate, collected so the
        # summary and the shard-writer fan-out come for free (no extra jobs)
        manifest = assignments.groupBy("shard").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.count_distinct("bin_id").alias("n_bins"),  # non-empty bins
        )
        man_rows = manifest.collect()
        n_shards = len(man_rows)
        joined = (
            assignments.join(docs.select("doc_id", "text"), "doc_id")
            # explicit fan-out: one writer task per shard (hash collisions
            # double up a few tasks, never the default-200 pile-up)
            .repartition(max(n_shards, 1), "shard")
            .sortWithinPartitions("shard", "bin_id", "doc_id")
        )
        (
            joined.write.mode("overwrite")
            .partitionBy("shard")
            .parquet(os.path.join(path, "shards"))
        )
        # written from the JVM-side aggregate over the persisted plan, not
        # from the collected rows: a local-list createDataFrame would start
        # a Python worker just for these few rows
        (
            manifest.coalesce(1)
            .sortWithinPartitions("shard")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "manifest"))
        )
        return {
            "n_docs": sum(r.n_docs for r in man_rows),
            "n_tokens": sum(r.n_tokens for r in man_rows),
            "n_shards": n_shards,
        }
    finally:
        assignments.unpersist()


def read_training_shards(spark: SparkSession, path: str) -> DataFrame:
    """The exported corpus as (shard, bin_id, doc_id, n_tokens, text)."""
    return spark.read.parquet(os.path.join(path, "shards"))


def verify_manifest(spark: SparkSession, path: str) -> None:
    """Loader-side integrity check: per-shard doc/token totals of the data
    files must equal the manifest exactly. Raises ValueError on mismatch
    (a partial/corrupted copy of the artifact)."""
    got = (
        read_training_shards(spark, path)
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
    )
    man = spark.read.parquet(os.path.join(path, "manifest")).select(
        "shard", "n_docs", "n_tokens"
    )
    diff = got.exceptAll(man).unionByName(man.exceptAll(got))
    bad = diff.limit(1).collect()
    if bad:
        raise ValueError(f"manifest mismatch, e.g. shard row {bad[0]}")
