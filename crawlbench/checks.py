"""Output checks, computed with plain Spark over the raw store files and the
generated inputs (never through the engine's own read path).

Each check returns ``{crawl_id: [failure, ...]}``; a round with any failure
does not count as ok. Row sets are compared by an order-insensitive digest:
row count, XOR of 64-bit row hashes, and the sum of those hashes reduced
mod a prime (XOR alone would miss a duplicated pair).
"""

from __future__ import annotations

import os
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PRIME = 2_147_483_647


def digest_cols(*cols):
    h = F.xxhash64(*cols)
    return [
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(PRIME))).alias("s"),
    ]


def digest(df: DataFrame, *cols) -> tuple:
    row = df.agg(*digest_cols(*cols)).first()
    return int(row["n"]), row["x"], row["s"]


def per_round_digest(df: DataFrame, *cols) -> dict:
    rows = df.groupBy("crawl_id").agg(*digest_cols(*cols)).collect()
    return {int(r["crawl_id"]): (int(r["n"]), r["x"], r["s"]) for r in rows}


def raw(spark, store: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(store, table))


def check_stats(stats: list[dict], expected: list[dict]) -> dict:
    """The round stats the engine returned equal the model's sequence."""
    bad = defaultdict(list)
    for r, got in enumerate(stats):
        want = expected[r]
        for k in ("scheduled", "fetched", "added", "updated", "deleted"):
            if got.get(k) != want[k]:
                bad[r].append(f"{k}: got {got.get(k)}, expected {want[k]}")
    return bad


def check_lineage_counts(spark, store: str, expected: list[dict], n_rounds: int) -> dict:
    """Committed lineage rows per (round, op) equal the expected counts."""
    got = defaultdict(int)
    for row in raw(spark, store, "lineage").groupBy("crawl_id", "op").count().collect():
        got[(int(row["crawl_id"]), row["op"])] = int(row["count"])
    bad = defaultdict(list)
    for r in range(n_rounds):
        for op in ("added", "updated", "deleted"):
            if got[(r, op)] != expected[r][op]:
                bad[r].append(f"lineage {op}: {got[(r, op)]} rows, expected {expected[r][op]}")
    return bad


def check_budgets(spark, store: str, inputs: str) -> dict:
    """No host is scheduled more URLs than its budget in any round."""
    hosts = spark.read.parquet(os.path.join(inputs, "hosts.parquet"))
    over = (
        raw(spark, store, "ops_log")
        .where(F.col("stage") == "fetch")
        .groupBy("crawl_id", "host")
        .count()
        .join(hosts, "host", "left")
        .where(F.col("budget").isNull() | (F.col("count") > F.col("budget")))
        .collect()
    )
    bad = defaultdict(list)
    for row in over:
        bad[int(row["crawl_id"])].append(f"host {row['host']}: {row['count']} scheduled over budget {row['budget']}")
    return bad


def check_fetched_unique(spark, store: str, across_rounds: bool) -> dict:
    """No canonical URL is fetched twice: ever (discover rounds), or within
    one round (full re-crawls). A duplicate fails its latest round."""
    keys = ["url_c"] if across_rounds else ["url_c", "crawl_id"]
    dups = (
        raw(spark, store, "fetched")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"), F.max("crawl_id").alias("last"))
        .where(F.col("n") > 1)
        .collect()
    )
    bad = defaultdict(list)
    for row in dups:
        bad[int(row["last"])].append(f"url fetched {row['n']} times: {row['url_c']}")
    return bad


def check_fetched_sets(spark, store: str, inputs: str, n_rounds: int) -> dict:
    """Each discover round fetched, and added to lineage, exactly the URL set
    the model expects."""
    want = per_round_digest(
        spark.read.parquet(os.path.join(inputs, "expected_fetched.parquet")), "url_c"
    )
    got_fetched = per_round_digest(raw(spark, store, "fetched"), "url_c")
    got_lineage = per_round_digest(raw(spark, store, "lineage"), "doc_id")
    bad = defaultdict(list)
    empty = (0, None, None)
    for r in range(n_rounds):
        if got_fetched.get(r, empty) != want.get(r, empty):
            bad[r].append("fetched URL set differs from the expected set")
        if got_lineage.get(r, empty) != want.get(r, empty):
            bad[r].append("lineage doc set differs from the expected fetched set")
    return bad


def check_discovered(discovered: dict, expected: list[dict], n_rounds: int) -> dict:
    """Each discover round appended as many discovered frontier rows as the
    model expects."""
    bad = defaultdict(list)
    for r in range(n_rounds):
        if discovered.get(r, 0) != expected[r]["discovered"]:
            bad[r].append(f"discovered rows: {discovered.get(r, 0)}, expected {expected[r]['discovered']}")
    return bad


def expected_visible(spark, inputs: str, workload: str, as_of: int) -> DataFrame:
    """(doc_id, spans) the store must show as of a round, from inputs only."""
    if workload == "frontier":
        fetched = (
            spark.read.parquet(os.path.join(inputs, "expected_fetched.parquet"))
            .where(F.col("crawl_id") <= as_of)
            .select(F.col("url_c").alias("doc_id"))
        )
        corpus = spark.read.parquet(os.path.join(inputs, "corpus.parquet"))
        return corpus.join(fetched, "doc_id", "left_semi")
    version = "version_a" if as_of % 2 == 0 else "version_b"
    docs = spark.read.parquet(os.path.join(inputs, f"{version}.parquet"))
    tomb = (
        spark.read.parquet(os.path.join(inputs, "tombstones.parquet"))
        .where(F.col("crawl_id") == as_of)
        .select(F.col("url_c").alias("doc_id"))
    )
    return docs.join(tomb, "doc_id", "left_anti")


def merge(*checks: dict) -> dict:
    out = defaultdict(list)
    for c in checks:
        for r, msgs in c.items():
            out[r].extend(msgs)
    return out
