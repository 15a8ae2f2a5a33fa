"""Outlink extraction + frontier expansion — the discover loop's second half.

The reference discovers new resources by re-querying endpoints for type
membership every round (CrawlOperations.java:715-827: the fresh instance list
IS the discovery step); a web-scale frontier instead GROWS from the documents
it fetches: every fetched page's outlinks are candidate frontier rows for the
next round (north_rule: 10^10-URL frontier — the frontier reaches that size
precisely because fetched docs keep minting URLs).

Two extraction paths, both narrow (no shuffle touches span text):

- **link spans**: interleaved documents carry hyperlinks as spans with
  ``kind='link'`` and the target URL in ``media_ref`` (input_hint schema) —
  a typed column read, zero parsing.
- **text spans**: production HTML/text bodies carry URLs inline; a
  ``regexp_extract_all`` over text spans catches those. On the synthetic
  corpus this path yields nothing (word-soup text), but the plumbing is
  identical and unit-tested with an inline fixture.

Expansion policy: discovered URLs are canonicalized, grouped, and
prioritized by **in-link degree** (``priority = 1 - 1/(1+n_refs)``: more
citing pages ⇒ earlier fetch — the standard indegree frontier heuristic,
deterministic and bounded in [0.5, 1)). ``seed_rank`` is the
:data:`DISCOVERED_SEED_RANK` sentinel so seed-file URLs always outrank
discovered ones in the pinned crawl order (scheduler orders seed_rank ASC
first — reference seed-file precedence, IncrementalDatasetCrawler.java:154).

Scale shape: extraction explodes spans but immediately projects to the URL
column only; the single exchange is the per-URL degree aggregate
(map-side-combined, ~30-byte rows). The seen filter is NOT applied here —
expansion feeds the next round's frontier and the scheduler's bloom+exact
filter already dedups against history at schedule time (doing it twice would
shuffle the same keys twice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataset_crawler_spark.functions.urls import canonicalize_url, host_of

#: seed_rank assigned to discovered (non-seed) frontier rows: sorts after
#: every real seed (seed files are ≤ 10^6 lines by convention).
DISCOVERED_SEED_RANK = 1_000_000

#: conservative absolute-URL shape for inline-text extraction (Java regex and
#: RE2 compatible — same subset discipline as the PII patterns).
_TEXT_URL_RE = r"https?://[a-zA-Z0-9.-]+(:[0-9]+)?(/[^\s\"'<>]*)?"


def extract_outlinks(live: DataFrame) -> DataFrame:
    """(doc_id, spans, …) → (parent_doc_id, url): every outlink occurrence.

    Link-span targets (``kind='link'`` → ``media_ref``) plus inline URLs in
    text spans. Duplicates are preserved (one row per citation) so the
    downstream degree aggregate counts true in-link multiplicity.
    """
    links = F.filter(
        "spans", lambda s: (s["kind"] == "link") & s["media_ref"].isNotNull()
    )
    from_links = live.select(
        F.col("doc_id").alias("parent_doc_id"),
        F.explode(F.transform(links, lambda s: s["media_ref"])).alias("url"),
    )
    texts = F.filter("spans", lambda s: s["text"].isNotNull())
    from_text = (
        live.select(
            F.col("doc_id").alias("parent_doc_id"),
            F.explode(F.transform(texts, lambda s: s["text"])).alias("t"),
        )
        .select(
            "parent_doc_id",
            F.explode(F.regexp_extract_all("t", F.lit(_TEXT_URL_RE), F.lit(0))).alias(
                "url"
            ),
        )
    )
    return from_links.unionByName(from_text)


def expand_frontier(
    live: DataFrame, crawl_id: int, exclude_self: bool = True
) -> DataFrame:
    """Fetched docs → pending frontier rows for round ``crawl_id + 1``.

    Canonicalizes outlink occurrences, drops self-links (a page citing
    itself discovers nothing), aggregates per canonical URL, and emits
    FRONTIER-schema rows prioritized by in-link degree.
    """
    out = extract_outlinks(live).withColumn("url_c", canonicalize_url(F.col("url")))
    if exclude_self:
        # doc_id IS the canonical URL in the engine convention (simulated_fetcher)
        out = out.where(F.col("url_c") != F.col("parent_doc_id"))
    deg = out.groupBy("url_c").agg(F.count("*").alias("n_refs"))
    return deg.select(
        F.col("url_c").alias("url"),
        host_of("url_c").alias("host"),
        (F.lit(1.0) - 1.0 / (1.0 + F.col("n_refs"))).alias("priority"),
        F.lit(crawl_id).cast("int").alias("discovered_crawl_id"),
        F.lit(DISCOVERED_SEED_RANK).cast("int").alias("seed_rank"),
        F.lit("pending").alias("state"),
    )
