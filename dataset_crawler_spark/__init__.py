"""dataset_crawler_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch re-expression of the capabilities of the reference crawler
(bfetahu/dataset_crawler, a single-threaded Java 8 + MySQL incremental RDF
crawler) as an idiomatic Spark engine:

- interleaved text+media documents: ``(doc_id, spans:array<struct<kind,text,media_ref,offset>>)``
- change-capture as partition-parallel snapshot diff with per-partition lineage
- URL-seen membership: bloom + exact confirm (partitioned Bloom filter probed by an
  Arrow UDF, then an exact anti-join over fetched URLs); resurrect via the
  tombstone anti-join
- per-host politeness priority queue (salted window top-k) under robots budgets
- checkpoint-resumable crawl rounds over an append-only snapshot store

All hot paths are DataFrame + vectorized pandas/Arrow UDFs — no per-row Python.
"""

__version__ = "0.1.0"

from dataset_crawler_spark.session import get_spark  # noqa: F401
