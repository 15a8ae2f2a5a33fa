"""Deterministic Spark/Python hashing.

The reference uses ``String.hashCode`` sums as a cheap change-detection
fingerprint (entities/Resource.java:55-62; CrawlOperations.java:444-456). We
do NOT replicate Java's hashCode — the verified invariant is span equality,
hashes are only a pre-filter (SURVEY.md §2.8 F2). Where Spark and the
pure-Python oracles must agree we use

    h60(s) = int(md5(s)[:15 hex chars], 16)      — 60-bit, non-negative

Spark:  ``conv(substr(md5(s),1,15),16,10)`` cast to long
Python: ``int(hashlib.md5(s.encode()).hexdigest()[:15], 16)``

On the pure-Spark hot path (no oracle involved) we use the built-in
``xxhash64`` which is faster; h60 appears only where Spark/Python equality
matters (datagen, shard assignment, the crawler oracle).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

#: null-replacement sentinel used inside span identities (operators/diff.py).
NULL_SENTINEL = "\x00"


def h60(col: Column | str) -> Column:
    """60-bit md5-prefix hash of a string column (cross-engine stable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def h60_py(s: str) -> int:
    """Pure-Python twin of :func:`h60` (used by datagen + crawler oracle)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def doc_fingerprint_fast(spans: Column) -> Column:
    """Engine-internal order-sensitive fingerprint: ``xxhash64(to_json(spans))``.

    One JVM hash per document instead of one md5+conv per span — the diff's
    change gate only needs *equality* semantics (fingerprint equal ⇒ skip the
    span diff), not cross-engine reproducibility, so the fast hash is correct
    here. to_json preserves span order and distinguishes null from empty
    fields, so fingerprint equality ⇒ span-sequence equality up to a 2^-64
    collision."""
    return F.xxhash64(F.to_json(spans))
