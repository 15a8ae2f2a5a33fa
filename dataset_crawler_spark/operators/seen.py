"""URL-seen membership: partitioned Bloom filter + exact confirm.

Replaces the reference's in-memory ``analysed_resources`` /
``existing_resources`` HashSets (DataCrawler.java:359-361;
CrawlOperations.java:727) — which cap out at driver memory — with a sharded
Bloom filter in front of an exact anti-join over the store's ``fetched``
table (operators/scheduler.py ``_confirm_unseen``):

- URLs are canonicalized (functions/urls.py) and hashed (xxhash64, JVM-side).
- hash space is split into ``n_shards`` by ``pmod(hash, n_shards)``; each
  shard owns an independent bitset, built per shard with ``applyInPandas``
  (one Arrow batch per shard → numpy bit ops, no per-row Python) and
  OR-merged round over round (``bloom_merge``), never rebuilt.
- ``bloom_probe_scalar`` collects the shard bitsets, broadcasts them, and
  checks the 64-bit hashes in a scalar Arrow UDF.

Bloom guarantees zero false negatives; FP rate ε is set by sizing
(m = -n·lnε/ln²2, k = m/n·ln2), and the exact confirm removes the false
positives. A Bloom filter cannot delete: in resurrect mode, tombstoned URLs
are re-admitted exactly by the tombstone anti-join in
``CrawlEngine.seen_urls_as_of`` — the filter still answers maybe-seen for
them, and the exact confirm lets them through.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_STATE_SCHEMA = "shard int, n_bits long, n_hashes int, bits binary"


def _mix(h: np.ndarray) -> np.ndarray:
    """64-bit finalizer (splitmix64-style) to derive a second hash stream."""
    h = h.astype(np.uint64, copy=True)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


def _bloom_positions(h: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """(len(h), n_hashes) bit positions via double hashing g_i = h1 + i·h2."""
    h1 = h.astype(np.uint64)
    h2 = _mix(h) | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(n_bits)).astype(np.int64)


@dataclass
class BloomParams:
    n_shards: int
    n_bits_per_shard: int
    n_hashes: int

    @classmethod
    def for_capacity(cls, n_urls: int, fp_rate: float = 0.01, n_shards: int = 32) -> "BloomParams":
        n_per_shard = max(n_urls // n_shards, 1)
        m = int(-n_per_shard * math.log(fp_rate) / (math.log(2) ** 2))
        m = max(64, (m + 63) // 64 * 64)
        k = max(1, round(m / n_per_shard * math.log(2)))
        return cls(n_shards, m, min(k, 16))


def bloom_build(urls: DataFrame, url_col: str, params: BloomParams) -> DataFrame:
    """Build shard bitsets: one row per shard (shard, n_bits, n_hashes, bits)."""
    n_bits, n_hashes = params.n_bits_per_shard, params.n_hashes

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        pos = _bloom_positions(pdf["_h"].to_numpy(np.uint64), n_bits, n_hashes).ravel()
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "n_bits": [n_bits],
                "n_hashes": [n_hashes],
                "bits": [bits.tobytes()],
            }
        )

    hashed = urls.withColumn("_h", F.xxhash64(F.col(url_col))).withColumn(
        "shard", F.pmod(F.col("_h"), F.lit(params.n_shards)).cast("int")
    )
    return hashed.groupBy("shard").applyInPandas(build, BLOOM_STATE_SCHEMA)


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two compatible shard-bitset tables (incremental rounds)."""

    def orshard(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.frombuffer(pdf["bits"].iloc[0], dtype=np.uint8).copy()
        for blob in pdf["bits"].iloc[1:]:
            acc |= np.frombuffer(blob, dtype=np.uint8)
        out = pdf.iloc[[0]].copy()
        out["bits"] = [acc.tobytes()]
        return out

    return a.unionByName(b).groupBy("shard").applyInPandas(orshard, BLOOM_STATE_SCHEMA)


def bloom_probe_scalar(
    candidates: DataFrame, url_col: str, state: DataFrame, params: BloomParams
) -> DataFrame:
    """Broadcast probe as a scalar Arrow UDF over the 64-bit hash ONLY.

    The fastest probe when the filter fits on executors: ships one long
    column to Python and gets one boolean back — no pass-through of the
    candidate's string columns through Arrow (5-10× less transfer than
    ``mapInPandas``), no shuffle. Shard choice happens inside numpy
    (``h % n_shards`` == the builder's ``pmod(xxhash64, n_shards)``).
    """
    from pyspark.sql.functions import pandas_udf

    spark = candidates.sparkSession
    shard_bits = [None] * params.n_shards
    for r in state.collect():
        shard_bits[int(r["shard"])] = np.frombuffer(r["bits"], dtype=np.uint8)
    empty = np.zeros(params.n_bits_per_shard // 8, dtype=np.uint8)
    shard_mat = np.stack([b if b is not None else empty for b in shard_bits])
    bc = spark.sparkContext.broadcast(shard_mat)
    n_bits, n_hashes, n_shards = params.n_bits_per_shard, params.n_hashes, params.n_shards

    def check(h: pd.Series) -> pd.Series:
        hs = h.to_numpy(np.int64)
        # numpy % on signed ints is floored — identical to JVM pmod()
        shards = hs % np.int64(n_shards)
        hv = hs.astype(np.uint64)
        mat = bc.value
        pos = _bloom_positions(hv, n_bits, n_hashes)
        byte = mat[shards[:, None], pos >> 3]
        mask = np.uint8(1) << (pos & 7).astype(np.uint8)
        return pd.Series(((byte & mask) != 0).all(axis=1))

    seen_udf = pandas_udf(check, "boolean")
    return candidates.withColumn("seen", seen_udf(F.xxhash64(F.col(url_col))))
