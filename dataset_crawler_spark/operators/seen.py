"""URL-seen membership: partitioned Bloom filter + cuckoo variant (deletions).

Replaces the reference's in-memory ``analysed_resources`` /
``existing_resources`` HashSets (DataCrawler.java:359-361;
CrawlOperations.java:727) — which cap out at driver memory — with sharded
probabilistic filters that scale to a 10^10-URL frontier:

- URLs are canonicalized (functions/urls.py) and hashed (xxhash64, JVM-side).
- hash space is split into ``n_shards`` by ``pmod(hash, n_shards)``; each
  shard owns an independent bitset / cuckoo table, built per shard with
  ``applyInPandas`` (one Arrow batch per shard → numpy bit ops, no per-row
  Python).
- probing has two physical strategies:
  * ``bloom_probe_scalar`` — collect the shard bitsets (m bits each) and
    broadcast; a scalar Arrow UDF checks the 64-bit hashes vectorized. Right
    when the filter fits on executors (≤ a few GB).
  * ``bloom_probe_cogroup`` — the scale path: candidates and shard states
    cogrouped on ``shard`` (``groupBy().cogroup().applyInPandas``) so no
    single node ever holds the whole filter; at 10^10 URLs @1% FP (~12 GB of
    bitset) each of e.g. 1024 shards is ~12 MB.

Bloom guarantees zero false negatives; FP rate ε is set by sizing
(m = -n·lnε/ln²2, k = m/n·ln2). The cuckoo filter adds deletion — needed when
tombstoned URLs must become re-fetchable (resurrect mode) — with the classic
(4-slot bucket, 16-bit fingerprint, two candidate buckets) layout.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_STATE_SCHEMA = "shard int, n_bits long, n_hashes int, bits binary"
CUCKOO_STATE_SCHEMA = "shard int, n_buckets long, bits binary"
_PROBE_SCHEMA_SUFFIX = "seen boolean"


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


def _with_shard_hash(urls: DataFrame, url_col: str, params_shards: int) -> DataFrame:
    return urls.withColumn("_h", F.xxhash64(F.col(url_col))).withColumn(
        "shard", F.pmod(F.col("_h"), F.lit(params_shards)).cast("int")
    )


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

    hashed = _with_shard_hash(urls, url_col, params.n_shards)
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


def _bloom_check_np(h: np.ndarray, bits: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    pos = _bloom_positions(h, n_bits, n_hashes)
    byte = bits[pos >> 3]
    mask = np.uint8(1) << (pos & 7).astype(np.uint8)
    return ((byte & mask) != 0).all(axis=1)


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


def bloom_probe_cogroup(
    candidates: DataFrame, url_col: str, state: DataFrame, params: BloomParams
) -> DataFrame:
    """Scale-path probe: shuffle candidates by shard, cogroup with shard state."""
    n_bits, n_hashes = params.n_bits_per_shard, params.n_hashes
    cand_cols = [f.name for f in candidates.schema.fields]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    ) + f", {_PROBE_SCHEMA_SUFFIX}"

    def probe(cand: pd.DataFrame, st: pd.DataFrame) -> pd.DataFrame:
        res = cand[cand_cols].copy()
        if len(st) == 0 or len(cand) == 0:
            res["seen"] = False
            return res
        bits = np.frombuffer(st["bits"].iloc[0], dtype=np.uint8)
        res["seen"] = _bloom_check_np(cand["_h"].to_numpy(np.uint64), bits, n_bits, n_hashes)
        return res

    hashed = _with_shard_hash(candidates, url_col, params.n_shards)
    return (
        hashed.groupBy("shard")
        .cogroup(state.groupBy("shard"))
        .applyInPandas(probe, out_schema)
    )


# --------------------------------------------------------------------------
# Cuckoo filter (supports deletion)
# --------------------------------------------------------------------------

_SLOTS = 4  # fingerprints per bucket
_MAX_KICKS = 500


def _cuckoo_fp(h: np.ndarray) -> np.ndarray:
    fp = (_mix(h) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 = empty slot sentinel
    return fp


def _cuckoo_b1(h: np.ndarray, n_buckets: int) -> np.ndarray:
    return (h.astype(np.uint64) % np.uint64(n_buckets)).astype(np.int64)


def _cuckoo_b2(b1: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    fph = _mix(fp.astype(np.uint64))
    return ((b1.astype(np.uint64) ^ fph) % np.uint64(n_buckets)).astype(np.int64)


class _CuckooTable:
    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        self.n = n_buckets
        self.t = table if table is not None else np.zeros((n_buckets, _SLOTS), dtype=np.uint16)

    def insert_many(self, h: np.ndarray) -> None:
        fps = _cuckoo_fp(h)
        b1s = _cuckoo_b1(h, self.n)
        rng_state = np.uint64(0x9E3779B97F4A7C15)  # deterministic eviction choice
        for fp, b1 in zip(fps, b1s):
            b2 = int(_cuckoo_b2(np.array([b1]), np.array([fp]), self.n)[0])
            if fp in self.t[b1] or fp in self.t[b2]:
                continue  # idempotent insert (set semantics — matches seen-set)
            placed = False
            for b in (int(b1), b2):
                empty = np.where(self.t[b] == 0)[0]
                if len(empty):
                    self.t[b, empty[0]] = fp
                    placed = True
                    break
            if placed:
                continue
            cur_fp, cur_b = fp, int(b1)
            for kick in range(_MAX_KICKS):
                rng_state = np.uint64(rng_state) * np.uint64(6364136223846793005) + np.uint64(1)
                slot = int(rng_state >> np.uint64(60)) % _SLOTS
                cur_fp, self.t[cur_b, slot] = self.t[cur_b, slot], cur_fp
                cur_b = int(
                    _cuckoo_b2(np.array([cur_b]), np.array([cur_fp]), self.n)[0]
                )
                empty = np.where(self.t[cur_b] == 0)[0]
                if len(empty):
                    self.t[cur_b, empty[0]] = cur_fp
                    break
            else:
                raise RuntimeError("cuckoo filter over capacity — resize shards")

    def delete_many(self, h: np.ndarray) -> None:
        fps = _cuckoo_fp(h)
        b1s = _cuckoo_b1(h, self.n)
        for fp, b1 in zip(fps, b1s):
            b2 = int(_cuckoo_b2(np.array([b1]), np.array([fp]), self.n)[0])
            for b in (int(b1), b2):
                hit = np.where(self.t[b] == fp)[0]
                if len(hit):
                    self.t[b, hit[0]] = 0
                    break

    def contains(self, h: np.ndarray) -> np.ndarray:
        fps = _cuckoo_fp(h)
        b1 = _cuckoo_b1(h, self.n)
        b2 = _cuckoo_b2(b1, fps, self.n)
        in1 = (self.t[b1] == fps[:, None]).any(axis=1)
        in2 = (self.t[b2] == fps[:, None]).any(axis=1)
        return in1 | in2


def cuckoo_capacity_buckets(n_urls_per_shard: int) -> int:
    # 95% load factor at 4 slots/bucket; round to power of two for hash mixing
    need = max(16, int(n_urls_per_shard / (_SLOTS * 0.84)))
    return 1 << (need - 1).bit_length()


def cuckoo_build(urls: DataFrame, url_col: str, n_shards: int, n_buckets: int) -> DataFrame:
    """Build cuckoo shard tables. Emits a row for EVERY shard 0..n_shards-1
    (empty shards get an all-empty table) so downstream ``cuckoo_insert``
    always finds its shard's state — the zero-false-negative contract must
    hold for any composition, not just shards that happened to receive URLs."""

    def build(shards: pd.DataFrame, hs: pd.DataFrame) -> pd.DataFrame:
        t = _CuckooTable(n_buckets)
        if len(hs):
            t.insert_many(hs["_h"].to_numpy(np.uint64))
        return pd.DataFrame(
            {"shard": [int(shards["shard"].iloc[0])], "n_buckets": [n_buckets], "bits": [t.t.tobytes()]}
        )

    spark = urls.sparkSession
    hashed = _with_shard_hash(urls, url_col, n_shards).select("shard", "_h")
    # cogroup against the full shard range — NOT a null-marker union: a null
    # in the hash column would flip the Arrow→pandas dtype to float64 and
    # silently garble 64-bit hashes beyond 2^53
    shards = spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
    return (
        shards.groupBy("shard").cogroup(hashed.groupBy("shard")).applyInPandas(build, CUCKOO_STATE_SCHEMA)
    )


def cuckoo_insert(
    state: DataFrame,
    urls: DataFrame,
    url_col: str,
    n_shards: int,
    n_buckets_if_missing: int | None = None,
) -> DataFrame:
    """Insert URLs into an EXISTING cuckoo state (incremental rounds — the
    filter is never rebuilt). Idempotent set semantics per fingerprint.

    A shard with pending inserts but no state row would silently lose those
    URLs (a false-negative factory). ``cuckoo_build``/``cuckoo_empty`` emit
    every shard, so this shouldn't happen; if it does, a fresh table of
    ``n_buckets_if_missing`` buckets is grown in place — or, when that
    fallback isn't provided, the job fails loudly instead of dropping URLs."""
    hashed = _with_shard_hash(urls, url_col, n_shards).select("shard", "_h")

    def insert(st: pd.DataFrame, ins: pd.DataFrame) -> pd.DataFrame:
        if len(st) == 0:
            if len(ins) == 0:
                return pd.DataFrame(columns=["shard", "n_buckets", "bits"])
            if n_buckets_if_missing is None:
                raise ValueError(
                    f"cuckoo_insert: shard {int(ins['shard'].iloc[0])} has inserts but no "
                    "state row and no n_buckets_if_missing fallback — refusing to drop URLs"
                )
            st = pd.DataFrame(
                {
                    "shard": [int(ins["shard"].iloc[0])],
                    "n_buckets": [n_buckets_if_missing],
                    "bits": [_CuckooTable(n_buckets_if_missing).t.tobytes()],
                }
            )
        n_buckets = int(st["n_buckets"].iloc[0])
        t = _CuckooTable(
            n_buckets,
            np.frombuffer(st["bits"].iloc[0], dtype=np.uint16).reshape(n_buckets, _SLOTS).copy(),
        )
        if len(ins):
            t.insert_many(ins["_h"].to_numpy(np.uint64))
        return pd.DataFrame(
            {"shard": [int(st["shard"].iloc[0])], "n_buckets": [n_buckets], "bits": [t.t.tobytes()]}
        )

    return (
        state.groupBy("shard").cogroup(hashed.groupBy("shard")).applyInPandas(insert, CUCKOO_STATE_SCHEMA)
    )


def cuckoo_empty(spark, n_shards: int, n_buckets: int) -> DataFrame:
    """All-empty shard tables — the round-0 state cuckoo_insert grows from."""
    empty = _CuckooTable(n_buckets).t.tobytes()
    return spark.createDataFrame(
        [(s, n_buckets, bytearray(empty)) for s in range(n_shards)], CUCKOO_STATE_SCHEMA
    )


def cuckoo_delete(state: DataFrame, urls: DataFrame, url_col: str, n_shards: int) -> DataFrame:
    """Remove URLs from the filter (tombstone resurrection support).

    Caveat (inherent to cuckoo filters, not this implementation): two URLs in
    the same shard can share a 16-bit fingerprint + bucket; deleting one then
    clears the slot for BOTH, so the survivor probes unseen afterwards. In the
    engine composition that only causes a benign refetch (the idempotent diff
    absorbs it); compositions that need a hard zero-false-negative guarantee
    after deletes must confirm against the exact seen table, as
    ``scheduler._confirm_unseen`` does."""
    hashed = _with_shard_hash(urls, url_col, n_shards).select("shard", "_h")

    def delete(st: pd.DataFrame, dels: pd.DataFrame) -> pd.DataFrame:
        if len(st) == 0:
            return pd.DataFrame(columns=["shard", "n_buckets", "bits"])
        n_buckets = int(st["n_buckets"].iloc[0])
        t = _CuckooTable(
            n_buckets,
            np.frombuffer(st["bits"].iloc[0], dtype=np.uint16).reshape(n_buckets, _SLOTS).copy(),
        )
        if len(dels):
            t.delete_many(dels["_h"].to_numpy(np.uint64))
        return pd.DataFrame(
            {"shard": [int(st["shard"].iloc[0])], "n_buckets": [n_buckets], "bits": [t.t.tobytes()]}
        )

    return (
        state.groupBy("shard").cogroup(hashed.groupBy("shard")).applyInPandas(delete, CUCKOO_STATE_SCHEMA)
    )


def cuckoo_probe(candidates: DataFrame, url_col: str, state: DataFrame, n_shards: int) -> DataFrame:
    cand_cols = [f.name for f in candidates.schema.fields]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    ) + f", {_PROBE_SCHEMA_SUFFIX}"

    def probe(cand: pd.DataFrame, st: pd.DataFrame) -> pd.DataFrame:
        res = cand[cand_cols].copy()
        if len(st) == 0 or len(cand) == 0:
            res["seen"] = False
            return res
        n_buckets = int(st["n_buckets"].iloc[0])
        t = _CuckooTable(
            n_buckets, np.frombuffer(st["bits"].iloc[0], dtype=np.uint16).reshape(n_buckets, _SLOTS)
        )
        res["seen"] = t.contains(cand["_h"].to_numpy(np.uint64))
        return res

    hashed = _with_shard_hash(candidates, url_col, n_shards)
    return (
        hashed.groupBy("shard").cogroup(state.groupBy("shard")).applyInPandas(probe, out_schema)
    )
