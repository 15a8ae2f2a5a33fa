"""Property tests for the URL-seen filters (SURVEY.md §5.3, FIXTURES.md §6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataset_crawler_spark.operators import seen as SN

N_INSERTED = 10_000
N_NEVER = 10_000


def _urls(spark, start, n, tag):
    return spark.range(start, start + n).select(
        F.concat(F.lit(f"https://{tag}.example.org/p/"), F.col("id").cast("string")).alias("url")
    )


def test_bloom_zero_false_negatives_and_fp_rate(spark):
    params = SN.BloomParams.for_capacity(N_INSERTED, fp_rate=0.01, n_shards=8)
    inserted = _urls(spark, 0, N_INSERTED, "in")
    never = _urls(spark, 0, N_NEVER, "out")
    state = bloom = SN.bloom_build(inserted, "url", params).cache()
    for probe_fn in (SN.bloom_probe_cogroup, SN.bloom_probe_scalar):
        hits = probe_fn(inserted, "url", state, params)
        assert hits.where(~F.col("seen")).count() == 0, "bloom false negative!"
        fps = probe_fn(never, "url", state, params).where(F.col("seen")).count()
        assert fps / N_NEVER < 0.03, f"FP rate too high: {fps / N_NEVER}"
    bloom.unpersist()


def test_bloom_merge_incremental_rounds(spark):
    params = SN.BloomParams.for_capacity(2 * N_INSERTED, fp_rate=0.01, n_shards=8)
    a = _urls(spark, 0, 1000, "in")
    b = _urls(spark, 1000, 1000, "in")
    merged = SN.bloom_merge(
        SN.bloom_build(a, "url", params), SN.bloom_build(b, "url", params)
    ).cache()
    both = a.unionByName(b)
    assert SN.bloom_probe_cogroup(both, "url", merged, params).where(~F.col("seen")).count() == 0


def test_cuckoo_insert_probe_delete(spark):
    n_shards = 8
    n_buckets = SN.cuckoo_capacity_buckets(N_INSERTED // n_shards)
    inserted = _urls(spark, 0, N_INSERTED, "in")
    never = _urls(spark, 0, N_NEVER, "out")
    state = SN.cuckoo_build(inserted, "url", n_shards, n_buckets).cache()

    hits = SN.cuckoo_probe(inserted, "url", state, n_shards)
    assert hits.where(~F.col("seen")).count() == 0, "cuckoo false negative!"
    fps = SN.cuckoo_probe(never, "url", state, n_shards).where(F.col("seen")).count()
    assert fps / N_NEVER < 0.01, f"cuckoo FP rate too high: {fps / N_NEVER}"

    # delete a slice, it must miss afterwards; the rest must still hit
    doomed = _urls(spark, 0, 1000, "in")
    kept = _urls(spark, 1000, N_INSERTED - 1000, "in")
    state2 = SN.cuckoo_delete(state, doomed, "url", n_shards).cache()
    assert SN.cuckoo_probe(doomed, "url", state2, n_shards).where(F.col("seen")).count() == 0
    assert SN.cuckoo_probe(kept, "url", state2, n_shards).where(~F.col("seen")).count() == 0
