"""Property tests for the URL-seen Bloom filter (SURVEY.md §5.3, FIXTURES.md §6)."""

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
    hits = SN.bloom_probe_scalar(inserted, "url", state, params)
    assert hits.where(~F.col("seen")).count() == 0, "bloom false negative!"
    fps = SN.bloom_probe_scalar(never, "url", state, params).where(F.col("seen")).count()
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
    assert SN.bloom_probe_scalar(both, "url", merged, params).where(~F.col("seen")).count() == 0

