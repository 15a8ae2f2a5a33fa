"""Exact crawl-order + URL-seen-set match vs the scheduler oracle
(BASELINE.json metric; SURVEY.md §5.1)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from dataset_crawler_spark import datagen
from dataset_crawler_spark.functions.urls import canonicalize_url_py
from dataset_crawler_spark.operators import scheduler as SCH
from dataset_crawler_spark.operators import seen as SN
from dataset_crawler_spark.oracle.scheduler_oracle import schedule_round_py

N_URLS = 3000
N_HOSTS = 25

# every Python execution node Spark plans: (Arrow|Batch)EvalPython,
# PythonMapInArrow, MapInPandas, FlatMap(Co)GroupsInPandas, ...
PY_STAGES = r"Python|InPandas"


def _key(row):
    return (row["seed_rank"], row["host"], row["rank_in_host"])


def _collect_schedule(df):
    rows = [r.asDict() for r in df.collect()]
    rows.sort(key=_key)
    return [
        (r["url_c"], r["host"], r["seed_rank"], r["rank_in_host"], r["scheduled_offset_ms"])
        for r in rows
    ]


def _oracle_schedule(seen=None):
    rows = schedule_round_py(
        datagen.frontier_py(N_URLS, n_hosts=N_HOSTS), datagen.hosts_py(N_HOSTS), seen
    )
    return [
        (r["url_c"], r["host"], r["seed_rank"], r["rank_in_host"], r["scheduled_offset_ms"])
        for r in rows
    ]


def test_canonicalizer_parity(spark):
    """Both canonicalizer twins (native codegen / pure Python) agree on the
    dirty-URL corpus."""
    f = datagen.frontier(spark, 500, n_hosts=N_HOSTS)
    got = {
        r.url: r.url_c
        for r in f.select("url", SCH.canonicalize_url(F.col("url")).alias("url_c")).collect()
    }
    for url, url_c in got.items():
        assert url_c == canonicalize_url_py(url), url
    # dirty variants collapse: canonical forms dedupe the synthetic variants
    assert any(u != c for u, c in got.items()), "fixtures must include dirty URLs"


def test_canonicalizer_properties_hypothesis(spark):
    """Property corpus (seeded generator — deterministic across runs): the
    native canonicalizer equals the pure-Python twin and is idempotent —
    canon(canon(u)) == canon(u) — over adversarial URL shapes. This corpus
    found a real spec bug: single-slash stripping wasn't a fixed point for
    paths ending in '//'."""
    import random

    rng = random.Random(7)
    schemes = ["http", "https", "HTTP", "ftp", "a+b-c"]
    ports = ["", ":80", ":443", ":8080", ":0"]
    frags = ["", "#frag", "#a#b"]

    def rand_text(chars, lo, hi):
        return "".join(rng.choice(chars) for _ in range(rng.randint(lo, hi)))

    corpus = set()
    for _ in range(150):
        path = rand_text("abc/._~%0", 0, 14)
        q = rand_text("ab=&1", 0, 10)
        corpus.add(
            f"{rng.choice(schemes)}://{rand_text('abXY09.-', 1, 12)}{rng.choice(ports)}"
            f"{'/' + path if path else ''}{'?' + q if q else ''}{rng.choice(frags)}"
        )
    corpus |= {"", "nota url", "http://", "https://h", "https://h/?", "https://h/??a=1",
               "https://h:443", "https://h:443/", "x://y/z//", "https://H/A//B///c/"}
    corpus = sorted(corpus)
    df = spark.createDataFrame([(u,) for u in corpus if u], "url string")
    rows = df.select(
        "url",
        SCH.canonicalize_url(F.col("url")).alias("c1"),
        SCH.canonicalize_url(SCH.canonicalize_url(F.col("url"))).alias("c2"),
    ).collect()
    for r in rows:
        assert r.c1 == canonicalize_url_py(r.url), repr(r.url)
        assert r.c2 == canonicalize_url_py(canonicalize_url_py(r.url)), repr(r.url)
        assert r.c2 == r.c1, f"not idempotent: {r.url!r} -> {r.c1!r} -> {r.c2!r}"


def test_schedule_matches_oracle_no_seen(spark):
    f = datagen.frontier(spark, N_URLS, n_hosts=N_HOSTS)
    h = datagen.hosts(spark, N_HOSTS)
    got = _collect_schedule(SCH.schedule_round(f, h))
    want = _oracle_schedule()
    assert got == want


def test_schedule_matches_oracle_with_seen_set(spark):
    f = datagen.frontier(spark, N_URLS, n_hosts=N_HOSTS)
    h = datagen.hosts(spark, N_HOSTS)
    # mark a deterministic slice of canonical urls as already fetched
    seen_py = {
        canonicalize_url_py(r["url"])
        for r in datagen.frontier_py(N_URLS, n_hosts=N_HOSTS)
        if r["seed_rank"] % 3 == 0
    }
    seen_df = spark.createDataFrame([(u,) for u in sorted(seen_py)], "url_c string")
    params = SN.BloomParams.for_capacity(len(seen_py), fp_rate=0.01, n_shards=8)
    bloom = SN.bloom_build(seen_df, "url_c", params).cache()

    got = _collect_schedule(
        SCH.schedule_round(f, h, bloom_state=bloom, bloom_params=params, seen_urls=seen_df)
    )
    want = _oracle_schedule(seen=seen_py)
    assert got == want
    # URL-seen-set match: nothing scheduled is in the seen set
    assert not ({u for u, *_ in got} & seen_py)


def test_bloom_confirm_matches_exact_only(spark):
    """The seen check's two forms — Bloom probe + exact confirm, and the
    exact anti-join alone (``bloom_params=None``) — must produce the
    identical schedule: the Bloom filter is a physical shortcut, never a
    semantic one."""
    f = datagen.frontier(spark, N_URLS, n_hosts=N_HOSTS)
    h = datagen.hosts(spark, N_HOSTS)
    seen_py = {
        canonicalize_url_py(r["url"])
        for r in datagen.frontier_py(N_URLS, n_hosts=N_HOSTS)
        if r["seed_rank"] % 3 == 0
    }
    seen_df = spark.createDataFrame([(u,) for u in sorted(seen_py)], "url_c string")
    params = SN.BloomParams.for_capacity(len(seen_py), fp_rate=0.01, n_shards=8)
    bloom = SN.bloom_build(seen_df, "url_c", params).cache()

    with_bloom = _collect_schedule(
        SCH.schedule_round(f, h, bloom_state=bloom, bloom_params=params, seen_urls=seen_df)
    )
    exact_only = _collect_schedule(SCH.schedule_round(f, h, seen_urls=seen_df))
    assert with_bloom == exact_only
    assert with_bloom  # a non-trivial schedule, not two empty ones
    bloom.unpersist()


def test_salting_invariance(spark):
    """The salted two-phase top-k must give identical results at any salt width."""
    f = datagen.frontier(spark, N_URLS, n_hosts=N_HOSTS)
    h = datagen.hosts(spark, N_HOSTS)
    a = _collect_schedule(SCH.schedule_round(f, h, n_salt=1))
    b = _collect_schedule(SCH.schedule_round(f, h, n_salt=64))
    assert a == b


def test_partitioning_invariance(spark):
    """Determinism under parallelism (north_rule): the schedule is identical
    whatever the input partitioning — the single-JVM proxy for running on N
    vs 4N executors."""
    f = datagen.frontier(spark, N_URLS, n_hosts=N_HOSTS)
    h = datagen.hosts(spark, N_HOSTS)
    a = _collect_schedule(SCH.schedule_round(f.repartition(2), h))
    b = _collect_schedule(SCH.schedule_round(f.repartition(23), h))
    assert a == b


def test_budget_respected(spark):
    f = datagen.frontier(spark, N_URLS, n_hosts=N_HOSTS)
    h = datagen.hosts(spark, N_HOSTS)
    sched = SCH.schedule_round(f, h)
    over = (
        sched.groupBy("host")
        .agg(F.count("*").alias("n"), F.first("crawl_delay_ms").alias("d"))
        .join(h.select("host", "max_fetch_per_round"), "host")
        .where(F.col("n") > F.col("max_fetch_per_round"))
    )
    assert over.count() == 0


def test_centrality_host_budgets(spark):
    """Share-based budget scaling: average-centrality host keeps its budget,
    above-average scales up (capped 4x), a host absent from the scores drops
    to min_budget, and an all-zero score vector leaves every budget
    unchanged (multiplier 1)."""
    hosts = spark.createDataFrame(
        [(h, 100, 40) for h in ("a", "b", "c", "d")],
        "host string, crawl_delay_ms int, max_fetch_per_round int",
    )
    # the average is over SCORED hosts (n=3): mults 0.5*3=1.5, 0.25*3=0.75;
    # d missing from the scores -> mult 0 -> min_budget floor
    scores = spark.createDataFrame(
        [("a", 0.5), ("b", 0.25), ("c", 0.25)], "host string, score double"
    )
    got = {
        r.host: (r.max_fetch_per_round, r.centrality_mult, r.crawl_delay_ms)
        for r in SCH.centrality_host_budgets(scores, hosts).collect()
    }
    assert got["a"] == (60, 1.5, 100)
    assert got["b"] == (30, 0.75, 100)
    assert got["c"] == (30, 0.75, 100)
    assert got["d"] == (1, 0.0, 100)
    # cap: one host holding the whole mass would be 4x the average of 4
    # hosts -> exactly the max_multiplier ceiling
    solo = spark.createDataFrame(
        [("a", 1.0), ("b", 0.0), ("c", 0.0), ("d", 0.0)],
        "host string, score double",
    )
    capped = {
        r.host: r.centrality_mult
        for r in SCH.centrality_host_budgets(solo, hosts).collect()
    }
    assert capped["a"] == 4.0 and capped["b"] == 0.0
    # all-zero signal: budgets must pass through untouched
    zero = spark.createDataFrame(
        [("a", 0.0), ("b", 0.0)], "host string, score double"
    )
    kept = {
        r.host: (r.max_fetch_per_round, r.centrality_mult)
        for r in SCH.centrality_host_budgets(zero, hosts).collect()
    }
    assert all(v == (40, 1.0) for v in kept.values())


def test_change_rate_estimator_matches_closed_form(spark):
    """λ̂ and p_stale match the Cho & Garcia-Molina closed forms exactly
    for every possible (n, X) counter pair at n=12, the X=0 case is
    IEEE +0.0 (the positive-log form — -ln(1.0) would be -0.0 and hash
    differently across engines), and λ̂ is strictly monotone in X."""
    import math
    import struct

    from dataset_crawler_spark.operators.scheduler import change_rate_estimate

    n = 12
    rows = [(x, r, r < x) for x in range(n + 1) for r in range(n)]
    obs = spark.createDataFrame(rows, "doc_id int, r int, changed boolean")
    got = {
        r.doc_id: r
        for r in change_rate_estimate(obs).collect()
    }
    prev = -1.0
    for x in range(n + 1):
        r = got[x]
        assert r.n_obs == n and r.n_changes == x
        assert r.lambda_hat == round(math.log((n + 0.5) / (n - x + 0.5)), 4)
        assert r.p_stale == round(x / (n + 0.5), 4)
        assert r.lambda_hat > prev
        prev = r.lambda_hat
    # +0.0, not -0.0: sign bit clear in the wire value
    assert struct.pack(">d", got[0].lambda_hat)[0] & 0x80 == 0


def test_change_rate_single_aggregate_no_join(spark):
    """Plan contract: explode → ONE doc_id hash aggregate → scalar math:
    exactly one exchange, no join, nothing Python."""
    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    obs = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(1), F.lit(12))).alias("r")
    ).select("doc_id", ((F.col("doc_id") + F.col("r")) % 3 == 0).alias("changed"))
    df = SCH.change_rate_estimate(obs)
    df.collect()  # force, so AQE finalizes
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert re.search(PY_STAGES, plan) is None
