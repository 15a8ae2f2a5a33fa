"""Full crawl lifecycle: schedule → fetch → diff → commit (CrawlEngine.crawl_round).

Discover mode = 10^10-frontier growth regime (seen-filtered, partial diff);
full mode = the reference's per-round re-crawl semantics (§3.1), checked
against the pure-Python crawler oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dataset_crawler_spark import datagen
from dataset_crawler_spark.operators import seen as SN
from dataset_crawler_spark.oracle.crawler_oracle import CrawlerOracle
from dataset_crawler_spark.streaming.rounds import CrawlEngine, simulated_fetcher

N_DOCS = 300
N_HOSTS = 15

FRONTIER_SCHEMA = (
    "url string, host string, priority double, discovered_crawl_id int, "
    "seed_rank int, state string"
)


def _frontier(spark):
    rows = datagen.frontier_py(N_DOCS, n_hosts=N_HOSTS)
    return spark.createDataFrame(
        [
            (r["url"], r["host"], r["priority"], r["discovered_crawl_id"], r["seed_rank"], r["state"])
            for r in rows
        ],
        FRONTIER_SCHEMA,
    )


def _open_hosts(spark):
    """All hosts available, no robots blocks, budget far above N_DOCS."""
    rows = [(f"host{i:04d}.example.org", 100, 10_000, [], True) for i in range(N_HOSTS)]
    return spark.createDataFrame(
        rows,
        "host string, crawl_delay_ms int, max_fetch_per_round int, "
        "robots_disallow array<string>, is_available boolean",
    )


def _corpus(spark, rnd):
    return datagen.documents_for_round_local(spark, N_DOCS, rnd, n_hosts=N_HOSTS)


def test_discover_mode_never_refetches(spark, tmp_path):
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    frontier = _frontier(spark)
    hosts = _open_hosts(spark)
    params = SN.BloomParams.for_capacity(N_DOCS, fp_rate=0.01, n_shards=8)

    s0 = eng.crawl_round(frontier, hosts, simulated_fetcher(_corpus(spark, 0)), 0,
                         bloom_params=params, mode="discover")
    assert s0["fetched"] > 0
    assert s0["added"] == s0["fetched"]  # discovery only ever adds
    assert s0["updated"] == 0 and s0["deleted"] == 0

    fetched0 = {r.url_c for r in eng.store.read("fetched", as_of=0).collect()}
    assert len(fetched0) == s0["fetched"]

    s1 = eng.crawl_round(frontier, hosts, simulated_fetcher(_corpus(spark, 1)), 1,
                         bloom_params=params, mode="discover")
    fetched1 = {r.url_c for r in eng.store.read("fetched", as_of=1).collect()} - fetched0
    # the seen filter (incremental bloom + exact table) must block refetches
    assert not (fetched0 & fetched1)
    assert s1["added"] == s1["fetched"]
    assert s1["deleted"] == 0

    # visible state = every fetched doc, with the content of the round that
    # fetched it (doc fetched in r0 keeps its r0 spans — never refetched)
    want = {}
    for rnd, fetched in ((0, fetched0), (1, fetched1)):
        content = dict(datagen.documents_for_round_py(N_DOCS, rnd, n_hosts=N_HOSTS))
        for u in fetched:
            want[u] = [tuple(s) for s in content[u]]
    got = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in eng.visible_docs().collect()
    }
    assert got == want


def test_crawl_round_commits_once_with_fetch_counts(spark, tmp_path, monkeypatch):
    """One commit point per round: crawl_round calls commit_round exactly
    once, and that single manifest entry already carries the fetch-stage
    counts — no crash window leaves a committed round without them."""
    from dataset_crawler_spark.sources.snapshots import SnapshotStore

    commits = []
    orig = SnapshotStore.commit_round

    def counting(store, crawl_id, description="", stats=None):
        commits.append(crawl_id)
        return orig(store, crawl_id, description, stats)

    monkeypatch.setattr(SnapshotStore, "commit_round", counting)
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    frontier = _frontier(spark)
    hosts = _open_hosts(spark)
    params = SN.BloomParams.for_capacity(N_DOCS, fp_rate=0.01, n_shards=8)
    # half the corpus unreachable → the round has real failures to count
    corpus = _corpus(spark, 0).where(F.xxhash64("doc_id") % 2 == 0)

    for rnd in (0, 1):
        stats = eng.crawl_round(frontier, hosts, simulated_fetcher(corpus), rnd,
                                bloom_params=params, mode="discover")
        assert commits == list(range(rnd + 1)), "exactly one commit per crawl_round"
        entry = next(r for r in eng.store.manifest()["rounds"] if r["crawl_id"] == rnd)
        assert entry["stats"] == stats
        assert {"scheduled", "fetched", "not_modified", "redirected", "failed"} <= entry["stats"].keys()
        assert entry["stats"]["scheduled"] == (
            entry["stats"]["fetched"] + entry["stats"]["failed"]
        )
    first = next(r for r in eng.store.manifest()["rounds"] if r["crawl_id"] == 0)
    assert first["stats"]["fetched"] > 0 and first["stats"]["failed"] > 0


def _live_frontier(spark, rnd):
    """Full re-crawl frontier = the round's live URI list (the reference
    fetches every URI the endpoint reports live, DataCrawler.java:235-258);
    doc_id IS the canonical URL in the fixtures."""
    rows = datagen.documents_for_round_py(N_DOCS, rnd, n_hosts=N_HOSTS)
    return spark.createDataFrame(
        [(u, u.split("/")[2], 0.5, rnd, 0, "pending") for u, _ in rows],
        FRONTIER_SCHEMA,
    )


def test_full_mode_matches_reference_oracle(spark, tmp_path):
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    hosts = _open_hosts(spark)
    oracle = CrawlerOracle()

    for rnd in (0, 1, 2):
        stats = eng.crawl_round(
            _live_frontier(spark, rnd), hosts, simulated_fetcher(_corpus(spark, rnd)),
            rnd, mode="full"
        )
        want = oracle.run_round(
            dict(datagen.documents_for_round_py(N_DOCS, rnd, n_hosts=N_HOSTS)), rnd
        )
        by_op = {"added": 0, "updated": 0, "deleted": 0}
        for _, (op, _ops) in want.items():
            by_op[op] += 1
        assert {k: stats[k] for k in by_op} == by_op, f"round {rnd}"

    got = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in eng.visible_docs().collect()
    }
    assert got == oracle.visible_docs()


def test_resurrection_refetches_tombstoned(spark, tmp_path):
    """North_star resurrect mode: deleted docs drop out of the exact seen
    table (the tombstone anti-join), so when they reappear in the frontier
    the Bloom filter's maybe-seen is overruled by the exact confirm and they
    get re-fetched and re-added — while alive already-fetched docs stay
    blocked."""
    eng = CrawlEngine(spark, str(tmp_path / "store"), resurrect=True)
    hosts = _open_hosts(spark)
    params = SN.BloomParams.for_capacity(N_DOCS, fp_rate=0.01, n_shards=4)

    # rounds 0 and 1 in FULL mode (reference re-crawl): round 1 deletes the
    # m∈[8,16) docs and the m∈[16,18) tombstone-resurrect docs
    for rnd in (0, 1):
        eng.crawl_round(
            _live_frontier(spark, rnd), hosts, simulated_fetcher(_corpus(spark, rnd)),
            rnd, bloom_params=params, mode="full",
        )
    deleted_r1 = {
        r.doc_id
        for r in eng.store.read("lineage", as_of=1)
        .where("crawl_id = 1 AND op = 'deleted'")
        .collect()
    }
    assert deleted_r1, "fixture must delete docs in round 1"

    # round 2 DISCOVER over the full URL universe: everything alive is seen;
    # only the resurrected docs (present again in corpus r2) must re-fetch
    corpus2 = _corpus(spark, 2)
    s2 = eng.crawl_round(
        _frontier(spark), hosts, simulated_fetcher(corpus2), 2,
        bloom_params=params, mode="discover",
    )
    fetched2 = {
        r.url_c
        for r in eng.store.read("fetched", as_of=2).where("crawl_id = 2").collect()
    }
    corpus2_ids = {r.doc_id for r in corpus2.select("doc_id").collect()}
    resurrected = deleted_r1 & corpus2_ids
    assert resurrected, "fixture must resurrect tombstoned docs in round 2"
    # every resurrected doc whose frontier row canonicalizes to the clean URL
    # gets refetched (the d==5 dirty variant keeps its sorted query string and
    # is a different canonical URL, so it can't hit the corpus doc_id)
    from dataset_crawler_spark.functions.hashing import h60_py

    reachable = {
        u for u in resurrected if h60_py(f"d|{int(u.rsplit('/', 1)[1])}") % 6 != 5
    }
    assert reachable and reachable <= fetched2
    # nothing alive-and-already-fetched is refetched
    alive_fetched = {
        r.url_c for r in eng.store.read("fetched", as_of=1).collect()
    } - deleted_r1
    assert not (fetched2 & alive_fetched)
    assert s2["added"] == s2["fetched"]  # resurrections come back as added


def test_ops_log_records_failures_and_retry_requeues(spark, tmp_path):
    """K4 depth: every scheduled URL gets one per-operation status row
    (success/error/exception/time_out — CrawlerLogs.java:30-48 vocabulary),
    and failed fetches re-enter the frontier with decayed priority (T5) and
    succeed on the next round."""
    from dataset_crawler_spark.streaming.rounds import OP_ERROR, OP_SUCCESS, OP_TIMEOUT

    eng = CrawlEngine(spark, str(tmp_path / "store"))
    frontier = _frontier(spark)
    hosts = _open_hosts(spark)
    full = _corpus(spark, 0)
    # half the corpus is unreachable in round 0 → 404-style errors
    partial = full.where(F.xxhash64("doc_id") % 2 == 0)

    base = simulated_fetcher(partial)

    def flaky(spark_, scheduled):
        # additionally mark one deterministic slice of the failures time_out
        out = base(spark_, scheduled)
        return out.withColumn(
            "status",
            F.when(
                (F.col("status") == OP_ERROR) & (F.xxhash64("doc_id") % 3 == 0),
                F.lit(OP_TIMEOUT),
            ).otherwise(F.col("status")),
        )

    s0 = eng.crawl_round(frontier, hosts, flaky, 0, mode="discover")
    ops = eng.ops_log_as_of(0)
    assert ops.count() == s0["scheduled"]  # one row per scheduled URL
    by_status = {r.status: r.n for r in ops.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert by_status.get(OP_SUCCESS, 0) == s0["fetched"]
    assert s0["failed"] == s0["scheduled"] - s0["fetched"] > 0
    assert by_status.get(OP_TIMEOUT, 0) > 0  # custom statuses flow through

    retry = eng.retry_frontier(0, decay=0.5).cache()
    failed_urls = {r.url_c for r in ops.where(F.col("status") != OP_SUCCESS).collect()}
    assert {r.url for r in retry.collect()} == failed_urls
    # decayed priority: strictly below the scheduled priority for every URL
    sched_prio = {r.url_c: r.priority for r in ops.collect()}
    for r in retry.collect():
        assert r.priority == sched_prio[r.url] * 0.5

    # round 1: retry frontier against the fully-reachable corpus — the
    # reachable failures (docs that exist in the full corpus) now succeed
    s1 = eng.crawl_round(retry, hosts, simulated_fetcher(full), 1, mode="discover")
    fetched1 = {
        r.url_c for r in eng.store.read("fetched", as_of=1).where("crawl_id = 1").collect()
    }
    corpus_ids = {r.doc_id for r in full.select("doc_id").collect()}
    assert fetched1 == failed_urls & corpus_ids
    assert s1["failed"] == len(failed_urls - corpus_ids)
    retry.unpersist()


def test_refresh_frontier_ranks_changed_docs_first(spark, tmp_path):
    """After two full rounds, refresh_frontier must rank by change history:
    docs changed in round 1 (score 0.5·decay⁰ from r0 + 1.0 from r1 = 1.5)
    above round-1 additions (1.0) above round-0-only docs (0.5); deleted
    docs must not appear at all."""
    params = SN.BloomParams.for_capacity(N_DOCS, fp_rate=0.01, n_shards=8)
    hosts = _open_hosts(spark)
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    for rnd in range(2):
        eng.crawl_round(
            _live_frontier(spark, rnd), hosts,
            simulated_fetcher(_corpus(spark, rnd)), rnd,
            bloom_params=params, mode="full",
        )

    lin = {
        (r.doc_id, r.crawl_id): r.op
        for r in eng.store.read("lineage").select("doc_id", "crawl_id", "op").collect()
    }
    fr = {r.url: r for r in eng.refresh_frontier(as_of=1).collect()}

    for (doc_id, rnd), op in lin.items():
        if rnd != 1:
            continue
        if op == "deleted":
            assert doc_id not in fr
        elif op == "updated":
            assert fr[doc_id].priority == 1.5
        elif op == "added":
            assert fr[doc_id].priority == 1.0
    unchanged = [
        d for (d, rnd), op in lin.items()
        if rnd == 0 and (d, 1) not in lin and d in fr
    ]
    assert unchanged, "fixture must leave some docs unchanged in round 1"
    for d in unchanged:
        assert fr[d].priority == 0.5
    # frontier rows are schedulable as-is
    assert set(fr[next(iter(fr))].asDict()) == {
        "url", "host", "priority", "discovered_crawl_id", "seed_rank", "state"
    }


def test_politeness_budget_enforced_in_lifecycle(spark, tmp_path):
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    frontier = _frontier(spark)
    # tight budget: 3 fetches per host per round
    rows = [(f"host{i:04d}.example.org", 100, 3, [], True) for i in range(N_HOSTS)]
    hosts = spark.createDataFrame(
        rows,
        "host string, crawl_delay_ms int, max_fetch_per_round int, "
        "robots_disallow array<string>, is_available boolean",
    )
    s0 = eng.crawl_round(frontier, hosts, simulated_fetcher(_corpus(spark, 0)), 0,
                         mode="discover")
    assert s0["scheduled"] <= 3 * N_HOSTS
    per_host = (
        eng.store.read("fetched", as_of=0)
        .groupBy(F.regexp_extract("url_c", r"https://([^/]+)/", 1).alias("h"))
        .count()
    )
    assert per_host.where(F.col("count") > 3).count() == 0


def test_adaptive_hosts_backs_off_failing_host(spark, tmp_path):
    """Half of one host's scheduled URLs 404 → its budget halves and its
    delay stretches; a fully-successful host keeps its configured values."""
    schema = (
        "url string, host string, priority double, discovered_crawl_id int, "
        "seed_rank int, state string"
    )
    frontier = spark.createDataFrame(
        [(f"https://bad.example.org/d/{i}", "bad.example.org", 1.0, 0, i, "pending")
         for i in range(4)]
        + [(f"https://good.example.org/d/{i}", "good.example.org", 1.0, 0, i, "pending")
           for i in range(2)],
        schema,
    )
    hosts = spark.createDataFrame(
        [("bad.example.org", 10, 100, [], True), ("good.example.org", 10, 100, [], True)],
        "host string, crawl_delay_ms int, max_fetch_per_round int, "
        "robots_disallow array<string>, is_available boolean",
    )
    # corpus is missing half of bad's URLs → simulated_fetcher reports errors
    docs = [(f"https://bad.example.org/d/{i}",
             [("text", f"b{i}", None, 0)]) for i in range(2)] + [
            (f"https://good.example.org/d/{i}",
             [("text", f"g{i}", None, 0)]) for i in range(2)]
    corpus = spark.createDataFrame(
        docs,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    stats = eng.crawl_round(frontier, hosts, simulated_fetcher(corpus), 0, mode="discover")
    assert stats["failed"] == 2

    adapted = {r.host: r for r in eng.adaptive_hosts(hosts, as_of=0).collect()}
    assert adapted["bad.example.org"].fail_rate == 0.5
    assert adapted["bad.example.org"].max_fetch_per_round == 50
    assert adapted["bad.example.org"].crawl_delay_ms == 15
    assert adapted["good.example.org"].fail_rate == 0.0
    assert adapted["good.example.org"].max_fetch_per_round == 100
    assert adapted["good.example.org"].crawl_delay_ms == 10

    # the adapted dim feeds straight back into scheduling: bad's budget caps
    # the next round at 50 even though 100 were configured
    assert set(adapted["bad.example.org"].asDict()) >= {
        "host", "robots_disallow", "is_available", "max_fetch_per_round",
        "crawl_delay_ms",
    }


def test_adaptive_budget_shrinks_next_round_schedule(spark, tmp_path):
    """End-to-end budget adaptation INSIDE the composed round (T3 ∘ adaptive
    backoff): with ``adapt_budgets=True`` the politeness window of round N
    enforces the budget adapted from round N-1's ops log — a host that failed
    every fetch is squeezed to the floor budget next round, while a healthy
    host keeps its configured budget. Expected counts are the pure-Python
    fold of the same formulas (budget' = max(1, floor(b·(1-fail_rate))))."""
    schema = (
        "url string, host string, priority double, discovered_crawl_id int, "
        "seed_rank int, state string"
    )
    fail_urls = [f"https://fail.example.org/d/{i}" for i in range(8)]
    good_urls = [f"https://good.example.org/d/{i}" for i in range(4)]
    frontier0 = spark.createDataFrame(
        [(u, "fail.example.org", 1.0, 0, i, "pending") for i, u in enumerate(fail_urls)]
        + [(u, "good.example.org", 1.0, 0, i, "pending") for i, u in enumerate(good_urls)],
        schema,
    )
    hosts = spark.createDataFrame(
        [("fail.example.org", 10, 8, [], True), ("good.example.org", 10, 8, [], True)],
        "host string, crawl_delay_ms int, max_fetch_per_round int, "
        "robots_disallow array<string>, is_available boolean",
    )
    # corpus only has good's docs → every fail.example.org fetch errors
    corpus = spark.createDataFrame(
        [(u, [("text", f"g{i}", None, 0)]) for i, u in enumerate(good_urls)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    eng = CrawlEngine(spark, str(tmp_path / "store"))

    # round 0: no history yet — budgets are the configured ones even with
    # adapt_budgets on; everything schedulable is scheduled
    s0 = eng.crawl_round(frontier0, hosts, simulated_fetcher(corpus), 0,
                         mode="discover", adapt_budgets=True)
    assert s0["scheduled"] == 12
    assert s0["failed"] == 8

    # round 1: retry of the 8 failures + 4 fresh good URLs. fail_rate(fail)=1.0
    # → budget max(1, floor(8·0)) = 1; fail_rate(good)=0 → budget stays 8.
    fresh_good = [f"https://good.example.org/n/{i}" for i in range(4)]
    frontier1 = eng.retry_frontier(0).unionByName(
        spark.createDataFrame(
            [(u, "good.example.org", 1.0, 1, i, "pending") for i, u in enumerate(fresh_good)],
            schema,
        )
    )
    corpus1 = corpus.unionByName(
        spark.createDataFrame(
            [(u, [("text", f"n{i}", None, 0)]) for i, u in enumerate(fresh_good)],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )
    )
    s1 = eng.crawl_round(frontier1, hosts, simulated_fetcher(corpus1), 1,
                         mode="discover", adapt_budgets=True)
    assert s1["scheduled"] == 1 + 4  # squeezed fail host + fresh good URLs
    per_host = {
        r.host: r.n
        for r in eng.ops_log_as_of(1).where(F.col("crawl_id") == 1)
        .groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert per_host == {"fail.example.org": 1, "good.example.org": 4}

    # static-budget control: the same round 1 WITHOUT adaptation schedules all
    # 8 retries — proving the shrink came from the adapted dim, not the data
    eng2 = CrawlEngine(spark, str(tmp_path / "store2"))
    eng2.crawl_round(frontier0, hosts, simulated_fetcher(corpus), 0, mode="discover")
    s1_static = eng2.crawl_round(
        eng2.retry_frontier(0), hosts, simulated_fetcher(corpus), 1, mode="discover"
    )
    assert s1_static["scheduled"] == 8


def test_change_rate_frontier_matches_observation_algebra(spark, tmp_path):
    """Poisson refresh queue (change_rate_frontier) over three oracle-pinned
    full rounds: every live doc's priority equals the closed-form staleness
    probability X/(n+0.5) computed from the per-round observation stream the
    Python oracle implies (n = rounds the doc was live+fetched, X = rounds
    it changed), and tombstoned docs never re-enter the queue."""
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    hosts = _open_hosts(spark)
    oracle = CrawlerOracle()

    exp_obs: dict[str, list[bool]] = {}
    tombstoned: set[str] = set()
    for rnd in (0, 1, 2):
        eng.crawl_round(
            _live_frontier(spark, rnd), hosts, simulated_fetcher(_corpus(spark, rnd)),
            rnd, mode="full",
        )
        live = dict(datagen.documents_for_round_py(N_DOCS, rnd, n_hosts=N_HOSTS))
        want = oracle.run_round(live, rnd)
        for doc in live:
            changed = doc in want and want[doc][0] in ("added", "updated")
            exp_obs.setdefault(doc, []).append(changed)
        for doc, (op, _) in want.items():
            if op == "deleted":
                tombstoned.add(doc)
            else:
                tombstoned.discard(doc)  # re-added later wins

    fr = {r.url: r for r in eng.change_rate_frontier().collect()}
    assert set(fr) == set(exp_obs) - tombstoned
    for doc, obs in exp_obs.items():
        if doc in tombstoned:
            continue
        n, x = len(obs), sum(obs)
        assert fr[doc].priority == round(x / (n + 0.5), 4), (doc, obs)
        assert fr[doc].state == "pending"


def _linked_corpus(spark):
    """Six docs on four hosts with an explicit cross-host link structure:
    h0 is the hub (h1, h2, h3 all link to it), h0 links out to h1 and h2,
    h3 receives nothing. Host pagerank order: h0 > {h1, h2} > h3."""
    def u(h, i):
        return f"https://host{h:04d}.example.org/doc/{i}"

    def link(target):
        return ("link", None, target, 0)

    def text(t, off=1):
        return ("text", t, None, off)

    rows = [
        (u(0, 0), [link(u(1, 0)), link(u(2, 0)), text("hub doc")]),
        (u(1, 0), [link(u(0, 0)), text("spoke one")]),
        (u(1, 1), [link(u(0, 0)), text("spoke one b")]),
        (u(2, 0), [link(u(0, 0)), text("spoke two")]),
        (u(3, 0), [link(u(0, 0)), text("isolated out-only")]),
        (u(3, 1), [text("no links at all")]),
    ]
    from pyspark.sql import types as T

    from dataset_crawler_spark.schemas import SPAN

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("spans", T.ArrayType(SPAN)),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_centrality_hosts_budgets_from_own_graph(spark, tmp_path):
    """The centrality→budget composition over the engine's OWN committed
    corpus: cold start passes the dim through untouched; after one round
    the hub host's budget scales above the spokes', an unlinked host drops
    to min_budget, and the adapted dim feeds straight back into the next
    crawl_round (same contract as adaptive_hosts)."""
    from dataset_crawler_spark.operators import graph as G
    from dataset_crawler_spark.operators.scheduler import centrality_host_budgets

    eng = CrawlEngine(spark, str(tmp_path / "store"))
    hosts = _open_hosts(spark)

    corpus = _linked_corpus(spark)
    frontier = spark.createDataFrame(
        [
            (r.doc_id, r.doc_id.split("/")[2], 0.5, 0, 0, "pending")
            for r in corpus.collect()
        ],
        FRONTIER_SCHEMA,
    )
    # round 0 with a LINK-FREE corpus: committed docs but an empty host
    # graph -> passthrough multipliers (cold start must not zero budgets)
    nolinks = corpus.select(
        "doc_id",
        F.expr(
            "filter(transform(spans, s -> named_struct("
            "'kind', s.kind, 'text', s.text, "
            "'media_ref', CAST(NULL AS STRING), 'offset', s.offset)), "
            "s -> s.text IS NOT NULL)"
        ).alias("spans"),
    )
    eng.crawl_round(frontier, hosts, simulated_fetcher(nolinks), 0, mode="full")
    cold = eng.centrality_hosts(hosts)
    assert {r.centrality_mult for r in cold.collect()} == {1.0}
    assert {r.max_fetch_per_round for r in cold.collect()} == {10_000}

    # round 1 commits the linked corpus; the engine's graph is now the
    # 4-host hub structure
    eng.crawl_round(frontier, hosts, simulated_fetcher(corpus), 1, mode="full")
    edges = {(r.src, r.dst) for r in eng.host_graph().collect()}
    h = [f"host{i:04d}.example.org" for i in range(4)]
    assert edges == {
        (h[0], h[1]), (h[0], h[2]),
        (h[1], h[0]), (h[2], h[0]), (h[3], h[0]),
    }

    dim = eng.centrality_hosts(hosts, min_budget=7)
    got = {r.host: r for r in dim.collect()}
    # hub outranks spokes; spokes outrank the out-only host; every host in
    # the dim but outside the graph floors at min_budget
    assert got[h[0]].centrality_mult > got[h[1]].centrality_mult > 0
    assert got[h[1]].centrality_mult == got[h[2]].centrality_mult
    assert got[h[3]].centrality_mult < got[h[1]].centrality_mult
    for i in range(4, N_HOSTS):
        assert got[f"host{i:04d}.example.org"].max_fetch_per_round == 7
    # engine output ≡ direct composition over the same graph
    want = {
        r.host: (r.max_fetch_per_round, r.centrality_mult)
        for r in centrality_host_budgets(
            G.pagerank(eng.host_graph()).select(
                F.col("node").alias("host"), F.col("rank").alias("score")
            ),
            hosts,
            min_budget=7,
        ).collect()
    }
    assert {
        k: (v.max_fetch_per_round, v.centrality_mult) for k, v in got.items()
    } == want

    # the adapted dim feeds the next round unchanged (extra centrality_mult
    # column tolerated, budgets respected by the scheduler)
    s2 = eng.crawl_round(
        frontier, hosts=dim, fetch_fn=simulated_fetcher(corpus), crawl_id=2,
        mode="full",
    )
    assert s2["fetched"] == 6

    # trustrank variant: trust seeded at the hub -> the out-only host h3
    # (no trusted in-path) drops to the floor; unknown signal raises
    tdim = eng.centrality_hosts(
        hosts,
        signal="trustrank",
        trusted=spark.createDataFrame([(h[0],)], "node string"),
        min_budget=3,
    )
    tg = {r.host: r for r in tdim.collect()}
    assert tg[h[3]].centrality_mult == 0.0
    assert tg[h[3]].max_fetch_per_round == 3
    assert tg[h[0]].centrality_mult > 0
    import pytest

    with pytest.raises(ValueError, match="unknown centrality signal"):
        eng.centrality_hosts(hosts, signal="bogus")


def test_online_opic_state_through_rounds(spark, tmp_path):
    """The standing online-importance state (CrawlEngine.opic_update /
    opic_scores): bootstrap seeds the then-known hosts, each round's update
    banks only the visited hosts' cash along the CURRENT graph, cash is
    conserved exactly, the hub ends on top, and a replay of a round is
    idempotent."""
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    hosts = _open_hosts(spark)
    assert eng.opic_scores() is None  # nothing standing before any update

    corpus = _linked_corpus(spark)
    frontier = spark.createDataFrame(
        [
            (r.doc_id, r.doc_id.split("/")[2], 0.5, 0, 0, "pending")
            for r in corpus.collect()
        ],
        FRONTIER_SCHEMA,
    )
    nolinks = corpus.select(
        "doc_id",
        F.expr(
            "filter(transform(spans, s -> named_struct("
            "'kind', s.kind, 'text', s.text, "
            "'media_ref', CAST(NULL AS STRING), 'offset', s.offset)), "
            "s -> s.text IS NOT NULL)"
        ).alias("spans"),
    )
    eng.crawl_round(frontier, hosts, simulated_fetcher(nolinks), 0, mode="full")
    s0 = {r.node: r for r in eng.opic_update(0).collect()}
    # bootstrap universe = the 4 fetched hosts; empty graph -> every host's
    # cash banks and returns uniformly via the virtual page
    assert len(s0) == 4
    assert all(abs(r.cash - 0.25) < 1e-12 and abs(r.hist - 0.25) < 1e-12
               for r in s0.values())

    eng.crawl_round(frontier, hosts, simulated_fetcher(corpus), 1, mode="full")
    s1 = {r.node: r for r in eng.opic_update(1).collect()}
    h = [f"host{i:04d}.example.org" for i in range(4)]
    assert abs(sum(r.cash for r in s1.values()) - 1.0) < 1e-9  # conservation
    scores = {r.host: r.score for r in eng.opic_scores().collect()}
    # hub receives from all three spokes -> top importance; h3 gives its
    # cash away and receives nothing -> bottom
    assert scores[h[0]] == max(scores.values())
    assert scores[h[3]] == min(scores.values())
    # replaying the round overwrites its own partition and changes nothing
    s1b = {r.node: (r.cash, r.hist) for r in eng.opic_update(1).collect()}
    assert s1b == {k: (v.cash, v.hist) for k, v in s1.items()}

    # budget shaping straight off the standing state (no batch iteration):
    # hub scales up, the cash-poor h3 floors
    dim = eng.centrality_hosts(hosts, signal="online", min_budget=5)
    got = {r.host: r for r in dim.collect()}
    assert got[h[0]].centrality_mult == max(r.centrality_mult for r in got.values())
    assert got[h[3]].max_fetch_per_round <= got[h[1]].max_fetch_per_round
    # and a fresh engine with no standing state passes the dim through
    cold = CrawlEngine(spark, str(tmp_path / "empty")).centrality_hosts(
        hosts, signal="online"
    )
    assert {r.centrality_mult for r in cold.collect()} == {1.0}
