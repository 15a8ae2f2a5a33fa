"""Real-socket fetch path: mapInPandas HTTP fetcher against an in-process
loopback HTTP server (no external network).

Covers the production promises of sources/http_fetch.py: per-request status
vocabulary (CrawlerLogs.java:30-48 parity — success/error/exception/time_out),
body→span parsing twins (JSON interchange + N-Triples), the full
CrawlEngine.crawl_round lifecycle over sockets including timeout→ops_log
rows and retry-requeue, and robots.txt availability (S3) over HTTP.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from dataset_crawler_spark.operators import seen as SN
from dataset_crawler_spark.sources.http_fetch import (
    fetch_one,
    http_fetcher,
    parse_spans,
)
from dataset_crawler_spark.streaming.rounds import CrawlEngine

N_OK = 12  # /doc/0..5 JSON + /nt/0..5 ntriples


def _doc_spans(i: int) -> list[dict]:
    return [
        {"kind": "title", "text": f"doc {i}", "media_ref": None, "offset": 0},
        {"kind": "image", "text": None, "media_ref": f"media://img/{i}", "offset": 1},
        {"kind": "body", "text": f"body text {i} " * (i + 1), "media_ref": None, "offset": 2},
    ]


def _nt_body(i: int) -> str:
    s = f"http://ex.org/r/{i}"
    return (
        f"<{s}> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/T{i % 3}> .\n"
        f'<{s}> <http://ex.org/name> "resource {i}" .\n'
        f"<{s}> <http://ex.org/link> <http://ex.org/other/{i}> .\n"
    )


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # keep pytest output clean
        pass

    LINK_GRAPH = {"a": ["b", "c"], "b": ["c", "d"], "c": ["a"], "d": [], "e": ["a"]}

    #: mutable per-path content versions for the conditional-GET endpoints —
    #: ETag is f'"v{version}"'; tests bump a version to simulate a change
    COND_VERSIONS: dict[str, int] = {}

    def do_GET(self):
        if self.path.startswith("/link/"):
            name = self.path.rsplit("/", 1)[1]
            base = f"http://{self.headers['Host']}/link/"
            spans = [
                {"kind": "link", "text": None, "media_ref": base + t, "offset": i}
                for i, t in enumerate(self.LINK_GRAPH[name])
            ]
            spans.append(
                {"kind": "text", "text": f"body {name}", "media_ref": None,
                 "offset": len(spans)}
            )
            self._reply(200, "application/json", json.dumps({"spans": spans}).encode())
        elif self.path == "/robots.txt":
            body = (
                "# loopback fixture\n"
                "User-agent: *\n"
                "Disallow: /private/\n"
                "Disallow: /tmp/\n"
                "Crawl-delay: 2\n"
                f"Sitemap: http://{self.headers['Host']}/sitemap.xml\n"
            ).encode()
            self._reply(200, "text/plain", body)
        elif self.path == "/sitemap.xml":
            locs = "".join(
                f"<url><loc>http://{self.headers['Host']}/doc/{i}</loc></url>"
                for i in range(4)
            )
            body = f'<?xml version="1.0"?><urlset>{locs}</urlset>'.encode()
            self._reply(200, "application/xml", body)
        elif self.path.startswith("/cond/"):
            # conditional-GET endpoint: stable ETag + Last-Modified per
            # content version; If-None-Match match → 304 with no body
            ver = self.COND_VERSIONS.get(self.path, 1)
            etag = f'"{self.path}-v{ver}"'
            lm = "Mon, 01 Jan 2024 00:00:00 GMT"
            if self.headers.get("If-None-Match") == etag:
                self.send_response(304)
                self.send_header("ETag", etag)
                self.end_headers()
                return
            i = int(self.path.rsplit("/", 1)[1])
            spans = [
                {"kind": "text", "text": f"cond {i} version {ver}",
                 "media_ref": None, "offset": 0}
            ]
            body = json.dumps({"spans": spans}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.send_header("ETag", etag)
            self.send_header("Last-Modified", lm)
            self.end_headers()
            self.wfile.write(body)
        elif self.path.startswith("/doc/"):
            i = int(self.path.rsplit("/", 1)[1])
            body = json.dumps({"spans": _doc_spans(i)}).encode()
            self._reply(200, "application/json", body)
        elif self.path.startswith("/nt/"):
            i = int(self.path.rsplit("/", 1)[1])
            self._reply(200, "application/n-triples", _nt_body(i).encode())
        elif self.path.startswith("/slow"):
            time.sleep(4.0)
            self._reply(200, "text/plain", b"too late")
        elif self.path.startswith("/r/"):
            # redirect fixtures: hop1 → 301 absolute → hop2 → 302 RELATIVE
            # → /link/d; loop → 308 self-loop; noloc → 301 without Location
            name = self.path.rsplit("/", 1)[1]
            if name == "hop1":
                self.send_response(301)
                self.send_header(
                    "Location", f"http://{self.headers['Host']}/r/hop2"
                )
            elif name == "hop2":
                self.send_response(302)
                self.send_header("Location", "/link/d")
            elif name == "loop":
                self.send_response(308)
                self.send_header(
                    "Location", f"http://{self.headers['Host']}/r/loop"
                )
            else:  # noloc
                self.send_response(301)
            self.send_header("Content-Length", "0")
            self.end_headers()
        elif self.path == "/missing":
            self.send_error(404, "not here")
        elif self.path == "/boom":
            self.send_error(503, "overloaded")
        else:
            self._reply(200, "text/plain", b"hello")

    def _reply(self, code: int, ctype: str, body: bytes):
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


# -- unit level: fetch_one + parse_spans (no Spark) --------------------------


def test_fetch_one_statuses(server):
    ok = fetch_one(f"{server}/doc/3", 5.0)
    assert ok[0] == "success" and [s["kind"] for s in ok[2]] == ["title", "image", "body"]

    err = fetch_one(f"{server}/missing", 5.0)
    assert err[0] == "error" and "404" in err[1] and err[2] is None

    boom = fetch_one(f"{server}/boom", 5.0)
    assert boom[0] == "error" and "503" in boom[1]

    slow = fetch_one(f"{server}/slow", 0.5)
    assert slow[0] == "time_out"

    refused = fetch_one("http://127.0.0.1:1/x", 1.0)  # port 1: nothing listens
    assert refused[0] == "exception"


def test_parse_spans_ntriples_matches_batch_source():
    """The N-Triples body mapping, pinned by hand to the spans the retired
    batch dump source produced for the same lines: rdf:type → kind
    'rdf:type' with the class IRI as text; other predicates → kind =
    predicate IRI, literal (plain, @lang or ^^datatype) → text, IRI object →
    media_ref; offsets in line order; a malformed line is skipped."""
    body = (
        "<http://ex.org/r1> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/TypeA> .\n"
        '<http://ex.org/r1> <http://ex.org/p/name> "Alice" .\n'
        "<http://ex.org/r1> <http://ex.org/p/knows> <http://ex.org/r2> .\n"
        '<http://ex.org/r2> <http://ex.org/p/name> "Bob"@en .\n'
        '<http://ex.org/r2> <http://ex.org/p/age> "42"^^<http://www.w3.org/2001/XMLSchema#int> .\n'
        "not a triple\n"
    )
    spans = parse_spans("application/n-triples", body.encode())
    assert [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans] == [
        ("rdf:type", "http://ex.org/TypeA", None, 0),
        ("http://ex.org/p/name", "Alice", None, 1),
        ("http://ex.org/p/knows", None, "http://ex.org/r2", 2),
        ("http://ex.org/p/name", "Bob", None, 3),
        ("http://ex.org/p/age", "42", None, 4),
    ]


# -- engine level: crawl_round over real sockets ------------------------------


def _frontier(spark, server):
    urls = [f"{server}/doc/{i}" for i in range(6)]
    urls += [f"{server}/nt/{i}" for i in range(6)]
    urls += [f"{server}/missing", f"{server}/boom", f"{server}/slow"]
    rows = [(u, None, 1.0, 0, i, "pending") for i, u in enumerate(urls)]
    return spark.createDataFrame(
        rows,
        "url string, host string, priority double, discovered_crawl_id int, "
        "seed_rank int, state string",
    )


def _hosts(spark, server):
    # host_of() strips the port — the scheduler keys hosts by bare hostname
    return spark.createDataFrame(
        [("127.0.0.1", 0, 1000, [], True)],
        "host string, crawl_delay_ms int, max_fetch_per_round int, "
        "robots_disallow array<string>, is_available boolean",
    )


def test_slow_host_cannot_stall_a_batch(spark, server):
    """One slow host must not serialize an Arrow batch: 10 URLs that hang
    past the timeout (server sleeps 4 s, timeout 2.5 s) mixed with 16 fast
    ones in a SINGLE mapInPandas batch finish in ~ceil(10/8)·timeout wall
    time (the bounded thread pool overlaps them), not n_slow × timeout —
    and every URL gets its own correct status (time_out vs success), which
    is exactly what crawl_round writes to the ops log and requeues from
    (pinned end-to-end by test_crawl_round_over_http)."""
    timeout = 2.5
    slow = [f"{server}/slow?u={i}" for i in range(10)]
    fast = [f"{server}/fast/{i}" for i in range(16)]  # catch-all 200 path
    sched = spark.createDataFrame(
        [(u,) for u in slow + fast], "url_c string"
    ).coalesce(1)  # ONE batch: the worst case a hot partition sees

    t0 = time.time()
    rows = http_fetcher(timeout_s=timeout, max_workers=8)(spark, sched).collect()
    wall = time.time() - t0

    st = {r.doc_id: r.status for r in rows}
    assert all(st[u] == "time_out" for u in slow)
    assert all(st[u] == "success" for u in fast)
    # serialized worst case is 10 × 2.5 = 25 s; pooled is two 2.5 s waves.
    # Generous slack for loaded-machine scheduling, still far below serial.
    assert wall < 13.0, f"batch stalled {wall:.1f}s — slow URLs serialized?"


def test_crawl_round_over_http(spark, tmp_path, server):
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    params = SN.BloomParams.for_capacity(64, fp_rate=0.01, n_shards=4)
    # generous per-request timeout: transient multi-second stalls on this
    # loaded VM must not flake the success paths; /slow sleeps 4 s, above it
    fetch = http_fetcher(timeout_s=2.0, max_workers=8)

    s0 = eng.crawl_round(
        _frontier(spark, server), _hosts(spark, server), fetch, 0,
        bloom_params=params, mode="discover",
    )
    assert s0["scheduled"] == N_OK + 3
    assert s0["fetched"] == N_OK
    assert s0["failed"] == 3

    ops = eng.store.read("ops_log", as_of=0).where(F.col("stage") == "fetch")
    by_status = {r["status"]: r["n"] for r in ops.groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert by_status["success"] == N_OK
    assert by_status["error"] == 2       # 404 + 503
    assert by_status["time_out"] == 1    # /slow under the 2s budget

    # fetched spans match the served fixtures exactly (kind, text, media_ref, order)
    got = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in eng.store.read("versions", as_of=0).select("doc_id", "spans").collect()
    }
    for i in range(6):
        want = [(d["kind"], d["text"], d["media_ref"], d["offset"]) for d in _doc_spans(i)]
        assert got[f"{server}/doc/{i}"] == want

    # retry machinery: failures re-enter the frontier with decayed priority…
    retry = eng.retry_frontier(crawl_id=0)
    retry_urls = {r.url for r in retry.collect()}
    assert retry_urls == {f"{server}/missing", f"{server}/boom", f"{server}/slow"}

    # …and the next round fetches ONLY retriable work (seen filter blocks the
    # N_OK successes; /slow now succeeds with a roomier timeout)
    s1 = eng.crawl_round(
        retry, _hosts(spark, server), http_fetcher(timeout_s=8.0), 1,
        bloom_params=params, mode="discover",
    )
    assert s1["scheduled"] == 3
    assert s1["fetched"] == 1  # /slow recovered; 404/503 still failing
    slow_doc = eng.store.read("versions", as_of=1).where(
        F.col("doc_id") == f"{server}/slow"
    ).collect()
    assert len(slow_doc) == 1
    assert [s.text for s in slow_doc[0].spans] == ["too late"]


def test_robots_and_sitemaps_over_http(spark, server):
    """Live robots.txt → hosts dimension with spec failure semantics (2xx
    parse / 4xx allow-all / 5xx unavailable), and robots Sitemap: directives
    → live sitemap fetch → seed frontier rows."""
    from dataset_crawler_spark.sources.robots import (
        fetch_robots,
        hosts_dim_over_http,
        sitemap_frontier_over_http,
    )

    hosts = spark.createDataFrame(
        [
            ("good.host", f"{server}/robots.txt"),
            ("bare.host", f"{server}/missing"),   # 404 ⇒ allow-all
            ("down.host", f"{server}/boom"),      # 503 ⇒ unavailable
        ],
        "host string, robots_url string",
    )
    fetched = fetch_robots(hosts).cache()
    dim = {r.host: r for r in hosts_dim_over_http(fetched).collect()}

    assert dim["good.host"].is_available
    assert sorted(dim["good.host"].robots_disallow) == ["/private/", "/tmp/"]
    assert dim["good.host"].crawl_delay_ms == 2000
    assert dim["bare.host"].is_available
    assert dim["bare.host"].robots_disallow == []
    assert dim["bare.host"].crawl_delay_ms == 500  # default
    assert not dim["down.host"].is_available
    assert dim["down.host"].robots_status == "error"

    seeds = sitemap_frontier_over_http(fetched).collect()
    urls = {r.url for r in seeds}
    assert urls == {f"{server}/doc/{i}" for i in range(4)}
    assert all(r.state == "pending" and r.priority == 1.0 for r in seeds)
    fetched.unpersist()


# -- conditional GET: ETag / If-Modified-Since revalidation -------------------


def test_fetch_one_cond_revalidates(server):
    from dataset_crawler_spark.sources.http_fetch import fetch_one_cond

    st, _, spans, etag, lm = fetch_one_cond(f"{server}/cond/1", 5.0)
    assert st == "success" and spans[0]["text"] == "cond 1 version 1"
    assert etag and lm

    # same validators → 304, no body, validators retained
    st2, msg2, spans2, etag2, _ = fetch_one_cond(
        f"{server}/cond/1", 5.0, etag=etag, last_modified=lm
    )
    assert st2 == "not_modified" and spans2 is None and etag2 == etag
    assert "304" in msg2

    # content change → 200 with the new body and a NEW etag
    _Handler.COND_VERSIONS["/cond/1"] = 2
    try:
        st3, _, spans3, etag3, _ = fetch_one_cond(
            f"{server}/cond/1", 5.0, etag=etag, last_modified=lm
        )
        assert st3 == "success"
        assert spans3[0]["text"] == "cond 1 version 2"
        assert etag3 != etag
    finally:
        _Handler.COND_VERSIONS.pop("/cond/1", None)


def test_conditional_crawl_round_over_http(spark, tmp_path, server):
    """Full-mode refresh with conditional=True: round 1 does plain GETs and
    stores validators; round 2 revalidates — unchanged docs come back 304
    (zero body bytes), are logged not_modified, are NOT diffed as deleted,
    are NOT requeued as retries, and a genuinely changed doc still produces
    an updated lineage row with its new spans."""
    from dataset_crawler_spark.sources.http_fetch import http_fetcher_conditional

    eng = CrawlEngine(spark, str(tmp_path / "store"))
    urls = [f"{server}/cond/{i}" for i in range(4)]
    frontier = spark.createDataFrame(
        [(u, None, 1.0, 0, i, "pending") for i, u in enumerate(urls)],
        "url string, host string, priority double, discovered_crawl_id int, "
        "seed_rank int, state string",
    )
    fetch = http_fetcher_conditional(timeout_s=5.0, max_workers=8)

    s0 = eng.crawl_round(
        frontier, _hosts(spark, server), fetch, 0, mode="full", conditional=True
    )
    assert s0["fetched"] == 4 and s0["not_modified"] == 0 and s0["added"] == 4
    v0 = {r.url_c: r.etag for r in eng.validators_as_of(0).collect()}
    assert set(v0) == set(urls) and all(v0.values())

    # round 1: one doc changes server-side; the rest must 304
    _Handler.COND_VERSIONS["/cond/2"] = 2
    try:
        s1 = eng.crawl_round(
            frontier, _hosts(spark, server), fetch, 1, mode="full", conditional=True
        )
    finally:
        _Handler.COND_VERSIONS.pop("/cond/2", None)
    assert s1["fetched"] == 1          # only the changed doc moved a body
    assert s1["not_modified"] == 3
    assert s1["failed"] == 0
    assert s1["updated"] == 1 and s1["added"] == 0
    assert s1["deleted"] == 0          # 304'd docs must NOT read as deleted

    lin1 = eng.store.read("lineage", as_of=1).where(F.col("crawl_id") == 1)
    assert {(r.doc_id, r.op) for r in lin1.collect()} == {
        (f"{server}/cond/2", "updated")
    }
    new_spans = eng.store.read("versions", as_of=1).where(
        (F.col("doc_id") == f"{server}/cond/2") & (F.col("crawl_id") == 1)
    ).collect()[0].spans
    assert new_spans[0].text == "cond 2 version 2"

    ops1 = eng.store.read("ops_log", as_of=1).where(F.col("crawl_id") == 1)
    by_status = {
        r["status"]: r["n"]
        for r in ops1.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert by_status == {"success": 1, "not_modified": 3}
    # 304s are healthy: no retries, no budget backoff pressure
    assert eng.retry_frontier(crawl_id=1).count() == 0
    adapted = eng.adaptive_hosts(_hosts(spark, server), as_of=1, lookback=1)
    assert all(r.fail_rate == 0.0 for r in adapted.collect())
    # the changed doc's NEW validators win the last-writer fold
    v1 = {r.url_c: r.etag for r in eng.validators_as_of(1).collect()}
    assert v1[f"{server}/cond/2"] != v0[f"{server}/cond/2"]
    for u in urls:
        if u != f"{server}/cond/2":
            assert v1[u] == v0[u]


# -- surfaced redirects: fetch layer + engine composition ---------------------


def test_fetch_one_redirect_surfacing(server):
    """follow_redirects=False turns a 3xx into its own status row: absolute
    target in the message (error-row format) AND as a kind='redirect' span;
    a RELATIVE Location resolves against the requested URL; a 3xx without
    Location is a plain error; the default still chases the chain silently."""
    ok = fetch_one(f"{server}/r/hop1", 5.0)
    assert ok[0] == "success"  # urllib followed 301 → 302 → /link/d

    red = fetch_one(f"{server}/r/hop1", 5.0, follow_redirects=False)
    assert red[0] == "redirect"
    assert red[1] == f"301: {server}/r/hop2"
    assert red[2] == [
        {"kind": "redirect", "text": None,
         "media_ref": f"{server}/r/hop2", "offset": 0}
    ]

    rel = fetch_one(f"{server}/r/hop2", 5.0, follow_redirects=False)
    assert rel[0] == "redirect" and rel[1] == f"302: {server}/link/d"

    loop = fetch_one(f"{server}/r/loop", 5.0, follow_redirects=False)
    assert loop[0] == "redirect" and loop[1] == f"308: {server}/r/loop"

    nol = fetch_one(f"{server}/r/noloc", 5.0, follow_redirects=False)
    assert nol[0] == "error" and "301" in nol[1]


def test_redirects_feed_discovery_and_seen(spark, tmp_path, server):
    """Surfaced 3xx end-to-end through crawl_round: the redirect is logged
    as its own ops status (never a failure, never retried), the redirecting
    URL joins the seen set, and its target enters the NEXT round's
    discovered frontier through the outlink path — so a 2-hop chain
    resolves one hop per round and the already-fetched terminal is blocked
    by the seen filter instead of refetched."""
    eng = CrawlEngine(spark, str(tmp_path / "store"))
    params = SN.BloomParams.for_capacity(64, fp_rate=0.01, n_shards=4)
    fetch = http_fetcher(timeout_s=5.0, follow_redirects=False)

    frontier = spark.createDataFrame(
        [
            (f"{server}/r/hop1", None, 1.0, 0, 0, "pending"),
            (f"{server}/link/d", None, 1.0, 0, 1, "pending"),
        ],
        "url string, host string, priority double, discovered_crawl_id int, "
        "seed_rank int, state string",
    )
    s0 = eng.crawl_round(
        frontier, _hosts(spark, server), fetch, 0,
        bloom_params=params, mode="discover", discover_links=True,
    )
    assert s0["scheduled"] == 2
    assert s0["fetched"] == 1       # /link/d — the only document
    assert s0["redirected"] == 1    # /r/hop1 surfaced, not followed
    assert s0["failed"] == 0        # a redirect is NOT a failure

    ops = eng.store.read("ops_log", as_of=0).where(F.col("stage") == "fetch")
    red = ops.where(F.col("status") == "redirect").collect()
    assert len(red) == 1
    assert red[0].url_c == f"{server}/r/hop1"
    assert red[0].message == f"301: {server}/r/hop2"
    assert eng.retry_frontier(crawl_id=0).count() == 0

    disc0 = {r.url for r in eng.discovered_frontier(0).collect()}
    assert f"{server}/r/hop2" in disc0

    # round 1: the discovered hop2 redirects again (relative Location)
    s1 = eng.crawl_round(
        eng.discovered_frontier(0), _hosts(spark, server), fetch, 1,
        bloom_params=params, mode="discover", discover_links=True,
    )
    assert s1["redirected"] == 1 and s1["fetched"] == 0 and s1["failed"] == 0
    disc1 = {r.url for r in eng.discovered_frontier(1).collect()}
    assert disc1 == {f"{server}/link/d"}

    # both hops are SEEN (fully handled), so neither is ever re-scheduled,
    # and the chain's terminal — already fetched in round 0 — is blocked
    seen = {r.url_c for r in eng.seen_urls_as_of(1).collect()}
    assert {f"{server}/r/hop1", f"{server}/r/hop2", f"{server}/link/d"} <= seen
    s2 = eng.crawl_round(
        eng.discovered_frontier(1), _hosts(spark, server), fetch, 2,
        bloom_params=params, mode="discover", discover_links=True,
    )
    assert s2["scheduled"] == 0  # chain closed without a single refetch
