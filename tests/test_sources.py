"""Seed-list (S1), robots.txt and sitemap sources."""

from __future__ import annotations

from dataset_crawler_spark.sources.seeds import read_seed_list

SEEDS = """1\thttp://data.example.org/sparql\tfirst dataset
bad line without tabs
2\thttp://other.example.org/sparql\tsecond dataset
3\thttp://third.example.org/sparql\tthird
"""

def test_seed_list_order_and_malformed_filter(spark, tmp_path):
    p = tmp_path / "seeds.tsv"
    p.write_text(SEEDS)
    rows = read_seed_list(spark, str(p)).collect()
    assert [r.seed_rank for r in rows] == [0, 1, 2]
    assert [r.seed_id for r in rows] == ["1", "2", "3"]
    assert rows[0].url == "http://data.example.org/sparql"


ROBOTS = """# global rules
User-agent: *
Disallow: /private
Disallow: /tmp/
Crawl-delay: 2.5

User-agent: evilbot
Disallow: /
"""

ROBOTS_NAMED = """User-agent: goodbot
User-agent: *
Disallow: /x
"""


def test_robots_parse_and_hosts_dim(spark):
    from dataset_crawler_spark.sources.robots import (
        hosts_dim_from_robots,
        parse_robots_py,
    )

    assert parse_robots_py(ROBOTS) == (["/private", "/tmp/"], 2500)
    assert parse_robots_py(ROBOTS, agent="evilbot") == (["/"], None)
    assert parse_robots_py(ROBOTS_NAMED, agent="goodbot") == (["/x"], None)
    assert parse_robots_py("") == ([], None)

    df = spark.createDataFrame(
        [("a.org", ROBOTS), ("b.org", None)], "host string, robots_txt string"
    )
    got = {r.host: r for r in hosts_dim_from_robots(df, default_delay_ms=500).collect()}
    assert got["a.org"].robots_disallow == ["/private", "/tmp/"]
    assert got["a.org"].crawl_delay_ms == 2500
    assert got["b.org"].robots_disallow == []
    assert got["b.org"].crawl_delay_ms == 500
    assert all(r.is_available for r in got.values())

    # end-to-end: the parsed dimension drives the scheduler's robots gate
    from dataset_crawler_spark.operators.scheduler import robots_gate

    cand = spark.createDataFrame(
        [
            ("https://a.org/private/x", "a.org"),
            ("https://a.org/ok", "a.org"),
            ("https://b.org/private/x", "b.org"),
        ],
        "url_c string, host string",
    )
    kept = {r.url_c for r in robots_gate(cand, hosts_dim_from_robots(df)).collect()}
    assert kept == {"https://a.org/ok", "https://b.org/private/x"}


def test_sitemap_urls_and_seeds(spark):
    from dataset_crawler_spark.sources.robots import sitemap_seeds, sitemap_urls

    robots = spark.createDataFrame(
        [
            ("a.org", "User-agent: *\nDisallow: /x\nSitemap: https://a.org/sm.xml\n"
                      "sitemap:https://a.org/sm2.xml"),
            ("b.org", "User-agent: *\nDisallow:"),
        ],
        "host string, robots_txt string",
    )
    got = {(r.host, r.sitemap_url) for r in sitemap_urls(robots).collect()}
    assert got == {
        ("a.org", "https://a.org/sm.xml"),
        ("a.org", "https://a.org/sm2.xml"),
    }

    xml = """<?xml version="1.0"?><urlset>
      <url><loc>https://a.org/p/1</loc></url>
      <url><loc> HTTPS://A.ORG/p/2 </loc></url>
      <url><loc>https://a.org/p/1#frag</loc></url>
    </urlset>"""
    seeds = sitemap_seeds(
        spark.createDataFrame([("a.org", xml)], "host string, sitemap_xml string")
    ).collect()
    rows = {r.url: r for r in seeds}
    # canonicalized (#frag stripped, scheme/host lowercased) and deduped
    assert set(rows) == {"https://a.org/p/1", "https://a.org/p/2"}
    for r in rows.values():
        assert r.host == "a.org" and r.state == "pending" and r.priority == 1.0


def test_sitemap_lastmod_extraction_and_priority(spark):
    """<lastmod> rides per-entry (correctly paired when only some entries
    carry it, date-only and full-ISO forms both parse, malformed → null)
    and lastmod_priority maps recency onto [base, 1] deterministically from
    an explicit as_of — never wall-clock."""
    from dataset_crawler_spark.sources.robots import lastmod_priority, sitemap_seeds

    xml = """<?xml version="1.0"?><urlset>
      <url><loc>https://a.org/fresh</loc><lastmod>2024-03-01T00:00:00Z</lastmod></url>
      <url><loc>https://a.org/month</loc><lastmod>2024-01-31</lastmod></url>
      <url><loc>https://a.org/none</loc></url>
      <url><lastmod>2024-02-15</lastmod><loc>https://a.org/after</loc></url>
      <url><loc>https://a.org/bad</loc><lastmod>not-a-date</lastmod></url>
      <url><loc>https://a.org/future</loc><lastmod>2030-01-01</lastmod></url>
    </urlset>"""
    seeds = sitemap_seeds(
        spark.createDataFrame([("a.org", xml)], "host string, sitemap_xml string"),
        with_lastmod=True,
    )
    lm = {r.url: r.lastmod for r in seeds.collect()}
    assert lm["https://a.org/fresh"] is not None
    assert lm["https://a.org/month"].day == 31
    assert lm["https://a.org/none"] is None
    assert lm["https://a.org/after"] is not None  # lastmod-before-loc order
    assert lm["https://a.org/bad"] is None        # try-cast, never an error

    pr = {
        r.url: r.priority
        for r in lastmod_priority(
            seeds, as_of="2024-03-01 00:00:00", halflife_days=30.0
        ).collect()
    }
    assert pr["https://a.org/fresh"] == 1.0             # age 0
    assert pr["https://a.org/month"] == 0.75            # exactly one half-life
    assert pr["https://a.org/none"] == 0.5              # base fallback
    assert pr["https://a.org/future"] == 1.0            # skew clamps to age 0
    assert 0.75 < pr["https://a.org/after"] < 1.0
    # schema still feeds the scheduler: no lastmod column in the output
    assert "lastmod" not in lastmod_priority(seeds, as_of="2024-03-01").columns


def test_robots_rfc9309_rules_and_gate(spark):
    """RFC 9309 semantics end-to-end: Allow + Disallow with * wildcards and
    $ anchors parse into pre-compiled rules, the distributed gate applies
    longest-match-wins (Allow breaking ties), and the gate's keep set equals
    the pure-Python evaluator on every probe path."""
    from dataset_crawler_spark.operators.scheduler import robots_gate
    from dataset_crawler_spark.sources.robots import (
        evaluate_robots_py,
        hosts_dim_from_robots,
        parse_robots_full_py,
    )

    txt = (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/public\n"   # longer than /private/ → allowed subtree
        "Disallow: /*.php$\n"        # wildcard + end anchor
        "Allow: /fish\n"
        "Disallow: /fish*.html$\n"   # longer than /fish → html blocked
        "Allow: /folder\n"
        "Disallow: /folder\n"        # equal length → Allow wins the tie
        "Disallow: /*?sessionid=\n"  # rules match path INCLUDING query
        "Crawl-delay: 1\n"
    )
    rules, delay = parse_robots_full_py(txt)
    assert delay == 1000 and len(rules) == 8

    paths = [
        ("/private/x", False),
        ("/private/public/y", True),
        ("/x.php", False),
        ("/sub/x.php", False),       # '*.php$' floats anywhere
        ("/x.php5", True),           # anchor: .php5 is not .php-at-end
        ("/fish/a.html", False),
        ("/fish/a.htm", True),
        ("/folder/page", True),      # allow wins the equal-length tie
        ("/other", True),
        ("/page?sessionid=abc", False),  # query-string wildcard rule
        ("/page", True),                 # same path, no query → allowed
    ]
    for p, want in paths:
        assert evaluate_robots_py(rules, p) is want, p

    dim = hosts_dim_from_robots(
        spark.createDataFrame([("h.org", txt)], "host string, robots_txt string")
    )
    cands = spark.createDataFrame(
        [(f"https://h.org{p}", "h.org", 1.0, 0, 0) for p, _ in paths],
        "url_c string, host string, priority double, seed_rank int, "
        "discovered_crawl_id int",
    )
    kept = {r.url_c for r in robots_gate(cands, dim).collect()}
    want_kept = {f"https://h.org{p}" for p, w in paths if w}
    assert kept == want_kept

    # legacy fallback: a dim WITHOUT robots_rules still prefix-gates
    legacy = dim.drop("robots_rules")
    kept_legacy = {r.url_c for r in robots_gate(cands, legacy).collect()}
    assert f"https://h.org/private/x" not in kept_legacy
    assert f"https://h.org/other" in kept_legacy
