"""robots.txt → politeness dimension rows.

The reference has no robots handling (its politeness is a per-request timeout,
README.md:50-53); the new engine's scheduler gates on a hosts dimension with
``robots_disallow`` prefixes + ``crawl_delay_ms`` (operators/scheduler.py).
This source materializes that dimension from fetched robots.txt bodies:
``(host, robots_txt)`` → ``(host, robots_disallow, crawl_delay_ms)``.

Parsing is per-document and inherently sectioned/stateful, so it runs as a
vectorized pandas UDF over Arrow batches — a dimension-table operation
(cardinality = hosts, not URLs), never on the frontier hot path.

Two evaluation tiers, both produced here:

- ``robots_disallow`` — plain Disallow path prefixes (the legacy gate
  column; prefix-match exclusion).
- ``robots_rules`` — the full RFC 9309 rule set: Allow AND Disallow, with
  ``*`` wildcards and ``$`` end anchors, each rule carried as a
  pre-compiled regex + its octet length so the gate can apply the spec's
  longest-match-wins (allow wins length ties) without re-deriving
  anything per URL (operators/scheduler.py robots_gate uses this column
  when present and falls back to prefix semantics when not).

Group selection: honor the ``User-agent: *`` groups (or the groups naming
``agent`` exactly, which take precedence when any exist) and their
``Crawl-delay:`` seconds (→ ms). ``#`` comments stripped; keys
case-insensitive; consecutive User-agent lines share one group.
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataset_crawler_spark.schemas import OP_ERROR, OP_SUCCESS

ROBOTS_RULES_SCHEMA = (
    "robots_disallow array<string>, crawl_delay_ms int, "
    "robots_rules array<struct<rx string, rlen int, allow boolean>>"
)


def rule_to_rx(rule: str) -> str:
    """One RFC 9309 rule path → anchored Java/RE2-safe regex: ``*`` matches
    any octet sequence, a trailing ``$`` anchors at end-of-path, everything
    else is literal."""
    anchored = rule.endswith("$")
    body = rule[:-1] if anchored else rule
    parts = ["(?s)^"]  # (?s): rule must match paths containing any octet
    for ch in body:
        parts.append(".*" if ch == "*" else _re.escape(ch))
    if anchored:
        parts.append("$")
    return "".join(parts)


def parse_robots_full_py(
    text: str, agent: str = "*"
) -> tuple[list[tuple[str, bool]], int | None]:
    """Pure-Python robots.txt parser (the spec; the UDF is its batch twin).

    Standard group-selection semantics: collect all groups, then apply the
    most specific match — groups naming ``agent`` exactly if any exist,
    otherwise the ``*`` groups. Consecutive User-agent lines share one group.

    Returns (rules, crawl_delay_ms) where rules = [(path_rule, is_allow)]
    in file order — both Allow and Disallow lines (RFC 9309 §2.2.2; empty
    values contribute nothing). Evaluation is the caller's job
    (longest-match-wins, allow wins ties — see :func:`evaluate_robots_py`).
    """
    groups: list[tuple[list[str], list[tuple[str, bool]], int | None]] = []
    agents: list[str] = []
    rules: list[tuple[str, bool]] = []
    delay: int | None = None
    collecting_agents = False

    def flush():
        nonlocal agents, rules, delay
        if agents:
            groups.append((agents, rules, delay))
        agents, rules, delay = [], [], None

    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not collecting_agents:
                flush()
                collecting_agents = True
            agents.append(val)
            continue
        collecting_agents = False
        if key == "disallow" and val:
            rules.append((val, False))
        elif key == "allow" and val:
            rules.append((val, True))
        elif key == "crawl-delay":
            try:
                delay = int(float(val) * 1000)
            except ValueError:
                pass
    flush()

    exact = [g for g in groups if agent in g[0]]
    chosen = exact if exact else [g for g in groups if "*" in g[0]]
    out = [r for g in chosen for r in g[1]]
    delays = [g[2] for g in chosen if g[2] is not None]
    return out, (delays[0] if delays else None)


def parse_robots_py(text: str, agent: str = "*") -> tuple[list[str], int | None]:
    """Legacy view of :func:`parse_robots_full_py`: Disallow paths only."""
    rules, delay = parse_robots_full_py(text, agent)
    return [r for r, allow in rules if not allow], delay


def evaluate_robots_py(
    rules: list[tuple[str, bool]], path: str
) -> bool:
    """RFC 9309 §2.2.2 evaluation (the gate's Python twin): among the rules
    whose path pattern matches, the LONGEST rule wins; an Allow and a
    Disallow of equal length resolve to Allow; no match ⇒ allowed."""
    best: tuple[int, bool] | None = None
    for rule, allow in rules:
        if _re.match(rule_to_rx(rule), path):
            key = (len(rule), allow)
            if best is None or key > best:
                best = key
    return best is None or best[1]


def parse_robots(df: DataFrame, text_col: str = "robots_txt", agent: str = "*") -> DataFrame:
    """Add (robots_disallow, crawl_delay_ms) parsed from ``text_col``."""

    def run(batches):
        for pdf in batches:
            parsed = [parse_robots_full_py(t, agent) for t in pdf[text_col].fillna("")]
            out = pdf.drop(columns=[text_col]).copy()
            out["robots_disallow"] = [
                [r for r, allow in p[0] if not allow] for p in parsed
            ]
            out["crawl_delay_ms"] = pd.array(
                [p[1] for p in parsed], dtype="Int32"
            )
            # full RFC rule set, regex pre-compiled at parse time (dimension
            # cardinality) so the gate never derives anything per URL
            out["robots_rules"] = [
                [
                    {"rx": rule_to_rx(r), "rlen": len(r), "allow": allow}
                    for r, allow in p[0]
                ]
                for p in parsed
            ]
            yield out

    passthrough = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name != text_col
    )
    return df.mapInPandas(run, f"{passthrough}, {ROBOTS_RULES_SCHEMA}")


def hosts_dim_from_robots(
    robots: DataFrame,
    default_delay_ms: int = 500,
    default_budget: int = 100,
) -> DataFrame:
    """(host, robots_txt) → scheduler hosts dimension (schema the robots_gate
    + politeness_topk expect); missing crawl-delay falls back to the default."""
    parsed = parse_robots(robots.select("host", "robots_txt"))
    empty_rules = F.array().cast("array<struct<rx string, rlen int, allow boolean>>")
    return parsed.select(
        "host",
        F.coalesce(F.col("crawl_delay_ms"), F.lit(default_delay_ms)).alias("crawl_delay_ms"),
        F.lit(default_budget).alias("max_fetch_per_round"),
        F.coalesce(F.col("robots_disallow"), F.array().cast("array<string>")).alias(
            "robots_disallow"
        ),
        F.coalesce(F.col("robots_rules"), empty_rules).alias("robots_rules"),
        F.lit(True).alias("is_available"),
    )


# -- sitemap discovery (robots.txt Sitemap: directives + sitemap XML) --------

#: per the robots spec, Sitemap: lines are global (valid anywhere in the
#: file, outside user-agent groups) — so extraction is a stateless regex,
#: kept JVM-side (no UDF): one multiline case-insensitive scan per host row.
_SITEMAP_LINE_RE = r"(?im)^\s*sitemap\s*:\s*(\S+)"

#: <loc> entries of a sitemap/sitemap-index document. A full XML parser is
#: unnecessary for the sitemap schema (loc is a simple leaf); the regex form
#: keeps the whole source relational.
_SITEMAP_LOC_RE = r"<loc>\s*([^<\s]+)\s*</loc>"

#: one <url>…</url> entry (dotall: entries span lines); loc + optional
#: lastmod are extracted per entry so they stay correctly paired even when
#: only some entries carry lastmod.
_SITEMAP_ENTRY_RE = r"(?s)<url>(.*?)</url>"
_SITEMAP_LASTMOD_RE = r"<lastmod>\s*([^<\s]+)\s*</lastmod>"


def sitemap_urls(df: DataFrame, text_col: str = "robots_txt") -> DataFrame:
    """(host, robots_txt, …) → (host, sitemap_url): every Sitemap: directive.

    Dimension-cardinality (hosts, not URLs) and fully codegen — the fetch of
    the sitemap documents themselves is the fetcher's job."""
    return df.select(
        "host",
        F.explode(
            F.regexp_extract_all(text_col, F.lit(_SITEMAP_LINE_RE), F.lit(1))
        ).alias("sitemap_url"),
    )


def sitemap_seeds(
    sitemaps: DataFrame,
    xml_col: str = "sitemap_xml",
    priority: float = 1.0,
    seed_rank: int = 0,
    with_lastmod: bool = False,
) -> DataFrame:
    """Fetched sitemap documents → pending FRONTIER rows.

    ``sitemaps``: (host, sitemap_xml) — one row per fetched sitemap (or
    sitemap-index section). Extracts ``<loc>`` targets, canonicalizes, and
    dedups; sitemap-listed URLs enter the frontier at ``priority`` (sitemap
    listing is an explicit publisher signal, so the default outranks
    discovered outlinks' indegree priorities, which are < 1). Narrow
    extract + one dedup aggregate over (url) — the standard seed-source
    shape (sources/seeds.py).

    ``with_lastmod=True`` additionally extracts each entry's ``<lastmod>``
    (W3C datetime — date-only or full ISO timestamp; parsed with try-cast
    semantics so malformed values become null, never an error) and keeps it
    as a ``lastmod`` timestamp column (max per URL when listed twice).
    Feed the result to :func:`lastmod_priority` to turn publisher-declared
    recency into a deterministic refresh priority."""
    from dataset_crawler_spark.functions.urls import canonicalize_url, host_of

    if with_lastmod:
        # per-entry extraction keeps loc↔lastmod pairing correct when only
        # some entries carry lastmod (an unpaired global scan would zip them)
        entries = F.regexp_extract_all(xml_col, F.lit(_SITEMAP_ENTRY_RE), F.lit(1))
        entry = sitemaps.select(F.explode(entries).alias("entry"))
        locs = entry.select(
            F.regexp_extract("entry", _SITEMAP_LOC_RE, 1).alias("url"),
            F.try_to_timestamp(
                F.nullif(
                    F.regexp_extract("entry", _SITEMAP_LASTMOD_RE, 1), F.lit("")
                )
            ).alias("lastmod"),
        ).where(F.length("url") > 0)
        # a sitemap INDEX (<sitemapindex><sitemap><loc>…) has no <url>
        # entries at all — fall back to the global <loc> scan (null
        # lastmod) so turning lastmod on never silently drops a host's
        # whole seed set
        fallback = (
            sitemaps.where(F.size(entries) == 0)
            .select(
                F.explode(
                    F.regexp_extract_all(xml_col, F.lit(_SITEMAP_LOC_RE), F.lit(1))
                ).alias("url"),
                F.lit(None).cast("timestamp").alias("lastmod"),
            )
        )
        locs = locs.unionByName(fallback)
        lastmod_aggs = [F.max("lastmod").alias("lastmod")]
    else:
        locs = sitemaps.select(
            F.explode(
                F.regexp_extract_all(xml_col, F.lit(_SITEMAP_LOC_RE), F.lit(1))
            ).alias("url")
        )
        lastmod_aggs = []
    return (
        locs.select(canonicalize_url(F.col("url")).alias("url"), *locs.columns[1:])
        .groupBy("url")
        .agg(F.count("*").alias("_n"), *lastmod_aggs)
        .select(
            "url",
            host_of("url").alias("host"),
            F.lit(priority).alias("priority"),
            F.lit(0).cast("int").alias("discovered_crawl_id"),
            F.lit(seed_rank).cast("int").alias("seed_rank"),
            F.lit("pending").alias("state"),
            *(["lastmod"] if with_lastmod else []),
        )
    )


def lastmod_priority(
    seeds: DataFrame,
    as_of: str,
    halflife_days: float = 30.0,
    base: float = 0.5,
) -> DataFrame:
    """Publisher-declared recency → refresh priority, deterministically.

    ``priority = base + (1 − base) · 2^(−age_days / halflife_days)`` where
    age is measured from the EXPLICIT ``as_of`` instant (an ISO timestamp
    string — never wall-clock, so the same inputs always schedule the same
    round). A URL modified at ``as_of`` gets priority 1.0, one modified a
    half-life ago gets the midpoint, and a URL with no ``lastmod`` (or a
    future one — clock-skewed publishers exist) falls back to ``base``
    resp. 1.0. The output drops ``lastmod`` and matches the FRONTIER seed
    schema, so it feeds straight into the scheduler; the priority shift
    composes with the pinned crawl order (priority DESC first).

    Pure narrow projection — no shuffle at any frontier scale."""
    age_days = (
        F.unix_timestamp(F.lit(as_of).cast("timestamp"))
        - F.unix_timestamp(F.col("lastmod"))
    ) / 86400.0
    # explicit null gate: greatest() IGNORES nulls, so a bare
    # greatest(age, 0) would read "no lastmod" as "age 0" and hand the
    # unknown-recency URLs top priority instead of the base fallback
    p = F.when(
        F.col("lastmod").isNotNull(),
        F.lit(base)
        + F.lit(1.0 - base)
        * F.pow(F.lit(2.0), -F.greatest(age_days, F.lit(0.0)) / halflife_days),
    ).otherwise(F.lit(float(base)))
    return seeds.select(
        *[c for c in seeds.columns if c not in ("priority", "lastmod")],
        F.round(p, 4).alias("priority"),
    )


# -- live composition: robots + sitemaps over real sockets -------------------

def robots_urls_of(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """(host, robots_url) for every distinct host in a frame of URLs — the
    dimension-key derivation shared by the crawl CLI's seed bootstrap and
    the closure loop's per-round refresh for newly DISCOVERED hosts. The
    dim key matches the scheduler's ``host_of`` (port-stripped) while the
    robots URL keeps the full origin — scheme and port included."""
    from dataset_crawler_spark.functions.urls import canonicalize_url, host_of

    canon = canonicalize_url(F.col(url_col))
    return (
        urls.select(
            host_of(canon).alias("host"),
            F.regexp_extract(
                canon, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)", 1
            ).alias("origin"),
        )
        .where((F.length("host") > 0) & (F.length("origin") > 0))
        .groupBy("host")
        .agg(F.min("origin").alias("origin"))
        .select(
            "host",
            F.concat(F.col("origin"), F.lit("/robots.txt")).alias("robots_url"),
        )
    )


def fetch_robots(
    hosts: DataFrame, url_col: str = "robots_url", timeout_s: float = 5.0
) -> DataFrame:
    """(host, robots_url) → (host, robots_url, status, message, body): one
    live GET per host (sources/http_fetch.fetch_texts). Feed the result to
    :func:`hosts_dim_over_http` — or fetch once and ALSO hand it to
    :func:`sitemap_frontier_over_http` so robots.txt is requested a single
    time per host per round."""
    from dataset_crawler_spark.sources.http_fetch import fetch_texts

    return fetch_texts(hosts.select("host", url_col), url_col, timeout_s=timeout_s)


def hosts_dim_over_http(
    hosts: DataFrame,
    url_col: str = "robots_url",
    default_delay_ms: int = 500,
    default_budget: int = 100,
    timeout_s: float = 5.0,
) -> DataFrame:
    """(host, robots_url) → scheduler hosts dimension via LIVE robots.txt
    GETs (sources/http_fetch.fetch_texts — one request per host, dimension
    cardinality). Robots-spec failure semantics (the documented Google
    treatment, which is the de-facto standard):

    - 2xx       → parse the body (disallow prefixes + crawl-delay);
    - 4xx       → no robots file ⇒ allow-all (empty rules, default delay);
    - 5xx/timeout/connection failure → the crawler cannot KNOW the rules ⇒
      conservative: the host is marked unavailable this round (the
      availability gate excludes it; it re-probes next round).

    Returns (host, crawl_delay_ms, max_fetch_per_round, robots_disallow,
    is_available, robots_status) — drop ``robots_status`` for the plain
    scheduler schema.
    """
    # accept either the raw (host, robots_url) dim or an already-fetched
    # frame from fetch_robots (has status/body) — one GET per host either way
    if "body" in hosts.columns and "status" in hosts.columns:
        fetched = hosts
    else:
        fetched = fetch_robots(hosts, url_col=url_col, timeout_s=timeout_s)
    ok = F.col("status") == OP_SUCCESS
    not_found = (F.col("status") == OP_ERROR) & F.col("message").rlike("^4")
    dim = hosts_dim_from_robots(
        fetched.select("host", F.when(ok, F.col("body")).alias("robots_txt")),
        default_delay_ms=default_delay_ms,
        default_budget=default_budget,
    )
    avail = fetched.select(
        "host",
        (ok | not_found).alias("_avail"),
        F.col("status").alias("robots_status"),
    )
    return dim.drop("is_available").join(avail, "host").select(
        "host", "crawl_delay_ms", "max_fetch_per_round", "robots_disallow",
        "robots_rules", F.col("_avail").alias("is_available"), "robots_status",
    )


def sitemap_frontier_over_http(
    robots_fetched: DataFrame,
    priority: float = 1.0,
    seed_rank: int = 0,
    timeout_s: float = 5.0,
) -> DataFrame:
    """Fetched robots bodies → live sitemap fetch → pending FRONTIER rows.

    ``robots_fetched``: (host, body, status) as produced inside
    :func:`hosts_dim_over_http` (or any (host, robots_txt) frame renamed to
    ``body`` with status='success'). Extracts the global ``Sitemap:``
    directives, GETs each sitemap document (dimension-scale — one request
    per directive), and turns its ``<loc>`` entries into seed frontier rows
    (:func:`sitemap_seeds` semantics). One recursion level: a sitemap-index
    whose <loc>s are themselves sitemaps enters the frontier as URLs and is
    handled by the discovery loop, matching the bounded-per-round design.
    """
    from dataset_crawler_spark.sources.http_fetch import fetch_texts

    maps = sitemap_urls(
        robots_fetched.where(F.col("status") == OP_SUCCESS)
        .select("host", F.col("body").alias("robots_txt"))
    )
    fetched = fetch_texts(maps, "sitemap_url", timeout_s=timeout_s)
    return sitemap_seeds(
        fetched.where(F.col("status") == OP_SUCCESS).select(
            "host", F.col("body").alias("sitemap_xml")
        ),
        priority=priority,
        seed_rank=seed_rank,
    )
