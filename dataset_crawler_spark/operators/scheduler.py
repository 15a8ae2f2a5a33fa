"""Per-host politeness priority queue — the fetch scheduler.

Replaces the reference's implicit scheduling — seed-file order over datasets
(IncrementalDatasetCrawler.java:154), lexicographic TreeMap order over types
(CrawlOperations.java:730), per-request timeout + ``max_res_instances`` caps
(DataCrawler.java:235-249) — with an explicit, deterministic, distributed
scheduler:

- candidate URLs are canonicalized + deduped, filtered through the seen-set
  (bloom + exact confirm: the broadcast Bloom probe answers "definitely new"
  for the vast majority, and only probable-seen URLs meet the exact
  anti-join over the store's ``fetched`` table — the SURVEY.md §4
  anti-join-behind-bloom plan. Without Bloom params the check is the exact
  anti-join alone. Resurrect mode re-admits tombstoned URLs via the
  tombstone anti-join in ``CrawlEngine.seen_urls_as_of``),
- gated by the hosts dimension (availability + robots.txt path prefixes),
- then budgeted per host with a **two-phase salted top-k** (north_rule skew
  handling): phase 1 ranks within (host, salt) — a giant host's URLs spread
  over ``n_salt`` shuffle partitions, each keeping at most ``budget`` rows —
  phase 2 re-ranks the surviving ≤ n_salt·budget rows per host. Correct
  because the global per-host top-B is a subset of the union of per-salt
  top-Bs. AQE skew-join handles the residue.

Deterministic total order (pinned, same in oracle/scheduler twin —
SURVEY.md §2.10 T2): within a host, (priority DESC, seed_rank ASC, url ASC);
global emission order (seed_rank ASC, host ASC, rank_in_host ASC).

Fetch pacing: rank r within a host ⇒ ``scheduled_offset_ms = (r-1) ·
crawl_delay_ms`` — the distributed twin of the reference's single-threaded
per-request pacing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataset_crawler_spark.functions.urls import canonicalize_url, host_of
from dataset_crawler_spark.operators import seen as SN
from dataset_crawler_spark.schemas import OP_NOT_MODIFIED, OP_REDIRECT, OP_SUCCESS

DEFAULT_N_SALT = 16


def _confirm_unseen(probed: DataFrame, seen_urls: DataFrame | None) -> DataFrame:
    """Exact confirm as ONE conditional anti-join: keep a candidate unless
    (filter says maybe-seen AND the exact seen table contains it). seen=false
    rows satisfy the condition for no right row and pass straight through —
    the filter's zero false negatives make that sound; seen=true rows are
    dropped exactly when the exact table confirms. Single pass: the naive
    fresh/maybe split+union consumes `probed` twice, and Catalyst pushes each
    branch's filter through the dedup aggregate (`seen` is a function of the
    grouping key), re-running scan+canonicalize+agg+probe once per branch
    (measured 2x the round cost; a persist() barrier fixes that but pays a
    full columnar cache write instead).

    The SHUFFLE_HASH hint on the seen side replaces the SortMergeJoin with a
    shuffled hash anti-join: neither the multi-million-row candidate side nor
    the seen side gets sorted (measured: 2 Sort nodes gone). Build side = one
    partition's slice of the seen table (n_seen/K rows) — bounded by
    partition count, the same sizing contract as any shuffle."""
    if seen_urls is None:
        return probed.where(~F.col("seen")).drop("seen")
    s = seen_urls.select(F.col("url_c").alias("_seen_url")).hint("SHUFFLE_HASH")
    return (
        probed.join(s, (F.col("url_c") == F.col("_seen_url")) & F.col("seen"), "left_anti")
        .drop("seen")
    )


def robots_gate(candidates: DataFrame, hosts: DataFrame) -> DataFrame:
    """Availability + robots.txt exclusion; hosts dim is broadcast.

    Two rule tiers (sources/robots.py): when the dim carries
    ``robots_rules`` (the full RFC 9309 set — Allow AND Disallow, ``*``
    wildcards, ``$`` anchors, each pre-compiled to a regex at parse time),
    the gate applies the spec's longest-match-wins with allow breaking
    length ties: the matching rules are reduced to their max (rlen, allow)
    struct — struct ordering compares rlen first, then false < true, which
    IS the RFC tie-break — and a doc is blocked iff that best match is a
    Disallow. A dim without the column (hand-built fixtures, legacy
    stores) falls back to Disallow-prefix semantics. Rule arrays are
    dimension-sized and ride the broadcast; evaluation is a higher-order
    filter/transform chain in codegen, nothing per-URL is derived."""
    rfc = "robots_rules" in hosts.columns
    cols = ["host", "robots_disallow", "is_available", "crawl_delay_ms",
            "max_fetch_per_round"] + (["robots_rules"] if rfc else [])
    h = F.broadcast(hosts.select(*cols))
    # RFC 9309 matches rules against path + query (rules like
    # 'Disallow: /*?sessionid=' are a core wildcard use case) — only the
    # fragment is excluded. Prefix rules see the same string: a Disallow
    # prefix containing '?' must be honorable in the legacy tier too.
    path = F.regexp_extract(F.col("url_c"), r"^[a-z]+://[^/]+(/[^#]*)", 1)
    joined = candidates.join(h, "host", "inner").withColumn("_path", path)
    if rfc:
        empty = F.array().cast(
            "array<struct<rx string, rlen int, allow boolean>>"
        )
        matched = F.filter(
            F.coalesce(F.col("robots_rules"), empty),
            lambda r: F.regexp_like(F.col("_path"), r["rx"]),
        )
        best = F.array_max(
            F.transform(
                matched,
                lambda r: F.struct(
                    r["rlen"].alias("rlen"), r["allow"].alias("allow")
                ),
            )
        )
        blocked = F.coalesce(~best["allow"], F.lit(False))
        drop = ["_path", "robots_disallow", "robots_rules", "is_available"]
    else:
        blocked = F.exists(
            F.coalesce(F.col("robots_disallow"), F.array().cast("array<string>")),
            lambda p: F.col("_path").startswith(p),
        )
        drop = ["_path", "robots_disallow", "is_available"]
    return joined.where(F.col("is_available") & ~blocked).drop(*drop)


def politeness_topk(candidates: DataFrame, n_salt: int = DEFAULT_N_SALT) -> DataFrame:
    """Two-phase salted per-host budget top-k (see module docstring).

    Physical strategy note (measured at sf0.1, local[32]): the obvious
    shuffle-free-looking alternative — ``groupBy(host, salt).agg(slice(
    array_sort(collect_list(...))))`` — produces identical output but runs 4×
    SLOWER (7.9 s vs 1.9 s on the cached politeness input): collect_list is an
    ObjectHashAggregate and array_sort an interpreted expression, while the
    window rides a fully codegen'd partition sort. Keep the window."""
    order = [F.col("priority").desc(), F.col("seed_rank").asc(), F.col("url_c").asc()]
    salt = F.pmod(F.xxhash64("url_c"), F.lit(n_salt)).cast("int")
    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    pre = (
        candidates.withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= F.col("max_fetch_per_round"))
        .drop("_salt", "_r1")
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        pre.withColumn("rank_in_host", F.row_number().over(w2))
        .where(F.col("rank_in_host") <= F.col("max_fetch_per_round"))
        .withColumn(
            "scheduled_offset_ms",
            ((F.col("rank_in_host") - 1) * F.col("crawl_delay_ms")).cast("long"),
        )
        .drop("max_fetch_per_round")
    )


def schedule_round(
    frontier: DataFrame,
    hosts: DataFrame,
    bloom_state: DataFrame | None = None,
    bloom_params: SN.BloomParams | None = None,
    seen_urls: DataFrame | None = None,
    n_salt: int = DEFAULT_N_SALT,
) -> DataFrame:
    """Full scheduling pipeline for one crawl round.

    Returns (url_c, host, seed_rank, priority, discovered_crawl_id,
    crawl_delay_ms, rank_in_host, scheduled_offset_ms).

    Stage order is probe-THEN-dedup, not the textbook dedup-then-probe:
    ``ArrowEvalPython`` (the vectorized filter probe) does not propagate its
    child's output partitioning, so probing after the dedup aggregate erases
    the aggregate's hash(url_c) partitioning and forces a SECOND
    full-candidate exchange before the exact-confirm join (measured: 6
    exchanges → 5, and the extra one was over every candidate). Probing the
    raw pending rows first costs only extra vectorized hash checks (numpy,
    ~10^8/s) on duplicate URLs; ``seen`` is a pure function of ``url_c``, so
    carrying it through the dedup with ``max(seen)`` is exact. The confirm
    anti-join then consumes the aggregate's partitioning directly — zero
    additional candidate-side exchange.
    """
    src = frontier.where(F.col("state") == "pending").withColumn(
        "url_c", canonicalize_url(F.col("url"))
    )
    raw = src.select("url_c", "seed_rank", "priority", "discovered_crawl_id")
    agg_cols = [
        F.min("seed_rank").alias("seed_rank"),
        F.max("priority").alias("priority"),
        F.min("discovered_crawl_id").alias("discovered_crawl_id"),
    ]
    if bloom_state is not None and bloom_params is not None:
        probed = SN.bloom_probe_scalar(raw, "url_c", bloom_state, bloom_params)
        cand = probed.groupBy("url_c").agg(*agg_cols, F.max("seen").alias("seen"))
        cand = _confirm_unseen(cand, seen_urls)
    else:
        cand = raw.groupBy("url_c").agg(*agg_cols)
        if seen_urls is not None:
            s = seen_urls.select(F.col("url_c").alias("_seen_url")).hint("SHUFFLE_HASH")
            cand = cand.join(s, F.col("url_c") == F.col("_seen_url"), "left_anti")
    cand = cand.withColumn("host", host_of("url_c"))
    cand = robots_gate(cand, hosts)
    return politeness_topk(cand, n_salt=n_salt)


def adaptive_host_budgets(
    ops: DataFrame, hosts: DataFrame, min_budget: int = 1
) -> DataFrame:
    """Failure-driven politeness adaptation: shrink a host's per-round fetch
    budget and stretch its crawl delay in proportion to its recent failure
    rate. The reference fetches with a fixed per-request timeout and retries
    blindly on the next 30-minute cycle (DataCrawler.java:235-249,
    App.java:31-58); a 10^10-URL frontier must instead stop hammering hosts
    that are failing — otherwise the politeness budget is spent on
    timeouts. Standard multiplicative backoff, deterministic:

        budget' = max(min_budget, floor(budget · (1 − fail_rate)))
        delay'  = ceil(delay · (1 + fail_rate))

    A host with no operations in ``ops`` keeps its configured values
    (fail_rate 0 via the left join), so the adapted dim is always complete
    and can be fed straight back into :func:`schedule_round`.

    Scale shape: ``ops`` aggregates per host (map-side combine) into a
    dimension-sized table that BROADCASTS into the hosts dim — no shuffle
    of either side at any frontier scale.
    """
    stats = ops.groupBy("host").agg(
        (
            # not_modified (304 revalidation, zero bytes) and redirect (3xx
            # surfaced, target queued) are healthy outcomes — only genuine
            # fetch failures count against a host
            F.sum(
                (
                    ~F.col("status").isin(OP_SUCCESS, OP_NOT_MODIFIED, OP_REDIRECT)
                ).cast("int")
            )
            / F.count("*")
        ).alias("fail_rate")
    )
    # the output carries a fail_rate column, so drop a pre-existing one from
    # a previously-adapted dim before joining — otherwise the coalesce below
    # sees an ambiguous reference
    hosts = hosts.drop("fail_rate")
    h = hosts.join(F.broadcast(stats), "host", "left").withColumn(
        "fail_rate", F.coalesce(F.col("fail_rate"), F.lit(0.0))
    )
    return h.select(
        *[c for c in hosts.columns if c not in ("max_fetch_per_round", "crawl_delay_ms")],
        F.greatest(
            F.lit(min_budget),
            F.floor(F.col("max_fetch_per_round") * (1.0 - F.col("fail_rate"))).cast("int"),
        ).alias("max_fetch_per_round"),
        F.ceil(F.col("crawl_delay_ms") * (1.0 + F.col("fail_rate"))).cast("int").alias(
            "crawl_delay_ms"
        ),
        F.round("fail_rate", 4).alias("fail_rate"),
    )


def centrality_host_budgets(
    scores: DataFrame,
    hosts: DataFrame,
    min_budget: int = 1,
    max_multiplier: float = 4.0,
) -> DataFrame:
    """Centrality-weighted fetch budgets: scale each host's per-round budget
    by its share of link-graph importance, so the politeness quota flows to
    the hosts the graph says matter (Cho, Garcia-Molina & Page's
    importance-driven crawl ordering, WWW 1998, applied at HOST granularity).
    ``scores``: (host, score) from any of operators/graph.py's signals —
    pagerank, trustrank (spam-safe), opic importance, hits authority.

        mult    = round(min(max_multiplier, score · H / Σscore), 4)
        budget' = max(min_budget, floor(max_fetch_per_round · mult))

    i.e. a host at exactly average centrality keeps its configured budget,
    a 3×-average host gets 3× (capped), and a host absent from ``scores``
    (no in/out links observed yet) drops to ``min_budget`` — it still gets
    probed, but never outbids ranked hosts. ``crawl_delay_ms`` is left
    untouched: centrality buys VOLUME, never the right to hit a host
    faster. If Σscore ≤ 0 every multiplier is 1 (budgets unchanged) — an
    all-zero signal must not zero the whole crawl.

    Determinism: the multiplier is quantized to 4 decimals before the floor
    (suite convention), which reduces the probability that last-ulp variance
    in the distributed Σscore flips a budget below observable (a multiplier
    within that variance of a 4-dp boundary can still round differently).
    Scale shape: ONE 1-row aggregate broadcast onto the dim (no global
    sort/window — at 10^8 hosts a rank-based scheme would need a
    single-partition row_number; the share-based rule stays embarrassingly
    parallel), scores dimension-sized and broadcast like
    adaptive_host_budgets' stats.
    """
    s = scores.select(
        F.col(scores.columns[0]).alias("host"),
        F.col(scores.columns[1]).cast("double").alias("_score"),
    )
    st = s.agg(
        F.coalesce(F.sum("_score"), F.lit(0.0)).alias("_tot"),
        F.count("*").cast("double").alias("_n"),
    )
    hosts = hosts.drop("centrality_mult")
    h = (
        hosts.join(F.broadcast(s), "host", "left")
        .crossJoin(F.broadcast(st))
        .withColumn(
            "centrality_mult",
            F.when(
                F.col("_tot") > 0,
                F.round(
                    F.least(
                        F.lit(max_multiplier),
                        F.coalesce(F.col("_score"), F.lit(0.0))
                        * F.col("_n")
                        / F.col("_tot"),
                    ),
                    4,
                ),
            ).otherwise(F.lit(1.0)),
        )
    )
    return h.select(
        *[c for c in hosts.columns if c != "max_fetch_per_round"],
        F.greatest(
            F.lit(min_budget),
            F.floor(
                F.col("max_fetch_per_round") * F.col("centrality_mult")
            ).cast("int"),
        ).alias("max_fetch_per_round"),
        "centrality_mult",
    )


def refresh_priorities(
    lineage: DataFrame, as_of: int, decay: float = 0.5
) -> DataFrame:
    """Change-rate-driven recrawl priority from the lineage stream.

    The reference recrawls everything on a fixed 30-minute cycle
    (App.java:31-58) — at 10^10 URLs a frontier must instead spend its
    per-round budget where change is likely. Standard freshness heuristic:
    score each LIVE document by its exponentially-decayed change history,

        change_score = Σ_{change rounds r ≤ as_of} decay^(as_of − r)

    (an ``added``/``updated`` lineage op is a change; a doc whose latest op
    is ``deleted`` is tombstoned and excluded — nothing to refresh). The
    score is the recrawl priority: recently/frequently changed docs sort
    first, and one more unchanged round decays everyone by ``decay`` —
    so the ranking self-corrects as history accumulates.

    Pure hash aggregates over lineage (map-side partial sums; one shuffle
    by doc_id) — at 10^10 docs this is the same shape as any per-key agg,
    and lineage is already hash-partitioned by doc_id on write
    (snapshot_diff's partition_id), so the shuffle is cheap or free.

    Determinism (round-5 float-sum audit): with the default decay 0.5 the
    per-row terms decay^(as_of − r) are DYADIC rationals (0.5, 1.0, 0.25,
    …) whose sums over a bounded round history are exact in binary floating
    point — the Σ is order-independent at any partitioning. A non-dyadic
    decay would reintroduce accumulation-order drift; keep decay a power of
    two (or quantize the terms) if the score feeds a hashed comparison.

    Returns (doc_id, n_changes, last_change_round, change_score).
    """
    upto = lineage.where(F.col("crawl_id") <= as_of)
    chg = upto.where(F.col("op") != "deleted")
    agg = chg.groupBy("doc_id").agg(
        F.count("*").alias("n_changes"),
        F.max("crawl_id").alias("last_change_round"),
        F.round(
            F.sum(F.pow(F.lit(decay), F.lit(as_of) - F.col("crawl_id"))), 4
        ).alias("change_score"),
    )
    last_op = upto.groupBy("doc_id").agg(
        F.max_by("op", "crawl_id").alias("_last_op")
    )
    return (
        agg.join(last_op, "doc_id")
        .where(F.col("_last_op") != "deleted")
        .drop("_last_op")
    )


def change_rate_estimate(
    observations: DataFrame,
    doc_col: str = "doc_id",
    changed_col: str = "changed",
) -> DataFrame:
    """Poisson change-rate estimation from per-round change observations —
    the statistically-grounded upgrade of :func:`refresh_priorities`'s
    decayed-sum heuristic (Cho & Garcia-Molina, "Estimating Frequency of
    Change", ACM TOIT 2003, §4.2 "estimator with repair").

    ``observations``: one row per (doc, round) revisit with a boolean
    ``changed`` flag (did the fetch detect a change since the previous
    visit — the engine derives this from lineage: an added/updated op in
    that round). With n equal-interval revisits of which X detected a
    change, the naive X/n underestimates λ (two changes inside one
    interval are observed as one); the repaired MLE in units of the
    revisit interval is

        λ̂ = ln((n + 0.5) / (n − X + 0.5))

    (written as a single positive log so the X=0 case is exactly +0.0 in
    every engine — ``-ln(1.0)`` is IEEE −0.0, which hashes differently).
    The probability the doc is already stale one interval after a fetch is
    1 − e^(−λ̂) = X/(n+0.5) — computed in that exact rational form rather
    than through exp(ln(·)), so it is bitwise reproducible across engines
    and runs. The fetch scheduler ranks refresh candidates by
    ``p_stale`` (descending): it spends budget where change is likely,
    replacing the reference's fixed 30-minute recrawl-everything cycle
    (App.java:31-58).

    Scale shape: ONE hash aggregate keyed by doc (map-side partial sums of
    two counters), then per-row scalar math — the same plan as any
    per-key count at 10^10 docs; no window, no join, no float-sum
    accumulation-order hazard (both outputs are functions of two integer
    counters, and λ̂'s value set per n is finite so the 4dp rounding was
    checked against libm's 1-ulp drift — min boundary distance ~1e-6 at
    n=12 vs ~1e-16 drift).

    Returns (doc_id, n_obs, n_changes, lambda_hat, p_stale).
    """
    c = F.col(changed_col).cast("int")
    agg = observations.groupBy(F.col(doc_col).alias("doc_id")).agg(
        F.count("*").alias("n_obs"),
        F.sum(c).alias("n_changes"),
    )
    n = F.col("n_obs").cast("double")
    x = F.col("n_changes").cast("double")
    lam = F.log((n + 0.5) / (n - x + 0.5))
    return agg.select(
        "doc_id",
        "n_obs",
        "n_changes",
        F.round(lam, 4).alias("lambda_hat"),
        F.round(x / (n + 0.5), 4).alias("p_stale"),
    )
