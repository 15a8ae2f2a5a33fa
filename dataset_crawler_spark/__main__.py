"""CLI entry point — the spark-submit deployment story (north_rule).

Four subcommands, one JSON stats line per round on stdout
(``export-shards`` additionally closes the loop from crawl store to
training artifact: visible corpus → token-packed shard files + manifest,
sources/training_export.py)::

    python -m dataset_crawler_spark export-shards --store /data/crawl_store \
        --out /data/corpus_v1 --bin-tokens 2048

``synthetic`` (default — flags without a subcommand route here for backward
compatibility): end-to-end rounds (schedule → fetch → diff → commit) over the
deterministic synthetic corpus — the no-network smoke/bench path::

    python -m dataset_crawler_spark --rounds 2 --n-urls 20000 --n-hosts 50

``crawl``: the real thing — point the engine at live URLs. Seeds come from
``--seed-url`` (repeatable) and/or a ``--seed-file`` (sources/seeds.py TSV);
per-host politeness is built by fetching each host's robots.txt over HTTP
(sources/robots.py hosts_dim_over_http — 4xx ⇒ allow-all, 5xx ⇒ host skipped
this round), fetching is the mapInPandas HTTP stage (sources/http_fetch.py),
and rounds run to link closure with outlink discovery and failure-adaptive
budgets::

    python -m dataset_crawler_spark crawl --seed-url https://example.org/ \
        --rounds 5 --store /data/crawl_store

``ingest-warc``: load an archived crawl (Common Crawl WARC segment) into the
store as one committed round — the batch twin of ``crawl`` for data that was
already fetched::

    python -m dataset_crawler_spark ingest-warc --path 's3a://…/segment/*.warc.gz' \
        --store /data/crawl_store

Cluster run (the engine is a plain package — zip it and submit; the
SparkSession then comes from spark-submit's master, not local[N])::

    zip -r dataset_crawler_spark.zip dataset_crawler_spark
    spark-submit --py-files dataset_crawler_spark.zip \
        --master yarn --num-executors 400 \
        crawl_main.py crawl --seed-file hdfs://…/seeds.tsv --store hdfs://…/store
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--store", default=None, help="snapshot store root (default: temp dir)")
    p.add_argument("--rounds", type=int, default=2)
    p.add_argument("--cores", default=None, help="local[N] cores (ignored under spark-submit)")


def _engine(args):
    from dataset_crawler_spark.session import get_spark
    from dataset_crawler_spark.streaming.rounds import CrawlEngine

    spark = get_spark("crawl_cli", cores=args.cores)
    store = args.store or tempfile.mkdtemp(prefix="crawl_store_")
    return spark, store, CrawlEngine(spark, store)


def run_synthetic(args) -> int:
    from dataset_crawler_spark import datagen
    from dataset_crawler_spark.operators import seen as SN
    from dataset_crawler_spark.streaming.rounds import simulated_fetcher

    spark, store, eng = _engine(args)
    n_docs = max(args.n_urls // 4, 100)
    frontier = datagen.frontier(spark, args.n_urls, n_hosts=args.n_hosts)
    hosts = datagen.hosts(spark, args.n_hosts)
    params = SN.BloomParams.for_capacity(args.n_urls, fp_rate=0.01, n_shards=32)

    for _ in range(args.rounds):
        rid = eng.next_round()
        stats = eng.crawl_round(
            frontier,
            hosts,
            simulated_fetcher(datagen.documents_for_round(spark, n_docs, rid,
                                                          n_hosts=args.n_hosts)),
            rid,
            bloom_params=params,
            mode=args.mode,
        )
        print(json.dumps({"round": rid, "store": store, **stats}))
    return 0


def run_crawl(args) -> int:
    from pyspark.sql import functions as F

    from dataset_crawler_spark.operators import seen as SN
    from dataset_crawler_spark.sources.http_fetch import (
        http_fetcher,
        http_fetcher_conditional,
    )
    from dataset_crawler_spark.sources.robots import (
        hosts_dim_over_http,
        robots_urls_of,
    )
    from dataset_crawler_spark.sources.seeds import read_seed_list

    spark, store, eng = _engine(args)

    seeds = None
    if args.seed_file:
        # (seed_rank, seed_id, url, description) → FRONTIER rows; file order
        # becomes seed_rank so the pinned crawl order honors the seed file
        seeds = read_seed_list(spark, args.seed_file).select(
            "url",
            F.lit(None).cast("string").alias("host"),
            F.lit(1.0).alias("priority"),
            F.lit(0).cast("int").alias("discovered_crawl_id"),
            F.col("seed_rank").cast("int").alias("seed_rank"),
            F.lit("pending").alias("state"),
        )
    if args.seed_url:
        inline = spark.createDataFrame(
            [(u, None, 1.0, 0, i, "pending") for i, u in enumerate(args.seed_url)],
            "url string, host string, priority double, discovered_crawl_id int, "
            "seed_rank int, state string",
        )
        seeds = inline if seeds is None else seeds.unionByName(inline)
    if seeds is None:
        print("crawl: need --seed-url and/or --seed-file", file=sys.stderr)
        return 2

    # politeness dimension from LIVE robots.txt, one GET per distinct host —
    # bootstrapped from the seed hosts, then extended per round for every
    # newly DISCOVERED host via the same fetch (host_dim_fn below), so
    # cross-host outlinks are crawled under that host's own robots rules
    # instead of silently dropped by the scheduler's host join
    def fetch_dim(hosts_df):
        d = hosts_dim_over_http(hosts_df, timeout_s=args.timeout).drop(
            "robots_status"
        )
        return d.withColumn("max_fetch_per_round", F.lit(args.host_budget))

    dim = fetch_dim(robots_urls_of(seeds))

    params = SN.BloomParams.for_capacity(args.capacity, fp_rate=0.01, n_shards=32)
    follow = not args.surface_redirects
    fetch = (
        http_fetcher_conditional(timeout_s=args.timeout, follow_redirects=follow)
        if args.conditional
        else http_fetcher(timeout_s=args.timeout, follow_redirects=follow)
    )
    first = eng.next_round()  # crawl_closure resumes an existing store here
    stats = eng.crawl_closure(
        seeds,
        dim,
        fetch,
        bloom_params=params,
        max_rounds=args.rounds,
        adapt_budgets=True,
        host_dim_fn=fetch_dim,
        conditional=args.conditional,
        centrality=args.centrality,
    )
    for rnd, s in enumerate(stats, start=first):
        print(json.dumps({"round": rnd, "store": store, **s}))
    return 0


def run_ingest_warc(args) -> int:
    from dataset_crawler_spark.sources.warc import warc_to_documents

    spark, store, eng = _engine(args)
    docs = warc_to_documents(spark, args.path)
    crawl_id = eng.next_round()
    stats = eng.run_round(docs, crawl_id, description=f"warc ingest {args.path}",
                          partial=args.partial)
    print(json.dumps({"round": crawl_id, "store": store, **stats}))
    return 0


def run_refresh(args) -> int:
    """Revisit rounds over an EXISTING store: schedule by Poisson staleness
    probability (CrawlEngine.change_rate_frontier), fetch with conditional
    GETs by default (stored ETag/Last-Modified → 304 for the unchanged
    majority — this is where --conditional's revalidation actually fires;
    the crawl subcommand's discover rounds only CAPTURE validators), diff
    partially (mode="refresh": a budget-cut doc is not-revisited, never
    deleted)."""
    from pyspark.sql import functions as F

    from dataset_crawler_spark.sources.http_fetch import (
        http_fetcher,
        http_fetcher_conditional,
    )
    from dataset_crawler_spark.sources.robots import (
        hosts_dim_over_http,
        robots_urls_of,
    )

    spark, store, eng = _engine(args)
    if eng.store.last_round() is None:
        print("refresh: store has no committed rounds", file=sys.stderr)
        return 2
    conditional = not args.no_conditional
    fetch = (
        http_fetcher_conditional(timeout_s=args.timeout)
        if conditional
        else http_fetcher(timeout_s=args.timeout)
    )
    for _ in range(args.rounds):
        frontier = eng.change_rate_frontier()
        dim = hosts_dim_over_http(
            robots_urls_of(frontier), timeout_s=args.timeout
        ).drop("robots_status")
        dim = dim.withColumn("max_fetch_per_round", F.lit(args.host_budget))
        rid = eng.next_round()
        stats = eng.crawl_round(
            frontier, dim, fetch, rid, mode="refresh",
            conditional=conditional, adapt_budgets=True,
        )
        print(json.dumps({"round": rid, "store": store, **stats}))
    return 0


def run_export_shards(args) -> int:
    from dataset_crawler_spark.sources.training_export import (
        pack_assignments,
        spans_to_text,
        write_training_shards,
    )

    spark, store, eng = _engine(args)
    as_of = args.as_of if args.as_of is not None else eng.store.last_round()
    if as_of is None:
        print("export-shards: store has no committed rounds", file=sys.stderr)
        return 2
    docs = spans_to_text(eng.visible_docs(as_of))
    if args.dedup_substring:
        from dataset_crawler_spark.operators.substr import (
            remove_duplicate_substrings,
        )

        # materialize once: the export consumes docs twice (pack_assignments
        # + the shard-write join-back), and the ExactSubstr rebuild above is
        # the pipeline's most expensive stage — without a checkpoint its
        # k-per-token window-hash shuffle would run twice
        docs = remove_duplicate_substrings(docs, k=args.dedup_substring)
        docs = docs.localCheckpoint()
    plan = pack_assignments(docs, n_shards=args.n_shards, budget=args.bin_tokens)
    summary = write_training_shards(docs, plan, args.out)
    print(json.dumps({"store": store, "as_of": as_of, "out": args.out, **summary}))
    return 0


def run_export_warc(args) -> int:
    from dataset_crawler_spark.sources.warc import write_warc

    spark, store, eng = _engine(args)
    as_of = args.as_of if args.as_of is not None else eng.store.last_round()
    if as_of is None:
        print("export-warc: store has no committed rounds", file=sys.stderr)
        return 2
    summary = write_warc(
        eng.visible_docs(as_of),
        args.out,
        warc_date=args.warc_date,
        n_files=args.n_files,
    )
    print(json.dumps({"store": store, "as_of": as_of, "out": args.out, **summary}))
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    # backward compatibility: bare flags mean the synthetic smoke run
    if not argv or argv[0].startswith("-"):
        argv = ["synthetic", *argv]

    p = argparse.ArgumentParser(prog="dataset_crawler_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ps = sub.add_parser("synthetic", help="deterministic no-network smoke/bench rounds")
    _add_common(ps)
    ps.add_argument("--n-urls", type=int, default=20_000)
    ps.add_argument("--n-hosts", type=int, default=50)
    ps.add_argument("--mode", choices=["discover", "full"], default="discover")
    ps.set_defaults(fn=run_synthetic)

    pc = sub.add_parser("crawl", help="live crawl from seed URLs (robots + HTTP fetch)")
    _add_common(pc)
    pc.add_argument("--seed-url", action="append", default=[],
                    help="seed URL (repeatable)")
    pc.add_argument("--seed-file", default=None, help="TSV seed list (sources/seeds.py)")
    pc.add_argument("--timeout", type=float, default=10.0, help="per-request seconds")
    pc.add_argument("--host-budget", type=int, default=100,
                    help="max fetches per host per round")
    pc.add_argument("--capacity", type=int, default=1_000_000,
                    help="bloom capacity (expected total URLs)")
    pc.add_argument("--conditional", action="store_true",
                    help="capture ETag/Last-Modified validators during the "
                         "discovery rounds (revalidation itself fires in the "
                         "'refresh' subcommand, which reuses the stored "
                         "validators for 304-cheap revisits)")
    pc.add_argument("--surface-redirects", action="store_true",
                    help="report 3xx as their own ops status and queue the "
                         "Location target through the discovery path (one "
                         "hop per closure round, seen-set on the hop) "
                         "instead of letting urllib chase chains off-budget "
                         "inside the fetch stage")
    pc.add_argument("--centrality", choices=["pagerank", "trustrank", "opic", "online"],
                    default=None,
                    help="shape per-host budgets each round by link-graph "
                         "importance over the crawl's own outlinks "
                         "(CrawlEngine.centrality_hosts); 'online' keeps a "
                         "standing adaptive-OPIC state updated per round at "
                         "cost proportional to the fetched set")
    pc.set_defaults(fn=run_crawl)

    pr = sub.add_parser(
        "refresh",
        help="revisit rounds over an existing store: Poisson-staleness "
             "schedule + conditional GETs (304 ⇒ unchanged, zero body)",
    )
    _add_common(pr)
    pr.add_argument("--timeout", type=float, default=10.0, help="per-request seconds")
    pr.add_argument("--host-budget", type=int, default=100,
                    help="max fetches per host per round")
    pr.add_argument("--no-conditional", action="store_true",
                    help="plain GETs (skip validator revalidation)")
    pr.set_defaults(fn=run_refresh)

    pw = sub.add_parser("ingest-warc", help="load WARC file(s) as one committed round")
    _add_common(pw)
    pw.add_argument("--path", required=True, help="WARC path/glob (.warc or .warc.gz)")
    pw.add_argument("--partial", action="store_true",
                    help="treat as partial snapshot (adds only; no deletes)")
    pw.set_defaults(fn=run_ingest_warc)

    pe = sub.add_parser(
        "export-shards",
        help="export the visible corpus as packed training shards + manifest",
    )
    _add_common(pe)
    pe.add_argument("--out", required=True, help="output root for shards/ + manifest/")
    pe.add_argument("--as-of", type=int, default=None,
                    help="round to export (default: last committed)")
    pe.add_argument("--n-shards", type=int, default=8)
    pe.add_argument("--bin-tokens", type=int, default=2048,
                    help="token budget per packed bin")
    pe.add_argument("--dedup-substring", type=int, default=None, metavar="K",
                    help="cut every duplicated K-token span before packing "
                         "(Lee et al. ExactSubstr removal; operators/substr.py)")
    pe.set_defaults(fn=run_export_shards)

    pww = sub.add_parser(
        "export-warc",
        help="export the visible corpus as WARC/1.1 response records "
             "(ISO 28500 — consumable by any WARC reader)",
    )
    _add_common(pww)
    pww.add_argument("--out", required=True, help="output directory for WARC files")
    pww.add_argument("--as-of", type=int, default=None,
                     help="round to export (default: last committed)")
    pww.add_argument("--n-files", type=int, default=8)
    pww.add_argument("--warc-date", default="2026-01-01T00:00:00Z",
                     help="WARC-Date stamp (deterministic output requires an "
                          "explicit date, never wall-clock)")
    pww.set_defaults(fn=run_export_warc)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
