"""Checkpoint-resumable crawl rounds — the engine's driver loop.

Twin of the reference's ``multiple_run`` polling loop (App.java:31-58: claim a
crawl_setups row → run → mark complete → sleep) restated as rounds over the
snapshot store: each round is one atomic commit of (lineage, versions)
partitions tagged with ``crawl_id`` (≈ the crawl_log row,
CrawlDBOperations.java:258-285). :meth:`CrawlEngine.crawl_round` is one round;
callers loop it (the CLI's ``synthetic`` / ``refresh``), or
:meth:`CrawlEngine.crawl_closure` loops it to link closure.

State is purely log-structured: the diff input for round r is reconstructed
from committed logs ≤ r-1 (operators/state.py) — exactly how the reference
rebuilds in-memory state from MySQL on every run (SURVEY.md §2.10 T6). Resume
therefore needs no extra machinery: a crashed round left no manifest entry,
so ``next_round()`` re-runs it and the partition overwrite makes the replay
idempotent.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataset_crawler_spark.functions.urls import host_of
from dataset_crawler_spark.operators import diff as D
from dataset_crawler_spark.operators.graph import opic_step as G_opic_step
from dataset_crawler_spark.operators import scheduler as SCH
from dataset_crawler_spark.operators import seen as SN
from dataset_crawler_spark.operators import state as S
from dataset_crawler_spark.schemas import (  # noqa: F401 — OP_* re-exported
    OP_ERROR,
    OP_EXCEPTION,
    OP_NOT_MODIFIED,
    OP_REDIRECT,
    OP_SUCCESS,
    OP_TIMEOUT,
    SPAN,
    empty_df,
)
from dataset_crawler_spark.sources.snapshots import SnapshotStore

STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN)),
        T.StructField("last_op", T.StringType()),
        T.StructField("last_crawl_id", T.IntegerType()),
    ]
)

#: fetch_fn(spark, scheduled: DataFrame[url_c, ...]) ->
#: DataFrame[doc_id, spans, status, message], one row per scheduled URL (a URL
#: with no row is logged as error). status is one of the schemas.OP_* values
#: (CrawlerLogs.java:30-48 vocabulary plus not_modified / redirect); only
#: success rows reach the diff, the others are logged and, if failures,
#: retryable. A conditional fetcher may add etag / last_modified columns.
FetchFn = Callable[[SparkSession, DataFrame], DataFrame]


class CrawlEngine:
    def __init__(self, spark: SparkSession, store_root: str, resurrect: bool = False):
        self.spark = spark
        self.store = SnapshotStore(store_root, spark)
        self.resurrect = resurrect

    # -- state --------------------------------------------------------------

    def _empty_state(self) -> DataFrame:
        # LocalRelation-backed: snapshot_diff statically detects the empty
        # round-0 state and takes the bootstrap fast path (operators/diff.py)
        return empty_df(self.spark, STATE_SCHEMA)

    def state_as_of(self, as_of: int | None) -> DataFrame:
        if as_of is None or not self.store.committed_rounds():
            return self._empty_state()
        lineage = self.store.read("lineage", as_of=as_of)
        versions = self.store.read("versions", as_of=as_of)
        return S.state_table_as_of(lineage, versions, as_of)

    def visible_docs(self, as_of: int | None = None) -> DataFrame:
        as_of = self.store.last_round() if as_of is None else as_of
        lineage = self.store.read("lineage", as_of=as_of)
        versions = self.store.read("versions", as_of=as_of)
        return S.reconstruct_as_of(lineage, versions, as_of)

    def next_round(self) -> int:
        last = self.store.last_round()
        return 0 if last is None else last + 1

    # -- one round ----------------------------------------------------------

    def run_round(
        self,
        live: DataFrame,
        crawl_id: int,
        description: str = "",
        partial: bool = False,
        fetch_counts: dict | None = None,
    ) -> dict:
        """Ingest one fetched snapshot: diff vs state, write lineage +
        versions, commit. Returns the round stats dict (it is also the
        manifest entry's stats). ``fetch_counts`` (scheduled / fetched /
        failed / … from :meth:`crawl_round`) is merged into the stats before
        the round's single commit, so a committed manifest entry always
        carries them."""
        t0 = time.time()
        prev_round = crawl_id - 1 if crawl_id > 0 else None
        state = self.state_as_of(prev_round)
        lineage = D.snapshot_diff(
            state, live, crawl_id, resurrect=self.resurrect, partial=partial
        ).cache()
        versions = S.versions_from_round(live, lineage, crawl_id)

        op_counts = {
            r["op"]: r["n"]
            for r in lineage.groupBy("op").agg(F.count("*").alias("n")).collect()
        }
        self.store.append("lineage", lineage, crawl_id)
        self.store.append("versions", versions, crawl_id)
        stats = {
            "added": int(op_counts.get("added", 0)),
            "updated": int(op_counts.get("updated", 0)),
            "deleted": int(op_counts.get("deleted", 0)),
            "wall_s": round(time.time() - t0, 3),
            **(fetch_counts or {}),
        }
        self.store.commit_round(crawl_id, description, stats)
        lineage.unpersist()
        return stats

    # -- full lifecycle: schedule → fetch → diff → commit --------------------

    def seen_urls_as_of(self, as_of: int | None) -> DataFrame | None:
        """Exact table of canonical URLs fetched in committed rounds ≤ as_of.

        In resurrect mode, tombstoned docs (last lineage op = deleted) are
        excluded by an anti-join — their URLs become re-fetchable (north_star:
        "tombstoned URLs re-admitted"). The Bloom filter still answers
        maybe-seen for them; this exact table is what lets them through."""
        if as_of is None or not self.store.committed_rounds():
            return None
        try:
            fetched = self.store.read("fetched", as_of=as_of).select("url_c").distinct()
        except FileNotFoundError:
            return None
        if not self.resurrect:
            return fetched
        try:
            lin = self.store.read("lineage", as_of=as_of)
        except FileNotFoundError:
            return fetched
        tomb = (
            S.last_state(lin, as_of)
            .where(F.col("last_op") == "deleted")
            .select(F.col("doc_id").alias("url_c"))
        )
        return fetched.join(tomb, "url_c", "left_anti")

    def bloom_as_of(self, as_of: int | None) -> DataFrame | None:
        """Latest committed merged bloom shards ≤ as_of (None before round 0)."""
        if as_of is None or not self.store.committed_rounds():
            return None
        try:
            b = self.store.read("bloom", as_of=as_of)
        except FileNotFoundError:
            return None
        latest = b.agg(F.max("crawl_id")).first()[0]
        return b.where(F.col("crawl_id") == latest).drop("crawl_id")

    def validators_as_of(self, as_of: int | None) -> DataFrame | None:
        """Latest HTTP validators (ETag / Last-Modified) per canonical URL
        from committed rounds ≤ as_of — the revalidation dimension joined
        onto the schedule when ``crawl_round(conditional=True)``. Last-
        writer-wins per url_c (same fold as every as-of read); None before
        the first round that captured any."""
        if as_of is None or not self.store.committed_rounds():
            return None
        try:
            v = self.store.read("validators", as_of=as_of)
        except FileNotFoundError:
            return None
        return v.groupBy("url_c").agg(
            F.max_by("etag", "crawl_id").alias("etag"),
            F.max_by("last_modified", "crawl_id").alias("last_modified"),
        )

    def crawl_round(
        self,
        frontier: DataFrame,
        hosts: DataFrame,
        fetch_fn: FetchFn,
        crawl_id: int,
        bloom_params: SN.BloomParams | None = None,
        description: str = "",
        mode: str = "discover",
        discover_links: bool = False,
        adapt_budgets: bool = False,
        budget_lookback: int = 3,
        conditional: bool = False,
    ) -> dict:
        """One complete crawl round (the reference's single_run iteration,
        IncrementalDatasetCrawler.java:121-185, distributed):

        1. schedule: canonicalize → seen filter (bloom + exact confirm over
           the fetched table; exact-only when ``bloom_params`` is None) →
           robots gate → salted politeness top-k;
        2. fetch the scheduled URLs (``fetch_fn`` — simulated or HTTP);
        3. extend the seen state: append this round's fetched URLs and the
           OR-merged bloom shards (bloom_merge — the filter is never rebuilt
           from scratch, matching the 10^10-URL incremental design);
        4. diff the fetched snapshot vs state, write lineage/versions;
        5. commit the round manifest ONCE, with the diff and fetch-stage
           counts (atomic — a crash before this point leaves a replayable
           round).

        ``mode="discover"``: frontier is a discovery queue — already-fetched
        URLs are seen-filtered out and the partial diff only ever adds (the
        10^10-frontier growth regime). ``mode="full"``: the reference's
        re-crawl semantics — every frontier URL is eligible (no seen skip),
        the fetched set is a full snapshot, and the diff emits
        added/updated/deleted exactly like CrawlOperations.java:715-827.
        ``mode="refresh"``: the revisit regime (change_rate_frontier /
        refresh_frontier rounds) — no seen skip (refetching IS the point),
        but the diff stays PARTIAL: the politeness budget legitimately cuts
        the schedule, and absent docs must read as not-revisited, never as
        deleted.

        With ``resurrect=True``, URLs tombstoned in a round are excluded
        from the exact seen table (:meth:`seen_urls_as_of`), so if they
        reappear in the frontier they are re-fetched and re-added.

        ``conditional=True`` (with a validator-aware fetcher —
        sources/http_fetch.http_fetcher_conditional): the engine joins its
        validator table (HTTP ETag / Last-Modified captured from prior
        rounds) onto the scheduled frame, so unchanged documents revalidate
        as ONE 304 status row instead of a body — at refresh-crawl scale
        the dominant bandwidth cost disappears. ``not_modified`` outcomes
        are logged in ops_log, excluded from retries and budget backoff,
        and in ``mode="full"`` their stored spans stand in for the
        unfetched body so the full-snapshot diff does NOT see them as
        deleted. Fresh validators from 200 responses are appended to the
        store per round (last-writer-wins on revalidation).
        """
        if mode not in ("discover", "full", "refresh"):
            raise ValueError(f"unknown crawl mode {mode!r}")
        prev_round = crawl_id - 1 if crawl_id > 0 else None
        if adapt_budgets and prev_round is not None and self.store.committed_rounds():
            # failure-driven politeness: the budget the politeness window
            # enforces THIS round is the one adapted from the last
            # ``budget_lookback`` rounds' per-fetch outcomes — a failing host
            # shrinks its own next-round schedule (T3 ∘ adaptive_host_budgets,
            # end-to-end; see test_lifecycle adaptive-budget round test)
            hosts = self.adaptive_hosts(
                hosts, as_of=prev_round, lookback=budget_lookback
            )
        discover = mode == "discover"
        partial = mode != "full"  # refresh keeps the partial diff (no deletes)
        seen = self.seen_urls_as_of(prev_round) if discover else None
        # one read of the previous round's bloom serves both the schedule's
        # probe (discover mode) and this round's merge below
        prev_bloom = self.bloom_as_of(prev_round) if bloom_params is not None else None

        sched = SCH.schedule_round(
            frontier,
            hosts,
            bloom_state=prev_bloom if discover else None,
            bloom_params=bloom_params,
            seen_urls=seen,
        ).cache()
        n_scheduled = sched.count()
        fetch_input = sched
        if conditional:
            vdim = self.validators_as_of(prev_round)
            if vdim is not None:
                # dimension-sized per-URL validators ride the schedule into
                # the fetch stage; URLs never fetched before join to nulls
                # (plain unconditional GET)
                fetch_input = sched.join(vdim, "url_c", "left")
        live_raw = fetch_fn(self.spark, fetch_input).cache()

        # Per-operation status log (K4 depth — CrawlerLogs.java:30-48 records
        # success/error/exception/time_out per request; 2M rows in the
        # reference's production dump). One row per SCHEDULED URL, with the
        # fetcher's own outcome; a scheduled URL the fetcher returned no row
        # for logs as error. Scheduling metadata (seed_rank, priority,
        # discovered_crawl_id) rides along so failures can re-enter the
        # frontier with decayed priority (retry_frontier, T5).
        outcome = live_raw.select(
            F.col("doc_id").alias("url_c"),
            F.col("status").alias("_status"),
            F.col("message").alias("_message"),
        )
        live = live_raw.where(F.col("status") == OP_SUCCESS).select("doc_id", "spans").cache()
        n_fetched = live.count()
        ops_log = (
            sched.select("url_c", "host", "seed_rank", "priority", "discovered_crawl_id")
            .join(outcome, "url_c", "left")
            .select(
                F.lit(crawl_id).cast("int").alias("crawl_id"),
                F.lit("fetch").alias("stage"),
                "url_c",
                "host",
                F.coalesce(F.col("_status"), F.lit(OP_ERROR)).alias("status"),
                F.coalesce(F.col("_message"), F.lit("no document returned")).alias("message"),
                "seed_rank",
                "priority",
                "discovered_crawl_id",
            )
        )
        self.store.append("ops_log", ops_log, crawl_id)

        if discover_links:
            # outlink expansion (operators/discovery.py): this round's fetched
            # docs mint the NEXT round's candidate frontier, prioritized by
            # in-link degree. Written per-round so resume replays it; the
            # scheduler's seen filter dedups against history at schedule time.
            from dataset_crawler_spark.operators.discovery import expand_frontier

            # surfaced 3xx targets ride the SAME discovery path: the
            # redirect span (kind='redirect', media_ref=target) becomes a
            # link span so extract_outlinks counts it toward in-link degree
            # like any citation — a target redirected to from many URLs is
            # prioritized exactly like a much-cited page
            red = live_raw.where(F.col("status") == OP_REDIRECT).select(
                "doc_id",
                F.transform(
                    "spans",
                    lambda s: F.struct(
                        F.lit("link").alias("kind"),
                        s["text"].alias("text"),
                        s["media_ref"].alias("media_ref"),
                        s["offset"].alias("offset"),
                    ),
                ).alias("spans"),
            )
            expand_input = live.unionByName(red)
            self.store.append(
                "discovered", expand_frontier(expand_input, crawl_id), crawl_id
            )

        if conditional and "etag" in live_raw.columns:
            # persist fresh validators (and re-confirmations) for the next
            # round's revalidation join — last-writer-wins per url_c
            vrows = live_raw.where(
                F.col("status").isin(OP_SUCCESS, OP_NOT_MODIFIED)
                & (F.col("etag").isNotNull() | F.col("last_modified").isNotNull())
            ).select(
                F.col("doc_id").alias("url_c"),
                "etag",
                "last_modified",
                F.lit(crawl_id).cast("int").alias("crawl_id"),
            )
            self.store.append("validators", vrows, crawl_id)

        live_for_diff = live
        if conditional and mode == "full":
            # full-snapshot semantics: a 304'd document was NOT refetched but
            # IS present and unchanged — its stored spans stand in so the
            # diff can never misread the missing body as a deletion
            nm = live_raw.where(F.col("status") == OP_NOT_MODIFIED).select("doc_id")
            unchanged = (
                self.state_as_of(prev_round)
                .where(F.col("last_op") != "deleted")
                .join(nm, "doc_id")
                .select("doc_id", "spans")
            )
            live_for_diff = live.unionByName(unchanged)

        # a redirecting URL is fully handled (target queued via the
        # discovery path) — it joins the seen set so no later round spends
        # budget re-fetching the hop; the chain's TERMINAL is what gets
        # fetched and committed
        fetched = live.select(F.col("doc_id").alias("url_c")).unionByName(
            live_raw.where(F.col("status") == OP_REDIRECT).select(
                F.col("doc_id").alias("url_c")
            )
        )
        self.store.append("fetched", fetched, crawl_id)
        if bloom_params is not None:
            new_shards = SN.bloom_build(fetched, "url_c", bloom_params)
            merged = (
                SN.bloom_merge(prev_bloom, new_shards)
                if prev_bloom is not None
                else new_shards
            )
            self.store.append("bloom", merged, crawl_id)

        n_not_modified = (
            int(live_raw.where(F.col("status") == OP_NOT_MODIFIED).count())
            if conditional
            else 0
        )
        n_redirected = int(live_raw.where(F.col("status") == OP_REDIRECT).count())
        fetch_counts = {
            "scheduled": int(n_scheduled),
            "fetched": int(n_fetched),
            "not_modified": n_not_modified,
            "redirected": n_redirected,
            "failed": int(n_scheduled) - int(n_fetched) - n_not_modified - n_redirected,
        }
        stats = self.run_round(
            live_for_diff,
            crawl_id,
            description=description,
            partial=partial,
            fetch_counts=fetch_counts,
        )

        sched.unpersist()
        live_raw.unpersist()
        live.unpersist()
        return stats

    # -- discovery (outlink-driven frontier growth) --------------------------

    def discovered_frontier(self, crawl_id: int) -> DataFrame:
        """FRONTIER-schema rows discovered in round ``crawl_id`` (the input
        for round ``crawl_id + 1`` in an outlink-driven crawl)."""
        d = self.store.read("discovered", as_of=crawl_id)
        return d.where(F.col("crawl_id") == crawl_id).drop("crawl_id")

    def crawl_closure(
        self,
        seed_frontier: DataFrame,
        hosts: DataFrame,
        fetch_fn: FetchFn,
        bloom_params: SN.BloomParams | None = None,
        max_rounds: int = 25,
        adapt_budgets: bool = False,
        host_dim_fn=None,
        conditional: bool = False,
        centrality: str | None = None,
    ) -> list[dict]:
        """Crawl to link closure: round 0 schedules the seeds, every later
        round schedules the URLs discovered by the previous round's fetches,
        and the loop stops when a round schedules nothing — i.e. the
        outlink graph's reachable set (under robots + politeness budgets)
        is exhausted. The reference reaches closure implicitly by
        re-polling endpoints until the instance lists stop growing
        (App.java:31-58); here closure is explicit and checkpoint-resumable
        — each round is one atomic commit, and a crashed closure run
        resumes from ``next_round()`` with the seen set intact.

        The terminating round (scheduled == 0) IS committed: it is the
        durable record that closure was verified at that crawl_id.

        Per-round frontier growth is bounded by the politeness budget, so
        the frontier table never materializes the whole 10^10-URL closure
        at once — the discovered table grows round by round and history
        stays in the seen set.

        ``host_dim_fn``: optional ``(host, robots_url) frame → hosts-dim
        rows`` (same columns as ``hosts``). When given, each round derives
        the frontier's hosts missing from the dim and extends it via the
        callable — so outlinks onto NEWLY DISCOVERED hosts get a robots
        fetch + politeness row instead of being silently dropped by the
        scheduler's inner host join. Without it the crawl is scoped to the
        hosts present in ``hosts`` (the seed hosts, for the CLI) — the
        documented same-host closure regime. The dim is dimension-scale
        (one row per host), so the per-round anti-join is a broadcast
        against the frontier and the extended dim is checkpointed to keep
        the loop's plan flat; the robots fetch is one-shot per AVAILABLE
        host, while hosts whose last probe failed are re-probed on any
        later round whose frontier still wants them.

        ``centrality``: optional budget shaping per round —
        :meth:`centrality_hosts` re-derives each round's fetch quotas from
        the BASE dim (never the previous round's shaped copy, so
        multipliers never compound) using the signal named here; with
        ``"online"`` the standing adaptive-OPIC state is advanced after
        every committed round (:meth:`opic_update`, cost ∝ |fetched|) and
        consumed by the next round's shaping, so importance-driven budgets
        stay fresh without ever running a batch iteration inside the loop.
        Round 0 always runs unshaped (nothing committed yet). With
        ``"trustrank"`` the trusted set is the SEED hosts — TrustRank's
        premise verbatim: the operator's vetted pages are exactly what a
        seed list is, so spam hosts the seeds never transitively endorse
        floor at min_budget.
        """
        from dataset_crawler_spark.sources.robots import robots_urls_of

        trusted = None
        if centrality == "trustrank":
            trusted = (
                seed_frontier.select(host_of(F.col("url")).alias("node"))
                .distinct()
                .localCheckpoint()
            )

        out = []
        for _ in range(max_rounds):
            crawl_id = self.next_round()
            frontier = (
                seed_frontier
                if crawl_id == 0
                else self.discovered_frontier(crawl_id - 1)
            )
            if host_dim_fn is not None:
                # (re-)probe hosts the frontier needs that have no USABLE dim
                # row: absent entirely, or present but marked unavailable — a
                # transient robots failure marks the host unavailable for that
                # round only (robots.py's documented re-probe-next-round
                # semantics), so an anti-join on bare membership would turn
                # one timeout into a permanent blacklist. Fresh rows REPLACE
                # stale ones so the dim keeps one row per host.
                settled = hosts.where(F.col("is_available")).select("host")
                new_hosts = robots_urls_of(frontier).join(
                    F.broadcast(settled), "host", "left_anti"
                )
                if new_hosts.limit(1).count() > 0:
                    fresh = host_dim_fn(new_hosts).select(*hosts.columns)
                    hosts = (
                        hosts.join(
                            F.broadcast(fresh.select("host")), "host", "left_anti"
                        )
                        .unionByName(fresh)
                        .localCheckpoint()
                    )
            dim_for_round = hosts
            if centrality is not None and crawl_id > 0:
                dim_for_round = self.centrality_hosts(
                    hosts, as_of=crawl_id - 1, signal=centrality, trusted=trusted
                ).localCheckpoint()
            stats = self.crawl_round(
                frontier,
                dim_for_round,
                fetch_fn,
                crawl_id,
                bloom_params=bloom_params,
                description=f"closure round {crawl_id}",
                mode="discover",
                discover_links=True,
                adapt_budgets=adapt_budgets,
                conditional=conditional,
            )
            out.append(stats)
            if centrality == "online":
                self.opic_update(crawl_id)
            if stats["scheduled"] == 0:
                break
        return out

    # -- failure retry (T5) + operation log reads ----------------------------

    def ops_log_as_of(self, as_of: int | None = None) -> DataFrame:
        """Per-operation status rows ≤ as_of (the crawl_operations_log twin)."""
        return self.store.read("ops_log", as_of=as_of)

    def retry_frontier(self, crawl_id: int, decay: float = 0.5) -> DataFrame:
        """Failed fetches of round ``crawl_id`` as pending frontier rows with
        priority decayed by ``decay`` — the reference retries failures on the
        next polling run (DataCrawler.java:53-56, App.java:31-58); here the
        failure set is read back from the ops log and re-queued explicitly so
        retry pressure decays instead of starving fresh URLs."""
        failed = self.ops_log_as_of(crawl_id).where(
            (F.col("crawl_id") == crawl_id)
            & ~F.col("status").isin(OP_SUCCESS, OP_NOT_MODIFIED, OP_REDIRECT)
        )
        return failed.select(
            F.col("url_c").alias("url"),
            "host",
            (F.col("priority") * decay).alias("priority"),
            "discovered_crawl_id",
            "seed_rank",
            F.lit("pending").alias("state"),
        )

    def adaptive_hosts(
        self,
        hosts: DataFrame,
        as_of: int | None = None,
        lookback: int = 3,
        min_budget: int = 1,
    ) -> DataFrame:
        """Hosts dim with budgets/delays adapted to the last ``lookback``
        rounds' per-fetch outcomes (operators/scheduler.py
        adaptive_host_budgets over the ops log) — feed the result into the
        next round's :meth:`crawl_round` to back off failing hosts."""
        as_of = self.store.last_round() if as_of is None else as_of
        ops = self.ops_log_as_of(as_of).where(
            (F.col("crawl_id") > as_of - lookback) & (F.col("stage") == "fetch")
        )
        return SCH.adaptive_host_budgets(
            ops.select("host", "status"), hosts, min_budget=min_budget
        )

    def host_graph(self, as_of: int | None = None) -> DataFrame:
        """Directed host-level edge list (src, dst) from the engine's OWN
        committed corpus: outlink occurrences of the visible docs as-of
        (operators/discovery.py extract_outlinks), targets canonicalized,
        mapped src-host → dst-host, self-loops dropped, parallel edges
        deduped. ``doc_id`` IS the canonical URL in the engine's convention
        (see simulated_fetcher), so the src host comes straight off the doc
        key. This is the input every operators/graph.py signal takes."""
        from dataset_crawler_spark.functions.urls import canonicalize_url
        from dataset_crawler_spark.operators.discovery import extract_outlinks

        out = extract_outlinks(self.visible_docs(as_of))
        return (
            out.select(
                host_of(F.col("parent_doc_id")).alias("src"),
                host_of(canonicalize_url(F.col("url"))).alias("dst"),
            )
            .where(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("src") != F.col("dst"))
            )
            .distinct()
        )

    def centrality_hosts(
        self,
        hosts: DataFrame,
        as_of: int | None = None,
        signal: str = "pagerank",
        trusted: DataFrame | None = None,
        n_iter: int = 8,
        min_budget: int = 1,
        max_multiplier: float = 4.0,
    ) -> DataFrame:
        """Hosts dim with budgets scaled by the crawl's own link-graph
        centrality (operators/scheduler.py centrality_host_budgets over
        operators/graph.py) — the VOLUME counterpart of
        :meth:`adaptive_hosts`' failure backoff: feed the result into the
        next :meth:`crawl_round` so the politeness budget flows to the hosts
        the corpus already links to. ``signal`` ∈ {"pagerank", "trustrank",
        "opic"}; trustrank requires a ``trusted`` host seed frame (and
        demotes link farms to min_budget — spam never outbids vetted paths).
        Before any outlinks are committed the graph is empty and the dim
        passes through untouched (multiplier 1 everywhere) — a cold start
        must not zero the whole crawl's budgets.

        ``signal="online"`` skips the batch iteration entirely and reads
        the standing adaptive-OPIC state (:meth:`opic_scores` — kept fresh
        per round by :meth:`opic_update` at cost ∝ |fetched|); same
        passthrough behavior before the first update."""
        from dataset_crawler_spark.operators import graph as G

        if signal == "online":
            sc = self.opic_scores(as_of)
            if sc is None:
                return hosts.drop("centrality_mult").withColumn(
                    "centrality_mult", F.lit(1.0)
                )
            return SCH.centrality_host_budgets(
                sc, hosts, min_budget=min_budget, max_multiplier=max_multiplier
            )
        edges = self.host_graph(as_of)
        if edges.limit(1).isEmpty():
            return hosts.drop("centrality_mult").withColumn(
                "centrality_mult", F.lit(1.0)
            )
        if signal == "pagerank":
            sc = G.pagerank(edges, n_iter=n_iter)
            sc = sc.select(F.col("node").alias("host"), F.col("rank").alias("score"))
        elif signal == "trustrank":
            if trusted is None:
                raise ValueError("centrality_hosts(signal='trustrank') needs trusted")
            sc = G.trustrank(edges, trusted, n_iter=n_iter)
            sc = sc.select(F.col("node").alias("host"), F.col("trust").alias("score"))
        elif signal == "opic":
            sc = G.opic(edges, n_rounds=n_iter)
            sc = sc.select(
                F.col("node").alias("host"), F.col("importance").alias("score")
            )
        else:
            raise ValueError(f"unknown centrality signal: {signal!r}")
        return SCH.centrality_host_budgets(
            sc, hosts, min_budget=min_budget, max_multiplier=max_multiplier
        )

    def opic_update(self, crawl_id: int | None = None) -> DataFrame:
        """Advance the standing ONLINE importance state by one crawl round
        (operators/graph.py opic_step — adaptive OPIC, WWW 2003): only the
        hosts the round actually visited (ops-log fetches that returned
        content or a 304) bank their cash and push it along the CURRENT
        host graph's out-links. Cost per round ∝ |fetched|; a full
        :func:`~dataset_crawler_spark.operators.graph.opic` recomputation is
        never needed. Appends the new (host, cash, hist) state partition and
        returns it.

        Bootstrap: the first update seeds every then-known host with cash
        1/n; hosts discovered later enter with cash 0 (conservation-safe —
        newcomers only receive) so Σcash stays exactly 1 forever.
        Idempotent per round: a replay overwrites its own partition and
        reads only state strictly older than ``crawl_id``.
        """
        as_of = self.store.last_round() if crawl_id is None else crawl_id
        edges = self.host_graph(as_of)
        fetched = (
            self.ops_log_as_of(as_of)
            .where(
                (F.col("crawl_id") == as_of)
                & (F.col("stage") == "fetch")
                & F.col("status").isin(OP_SUCCESS, OP_NOT_MODIFIED)
            )
            .select("host")
            .distinct()
        )
        universe = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .unionByName(fetched.select(F.col("host").alias("node")))
            .distinct()
        )
        try:
            prior = self.store.read("opic_state").where(F.col("crawl_id") < as_of)
            has_prior = not prior.limit(1).isEmpty()
        except FileNotFoundError:
            has_prior = False
        if has_prior:
            prev = prior.groupBy("node").agg(
                F.max_by("cash", "crawl_id").alias("cash"),
                F.max_by("hist", "crawl_id").alias("hist"),
            )
            state = (
                universe.join(prev, "node", "left")
                .unionByName(prev.join(universe, "node", "left_anti"))
                .select(
                    "node",
                    F.coalesce("cash", F.lit(0.0)).alias("cash"),
                    F.coalesce("hist", F.lit(0.0)).alias("hist"),
                )
            )
        else:
            n = universe.count()
            if n == 0:
                return self.spark.createDataFrame(
                    [], "node string, cash double, hist double"
                )
            state = universe.select(
                "node", F.lit(1.0 / n).alias("cash"), F.lit(0.0).alias("hist")
            )
        out = G_opic_step(state, edges, fetched.select(F.col("host").alias("node")))
        out = out.localCheckpoint()
        self.store.append("opic_state", out, as_of)
        return out

    def opic_scores(self, as_of: int | None = None) -> DataFrame | None:
        """(host, score): the online importance estimate (hist + cash) /
        (steps + 1) from the standing state — drop-in scores for
        :func:`~dataset_crawler_spark.operators.scheduler.
        centrality_host_budgets` (or :meth:`centrality_hosts`-style budget
        shaping) without ever running a batch iteration. None before the
        first :meth:`opic_update`."""
        as_of = self.store.last_round() if as_of is None else as_of
        try:
            st = self.store.read("opic_state", as_of=as_of)
        except FileNotFoundError:
            return None
        if st.limit(1).isEmpty():
            return None
        steps = st.select("crawl_id").distinct().count()
        latest = st.groupBy("node").agg(
            F.max_by("cash", "crawl_id").alias("cash"),
            F.max_by("hist", "crawl_id").alias("hist"),
        )
        return latest.select(
            F.col("node").alias("host"),
            ((F.col("hist") + F.col("cash")) / (steps + 1)).alias("score"),
        )

    def refresh_frontier(self, as_of: int | None = None, decay: float = 0.5) -> DataFrame:
        """Freshness-driven re-crawl queue: LIVE documents ranked by their
        decayed change history (operators/scheduler.py refresh_priorities
        over the committed lineage), emitted as pending frontier rows with
        ``priority = change_score`` for a ``mode="full"`` round. The
        freshness counterpart of :meth:`retry_frontier` (failures): together
        they replace the reference's fixed 30-minute recrawl-everything loop
        (App.java:31-58) with a budget spent where change is likely.
        ``doc_id`` IS the canonical URL in the engine's convention (see
        simulated_fetcher), so the mapping back to frontier rows is direct.
        """
        as_of = self.store.last_round() if as_of is None else as_of
        lin = self.store.read("lineage", as_of=as_of).select("doc_id", "crawl_id", "op")
        pr = SCH.refresh_priorities(lin, as_of=as_of, decay=decay)
        url = F.col("doc_id")
        return pr.select(
            url.alias("url"),
            host_of(url).alias("host"),
            F.col("change_score").alias("priority"),
            F.lit(0).cast("int").alias("discovered_crawl_id"),
            F.lit(0).cast("int").alias("seed_rank"),
            F.lit("pending").alias("state"),
        )

    def change_rate_frontier(
        self, as_of: int | None = None, min_obs: int = 1
    ) -> DataFrame:
        """Poisson-model re-crawl queue: the statistically-grounded upgrade
        of :meth:`refresh_frontier`'s decayed-sum ranking (operators/
        scheduler.py change_rate_estimate — Cho & Garcia-Molina's repaired
        λ̂ MLE). Observations come from the engine's own logs: one
        observation per (doc, round) REVISIT — a fetch that succeeded or
        revalidated (``not_modified`` counts as an observation of
        no-change, which is exactly what conditional fetch buys the
        estimator: cheap unchanged observations) — and ``changed`` = an
        added/updated lineage op in that round. ``priority = p_stale``,
        the probability the doc has changed since its last visit, so one
        politeness budget spent on this frontier maximizes expected
        freshness gained per fetch.

        Scale shape: ops-log scan → lineage left join on (doc_id, round) →
        one hash agg per doc — the same per-key-aggregate plan family as
        every as-of read; nothing driver-side."""
        as_of = self.store.last_round() if as_of is None else as_of
        ops = self.ops_log_as_of(as_of).where(
            (F.col("stage") == "fetch")
            & F.col("status").isin(OP_SUCCESS, OP_NOT_MODIFIED)
        )
        obs = ops.select(F.col("url_c").alias("doc_id"), "crawl_id")
        lin = (
            self.store.read("lineage", as_of=as_of)
            .where(F.col("op") != "deleted")
            .select("doc_id", "crawl_id", F.lit(True).alias("_chg"))
        )
        obs = obs.join(lin, ["doc_id", "crawl_id"], "left").select(
            "doc_id", F.coalesce(F.col("_chg"), F.lit(False)).alias("changed")
        )
        est = SCH.change_rate_estimate(obs)
        # tombstoned docs have nothing to refresh (same exclusion as
        # refresh_priorities): drop docs whose LAST lineage op is deleted
        tomb = (
            S.last_state(self.store.read("lineage", as_of=as_of), as_of)
            .where(F.col("last_op") == "deleted")
            .select("doc_id")
        )
        est = est.join(tomb, "doc_id", "left_anti")
        url = F.col("doc_id")
        return est.where(F.col("n_obs") >= min_obs).select(
            url.alias("url"),
            host_of(url).alias("host"),
            F.col("p_stale").alias("priority"),
            F.lit(0).cast("int").alias("discovered_crawl_id"),
            F.lit(0).cast("int").alias("seed_rank"),
            F.lit("pending").alias("state"),
        )


def simulated_fetcher(corpus: DataFrame) -> FetchFn:
    """A deterministic stand-in for the HTTP fetch stage: scheduled URLs are
    joined against a given corpus (doc_id == canonical url). Scheduled URLs
    absent from the corpus come back as ``error`` rows (the 404 path), so the
    ops log and retry machinery see real failures. The
    PRODUCTION fetcher with the same signature is
    ``sources/http_fetch.http_fetcher`` — a ``mapInPandas`` HTTP stage
    emitting success/error/exception/time_out per request, exercised over a
    loopback server in tests/test_http_fetch.py."""

    def fetch(spark: SparkSession, scheduled: DataFrame) -> DataFrame:
        s = scheduled.select(F.col("url_c").alias("doc_id"))
        j = s.join(corpus, "doc_id", "left")
        ok = F.col("spans").isNotNull()
        return j.select(
            "doc_id",
            "spans",
            F.when(ok, F.lit(OP_SUCCESS)).otherwise(F.lit(OP_ERROR)).alias("status"),
            F.when(ok, F.lit("fetched")).otherwise(F.lit("404: not in corpus")).alias("message"),
        )

    return fetch
