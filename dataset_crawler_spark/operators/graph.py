"""Link-graph centrality: PageRank, TrustRank and OPIC over a host/source
graph.

Crawl schedulers prioritize by centrality — a frontier at 10^10 URLs cannot
fetch everything each round, and host rank is the standard priority signal
(the reference's fixed per-type ordering, CrawlOperations.java ordering
loops, is the degenerate "all hosts equal" case). Three classic signals
share one execution shape here:

- :func:`pagerank` — damped power iteration (Brin & Page 1998),
- :func:`trustrank` — seed-biased teleport (Gyöngyi, Garcia-Molina &
  Pedersen, VLDB 2004), the spam-demotion variant: trust flows only out
  of vetted seeds, so unreachable link farms score exactly 0,
- :func:`opic` — On-line Page Importance Computation (Abiteboul, Preda &
  Cobena, WWW 2003), the cash/history importance estimator designed
  specifically to PRIORITIZE A CRAWL FRONTIER while the crawl is running.

Each is expressed as DataFrame joins: per iteration one
hash-partitioned equi-join (edges ⋈ scores on src or dst) plus one hash
aggregate (sum of contributions per endpoint) — no all-pairs product, no
driver-side graph.

Determinism contract: fixed ``n_iter`` (no convergence-dependent stop), no
RNG, sums of doubles rounded by the caller before comparison; the
pure-Python twins in tests/test_graph.py are independent power iterations.

Dangling nodes (no out-edges) leak rank mass; the standard fix is uniform
redistribution. The dangling mass is ONE scalar aggregate per iteration — a
filter+sum over a precomputed ``has_out`` flag, a control-plane scalar,
not data movement. Lineage is cut per iteration
with non-eager ``localCheckpoint`` (the dangling-mass aggregate is the
action that materializes it), so the loop's plan does not grow.

Shuffle budget per iteration (measured at 1M nodes / 5M edges —
BENCH/GRAPH_SCALE.md): the static sides (edges⋈outdegree, nodes+flag) are
``repartition(key).cache()`` — InMemoryRelation preserves outputPartitioning
where a localCheckpoint'ed ExistingRDD loses it — so only the ranks side and
the contribution aggregate move each round. On a real cluster the same
contract comes from an Iceberg ``bucket(node)`` table layout, which also
survives executor loss (cache does not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85


class _PreparedGraph:
    """Static sides of an iterative graph computation, materialized once.

    ``ew``: (src, dst, deg) edges with out-degree; ``nodes``: (node,
    has_out) universe with the precomputed dangling flag; ``n`` node count;
    ``small`` whether per-iteration frames should ride broadcast joins;
    ``has_dangling`` whether any node lacks out-edges; ``caches`` every
    cached frame the caller must unpersist when done.
    """

    __slots__ = ("ew", "nodes", "n", "small", "has_dangling", "caches")

    def __init__(self, ew, nodes, n, small, has_dangling, caches):
        self.ew = ew
        self.nodes = nodes
        self.n = n
        self.small = small
        self.has_dangling = has_dangling
        self.caches = caches

    def release(self) -> None:
        for c in self.caches:
            c.unpersist()


def _prepare_graph(
    edges: DataFrame,
    nodes: DataFrame | None,
    broadcast_threshold: int,
) -> _PreparedGraph:
    """Shared static-side setup for pagerank/trustrank/opic (see pagerank's
    docstring for the physical-strategy rationale; the inline comments
    below are load-bearing measurements)."""
    e = edges.select("src", "dst").distinct()
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()

    # edges ⋈ outdegree, materialized once: every iteration joins against it.
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ew = e.join(outdeg, "src").select("src", "dst", "deg")
    # dangling flag precomputed ONCE: the per-iteration dangling mass becomes
    # a filter+sum instead of a ranks ⋈ srcs left_anti against a corpus-sized
    # src set every round
    has_out = (
        ew.select("src")
        .distinct()
        .withColumnRenamed("src", "node")
        .withColumn("_o", F.lit(True))
    )
    nodes = nodes.join(has_out, "node", "left").select(
        "node", F.coalesce("_o", F.lit(False)).alias("has_out")
    )

    # cache the UNPARTITIONED sides first, then run ONE aggregate for the
    # size probe + dangling probe: the agg scans nodes (whose plan contains
    # the ew scan), so a single pass materializes both caches and yields
    # both scalars — counting before caching paid the distinct/outdegree
    # upstream twice, and the separate limit(1) dangling probe was a second
    # driver-blocking job.
    caches = [ew.cache(), nodes.cache()]
    ew, nodes = caches
    stats = nodes.agg(
        F.count("*").alias("n"),
        F.sum((~F.col("has_out")).cast("long")).alias("n_dangling"),
    ).collect()[0]
    n = stats.n
    small = n <= broadcast_threshold
    if small and n <= 10_000 and ew.count() <= 1_000_000:
        # TINY graph (node threshold alone is not enough — a 100k-node graph
        # can still carry 10^8 edges, so the edge count gates too; it reads
        # the just-filled cache, ~free): collapse the static sides to one
        # partition (repartition, not coalesce — coalesce(1) would serialize
        # the upstream scan that derives the graph). Every per-iteration
        # join then emits 1-partition frames and the loop runs
        # single-task-per-stage instead of shuffle_partitions empty tasks
        # per level — measured 3.9 s → 2.9 s on the 20-host sf0.1 graph.
        ew = ew.repartition(1).cache()
        nodes = nodes.repartition(1).cache()
        caches += [ew, nodes]
    elif not small:
        # pre-partitioned by join key and CACHED (not localCheckpoint: a
        # checkpointed ExistingRDD loses its outputPartitioning and the join
        # would re-exchange it every iteration, while InMemoryRelation keeps
        # it) — after this one exchange the static tables never move again.
        # The repartition reads from the just-filled caches (one cheap
        # exchange, no upstream recompute); the unpartitioned copies stay
        # pinned until the final cleanup so the lineage never re-executes.
        ew = ew.repartition("src").cache()
        nodes = nodes.repartition("node").cache()
        caches += [ew, nodes]

    return _PreparedGraph(
        ew, nodes, n, small, (stats.n_dangling or 0) > 0, caches
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    n_iter: int = 8,
    broadcast_threshold: int = 100_000,
) -> DataFrame:
    """(node, rank) after ``n_iter`` damped power iterations.

    ``edges``: (src, dst) directed edge list (parallel edges count once —
    deduped here). ``nodes``: optional (node) universe; isolated nodes get
    teleport-only rank; defaults to nodes appearing in ``edges``.

    Physical strategy is size-aware (same values either way — pinned by
    tests/test_graph.py): at or below ``broadcast_threshold`` nodes
    the per-iteration ranks/contrib sides ride BROADCAST joins (a host graph
    is thousands of rows — pre-partitioning the static sides costs two
    exchange+cache materializations that dwarf the tiny joins they save);
    above it the static sides are ``repartition(key).cache()`` so only the
    ranks side and the contribution aggregate move each iteration
    (BENCH/GRAPH_SCALE.md: 1M-node probe, 2→8 efficiency 0.77).
    """
    g = _prepare_graph(edges, nodes, broadcast_threshold)
    ew, nodes, n, small = g.ew, g.nodes, g.n, g.small

    # dangling is a STATIC property (has_out never changes): when no node
    # is dangling, the mass term is a constant 0 and its aggregate is
    # elided entirely. When nodes ARE dangling, the per-iteration mass
    # stays IN-PLAN as a 1-row aggregate broadcast onto the rank update
    # (crossJoin(broadcast(<1-row agg>)), the engine's standard scalar
    # pattern) instead of a driver-side collect — so ALL n_iter iterations
    # materialize inside the single final action with zero driver-blocking
    # jobs in the loop, matching the SQL twin's chained-CTE shape. The
    # non-eager checkpoints pin each level as the computation flows through
    # it, so lineage is still cut per iteration.
    has_dangling = g.has_dangling

    ranks = nodes.select(
        "node", "has_out", (F.lit(1.0) / n).alias("rank")
    ).localCheckpoint(eager=False)
    for _ in range(n_iter):
        rhs = F.broadcast(ranks) if small else ranks
        contrib = (
            ew.join(rhs, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            .withColumnRenamed("dst", "node")
        )
        joined = nodes.join(F.broadcast(contrib) if small else contrib, "node", "left")
        if has_dangling:
            m_df = ranks.where(~F.col("has_out")).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_m")
            )
            joined = joined.crossJoin(F.broadcast(m_df))
            mass = F.col("_m")
        else:
            mass = F.lit(0.0)
        ranks = joined.select(
            "node",
            "has_out",
            # per-iteration 9-dp quantization: the dangling-mass scalar and
            # contribution aggregates are float sums whose last ulp depends
            # on accumulation order; rounding the iterate each round snaps
            # that sub-ulp drift back onto the 9-dp grid, which reduces the
            # probability that two partitionings disagree below observable
            # (an iterate sitting within the drift band of a grid boundary
            # can still round differently). The 1e-9 perturbation is three
            # orders below a 6-dp output round.
            F.round(
                F.lit(1.0 - DAMPING) / n
                + DAMPING * (F.coalesce("contrib", F.lit(0.0)) + mass / n),
                9,
            ).alias("rank"),
        ).localCheckpoint(eager=False)
    # pin the result to local blocks, then release the static-side caches —
    # long-lived sessions (bench loops, multi-round engines) must not
    # accumulate executor storage across pagerank calls
    out = ranks.select("node", "rank").localCheckpoint()
    g.release()
    return out


def trustrank(
    edges: DataFrame,
    trusted: DataFrame,
    nodes: DataFrame | None = None,
    n_iter: int = 8,
    broadcast_threshold: int = 100_000,
) -> DataFrame:
    """(node, trust) after ``n_iter`` biased power iterations — TrustRank
    (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): PageRank whose teleport
    vector is the normalized indicator of a TRUSTED seed set, so trust flows
    only along paths out of vetted hosts and a spam host reachable from no
    trusted seed scores exactly 0 (the property PageRank lacks — link farms
    self-endow uniform-teleport mass). The standard crawl use: schedule by
    trust (or demote by PageRank-minus-trust "spam mass") so farm traps
    don't buy frontier budget with their own internal links.

    ``trusted``: (node) seed set; seeds outside the node universe are
    ignored; an empty effective seed set raises (the fixpoint would be
    identically 0 and a silent all-zero priority is a scheduling outage).
    Dangling mass redistributes ∝ the teleport vector (the biased-PR
    standard), so total trust stays exactly 1 per iteration. Execution
    contract identical to :func:`pagerank` — same static-side prep, one
    equi-join + one hash aggregate per iteration, dangling mass as an
    in-plan 1-row broadcast aggregate, lineage cut per iteration.
    """
    g = _prepare_graph(edges, nodes, broadcast_threshold)
    ew, n, small = g.ew, g.n, g.small

    t = trusted.select(
        F.col(trusted.columns[0]).alias("node"), F.lit(True).alias("_t")
    ).distinct()
    # seed sets are vetted-by-hand small (the paper's is 178 sites) —
    # broadcast unconditionally; the universe side keeps g.nodes' layout
    nds = g.nodes.join(F.broadcast(t), "node", "left")
    s = nds.where(F.col("_t")).count()
    if s == 0:
        g.release()
        raise ValueError("trustrank: no trusted seed is in the node universe")
    nds = nds.select(
        "node",
        "has_out",
        F.when(F.col("_t"), F.lit(1.0) / s).otherwise(F.lit(0.0)).alias("tel"),
    )
    nds = (nds.repartition(1) if (small and g.n <= 10_000) else nds).cache()
    g.caches.append(nds)

    ranks = nds.select(
        "node", "has_out", "tel", F.col("tel").alias("rank")
    ).localCheckpoint(eager=False)
    for _ in range(n_iter):
        rhs = F.broadcast(ranks) if small else ranks
        contrib = (
            ew.join(rhs, F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            .withColumnRenamed("dst", "node")
        )
        joined = nds.join(F.broadcast(contrib) if small else contrib, "node", "left")
        if g.has_dangling:
            m_df = ranks.where(~F.col("has_out")).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_m")
            )
            joined = joined.crossJoin(F.broadcast(m_df))
            mass = F.col("_m")
        else:
            mass = F.lit(0.0)
        ranks = joined.select(
            "node",
            "has_out",
            "tel",
            (
                F.lit(1.0 - DAMPING) * F.col("tel")
                + DAMPING
                * (F.coalesce("contrib", F.lit(0.0)) + mass * F.col("tel"))
            ).alias("rank"),
        ).localCheckpoint(eager=False)
    out = ranks.select("node", F.col("rank").alias("trust")).localCheckpoint()
    g.release()
    return out


def opic_step(state: DataFrame, edges: DataFrame, fetched: DataFrame) -> DataFrame:
    """ONE adaptive-OPIC round (Abiteboul, Preda & Cobena, WWW 2003 §3 —
    the schedule the paper actually proposes: only the pages FETCHED this
    round bank their cash into history and distribute it over their
    out-links; everyone else's cash just sits). This is the incremental
    form of :func:`opic` for a standing per-round state: per crawl round
    the cost is ∝ |fetched| joins, never a full-graph iteration.

        hist'(u) = hist(u) + cash(u)                       u ∈ fetched
        cash'(v) = [v ∉ fetched]·cash(v)
                   + Σ_{(u,v)∈E, u∈fetched} cash(u)/outdeg(u)
                   + (Σ_{u∈fetched, outdeg(u)=0} cash(u)) / n

    Total cash is invariant (a fetched node's cash leaves it exactly once,
    along edges or via the collapsed virtual page), so Σcash = its
    bootstrap value forever and (hist+cash)/(steps+1) estimates the same
    fixpoint as the synchronous variant.

    ``state``: (node, cash, hist) covering the full node universe —
    callers union new nodes in with (cash 0, hist 0) BEFORE stepping
    (conservation-safe: newcomers only receive). ``edges``: current
    (src, dst) graph; ``fetched``: (node) this round's visited set. No
    broadcast hints on the fetched/contribution sides — a round's fetch set
    is budget-bounded but can be millions of hosts; AQE picks the strategy.
    """
    e = edges.select("src", "dst").distinct()
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    f = fetched.select(
        F.col(fetched.columns[0]).alias("node"), F.lit(True).alias("_f")
    ).distinct()

    st = (
        state.select("node", "cash", "hist")
        .join(f, "node", "left")
        .join(outdeg.withColumnRenamed("src", "node"), "node", "left")
        .select(
            "node",
            "cash",
            "hist",
            F.coalesce("_f", F.lit(False)).alias("_f"),
            "deg",
        )
    )
    # scalars in-plan (1-row aggregate broadcast): node count for the
    # virtual-page share, dangling mass = fetched cash with no out-edges
    sc = st.agg(
        F.count("*").cast("double").alias("_n"),
        F.coalesce(
            F.sum(F.when(F.col("_f") & F.col("deg").isNull(), F.col("cash"))),
            F.lit(0.0),
        ).alias("_m"),
    )
    recv = (
        e.join(
            st.where(F.col("_f") & F.col("deg").isNotNull()).select(
                F.col("node").alias("src"), (F.col("cash") / F.col("deg")).alias("_share")
            ),
            "src",
        )
        .groupBy("dst")
        .agg(F.sum("_share").alias("_recv"))
        .withColumnRenamed("dst", "node")
    )
    return (
        st.join(recv, "node", "left")
        .crossJoin(F.broadcast(sc))
        .select(
            "node",
            (
                F.when(F.col("_f"), F.lit(0.0)).otherwise(F.col("cash"))
                + F.coalesce(F.col("_recv"), F.lit(0.0))
                + F.col("_m") / F.col("_n")
            ).alias("cash"),
            (
                F.col("hist")
                + F.when(F.col("_f"), F.col("cash")).otherwise(F.lit(0.0))
            ).alias("hist"),
        )
    )


def opic(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    n_rounds: int = 8,
    broadcast_threshold: int = 100_000,
) -> DataFrame:
    """(node, importance) after ``n_rounds`` synchronous OPIC rounds
    (Abiteboul, Preda & Cobena, "Adaptive On-Line Page Importance
    Computation", WWW 2003) — the importance estimator built to prioritize
    a RUNNING crawl: every page holds cash (initially 1/n); fetching a page
    banks its cash into its history and distributes it equally over its
    out-links; importance is estimated from (history + cash) without ever
    storing the link matrix. This is the synchronous all-pages-per-round
    variant (the paper's "OPIC" baseline before the adaptive schedule):

        H_i(v) = H_{i-1}(v) + C_{i-1}(v)
        C_i(v) = Σ_{(u,v)∈E} C_{i-1}(u) / outdeg(u)  (+ dangling mass / n)
        importance = (H_k + C_k) / (k + 1)

    Total cash is invariant at 1 per round (dangling cash redistributes
    uniformly — the paper's virtual-page trick collapsed one step), so
    Σ importance = 1 and the estimate converges to PageRank's
    damping→1 limit. Execution shape identical to :func:`pagerank`:
    one equi-join + one hash aggregate per round, dangling mass an in-plan
    1-row broadcast aggregate, lineage cut per round.
    """
    g = _prepare_graph(edges, nodes, broadcast_threshold)
    ew, nds, n, small = g.ew, g.nodes, g.n, g.small

    state = nds.select(
        "node", "has_out", (F.lit(1.0) / n).alias("cash"), F.lit(0.0).alias("hist")
    ).localCheckpoint(eager=False)
    for _ in range(n_rounds):
        rhs = F.broadcast(state) if small else state
        recv = (
            ew.join(rhs, F.col("src") == F.col("node"), "inner")
            .groupBy("dst")
            .agg(F.sum(F.col("cash") / F.col("deg")).alias("_recv"))
            .withColumnRenamed("dst", "node")
        )
        # state carries the full node universe, so the update is ONE left
        # join of the received-cash aggregate back onto it
        joined = state.select(
            "node", "has_out", F.col("cash").alias("_c0"), F.col("hist").alias("_h0")
        ).join(F.broadcast(recv) if small else recv, "node", "left")
        if g.has_dangling:
            m_df = state.where(~F.col("has_out")).agg(
                F.coalesce(F.sum("cash"), F.lit(0.0)).alias("_m")
            )
            joined = joined.crossJoin(F.broadcast(m_df))
            mass = F.col("_m")
        else:
            mass = F.lit(0.0)
        state = joined.select(
            "node",
            "has_out",
            (F.coalesce(F.col("_recv"), F.lit(0.0)) + mass / n).alias("cash"),
            (F.col("_h0") + F.col("_c0")).alias("hist"),
        ).localCheckpoint(eager=False)
    out = state.select(
        "node", ((F.col("hist") + F.col("cash")) / (n_rounds + 1)).alias("importance")
    ).localCheckpoint()
    g.release()
    return out
