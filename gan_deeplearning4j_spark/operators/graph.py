"""Iterative graph algorithms on DataFrames.

``connected_components`` (min-label propagation) lives in operators/dedup.py
with its dedup-clustering consumers; this module holds the general-purpose
iterative ops. Like the fixed-point ANN paths, PageRank here runs in an
exact integer domain so a SQL oracle can replay it hash-for-hash — float
PageRank sums diverge across engines at the ulp level after one iteration.

Every iterative operator here and in operators/dedup.py runs its rounds
through two helpers:

- ``checkpoint_round`` materializes a frame (``localCheckpoint(eager=True)``)
  and returns the ``observe`` metrics computed in that same job — a node
  count, a seed, a convergence flag — so a round's decision costs no job
  of its own.
- ``round_rule`` maps an observed node count to the round's join hint and
  checkpoint cadence. Up to ``BROADCAST_NODES_MAX`` nodes the O(nodes)
  vector is broadcast into the round's join and the lineage is
  materialized every ``CHECKPOINT_EVERY`` rounds (each broadcast build
  materializes its level once inside the final job chain, so earlier
  checkpoints are pure overhead at small round counts). Above it the join
  is a plain shuffled join and every round is materialized: an
  unmaterialized shuffled-join chain re-derives every prior round (the r6
  dense-dedup stress measured that class of bug at 4x wall-clock).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

PR_SCALE = 1_000_000          # rank fixed-point scale (ppm)
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100   # damping 0.85 as an exact ratio

# Nodes up to which a round broadcasts its O(nodes) vector into the edge
# join (one row per node, ~1e7 fits an executor), and the broadcast
# rounds between lineage checkpoints.
BROADCAST_NODES_MAX = 10_000_000
CHECKPOINT_EVERY = 8


def checkpoint_round(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """``localCheckpoint(eager=True)`` of ``df`` plus the named aggregate
    ``metrics`` over its rows, observed in that same job: returns the
    checkpointed frame and ``{name: value}``."""
    obs = Observation()
    df = df.observe(
        obs, *(col.alias(name) for name, col in metrics.items())
    ).localCheckpoint(eager=True)
    return df, obs.get


class Rounds(NamedTuple):
    """A round rule: ``hint`` wraps the O(nodes) side of the round's join
    (``F.broadcast`` or the identity); ``settle`` materializes every
    ``every``-th round and always the last, so callers receive a
    lineage-truncated relation."""
    hint: Callable[[DataFrame], DataFrame]
    every: int

    def settle(self, df: DataFrame, it: int, iters: int) -> DataFrame:
        if (it + 1) % self.every == 0 or it == iters - 1:
            return df.localCheckpoint(eager=True)
        return df


def round_rule(n_nodes: int) -> Rounds:
    """The rounds of a graph with ``n_nodes`` nodes: broadcast joins and a
    checkpoint every ``CHECKPOINT_EVERY`` rounds up to
    ``BROADCAST_NODES_MAX`` nodes, shuffled joins and a checkpoint every
    round above it."""
    if n_nodes <= BROADCAST_NODES_MAX:
        return Rounds(F.broadcast, CHECKPOINT_EVERY)
    return Rounds(lambda vec: vec, 1)


def pagerank_fixed(
    edges: DataFrame, src: str = "src", dst: str = "dst", iters: int = 3,
) -> DataFrame:
    """Fixed-point PageRank over an UNDIRECTED view of ``edges``.

    rank_0 = PR_SCALE for every node;
    rank_{k+1}(v) = 0.15·PR_SCALE + floor(0.85 · Σ_{u→v} floor(rank_k(u) /
    deg(u))) — all arithmetic int64 (floor div + integer sums), so the
    result is bit-identical across engines, partitionings, and re-runs.
    Undirecting guarantees deg ≥ 1 (no dangling-mass correction needed).
    Duplicate input edges are tolerated (the undirected edge list is
    deduplicated here) — callers need no pre-``distinct``.

    Scale shape (r13 optimization pass, guide §2.4): the undirected edge
    list pays ONE exchange total — ``repartition("s")`` establishes the
    node-keyed clustering, and both the (s, d) dedup and the degree
    window reuse it (HashPartitioning(s) satisfies the dedup's
    ClusteredDistribution(s, d) by the subset rule). The r12 shape paid
    three full-size exchanges for the same relation: a caller-side edge
    distinct, an (s, d)-keyed dedup exchange, then the window's s-keyed
    exchange (measured 2.0 -> 1.1 s at sf0.1 for the prep half). Skew
    note: a hot node serializes its dedup+window task in EITHER shape
    (window partitions are never split — SCALE.md round 10); per-node
    state here is one count, so the hot task is scan-bound, not
    memory-bound.

    Iterations follow ``round_rule`` (module docstring) on the node count
    (approx_count_distinct observed DURING the prep checkpoint job — no
    separate count job, and no dense-graph cliff: the r13 edge-count
    bound silently shuffled graphs whose nodes fit the threshold). Under
    the broadcast threshold the deferred checkpoints measured 3.0 -> 2.3 s
    for the 3-iter headline.

    Round 1 is join-free (r14 optimization pass): rank_0 is the
    constant PR_SCALE for every node, so the first rank join is the
    identity — contrib_1 = PR_SCALE div deg straight off the
    checkpointed edge list, and no initial O(nodes) rank table (with
    its distinct + broadcast build) is ever constructed. Every node
    appears as ``d`` in the undirected list, so the round-1 aggregate
    already covers the full node set."""
    if iters < 1:
        raise ValueError(f"pagerank_fixed: iters must be >= 1, got {iters}")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    und = e.union(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).repartition("s").dropDuplicates(["s", "d"])
    # the NODE count decides the join strategy below (the rank table
    # being broadcast is O(nodes)); approx_count_distinct rides the
    # checkpoint job as an observed metric, so the decision costs no
    # job AND no longer falls off a cliff on dense graphs. (r13 tested
    # the edge count as a free upper bound on nodes — the r14 sf1 spot
    # bench caught the cliff that conservatism hides: a 10x scale-up
    # pushed 12M edges past the 10M threshold with only ~1.1M nodes,
    # silently taking the shuffled + checkpoint-every-round path at
    # 27 s vs ~4 s broadcast. ±2% HLL error is irrelevant against an
    # order-of-magnitude memory threshold.)
    und_deg, seen = checkpoint_round(
        und.withColumn("deg", F.count("*").over(Window.partitionBy("s"))),
        n=F.approx_count_distinct("s"),
    )
    rule = round_rule(seen["n"])
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    ranks: DataFrame | None = None
    for it in range(iters):
        if ranks is None:
            # rank_0 == PR_SCALE everywhere: the rank join is the identity
            contrib = und_deg.select(
                F.col("d"), F.expr(f"{PR_SCALE} div deg").alias("c")
            )
        else:
            contrib = und_deg.join(
                rule.hint(ranks), und_deg.s == ranks.node
            ).select(F.col("d"), F.expr("rank div deg").alias("c"))
        ranks = contrib.groupBy("d").agg(
            (
                F.lit(base)
                + F.expr(f"({PR_DAMP_NUM} * sum(c)) div {PR_DAMP_DEN}")
            ).alias("rank")
        ).select(F.col("d").alias("node"), "rank")
        ranks = rule.settle(ranks, it, iters)
    return ranks


def ppr_fixed(
    edges: DataFrame, src: str = "src", dst: str = "dst", iters: int = 3,
) -> DataFrame:
    """Personalized PageRank (Haveliwala WWW'02) from the max-degree
    seed node, fixed-point int64 — the localized variant of
    ``pagerank_fixed``: restart mass (1-d)*PR_SCALE lands ONLY on the
    seed, so scores measure proximity to the seed instead of global
    importance (the related-items recommendation ranking).

    rank_0 = PR_SCALE at the seed, 0 elsewhere; rank_{k+1}(v) =
    [v = seed]*(1-d)*PR_SCALE + floor(d * Σ_{u→v} floor(rank_k(u)/
    deg(u))) over the undirected edge view — all arithmetic int64 so a
    chained-CTE SQL oracle replays it hash-for-hash (registered query
    ``ppr_copurchase_topk``). The seed is data-derived (max degree,
    ties by node asc) so no literal needs to ship to the oracle.

    Scale shape: identical to pagerank_fixed — degree folded into the
    edge list once, per iteration one src-keyed join + one dst-keyed
    aggregate, joins and checkpoints per ``round_rule`` on the node
    count. The nodes table rides along so zero-mass nodes persist (a
    left join, not an inner one: the seed must receive its restart mass
    even in rounds where nothing flows into it).

    Round 1 is O(seed-degree) (r14 optimization pass): rank_0 is zero
    everywhere except the seed, so the first rank join degenerates to a
    1-row broadcast filter of the seed's edges — the O(nodes) rank_0
    table (and its broadcast build) is never constructed.
    """
    if iters < 1:
        raise ValueError(f"ppr_fixed: iters must be >= 1, got {iters}")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # one exchange for dedup + degree (repartition("s") satisfies both the
    # (s, d) dedup's clustering and the window's — see pagerank_fixed)
    und = e.union(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).repartition("s").dropDuplicates(["s", "d"])
    # the seed (max-degree node, ties by node asc) rides the prep
    # checkpoint as an observed lexicographic max over (deg, -s) — the
    # former groupBy + orderBy + limit(1) + checkpoint seed job chain
    # was pure scheduling overhead (r14; node ids are nonnegative in
    # every caller, and an exotic negative id would fail loudly in the
    # ANSI negation rather than mis-seed)
    und_deg, seen = checkpoint_round(
        und.withColumn("deg", F.count("*").over(Window.partitionBy("s"))),
        mx=F.max(F.struct(F.col("deg").alias("dg"),
                          (-F.col("s")).alias("ns"))),
    )
    mx = seen["mx"]
    # empty edge list: no seed exists — the NULL literal makes every
    # seed comparison false, reproducing the pre-r14 empty-result
    # behavior (empty nodes table -> empty ranks) instead of crashing
    seed_node = -mx["ns"] if mx is not None else None
    seed = F.lit(seed_node).cast("long")
    # node count observed during the nodes checkpoint job itself (r14:
    # no separate count job — same discipline as pagerank_fixed)
    nodes, seen = checkpoint_round(
        und_deg.select(F.col("s").alias("node")).distinct(),
        n=F.count(F.lit(1)),
    )
    rule = round_rule(seen["n"])
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    ranks: DataFrame | None = None
    for it in range(iters):
        if ranks is None:
            # rank_0 is zero everywhere except the seed: the first rank
            # join degenerates to a filter on the seed's edges — no
            # O(nodes) rank_0 table is ever built (r14)
            contrib = und_deg.filter(F.col("s") == seed).select(
                F.col("d"), F.expr(f"{PR_SCALE} div deg").alias("c")
            )
        else:
            contrib = und_deg.join(
                rule.hint(ranks), und_deg.s == ranks.node
            ).select(F.col("d"), F.expr("rank div deg").alias("c"))
        inflow = contrib.groupBy("d").agg(
            F.expr(f"({PR_DAMP_NUM} * sum(c)) div {PR_DAMP_DEN}")
            .alias("flow")
        )
        # inflow is O(nodes) — it takes the rank join's hint (a broadcast
        # removes both of the left join's shuffles per iteration)
        ranks = (
            nodes.join(rule.hint(inflow), nodes.node == inflow.d, "left")
            .select(
                "node",
                (
                    F.when(F.col("node") == seed,
                           F.lit(base)).otherwise(F.lit(0))
                    + F.coalesce(F.col("flow"), F.lit(0))
                ).cast("long").alias("rank"),
            )
        )
        ranks = rule.settle(ranks, it, iters)
    return ranks


def adamic_adar_topk(
    pairs: DataFrame, a: str = "p1", b: str = "p2", k: int = 100,
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003) over an
    undirected edge list given as one-directional pairs (``a`` < ``b``).

    For every non-adjacent pair with >= 1 common neighbor, score =
    Σ_w 1/ln(deg(w)) over common neighbors w. Each neighbor weight is
    quantized to floor(1e6/ln(deg)) BEFORE the sum so the score is an
    exact long (sum order can't perturb it); common neighbors always
    have deg >= 2, so ln never hits 0. Registered query
    ``adamic_adar_linkpred`` hash-checks this path against a DuckDB
    replay.

    Scale shape: the two-hop expansion shuffles the edge list once,
    keyed on the shared endpoint — the standard link-prediction join;
    the weight table joins on the same key, the anti-join prunes
    existing edges, and top-k is a TakeOrdered heap. Edges are
    materialized once for their three consumers. Skew note: a hub of
    degree d emits d^2/2 candidate pairs — cap or drop top-degree hubs
    upstream for power-law graphs (the LSH-bucket cap discipline)."""
    pr = pairs.select(F.col(a).alias("p1"), F.col(b).alias("p2"))
    e = undirected(pr).localCheckpoint(eager=True)
    wt = (
        e.groupBy("u").agg(F.count("*").alias("d"))
        .filter(F.col("d") >= 2)
        .select(
            "u",
            F.floor(1000000.0 / F.log(F.col("d").cast("double")))
            .cast("long").alias("w"),
        )
    )
    cand = (
        e.alias("e1")
        .join(
            e.alias("e2"),
            (F.col("e2.v") == F.col("e1.v"))
            & (F.col("e2.u") > F.col("e1.u")),
        )
        .join(wt.alias("wt"), F.col("wt.u") == F.col("e1.v"))
        .groupBy(F.col("e1.u").alias("a"), F.col("e2.u").alias("b"))
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum("w").cast("long").alias("score_e6"),
        )
    )
    adj = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    return (
        cand.join(adj, ["a", "b"], "left_anti")
        .orderBy(F.desc("score_e6"), "a", "b")
        .limit(k)
        .select(
            F.col("a").alias("part_a"), F.col("b").alias("part_b"),
            "common_neighbors", "score_e6",
        )
    )


HITS_SCALE = 1_000_000        # hub/authority fixed-point scale


def hits_fixed(
    edges: DataFrame, src: str = "c", dst: str = "s",
    weight: str = "w", rounds: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """HITS hubs & authorities (Kleinberg 1999) on a weighted directed
    edge list, max-normalized to HITS_SCALE after every half-step so
    the whole mutual-reinforcement recurrence stays in exact int64
    (registered query ``hits_fixed_scores`` hash-checks it). Returns
    ``(authorities, hubs)`` as (node, score) DataFrames with scores in
    e6 units.

    Scale shape: each half-step joins the e6 score vector into one
    edge-list aggregate — O(rounds) joins, no re-shuffle of the edge
    list (materialized once); the 1-row max normalizer is a broadcast
    cross join. The score-vector join takes ``round_rule``'s hint on the
    larger side's approx-distinct node count (observed on the
    materialized edge list): broadcast while the vector fits an
    executor, a plain shuffled join above ``BROADCAST_NODES_MAX`` —
    measured at 58.7M edges the broadcast path was the bottleneck
    (SCALE.md), so the fallback is automatic rather than a documented
    caveat. No round is checkpointed: each half-step reads the
    materialized edge list, and ``rounds`` is small. Weights
    must be positive: an all-zero (or null-cast) weight column would
    make the max-normalizer divide by zero and propagate nulls through
    every later round, so it is rejected loudly on entry. int64 bound:
    w·h ≤ total_weight · 1e6 must stay < 2^63 (~9.2e12 total edge
    weight) — switch the half-step sums to per-partition modular folds
    before graphs that large."""
    if rounds < 1:
        raise ValueError(f"hits_fixed: rounds must be >= 1, got {rounds}")
    # the probe (weight validity + the per-side node counts that decide
    # the join strategy below) rides the edge-materialization job as an
    # observed metric set (r14) — no separate probe job
    e, probe = checkpoint_round(
        edges.select(
            F.col(src).alias("c"), F.col(dst).alias("s"),
            F.col(weight).cast("long").alias("w"),
        ),
        bad=F.count_if(F.col("w").isNull() | (F.col("w") <= 0)),
        nc=F.approx_count_distinct("c"),
        ns=F.approx_count_distinct("s"),
    )
    if probe["bad"]:
        raise ValueError(
            f"hits_fixed: {probe['bad']} edges have null/zero/negative "
            f"{weight!r} — weights must be positive (a degenerate weight "
            "column would null out the max-normalizer)"
        )
    score_join = round_rule(max(probe["nc"], probe["ns"])).hint
    h = e.select("c").distinct().select(
        "c", F.lit(HITS_SCALE).cast("long").alias("h")
    )

    def norm(df: DataFrame, col: str) -> DataFrame:
        mx = df.agg(F.max("r").alias("mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            df.columns[0],
            F.expr(f"r * {HITS_SCALE} div mx").cast("long").alias(col),
        )

    a = None
    for _ in range(rounds):
        ar = (
            e.join(score_join(h), "c")
            .groupBy("s").agg(F.sum(F.col("w") * F.col("h")).alias("r"))
        )
        a = norm(ar, "a")
        hr = (
            e.join(score_join(a), "s")
            .groupBy("c").agg(F.sum(F.col("w") * F.col("a")).alias("r"))
        )
        h = norm(hr, "h")
    return (
        a.select(F.col("s").alias("node"), F.col("a").alias("score_e6")),
        h.select(F.col("c").alias("node"), F.col("h").alias("score_e6")),
    )


CO_PURCHASE_MIN_ORDERS = 2   # shared orders that make two parts an edge


def co_purchase_counts(lineitem: DataFrame) -> DataFrame:
    """The repo's canonical sparse product graph with its edge weights:
    one-directional part pairs (p1 < p2) that share at least
    ``CO_PURCHASE_MIN_ORDERS`` distinct orders, and ``n_orders``, how
    many they share. Single definition shared by every co-purchase
    graph query plus the stress harness so the graph contract cannot
    drift between them (the >=2 threshold is what keeps the graph
    sparse — the >=1 co-supply variant is near-complete at every SF and
    useless for graph ops). One distinct-project plus one orderkey-keyed
    self-join; the pair aggregate is map-side combinable."""
    b = lineitem.select("l_orderkey", "l_partkey").distinct()
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(
            c,
            (F.col("c.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("c.l_partkey") > F.col("a.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("c.l_partkey").alias("p2"),
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= CO_PURCHASE_MIN_ORDERS)
    )


def co_purchase_pairs(lineitem: DataFrame) -> DataFrame:
    """``co_purchase_counts`` without the weight: the (p1, p2) edges."""
    return co_purchase_counts(lineitem).select("p1", "p2")


def undirected(pairs: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Both directions of one-directional ``(p1, p2, *rest)`` pairs, as
    ``(u, v, *rest)``: every edge once as p1 -> p2 and once as p2 -> p1,
    carrying the remaining columns (an edge weight) along."""
    rest = [c for c in pairs.columns if c not in ("p1", "p2")]
    return pairs.select(
        F.col("p1").alias(u), F.col("p2").alias(v), *rest
    ).unionByName(
        pairs.select(F.col("p2").alias(u), F.col("p1").alias(v), *rest)
    )


def katz_scores(
    pairs: DataFrame, a: str = "p1", b: str = "p2", iters: int = 3,
) -> DataFrame:
    """Katz centrality scores (Katz 1953) over one-directional pairs:
    score = 1e6 + (sum of neighbor scores) div 2 per iteration, exact
    int64 (attenuation 1/2 as an exact halving). Returns (node, score).
    Single definition shared by the registered query
    ``katz_centrality_fixed`` and the stress harness
    (scripts/stress_graph.py katz) so the certified and the stressed
    code paths cannot drift.

    Scale shape (r14: the pagerank_fixed contract propagated — r13
    verdict ask #8): the undirected edge list is materialized once, its
    approximate node count (``approx_count_distinct``) observed during
    that job; the O(nodes) score vector's join and the checkpoint
    cadence follow ``round_rule`` on that count (module docstring).
    Round 1 is join-free: score_0 is the constant 1e6, so
    score_1(u) = 1e6 + (deg(u)*1e6) div 2 straight off the edge list
    (deg*1e6 is even, so div 2 is exact — identical to the summed
    form)."""
    pr = pairs.select(F.col(a).alias("p1"), F.col(b).alias("p2"))
    # node count (the broadcast vector is O(nodes)), observed during the
    # materialization job — see pagerank_fixed on why the threshold must
    # test nodes, not the conservative edge-count bound
    e, seen = checkpoint_round(undirected(pr), n=F.approx_count_distinct("u"))
    if iters < 1:
        return e.select(F.col("u").alias("node")).distinct().withColumn(
            "score", F.lit(1_000_000).cast("long")
        )
    rule = round_rule(seen["n"])
    x: DataFrame | None = None
    for it in range(iters):
        if x is None:
            # score_0 == 1e6 everywhere: the neighbor-score sum is
            # deg * 1e6, so round 1 is one aggregate over the edges
            x = e.groupBy(F.col("u").alias("node")).agg(
                (F.lit(1_000_000)
                 + F.expr("(count(*) * 1000000) div 2"))
                .cast("long").alias("score")
            )
        else:
            x = (
                e.join(rule.hint(x), e.v == x.node)
                .groupBy(F.col("u").alias("node"))
                .agg(
                    (F.lit(1_000_000) + F.expr("sum(score) div 2"))
                    .cast("long").alias("score")
                )
            )
        x = rule.settle(x, it, iters)
    return x


def sssp_weighted(
    und: DataFrame, seeds: DataFrame, rounds: int = 8,
) -> DataFrame:
    """Weighted single/multi-source shortest paths by pruned Bellman-Ford:
    ``und`` is an undirected weighted edge list (node, nb, w — positive
    integer weights, pre-localCheckpointed by the caller since every
    round joins it), ``seeds`` one column ``node`` of distance-0 sources.
    Returns (node, dist) = exact min distance over all paths of
    <= ``rounds`` edges — pruned relaxation (only re-expand nodes whose
    best distance improved) computes the same closed form an unpruned
    per-round recursion does; that equivalence is what the DuckDB
    recursive-CTE oracle of ★sssp_weighted_hub hash-checks. Single
    definition shared by the registered query and the stress harness
    (scripts/stress_graph.py sssp) so the certified and the stressed
    code paths cannot drift. Scale shape: O(rounds) frontier-to-edge
    equi-join shuffles; the frontier shrinks as distances settle;
    localCheckpoint per round truncates lineage."""
    best = seeds.select("node", F.lit(0).cast("long").alias("dist")) \
        .localCheckpoint(eager=True)
    frontier = best
    for _ in range(rounds):
        nxt = (
            frontier.join(und, "node")
            .select(F.col("nb").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("node").agg(F.min("dist").alias("dist"))
        )
        # frontier emptiness observed during the checkpoint job (r14) —
        # the separate isEmpty probe was an extra job per round
        improved, seen = checkpoint_round(
            nxt.join(best.select("node", F.col("dist").alias("old")),
                     "node", "left")
            .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("node", "dist"),
            n=F.count(F.lit(1)),
        )
        if seen["n"] == 0:
            break
        best = (
            best.unionByName(improved)
            .groupBy("node").agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return best
