"""Iterative graph algorithms as unrolled DataFrame plans.

PageRank here demonstrates the engine's iterative-join pattern: a fixed
iteration count unrolls into one declarative plan (k joins + k
aggregates), which is how bounded iterative algorithms should run on
Spark — no driver-side collect between steps, every iteration a plain
shuffle join Catalyst can see whole.  (Unbounded-convergence variants
checkpoint the rank table per iteration instead; the per-iteration
dataflow is identical.)

Cross-engine determinism: the per-edge contribution is computed in
IEEE double (identical everywhere) and cast to DECIMAL(38,18) before
the per-node SUM, so aggregation order cannot change the result — the
same trick the time-series operators use.  A replicating SQL engine
unrolling the same k iterations reproduces the ranks bit-for-bit.

Scale shape: per iteration, one shuffle of the edge contributions on
dst plus a broadcast-able rank table when nodes are few; out-degree
fractions are precomputed once (iteration-invariant).  Rank state is
node-cardinality, never edge-cardinality.  This simplified variant does
not redistribute dangling-node mass (rank of sink-only nodes leaks, as
in the classic MapReduce formulation) — documented, and replicated
exactly by the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from eventbridge_etl_spark.cache import scoped_persist
from eventbridge_etl_spark.operators.timeseries import require_tiebreak


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    iterations: int = 4,
    out_scale: int = 8,
) -> DataFrame:
    """Weighted PageRank over ``edges``, ``iterations`` rounds unrolled.

    Returns ``(node, rank)`` with rank rounded to ``out_scale`` at the
    END only (intermediates stay exact-deterministic).  Nodes = every
    distinct src or dst; initial rank 1/N; update
    ``rank' = (1-d)/N + d * Σ_in rank * w/out_w``.

    Plan growth per unrolled iteration is LINEAR (nodes/frac are
    persisted leaves): measured r13 at sf0.1, ~1.9k formatted-plan
    lines and ~0.2 s of planning per 8 iterations (4 iters: 1355
    lines / 16: 4139 / 24: 5995).  localCheckpoint truncation every 8
    iterations was built and MEASURED WORSE — creating each lazy
    checkpoint physically plans its prefix (``toRdd``), costing more
    than the linear replanning it saves (16 iters: 3.9 s → 6.3 s
    plan; 24: 5.8 s → 9.0 s) — so it was rejected; bfs_hops, whose
    growth is combinatorial, is where truncation pays (see below).
    """
    src, dst = F.col(src_col), F.col(dst_col)
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("double")
    # weight contract: transition probabilities need POSITIVE weights.
    # Nonpositive-weight edges are dropped up front — without this, a
    # source whose weights sum to 0 divides 0/0 into NaN fractions,
    # which Spark's decimal cast silently nulls (rank mass vanishes)
    # while a replicating SQL engine hard-errors on the cast.  The
    # node set is therefore defined by the POSITIVE-weight graph: a
    # node whose every incident edge is dropped leaves the graph; a
    # source with no surviving OUT-edges is dangling (documented leak).
    e = edges.select(src.alias("_src"), dst.alias("_dst"), w.alias("_w")).filter(
        F.col("_w") > 0
    )
    nodes = scoped_persist(
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    # iteration-invariant edge fraction w / out_w (pure double divide);
    # persisted with the node set: the unrolled plan reads each of them
    # once PER ITERATION, and without the persist every iteration
    # re-scans edges and re-aggregates out-weights unless ReuseExchange
    # happens to dedupe all the copies
    out_w = e.groupBy("_src").agg(F.sum("_w").alias("_ow"))
    frac = scoped_persist(
        e.join(out_w, "_src")
        .select("_src", "_dst", (F.col("_w") / F.col("_ow")).alias("_frac"))
    )
    n = nodes.agg(F.count("*").alias("_n"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("_n").cast("double")).alias("rank")
    )
    for _ in range(iterations):
        contrib = (
            frac.join(ranks.withColumnRenamed("node", "_src"), "_src")
            .select(
                F.col("_dst").alias("node"),
                ((F.col("rank") * F.lit(damping)) * F.col("_frac"))
                .cast("decimal(38,18)")
                .alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("_n").cast("double")
                    + F.coalesce(F.col("_in").cast("double"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", out_scale).alias("rank"))


def transition_edges(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    label_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key consecutive-label transitions aggregated to a weighted
    edge list ``(src, dst, n)`` — the Markov-chain view of an event
    stream.  Ordering uses the explicit tiebreak contract shared with
    the other event-stream operators; one key-partitioned lag window +
    one edge aggregate."""
    require_tiebreak(events, tiebreak_col)
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    # null labels are non-observations, dropped BEFORE the lag: with
    # them in the window, [A, NULL, B] would emit a phantom (A, NULL)
    # edge and lose the true A->B transition entirely.  Null KEYS are
    # dropped too: partitionBy groups every null key into ONE pseudo-
    # user whose ts-ordered events would chain into fabricated
    # transitions that correspond to no real journey (same null-key
    # contract as temperature_resample/balanced_class_sample; review
    # finding, round 8)
    lagged = (
        events.filter(F.col(label_col).isNotNull() & F.col(key_col).isNotNull())
        .select(
            F.lag(label_col).over(w).alias("src"), F.col(label_col).alias("dst")
        )
        .filter(F.col("src").isNotNull())
    )
    return lagged.groupBy("src", "dst").agg(F.count("*").alias("n"))


def triangle_count(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Global triangle / wedge census of an undirected graph — one row
    ``(n_nodes, n_edges, n_wedges, n_triangles)``.

    Degree-ordered orientation (the classic MapReduce/GraphX trick:
    orient every edge from the lower to the higher (degree, id) node,
    making the graph acyclic with max out-degree O(sqrt(m))), then
    wedges = pairs of out-neighbors, triangles = wedges closed by an
    oriented edge.  The orientation is what makes this survive skew at
    scale: a celebrity node with degree d contributes O(d) oriented
    IN-edges but only O(sqrt(m)) out-edges, so the wedge self-join's
    fan-out is bounded regardless of the degree distribution — the
    naive (unoriented) wedge join would fan out d^2 on that node.

    Input edges may be in either order and contain duplicates; they are
    normalized (min, max) and de-duplicated first.  Self-loops are
    dropped.  All joins key on node ids; nothing is collected.
    """
    a, b = F.col(a_col), F.col(b_col)
    # normalized edge list and oriented edge list are each read by
    # multiple downstream consumers — persist them so the census costs
    # one wedge join, not three recomputations of the whole prefix.
    # Deliberately NOT unpersisted here: the returned one-row frame is
    # lazy and still references both.  Callers running many queries in
    # one session reclaim the blocks via the registry's centralized
    # clearCache hook (__spark_entry__._fresh_cache) or their own.
    e = scoped_persist(
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    ed = (
        e.join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), "b")
    )
    fwd = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    o = scoped_persist(ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dd"),
    ))
    o1 = o.select(
        F.col("src").alias("s"), F.col("dst").alias("v"), F.col("dd").alias("dv")
    )
    o2 = o.select(
        F.col("src").alias("s"), F.col("dst").alias("u"), F.col("dd").alias("du")
    )
    wedges = o1.join(o2, "s").filter(
        F.struct(F.col("dv"), F.col("v")) < F.struct(F.col("du"), F.col("u"))
    )
    # ONE pass over the wedge stream counts wedges AND triangles: a left
    # join against the oriented closing edge marks closed wedges, and
    # the final aggregate counts both — the wedge join never runs twice
    closing = o.select(
        F.col("src").alias("v"), F.col("dst").alias("u"), F.lit(1).alias("_closed")
    )
    census = wedges.join(closing, ["v", "u"], "left").agg(
        F.count("*").alias("n_wedges"),
        F.count("_closed").alias("n_triangles"),
    )
    counts = (
        deg.agg(F.count("*").alias("n_nodes"))
        .crossJoin(F.broadcast(e.agg(F.count("*").alias("n_edges"))))
        .crossJoin(F.broadcast(census))
    )
    return counts.select(
        F.coalesce(F.col("n_nodes"), F.lit(0)).alias("n_nodes"),
        F.coalesce(F.col("n_edges"), F.lit(0)).alias("n_edges"),
        F.coalesce(F.col("n_wedges"), F.lit(0)).alias("n_wedges"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Minimum hop distance from a source node SET over a directed edge
    list, as ``max_hops`` unrolled frontier expansions — the same
    fixed-iteration declarative style as ``pagerank``: no driver-side
    convergence loop, one logical plan Catalyst sees whole.

    ``edges`` must have ``(src, dst)``; ``sources`` one ``node``
    column.  Returns ``(node, hops)`` for every node reachable within
    ``max_hops`` (sources themselves at 0).

    Scale shape: each level is frontier ⋈ edges followed by a DISTINCT
    — the distinct is load-bearing twice over: it bounds the frontier
    at |V| rows (else a dense level squares), and it rebalances the
    hot-destination skew the join produces.  Per-level cost is one
    shuffle keyed on the join column.

    Plan-size truncation (r13, guide §3.3): the frontier prune
    anti-joins the CUMULATIVE ``dist`` union, so each level's plan
    embeds every earlier level's — measured growth is combinatorial
    (this operator at 3 hops: ~1.4k formatted-plan lines; 6 hops: 24k;
    10 hops: 1.13M lines and 93 s of pure driver-side planning).
    Every 4th level both frames are cut with a LAZY
    ``localCheckpoint`` (plan becomes a leaf immediately; blocks
    materialize on first action), bounding plan size linearly in
    depth (10 hops: 678 lines, 17 s — 5.5x, and the gap widens
    super-exponentially past that).  Creating a checkpoint physically
    plans its prefix, so at SHALLOW depths truncation costs more than
    it saves (measured: 6 hops 3.2 s → 18.5 s); truncation is
    therefore ADAPTIVE — off for ``max_hops`` <= 8 (the swept depth of
    3 keeps byte-identical plans and results), every 4 levels beyond.
    Deep traversals trade the checkpoint's executor-local block
    storage (weaker fault tolerance, guide §5) for bounded planning.
    Those checkpoint blocks are NOT released by
    ``cache.release_tracked`` (a checkpoint is not a tracked persist);
    their lifetime is bound to garbage collection — Spark's
    ContextCleaner drops them once the checkpointed RDDs are collected.
    """
    # the edge list is read once per unrolled level: persist it so an
    # expensive upstream (window + aggregate + distinct for transition
    # edges) computes once instead of max_hops times — the same reuse
    # rationale as pagerank's nodes/frac persists (review finding, r8)
    e = scoped_persist(edges.select(F.col("src"), F.col("dst")))
    dist = sources.select(F.col("node"), F.lit(0).alias("hop"))
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            # frontier PRUNE: drop already-visited nodes.  Without it a
            # cycle re-expands the entire reachable set at every level
            # (O(reachable-edges) redundant shuffle per hop); with it
            # each level is proportional to newly discovered nodes and
            # the min-hop result is identical.
            .join(dist.select("node"), "node", "left_anti")
        )
        dist = dist.unionByName(nxt.select("node", F.lit(h).alias("hop")))
        frontier = nxt
        if max_hops > 8 and h % 4 == 0 and h < max_hops:
            dist = dist.localCheckpoint(eager=False)
            frontier = frontier.localCheckpoint(eager=False)
    return dist.groupBy("node").agg(F.min("hop").alias("hops"))
