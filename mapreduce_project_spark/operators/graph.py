"""Graph operators over edge-list DataFrames — PageRank with
deterministic fixed-point arithmetic.

The reference could express one PageRank ROUND as a map (emit each
node's rank share to its neighbors) plus a reduce (sum inflow)
(`design.md:48-49`); iteration would be the client resubmitting jobs in
a loop. Here each round is two keyed DataFrame joins and the loop is a
driver-side `for` over a scalar round count — never over data.

Determinism contract (same discipline as the k-means fixed-point means,
`operators/similarity.py:label_centroids`): ranks live as BIGINT
micro-units (`scale` = 10^12 of total mass) and every update uses pure
integer ops — `rank div out_degree` contributions, `(85 * inflow) div
100` damping — so Spark and the DuckDB oracle agree bit-for-bit. No
doubles anywhere in the iteration; the final `rank` column is one
division by a power of ten (exactly representable, correctly rounded,
engine-portable).

Scale shape per round: contributions = edges ⋈ ranks on the source
node (one shuffle, both sides node-keyed so AQE reuses the exchange
across rounds), inflow = grouped sum on the destination (map-side
partial agg), new ranks = degree table left ⋈ inflow (node-keyed
again). State per round is one (node, rank) row per node — O(V), never
O(E). Caching follows the connected-components pattern: each round's
ranks are materialized and the previous round unpersisted so lineage
stays O(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PR_SCALE = 10**12
# `pagerank_fixed` cuts the rank lineage (cache + count, then the
# predecessor unpersisted) every this many rounds rather than every
# round. PageRank's lineage is LINEAR (each round reads the previous
# once), so per-round materialization buys nothing but per-job scheduler
# overhead (measured ~35% of warm runtime at bench scale); the interval
# bounds recovery/replan cost on task failure, the standard
# checkpoint-interval trade in iterative Spark jobs. Values are
# identical for any interval.
_PR_MATERIALIZE_EVERY = 4
_PR_DAMPING_PCT = 85


def symmetrize(edges: DataFrame, disjoint_reverse: bool = False) -> DataFrame:
    """Distinct undirected edge list (both directions present) — the
    usual preconditioning so PageRank has no dangling nodes (every
    node then has out-degree ≥ 1). One explode, then one distinct.

    ``disjoint_reverse=True`` declares that no reversed edge can ever
    equal a forward edge — true for bipartite graphs whose two node
    populations live in disjoint id spaces (the trade graph's
    even-customer/odd-supplier parity split). Then
    ``distinct(fwd ∪ rev) ≡ explode-both-directions(distinct(fwd))``
    exactly, so the dedup shuffles |E| rows instead of 2|E| and the
    doubling is a narrow explode ABOVE the dedup — one scan of the
    upstream, no union (a union's two branches each re-derive the
    upstream unless exchange reuse happens to fire — the dedup.py:921
    counter-lesson)."""
    if disjoint_reverse:
        return (
            edges.select("src", "dst")
            .distinct()
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("src"), F.col("dst")),
                        F.struct(
                            F.col("dst").alias("src"), F.col("src").alias("dst")
                        ),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
        )
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct("src", "dst"),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    canonical: bool = False,
) -> DataFrame:
    """(node, n_tri) — the number of triangles each node participates
    in, over an undirected simple graph given as an edge list (either
    direction, duplicates/self-loops tolerated).

    The MR idiom (node-iterator join, `design.md:48-49`) enumerates each
    wedge and probes the closing edge; here the degree-ordered
    compact-forward algorithm does the same with two equi-joins, and the
    orientation is the scale lever: every edge points from its
    lower-(degree, id) endpoint to the higher one, which caps oriented
    out-degree at O(sqrt(E)) — so the wedge join (the only superlinear
    step) generates O(E^1.5) rows worst-case instead of the
    O(sum degree^2) of naive wedge counting around hubs. Wedges shuffle
    on the center node, closure is an equi-join on the (v, w) pair, and
    each triangle is emitted exactly once (its orientation-order is
    unique), so no de-dup pass is needed. Per-node counts are one
    explode of the three corners + a partial-aggregated groupBy.

    Every join key is an equi-key and the struct comparison
    (d, node) is a total order (node ids unique), so the output is
    deterministic and engine-portable — the DuckDB oracle counts the
    identical triangle set with the id-ordered 3-way join.

    ``canonical=True`` declares the input ALREADY canonical (a < b,
    self-loop-free, distinct — e.g. a materialized edge table the
    caller also uses for degrees): the normalization shuffle is skipped
    outright instead of re-deduplicating an already-unique table
    (guide §2.4 — a `distinct` on data that is already unique is an
    accidental exchange)."""
    if canonical:
        e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    else:
        e = (
            edges.select(
                F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    ed = (
        e.join(da, F.col("a") == F.col("da.n"))
        .join(db, F.col("b") == F.col("db.n"))
        .select("a", "b", F.col("da.d").alias("dda"), F.col("db.d").alias("ddb"))
    )
    a_first = (F.col("dda") < F.col("ddb")) | (
        (F.col("dda") == F.col("ddb")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(
            a_first, F.struct(F.col("ddb").alias("d"), F.col("b").alias("n"))
        )
        .otherwise(F.struct(F.col("dda").alias("d"), F.col("a").alias("n")))
        .alias("vk"),
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(
        y, (F.col("x.u") == F.col("y.u")) & (F.col("x.vk") < F.col("y.vk"))
    ).select(
        F.col("x.u").alias("u"),
        F.col("x.vk.n").alias("v"),
        F.col("y.vk.n").alias("w"),
    )
    closing = oriented.select(F.col("u").alias("v"), F.col("vk.n").alias("w"))
    tris = wedges.join(closing, ["v", "w"])
    corners = tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def pagerank_fixed(edges: DataFrame, n_iter: int = 2) -> DataFrame:
    """(node, rank_fx, rank) after ``n_iter`` damped PageRank rounds
    over a directed edge list in which EVERY source has out-degree ≥ 1
    (run `symmetrize` first if the graph is undirected / has dangling
    nodes — with dangling nodes the lost mass simply damps away, which
    is the "remove dangling mass" convention).

    ``rank_fx`` is the exact BIGINT fixed-point value (micro-units of
    ``10^12`` total mass); ``rank`` is its double rendering. Integer
    division drops sub-unit remainders — that loss is part of the
    deterministic spec, bounded by 1 unit (10^-12) per edge per round.

    Rank lineage is cut every ``_PR_MATERIALIZE_EVERY`` rounds. The
    returned frame is always materialized, so results never depend on
    the unpersisted edge/degree caches.
    """
    # The edge list is consumed once per round plus once for degrees;
    # without caching, an expensive upstream (e.g. the orders⋈lineitem
    # build in pagerank_trade_graph) would be recomputed n_iter+1 times.
    # Persisting the edges is the standard iterative-graph discipline —
    # at cluster scale this is MEMORY_AND_DISK and amortizes the build
    # across rounds. Partitioning by src BEFORE the cache makes every
    # round's edges⋈contributions join and the degree groupBy reuse the
    # cached layout (InMemoryRelation keeps outputPartitioning): the
    # big side is shuffled ONCE at build time instead of once per round
    # (guide §2.4 — two operations keyed the same way share one
    # exchange).
    e = (
        edges.select("src", "dst")
        .repartition("src")
        .cache()
    )
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .select(F.col("src").alias("node"), "d")
        .cache()
    )
    n_nodes = deg.count()  # scalar only — sizes the init literal
    r0 = _PR_SCALE // n_nodes
    base = (100 - _PR_DAMPING_PCT) * r0 // 100
    # ranks carry the node's out-degree alongside fx: the contribution
    # projection then needs NO ranks⋈deg join (one join per round
    # removed outright — guide §2.4); the post-inflow deg join both
    # restores zero-inflow nodes and re-attaches d for the next round.
    # Arithmetic is unchanged, so values stay bit-identical.
    ranks = deg.select("node", "d", F.lit(r0).alias("fx"))
    live = None  # the currently materialized lineage cut, if any
    for i in range(n_iter):
        rd = ranks.select(
            F.col("node").alias("src"), F.expr("fx div d").alias("c")
        )
        inflow = (
            e.join(rd, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            deg.join(inflow, "node", "left")
            .select(
                "node",
                "d",
                (
                    F.lit(base)
                    + F.expr(
                        f"({_PR_DAMPING_PCT} * coalesce(inflow, 0L)) div 100"
                    )
                ).alias("fx"),
            )
        )
        if (i + 1) % _PR_MATERIALIZE_EVERY == 0 and i + 1 < n_iter:
            ranks = ranks.cache()
            ranks.count()
            if live is not None:
                live.unpersist()
            live = ranks
    out = ranks.select(
        "node",
        F.col("fx").alias("rank_fx"),
        (F.col("fx").cast("double") / F.lit(float(_PR_SCALE))).alias("rank"),
    ).cache()
    out.count()
    if live is not None:
        live.unpersist()
    deg.unpersist()
    e.unpersist()
    return out


def pagerank_personalized(edges: DataFrame, seeds: DataFrame, n_iter: int = 2) -> DataFrame:
    """(node, rank_fx, rank) after ``n_iter`` damped PERSONALIZED
    PageRank rounds: the teleport mass restarts at the SEED node set
    instead of uniformly — the recommender-graph form ("rank the graph
    by relevance to THESE users"). ``seeds`` is a (node) frame;
    seeds absent from the graph are ignored, and the total restart
    mass 10^12 splits evenly over the surviving seeds.

    Exactness: identical fixed-point discipline to `pagerank_fixed`
    (BIGINT micro-units of 10^12, truncating div on non-negative
    operands), so an unrolled SQL oracle hash-matches it.

    Scale: ranks are carried SPARSELY — after k rounds only the
    k-hop-reachable frontier of the seed set holds mass, so each round
    shuffles O(frontier x avg-degree), not O(V); at 100 TB a local
    seed set touches a vanishing fraction of the graph where the
    uniform variant must materialize every node each round. The fx>0
    filter is semantics-free (zero-mass nodes contribute zero inflow
    and render no output row)."""
    # Plain cache, NOT src-partitioned (unlike `pagerank_fixed`): the
    # per-round contributions side is the sparse seed frontier —
    # broadcast-scale by the operator's own contract — so the
    # edges⋈contributions join never shuffles the edge side anyway,
    # and a pre-partitioning shuffle would be pure overhead (measured
    # +106% on the seeded query when it was tried; guide §1.1 —
    # the empirical loop overrides the first-principles sketch).
    # NOTE (r14): swapping this cache for an eager localCheckpoint was
    # tried (it cuts the seeded query's explain from 248 Exchange /
    # 173 parquet scans to a LogicalRDD leaf) and measured SLOWER in
    # 4 interleaved A/B cycles (pooled ~4.7 s cache vs ~5.3 s
    # checkpoint, before faster in 3 of 4 paired cycles): the edge
    # table is re-scanned by deg + every round's inflow join, and the
    # cache's columnar InMemoryRelation re-scans faster than the
    # row-based RDD leaf — plan mass was not this query's bottleneck.
    # Checkpoint wins only where planning dominates re-scan cost
    # (assemble_training_set_v7/v8); kept as cache here.
    e = edges.select("src", "dst").cache()
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .select(F.col("src").alias("node"), "d")
        .cache()
    )
    s = seeds.select("node").distinct().join(deg, "node", "left_semi").cache()
    ns = s.count()  # scalar only — sizes the per-seed restart mass
    if ns == 0:
        raise ValueError("pagerank_personalized: no seed appears in the graph")
    r0 = _PR_SCALE // ns
    base = (100 - _PR_DAMPING_PCT) * r0 // 100
    ranks = s.select("node", F.lit(r0).cast("bigint").alias("fx"))
    for _ in range(n_iter):
        rd = ranks.join(deg, "node").select(
            F.col("node").alias("src"), F.expr("fx div d").alias("c")
        )
        inflow = (
            e.join(rd, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            s.select("node", F.lit(1).alias("_seed"))
            .join(inflow, "node", "outer")
            .select(
                "node",
                (
                    F.when(F.col("_seed").isNotNull(), F.lit(base)).otherwise(
                        F.lit(0)
                    )
                    + F.expr(f"({_PR_DAMPING_PCT} * coalesce(inflow, 0L)) div 100")
                )
                .cast("bigint")
                .alias("fx"),
            )
            .filter(F.col("fx") > 0)
        )
    out = ranks.select(
        "node",
        F.col("fx").alias("rank_fx"),
        (F.col("fx").cast("double") / F.lit(float(_PR_SCALE))).alias("rank"),
    ).cache()
    out.count()
    s.unpersist()
    deg.unpersist()
    e.unpersist()
    return out


def bounded_shortest_paths(edges: DataFrame, sources: DataFrame, rounds: int) -> DataFrame:
    """(node, dist) — cheapest path cost from any source node within
    ``rounds`` edge relaxations (Bellman-Ford with a hop bound): the
    weighted companion of `connected_components`' reachability. Each
    round is one join + one partial-aggregated MIN shuffle; the driver
    loop is over ROUNDS (a constant), never data — the same iterative
    discipline as `pagerank_fixed`. Unreached nodes are absent (no
    infinity sentinel to carry). Integer weights keep every distance
    exact and engine-comparable.

    For unbounded shortest paths, loop until a round changes no
    distance (convergence read as one scalar count, like
    `connected_components`); the bounded form IS the right query shape
    for "within k hops" analyses and for an unrolled SQL oracle."""
    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"), F.col("w").alias("_w"))
    dist = sources.select(F.col("node"), F.lit(0).cast("bigint").alias("dist"))
    for _ in range(rounds):
        relaxed = e.join(dist, e["_s"] == dist["node"]).select(
            F.col("_d").alias("node"), (F.col("dist") + F.col("_w")).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist
