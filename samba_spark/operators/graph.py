"""Graph operators on edge DataFrames — connected components and
PageRank, DataFrame-native (no GraphX dependency; the reference tree ships
stock GraphX it never instruments, so the capability surface here is the
dataflow one: iterative joins over an edges table).

Connected components collect the edge list once and run union-find in
the driver: one Spark job at any component diameter. The iterative
operators (PageRank, shortest paths, label propagation, k-core) run each
round as one join + one aggregation on the edge table, shuffled by
vertex id — the Pregel message pattern expressed as DataFrame ops — over
edges localCheckpointed once so every round re-reads a materialized plan
instead of recomputing upstream lineage.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructField, StructType


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(vertex, component) for every vertex appearing in ``edges``;
    ``component`` is the minimum vertex id reachable (undirected).

    One Spark job collects the edge list into the driver, which must hold
    it; union-find there keeps each set's minimum vertex as its root, so
    the job count does not grow with component diameter. A null endpoint
    is not a vertex: an edge with one null end adds only its other end
    (as its own component unless another edge joins it). Vertex ids may
    be of any orderable type (ints, strings); the result has the common
    type of ``src`` and ``dst``, one row per vertex, sorted by vertex."""
    ends = edges.select(F.col(src).alias("vertex")).unionByName(
        edges.select(F.col(dst).alias("vertex"))
    )
    vtype = ends.schema["vertex"].dataType
    table = edges.select(F.col(src).cast(vtype), F.col(dst).cast(vtype)).toArrow()
    parent: dict = {}

    def find(v):
        root = v
        while parent[root] != root:
            root = parent[root]
        while parent[v] != root:  # path compression
            parent[v], v = root, parent[v]
        return root

    for a, b in zip(table.column(0).to_pylist(), table.column(1).to_pylist()):
        for v in (a, b):
            if v is not None and v not in parent:
                parent[v] = v
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    vertices = sorted(parent)
    schema = StructType(
        [StructField("vertex", vtype), StructField("component", vtype)]
    )
    result = pa.table(
        {"vertex": vertices, "component": [find(v) for v in vertices]}
    )
    return edges.sparkSession.createDataFrame(result, schema)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 10,
    damping: float = 0.85,
    round_to: int = 6,
) -> DataFrame:
    """(vertex, rank) after a fixed number of power iterations on the
    directed edge list. Dangling vertices (no out-edges) redistribute their
    mass uniformly, keeping Σrank = 1 — computed as a 1-row aggregate
    broadcast into the update, no driver collect in the loop."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # localCheckpoint, not cache: each round's ranks must be a materialized
    # cut or the final DAG re-executes every prior round (measured 4x
    # slower without); the checkpoint erases partitioning metadata, so the
    # per-round edge-side shuffle is the accepted cost
    e = e.localCheckpoint()
    vertices = (
        e.select(F.col("src").alias("vertex"))
        .unionByName(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = vertices.count()  # the count materializes the lazy cut (one job)
    # out-degree pre-joined into the edge list ONCE — the loop used to pay
    # this join every round (5 exchanges/round; now 3: ranks⋈edges,
    # groupBy(dst), vertices⋈inflow). Arithmetic is unchanged
    # (rank / out_deg), so results are bit-identical to the 3-join form.
    e2 = (
        e.join(e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")), "src")
        .select("src", "dst", "out_deg")
        .localCheckpoint()
    )
    ranks = vertices.withColumn("rank", F.lit(1.0 / n))
    # LAZY checkpoints in the loop (eager=False): the cut still
    # truncates lineage — each round plans against the previous round's
    # LogicalRDD, so plans stay flat — but no per-round materialization
    # JOB runs. The loop has no data-dependent control flow (fixed
    # iteration count), so all rounds execute back to back inside the
    # ONE job the caller's action starts, each checkpoint materializing
    # as its stage completes: iterations driver round-trips collapse to
    # one. (Convergence-checked loops — cc, k_core, shortest_paths —
    # keep eager cuts: their per-round count/isEmpty IS an action.)
    for _ in range(iterations):
        # one left join fans each rank over its out-edges; a dangling
        # vertex (no out-edges) surfaces as a NULL-dst row carrying its
        # whole rank — so ONE aggregation produces both the per-vertex
        # inflow (dst groups) and the dangling mass (the NULL-dst group),
        # replacing the separate per-round anti-join pass.
        flow = ranks.join(e2, ranks.vertex == e2.src, "left").select(
            e2.dst.alias("dst"),
            F.when(
                e2.dst.isNull(), F.col("rank")
            ).otherwise(F.col("rank") / F.col("out_deg")).alias("c"),
        )
        agg = flow.groupBy("dst").agg(F.sum("c").alias("inflow"))
        dangling = agg.where(F.col("dst").isNull()).agg(
            F.coalesce(F.sum("inflow"), F.lit(0.0)).alias("m")
        )
        contribs = agg.where(F.col("dst").isNotNull())
        ranks = (
            vertices.join(contribs, vertices.vertex == contribs.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "vertex",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("inflow", F.lit(0.0)) + F.col("m") / n)
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("vertex", F.round("rank", round_to).alias("rank"))


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(vertex, n_triangles) for every vertex of the undirected graph.

    Degree-ordered wedge closure — the standard distributed triangle
    algorithm (node-iterator++): canonicalize the edge set, then direct
    each edge from its lower-(degree, id) endpoint to the higher. Every
    triangle is then counted exactly once, as a wedge at its
    lowest-ranked vertex closed by one directed edge. Directing by
    degree bounds every out-neighborhood by O(sqrt(m)) — the wedge
    self-join that would explode on a hub vertex in a naive id-ordered
    variant stays bounded on power-law graphs, which is what makes this
    shape survive 100 TB edge tables. Three shuffles total (degree agg,
    wedge join, closure join); no iteration.

    r12 adjudication (VERDICT r11 item 6, guide §1 measure-first): the
    adjacency-set-intersection variant (collect N+(v) once, close each
    edge (u,w) by array_intersect(N+(u), N+(v)) — every shuffle
    edge-sized, no wedge-volume exchange) was implemented, proven
    equivalent (oracle hash-green at sf0.001/0.01/0.1) and MEASURED
    SLOWER: 0.62x at sf0.1 (interleaved median-of-3, 5.29 s wedge vs
    8.58 s intersection; ``git show 92ce187:OPTIMIZATION_r12.md``,
    batch 3). Two reasons: AQE already BROADCASTS the wedge
    self-join's build side at admission scales, so the feared (v2,v3)
    wedge exchange never materializes below multi-GB edge tables; and
    on dense graphs (the x55 fixture: <=499 vertices) the per-edge
    array_intersect over ~degree-sized arrays costs more than the
    joins it replaces. The wedge form stays; the intersection form's
    plan is ``git show
    92ce187:plans/r12/x55_triangle_count_intersect_rejected.txt``, kept
    for the day an edge table is large AND sparse enough to flip the
    trade."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        e.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # u -> w directed edge, keeping w's (deg, id) rank for wedge ordering.
    # Materialized once: the wedge self-join's two sides share one
    # exchange (identical subplan, same key u → ReuseExchange), but the
    # closure side shuffles by (v2, v3) — a different partitioning whose
    # exchange CHILD is this whole subtree, so without the cut the
    # dedup+degree+two-join lineage executed twice per run.
    d = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(
            a_first,
            F.struct(F.col("db").alias("deg"), F.col("b").alias("id")),
        )
        .otherwise(F.struct(F.col("da").alias("deg"), F.col("a").alias("id")))
        .alias("w_rank"),
    ).localCheckpoint()
    x, y = d.alias("x"), d.alias("y")
    wedges = x.join(
        y,
        (F.col("x.u") == F.col("y.u")) & (F.col("x.w_rank") < F.col("y.w_rank")),
    ).select(
        F.col("x.u").alias("v1"), F.col("x.w").alias("v2"), F.col("y.w").alias("v3")
    )
    closer = d.select(F.col("u").alias("v2"), F.col("w").alias("v3"))
    tri = wedges.join(closer, ["v2", "v3"], "left_semi")
    return (
        tri.select(
            F.explode(F.array("v1", "v2", "v3")).alias("vertex")
        )
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """Multi-source weighted shortest paths bounded to ``max_hops`` edges —
    distributed Bellman-Ford: after round h, dist(v) is exactly the
    minimum weight over all paths of <= h edges from any source (weights
    non-negative; integer weights keep every engine bit-exact).
    ``sources`` is a one-column vertex frame. Returns (vertex, dist) for
    every vertex reachable within the hop bound.

    Scale posture: each round is ONE join (frontier ⋈ edges, shuffled on
    the vertex key) + one min-aggregation; only the FRONTIER — vertices
    whose distance improved last round — joins edges, so rounds shrink as
    the wavefront settles (the Pregel halting pattern; a settled prefix
    re-fires only when re-improved, which preserves the <=h-edge
    optimality invariant). dist is localCheckpointed per round to
    truncate iterative lineage, same as pagerank above.
    """
    e = edges.select(
        F.col(src).alias("e_src"),
        F.col(dst).alias("e_dst"),
        F.col(weight).cast("long").alias("w"),
    ).localCheckpoint()
    dist = sources.select(
        F.col(sources.columns[0]).cast("long").alias("vertex"),
        F.lit(0).cast("long").alias("dist"),
    ).localCheckpoint()
    frontier = dist
    for _h in range(max_hops):
        cand = (
            frontier.join(e, frontier["vertex"] == e["e_src"])
            .select(
                F.col("e_dst").alias("vertex"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
        )
        improved = (
            cand.join(
                dist.select(
                    F.col("vertex"), F.col("dist").alias("old_dist")
                ),
                "vertex",
                "left",
            )
            .where(
                F.col("old_dist").isNull()
                | (F.col("dist") < F.col("old_dist"))
            )
            .select("vertex", "dist")
            # lazy cut: the isEmpty probe materializes it (with a
            # partition backfill) — one fewer full job per hop
            .localCheckpoint(eager=False)
        )
        if improved.isEmpty():
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"))
            # lazy cut: next hop's candidate join (or the caller's
            # action on the last hop) materializes it in-line
            .localCheckpoint(eager=False)
        )
        frontier = improved
    return dist


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 4,
) -> DataFrame:
    """(vertex, community) via synchronous label propagation: every
    vertex starts as its own label; each round every vertex adopts the
    most frequent label among its neighbors, ties broken toward the
    SMALLEST label — fully deterministic (no RNG, no async sweep
    order), so a fixed ``iterations`` unroll is reproducible in any
    engine. Communities are denser-than-CC structure: connected
    components merge everything reachable, LPA keeps weakly-linked
    clusters apart.

    Each round is two partial-aggregated shuffles, both keyed by vertex
    ((vertex, label) count, then a max_by vote), with candidate volume
    O(edges) — the GraphX LPA shape re-expressed as DataFrame aggs.
    Rounds localCheckpoint so plan depth stays flat at any iteration
    count. Reference has no graph surface (SURVEY §2.4); clean-room.
    """
    undirected = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).unionByName(
        edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
    )
    # self-loops: each vertex votes for its own label too — the standard
    # stabilizer that stops synchronous LPA from two-coloring oscillation
    # on bipartite-ish graphs
    sym = (
        undirected.unionByName(
            undirected.select("_s").distinct().select(
                "_s", F.col("_s").alias("_d")
            )
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("_s").alias("vertex"))
        .distinct()
        .select("vertex", F.col("vertex").alias("label"))
        .localCheckpoint()
    )
    for _ in range(iterations):
        votes = (
            sym.join(
                labels.select(
                    F.col("vertex").alias("_d"),
                    F.col("label").alias("_nl"),
                ),
                "_d",
            )
            .groupBy(F.col("_s").alias("vertex"), F.col("_nl"))
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        # min over (-count, label): largest count first, then smallest
        # label — works for string vertex ids too (negating the COUNT,
        # never the label, keeps the tie-break type-agnostic)
        labels = (
            votes.groupBy("vertex")
            .agg(
                F.min_by(
                    "_nl",
                    F.struct((-F.col("_c")).alias("_nc"), F.col("_nl")),
                ).alias("label")
            )
            # lazy cut — fixed iteration count, same rationale as
            # pagerank's loop (plans stay flat, rounds run in one job)
            .localCheckpoint(eager=False)
        )
    return labels.select("vertex", F.col("label").alias("community"))


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 5,
    damping: float = 0.85,
    round_to: int = 6,
) -> DataFrame:
    """Personalized PageRank: the random walk restarts into the
    ``sources`` set instead of uniformly — rank becomes proximity TO the
    sources, the recommendation / related-items primitive plain
    PageRank (global importance) cannot express. Same physical loop as
    :func:`pagerank` (3 exchanges per round, dangling mass as a 1-row
    broadcast aggregate, localCheckpoint cuts), with the restart vector
    1/|S| on S broadcast-joined instead of the 1/n constant; dangling
    mass also returns to the sources, preserving Σrank = 1.

    ``sources`` must have a ``vertex`` column; |S| is resolved with one
    count. Fixed iteration count keeps the unrolled SQL oracle exact.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.localCheckpoint()
    vertices = (
        e.select(F.col("src").alias("vertex"))
        .unionByName(e.select(F.col("dst").alias("vertex")))
        .distinct()
        .localCheckpoint()
    )
    s = sources.select("vertex").distinct().join(
        vertices, "vertex"
    ).localCheckpoint(eager=False)
    n_s = s.count()  # the count materializes the lazy cut (one job)
    if n_s == 0:
        raise ValueError(
            "sources must contain at least one vertex present in the graph"
        )
    restart = vertices.join(
        s.withColumn("_r", F.lit(1.0 / n_s)), "vertex", "left"
    ).select("vertex", F.coalesce("_r", F.lit(0.0)).alias("_restart"))
    restart = restart.localCheckpoint()
    e2 = (
        e.join(e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")), "src")
        .select("src", "dst", "out_deg")
        .localCheckpoint()
    )
    ranks = restart.select("vertex", F.col("_restart").alias("rank"))
    for _ in range(iterations):
        flow = ranks.join(e2, ranks.vertex == e2.src, "left").select(
            e2.dst.alias("dst"),
            F.when(
                e2.dst.isNull(), F.col("rank")
            ).otherwise(F.col("rank") / F.col("out_deg")).alias("c"),
        )
        agg = flow.groupBy("dst").agg(F.sum("c").alias("inflow"))
        dangling = agg.where(F.col("dst").isNull()).agg(
            F.coalesce(F.sum("inflow"), F.lit(0.0)).alias("m")
        )
        contribs = agg.where(F.col("dst").isNotNull())
        ranks = (
            restart.join(contribs, restart.vertex == contribs.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "vertex",
                (
                    F.lit(1.0 - damping) * F.col("_restart")
                    + F.lit(damping)
                    * (
                        F.coalesce("inflow", F.lit(0.0))
                        + F.col("m") * F.col("_restart")
                    )
                ).alias("rank"),
            )
            # lazy cut — same rationale as pagerank's loop above
            .localCheckpoint(eager=False)
        )
    return ranks.select("vertex", F.round("rank", round_to).alias("rank"))


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    k: int = 3,
) -> DataFrame:
    """(vertex, degree) for every vertex of the k-core — the maximal
    subgraph where every vertex keeps degree ≥ k. Peels synchronously
    (each round drops all vertices whose degree among SURVIVORS is
    < k) until the fixed point: the loop short-circuits as soon as a
    round removes no vertex, and — because peel depth grows with graph
    structure (a k=2 path of length L needs ~L/2 rounds) — it keeps
    peeling PAST ``rounds`` when the frontier is still shrinking, so
    the output is fixed-point-correct at any diameter. Termination is
    guaranteed: the alive count strictly decreases every non-final
    round. The density filter community detection and influence
    analysis start from: CC merges everything reachable, LPA finds
    clusters, k-core strips the low-degree fringe.

    Deterministic (no RNG, no sweep order). The x124 oracle replays the
    peel as a fixed chained-CTE unroll deep enough to converge (with a
    last-round fixed-point assertion so an under-deep unroll fails
    loudly instead of silently superset-ing); once converged, every
    deeper unroll is a no-op, so this convergence loop and the fixed
    oracle agree. This is not theoretical: the sf0.1 declared
    fixture needs 24 peel rounds (measured round-7), so the original
    rounds=8 unroll silently returned a SUPERSET there — x124's oracle
    now unrolls 26 materialized CTE rounds to cover every SF, and this
    implementation peels to the true k-core at any depth. Each round is one degree aggregation
    over the survivor-filtered edge list (two semi-joins + one count,
    all keyed by vertex id); localCheckpoint keeps plan depth flat,
    and the convergence probe is a count() on the already-materialized
    checkpoint — nearly free. (An earlier version took a ``rounds``
    unroll cap; the loop never read it once convergence landed, and a
    dead cap invites someone to re-wire it and under-peel — removed.)"""
    undirected = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).unionByName(
        edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
    )
    sym = undirected.where(F.col("_s") != F.col("_d")).distinct()
    sym = sym.localCheckpoint()
    alive = (
        sym.select(F.col("_s").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_alive = alive.count()  # materializes the lazy cut (one job)
    deg = None
    while n_alive > 0:
        kept = sym.join(
            alive.select(F.col("v").alias("_s")), "_s", "semi"
        ).join(alive.select(F.col("v").alias("_d")), "_d", "semi")
        deg = kept.groupBy(F.col("_s").alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("degree")
        )
        # lazy cut + count fusion: the count() IS the materializing
        # action (a full-scan aggregate computes and persists every
        # partition in one job), so each peel round runs ONE job
        # instead of checkpoint-then-count's two. Lineage still
        # truncates after the job — 24 rounds at sf0.1 stay flat.
        alive = (
            deg.where(F.col("degree") >= k)
            .select("v")
            .localCheckpoint(eager=False)
        )
        n_next = alive.count()
        if n_next == n_alive:  # fixed point: this round removed nothing
            break
        n_alive = n_next
    if deg is None or n_alive == 0:
        # No surviving vertex (possible on the first probe only when the
        # edge list is empty after self-loop removal): empty k-core.
        schema_src = sym.select(
            F.col("_s").alias("vertex"), F.lit(0).cast("long").alias("degree")
        )
        return schema_src.where(F.lit(False))
    return (
        deg.where(F.col("degree") >= k)
        .select(F.col("v").alias("vertex"), "degree")
    )


def modularity_contributions(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertex_col: str = "vertex",
    community_col: str = "community",
) -> DataFrame:
    """Per-community modularity contributions of a partition — the
    graph sibling of x150's clustering metrics: LPA (x105) produces
    communities, nothing scored them. For an undirected graph with m
    edges, community c's contribution is

        Q_c = L_c/m − (d_c/(2m))²

    (L_c intra-community edges, d_c degree sum); Σ Q_c is Newman
    modularity. The output is the CONTRIBUTION TABLE, one row per
    community (the x131 cells-table design: no cross-row float sum
    whose order an engine could pick — callers sum exactly if they
    want the scalar). L_c, d_c, m are exact integers; each
    contribution is one per-row double expression, identical in both
    engines.

    ``edges`` is the undirected edge list stored once per edge (no
    reverse duplicates, no self-loops); ``communities`` is
    (vertex, community) covering every endpoint — a missing vertex
    would silently drop its edges from L_c, so membership is
    inner-joined and the caller owns completeness (LPA output covers
    every vertex by construction).

    Scale posture: degrees are one partial-aggregated union explode;
    L_c is two hash joins on vertex keys + one agg; d_c one join +
    agg; m rides as a broadcast 1-row aggregate (the x130 scalar
    family). Output is O(communities) rows.
    """
    # materialize the normalized edges once: the caller's edge lineage
    # would otherwise re-execute under all three subplans (m, degrees,
    # intra) — the module's standing localCheckpoint pattern
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).localCheckpoint()
    comm = communities.select(
        F.col(vertex_col).alias("_v"), F.col(community_col).alias("_c")
    )
    m = e.agg(F.count(F.lit(1)).cast("long").alias("_m"))
    deg = (
        e.select(F.col("_s").alias("_v"))
        .unionAll(e.select(F.col("_d").alias("_v")))
        .groupBy("_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    )
    intra = (
        e.join(comm.withColumnRenamed("_v", "_s"), "_s")
        .withColumnRenamed("_c", "_cs")
        .join(comm.withColumnRenamed("_v", "_d"), "_d")
        .where(F.col("_cs") == F.col("_c"))
        .groupBy(F.col("_c").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    dsum = (
        deg.join(comm, "_v")
        .groupBy(F.col("_c").alias("community"))
        .agg(F.sum("_deg").cast("long").alias("degree_sum"))
    )
    md = F.col("_m").cast("double")
    half = F.col("degree_sum").cast("double") / (F.lit(2.0) * md)
    return (
        dsum.join(intra, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            # community keeps the LABEL'S OWN TYPE: label_propagation is
            # deliberately type-agnostic (string vertex ids work), and a
            # hard long cast would silently null non-numeric labels
            "community",
            F.coalesce(F.col("intra_edges"), F.lit(0))
            .cast("long")
            .alias("intra_edges"),
            "degree_sum",
            F.round(
                F.coalesce(
                    F.col("intra_edges").cast("double"), F.lit(0.0)
                )
                / md
                - half * half,
                6,
            ).alias("contribution"),
        )
        .orderBy("community")
    )
