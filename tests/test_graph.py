"""Graph operators: connected components and PageRank invariants."""

from pyspark.sql import functions as F

from samba_spark.operators.graph import connected_components, pagerank


def test_connected_components_two_chains(spark):
    # two path components {1-2-3-4} and {10-11}, plus the 4-chain needing
    # several propagation rounds (diameter 3)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    got = {
        r.vertex: r.component for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_star_and_singleton_edge(spark):
    edges = spark.createDataFrame(
        [(5, 1), (5, 2), (5, 3), (7, 8)], ["src", "dst"]
    )
    got = {
        r.vertex: r.component for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 1, 7: 7, 8: 7}


def test_pagerank_mass_conserved_and_symmetric_ring_uniform(spark):
    # directed ring a→b→c→a: by symmetry every vertex has equal rank 1/3
    ring = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    ranks = {r.vertex: r.rank for r in pagerank(ring, iterations=8).collect()}
    assert all(abs(v - 1 / 3) < 1e-6 for v in ranks.values()), ranks
    assert abs(sum(ranks.values()) - 1.0) < 1e-5


def test_pagerank_dangling_mass_redistributed(spark):
    # 1→2, 2 dangling: without dangling redistribution Σrank < 1
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    ranks = {r.vertex: r.rank for r in pagerank(edges, iterations=20).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-4, ranks
    assert ranks[2] > ranks[1]  # sink accumulates more rank


def test_triangle_count_clique_plus_tail(spark):
    # K4 on {1..4}: each vertex in C(3,2)=3 triangles; pendant edge 4-9
    # and isolated edge 20-21 contribute none. Edges given in mixed
    # direction + one duplicate to exercise canonicalization.
    from samba_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (4, 2), (3, 4), (4, 9), (20, 21)],
        ["src", "dst"],
    )
    got = {r.vertex: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_self_loops_ignored(spark):
    from samba_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 3), (3, 1)], ["src", "dst"]
    )
    got = {r.vertex: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_shortest_paths_matches_bruteforce_bounded_bellman_ford(spark):
    """Random-ish (seeded arithmetic) directed graph vs a pure-Python
    bounded-hop Bellman-Ford; also checks the hop bound BITES (a cheap
    long path must lose to a pricier short one within the bound)."""
    from samba_spark.operators.graph import shortest_paths

    n = 25
    edges = [
        (a, b, 1 + (a * 7 + b * 13) % 9)
        for a in range(n)
        for b in range(n)
        if a != b and (a * 31 + b * 17) % 11 < 2
    ]
    max_hops = 3
    sources = [0, 1]
    # reference: dist_h = min over <= h-edge paths
    INF = float("inf")
    dist = {v: (0 if v in sources else INF) for v in range(n)}
    for _ in range(max_hops):
        nxt = dict(dist)
        for a, b, w in edges:
            if dist[a] + w < nxt[b]:
                nxt[b] = dist[a] + w
        dist = nxt
    expected = {v: d for v, d in dist.items() if d < INF}

    e_df = spark.createDataFrame(edges, ["src", "dst", "weight"])
    s_df = spark.createDataFrame([(v,) for v in sources], ["vertex"])
    got = {
        r.vertex: r.dist
        for r in shortest_paths(e_df, s_df, max_hops).collect()
    }
    assert got == expected


def test_shortest_paths_hop_bound_excludes_longer_cheaper_path(spark):
    from samba_spark.operators.graph import shortest_paths

    # 0->9 direct costs 100; 0->..->9 via 3 unit edges costs 3 but needs
    # 3 hops: with max_hops=2 the direct edge wins, with 3 the chain wins
    edges = spark.createDataFrame(
        [(0, 9, 100), (0, 1, 1), (1, 2, 1), (2, 9, 1)],
        ["src", "dst", "weight"],
    )
    src = spark.createDataFrame([(0,)], ["vertex"])
    two = {r.vertex: r.dist for r in shortest_paths(edges, src, 2).collect()}
    three = {r.vertex: r.dist for r in shortest_paths(edges, src, 3).collect()}
    assert two[9] == 100 and three[9] == 3


def test_label_propagation_keeps_bridged_triangles_apart(spark):
    # Two triangles joined by one bridge edge: CC merges them into one
    # component; LPA's majority vote keeps them separate communities.
    from samba_spark.operators.graph import (
        connected_components,
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        ["src", "dst"],
    )
    comm = {
        r.vertex: r.community
        for r in label_propagation(edges, iterations=4).collect()
    }
    assert comm == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    cc = {
        r.vertex: r.component
        for r in connected_components(edges).collect()
    }
    assert set(cc.values()) == {1}


def test_label_propagation_deterministic_tiebreak(spark):
    # Isolated edge: both endpoints see a 1-1 tie each round; the
    # smallest label must win on both sides.
    from samba_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(7, 9)], ["src", "dst"])
    comm = {
        r.vertex: r.community
        for r in label_propagation(edges, iterations=3).collect()
    }
    assert comm == {7: 7, 9: 7}


def test_personalized_pagerank_concentrates_on_seed_side(spark):
    from samba_spark.operators.graph import personalized_pagerank

    # path graph 1-2-3-4-5, seed {1}: rank must decrease with distance
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (4, 5), (5, 4)],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([(1,)], ["vertex"])
    r = {
        row.vertex: row.rank
        for row in personalized_pagerank(edges, seeds, iterations=8).collect()
    }
    # strict per-hop monotonicity does NOT hold on a path (v5 feeds its
    # whole rank to v4 each round — degree effects); assert the
    # parity-safe decay instead: seed dominates, and rank falls along
    # the odd-distance chain from the seed
    assert r[1] == max(r.values())
    assert r[1] > r[3] > r[5]
    # mass conserved (no dangling on a symmetric graph)
    assert abs(sum(r.values()) - 1.0) < 1e-4


def test_k_core_peels_fringe_and_converges(spark):
    """A 4-clique with a pendant chain: the 3-core is exactly the clique
    (each clique vertex keeps degree 3 after the chain peels away,
    peeling takes >1 round because the chain peels inward one hop per
    round)."""
    from samba_spark.operators.graph import k_core

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(clique + chain, ["src", "dst"])
    core = {(r.vertex, r.degree) for r in k_core(edges, k=3).collect()}
    assert core == {(0, 3), (1, 3), (2, 3), (3, 3)}
    more = {
        (r.vertex, r.degree)
        for r in k_core(edges, k=3).collect()
    }
    assert more == core
    # k=2: the chain still peels (leaf 6 first, then 5, then 4), the
    # clique survives with full degrees
    core2 = {(r.vertex, r.degree) for r in k_core(edges, k=2).collect()}
    assert core2 == {(0, 3), (1, 3), (2, 3), (3, 3)}


def test_k_core_converges_past_rounds_on_long_path(spark):
    """A 30-vertex path has NO 2-core, but 2-core peeling removes only
    the two endpoints per round (~15 rounds to empty) — a fixed
    fixed 8-round unroll would leave the middle of the path in the
    output with degree 2. The convergence loop must keep peeling and
    return the true (empty) fixed point."""
    from samba_spark.operators.graph import k_core

    path = [(i, i + 1) for i in range(29)]
    edges = spark.createDataFrame(path, ["src", "dst"])
    assert k_core(edges, k=2).count() == 0
    # And a long path hanging off a 4-clique: only the clique survives.
    clique = [(100 + a, 100 + b) for a in range(4) for b in range(4) if a < b]
    edges2 = spark.createDataFrame(clique + [(103, 0)] + path, ["src", "dst"])
    core = {r.vertex for r in k_core(edges2, k=2).collect()}
    assert core == {100, 101, 102, 103}


def test_k_core_empty_edges(spark):
    """Self-loop-only input peels to an empty core with the declared
    (vertex, degree) schema."""
    from samba_spark.operators.graph import k_core

    edges = spark.createDataFrame([(1, 1), (2, 2)], ["src", "dst"])
    out = k_core(edges, k=1)
    assert out.columns == ["vertex", "degree"]
    assert out.count() == 0


# --- modularity_contributions (x154) -----------------------------------------
def test_modularity_two_triangles_hand_computed(spark):
    """Two triangles bridged by one edge, communities = the triangles:
    m=7, L_c=3 each, d_c=7 each -> Q_c = 3/7 - (7/14)^2 = 0.178571."""
    from samba_spark.operators.graph import modularity_contributions

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    comm = spark.createDataFrame(
        [(v, 100 if v <= 3 else 200) for v in range(1, 7)],
        "vertex long, community long",
    )
    out = {r["community"]: r for r in modularity_contributions(edges, comm).collect()}
    for c in (100, 200):
        assert out[c]["intra_edges"] == 3
        assert out[c]["degree_sum"] == 7
        assert out[c]["contribution"] == 0.178571


def test_modularity_single_community_is_zero(spark):
    """Everything in one community: L_c = m, d_c = 2m -> Q = 1 - 1 = 0."""
    from samba_spark.operators.graph import modularity_contributions

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    comm = spark.createDataFrame(
        [(v, 9) for v in (1, 2, 3)], "vertex long, community long"
    )
    out = modularity_contributions(edges, comm).collect()
    assert len(out) == 1 and out[0]["contribution"] == 0.0


def test_modularity_anti_community_negative(spark):
    """A partition that cuts every edge (bipartition of a path) scores
    negative: intra_edges = 0 for both sides."""
    from samba_spark.operators.graph import modularity_contributions

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    comm = spark.createDataFrame(
        [(1, 0), (3, 0), (2, 1)], "vertex long, community long"
    )
    out = {r["community"]: r for r in modularity_contributions(edges, comm).collect()}
    assert out[0]["intra_edges"] == 0 and out[1]["intra_edges"] == 0
    assert out[0]["contribution"] < 0 and out[1]["contribution"] < 0


def test_modularity_partitioning_independent(spark, sf_smoke):
    from samba_spark.operators.graph import (
        label_propagation,
        modularity_contributions,
    )
    from samba_spark.queries.extensions import _trading_pairs
    from samba_spark.sources.tables import load_tables

    t = load_tables(spark, sf_smoke, ["orders", "lineitem"])
    pairs = _trading_pairs(t, 3)
    comm = label_propagation(pairs, iterations=2)
    a = modularity_contributions(pairs, comm).collect()
    b = modularity_contributions(pairs.repartition(13), comm).collect()
    assert a == b


def test_connected_components_long_path_is_one_component(spark):
    # diameter 39: past any fixed number of label-propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "src long, dst long"
    )
    got = {
        r.vertex: r.component for r in connected_components(edges).collect()
    }
    assert got == {v: 1 for v in range(1, 41)}


def test_connected_components_null_endpoint_is_not_a_vertex(spark):
    edges = spark.createDataFrame(
        [(1, None), (None, 2), (3, 4), (None, None), (4, None)],
        "src int, dst int",
    )
    rows = connected_components(edges).collect()
    assert {(r.vertex, r.component) for r in rows} == {
        (1, 1), (2, 2), (3, 3), (4, 3)
    }


def test_connected_components_string_vertices(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("y", "x"), ("z", None)],
        "src string, dst string",
    )
    cc = connected_components(edges)
    assert cc.schema.simpleString() == "struct<vertex:string,component:string>"
    assert {(r.vertex, r.component) for r in cc.collect()} == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
        ("z", "z"),
    }
