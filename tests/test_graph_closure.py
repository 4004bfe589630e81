from __future__ import annotations

from dublin_smart_city_graphdb_spark.graph.closure import (
    connected_components,
    transitive_closure,
)


def test_transitive_closure_chain(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    got = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    assert got == {
        (1, 2), (2, 3), (3, 4), (1, 3), (2, 4), (1, 4), (10, 11),
    }


def test_transitive_closure_cycle_terminates(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    got = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    # Every node reaches every node (including itself via the cycle).
    assert got == {(a, b) for a in (1, 2, 3) for b in (1, 2, 3)}


def test_seeded_closure_restricts_to_seed_sources(spark):
    """transitive_closure(seeds=...) returns exactly the all-pairs rows
    whose source is a seed — including through cycles."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (10, 11)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(2,)], ["src"])
    got = {(r.src, r.dst)
           for r in transitive_closure(edges, seeds=seeds).collect()}
    assert got == {(2, 3), (2, 1), (2, 2), (2, 4)}
    # seed with no outgoing edges -> empty, not an error
    lone = spark.createDataFrame([(4,)], ["src"])
    assert transitive_closure(edges, seeds=lone).count() == 0


def test_seeded_closure_rounds_track_reachable_set_not_graph(spark):
    """Round contract (VERDICT r6 task 1): frontier rounds are bounded by
    the SEED's reachable diameter, not the graph's. The graph carries a
    30-hop chain (all-pairs needs ~30 delta rounds); the seed's reachable
    set has diameter 3, so max_iterations=4 must already be complete."""
    chain = [(i, i + 1) for i in range(100, 130)]
    edges = spark.createDataFrame(
        chain + [(1, 2), (2, 3), (3, 4)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["src"])
    got = {(r.src, r.dst)
           for r in transitive_closure(
               edges, seeds=seeds, max_iterations=4).collect()}
    assert got == {(1, 2), (1, 3), (1, 4)}


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (20, 20)], ["src", "dst"]
    )
    labels = {r.id: r.component for r in connected_components(edges).collect()}
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == labels[12] == 10
    assert labels[20] == 20


def test_pagerank_tiny_graph(spark):
    """Hand-checked 2-iteration PageRank on a 3-node chain a→b→c."""
    from dublin_smart_city_graphdb_spark.graph.closure import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    got = {r.id: r.rank for r in pagerank(edges, iterations=2).collect()}
    # r1: a=0.15, b=0.15+0.85*1=1.0, c=0.15+0.85*1=1.0
    # r2: a=0.15, b=0.15+0.85*0.15=0.2775, c=0.15+0.85*1.0=1.0
    assert got[1] == 0.15
    assert got[2] == 0.2775
    assert got[3] == 1.0


def test_pagerank_converged_known_graph(spark):
    """pagerank_converged (r5 task 7): on a 4-node cycle every node's
    rank is exactly 1.0 at every iteration, so the delta hits 0 after
    round 2 (round 1's delta compares against the init vector) and the
    loop stops well before max_iter. On the 3-node chain the fixed-point
    converges to a=0.15, b=0.15+0.85*0.15, c=0.15+0.85*b."""
    from dublin_smart_city_graphdb_spark.graph.closure import (
        pagerank,
        pagerank_converged,
    )

    cycle = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    ranks, rounds = pagerank_converged(cycle, tol=1e-9, max_iter=50)
    got = {r.id: r.rank for r in ranks.collect()}
    assert got == {1: 1.0, 2: 1.0, 3: 1.0, 4: 1.0}
    assert rounds <= 2

    chain = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    ranks, rounds = pagerank_converged(chain, tol=1e-9, max_iter=50)
    got = {r.id: r.rank for r in ranks.collect()}
    assert got[1] == 0.15
    assert abs(got[2] - (0.15 + 0.85 * 0.15)) < 1e-9
    assert abs(got[3] - (0.15 + 0.85 * got[2])) < 1e-9
    assert 2 < rounds < 50

    # at the same round count the converged twin is bit-identical to the
    # fixed-iteration twin (same integer pipeline)
    fixed = {r.id: r.rank for r in pagerank(chain, iterations=rounds).collect()}
    assert fixed == got


def test_connected_components_long_path_converges_fast(spark):
    """A 200-node path has diameter 199 — plain min-propagation would need
    ~199 rounds and silently truncate at max_iterations=50. Pointer
    doubling must label it correctly well inside 20 rounds."""
    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )
    labels = {
        r.id: r.component
        for r in connected_components(edges, max_iterations=20).collect()
    }
    assert len(labels) == n
    assert set(labels.values()) == {0}


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=2)


def test_connected_components_random_graphs_vs_union_find(spark):
    """Property check: pointer-doubling labels agree with a driver-side
    union-find on random sparse graphs (including multi-component ones)."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n // 2)
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = {v for e in edges for v in e}
        expected = {}
        for v in touched:
            expected.setdefault(find(v), []).append(v)
        want = {
            v: min(members)
            for members in expected.values()
            for v in members
        }
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r.id: r.component for r in connected_components(df).collect()
        }
        assert got == want, f"trial {trial}"


def test_transitive_closure_deep_chain_crosses_compaction(spark):
    """A 20-edge chain needs 20 fixpoint rounds — crossing the every-8-round
    union compaction twice; all n·(n+1)/2 ancestor pairs must survive."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], ["src", "dst"]
    )
    got = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    want = {(a, b) for a in range(21) for b in range(a + 1, 21)}
    assert got == want


def test_transitive_closure_raises_instead_of_truncating(spark):
    """A 12-edge chain needs 11 growing rounds; with a budget of 3 the
    closure must raise rather than return a subset of the 78 pairs."""
    import pytest as _pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["src", "dst"]
    )
    with _pytest.raises(RuntimeError, match="did not exhaust"):
        transitive_closure(edges, max_iterations=3).collect()


def test_bfs_hops_path_graph_levels(spark):
    """BFS from node 0 over a symmetrized 10-edge path: hops = index."""
    from dublin_smart_city_graphdb_spark.graph.closure import bfs_hops

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(10)] + [(i + 1, i) for i in range(10)],
        ["src", "dst"],
    )
    srcs = spark.createDataFrame([(0,)], ["id"])
    got = {r.id: r.hops for r in bfs_hops(e, srcs).collect()}
    assert got == {i: i for i in range(11)}


def test_bfs_hops_multi_source_takes_min(spark):
    """Two sources at both ends of a path: hops = distance to the NEAREST
    source, and the loop ends at the meet-in-the-middle round."""
    from dublin_smart_city_graphdb_spark.graph.closure import bfs_hops

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(i + 1, i) for i in range(6)],
        ["src", "dst"],
    )
    srcs = spark.createDataFrame([(0,), (6,)], ["id"])
    got = {r.id: r.hops for r in bfs_hops(e, srcs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 2, 5: 1, 6: 0}


def test_bfs_hops_raises_instead_of_truncating(spark):
    """A frontier still expanding at max_iterations must raise — silent
    truncation would hand wrong radii to dedup_cluster_hops."""
    import pytest as _pytest

    from dublin_smart_city_graphdb_spark.graph.closure import bfs_hops

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["src", "dst"]
    )
    srcs = spark.createDataFrame([(0,)], ["id"])
    with _pytest.raises(RuntimeError, match="did not exhaust"):
        bfs_hops(e, srcs, max_iterations=3)


def test_triangle_counts_known_graphs(spark):
    """K4 (every vertex in C(3,2)=3 triangles), a square with one diagonal
    (diagonal endpoints in 2, the others in 1), and a star (no triangles);
    input arrives unordered/duplicated to prove canonicalization."""
    from dublin_smart_city_graphdb_spark.graph.closure import (
        triangle_vertex_counts,
    )

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    square_diag = [(10, 11), (11, 12), (12, 13), (13, 10), (10, 12)]
    star = [(20, 21), (20, 22), (20, 23), (20, 24)]
    edges = k4 + square_diag + star
    # reversed duplicates must not double-count
    edges += [(b, a) for a, b in edges[:5]]
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.n_triangles for r in triangle_vertex_counts(e).collect()}
    assert got == {
        0: 3, 1: 3, 2: 3, 3: 3,
        10: 2, 12: 2, 11: 1, 13: 1,
    }


def test_triangle_counts_empty_edge_set(spark):
    from dublin_smart_city_graphdb_spark.graph.closure import (
        triangle_vertex_counts,
    )

    e = spark.createDataFrame([(1, 1)], ["src", "dst"])  # self-loop only
    assert triangle_vertex_counts(e).count() == 0


def test_sssp_weighted_relaxation(spark):
    """Weighted SSSP must relax through the cheaper 2-hop route (1-3-2
    costs 3 < the direct edge's 4) and propagate the improvement
    downstream; unreachable nodes are absent from the result."""
    from dublin_smart_city_graphdb_spark.graph.closure import sssp

    edges = spark.createDataFrame(
        [(1, 2, 4), (1, 3, 1), (3, 2, 2), (2, 4, 5), (3, 4, 10),
         (4, 5, 1), (9, 1, 1)],
        "src long, dst long, w long",
    )
    sources = spark.createDataFrame([(1,)], "id long")
    got = {r.id: r.dist for r in sssp(edges, sources).collect()}
    assert got == {1: 0, 3: 1, 2: 3, 4: 8, 5: 9}


def test_hits_tiny_graph(spark):
    """Hand-unrolled HITS on a 4-node graph. Edges: 1→3, 2→3, 3→4, 1→4.
    h0 = 1 everywhere.
      a1: 3←{1,2}=2, 4←{3,1}=2, others 0
      h1: 1→{3,4}=4, 2→{3}=2, 3→{4}=2, 4: 0
      a2: 3←{h1(1)+h1(2)}=6, 4←{h1(3)+h1(1)}=6
      h2: 1→{a2(3)+a2(4)}=12, 2→{a2(3)}=6, 3→{a2(4)}=6, 4: 0"""
    from dublin_smart_city_graphdb_spark.graph.closure import hits_scores

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4), (1, 4)], "src long, dst long"
    )
    got = {r.id: (r.hub, r.authority) for r in hits_scores(edges).collect()}
    assert got == {1: (12, 0), 2: (6, 0), 3: (6, 6), 4: (0, 6)}


def test_hits_duplicate_edges_collapse(spark):
    """The edge set is a SET: duplicated input rows must not double
    contributions."""
    from dublin_smart_city_graphdb_spark.graph.closure import hits_scores

    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 2)], "src long, dst long"
    )
    got = {r.id: (r.hub, r.authority) for r in hits_scores(edges).collect()}
    assert got == {1: (1, 0), 2: (0, 1)}


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: after 3 synchronous
    min-tie-break rounds each triangle is labeled by its least member
    (labels 1 and 4), with the bridge endpoints pulled between but
    settling by neighbor majority."""
    from dublin_smart_city_graphdb_spark.graph.closure import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    got = {r.id: r.label for r in
           label_propagation(edges, iterations=3).collect()}
    # hand-rolled synchronous rounds with (count desc, label asc):
    # r1: 1<-min(2,3)=2 (ties count 1), 2<-1, 3<-1, 4<-3, 5<-4, 6<-4
    # r2: 1<-1, 2<-min over {lab(1)=2,lab(3)=1}=1, 3<-min{2,1,3}=1,
    #     4<-4 (neighbors 3,5,6 labeled 1,4,4 -> 4 wins count 2), 5<-4...
    assert got[5] == got[6] == got[4]
    assert got[2] == got[3]
    assert len(got) == 6


def test_label_propagation_isolated_star(spark):
    """A star adopts the hub's pull: leaves all take the hub id in round
    one; the hub takes the least leaf; deterministic across runs."""
    from dublin_smart_city_graphdb_spark.graph.closure import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 3)], "src long, dst long"
    )
    got = {r.id: r.label for r in
           label_propagation(edges, iterations=1).collect()}
    assert got == {10: 1, 1: 10, 2: 10, 3: 10}


def test_k_core_peels_to_fixpoint(spark):
    """K4 plus a tail 4-5-6: at k=2 the tail peels over two rounds (6 has
    degree 1 in round 1; 5 drops to 1 after 6 leaves; 4 stays at 3) and
    the surviving K4 reports its in-core degree 3. Round 3 is a no-op —
    the fixed-round contract equals the fixpoint once the peel converges."""
    from dublin_smart_city_graphdb_spark.graph.closure import k_core

    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b]
        + [(3, 5), (5, 6)],
        "src long, dst long",
    )
    got = {r.id: r.degree for r in k_core(edges, k=2, rounds=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_k_core_duplicate_and_reversed_edges_collapse(spark):
    """Degree counts distinct undirected neighbors: duplicated and
    reversed edges must not inflate a node past the threshold."""
    from dublin_smart_city_graphdb_spark.graph.closure import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {r.id: r.degree for r in k_core(edges, k=2, rounds=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    assert k_core(edges.limit(3), k=2, rounds=2).count() == 0


def test_personalized_pagerank_concentrates_on_sources(spark):
    """One round by hand (UNIT=1e9, d=0.85): the source keeps only its
    teleport base 0.15, its out-neighbor gets the damped full rank 0.85,
    everyone else (including the feeder node 4) is exactly 0 — the
    teleport base never lands outside the source set."""
    from dublin_smart_city_graphdb_spark.graph.closure import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 2)], "src long, dst long"
    )
    sources = spark.createDataFrame([(1,)], "id long")
    got = {r.id: r.rank for r in
           personalized_pagerank(edges, sources, iterations=1).collect()}
    assert got == {1: 0.15, 2: 0.85, 3: 0.0, 4: 0.0}


def test_k_core_frees_superseded_alive_generations(spark):
    """Each peel round checkpoints the alive set; every generation but the
    last is garbage once its successor exists. Of the RDDs k_core
    persists, at most the edge set and the final alive set may stay."""
    from dublin_smart_city_graphdb_spark.graph.closure import k_core

    jsc = spark.sparkContext._jsc

    def persisted():
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(0, 2), (1, 3)],
        "src long, dst long",
    )
    before = persisted()
    out = k_core(edges, k=2, rounds=6)
    assert len(persisted() - before) <= 2
    assert {r.id for r in out.collect()} == {0, 1, 2, 3}
