"""Connected-components operator (ext/graph.py) + LSH cluster query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_weather_jabar_spark.ext.graph import (
    connected_components,
    connected_components_star,
)

IMPLS = [connected_components, connected_components_star]


def _components(spark, edge_list, impl=connected_components, **kw):
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    out = impl(edges, **kw).collect()
    return {r["node"]: r["component"] for r in out}


@pytest.mark.parametrize("impl", IMPLS)
def test_chain_propagates_beyond_direct_neighbors(spark, impl):
    # 1-2-3-4-5 chain: label 1 must travel 4 hops (multi-round convergence)
    got = _components(spark, [(2, 1), (3, 2), (4, 3), (5, 4)], impl)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


@pytest.mark.parametrize("impl", IMPLS)
def test_separate_components_and_triangle(spark, impl):
    got = _components(
        spark, [(45, 413), (267, 413), (45, 267), (8, 245)], impl
    )
    assert got == {45: 45, 267: 45, 413: 45, 8: 8, 245: 8}


@pytest.mark.parametrize("impl", IMPLS)
def test_direction_is_ignored(spark, impl):
    assert _components(spark, [(9, 3)], impl) == _components(
        spark, [(3, 9)], impl
    )


def test_star_contraction_handles_long_chain_in_log_rounds(spark):
    """A 33-node path has diameter 32 — label propagation needs 32 rounds,
    star contraction O(log n). Cap iterations at 8 to prove the log bound
    is real, not just that convergence eventually happens."""
    edges = [(i + 1, i) for i in range(32)]
    got = _components(spark, edges, connected_components_star, max_iter=8)
    assert got == {i: 0 for i in range(33)}


def test_nonconvergence_raises(spark, monkeypatch):
    # force the distributed loop: the driver fast path (round 9) always
    # converges, so the iteration bound only exists on the loop form
    import etl_weather_jabar_spark.ext.graph as graph_mod

    monkeypatch.setattr(graph_mod, "_DRIVER_CC_MAX_EDGES", -1)
    edges = [(i + 1, i) for i in range(1, 9)]  # 9-chain needs >1 round
    with pytest.raises(RuntimeError, match="did not converge"):
        _components(spark, edges, max_iter=1)


def test_driver_fast_path_matches_loop_form(spark, monkeypatch):
    """The size-gated driver union-find (round 9) must label exactly like
    the distributed min-label loop — same nodes, same min-id components —
    on adversarial shapes: chains, triangles+bridges, self-loop-free
    duplicates, singleton-free edge soup."""
    import random

    import etl_weather_jabar_spark.ext.graph as graph_mod

    rng = random.Random(907)
    cases = [
        [(2, 1), (3, 2), (4, 3), (5, 4)],
        [(45, 413), (267, 413), (45, 267), (8, 245)],
        [(i + 1, i) for i in range(20)],
    ]
    for _ in range(3):
        n = rng.randint(5, 40)
        cases.append(
            [
                (rng.randint(0, n), rng.randint(0, n))
                for _ in range(rng.randint(1, 60))
            ]
        )
    for edge_list in cases:
        fast = _components(spark, edge_list)  # under the 2^16 gate
        monkeypatch.setattr(graph_mod, "_DRIVER_CC_MAX_EDGES", -1)
        loop = _components(spark, edge_list)
        monkeypatch.undo()
        assert fast == loop, edge_list


def test_null_endpoints_dropped_on_both_sides_of_the_gate(spark, monkeypatch):
    """An edge with a null endpoint connects nothing: the driver union-find
    and the distributed loop both drop it and label the rest alike."""
    import etl_weather_jabar_spark.ext.graph as graph_mod

    edge_list = [(1, 2), (2, None), (None, 7), (None, None), (5, 6)]
    edges = spark.createDataFrame(edge_list, "src bigint, dst bigint")

    def components():
        rows = connected_components(edges).collect()
        return {r["node"]: r["component"] for r in rows}

    fast = components()
    monkeypatch.setattr(graph_mod, "_DRIVER_CC_MAX_EDGES", -1)
    loop = components()
    assert fast == loop == {1: 1, 2: 1, 5: 5, 6: 5}


def test_lsh_clusters_contain_same_banding_candidates(spark):
    """Candidate pairs from the SAME md5 banding must land in one cluster —
    the cluster query can only MERGE bucket co-membership, never split it.
    (Pairs from a different hash family carry no such guarantee.)"""
    from etl_weather_jabar_spark.ext.dedup_text import minhash_lsh_candidates
    from etl_weather_jabar_spark.queries import QUERIES
    from etl_weather_jabar_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in QUERIES["lsh_neardup_clusters"](spark, sf).collect()
    }
    docs = load_table(spark, sf, "documents")
    pairs = minhash_lsh_candidates(docs, hash_fn="md5").collect()
    assert pairs, "expected at least one candidate pair at sf0.001"
    for p in pairs:
        assert clusters[p["id_a"]] == clusters[p["id_b"]]


@pytest.mark.parametrize("impl", IMPLS)
def test_components_match_union_find_on_random_graphs(spark, impl):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 14), st.integers(0, 14)),
            min_size=1,
            max_size=25,
        )
    )
    @settings(max_examples=6, deadline=None)
    def check(edges):
        # brute-force union-find reference
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        # canonical min-id per component
        want = {n: min(m for m in parent if find(m) == find(n)) for n in parent}
        got = _components(spark, edges, impl)
        assert got == want

    check()


def test_count_triangles_known_graph(spark):
    from etl_weather_jabar_spark.ext.graph import count_triangles

    # square 1-2-3-4 plus diagonal 1-3 => triangles {1,2,3} and {1,3,4};
    # edges given in mixed orientation with a duplicate and a self-loop
    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (3, 4), (4, 1), (1, 3), (3, 1), (2, 2)],
        ["src", "dst"],
    )
    row = count_triangles(edges).collect()[0]
    assert (row["n_triangles"], row["n_edges"]) == (2, 5)


def test_count_triangles_triangle_free(spark):
    from etl_weather_jabar_spark.ext.graph import count_triangles

    # a path graph has no triangles
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    row = count_triangles(edges).collect()[0]
    assert (row["n_triangles"], row["n_edges"]) == (0, 3)


def _pagerank_py(edges, iterations=10, d=0.85):
    """Pure-Python reference (same dangling-redistribution semantics)."""
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    out = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    rank = {x: 1.0 / n for x in nodes}
    for _ in range(iterations):
        contrib = {x: 0.0 for x in nodes}
        for u, v in edges:
            contrib[v] += rank[u] / out[u]
        dangling = sum(r for x, r in rank.items() if x not in out)
        base = (1 - d) / n + d * dangling / n
        rank = {x: base + d * contrib[x] for x in nodes}
    return rank


def test_pagerank_matches_python_reference_and_conserves_mass(spark):
    from etl_weather_jabar_spark.ext.graph import pagerank

    # hub-and-spoke plus a dangling sink and a 2-cycle
    edges = [(1, 0), (2, 0), (3, 0), (0, 4), (5, 6), (6, 5), (3, 4)]
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            spark.createDataFrame(edges, ["src", "dst"]), iterations=8
        ).collect()
    }
    want = _pagerank_py(edges, iterations=8)
    assert set(got) == set(want)
    for x in want:
        assert abs(got[x] - want[x]) < 1e-9, (x, got[x], want[x])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    # node 4 collects from the hub and node 3: it must outrank the leaves
    assert got[4] > got[1]


def test_pagerank_uniform_on_cycle(spark):
    from etl_weather_jabar_spark.ext.graph import pagerank

    # a directed cycle is rank-uniform at every iteration count
    edges = [(i, (i + 1) % 5) for i in range(5)]
    ranks = [
        r["rank"]
        for r in pagerank(
            spark.createDataFrame(edges, ["src", "dst"]), iterations=3
        ).collect()
    ]
    assert len(ranks) == 5
    assert all(abs(r - 0.2) < 1e-12 for r in ranks)


def test_bfs_levels_hand_built_graph(spark):
    """BFS levels on a known graph: shortest distances through a cycle,
    undirected traversal (edges stored one direction), unreachable
    component absent, source at level 0."""
    from etl_weather_jabar_spark.ext.graph import bfs_levels

    edges = spark.createDataFrame(
        [
            (0, 1), (1, 2), (2, 3), (3, 0),   # 4-cycle: dist(2) = 2
            (3, 4),                            # tail off the cycle
            (9, 8),                            # unreachable component
        ],
        ["src", "dst"],
    )
    got = {r["node"]: r["level"] for r in bfs_levels(edges, 0).collect()}
    assert got == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2}
    assert 8 not in got and 9 not in got


def test_label_propagation_matches_python_replay(spark):
    """Synchronous LPA (ext/graph.py::label_propagation): the Spark
    result equals an independent sequential python replay of the same
    deterministic rule (simultaneous majority adoption, smallest-label
    tie-break) on a two-cliques-plus-bridge graph, and the communities
    are FINER than connected components (one component, >1 label)."""
    from collections import Counter

    from etl_weather_jabar_spark.ext.graph import label_propagation

    edges = (
        [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
        + [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b]
        + [(4, 10)]
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["lbl"]
        for r in label_propagation(df, rounds=3).collect()
    }

    # independent replay
    adj: dict[int, set] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    lbl = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n, nbrs in adj.items():
            cnt = Counter(lbl[m] for m in nbrs)
            best = max(cnt.values())
            new[n] = min(l for l, c in cnt.items() if c == best)
        lbl = new
    assert got == lbl
    assert len(set(got.values())) > 1  # finer than the single component
    # the two cliques do not share a label
    assert {got[n] for n in (1, 2, 3)} != {got[n] for n in (11, 12, 13)}
