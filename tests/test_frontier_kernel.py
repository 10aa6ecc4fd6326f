"""Property tests for the capped frontier SSSP (no Spark): p2p_path on a
graph without a CH index, sssp_multi_target and dijkstra_isochrone all run
kernels.sssp_frontier_ms with a cost cap, fixed or shrinking to the
farthest target. Random digraphs carry zero-weight edges (and zero-weight
cycles), parallel edges, unreachable targets and src == dst; caps include
0."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_routing_spark.routing import kernels
from duckdb_routing_spark.routing.graph import RoutingGraph
from duckdb_routing_spark.testing import dijkstra_p2p


def _graph(seed: int, n: int) -> RoutingGraph:
    """A random digraph whose weights are small (many ties) and one in
    three zero, with some edges repeated at another weight (parallel
    edges). Sparse enough that some pairs are unreachable."""
    rng = np.random.default_rng(seed)
    m = int(rng.integers(0, 3 * n + 1))
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    w = rng.integers(1, 6, m) * (rng.random(m) >= 1 / 3)
    dup = rng.random(m) < 0.2
    src = np.concatenate([src, src[dup]])
    dst = np.concatenate([dst, dst[dup]])
    w = np.concatenate([w, rng.integers(0, 6, int(dup.sum()))])
    return RoutingGraph.from_arrays(
        rng.uniform(-1, 1, n), rng.uniform(-1, 1, n), src, dst, w,
        np.ones(len(src)), np.arange(n, dtype=np.int64),
    )


graphs = st.tuples(st.integers(min_value=0, max_value=100_000), st.integers(min_value=1, max_value=24))


@settings(max_examples=60, deadline=None)
@given(graphs)
def test_capped_p2p_equals_heap_dijkstra_and_the_tree_path(case):
    seed, n = case
    g = _graph(seed, n)
    for s in range(n):
        full = kernels.sssp_frontier_ms(g, s)
        pred = kernels.shortest_path_tree(g, full, s)
        for t in range(n):
            want = dijkstra_p2p(g, s, t)
            got, path = kernels.p2p_path(g, s, t)
            assert got == want
            if want == kernels.NO_ROUTE:
                assert path is None
            elif s == t:
                assert path == [s]
            else:
                assert path == kernels.path_from_pred(pred, s, t)


@settings(max_examples=60, deadline=None)
@given(graphs)
def test_targets_cap_exact_at_targets_with_tree_paths(case):
    """With targets=T every target's label is exact, no label drops below
    the true distance, and path_to on the capped labels is the full
    search's tree path for every reachable target."""
    seed, n = case
    g = _graph(seed, n)
    rng = np.random.default_rng(seed)
    for s in range(n):
        full = kernels.sssp_frontier_ms(g, s)
        pred = kernels.shortest_path_tree(g, full, s)
        targets = rng.integers(0, n, int(rng.integers(1, 6)))
        capped = kernels.sssp_frontier_ms(g, s, targets=targets)
        assert np.array_equal(capped[targets], full[targets])
        assert (capped >= full).all()
        for t in targets.tolist():
            path = kernels.path_to(g, capped, s, t)
            if full[t] == kernels._INF:
                assert path is None
            else:
                assert path == kernels.path_from_pred(pred, s, t)


@settings(max_examples=60, deadline=None)
@given(graphs, st.integers(min_value=0, max_value=12))
def test_isochrone_equals_heap_reference_in_cost_node_order(case, cap):
    seed, n = case
    g = _graph(seed, n)
    for s in range(n):
        want = sorted(
            (int(d), t) for t in range(n) if 0 <= (d := dijkstra_p2p(g, s, t)) <= cap
        )
        nodes, costs = kernels.dijkstra_isochrone(g, s, cap)
        assert nodes.dtype == np.int64 and costs.dtype == np.int64
        assert list(zip(costs.tolist(), nodes.tolist())) == want


@settings(max_examples=40, deadline=None)
@given(graphs, st.integers(min_value=0, max_value=12))
def test_cap_labels_exact_within_and_nothing_beyond(case, cap):
    seed, n = case
    g = _graph(seed, n)
    for s in range(n):
        full = kernels.sssp_frontier_ms(g, s)
        capped = kernels.sssp_frontier_ms(g, s, cap=cap)
        inside = full <= cap
        assert np.array_equal(capped[inside], full[inside])
        assert (capped[~inside] == kernels._INF).all()


def test_zero_weight_cycle_gives_an_acyclic_tree():
    """Nodes 0 and 1 join by zero-weight edges in both directions, and
    those edges carry lower indices than the real entries from src 3, so
    the lowest-index tight edge alone would point 0 and 1 at each other."""
    g = RoutingGraph.from_arrays(
        np.zeros(4), np.zeros(4),
        np.array([0, 1, 3, 3]), np.array([1, 0, 0, 1]), np.array([0, 0, 5, 5]),
        np.ones(4), np.arange(4, dtype=np.int64),
    )
    dist = kernels.sssp_frontier_ms(g, 3)
    pred = kernels.shortest_path_tree(g, dist, 3)
    assert pred.tolist() == [3, 3, -1, -1]
    assert kernels.p2p_path(g, 3, 0) == (5.0, [3, 0])
    assert kernels.p2p_path(g, 3, 2) == (kernels.NO_ROUTE, None)


def test_node_entered_only_over_zero_weight_edges():
    """Node 2 is entered only over zero-weight edges, from 1 (two
    zero-weight hops after the positive entry at 3) and from 4 (one hop
    after the entry at 4). The 1 -> 2 edge has the lower index, but the
    tree takes 4, the fewer-hop source, and p2p_path takes the same."""
    g = RoutingGraph.from_arrays(
        np.zeros(5), np.zeros(5),
        np.array([0, 0, 3, 1, 4]), np.array([4, 3, 1, 2, 2]), np.array([5, 5, 0, 0, 0]),
        np.ones(5), np.arange(5, dtype=np.int64),
    )
    dist = kernels.sssp_frontier_ms(g, 0)
    assert dist.tolist() == [0, 5, 5, 5, 5]
    pred = kernels.shortest_path_tree(g, dist, 0)
    assert pred.tolist() == [-1, 3, 4, 0, 0]
    assert kernels.p2p_path(g, 0, 2) == (5.0, [0, 4, 2])
