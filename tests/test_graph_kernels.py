"""Graph + kernel tests on the deterministic grid fixture (no Spark needed).

Assertions mirror the reference's own test strategy (SURVEY §5 /
FIXTURES.md §A4): relative properties, NULL/no-route handling, matrix
cardinality, isochrone monotonicity, mode ordering.
"""

import numpy as np
import pytest

from duckdb_routing_spark.routing import kernels
from duckdb_routing_spark.routing.graph import RoutingGraph
from duckdb_routing_spark.testing import (
    BASE_LAT,
    BASE_LON,
    SPACING_DEG,
    build_grid_graph,
    dijkstra_p2p,
    dijkstra_p2p_path,
)


@pytest.fixture(scope="module")
def g():
    return build_grid_graph("auto")


def node(r, c, ncols=10):
    return r * ncols + c


def test_graph_shape(g):
    # 100 grid nodes + 2 island nodes
    assert g.num_nodes == 102
    # horizontal: 10 rows x 9, one row oneway (9 single) -> 9*9*2 + 9
    # vertical: 9 x 10 bidirectional -> 180; island: 2
    assert g.num_edges == 9 * 9 * 2 + 9 + 9 * 10 * 2 + 2
    assert len(g.main_nodes) == 102  # residential+secondary are main roads


def test_snap_nearest_node(g):
    # exactly on node (3,4)
    idx = g.nearest_main_node(BASE_LON + 4 * SPACING_DEG, BASE_LAT + 3 * SPACING_DEG)
    assert idx == node(3, 4)
    # slightly off-grid still snaps to the same node
    idx = g.nearest_main_node(BASE_LON + 4 * SPACING_DEG + 0.0003, BASE_LAT + 3 * SPACING_DEG + 0.0002)
    assert idx == node(3, 4)
    # far away point snaps to the island
    idx = g.nearest_main_node(BASE_LON + 0.5, BASE_LAT + 0.5)
    assert idx in (100, 101)


def test_snap_brute_force_equivalence(g):
    rng = np.random.default_rng(7)
    lons = BASE_LON + rng.uniform(-0.05, 0.06, 200)
    lats = BASE_LAT + rng.uniform(-0.05, 0.06, 200)
    for lo, la in zip(lons, lats):
        got = g.nearest_main_node(lo, la)
        d2 = (g.node_lon[g.main_nodes] - lo) ** 2 + (g.node_lat[g.main_nodes] - la) ** 2
        want = int(g.main_nodes[np.argmin(d2)])
        assert (g.node_lon[got] - lo) ** 2 + (g.node_lat[got] - la) ** 2 == pytest.approx(float(d2.min()))
        assert got == want


def test_p2p_straight_line(g):
    # (0,0) -> (0,5): 5 residential segments, same weight each
    w = dijkstra_p2p(g, node(0, 0), node(0, 5))
    single = dijkstra_p2p(g, node(0, 0), node(0, 1))
    assert w == pytest.approx(5 * single)
    assert w > 0
    # symmetric on a non-oneway row
    assert dijkstra_p2p(g, node(0, 5), node(0, 0)) == pytest.approx(w)


def test_vertical_edges_faster_per_meter(g):
    # secondary (60 km/h) beats residential (30 km/h) per ~equal length
    h = dijkstra_p2p(g, node(0, 0), node(0, 1))
    v = dijkstra_p2p(g, node(0, 0), node(1, 0))
    assert v < h


def test_oneway_row_asymmetric(g):
    # row 1 is eastbound-only: westbound must detour via another row
    e = dijkstra_p2p(g, node(1, 0), node(1, 5))
    wber = dijkstra_p2p(g, node(1, 5), node(1, 0))
    assert wber > e


def test_no_route_to_island(g):
    assert dijkstra_p2p(g, node(0, 0), 100) == kernels.NO_ROUTE


def test_p2p_path_reconstruction(g):
    w, path = dijkstra_p2p_path(g, node(0, 0), node(2, 3))
    assert w > 0
    assert path[0] == node(0, 0) and path[-1] == node(2, 3)
    # contiguous: each hop is a real edge
    for a, b in zip(path, path[1:]):
        nbrs = g.indices[g.indptr[a] : g.indptr[a + 1]]
        assert b in nbrs
    d = kernels.path_distance_m(g, path)
    assert d > 0
    # manhattan lower bound: 2 vertical (~111 m) + 3 horizontal (~68 m at 52N)
    assert d >= 2 * 111 + 3 * 68


def test_multi_target_matches_p2p(g):
    src = node(0, 0)
    targets = np.array([node(0, 5), node(5, 0), node(9, 9), 100])
    w, dist = kernels.sssp_multi_target(g, src, targets)
    for t, wt in zip(targets, w):
        assert wt == dijkstra_p2p(g, src, int(t))
    assert w[3] == kernels.NO_ROUTE
    # the targets-capped labels give every reachable target p2p_path's path
    for t in targets[:3]:
        assert kernels.path_to(g, dist, src, int(t)) == kernels.p2p_path(g, src, int(t))[1]


def test_isochrone_monotone_and_cutoff(g):
    nodes_s, costs_s = kernels.dijkstra_isochrone(g, node(5, 5), 30_000)
    nodes_l, costs_l = kernels.dijkstra_isochrone(g, node(5, 5), 120_000)
    assert len(nodes_s) < len(nodes_l)
    assert costs_s.max() <= 30_000
    assert costs_l.max() <= 120_000
    assert set(nodes_s).issubset(set(nodes_l))
    # source itself is in the cloud at cost 0
    assert nodes_s[0] == node(5, 5) and costs_s[0] == 0
    # island is never reached
    assert 100 not in set(nodes_l)


def test_mode_ordering():
    # pedestrian slower than bicycle slower than auto over the same OD
    wa = dijkstra_p2p(build_grid_graph("auto"), 0, 99)
    wb = dijkstra_p2p(build_grid_graph("bicycle"), 0, 99)
    wp = dijkstra_p2p(build_grid_graph("pedestrian"), 0, 99)
    assert wa < wb < wp


def test_batch_travel_time(g):
    lat = [BASE_LAT, BASE_LAT, BASE_LAT + 0.5, np.nan]
    lon = [BASE_LON, BASE_LON, BASE_LON + 0.5, BASE_LON]
    lat2 = [BASE_LAT, BASE_LAT + 5 * SPACING_DEG, BASE_LAT, BASE_LAT]
    lon2 = [BASE_LON + 5 * SPACING_DEG, BASE_LON, BASE_LON, BASE_LON]
    out = kernels.batch_travel_time_s(g, lat, lon, lat2, lon2)
    assert out[0] > 0 and out[1] > 0
    assert np.isnan(out[2])  # island -> grid: no route
    assert np.isnan(out[3])  # NaN in -> NaN out
    # short hop sanity like z_integration.test.skip:26-29
    assert out[0] < 300


def test_artifact_roundtrip(tmp_path, g):
    g.save(str(tmp_path), "auto")
    g2 = RoutingGraph.load(str(tmp_path), "auto")
    assert g2.num_nodes == g.num_nodes
    assert g2.num_edges == g.num_edges
    assert dijkstra_p2p(g2, 0, 99) == dijkstra_p2p(g, 0, 99)
    np.testing.assert_array_equal(g2.main_nodes, g.main_nodes)


def test_frontier_sssp_matches_dijkstra(g):
    """The vectorized frontier kernel must produce EXACTLY the heap
    Dijkstra distances for every (source, node) pair, island included."""
    for src in (0, 37, 55, 99, 100):
        dist = kernels.sssp_frontier_ms(g, src)
        for dst in (0, 9, 42, 50, 99, 100, 101):
            want = dijkstra_p2p(g, src, dst)
            got = float(dist[dst]) if dist[dst] != kernels._INF else kernels.NO_ROUTE
            assert got == want, f"{src}->{dst}: frontier {got} != dijkstra {want}"


def test_frontier_sssp_matches_dijkstra_all_modes():
    for mode in ("auto", "bicycle", "pedestrian"):
        gm = build_grid_graph(mode)
        dist = kernels.sssp_frontier_ms(gm, 11)
        w, _ = kernels.sssp_multi_target(gm, 11, np.arange(gm.num_nodes, dtype=np.int64))
        want = [dijkstra_p2p(gm, 11, t) for t in range(gm.num_nodes)]
        assert w.tolist() == want
        assert np.where(dist == kernels._INF, kernels.NO_ROUTE, dist).tolist() == want


def test_batch_snap_matches_scalar(g):
    """Vectorized 3x3 fast-path snap must agree with the exact ring search
    everywhere: on-node, off-node, between-node, and far-outside points."""
    rng = np.random.default_rng(7)
    lons = BASE_LON + rng.uniform(-0.01, 0.02, 500)
    lats = BASE_LAT + rng.uniform(-0.01, 0.02, 500)
    # include exact nodes, midpoints (tie-break), and the island
    lons = np.concatenate([lons, [BASE_LON, BASE_LON + 0.0005, BASE_LON + 0.5]])
    lats = np.concatenate([lats, [BASE_LAT, BASE_LAT + 0.0005, BASE_LAT]])
    got = g.nearest_main_nodes(lons, lats)
    want = np.asarray([g.nearest_main_node(float(lo), float(la)) for lo, la in zip(lons, lats)])
    assert (got == want).all(), np.nonzero(got != want)[0][:10]


def test_batch_travel_time_vectorized_consistency(g):
    """batch_travel_time_s (vectorized snap + frontier SSSP) must equal
    per-pair scalar snap + dijkstra."""
    rng = np.random.default_rng(11)
    n = 200
    la1 = BASE_LAT + rng.uniform(0, 0.009, n); lo1 = BASE_LON + rng.uniform(0, 0.009, n)
    la2 = BASE_LAT + rng.uniform(0, 0.009, n); lo2 = BASE_LON + rng.uniform(0, 0.009, n)
    got = kernels.batch_travel_time_s(g, la1, lo1, la2, lo2)
    for i in range(n):
        s = g.nearest_main_node(float(lo1[i]), float(la1[i]))
        t = g.nearest_main_node(float(lo2[i]), float(la2[i]))
        w = dijkstra_p2p(g, s, t)
        want = w / 1000.0 if w >= 0 else np.nan
        assert (np.isnan(got[i]) and np.isnan(want)) or got[i] == want
