"""Contraction-hierarchy index: artifact/broadcast persistence and the
accelerator rule — p2p and matrix use CH exactly when the loaded graph
carries a prepared index, and the frontier SSSP otherwise."""

import numpy as np
import pytest

from duckdb_routing_spark.routing import ch, kernels
from duckdb_routing_spark.routing.graph import RoutingGraph
from duckdb_routing_spark.testing import build_grid_graph, dijkstra_p2p


@pytest.fixture(scope="module")
def grid_with_ch():
    g = build_grid_graph("auto", 10, 10, island=False)
    g._ch = ch.build_ch(g)
    return g


def _query_pairs(g):
    n = g.num_nodes
    return [(0, n - 1), (9, n - 10), (3, n // 2)]


def test_ch_artifact_roundtrip(grid_with_ch, tmp_path):
    """save() persists the prepared index as a ch_<mode>.npz sidecar and
    load() restores it — executors/loaders never re-run the ordering, the
    same contract as the reference's prepared .routing artifact. Every
    to_arrays() array survives the npz round trip unchanged."""
    g = grid_with_ch
    g.save(str(tmp_path), "auto")
    assert (tmp_path / "ch_auto.npz").exists()
    g2 = RoutingGraph.load(str(tmp_path), "auto")
    idx2 = getattr(g2, "_ch", None)
    assert idx2 is not None
    want, got = g._ch.to_arrays(), idx2.to_arrays()
    assert want.keys() == got.keys()
    for name in want:
        np.testing.assert_array_equal(got[name], want[name], err_msg=name)
    for s, t in _query_pairs(g):
        assert ch.ch_p2p_path(g2, s, t)[0] == dijkstra_p2p(g, s, t)


def test_ch_payload_roundtrip(grid_with_ch):
    g = grid_with_ch
    payload = g.to_payload()
    assert "_ch_arrays" in payload
    g2 = RoutingGraph.from_payload(payload)
    assert getattr(g2, "_ch", None) is not None
    for s, t in _query_pairs(g):
        # the dispatcher must route through the SHIPPED index (no rebuild)
        assert kernels.p2p_path(g2, s, t)[0] == dijkstra_p2p(g, s, t)


def _engines_with_and_without_ch(spark):
    """Two engines over the same 10x10 grid: one loaded the graph with a
    prepared CH index, the other without. Returns (plain, with_ch)."""
    from duckdb_routing_spark.routing.engine import RoutingEngine

    plain = RoutingEngine(spark)
    plain.load_graph(build_grid_graph("auto", 10, 10, island=False), "auto")
    g = build_grid_graph("auto", 10, 10, island=False)
    ch.ensure_ch(g)
    with_ch = RoutingEngine(spark)
    with_ch.load_graph(g, "auto")
    # the index ships inside the broadcast: executors route by CH without
    # building one
    assert "_ch_arrays" in with_ch._broadcasts["auto"].value
    assert "_ch_arrays" not in plain._broadcasts["auto"].value
    return plain, with_ch


def test_engine_sql_routes_equal_with_and_without_ch(spark):
    """SQL travel_time and route durations are identical whether the loaded
    graph carries a CH index (routes take CH) or not (routes take the
    capped frontier SSSP): both kernels are exact."""
    plain, with_ch = _engines_with_and_without_ch(spark)
    q = (
        "SELECT travel_time(52.0, 13.0, 52.018, 13.018, 'auto') AS s, "
        "travel_time_route_wkb('POINT(13.0 52.0)', 'POINT(13.018 52.018)', 'auto')"
        ".duration_minutes AS m"
    )
    plain.register()
    base = spark.sql(q).collect()[0]
    assert base["s"] is not None and base["s"] > 0
    assert base["m"] is not None and base["m"] > 0
    with_ch.register()
    got = spark.sql(q).collect()[0]
    assert got["s"] == base["s"]
    assert got["m"] == base["m"]


def test_ch_many_to_many_matches_dijkstra(grid_with_ch):
    """Bucket many-to-many (ch_many_to_many via kernels.matrix_rows) is
    exact: every cell's duration equals per-pair Dijkstra, every cell's
    distance equals the CH p2p path distance (same pred trees -> same
    paths), negative snaps and unreachable targets yield None cells."""
    g = grid_with_ch
    rng = np.random.default_rng(11)
    srcs = rng.integers(0, g.num_nodes, 7).tolist() + [-1]
    dsts = rng.integers(0, g.num_nodes, 5).tolist() + [-1]
    rows = kernels.matrix_rows(g, srcs, dsts)
    assert len(rows) == len(srcs) * len(dsts)
    for i, j, dm, ds in rows:
        s, t = srcs[i], dsts[j]
        if s < 0 or t < 0:
            assert dm is None and ds is None
            continue
        want = dijkstra_p2p(g, s, t)
        assert ds is not None and abs(ds * 1000.0 - want) < 1e-9
        _, p2p_path = ch.ch_p2p_path(g, s, t)
        assert abs(dm - kernels.path_distance_m(g, p2p_path)) < 1e-9
    # src == dst cell: zero duration, zero distance
    [(_, _, dm0, ds0)] = kernels.matrix_rows(g, [4], [4])
    assert ds0 == 0.0 and dm0 == 0.0


def test_engine_matrix_equal_with_and_without_ch(spark):
    """An engine whose graph carries a CH index runs the matrix as the
    bucket many-to-many; durations and distances are identical to the
    frontier matrix of an engine without one, on both the single-task and
    distributed paths."""
    from duckdb_routing_spark.routing import engine as eng_mod

    plain, with_ch = _engines_with_and_without_ch(spark)
    lats = [52.0, 52.005, 52.018]
    lons = [13.0, 13.012, 13.018]
    base = plain.matrix(lats, lons, lats[::-1], lons[::-1]).collect()
    assert len(base) == 9
    got = with_ch.matrix(lats, lons, lats[::-1], lons[::-1]).collect()
    # durations are exact across kernels; distances may differ by meters on
    # DURATION-TIED paths (the grid has many equal-time geometries, and the
    # frontier tight-tree and CH pred-tree break ties differently — both
    # are valid time-optimal paths; CH distance exactness vs its own p2p
    # path is pinned in test_ch_many_to_many_matches_dijkstra)
    assert [(r.from_idx, r.to_idx, r.duration_s) for r in got] == [
        (r.from_idx, r.to_idx, r.duration_s) for r in base
    ]
    for rg, rb in zip(got, base):
        assert (rg.distance_m is None) == (rb.distance_m is None)
        if rg.distance_m is not None:
            assert rg.distance_m == pytest.approx(rb.distance_m, rel=0.05)

    # force the DISTRIBUTED mapInPandas path (threshold to 0) and re-check
    saved = eng_mod.SINGLE_TASK_MATRIX_WORK
    try:
        eng_mod.SINGLE_TASK_MATRIX_WORK = 0
        dist_rows = with_ch.matrix(lats, lons, lats[::-1], lons[::-1]).collect()
    finally:
        eng_mod.SINGLE_TASK_MATRIX_WORK = saved
    assert [(r.from_idx, r.to_idx, r.duration_s) for r in dist_rows] == [
        (r.from_idx, r.to_idx, r.duration_s) for r in base
    ]


def test_kernels_pick_accelerator_from_prepared_ch(monkeypatch):
    """p2p_path and matrix_rows call the CH kernels exactly when the graph
    carries a prepared index; without one they run the frontier SSSP
    (capped for p2p), never build an index and never attach landmark
    tables."""
    calls = []

    def spy(mod, name):
        real = getattr(mod, name)

        def wrapped(*a, **kw):
            calls.append(name)
            return real(*a, **kw)

        monkeypatch.setattr(mod, name, wrapped)

    for mod, name in [
        (ch, "ch_p2p_path"), (ch, "ch_many_to_many"), (ch, "build_ch"),
        (kernels, "sssp_frontier_ms"), (kernels, "sssp_multi_target"),
    ]:
        spy(mod, name)

    plain = build_grid_graph("auto", 10, 10, island=False)
    s, t = 0, plain.num_nodes - 1
    w = dijkstra_p2p(plain, s, t)
    assert kernels.p2p_path(plain, s, t)[0] == w
    rows_plain = kernels.matrix_rows(plain, [s, 5], [t, 3])
    assert calls == [
        "sssp_frontier_ms",
        "sssp_multi_target", "sssp_frontier_ms",
        "sssp_multi_target", "sssp_frontier_ms",
    ]
    assert getattr(plain, "_ch", None) is None
    assert getattr(plain, "_alt", None) is None

    prepared = build_grid_graph("auto", 10, 10, island=False)
    prepared._ch = ch.build_ch(prepared)
    calls.clear()
    assert kernels.p2p_path(prepared, s, t)[0] == w
    rows_ch = kernels.matrix_rows(prepared, [s, 5], [t, 3])
    assert calls == ["ch_p2p_path", "ch_many_to_many"]
    assert [r[:2] + r[3:] for r in rows_ch] == [r[:2] + r[3:] for r in rows_plain]


def test_roadlike_ch_exact_and_linear_shape():
    """The road-like generator (tiers + degree-2 geometry midpoints +
    dead-end drops) is the country-scale topology: CH must stay EXACT vs
    Dijkstra there, contract with bounded shortcut growth, and answer
    sub-10ms warm (tools/country_scale.py scales this same check to
    multi-million nodes)."""
    import time

    import numpy as np

    from duckdb_routing_spark.routing import ch as chm
    from duckdb_routing_spark.routing import kernels
    from duckdb_routing_spark.testing import build_roadlike_csr

    g = build_roadlike_csr(60, 60)
    # topology sanity: majority degree-2 geometry nodes, like real OSM
    deg = np.diff(g.indptr)
    assert (deg == 2).sum() > g.num_nodes * 0.4
    idx = chm.build_ch(g)
    assert idx.n_shortcuts < 4 * g.num_nodes
    pairs = [(0, 59 * 60 + 59), (8 * 60, 16 * 60 + 48), (0, 24), (5, 5)]
    for s, t in pairs:
        w_ch, *_ = chm.ch_p2p(idx, s, t)
        wd = kernels.sssp_frontier_ms(g, s)[t]
        want = -1.0 if wd == np.iinfo(np.int64).max else float(wd)
        assert w_ch == want, (s, t, w_ch, want)
    # unpacked paths are original-edge walks whose cheapest parallel edge
    # weights sum to the CH weight (shortcut middles recurse correctly)
    g._ch = idx
    for s, t in pairs[:3]:
        w, path = chm.ch_p2p_path(g, s, t)
        assert path[0] == s and path[-1] == t
        hops = []
        for a, b in zip(path, path[1:]):
            row = slice(g.indptr[a], g.indptr[a + 1])
            cand = g.weights_ms[row][g.indices[row] == b]
            assert len(cand) > 0, f"unpacked hop {a}->{b} not an original edge"
            hops.append(int(cand.min()))
        assert sum(hops) == int(w)
    t0 = time.perf_counter()
    chm.ch_p2p(idx, 0, 59 * 60 + 59)
    assert time.perf_counter() - t0 < 0.05
