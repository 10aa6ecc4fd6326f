"""Partitioned CH build (routing/ch_partitioned.py): exactness vs Dijkstra
and vs the in-memory build, serial/Spark mode equivalence, path unpacking,
and the boundary/overlay structure — the bounded-RSS path past the
single-process build ceiling (COUNTRY_SCALE.json: 1813 B/node ⇒ ~75M nodes
on 128 GiB; reference Europe bar: scripts/BUILD_EUROPE_TILES.md:20-60)."""

import numpy as np
import pytest

from duckdb_routing_spark.routing import ch as chm
from duckdb_routing_spark.routing.ch_partitioned import (
    build_ch_partitioned,
    grid_cells,
)
from duckdb_routing_spark.testing import build_grid_graph, build_roadlike_csr, dijkstra_p2p


def _pairs(g, n, seed=7):
    rng = np.random.default_rng(seed)
    return [tuple(map(int, rng.integers(0, g.num_nodes, 2))) for _ in range(n)]


def test_partitioned_exact_on_grid_vs_dijkstra_and_reference_build():
    g = build_grid_graph("auto", 30, 30, island=False)
    part = build_ch_partitioned(g, n_cells=9)
    ref = chm.build_ch(g)
    for s, t in _pairs(g, 40):
        d = dijkstra_p2p(g, s, t)
        assert chm.ch_p2p(part, s, t)[0] == d
        assert chm.ch_p2p(ref, s, t)[0] == d


def test_partitioned_exact_on_roadlike():
    g = build_roadlike_csr(60, 60)
    part = build_ch_partitioned(g, n_cells=16)
    for s, t in _pairs(g, 30, seed=11):
        assert chm.ch_p2p(part, s, t)[0] == dijkstra_p2p(g, s, t)


def test_partitioned_path_unpacks_to_original_nodes():
    g = build_roadlike_csr(40, 40)
    part = build_ch_partitioned(g, n_cells=9)
    hits = 0
    for s, t in _pairs(g, 10, seed=3):
        w, fc, bc, _ = chm.ch_p2p(part, s, t)
        if w < 0 or s == t:
            continue
        path = chm._reconstruct_path(part, s, t, fc, bc)
        assert path[0] == s and path[-1] == t
        # every consecutive hop is an original-graph edge with the right
        # summed weight
        total = 0
        for a, b in zip(path, path[1:]):
            row = slice(g.indptr[a], g.indptr[a + 1])
            cand = np.flatnonzero(g.indices[row] == b)
            assert len(cand) > 0, f"unpacked hop {a}->{b} not an original edge"
            total += int(g.weights_ms[row][cand].min())
        assert total == int(w)
        hits += 1
    assert hits > 0


def test_spark_mode_identical_to_serial(spark):
    g = build_roadlike_csr(50, 50)
    a = build_ch_partitioned(g, n_cells=9, spark=spark, max_concurrent_cells=4)
    b = build_ch_partitioned(g, n_cells=9)
    assert np.array_equal(a.rank, b.rank)
    assert np.array_equal(a.up_indptr, b.up_indptr)
    assert np.array_equal(a.up_indices, b.up_indices)
    assert np.array_equal(a.up_weights, b.up_weights)
    assert np.array_equal(a.up_mid, b.up_mid)
    assert np.array_equal(a.down_indptr, b.down_indptr)
    assert np.array_equal(a.down_weights, b.down_weights)
    assert a.n_shortcuts == b.n_shortcuts
    for s, t in _pairs(g, 15, seed=5):
        assert chm.ch_p2p(a, s, t)[0] == dijkstra_p2p(g, s, t)


def test_single_cell_degenerates_to_full_build_semantics():
    """n_cells=1: no boundary, one interior contraction — still exact."""
    g = build_grid_graph("auto", 12, 12, island=False)
    part = build_ch_partitioned(g, n_cells=1)
    for s, t in _pairs(g, 20, seed=9):
        assert chm.ch_p2p(part, s, t)[0] == dijkstra_p2p(g, s, t)


def test_grid_cells_partitions_every_node():
    g = build_roadlike_csr(30, 30)
    cells = grid_cells(g, 9)
    assert len(cells) == g.num_nodes
    assert cells.min() >= 0 and len(np.unique(cells)) > 1


def test_partitioned_overlay_is_small_fraction_and_shrinks_with_scale():
    """The scale claim's structural premise: a grid cut of a road-like
    network leaves an O(sqrt(n*k)/n) boundary (overlay) fraction — small,
    and SHRINKING as the graph grows at fixed cell count (measured here:
    5.2% at 15k nodes -> 2.3% at 96k -> 1.1% at 383k)."""
    fracs = []
    for dim in (80, 200):
        g = build_roadlike_csr(dim, dim)
        cells = grid_cells(g, 16)
        n = g.num_nodes
        src = np.repeat(np.arange(n, dtype=np.int64), np.diff(g.indptr))
        cross = cells[src] != cells[g.indices]
        boundary = np.zeros(n, dtype=bool)
        boundary[src[cross]] = True
        boundary[g.indices[cross]] = True
        fracs.append(boundary.sum() / n)
    assert fracs[0] < 0.08 and fracs[1] < 0.03, fracs
    assert fracs[1] < fracs[0] / 1.5, f"boundary fraction not shrinking: {fracs}"


def test_partitioned_index_roundtrips_through_arrays():
    """to_arrays/from_arrays (the .npz sidecar path) preserves queries."""
    g = build_grid_graph("auto", 15, 15, island=False)
    part = build_ch_partitioned(g, n_cells=4)
    back = chm.CHIndex.from_arrays(part.to_arrays())
    for s, t in _pairs(g, 10, seed=13):
        assert chm.ch_p2p(back, s, t)[0] == chm.ch_p2p(part, s, t)[0]
