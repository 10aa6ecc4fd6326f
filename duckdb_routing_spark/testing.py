"""Deterministic synthetic road-network fixtures (FIXTURES.md §A).

A rectangular lattice: horizontal streets are 'residential', vertical streets
are 'secondary', one row of horizontal edges is oneway (eastbound), plus a
2-node disconnected island far away to exercise the no-route -> NULL path
(src/travel_time_extension.cpp:512-514). All classes used are main roads, so
every node is a snap candidate. Everything derives from integer grid math —
reproducible across engines, which lets the DuckDB oracle rebuild the exact
same edge set from an inlined VALUES list.

Also the reference oracles the tests and tools check the package against:
heap Dijkstra (dijkstra_p2p, dijkstra_p2p_path) and a parquet array-dim
probe. Nothing in the package's query paths calls them.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd

from duckdb_routing_spark.routing import kernels
from duckdb_routing_spark.routing.geometry import haversine_m_scalar
from duckdb_routing_spark.routing.graph import RoutingGraph
from duckdb_routing_spark.routing.speeds import get_speed_kmh, is_main_road, segment_weight_ms

BASE_LAT = 52.0
BASE_LON = 13.0
SPACING_DEG = 0.001  # ~111 m N-S


def grid_nodes(nrows: int = 10, ncols: int = 10, island: bool = True) -> pd.DataFrame:
    """node_id = r*ncols + c; island nodes appended at the end, ~0.5 deg away."""
    ids, lons, lats = [], [], []
    for r in range(nrows):
        for c in range(ncols):
            ids.append(r * ncols + c)
            lons.append(BASE_LON + c * SPACING_DEG)
            lats.append(BASE_LAT + r * SPACING_DEG)
    if island:
        n = nrows * ncols
        ids += [n, n + 1]
        lons += [BASE_LON + 0.5, BASE_LON + 0.5 + SPACING_DEG]
        lats += [BASE_LAT + 0.5, BASE_LAT + 0.5]
    return pd.DataFrame({"node_id": ids, "lon": lons, "lat": lats})


def grid_segments(nrows: int = 10, ncols: int = 10, oneway_row: int = 1, island: bool = True) -> pd.DataFrame:
    """(src, dst, highway, oneway) undirected segments of the lattice."""
    rows = []
    for r in range(nrows):
        for c in range(ncols - 1):
            oneway = "yes" if r == oneway_row else "no"
            rows.append((r * ncols + c, r * ncols + c + 1, "residential", oneway))
    for r in range(nrows - 1):
        for c in range(ncols):
            rows.append((r * ncols + c, (r + 1) * ncols + c, "secondary", "no"))
    if island:
        n = nrows * ncols
        rows.append((n, n + 1, "residential", "no"))
    return pd.DataFrame(rows, columns=["src", "dst", "highway", "oneway"])


def grid_ways(nrows: int = 10, ncols: int = 10, oneway_row: int = 1, island: bool = True) -> list:
    """The lattice as OSM-ish multi-node ways — one way per row / column
    (exercises refs delta coding), same segment set as grid_segments():
    [(way_id, refs, highway, oneway)]."""
    ways, wid = [], 0
    for r in range(nrows):
        ways.append((wid, [r * ncols + c for c in range(ncols)], "residential",
                     "yes" if r == oneway_row else "no"))
        wid += 1
    for c in range(ncols):
        ways.append((wid, [r * ncols + c for r in range(nrows)], "secondary", None))
        wid += 1
    if island:
        n = nrows * ncols
        ways.append((wid, [n, n + 1], "residential", None))
    return ways


def build_grid_graph(
    mode: str = "auto", nrows: int = 10, ncols: int = 10, oneway_row: int = 1, island: bool = True
) -> RoutingGraph:
    """Pandas-path graph build with the same semantics as the Spark builder
    (osm_build.build_mode_graph_df) — used by unit tests and the oracle
    fixture; node ids are already dense so no remap is needed."""
    nodes = grid_nodes(nrows, ncols, island)
    segs = grid_segments(nrows, ncols, oneway_row, island)
    lon = nodes.set_index("node_id")["lon"]
    lat = nodes.set_index("node_id")["lat"]

    src, dst, w, ln, mains = [], [], [], [], set()
    for s, d, hw, ow in segs.itertuples(index=False):
        speed = get_speed_kmh(hw, mode)
        if speed is None:
            continue
        length = haversine_m_scalar(lon[s], lat[s], lon[d], lat[d])
        wms = segment_weight_ms(length, speed)
        if wms <= 0:
            continue
        src.append(s); dst.append(d); w.append(wms); ln.append(length)
        if ow != "yes":
            src.append(d); dst.append(s); w.append(wms); ln.append(length)
        if is_main_road(hw):
            mains.add(s); mains.add(d)

    main_flags = nodes["node_id"].isin(mains)
    nodes = nodes.assign(main_road=main_flags)
    edges = pd.DataFrame({"src": src, "dst": dst, "weight_ms": w, "length_m": ln})
    return RoutingGraph.from_pandas(nodes, edges)


def grid_edge_values_sql(g: RoutingGraph) -> str:
    """The graph's directed edge list as a SQL VALUES body
    `(src, dst, weight_ms), ...` — shared by the DuckDB oracle so both engines
    route over the identical graph."""
    src = np.repeat(np.arange(g.num_nodes, dtype=np.int64), np.diff(g.indptr))
    return ", ".join(f"({s}, {d}, {w})" for s, d, w in zip(src, g.indices, g.weights_ms))


def grid_node_values_sql(g: RoutingGraph) -> str:
    """`(node_id, lon, lat), ...` VALUES body (repr keeps full float precision)."""
    return ", ".join(
        f"({i}, {lon!r}, {lat!r})" for i, (lon, lat) in enumerate(zip(g.node_lon, g.node_lat))
    )


def build_big_grid_csr(nrows: int, ncols: int) -> RoutingGraph:
    """Fully-vectorized lattice construction for scale tests: a 4-neighbor
    grid with deterministic per-edge weight variation (so shortest paths
    aren't degenerate), built straight into CSR arrays. The Python-loop
    builder above is semantics-faithful but O(n) interpreted — this one
    constructs a 1M-node graph in under a second."""
    n = nrows * ncols
    ids = np.arange(n, dtype=np.int64).reshape(nrows, ncols)
    right_s, right_d = ids[:, :-1].ravel(), ids[:, 1:].ravel()
    down_s, down_d = ids[:-1, :].ravel(), ids[1:, :].ravel()
    src = np.concatenate([right_s, right_d, down_s, down_d])
    dst = np.concatenate([right_d, right_s, down_d, down_s])
    # weights 3000..9000 ms, deterministic in (src, dst)
    w = 3000 + ((src * 31 + dst * 17) % 7) * 1000
    rr, cc = np.divmod(np.arange(n, dtype=np.int64), ncols)
    return RoutingGraph.from_arrays(
        node_lon=BASE_LON + cc * SPACING_DEG,
        node_lat=BASE_LAT + rr * SPACING_DEG,
        src=src,
        dst=dst,
        weight_ms=w.astype(np.int64),
        length_m=w.astype(np.float64),
        main_nodes=np.arange(n, dtype=np.int64),
    )


def build_roadlike_csr(nrows: int, ncols: int, drop_pct: int = 20) -> RoutingGraph:
    """Country-scale ROAD-LIKE synthetic network (fully vectorized build):
    a lattice of intersections carrying the reference's 3-level hierarchy
    (local / arterial every 8th line / highway every 64th line —
    ITALY.md's tile levels), with every LOCAL edge subdivided by a
    geometry midpoint node and a deterministic `drop_pct`% of local edges
    removed (dead ends / irregular blocks). The result matches real OSM
    road-graph shape where a uniform lattice does not: the majority of
    nodes are degree-2 way geometry, average intersection degree < 4, and
    fast tiers give witness searches (and real routes) a hierarchy to use
    — the topology class both CH and the reference's deployment
    (9.7M-node Italy) are designed for. ~nrows*ncols intersections plus
    one midpoint per surviving local edge: 1200x1200 -> ~3.9M nodes."""
    n_int = nrows * ncols
    ids = np.arange(n_int, dtype=np.int64).reshape(nrows, ncols)
    # candidate lattice edges between intersections (undirected, as pairs)
    right_s, right_d = ids[:, :-1].ravel(), ids[:, 1:].ravel()
    down_s, down_d = ids[:-1, :].ravel(), ids[1:, :].ravel()
    s = np.concatenate([right_s, down_s])
    d = np.concatenate([right_d, down_d])
    rr_s, cc_s = np.divmod(s, ncols)
    rr_d, cc_d = np.divmod(d, ncols)
    # tier of an edge = the best tier shared by both endpoints ALONG the
    # edge's line: a horizontal edge on highway row r%64==0 is highway, etc.
    horiz = rr_s == rr_d
    hwy = np.where(horiz, rr_s % 64 == 0, cc_s % 64 == 0)
    art = np.where(horiz, rr_s % 8 == 0, cc_s % 8 == 0) & ~hwy
    local = ~hwy & ~art
    # deterministic drop of drop_pct% of LOCAL edges (hash of endpoints)
    keep = ((s * 2654435761 + d * 40503) % 100 >= drop_pct) | ~local
    s, d, hwy, art, local = s[keep], d[keep], hwy[keep], art[keep], local[keep]
    # per-tier speeds over the ~111 m cell, ms = length / speed; keep a
    # deterministic +-15% local variation so shortest paths are not
    # degenerate (same device as build_big_grid_csr)
    base = np.where(hwy, 3200, np.where(art, 6400, 12800)).astype(np.int64)
    jitter = ((s * 31 + d * 17) % 7 - 3) * np.where(local, 600, 100)
    w_full = base + jitter
    # split: local edges get a midpoint geometry node; arterial/highway
    # edges stay direct (their ways are denser in reality, but the degree-2
    # mass is what matters and locals dominate the count)
    loc_idx = np.flatnonzero(local)
    thr_idx = np.flatnonzero(~local)
    n_mid = len(loc_idx)
    mid_ids = n_int + np.arange(n_mid, dtype=np.int64)
    ls, ld, lw = s[loc_idx], d[loc_idx], w_full[loc_idx]
    half1 = lw // 2
    half2 = lw - half1
    # directed edge list, both directions (all roads bidirectional here)
    src = np.concatenate([
        s[thr_idx], d[thr_idx],
        ls, mid_ids, mid_ids, ld,
    ])
    dst = np.concatenate([
        d[thr_idx], s[thr_idx],
        mid_ids, ld, ls, mid_ids,
    ])
    w = np.concatenate([
        w_full[thr_idx], w_full[thr_idx],
        half1, half2, half1, half2,
    ])
    rr, cc = np.divmod(np.arange(n_int, dtype=np.int64), ncols)
    rr_ls, cc_ls = np.divmod(ls, ncols)
    rr_ld, cc_ld = np.divmod(ld, ncols)
    node_lon = np.concatenate([
        BASE_LON + cc * SPACING_DEG,
        BASE_LON + (cc_ls + cc_ld) * (SPACING_DEG / 2),
    ])
    node_lat = np.concatenate([
        BASE_LAT + rr * SPACING_DEG,
        BASE_LAT + (rr_ls + rr_ld) * (SPACING_DEG / 2),
    ])
    return RoutingGraph.from_arrays(
        node_lon=node_lon,
        node_lat=node_lat,
        src=src,
        dst=dst,
        weight_ms=w,
        length_m=w.astype(np.float64),
        main_nodes=np.arange(n_int, dtype=np.int64),
    )


# ---------------------------------------------------------------------------
# reference oracles: plain heap searches and probes the tests and tools
# check the package against
# ---------------------------------------------------------------------------


def dijkstra_p2p(g: RoutingGraph, src: int, dst: int) -> float:
    """Heap Dijkstra oracle: shortest-path weight in ms from src to dst, or
    -1.0 (kernels.NO_ROUTE) if unreachable. Early-exits when dst is
    settled. The tests check every routing kernel against it."""
    if src == dst:
        return 0.0
    indptr, indices, weights = g.indptr, g.indices, g.weights_ms
    dist = {src: 0}
    heap = [(0, src)]
    while heap:
        d, u = heapq.heappop(heap)
        if u == dst:
            return float(d)
        if d > dist.get(u, np.inf):
            continue
        for ei in range(indptr[u], indptr[u + 1]):
            v = indices[ei]
            nd = d + weights[ei]
            if nd < dist.get(v, np.inf):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return kernels.NO_ROUTE


def dijkstra_p2p_path(g: RoutingGraph, src: int, dst: int):
    """Heap Dijkstra oracle with the path: (weight_ms, path_node_list) or
    (kernels.NO_ROUTE, None)."""
    indptr, indices, weights = g.indptr, g.indices, g.weights_ms
    dist = {src: 0}
    prev: dict[int, int] = {}
    heap = [(0, src)]
    found = src == dst
    while heap and not found:
        d, u = heapq.heappop(heap)
        if u == dst:
            found = True
            break
        if d > dist.get(u, np.inf):
            continue
        for ei in range(indptr[u], indptr[u + 1]):
            v = indices[ei]
            nd = d + weights[ei]
            if nd < dist.get(v, np.inf):
                dist[v] = nd
                prev[v] = u
                heapq.heappush(heap, (nd, v))
    if not found and dst not in dist:
        return kernels.NO_ROUTE, None
    path = [dst]
    while path[-1] != src:
        path.append(prev[path[-1]])
    path.reverse()
    return float(dist[dst]), path


def probe_array_dim(path: str, col: str) -> int:
    """Length of an array column's first value, read via the parquet reader
    (no Spark job). Parquet schemas don't carry list lengths, so this probes
    one row; it assumes the column is uniform-dim."""
    import pyarrow.dataset as pads

    first = pads.dataset(path, format="parquet").head(1, columns=[col])
    return len(first.column(0)[0])
