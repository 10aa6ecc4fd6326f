"""Shortest-path kernels over the CSR graph.

The reference uses contraction hierarchies (`fast_paths`, rust/src/lib.rs:260)
for point-to-point queries and a plain binary-heap Dijkstra for isochrones
(lib.rs:638-720). Every accelerator here is exact — weights are identical to
Dijkstra. The batch path runs a numpy-vectorized frontier SSSP
(sssp_frontier_ms), with heap Dijkstra retained where predecessors/paths are
needed; weights are integer milliseconds, durations are ms/1000.0
(lib.rs:421-427).

Single-pair routes (p2p_path) and matrices (matrix_rows) follow one rule:
a graph carrying a prepared CH index (``g._ch``, routing/ch.py) routes
through it; any other graph uses ALT A* (astar_p2p_path) and one frontier
SSSP per matrix origin. No kernel builds a CH index.

These kernels run inside Arrow-batched pandas UDF / mapInPandas workers with
the graph arrays coming from a Spark broadcast: one graph per engine and mode
in each Python worker process (engine._GRAPH_CACHE), shared across batches
and reused tasks, no locks (read-only). Each Python task also pays a fixed
worker cost before any kernel runs; on Python <= 3.12 most of it was the
worker re-reading every zip archive on its sys.path, which the package now
skips for unchanged archives (session._lazy_zip_invalidate). Read that
cost from Spark's pythonTotalTime, not pythonInitTime: on a reused worker
the init figure includes idle wait between tasks.
"""

from __future__ import annotations

import heapq

import numpy as np

from duckdb_routing_spark.routing.geometry import haversine_m
from duckdb_routing_spark.routing.graph import RoutingGraph

NO_ROUTE = -1.0
NOT_LOADED = -2.0


def dijkstra_p2p(g: RoutingGraph, src: int, dst: int) -> float:
    """Shortest-path weight in ms from src to dst, or -1.0 if unreachable.

    Early-exits when dst is settled (matches CH query results exactly)."""
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
    return NO_ROUTE


def dijkstra_p2p_path(g: RoutingGraph, src: int, dst: int):
    """(weight_ms, path_node_list) or (NO_ROUTE, None)."""
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
        return NO_ROUTE, None
    path = [dst]
    while path[-1] != src:
        path.append(prev[path[-1]])
    path.reverse()
    return float(dist[dst]), path


def _reverse_csr(g: RoutingGraph):
    """Reverse-edge CSR (indptr, indices, weights), built once and cached on
    the graph object — _alt_data's to-landmark SSSPs search incoming edges.
    Cache lives with the broadcast graph, so every Arrow batch on an
    executor reuses it."""
    cached = getattr(g, "_rev_csr", None)
    if cached is not None:
        return cached
    n = g.num_nodes
    dst = g.indices
    src = np.repeat(np.arange(n, dtype=np.int64), np.diff(g.indptr))
    order = np.argsort(dst, kind="stable")
    rindptr = np.zeros(n + 1, dtype=np.int64)
    np.add.at(rindptr, dst + 1, 1)
    np.cumsum(rindptr, out=rindptr)
    rev = (rindptr, src[order], g.weights_ms[order])
    g._rev_csr = rev
    return rev


_ALT_I32_INF = np.iinfo(np.int32).max


def pack_alt(dist: np.ndarray) -> np.ndarray:
    """int64 landmark distances -> int32 for artifact/broadcast transport.
    int32 ms caps at ~24.8 days of travel — far beyond any country-scale
    route; _INF (unreachable) maps to the int32 sentinel. Halves the
    shipped bytes (the stated 10M-node posture: k=4 / int32 ≈ 320 MB)."""
    return np.where(dist == _INF, _ALT_I32_INF, np.minimum(dist, _ALT_I32_INF - 1)).astype(
        np.int32
    )


def unpack_alt(packed: np.ndarray) -> np.ndarray:
    return np.where(packed == _ALT_I32_INF, _INF, packed.astype(np.int64))


def _alt_data(g: RoutingGraph, k: int = 8):
    """ALT (A*, Landmarks, Triangle inequality) preprocessing, cached on the
    graph object: exact SSSP distance arrays from/to up to `k` geometric
    extreme landmarks (Goldberg & Harrelson 2005 — the published
    preprocessing-light alternative to contraction hierarchies;
    rust/src/lib.rs:260 uses fast_paths CH for the same purpose).

    Cost: 2k vectorized frontier SSSPs (~25 ms each on the 40k grid), run
    once per executor process against the broadcast graph. Memory is
    2*k*n int64 — at country scale (10M nodes) drop to k=4 / int32 ms
    (~320 MB, comparable to CH's shortcut storage) before broadcasting."""
    cached = getattr(g, "_alt", None)
    if cached is not None:
        return cached
    import types

    lon, lat = g.node_lon, g.node_lat
    # 4 corner + 4 edge-midpoint extremes; the axis scores carry a small
    # pull toward the orthogonal axis mean so grid boundary ties resolve to
    # MIDPOINTS instead of collapsing onto the corners (8 spread landmarks
    # bound diagonal routes much tighter than 4 corners)
    clon = lon - float(lon.mean())
    clat = lat - float(lat.mean())
    span = max(float(np.ptp(lon)) + float(np.ptp(lat)), 1e-12)
    corners = [
        lon + lat,
        lon - lat,
        -lon - lat,
        lat - lon,
        clon - np.abs(clat) * 1e-3 / span,
        -clon - np.abs(clat) * 1e-3 / span,
        clat - np.abs(clon) * 1e-3 / span,
        -clat - np.abs(clon) * 1e-3 / span,
    ]
    lms: list[int] = []
    for s in corners[:k]:
        c = int(np.argmax(s))
        if c not in lms:
            lms.append(c)
    dist_from = np.stack([sssp_frontier_ms(g, L) for L in lms])
    rindptr, rindices, rweights = _reverse_csr(g)
    rg = types.SimpleNamespace(
        indptr=rindptr, indices=rindices, weights_ms=rweights, num_nodes=g.num_nodes
    )
    dist_to = np.stack([sssp_frontier_ms(rg, L) for L in lms])
    g._alt = (dist_from, dist_to)
    # fault the per-query scratch pages ONCE at prep time so the first
    # warm query doesn't bill them (measured ~0.9 s of first-touch at 250k)
    _alt_scratch(g, dist_from.shape)
    return g._alt


# Landmarks evaluated per query in the full h pass. The pass is
# memory-bandwidth-bound (one subtract + one maximum over n int64 per term),
# so cost is linear in the ACTIVE count while pruning quality comes from the
# best few bounds for the pair (measured at 2.07M nodes, round 8: all 8
# landmarks ~130 ms/query, top-4 ~40 ms, corridor unchanged).
ALT_ACTIVE_LANDMARKS = 4


def _alt_scratch(g: RoutingGraph, shape):
    """Preallocated buffers for the per-query ALT h computation, cached on
    the graph object (lives with the executor's broadcast copy): one n-row
    temp + the h output (O(n), not O(k*n) — the per-landmark fold reuses
    the row), plus per-landmark has-unreachable flags for dist_to so the
    backward mask pass is skipped on fully-connected rows. fill() touches
    every page at allocation so queries never pay first-fault."""
    cached = getattr(g, "_alt_scratch_buf", None)
    if cached is not None and cached[1].shape[0] == shape[1]:
        return cached
    k, n = shape
    row = np.empty(n, dtype=np.int64)
    hmax = np.empty(n, dtype=np.int64)
    row.fill(0)
    hmax.fill(0)
    _, dist_to = g._alt
    to_unreach = np.asarray([(dist_to[i] == _INF).any() for i in range(k)], dtype=bool)
    g._alt_scratch_buf = (row, hmax, to_unreach)
    return g._alt_scratch_buf


def astar_p2p_path(g: RoutingGraph, src: int, dst: int):
    """(weight_ms, path_node_list) or (NO_ROUTE, None) via A* over ALT
    landmark lower bounds — p2p_path's accelerator for graphs without a
    prepared CH index.

    h(u) = max over landmarks L of max(d(L,t)-d(L,u), d(u,L)-d(t,L), 0) is
    a CONSISTENT lower bound on d(u,t) (triangle inequality on exact SSSP
    distances; max of consistent heuristics is consistent), so the search
    is exact: weights are identical to dijkstra_p2p (property-tested).
    Settles shrink to a corridor around the shortest path — measured 40x
    fewer settles / ~20x wall-clock on mid-grid routes of the 40k grid,
    and it handles the Manhattan-geometry diagonals where plain
    great-circle A* degenerates to Dijkstra."""
    if src == dst:
        return 0.0, [int(src)]
    dist_from, dist_to = _alt_data(g)
    # Per-landmark s-t bounds: drive BOTH the short-route dispatch (h0 =
    # best bound) and ACTIVE-LANDMARK selection (Goldberg & Harrelson §6 —
    # the landmarks that bound THIS pair tightly are the ones that prune
    # its search; the rest only add O(n) h-pass bandwidth). The h pass is
    # memory-bound: at 2.07M nodes all-8 landmarks cost ~130 ms/query,
    # the top-4 subset ~40 ms for the same corridor (measured round 8).
    per_lm = np.zeros(dist_from.shape[0], dtype=np.int64)
    for i in range(dist_from.shape[0]):
        b = 0
        if dist_from[i, dst] != _INF and dist_from[i, src] != _INF:
            b = max(b, int(dist_from[i, dst]) - int(dist_from[i, src]))
        if dist_to[i, src] != _INF and dist_to[i, dst] != _INF:
            b = max(b, int(dist_to[i, src]) - int(dist_to[i, dst]))
        per_lm[i] = b
    h0 = int(per_lm.max()) if per_lm.size else 0
    mean_w = getattr(g, "_mean_w_ms", None)
    if mean_w is None:
        mean_w = float(g.weights_ms.mean()) if len(g.weights_ms) else 1.0
        g._mean_w_ms = mean_w
    if h0 / max(mean_w, 1e-9) < np.sqrt(g.num_nodes) / 4.0:
        return dijkstra_p2p_path(g, src, dst)
    # One vectorized pass builds h for EVERY node over the ACTIVE landmark
    # subset (O(k_active*n)) — measured ~4x cheaper than lazy per-node
    # Python evaluation once a search settles more than a few thousand
    # nodes. Landmarks that cannot reach dst (or that dst cannot reach)
    # contribute no forward (resp. backward) term — masked to 0, never
    # +inf: the search itself proves unreachability.
    #
    # All work happens in PREALLOCATED per-graph scratch (out= ops): the
    # naive expression allocated ~5x k*n of temporaries per query, whose
    # first-touch page faults cost more than the search itself on a fresh
    # process (measured 0.9 s cold vs 0.05 s warm at 250k nodes) — and at
    # 10M-node country scale would be GBs of allocation per query.
    active = np.argsort(per_lm, kind="stable")[-ALT_ACTIVE_LANDMARKS:]
    row, hmax, to_unreach = _alt_scratch(g, dist_from.shape)
    hmax.fill(0)
    for i in (int(x) for x in active):
        dft = dist_from[i, dst]
        if dft != _INF:
            # forward term d(L,t) - d(L,u); u unreachable from L gives a
            # hugely negative value — maximum() drops it without a mask
            np.subtract(dft, dist_from[i], out=row)
            np.maximum(hmax, row, out=hmax)
        dtt = dist_to[i, dst]
        if dtt != _INF:
            # backward term d(u,L) - d(t,L); u-cannot-reach-L yields
            # sentinel-minus-finite (a hugely POSITIVE value — a valid
            # infinite bound mathematically, but it would overflow the
            # heap's nd + h arithmetic), so those entries mask to 0;
            # the row flag skips the mask pass on fully-connected rows
            np.subtract(dist_to[i], dtt, out=row)
            if to_unreach[i]:
                row[dist_to[i] == _INF] = 0
            np.maximum(hmax, row, out=hmax)
    # exact integer ms in a float view is unnecessary — heap arithmetic
    # stays in int64 (values < 2^53, comparisons identical)
    h = hmax

    indptr, indices, weights = g.indptr, g.indices, g.weights_ms
    inf = np.inf
    dist = {src: 0}
    prev: dict[int, int] = {}
    # tie-break on equal f toward the LARGER g-cost (deeper node): when a
    # landmark lies near the source, f is constant across every node on a
    # shortest-path plateau and first-in tie order would settle the whole
    # plateau breadth-first before reaching dst (measured: 92k settles on
    # the 250k grid corner route; ~1k with this tie-break)
    heap = [(float(h[src]), 0, src)]
    settled: set[int] = set()
    while heap:
        f, negd, u = heapq.heappop(heap)
        if u == dst:
            break
        if u in settled:
            continue
        settled.add(u)
        d = dist[u]
        for ei in range(indptr[u], indptr[u + 1]):
            v = indices[ei]
            nd = d + weights[ei]
            if nd < dist.get(v, inf):
                dist[v] = nd
                prev[v] = u
                heapq.heappush(heap, (nd + h[v], -int(nd), v))
    if dst not in dist:
        return NO_ROUTE, None
    path = [dst]
    while path[-1] != src:
        path.append(prev[path[-1]])
    path.reverse()
    return float(dist[dst]), path


def dijkstra_multi_target(g: RoutingGraph, src: int, targets: np.ndarray):
    """Single-source Dijkstra serving many targets at once (the matrix
    operator's inner kernel — one Dijkstra amortizes all M destinations,
    better than M point queries). Returns (weights_ms float64[M],
    predecessor dict) with -1.0 for unreachable targets."""
    indptr, indices, weights = g.indptr, g.indices, g.weights_ms
    target_set = set(int(t) for t in targets)
    remaining = len(target_set)
    dist = {src: 0}
    prev: dict[int, int] = {}
    settled = set()
    heap = [(0, src)]
    while heap and remaining > 0:
        d, u = heapq.heappop(heap)
        if u in settled:
            continue
        settled.add(u)
        if u in target_set:
            remaining -= 1
        for ei in range(indptr[u], indptr[u + 1]):
            v = indices[ei]
            nd = d + weights[ei]
            if nd < dist.get(v, np.inf):
                dist[v] = nd
                prev[v] = u
                heapq.heappush(heap, (nd, v))
    out = np.full(len(targets), NO_ROUTE, dtype=np.float64)
    for i, t in enumerate(targets):
        t = int(t)
        if t in dist:
            out[i] = float(dist[t])
    return out, prev


def dijkstra_isochrone(g: RoutingGraph, src: int, max_cost_ms: int):
    """All nodes reachable within max_cost_ms: (node_ids, costs_ms).

    Semantics of the reference isochrone (rust/src/lib.rs:677-717): early
    cutoff, every settled node emitted with its cost; costs <= cutoff."""
    indptr, indices, weights = g.indptr, g.indices, g.weights_ms
    dist = {src: 0}
    heap = [(0, src)]
    out_nodes: list[int] = []
    out_costs: list[int] = []
    settled = set()
    while heap:
        d, u = heapq.heappop(heap)
        if u in settled or d > dist.get(u, np.inf):
            continue
        if d > max_cost_ms:
            continue
        settled.add(u)
        out_nodes.append(u)
        out_costs.append(d)
        for ei in range(indptr[u], indptr[u + 1]):
            v = indices[ei]
            nd = d + weights[ei]
            if nd <= max_cost_ms and nd < dist.get(v, np.inf):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return np.asarray(out_nodes, dtype=np.int64), np.asarray(out_costs, dtype=np.int64)


def path_distance_m(g: RoutingGraph, path: list[int]) -> float:
    """Sum of haversine over consecutive path nodes — the native engine's
    route distance semantics (rust/src/lib.rs:779-795)."""
    if path is None or len(path) < 2:
        return 0.0
    nodes = np.asarray(path, dtype=np.int64)
    lons = g.node_lon[nodes]
    lats = g.node_lat[nodes]
    return float(np.sum(haversine_m(lons[:-1], lats[:-1], lons[1:], lats[1:])))


# ---------------------------------------------------------------------------
# vectorized SSSP (the batch accelerator)
# ---------------------------------------------------------------------------

_INF = np.iinfo(np.int64).max


def sssp_frontier_ms(g: RoutingGraph, src: int) -> np.ndarray:
    """Exact single-source shortest paths via numpy-vectorized frontier
    label-correcting (Bellman-Ford restricted to an active frontier).

    Replaces the reference's fast_paths CH acceleration
    (rust/src/lib.rs:246-261) with a kernel whose hot loop is entirely C
    (ragged CSR gather + minimum.at scatter): ~10-40x the Python heap
    Dijkstra on 40k-node graphs, identical distances (label-correcting
    converges to the exact fixed point; weights are non-negative ints).
    Returns int64 distances in ms with _INF for unreachable nodes."""
    indptr, indices, weights = g.indptr, g.indices, g.weights_ms
    n = g.num_nodes
    dist = np.full(n, _INF, dtype=np.int64)
    dist[src] = 0
    frontier = np.asarray([src], dtype=np.int64)
    while frontier.size:
        starts = indptr[frontier]
        counts = indptr[frontier + 1] - starts
        total = int(counts.sum())
        if total == 0:
            break
        cum = np.cumsum(counts)
        eidx = np.repeat(starts - (cum - counts), counts) + np.arange(total, dtype=np.int64)
        nd = np.repeat(dist[frontier], counts) + weights[eidx]
        tgt = indices[eidx]
        better = nd < dist[tgt]
        tgt, nd = tgt[better], nd[better]
        if tgt.size == 0:
            break
        np.minimum.at(dist, tgt, nd)
        # nodes whose label actually improved re-enter the frontier
        frontier = np.unique(tgt[nd <= dist[tgt]])
    return dist


def shortest_path_tree(g: RoutingGraph, dist: np.ndarray, src: int) -> np.ndarray:
    """Derive a deterministic predecessor array from converged SSSP labels.

    np.minimum.at in sssp_frontier_ms cannot track argmins, so instead of
    threading predecessors through the scatter loop we recover them after
    convergence in one vectorized pass: an edge (u -> v, w) is *tight* iff
    dist[u] + w == dist[v]; every reachable non-source node has at least one
    tight incoming edge, and picking the lowest-numbered tight edge per node
    yields a valid shortest-path tree (same guarantee CH unpacking gives the
    reference, rust/src/lib.rs:246-261 — any tight tree is a shortest path;
    durations are tie-independent). Returns int64 pred with -1 for the
    source and unreachable nodes."""
    indptr, indices, weights = g.indptr, g.indices, g.weights_ms
    n = g.num_nodes
    usrc = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
    reach = dist[usrc] != _INF
    tight = np.zeros(len(indices), dtype=bool)
    r = np.flatnonzero(reach)
    tight[r] = dist[usrc[r]] + weights[r] == dist[indices[r]]
    te = np.flatnonzero(tight)
    tv = indices[te]
    order = np.argsort(tv, kind="stable")  # edge index ascending within each target
    tv_sorted = tv[order]
    first = np.ones(len(tv_sorted), dtype=bool)
    first[1:] = tv_sorted[1:] != tv_sorted[:-1]
    pred = np.full(n, -1, dtype=np.int64)
    sel = te[order][first]
    pred[tv_sorted[first]] = usrc[sel]
    pred[src] = -1
    return pred


def path_from_pred_dict(prev: dict, src: int, dst: int) -> list[int] | None:
    """Walk a predecessor DICT (dijkstra_multi_target's) from dst to src."""
    path = [int(dst)]
    while path[-1] != src:
        p = prev.get(path[-1])
        if p is None:
            return None
        path.append(int(p))
    path.reverse()
    return path


def path_from_pred(pred: np.ndarray, src: int, dst: int) -> list[int] | None:
    """Walk a predecessor array from dst back to src; None if disconnected."""
    path = [int(dst)]
    while path[-1] != src:
        p = int(pred[path[-1]])
        if p < 0:
            return None
        path.append(p)
    path.reverse()
    return path


def sssp_multi_target(g: RoutingGraph, src: int, targets: np.ndarray):
    """Vectorized replacement for dijkstra_multi_target on the matrix path:
    one frontier SSSP + tight-edge tree serves every destination. Returns
    (weights_ms float64[M] with -1.0 unreachable, pred int64[n])."""
    dist = sssp_frontier_ms(g, src)
    pred = shortest_path_tree(g, dist, src)
    out = np.full(len(targets), NO_ROUTE, dtype=np.float64)
    for i, t in enumerate(targets):
        t = int(t)
        if t >= 0 and dist[t] != _INF:
            out[i] = float(dist[t])
    return out, pred


# ---------------------------------------------------------------------------
# batch wrappers (the Arrow-batch entry points)
# ---------------------------------------------------------------------------


def batch_travel_time_s(g: RoutingGraph, lat1, lon1, lat2, lon2) -> np.ndarray:
    """Vectorized travel_time: snap both endpoints, shortest-path seconds.
    NaN marks no-route / invalid input (the SQL layer maps NaN -> NULL,
    matching src/travel_time_extension.cpp:512-514).

    Batch shape: rows are grouped by snapped SOURCE node and each group runs
    ONE frontier SSSP (sssp_frontier_ms) — an OD table with n_src distinct
    origins per Arrow batch costs n_src searches, not n_rows (measured 6x
    on a 40k-node graph with 5k pairs / 715 origins). Folding k origins
    into one shared frontier loop was measured 1.6-2.1x slower than k
    single-source calls on a 96k-node road-like grid (k = 1-8) and no
    faster on the 40k-node batch grid (1.5x slower at k = 1, within 3% at
    k = 8), so it was removed."""
    lat1 = np.asarray(lat1, dtype=np.float64)
    lon1 = np.asarray(lon1, dtype=np.float64)
    lat2 = np.asarray(lat2, dtype=np.float64)
    lon2 = np.asarray(lon2, dtype=np.float64)
    n = len(lat1)
    out = np.full(n, np.nan)
    valid = ~(np.isnan(lat1) | np.isnan(lon1) | np.isnan(lat2) | np.isnan(lon2))
    if not valid.any():
        return out
    src = np.full(n, -1, dtype=np.int64)
    dst = np.full(n, -1, dtype=np.int64)
    src[valid] = g.nearest_main_nodes(lon1[valid], lat1[valid])
    dst[valid] = g.nearest_main_nodes(lon2[valid], lat2[valid])
    ok = valid & (src >= 0) & (dst >= 0)
    for s in np.unique(src[ok]):
        dist = sssp_frontier_ms(g, int(s))
        m = ok & (src == s)
        w = dist[dst[m]].astype(np.float64)
        w[w == float(_INF)] = np.nan
        out[m] = w / 1000.0
    return out


def _prepared_ch(g: RoutingGraph):
    """The graph's prepared CH index (``g._ch``), or None. It comes from the
    artifact's ``ch_<mode>.npz`` sidecar, from the graph broadcast, or from
    ``ch.ensure_ch(g)`` before ``load_graph``. Kernels only read it: a CH
    build is hours of executor CPU at country scale, so it is never started
    from a query."""
    return getattr(g, "_ch", None)


def p2p_path(g: RoutingGraph, src: int, dst: int):
    """Single-pair (weight_ms, path): contraction hierarchies when the graph
    carries a prepared index (the reference's own accelerator, fastest warm
    queries), ALT A* otherwise (astar_p2p_path — light preprocessing, built
    once per process on first use). Both are exact — identical weights to
    dijkstra_p2p, property-tested."""
    if _prepared_ch(g) is not None:
        from duckdb_routing_spark.routing import ch

        return ch.ch_p2p_path(g, src, dst)
    return astar_p2p_path(g, src, dst)


def matrix_rows(g: RoutingGraph, src_nodes, tgt_nodes, from_idx=None) -> list[tuple]:
    """Matrix rows [(from_idx, to_idx, distance_m, duration_s), ...] for
    snapped node ids; `from_idx` labels the origins (default 0..N-1).

    With a prepared CH index this is the bucket many-to-many
    (ch.ch_many_to_many: N+M upward-cone searches); otherwise one frontier
    SSSP per origin serves every target (sssp_multi_target). Unsnapped
    (negative) ids and unreachable cells give None cells; distance is
    hop-haversine over the time-optimal path (lib.rs:779-795). Durations
    are exact on both paths; distances may differ by meters between them on
    duration-tied paths, which the two break differently."""
    idxs = [int(i) for i in from_idx] if from_idx is not None else list(range(len(src_nodes)))
    chx = _prepared_ch(g)
    if chx is not None:
        from duckdb_routing_spark.routing import ch

        time_ms, meets, sstates, dstates = ch.ch_many_to_many(chx, src_nodes, tgt_nodes)
        rows: list[tuple] = []
        for si, i in enumerate(idxs):
            for j in range(len(tgt_nodes)):
                w = time_ms[si, j]
                if w < 0:
                    rows.append((i, j, None, None))
                    continue
                d_m = ch.ch_m2m_distance_m(
                    chx, g, int(src_nodes[si]), int(tgt_nodes[j]), int(meets[si, j]),
                    sstates[si], dstates[j],
                )
                rows.append((i, j, float(d_m), float(w) / 1000.0))
        return rows
    rows = []
    for i, s in zip(idxs, src_nodes):
        s = int(s)
        if s < 0:
            rows.extend((i, j, None, None) for j in range(len(tgt_nodes)))
            continue
        w_ms, pred = sssp_multi_target(g, s, tgt_nodes)
        for j, t in enumerate(tgt_nodes):
            if t < 0 or w_ms[j] < 0:
                rows.append((i, j, None, None))
                continue
            path = path_from_pred(pred, s, int(t))
            rows.append((i, j, path_distance_m(g, path), float(w_ms[j]) / 1000.0))
    return rows
