"""Shortest-path kernels over the CSR graph.

The reference uses contraction hierarchies (`fast_paths`, rust/src/lib.rs:260)
for point-to-point queries and a plain binary-heap Dijkstra for isochrones
(lib.rs:638-720). Every kernel here is exact: weights are identical to
Dijkstra (the heap oracles live in duckdb_routing_spark.testing). Weights are
integer milliseconds, durations are ms/1000.0 (lib.rs:421-427).

One primitive does the search: sssp_frontier_ms, a numpy-vectorized frontier
SSSP with an optional cost cap. It runs two ways:

  - a fixed cap: dijkstra_isochrone, the reference's cutoff search;
  - a cap that shrinks to the farthest target's label once every target
    has one: p2p_path on a graph without a prepared CH index (one target),
    batch travel times, matrix origins, optimized routes and map matching
    (sssp_multi_target). Paths follow shortest_path_tree's tight-edge
    rule, so p2p, matrix and map-matching paths break ties alike.

Single-pair routes (p2p_path) and matrices (matrix_rows) follow one rule: a
graph carrying a prepared CH index (``g._ch``, routing/ch.py) routes through
it; any other graph uses the frontier kernel. No kernel builds routing
state beyond the reverse CSR cached on the graph.

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

import numpy as np

from duckdb_routing_spark.routing.geometry import haversine_m
from duckdb_routing_spark.routing.graph import RoutingGraph

NO_ROUTE = -1.0
NOT_LOADED = -2.0


def _reverse_csr(g: RoutingGraph):
    """Reverse-edge CSR (indptr, sources, weights), built once and cached on
    the graph object: path_to walks a path back from dst over incoming
    edges. Within each target the edges keep ascending forward edge index,
    so the first tight one is the one shortest_path_tree picks."""
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


def dijkstra_isochrone(g: RoutingGraph, src: int, max_cost_ms: int):
    """All nodes reachable within max_cost_ms: (node_ids, costs_ms), ordered
    by (cost, node id).

    Semantics of the reference isochrone (rust/src/lib.rs:677-717): early
    cutoff, every reached node emitted with its cost; costs <= cutoff. Runs
    sssp_frontier_ms with cap=max_cost_ms, which is exact for every node
    within the cap and never labels one beyond it."""
    dist = sssp_frontier_ms(g, src, cap=max_cost_ms)
    nodes = np.flatnonzero(dist <= max_cost_ms)
    costs = dist[nodes]
    order = np.argsort(costs, kind="stable")  # nodes ascend within a cost
    return nodes[order], costs[order]


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


def sssp_frontier_ms(g: RoutingGraph, src: int, cap: int | None = None, targets=None) -> np.ndarray:
    """Exact single-source shortest paths via numpy-vectorized frontier
    label-correcting (Bellman-Ford restricted to an active frontier).

    Replaces the reference's fast_paths CH acceleration
    (rust/src/lib.rs:246-261) with a kernel whose hot loop is entirely C
    (ragged CSR gather + minimum.at scatter): ~10-40x the Python heap
    Dijkstra on 40k-node graphs, identical distances (label-correcting
    converges to the exact fixed point; weights are non-negative ints).
    Returns int64 distances in ms with _INF for unlabeled nodes.

    `cap` skips every relaxation whose new label exceeds it: the search
    stays inside the cap's ball, and every node whose true distance is
    <= cap still gets its exact label (its shortest path only passes
    through nodes no farther than itself). Once every node in `targets`
    has a label, each round shrinks the cap to the largest target label;
    labels never drop below the true distance, so every target and every
    node closer than the farthest one end exact."""
    indptr, indices, weights = g.indptr, g.indices, g.weights_ms
    n = g.num_nodes
    dist = np.full(n, _INF, dtype=np.int64)
    dist[src] = 0
    frontier = np.asarray([src], dtype=np.int64)
    if targets is not None:
        targets = np.asarray(targets, dtype=np.int64)
    while frontier.size:
        if targets is not None:
            far = int(dist[targets].max(initial=0))
            if far < _INF:
                cap = far if cap is None else min(cap, far)
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
        if cap is not None:
            better &= nd <= cap
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
    durations are tie-independent).

    A zero-weight tight edge joins two nodes at the same distance, so on a
    graph with zero-weight edges tight edges alone can close a cycle. There
    a zero-weight edge only counts when its source is fewer zero-weight
    hops than its target from a node entered over a positive tight edge
    (or from src). Every other node keeps its lowest-numbered tight edge.

    Labels from a capped sssp_frontier_ms give the same predecessor as the
    full search for every node within the cap: a tight edge into an exact
    label always starts at an exact label. Returns int64 pred with -1 for
    the source and unreachable nodes."""
    indptr, indices, weights = g.indptr, g.indices, g.weights_ms
    n = g.num_nodes
    usrc = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
    reach = dist[usrc] != _INF
    tight = np.zeros(len(indices), dtype=bool)
    r = np.flatnonzero(reach)
    tight[r] = dist[usrc[r]] + weights[r] == dist[indices[r]]
    te = np.flatnonzero(tight)
    zero = weights[te] == 0
    if zero.any():
        tu, tv = usrc[te], indices[te]
        hop = np.full(n, n, dtype=np.int64)
        hop[src] = 0
        hop[tv[~zero]] = 0
        zu, zv = tu[zero], tv[zero]
        while True:
            nxt = hop.copy()
            np.minimum.at(nxt, zv, hop[zu] + 1)
            if np.array_equal(nxt, hop):
                break
            hop = nxt
        te = te[~zero | (hop[tu] < hop[tv])]
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


def path_to(g: RoutingGraph, dist: np.ndarray, src: int, dst: int) -> list[int] | None:
    """The src -> dst path of shortest_path_tree, or None if dst has no
    label, walked back from dst over the reverse CSR without building the
    tree: each step takes the first positive tight edge into the node. A
    node entered over zero-weight tight edges only falls back to the tree's
    hop rule. `dist` must be exact at dst, as any sssp_frontier_ms whose
    targets include dst leaves it."""
    dst = int(dst)
    if dist[dst] == _INF:
        return None
    rindptr, rsrc, rw = _reverse_csr(g)
    path = [dst]
    while path[-1] != src:
        v = path[-1]
        dv = dist[v]
        for ei in range(rindptr[v], rindptr[v + 1]):
            w = rw[ei]
            if w > 0 and dist[rsrc[ei]] == dv - w:
                path.append(int(rsrc[ei]))
                break
        else:
            return path_from_pred(shortest_path_tree(g, dist, src), src, dst)
    path.reverse()
    return path


def sssp_multi_target(g: RoutingGraph, src: int, targets):
    """One frontier SSSP serving every target, its cap shrinking to the
    farthest target's label (negative target ids, unsnapped points, are
    skipped). Returns (weights_ms float64[M] with -1.0 unreachable, dist
    int64[n]); dist is exact at every target, so path_to and
    shortest_path_tree give the full search's paths to them."""
    targets = np.asarray(targets, dtype=np.int64)
    ok = targets >= 0
    dist = sssp_frontier_ms(g, src, targets=targets[ok])
    out = np.full(len(targets), NO_ROUTE, dtype=np.float64)
    w = dist[targets[ok]]
    out[ok] = np.where(w == _INF, NO_ROUTE, w.astype(np.float64))
    return out, dist


# ---------------------------------------------------------------------------
# batch wrappers (the Arrow-batch entry points)
# ---------------------------------------------------------------------------


def batch_travel_time_s(g: RoutingGraph, lat1, lon1, lat2, lon2) -> np.ndarray:
    """Vectorized travel_time: snap both endpoints, shortest-path seconds.
    NaN marks no-route / invalid input (the SQL layer maps NaN -> NULL,
    matching src/travel_time_extension.cpp:512-514).

    Batch shape: rows are grouped by snapped SOURCE node and each group runs
    ONE frontier SSSP (sssp_multi_target, capped at the group's farthest
    destination) — an OD table with n_src distinct origins per Arrow batch
    costs n_src searches, not n_rows (measured 6x on a 40k-node graph with
    5k pairs / 715 origins). Folding k origins
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
        m = ok & (src == s)
        w, _ = sssp_multi_target(g, int(s), dst[m])
        out[m] = np.where(w < 0, np.nan, w / 1000.0)
    return out


def _prepared_ch(g: RoutingGraph):
    """The graph's prepared CH index (``g._ch``), or None. It comes from the
    artifact's ``ch_<mode>.npz`` sidecar, from the graph broadcast, or from
    ``ch.ensure_ch(g)`` before ``load_graph``. Kernels only read it: a CH
    build is hours of executor CPU at country scale, so it is never started
    from a query."""
    return getattr(g, "_ch", None)


def p2p_path(g: RoutingGraph, src: int, dst: int):
    """Single-pair (weight_ms, path) or (NO_ROUTE, None): contraction
    hierarchies when the graph carries a prepared index (the reference's
    own accelerator), otherwise one sssp_frontier_ms whose cap shrinks to
    dst's label and path_to's walk back from dst, so p2p and matrix paths
    break ties alike. Both branches are exact and keep no per-query
    state."""
    if _prepared_ch(g) is not None:
        from duckdb_routing_spark.routing import ch

        return ch.ch_p2p_path(g, src, dst)
    src, dst = int(src), int(dst)
    dist = sssp_frontier_ms(g, src, targets=(dst,))
    path = path_to(g, dist, src, dst)
    if path is None:
        return NO_ROUTE, None
    return float(dist[dst]), path


def matrix_rows(g: RoutingGraph, src_nodes, tgt_nodes, from_idx=None) -> list[tuple]:
    """Matrix rows [(from_idx, to_idx, distance_m, duration_s), ...] for
    snapped node ids; `from_idx` labels the origins (default 0..N-1).

    With a prepared CH index this is the bucket many-to-many
    (ch.ch_many_to_many: N+M upward-cone searches); otherwise one frontier
    SSSP per origin serves every target (sssp_multi_target) and one
    shortest_path_tree per origin gives their paths. Unsnapped
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
        w_ms, dist = sssp_multi_target(g, s, tgt_nodes)
        pred = shortest_path_tree(g, dist, s)
        for j, t in enumerate(tgt_nodes):
            if t < 0 or w_ms[j] < 0:
                rows.append((i, j, None, None))
                continue
            path = path_from_pred(pred, s, int(t))
            rows.append((i, j, path_distance_m(g, path), float(w_ms[j]) / 1000.0))
    return rows
