"""Contraction hierarchies — the reference's actual p2p accelerator
(rust/src/lib.rs:260 prepares a `fast_paths` CH index; queries run
bidirectional upward search over it). This is an independent from-scratch
implementation of the published algorithm (Geisberger et al. 2008,
"Contraction Hierarchies: Faster and Simpler Hierarchical Routing in Road
Networks"); no reference code was consulted beyond its observable API.

Role in this engine: when a loaded graph carries this index (``g._ch``),
`kernels.p2p_path` and `kernels.matrix_rows` route through it; a graph
without one routes by the capped frontier SSSP. No setting selects it.
CH trades a heavy one-time node-ordering/shortcut build for the fastest
warm queries on road-network topologies (low highway dimension) — the
reference's deployment shape (ITALY.md: warm query <100 ms on 9.7M
nodes). The prepared index is a BUILD-TIME artifact (`ensure_ch`, never
called from a query kernel): `RoutingGraph.save` persists it as a
`ch_<mode>.npz` sidecar (the analog of the prepared fast_paths index
inside the reference's `.routing` file) and `to_payload` ships it with the
graph broadcast, so executors never re-run the ordering.

Measured (round-8 batched independent-set build + cheap 2-hop priority;
queries warm):
  UNIFORM grids — CH's known worst topology (shortcut growth wants a
  nested-dissection order; the grid fixtures ship no index and route by
  the capped frontier SSSP):
    100x100 (10k):   build ~11 s (was ~140 s), query ~19 ms
    200x200 (40k):   build ~72 s (was ~149 s), query ~27 ms
  ROAD-LIKE networks (testing.build_roadlike_csr — local/arterial/highway
  tiers, degree-2 geometry midpoints, dead-end drops — the topology class
  CH and the reference's Italy deployment are built for): the build is
  LINEAR at ~100-130 us/node and queries stay ~1 ms:
    95k nodes:   build ~10 s,    query 0.4-1.0 ms
    383k nodes:  build ~48 s,    query ~2 ms
    3.45M nodes: build 8.5 min,  query p50 4.4 ms / p95 6.5 ms
    9.6M nodes:  build 22.7 min, query p50 ~9 ms / p95 ~15 ms
  (9.6M = the reference's Italy scale, 9.7M nodes. tools/country_scale.py
  reproduces both country-scale rows and checks exactness against frontier
  SSSP; COUNTRY_SCALE.json holds the committed measurements — against the
  reference's <100 ms Italy bar, ITALY.md:374-376.)

Correctness: CH queries return EXACTLY the Dijkstra shortest-path weight.
The witness search is settle-limited, which can only ADD redundant
shortcuts (a truncated witness search pessimistically assumes the shortcut
is needed) — never drop a needed one, so exactness is preserved
(property-tested against testing.dijkstra_p2p on grids and random graphs).
"""

from __future__ import annotations

import heapq

import numpy as np

from duckdb_routing_spark.routing.graph import RoutingGraph

_INF = float("inf")

# Witness searches stop after this many settles; truncation only adds
# redundant shortcuts (see module docstring), it never breaks exactness.
# Too small a limit CASCADES: a missed witness adds a redundant shortcut,
# which densifies the remaining graph, which makes later witnesses harder
# to find (measured on a 100x100 grid: limit 64 -> 214k shortcuts, limit
# 500 -> far fewer and a much faster build despite costlier searches).
WITNESS_SETTLE_LIMIT = 500


class CHIndex:
    """Built contraction hierarchy: upward/downward CSR + shortcut middles.

    ``up_*``: edges (u -> v) with rank[v] > rank[u], forward direction —
    searched from the source. ``down_*``: edges (v <- u) with rank[u] >
    rank[v], stored as a REVERSE adjacency (rows keyed by v's predecessor
    search) — searched from the target. ``mid`` maps a shortcut (u, v, w)
    to its middle node for path unpacking; -1 marks an original edge.
    """

    __slots__ = (
        "rank",
        "up_indptr",
        "up_indices",
        "up_weights",
        "up_mid",
        "down_indptr",
        "down_indices",
        "down_weights",
        "down_mid",
        "n_shortcuts",
        "dist_cache",
    )

    def __init__(self, rank, up, down, n_shortcuts):
        self.rank = rank
        self.up_indptr, self.up_indices, self.up_weights, self.up_mid = up
        self.down_indptr, self.down_indices, self.down_weights, self.down_mid = down
        self.n_shortcuts = n_shortcuts
        # (u, v, mid) -> haversine meters of the edge's ORIGINAL-node
        # expansion; shared across matrix cells (high-rank shortcuts repeat
        # constantly), never persisted (derived, rebuilt on first use)
        self.dist_cache: dict = {}

    def to_arrays(self) -> dict:
        """Flat array dict for artifact sidecars (npz) and broadcast
        payloads — the prepared index is a build-time artifact, exactly like
        the reference's `.routing` file holding the prepared fast_paths
        index, so it ships with the graph instead of being rebuilt per
        executor process."""
        return {
            "rank": self.rank,
            "up_indptr": self.up_indptr,
            "up_indices": self.up_indices,
            "up_weights": self.up_weights,
            "up_mid": self.up_mid,
            "down_indptr": self.down_indptr,
            "down_indices": self.down_indices,
            "down_weights": self.down_weights,
            "down_mid": self.down_mid,
            "n_shortcuts": np.int64(self.n_shortcuts),
        }

    @classmethod
    def from_arrays(cls, z) -> "CHIndex":
        return cls(
            np.asarray(z["rank"]),
            (
                np.asarray(z["up_indptr"]),
                np.asarray(z["up_indices"]),
                np.asarray(z["up_weights"]),
                np.asarray(z["up_mid"]),
            ),
            (
                np.asarray(z["down_indptr"]),
                np.asarray(z["down_indices"]),
                np.asarray(z["down_weights"]),
                np.asarray(z["down_mid"]),
            ),
            n_shortcuts=int(z["n_shortcuts"]),
        )


def _witness_search(fwd, src, avoid, targets, cap, limit=WITNESS_SETTLE_LIMIT):
    """Settle-limited Dijkstra from ``src`` in the remaining graph, skipping
    every node in ``avoid`` (the whole contraction batch — a found witness
    must survive the round). Returns {target: dist} for every target
    settled within ``cap``."""
    dist = {src: 0}
    heap = [(0, src)]
    out = {}
    remaining = set(targets)
    settles = 0
    while heap and remaining and settles < limit:
        d, u = heapq.heappop(heap)
        if d > cap:
            break
        if d > dist.get(u, _INF):
            continue
        settles += 1
        if u in remaining:
            out[u] = d
            remaining.discard(u)
        for v, w in fwd[u].items():
            if v in avoid:
                continue
            nd = d + w
            if nd <= cap and nd < dist.get(v, _INF):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return out


# Degree product above which the 2-hop priority estimate skips witness
# probing and pessimistically counts every pair as a shortcut: hub nodes
# (degree grows as contraction proceeds) then sort to the END of the order
# without paying deg^3 dict probes — exactly where a hub belongs in a CH.
_PRIO_PROBE_CAP = 64


def _priority(fwd, bwd, v):
    """CHEAP edge-difference estimate for the contraction ORDER: shortcut
    count probed with direct-edge and 2-hop witnesses only (no Dijkstra).
    The order is a pure heuristic — ANY order yields an exact CH (the
    contraction itself uses the full settle-limited witness search) — so
    the estimate trades precision for O(deg^2..deg^3) dict probes. Replacing
    the full witness search HERE is what took the 10k-grid build from
    ~140 s to seconds: 85% of the old build was Dijkstra witness work
    inside the priority, not inside the contraction (round-8 profile)."""
    ins = bwd[v]
    outs = fwd[v]
    if not ins or not outs:
        return -(len(ins) + len(outs))
    shortcuts = 0
    probe = len(ins) * len(outs) <= _PRIO_PROBE_CAP
    for u, wu in ins.items():
        fu = fwd[u]
        for t, wt in outs.items():
            if t == u:
                continue
            via = wu + wt
            if probe:
                if fu.get(t, _INF) <= via:
                    continue  # direct witness
                # 2-hop witness u -> x -> t (x != v)
                if any(
                    x != v and wux + fwd[x].get(t, _INF) <= via
                    for x, wux in fu.items()
                ):
                    continue
            shortcuts += 1
    return shortcuts - (len(ins) + len(outs))


def build_ch(g: RoutingGraph) -> CHIndex:
    """Contract the graph in batched INDEPENDENT-SET rounds (the standard
    parallel-CH shape): each round scores every live node with the cheap
    2-hop edge-difference estimate (+ deleted-neighbor count), selects the
    nodes that are strict local minima among their remaining neighbors
    (ties by node id — the global minimum always qualifies, so every round
    progresses), and contracts the whole set with the full settle-limited
    witness search. Witness searches avoid EVERY node of the current set,
    so a found witness survives the round — same-round contractions cannot
    invalidate each other's shortcuts; at worst a witness is missed and a
    redundant shortcut is added (exactness preserved, see module
    docstring). Priorities recompute only for nodes whose neighborhood
    changed (dirty set), never the whole graph.

    The cyclic GC is suspended for the build (restored on exit): the loop
    allocates tens of millions of acyclic tuples/dicts whose generational
    scans cost ~30% of wall-clock (measured 64.9 -> 45.2 s on the 400x400
    road-like graph) while reference counting alone reclaims everything
    here — nothing in the build creates a cycle."""
    import gc

    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        return _build_ch_inner(g)
    finally:
        if gc_was_enabled:
            gc.enable()


def _build_ch_inner(g: RoutingGraph) -> CHIndex:
    n = g.num_nodes
    fwd: list[dict] = [dict() for _ in range(n)]
    bwd: list[dict] = [dict() for _ in range(n)]
    it = zip(
        np.repeat(np.arange(n, dtype=np.int64), np.diff(g.indptr)),
        g.indices,
        g.weights_ms,
    )
    for u, v, w in it:
        u, v, w = int(u), int(v), int(w)
        if u == v:
            continue
        if w < fwd[u].get(v, _INF):
            fwd[u][v] = w
            bwd[v][u] = w

    # all edges of the hierarchy: (u, v, w, mid); mid -1 = original edge
    edges: list[tuple[int, int, int, int]] = [
        (u, v, int(w), -1) for u in range(n) for v, w in fwd[u].items()
    ]

    deleted_neighbors = [0] * n
    rank = np.full(n, -1, dtype=np.int64)
    prio = [0] * n
    live = set(range(n))
    dirty = live.copy()
    order = 0
    while live:
        for v in dirty:
            if rank[v] < 0:
                prio[v] = _priority(fwd, bwd, v) + deleted_neighbors[v]
        dirty = set()
        # independent set: strict local minima of (priority, id) among
        # remaining-graph neighbors
        batch = []
        for v in live:
            pv = (prio[v], v)
            ok = True
            for u in fwd[v]:
                if (prio[u], u) < pv:
                    ok = False
                    break
            if ok:
                for u in bwd[v]:
                    if (prio[u], u) < pv:
                        ok = False
                        break
            if ok:
                batch.append(v)
        in_batch = set(batch)
        # Each member's ins/outs snapshot is the PRE-ROUND adjacency (taken
        # below, before any contraction). Witness searches during the batch
        # run over the partially-updated graph: edges to already-contracted
        # members are gone (irrelevant — `avoid` excluded those paths
        # anyway) and their shortcuts are present (fine — a shortcut equals
        # a real path length, so any witness it enables survives the round
        # verbatim). Either way a found witness remains valid in the final
        # graph; a missed one only adds a redundant shortcut.
        batch_ins = {v: list(bwd[v].items()) for v in batch}
        batch_outs = {v: list(fwd[v].items()) for v in batch}
        for v in batch:
            rank[v] = order
            order += 1
            ins = batch_ins[v]
            outs = batch_outs[v]
            for u, wu in ins:
                need = [t for t, _ in outs if t != u]
                if not need:
                    continue
                cap = max(wu + wt for t, wt in outs if t != u)
                wit = _witness_search(fwd, u, in_batch, need, cap)
                for t, wt in outs:
                    if t == u:
                        continue
                    via = wu + wt
                    if wit.get(t, _INF) > via:
                        if via < fwd[u].get(t, _INF):
                            fwd[u][t] = via
                            bwd[t][u] = via
                            edges.append((u, t, via, v))
                            dirty.add(u)
                            dirty.add(t)
            # disconnect v from the remaining graph
            for u, _ in ins:
                fwd[u].pop(v, None)
                deleted_neighbors[u] += 1
                dirty.add(u)
            for t, _ in outs:
                bwd[t].pop(v, None)
                deleted_neighbors[t] += 1
                dirty.add(t)
            fwd[v].clear()
            bwd[v].clear()
        live -= in_batch
        dirty &= live

    # partition the edge multiset by rank direction. Every entry is kept:
    # an edge or shortcut that a later, cheaper shortcut between the same
    # endpoints undercut stays beside it, the query searches relax both and
    # Dijkstra keeps the minimum.
    up = [[] for _ in range(n)]
    # reverse adjacency keyed by each edge's lower-rank endpoint v: the
    # backward search from the target walks down[v] up to the higher-rank
    # nodes with an edge into v
    down = [[] for _ in range(n)]
    for u, v, w, mid in edges:
        if rank[v] > rank[u]:
            up[u].append((v, w, mid))
        else:
            down[v].append((u, w, mid))  # backward adjacency: from v back to u

    def to_csr(adj):
        indptr = np.zeros(n + 1, dtype=np.int64)
        for i, lst in enumerate(adj):
            indptr[i + 1] = indptr[i] + len(lst)
        m = int(indptr[-1])
        indices = np.zeros(m, dtype=np.int64)
        weights = np.zeros(m, dtype=np.int64)
        mids = np.zeros(m, dtype=np.int64)
        k = 0
        for lst in adj:
            for v, w, mid in lst:
                indices[k], weights[k], mids[k] = v, w, mid
                k += 1
        return indptr, indices, weights, mids

    n_shortcuts = sum(1 for _, _, _, mid in edges if mid >= 0)
    return CHIndex(rank, to_csr(up), to_csr(down), n_shortcuts=n_shortcuts)


def ch_p2p(ch: CHIndex, src: int, dst: int):
    """Exact shortest-path weight via bidirectional upward search, with the
    standard pruning: the two upward Dijkstras run interleaved and a side
    stops once its heap minimum exceeds the best meeting cost found so far
    (safe for CH because any up-down path through a later-settled node
    costs at least the heap minimum of its side).

    Returns (weight_ms, fwd_chain, bwd_chain, meet) where the chains are
    lists of CSR edge indices from src up to the meeting node and from dst
    up to the meeting node (in the down graph); (-1.0, None, None, -1) if
    unreachable."""
    if src == dst:
        return 0.0, [], [], int(src)
    sides = (
        (ch.up_indptr, ch.up_indices, ch.up_weights),
        (ch.down_indptr, ch.down_indices, ch.down_weights),
    )
    dists = ({src: 0}, {dst: 0})
    preds = ({}, {})
    heaps = ([(0, src)], [(0, dst)])
    done = [False, False]
    mu = _INF
    meet = -1
    while not (done[0] and done[1]):
        # advance the side with the smaller frontier minimum
        side = 0 if (not done[0] and (done[1] or heaps[0][0][0] <= heaps[1][0][0])) else 1
        indptr, indices, weights = sides[side]
        dist, pred, heap = dists[side], preds[side], heaps[side]
        other = dists[1 - side]
        d, u = heapq.heappop(heap)
        if d <= dist.get(u, _INF):
            db = other.get(u)
            if db is not None:
                cand = d + db
                if cand < mu or (cand == mu and u < meet):
                    mu = cand
                    meet = u
            for ei in range(indptr[u], indptr[u + 1]):
                v = int(indices[ei])
                nd = d + int(weights[ei])
                if nd < dist.get(v, _INF):
                    dist[v] = nd
                    pred[v] = (u, ei)
                    heapq.heappush(heap, (nd, v))
        if not heap or heap[0][0] > mu:
            done[side] = True
    dist_f, dist_b = dists
    pred_f, pred_b = preds
    if meet < 0:
        return -1.0, None, None, -1
    def chain(pred, node):
        out = []
        while node in pred:
            prev, ei = pred[node]
            out.append(ei)
            node = prev
        return out
    return float(mu), chain(pred_f, meet), chain(pred_b, meet), meet


def _unpack(ch, u, v, mid):
    """Expand one hierarchy edge into original-graph nodes (excluding the
    endpoint u, including v). Iterative with an explicit stack — shortcut
    nesting depth grows with hierarchy height and would blow Python's
    recursion limit on large graphs."""
    out: list[int] = []
    stack = [(u, v, mid)]
    while stack:
        a, b, m = stack.pop()
        if m < 0:
            out.append(b)
            continue
        # shortcut a -> b via m: expand (a -> m) then (m -> b); push the
        # right half first so the left half is emitted first (LIFO)
        _, mid_r = _find_edge(ch, m, b)
        _, mid_l = _find_edge(ch, a, m)
        stack.append((m, b, mid_r))
        stack.append((a, m, mid_l))
    return out


def _find_edge(ch, a, b):
    """Locate hierarchy edge a->b and return (weight, mid), taking the
    minimum-weight occurrence across the up (a's row) and down (b's row)
    arrays."""
    best = (None, -1)
    for ei in range(ch.up_indptr[a], ch.up_indptr[a + 1]):
        if int(ch.up_indices[ei]) == b:
            w = int(ch.up_weights[ei])
            if best[0] is None or w < best[0]:
                best = (w, int(ch.up_mid[ei]))
    for ei in range(ch.down_indptr[b], ch.down_indptr[b + 1]):
        if int(ch.down_indices[ei]) == a:
            w = int(ch.down_weights[ei])
            if best[0] is None or w < best[0]:
                best = (w, int(ch.down_mid[ei]))
    if best[0] is None:
        raise AssertionError(f"hierarchy edge {a}->{b} not found")
    return best


def _reconstruct_path(ch: CHIndex, src: int, dst: int, fwd_chain, bwd_chain) -> list[int]:
    """Original-graph node path from the two search chains.

    fwd_chain is [pred(meet), ..., pred-edge leaving src] (up-CSR edge
    indices); bwd_chain is [ei_1, ..., ei_m] where edge ei_j represents the
    ORIGINAL-direction edge r_{j-1} -> r_j with r_0 = meet, r_m = dst, and
    down_indices[ei_j] = r_{j-1} (the row node r_j is implicit)."""
    path = [int(src)]
    node = int(src)
    # walk src -> meet; each up edge ei lives in the row of its SOURCE node
    for ei in reversed(fwd_chain):
        v = int(ch.up_indices[ei])
        path.extend(_unpack(ch, node, v, int(ch.up_mid[ei])))
        node = v
    # rebuild the (u, v) pairs by walking from the dst end, then emit forward
    pairs = []
    v_node = int(dst)
    for ei in reversed(bwd_chain):
        u_node = int(ch.down_indices[ei])
        pairs.append((u_node, v_node, int(ch.down_mid[ei])))
        v_node = u_node
    for u_node, v_node, mid in reversed(pairs):
        path.extend(_unpack(ch, u_node, v_node, mid))
    return path


def _edge_distance_m(ch: CHIndex, g: RoutingGraph, u: int, v: int, mid: int) -> float:
    """Hop-haversine meters of one hierarchy edge's original-node expansion,
    memoized on the index (kernels.path_distance_m semantics: each original
    edge (a, b) contributes haversine(a, b)). Iterative post-order over the
    shortcut tree — nesting depth grows with hierarchy height."""
    cache = ch.dist_cache
    got = cache.get((u, v, mid))
    if got is not None:
        return got
    from duckdb_routing_spark.routing.geometry import haversine_m_scalar

    stack = [(u, v, mid, False)]
    while stack:
        a, b, m, expanded = stack.pop()
        if (a, b, m) in cache:
            continue
        if m < 0:
            cache[(a, b, m)] = haversine_m_scalar(
                float(g.node_lon[a]), float(g.node_lat[a]),
                float(g.node_lon[b]), float(g.node_lat[b]),
            )
            continue
        _, mid_r = _find_edge(ch, m, b)
        _, mid_l = _find_edge(ch, a, m)
        if expanded:
            cache[(a, b, m)] = cache[(a, m, mid_l)] + cache[(m, b, mid_r)]
        else:
            stack.append((a, b, m, True))
            stack.append((a, m, mid_l, False))
            stack.append((m, b, mid_r, False))
    return cache[(u, v, mid)]


def ch_p2p_path(g: RoutingGraph, src: int, dst: int):
    """kernels-compatible (weight_ms, path_node_list) using the graph's
    prepared CH index (``g._ch``). Never builds one: prepare it with
    ensure_ch before the graph is loaded or shipped."""
    ch = getattr(g, "_ch", None)
    if ch is None:
        raise ValueError("graph carries no prepared CH index; call ch.ensure_ch(g) first")
    w, fwd_chain, bwd_chain, meet = ch_p2p(ch, int(src), int(dst))
    if w < 0:
        return -1.0, None
    if src == dst:
        return 0.0, [int(src)]
    return float(w), _reconstruct_path(ch, int(src), int(dst), fwd_chain, bwd_chain)


def ensure_ch(g: RoutingGraph) -> CHIndex:
    """Prepare the graph's CH index once, before the graph is loaded (or at
    artifact build time): returns the index already on the graph, else
    builds and attaches it. Kernels never call this — a graph without an
    index routes by frontier SSSP (kernels.p2p_path, kernels.matrix_rows)."""
    ch = getattr(g, "_ch", None)
    if ch is None:
        ch = build_ch(g)
        g._ch = ch
    return ch


def ch_upward_sssp(indptr, indices, weights, src: int):
    """FULL upward Dijkstra over one side of the hierarchy — no target, no
    early stop; the search space is the CH upward cone of src, which is
    what makes bucket many-to-many cheap. Returns (dist, pred) dicts with
    the same pred structure as ch_p2p (node -> (prev_node, csr_edge_ix))."""
    dist = {int(src): 0}
    pred: dict[int, tuple[int, int]] = {}
    heap = [(0, int(src))]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, _INF):
            continue
        for ei in range(indptr[u], indptr[u + 1]):
            v = int(indices[ei])
            nd = d + int(weights[ei])
            if nd < dist.get(v, _INF):
                dist[v] = nd
                pred[v] = (u, ei)
                heapq.heappush(heap, (nd, v))
    return dist, pred


def ch_many_to_many(ch: CHIndex, src_nodes, dst_nodes):
    """Bucket-based exact many-to-many over the hierarchy (the CH
    adaptation of Knopp et al. 2007, "Computing Many-to-Many Shortest Paths
    Using Highway Hierarchies"): ONE full upward search per target over the
    down side scatters (target, dist) entries into per-node buckets, then
    ONE full upward search per source scans the buckets of its settled
    nodes — N+M upward-cone searches total instead of N full-graph SSSPs,
    the asymptotic win on country-scale graphs where the upward cone is
    orders of magnitude smaller than the graph. Exact by the CH cover
    property: dist(s, t) = min over v of ds_up(v) + dt_down(v).

    Negative node ids (failed snaps) yield unreachable rows. Returns
    (time_ms float64[N, M] with -1.0 unreachable, meet int64[N, M],
    src_states, dst_states) where the states are each search's (dist, pred)
    dicts, kept so callers can unpack per-pair paths via ch_m2m_path."""
    m = len(dst_nodes)
    buckets: dict[int, list[tuple[int, int]]] = {}
    dst_states: list[tuple[dict, dict] | None] = []
    for ti, t in enumerate(dst_nodes):
        t = int(t)
        if t < 0:
            dst_states.append(None)
            continue
        dist, pred = ch_upward_sssp(ch.down_indptr, ch.down_indices, ch.down_weights, t)
        dst_states.append((dist, pred))
        for v, dv in dist.items():
            buckets.setdefault(v, []).append((ti, dv))

    n = len(src_nodes)
    time_ms = np.full((n, m), -1.0, dtype=np.float64)
    meets = np.full((n, m), -1, dtype=np.int64)
    src_states: list[tuple[dict, dict] | None] = []
    int_inf = np.iinfo(np.int64).max  # module _INF is float('inf')
    best = np.empty(m, dtype=np.int64)
    bmeet = np.empty(m, dtype=np.int64)
    for si, s in enumerate(src_nodes):
        s = int(s)
        if s < 0:
            src_states.append(None)
            continue
        dist, pred = ch_upward_sssp(ch.up_indptr, ch.up_indices, ch.up_weights, s)
        src_states.append((dist, pred))
        best.fill(int_inf)
        bmeet.fill(-1)
        for v, dv in dist.items():
            for ti, dt in buckets.get(v, ()):
                c = dv + dt
                # same deterministic tie-break as ch_p2p: lowest meet node
                if c < best[ti] or (c == best[ti] and v < bmeet[ti]):
                    best[ti] = c
                    bmeet[ti] = v
        hit = best < int_inf
        time_ms[si, hit] = best[hit].astype(np.float64)
        meets[si, hit] = bmeet[hit]
    return time_ms, meets, src_states, dst_states


def ch_m2m_path(
    ch: CHIndex, src: int, dst: int, meet: int, src_state, dst_state
) -> list[int] | None:
    """Original-node path for one matrix cell from the bucket search states
    (the same chain walk + shortcut unpack as ch_p2p_path)."""
    src, dst, meet = int(src), int(dst), int(meet)
    if meet < 0 or src_state is None or dst_state is None:
        return None
    if src == dst:
        return [src]
    _, spred = src_state
    _, dpred = dst_state
    fwd_chain = []
    node = meet
    while node in spred:
        prev, ei = spred[node]
        fwd_chain.append(ei)
        node = prev
    bwd_chain = []
    node = meet
    while node in dpred:
        prev, ei = dpred[node]
        bwd_chain.append(ei)
        node = prev
    return _reconstruct_path(ch, src, dst, fwd_chain, bwd_chain)


def ch_m2m_distance_m(
    ch: CHIndex, g: RoutingGraph, src: int, dst: int, meet: int, src_state, dst_state
) -> float | None:
    """Hop-haversine distance of one matrix cell WITHOUT materializing the
    node path: walk the two pred chains and sum memoized per-edge
    expansions (_edge_distance_m) — the repeated high-rank shortcuts make
    the cache hit rate high across a matrix call."""
    src, dst, meet = int(src), int(dst), int(meet)
    if meet < 0 or src_state is None or dst_state is None:
        return None
    if src == dst:
        return 0.0
    _, spred = src_state
    _, dpred = dst_state
    total = 0.0
    # up side: edge ei lives in the row of its source node; walk meet -> src
    node = meet
    while node in spred:
        prev, ei = spred[node]
        total += _edge_distance_m(ch, g, prev, node, int(ch.up_mid[ei]))
        node = prev
    # down side: edge ei represents ORIGINAL-direction r_{j-1} -> r_j with
    # down_indices[ei] = r_{j-1}; walking dst-side preds from meet gives the
    # implicit row nodes
    node = meet
    while node in dpred:
        prev, ei = dpred[node]
        total += _edge_distance_m(ch, g, node, prev, int(ch.down_mid[ei]))
        node = prev
    return total
