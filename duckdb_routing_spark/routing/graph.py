"""The broadcastable road-network graph.

The reference's `RoutingData { node_positions, fast_graph, spatial_index,
adj_list }` (rust/src/lib.rs:147-153) becomes a set of flat numpy arrays:

  - ``node_lon`` / ``node_lat``  (float64[N])      node coordinates
  - ``indptr`` / ``indices`` / ``weights_ms`` / ``lengths_m``
        CSR adjacency sorted by source node (int64/int32/int64/float64)
  - ``main_nodes`` (int64[M])                       snap-index candidates
  - a uniform-grid spatial hash over the main nodes (cell ids + offsets)

Flat arrays pickle compactly, broadcast once per executor, and are shared
read-only by every Arrow batch — the Spark analog of the Rust engine's
thread-local `PathCalculator` over one shared graph (lib.rs:504-533), minus
the locking. Nearest-neighbor semantics match the reference's R-tree: squared
Euclidean distance in (lon, lat) degree space over main-road nodes only
(lib.rs:121-142, 234-242).

The only routing state that travels with the graph is an optional prepared
contraction-hierarchy index (``_ch``): the ``ch_<mode>.npz`` artifact
sidecar and the ``_ch_arrays`` payload field. Nothing else is derived per
executor beyond the reverse CSR that kernels.path_to caches on first use;
an ``alt_<mode>.npz`` sidecar from older builds is ignored.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd


@dataclass
class RoutingGraph:
    node_lon: np.ndarray
    node_lat: np.ndarray
    indptr: np.ndarray
    indices: np.ndarray
    weights_ms: np.ndarray
    lengths_m: np.ndarray
    main_nodes: np.ndarray
    # spatial hash over main nodes
    cell_size: float = 0.0
    grid_min_lon: float = 0.0
    grid_min_lat: float = 0.0
    grid_ncols: int = 0
    grid_nrows: int = 0
    cell_starts: np.ndarray = field(default=None)  # int64[nrows*ncols+1]
    cell_points: np.ndarray = field(default=None)  # indices into main_nodes order

    @property
    def num_nodes(self) -> int:
        return len(self.node_lon)

    @property
    def num_edges(self) -> int:
        return len(self.indices)

    # ------------------------------------------------------------------
    # construction
    # ------------------------------------------------------------------

    @classmethod
    def from_arrays(
        cls,
        node_lon: np.ndarray,
        node_lat: np.ndarray,
        src: np.ndarray,
        dst: np.ndarray,
        weight_ms: np.ndarray,
        length_m: np.ndarray,
        main_nodes: np.ndarray,
    ) -> "RoutingGraph":
        n = len(node_lon)
        order = np.argsort(src, kind="stable")
        src = np.asarray(src, dtype=np.int64)[order]
        dst = np.asarray(dst, dtype=np.int64)[order]
        weight_ms = np.asarray(weight_ms, dtype=np.int64)[order]
        length_m = np.asarray(length_m, dtype=np.float64)[order]
        indptr = np.zeros(n + 1, dtype=np.int64)
        np.add.at(indptr, src + 1, 1)
        np.cumsum(indptr, out=indptr)
        g = cls(
            node_lon=np.asarray(node_lon, dtype=np.float64),
            node_lat=np.asarray(node_lat, dtype=np.float64),
            indptr=indptr,
            indices=dst,
            weights_ms=weight_ms,
            lengths_m=length_m,
            main_nodes=np.asarray(main_nodes, dtype=np.int64),
        )
        g._build_spatial_hash()
        return g

    @classmethod
    def from_pandas(cls, nodes: pd.DataFrame, edges: pd.DataFrame) -> "RoutingGraph":
        """nodes: node_id, lon, lat, main_road; edges: src, dst, weight_ms,
        length_m — node_id must be a dense 0..N-1 index (the builder remaps
        raw OSM ids, like rust/src/lib.rs:225-243)."""
        nodes = nodes.sort_values("node_id")
        if not (nodes["node_id"].to_numpy() == np.arange(len(nodes))).all():
            raise ValueError("node_id must be dense 0..N-1; run the builder's remap first")
        main = nodes.loc[nodes["main_road"].astype(bool), "node_id"].to_numpy(np.int64)
        return cls.from_arrays(
            nodes["lon"].to_numpy(np.float64),
            nodes["lat"].to_numpy(np.float64),
            edges["src"].to_numpy(np.int64),
            edges["dst"].to_numpy(np.int64),
            edges["weight_ms"].to_numpy(np.int64),
            edges["length_m"].to_numpy(np.float64),
            main,
        )

    def _build_spatial_hash(self) -> None:
        m = len(self.main_nodes)
        if m == 0:
            self.cell_starts = np.zeros(1, dtype=np.int64)
            self.cell_points = np.zeros(0, dtype=np.int64)
            return
        lons = self.node_lon[self.main_nodes]
        lats = self.node_lat[self.main_nodes]
        min_lon, max_lon = float(lons.min()), float(lons.max())
        min_lat, max_lat = float(lats.min()), float(lats.max())
        span_lon = max(max_lon - min_lon, 1e-9)
        span_lat = max(max_lat - min_lat, 1e-9)
        # target ~2 points per cell, clamp the REALIZED grid to <= 4M cells:
        # the sqrt formula alone under-sizes `cell` for near-collinear point
        # sets (tiny lat span, wide lon span floors nrows at 1 while ncols
        # explodes), so rescale until ncols*nrows actually fits the clamp —
        # cell_starts allocates int64[nrows*ncols+1] and must stay bounded.
        max_cells = 4_000_000
        target_cells = max(1, min(m // 2 + 1, max_cells))
        cell = max((span_lon * span_lat / target_cells) ** 0.5, 1e-9)
        for _ in range(64):
            ncols = int(span_lon / cell) + 1
            nrows = int(span_lat / cell) + 1
            if ncols * nrows <= max_cells:
                break
            cell *= max(((ncols * nrows) / max_cells) ** 0.5, 1.01)
        col = np.minimum(((lons - min_lon) / cell).astype(np.int64), ncols - 1)
        row = np.minimum(((lats - min_lat) / cell).astype(np.int64), nrows - 1)
        cell_id = row * ncols + col
        order = np.argsort(cell_id, kind="stable")
        sorted_cells = cell_id[order]
        starts = np.zeros(nrows * ncols + 1, dtype=np.int64)
        np.add.at(starts, sorted_cells + 1, 1)
        np.cumsum(starts, out=starts)
        self.cell_size = cell
        self.grid_min_lon = min_lon
        self.grid_min_lat = min_lat
        self.grid_ncols = ncols
        self.grid_nrows = nrows
        self.cell_starts = starts
        self.cell_points = order  # positions into main_nodes

    # ------------------------------------------------------------------
    # nearest-neighbor snap (squared Euclidean in degree space, main roads
    # only — matching the reference R-tree, rust/src/lib.rs:121-142)
    # ------------------------------------------------------------------

    def _cell_candidates(self, crow: int, ccol: int, ring: int) -> np.ndarray:
        """Positions (into main_nodes) of all points in the square ring at
        Chebyshev distance `ring` around (crow, ccol)."""
        out = []
        r0, r1 = crow - ring, crow + ring
        c0, c1 = ccol - ring, ccol + ring
        for r in range(max(r0, 0), min(r1, self.grid_nrows - 1) + 1):
            if ring and r not in (r0, r1):
                for c in (c0, c1):
                    if 0 <= c < self.grid_ncols:
                        cid = r * self.grid_ncols + c
                        out.append(self.cell_points[self.cell_starts[cid] : self.cell_starts[cid + 1]])
            else:
                cs = max(c0, 0)
                ce = min(c1, self.grid_ncols - 1)
                if cs <= ce:
                    cid0 = r * self.grid_ncols + cs
                    cid1 = r * self.grid_ncols + ce
                    # cells in one row are contiguous in cell-id space
                    out.append(self.cell_points[self.cell_starts[cid0] : self.cell_starts[cid1 + 1]])
        if not out:
            return np.zeros(0, dtype=np.int64)
        return np.concatenate(out)

    def nearest_main_node(self, lon: float, lat: float) -> int:
        """Index of the nearest main-road node, or -1 if none exist."""
        if len(self.main_nodes) == 0:
            return -1
        ccol = int((lon - self.grid_min_lon) / self.cell_size)
        crow = int((lat - self.grid_min_lat) / self.cell_size)
        ccol = min(max(ccol, 0), self.grid_ncols - 1)
        crow = min(max(crow, 0), self.grid_nrows - 1)
        max_ring = max(self.grid_nrows, self.grid_ncols)
        best_pos = -1
        best_d2 = np.inf
        found_ring = -1
        ring = 0
        while ring <= max_ring:
            cand = self._cell_candidates(crow, ccol, ring)
            if len(cand):
                nodes = self.main_nodes[cand]
                d2 = (self.node_lon[nodes] - lon) ** 2 + (self.node_lat[nodes] - lat) ** 2
                dmin = float(d2.min())
                # deterministic tie-break: lowest node id among equal minima
                # (matches the oracle's ORDER BY dist, node_id and the
                # vectorized batch snap)
                nmin = int(nodes[d2 == dmin].min())
                if dmin < best_d2 or (dmin == best_d2 and nmin < best_pos):
                    best_d2 = dmin
                    best_pos = nmin
                if found_ring < 0:
                    found_ring = ring
            # after the first hit, one extra ring guarantees correctness for a
            # square grid when the query point lies inside the grid; points far
            # outside need rings until the true nearest cell band is covered.
            if found_ring >= 0 and ring >= found_ring + 1 + int(np.sqrt(best_d2) / self.cell_size):
                break
            ring += 1
        return best_pos

    def knearest_main_nodes(self, lon: float, lat: float, k: int = 5):
        """Up to k nearest main-road nodes: (node_ids int64[k'], d2 degree²),
        sorted by (distance, node_id). Ring search expands until k hits are
        certain (one extra band past the k-th hit's radius), mirroring
        nearest_main_node's termination rule — the candidate generator for
        HMM map matching (Valhalla's matcher likewise pulls a candidate set
        per trace point, valhalla-wrapper/src/wrapper.cpp:440-443)."""
        if len(self.main_nodes) == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0)
        ccol = int((lon - self.grid_min_lon) / self.cell_size)
        crow = int((lat - self.grid_min_lat) / self.cell_size)
        ccol = min(max(ccol, 0), self.grid_ncols - 1)
        crow = min(max(crow, 0), self.grid_nrows - 1)
        max_ring = max(self.grid_nrows, self.grid_ncols)
        pos: list[np.ndarray] = []
        found_ring = -1
        ring = 0
        kth_d = np.inf
        while ring <= max_ring:
            cand = self._cell_candidates(crow, ccol, ring)
            if len(cand):
                pos.append(cand)
                if found_ring < 0:
                    found_ring = ring
                n_found = sum(len(p) for p in pos)
                if n_found >= k:
                    nodes = self.main_nodes[np.concatenate(pos)]
                    d2 = (self.node_lon[nodes] - lon) ** 2 + (self.node_lat[nodes] - lat) ** 2
                    kth_d = float(np.sqrt(np.partition(d2, k - 1)[k - 1]))
            if found_ring >= 0 and ring >= found_ring + 1 + int(
                (0.0 if kth_d == np.inf else kth_d) / self.cell_size
            ) and sum(len(p) for p in pos) >= min(k, len(self.main_nodes)):
                break
            ring += 1
        nodes = self.main_nodes[np.concatenate(pos)]
        d2 = (self.node_lon[nodes] - lon) ** 2 + (self.node_lat[nodes] - lat) ** 2
        order = np.lexsort((nodes, d2))[: min(k, len(nodes))]
        return nodes[order].astype(np.int64), d2[order]

    def edge_weight_ms(self, src: int, dst: int):
        """Weight of the (src, dst) edge in ms, or None if absent; parallel
        edges resolve to the minimum (the one any shortest path uses)."""
        lo, hi = self.indptr[src], self.indptr[src + 1]
        hits = self.weights_ms[lo:hi][self.indices[lo:hi] == dst]
        return int(hits.min()) if len(hits) else None

    def nearest_main_nodes(self, lons: np.ndarray, lats: np.ndarray) -> np.ndarray:
        """Vectorized batch snap. Fast path: gather every candidate in each
        query's 3x3 cell neighborhood with one ragged numpy pass and reduce
        by (distance, node_id). A result is certain when its distance is
        <= cell_size (a point two rings out is at least one full cell band
        away); uncertain or empty queries fall back to the exact ring
        search. Per-row Python snapping was the batch kernel's bottleneck
        (~40k scalar calls per 20k-pair batch)."""
        lons = np.asarray(lons, dtype=np.float64)
        lats = np.asarray(lats, dtype=np.float64)
        n = lons.size
        out = np.full(n, -1, dtype=np.int64)
        if len(self.main_nodes) == 0 or n == 0:
            return out
        col = np.clip(
            ((lons - self.grid_min_lon) / self.cell_size).astype(np.int64), 0, self.grid_ncols - 1
        )
        row = np.clip(
            ((lats - self.grid_min_lat) / self.cell_size).astype(np.int64), 0, self.grid_nrows - 1
        )
        qq_all, mn_all, d2_all = [], [], []
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                r = row + dr
                c = col + dc
                valid = (r >= 0) & (r < self.grid_nrows) & (c >= 0) & (c < self.grid_ncols)
                if not valid.any():
                    continue
                qidx = np.nonzero(valid)[0]
                cid = r[qidx] * self.grid_ncols + c[qidx]
                starts = self.cell_starts[cid]
                counts = self.cell_starts[cid + 1] - starts
                tot = int(counts.sum())
                if tot == 0:
                    continue
                cum = np.cumsum(counts)
                pidx = np.repeat(starts - (cum - counts), counts) + np.arange(tot, dtype=np.int64)
                mn = self.main_nodes[self.cell_points[pidx]]
                qq = np.repeat(qidx, counts)
                dx = self.node_lon[mn] - lons[qq]
                dy = self.node_lat[mn] - lats[qq]
                qq_all.append(qq)
                mn_all.append(mn)
                d2_all.append(dx * dx + dy * dy)
        best = np.full(n, np.inf)
        if qq_all:
            qq = np.concatenate(qq_all)
            mn = np.concatenate(mn_all)
            d2 = np.concatenate(d2_all)
            order = np.lexsort((mn, d2, qq))  # per query: min distance, then min node id
            qq_s, mn_s, d2_s = qq[order], mn[order], d2[order]
            first = np.ones(len(qq_s), dtype=bool)
            first[1:] = qq_s[1:] != qq_s[:-1]
            out[qq_s[first]] = mn_s[first]
            best[qq_s[first]] = d2_s[first]
        unsure = (out < 0) | (np.sqrt(best) > self.cell_size)
        for i in np.nonzero(unsure)[0]:
            out[i] = self.nearest_main_node(float(lons[i]), float(lats[i]))
        return out

    # ------------------------------------------------------------------
    # artifact persistence (the Parquet analog of the reference's bincode
    # cache `<pbf>.<mode>.routing`, rust/src/lib.rs:164-166, 271-283)
    # ------------------------------------------------------------------

    def save(self, dir_path: str, mode: str) -> None:
        os.makedirs(dir_path, exist_ok=True)
        nodes = pd.DataFrame(
            {
                "node_id": np.arange(self.num_nodes, dtype=np.int64),
                "lon": self.node_lon,
                "lat": self.node_lat,
                "main_road": np.isin(np.arange(self.num_nodes), self.main_nodes),
            }
        )
        src = np.repeat(np.arange(self.num_nodes, dtype=np.int64), np.diff(self.indptr))
        edges = pd.DataFrame(
            {"src": src, "dst": self.indices, "weight_ms": self.weights_ms, "length_m": self.lengths_m}
        )
        nodes.to_parquet(os.path.join(dir_path, f"nodes_{mode}.parquet"), index=False)
        edges.to_parquet(os.path.join(dir_path, f"edges_{mode}.parquet"), index=False)
        chx = getattr(self, "_ch", None)
        if chx is not None:
            # build-time contraction-hierarchy index (the reference persists
            # its prepared fast_paths index inside the .routing artifact the
            # same way): loaders skip the node-ordering build entirely
            np.savez_compressed(os.path.join(dir_path, f"ch_{mode}.npz"), **chx.to_arrays())

    @classmethod
    def load(cls, dir_path: str, mode: str, bbox: tuple | None = None) -> "RoutingGraph":
        """Load an artifact; `bbox=(min_lon, min_lat, max_lon, max_lat)`
        loads only the windowed SUBGRAPH — the partition-pruning analog of
        Valhalla's regional tile loading (a city routing service over a
        country artifact reads the city, not the country). The lon/lat
        filter pushes into the parquet scan (row-group pruning via pyarrow
        filters); surviving nodes are densely re-indexed and edges keep
        only endpoints inside the window. Roads crossing the boundary are
        cut — choose a bbox with margin, like any tile-based router.

        A prepared CH index is whole-graph; a windowed load skips it. An
        ``alt_<mode>.npz`` left by older builds is ignored."""
        filters = None
        if bbox is not None:
            min_lon, min_lat, max_lon, max_lat = map(float, bbox)
            filters = [
                ("lon", ">=", min_lon), ("lon", "<=", max_lon),
                ("lat", ">=", min_lat), ("lat", "<=", max_lat),
            ]
        nodes = pd.read_parquet(os.path.join(dir_path, f"nodes_{mode}.parquet"), filters=filters)
        edges = pd.read_parquet(os.path.join(dir_path, f"edges_{mode}.parquet"))
        if bbox is not None:
            old_ids = np.sort(nodes["node_id"].to_numpy(np.int64))
            keep = pd.Series(np.arange(len(old_ids), dtype=np.int64), index=old_ids)
            nodes = nodes.assign(node_id=keep.loc[nodes["node_id"]].to_numpy())
            in_window = edges["src"].isin(keep.index) & edges["dst"].isin(keep.index)
            edges = edges.loc[in_window]
            edges = edges.assign(
                src=keep.loc[edges["src"]].to_numpy(), dst=keep.loc[edges["dst"]].to_numpy()
            )
            return cls.from_pandas(nodes, edges)
        g = cls.from_pandas(nodes, edges)
        ch_path = os.path.join(dir_path, f"ch_{mode}.npz")
        if os.path.exists(ch_path):
            from duckdb_routing_spark.routing.ch import CHIndex

            with np.load(ch_path) as z:
                g._ch = CHIndex.from_arrays(z)
        return g

    # picklable payload for sc.broadcast (exclude nothing — all arrays useful)
    def to_payload(self) -> dict:
        payload = self._base_payload()
        chx = getattr(self, "_ch", None)
        if chx is not None:
            # ship the prepared CH index with the broadcast (built once,
            # driver-side or from the artifact sidecar — never per executor)
            payload["_ch_arrays"] = chx.to_arrays()
        return payload

    def _base_payload(self) -> dict:
        return {
            "node_lon": self.node_lon,
            "node_lat": self.node_lat,
            "indptr": self.indptr,
            "indices": self.indices,
            "weights_ms": self.weights_ms,
            "lengths_m": self.lengths_m,
            "main_nodes": self.main_nodes,
            "cell_size": self.cell_size,
            "grid_min_lon": self.grid_min_lon,
            "grid_min_lat": self.grid_min_lat,
            "grid_ncols": self.grid_ncols,
            "grid_nrows": self.grid_nrows,
            "cell_starts": self.cell_starts,
            "cell_points": self.cell_points,
        }

    @classmethod
    def from_payload(cls, payload: dict) -> "RoutingGraph":
        ch_arrays = payload.pop("_ch_arrays", None)
        g = cls(**payload)
        if ch_arrays is not None:
            from duckdb_routing_spark.routing.ch import CHIndex

            g._ch = CHIndex.from_arrays(ch_arrays)
        return g
