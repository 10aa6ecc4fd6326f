"""HMM map matching (Viterbi) for trace_route / trace_attributes.

The reference delegates tracing to Valhalla's HMM matcher
(valhalla-wrapper/src/wrapper.cpp:440-443, the meili component); the
previous approximation here snapped every trace point to its single
nearest node, which diverges on noisy GPS shapes between intersections.
This module implements the published Newson-Krumm 2009 formulation over
the graph's spatial hash:

  - candidates: k nearest main-road nodes per trace point;
  - emission:   log p = -0.5 * (snap_m / sigma_z)^2  (gaussian GPS noise);
  - transition: log p = -|route_m - great_circle_m| / beta  (route detours
                much longer than the straight-line step are implausible);
  - decode:     Viterbi over the trellis, deterministic tie-break toward
                the lower candidate index.

Transition route lengths come from one time-shortest frontier SSSP per live
candidate per step (kernels.sssp_multi_target: at most k searches per trace
point, each capped at the farthest of the next point's candidates) and the
tight-edge path to each candidate (kernels.path_to), its length summed by
haversine over the path nodes — the same paths and distance semantics as
the engine's routes (rust/src/lib.rs:779-795). Runs driver-side inside
engine.request(): trace shapes are service-bounded (tens to hundreds of
points), not a data-scale pipeline.
"""

from __future__ import annotations

import numpy as np

from duckdb_routing_spark.routing import kernels
from duckdb_routing_spark.routing.geometry import haversine_m_scalar
from duckdb_routing_spark.routing.graph import RoutingGraph

# Newson-Krumm defaults, in meters: sigma_z = GPS noise std-dev, beta =
# expected detour scale. Tuned for ~25 m consumer GPS noise.
SIGMA_Z_M = 25.0
BETA_M = 50.0

# degree -> meter conversion factor at the equator (the spatial hash works
# in squared degrees; good enough as an emission scale for small extents)
_DEG_M = 111_320.0


def hmm_match(
    g: RoutingGraph,
    lons,
    lats,
    k: int = 5,
    sigma_z_m: float = SIGMA_Z_M,
    beta_m: float = BETA_M,
) -> list[int] | None:
    """Match a GPS shape to a node sequence; None if any point has no
    candidates or no transition survives (caller falls back / errors)."""
    n = len(lons)
    if n == 0:
        return None
    cands: list[np.ndarray] = []
    emis: list[np.ndarray] = []
    for lon, lat in zip(lons, lats):
        nodes, d2 = g.knearest_main_nodes(float(lon), float(lat), k)
        if len(nodes) == 0:
            return None
        snap_m = np.sqrt(d2) * _DEG_M
        cands.append(nodes)
        emis.append(-0.5 * (snap_m / sigma_z_m) ** 2)
    # Viterbi
    score = emis[0].copy()
    back: list[np.ndarray] = []
    for t in range(1, n):
        prev_nodes = cands[t - 1]
        cur_nodes = cands[t]
        gc_m = haversine_m_scalar(
            float(lons[t - 1]), float(lats[t - 1]), float(lons[t]), float(lats[t])
        )
        # route length from every prev candidate to every current candidate
        trans = np.full((len(prev_nodes), len(cur_nodes)), -np.inf)
        for i, s in enumerate(prev_nodes):
            if not np.isfinite(score[i]):
                continue
            w, dist = kernels.sssp_multi_target(g, int(s), cur_nodes)
            for j, t_node in enumerate(cur_nodes):
                if w[j] < 0:
                    continue
                path = kernels.path_to(g, dist, int(s), int(t_node))
                route_m = kernels.path_distance_m(g, path)
                trans[i, j] = -abs(route_m - gc_m) / beta_m
        total = score[:, None] + trans + emis[t][None, :]
        best_prev = np.argmax(total, axis=0)  # ties -> lowest index (argmax rule)
        score = total[best_prev, np.arange(len(cur_nodes))]
        back.append(best_prev)
        if not np.isfinite(score).any():
            return None
    # backtrack
    idx = int(np.argmax(score))
    rev = [idx]
    for bp in reversed(back):
        idx = int(bp[idx])
        rev.append(idx)
    rev.reverse()
    return [int(cands[t][i]) for t, i in enumerate(rev)]
