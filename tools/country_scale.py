"""Country-scale p2p demonstration: CH build + warm-query latency at
multi-million-node scale, against the reference's deployment bar
(ITALY.md:374-376 — warm point-to-point <100 ms on 9.7M-node Italy, CH
prepared once at build time via fast_paths; rust/src/lib.rs:260).

Graph: `testing.build_roadlike_csr` — a synthetic ROAD-LIKE network
(local/arterial/highway tiers, degree-2 geometry midpoints on local ways,
deterministic dead-end drops), the topology class CH is designed for.
Uniform lattices are the documented worst case (routing/ch.py docstring)
and are reported separately by the scale tests.

Measures, on one graph:
  - build_ch wall-clock (the batched independent-set build);
  - CH warm p2p latency over `--pairs` deterministic arterial pairs
    (min/p50/p95/max), exactness-checked against frontier SSSP on a sample;
  - `kernels.p2p_path` latency on the same sampled pairs over the graph
    WITHOUT the index (the capped frontier SSSP every graph without a
    prepared CH index routes by; it needs no preparation);
  - plain heap Dijkstra on one cross-map pair for reference.

Usage:
    python tools/country_scale.py [--dim 1200] [--pairs 50] [--out FILE]
Prints ONE JSON line; --out appends it to a file.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from duckdb_routing_spark.routing import ch as chm  # noqa: E402
from duckdb_routing_spark.routing import kernels  # noqa: E402
from duckdb_routing_spark.testing import build_roadlike_csr, dijkstra_p2p_path  # noqa: E402


def _rss_mb() -> float:
    """Current resident set (VmRSS) in MiB from /proc/self/status."""
    return _vm_field("VmRSS")


def _peak_rss_mb() -> float:
    """Process-lifetime peak resident set (VmHWM) in MiB — the number that
    answers 'does the build fit on this driver' (VERDICT r8 #4: the Europe
    extrapolation needs the measured per-node memory constant)."""
    return _vm_field("VmHWM")


def _vm_field(key: str) -> float:
    try:
        with open("/proc/self/status") as f:
            for ln in f:
                if ln.startswith(key + ":"):
                    return int(ln.split()[1]) / 1024.0  # kB -> MiB
    except OSError:
        pass
    return -1.0


def _arterial_pairs(dim: int, n_pairs: int) -> list[tuple[int, int]]:
    """Deterministic (src, dst) intersection pairs on the arterial grid
    (every 8th line — guaranteed on the connected backbone), spread from
    cross-map to mid-range."""
    arts = [(r, c) for r in range(0, dim, 8) for c in range(0, dim, 8)]
    pairs = []
    state = 0x9E3779B9
    for i in range(n_pairs):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = arts[state % len(arts)]
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = arts[state % len(arts)]
        if a == b:
            b = arts[(state + 1) % len(arts)]
        pairs.append((a[0] * dim + a[1], b[0] * dim + b[1]))
    return pairs


def main() -> None:
    dim = int(sys.argv[sys.argv.index("--dim") + 1]) if "--dim" in sys.argv else 1200
    n_pairs = int(sys.argv[sys.argv.index("--pairs") + 1]) if "--pairs" in sys.argv else 50
    out_file = sys.argv[sys.argv.index("--out") + 1] if "--out" in sys.argv else None

    t0 = time.perf_counter()
    g = build_roadlike_csr(dim, dim)
    gen_s = time.perf_counter() - t0
    rss_graph = _rss_mb()
    print(f"# graph: {g.num_nodes} nodes, {len(g.indices)} directed edges ({gen_s:.1f} s, "
          f"rss {rss_graph:.0f} MiB)", file=sys.stderr)

    t0 = time.perf_counter()
    idx = chm.build_ch(g)
    build_s = time.perf_counter() - t0
    rss_build = _rss_mb()
    peak_rss = _peak_rss_mb()
    print(f"# CH build: {build_s:.1f} s, {idx.n_shortcuts} shortcuts, "
          f"rss {rss_build:.0f} MiB (peak {peak_rss:.0f} MiB)", file=sys.stderr)

    pairs = _arterial_pairs(dim, n_pairs)
    # warm the index/caches with one pass, then time
    for s, t in pairs[:3]:
        chm.ch_p2p(idx, s, t)
    ch_ms = []
    ch_w = []
    for s, t in pairs:
        q0 = time.perf_counter()
        w, *_ = chm.ch_p2p(idx, s, t)
        ch_ms.append((time.perf_counter() - q0) * 1000)
        ch_w.append(w)

    # `idx` is held apart from the graph, so p2p_path takes the frontier branch
    sample = pairs[:: max(1, n_pairs // 10)]
    frontier_ms = []
    exact = 0
    for (s, t), wch in zip(sample, ch_w[:: max(1, n_pairs // 10)]):
        q0 = time.perf_counter()
        w_p2p, _ = kernels.p2p_path(g, s, t)
        frontier_ms.append((time.perf_counter() - q0) * 1000)
        wd = float(kernels.sssp_frontier_ms(g, s)[t])
        wd = -1.0 if wd == float(np.iinfo(np.int64).max) else wd
        if w_p2p == wd and wch == wd:
            exact += 1

    s, t = pairs[0]
    q0 = time.perf_counter()
    dijkstra_p2p_path(g, s, t)
    dij_ms = (time.perf_counter() - q0) * 1000

    arr = np.asarray(ch_ms)
    res = {
        "nodes": int(g.num_nodes),
        "directed_edges": int(len(g.indices)),
        "shortcuts": int(idx.n_shortcuts),
        "ch_build_sec": round(build_s, 1),
        "ch_us_per_node": round(build_s / g.num_nodes * 1e6, 1),
        "ch_query_ms": {
            "min": round(float(arr.min()), 2),
            "p50": round(float(np.percentile(arr, 50)), 2),
            "p95": round(float(np.percentile(arr, 95)), 2),
            "max": round(float(arr.max()), 2),
            "n": n_pairs,
        },
        "frontier_query_ms": {
            "min": round(float(np.min(frontier_ms)), 1),
            "p50": round(float(np.percentile(frontier_ms, 50)), 1),
            "max": round(float(np.max(frontier_ms)), 1),
            "n": len(frontier_ms),
        },
        "dijkstra_ms_crossmap": round(dij_ms, 0),
        "exact_sampled": f"{exact}/{len(sample)}",
        "italy_bar_ms": 100,
        "rss_after_graph_mb": round(rss_graph, 0),
        "rss_after_build_mb": round(rss_build, 0),
        "peak_rss_mb": round(_peak_rss_mb(), 0),
        # peak bytes per graph node — the Europe-ceiling constant: nodes
        # that fit in RAM ~= RAM / this
        "peak_bytes_per_node": round(_peak_rss_mb() * 1024 * 1024 / g.num_nodes, 0),
    }
    line = json.dumps(res)
    print(line)
    if out_file:
        with open(out_file, "a") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
