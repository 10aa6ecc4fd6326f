"""Scale-trend validation for the p2p kernel: a 250k-node lattice
(country-scale direction; Italy is 9.7M nodes per ITALY.md:55-56). Checks
that the capped frontier search stays exact and keeps beating plain heap
Dijkstra as the graph grows, with no per-graph preparation — the property
that keeps warm single-pair queries cheap on graphs that ship no CH index
(the reference prepares one, rust/src/lib.rs:260). Uniform lattices are
this kernel's weakest topology: the cap prunes little on a grid."""

import os
import time

import numpy as np

from duckdb_routing_spark.routing import kernels
from duckdb_routing_spark.testing import build_big_grid_csr, dijkstra_p2p, dijkstra_p2p_path


def test_capped_frontier_p2p_scales_to_quarter_million_nodes():
    g = build_big_grid_csr(500, 500)
    assert g.num_nodes == 250_000

    pairs = [(0, g.num_nodes - 1), (0, g.num_nodes // 2), (499, 250_000 - 500)]
    t_uni = t_cap = 0.0
    for s, t in pairs:
        # per-pair best-of-2 on BOTH sides: an outside-load burst poisons
        # one run, not the ratio (this host shows multi-second bursts)
        d_uni = d_cap = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            w_uni, _ = dijkstra_p2p_path(g, s, t)
            d_uni = min(d_uni, time.perf_counter() - t0)
            t0 = time.perf_counter()
            w_cap, path = kernels.p2p_path(g, s, t)
            d_cap = min(d_cap, time.perf_counter() - t0)
        t_uni += d_uni
        t_cap += d_cap
        assert w_cap == w_uni
        assert path[0] == s and path[-1] == t
    assert t_cap * 1.5 < t_uni, f"capped frontier {t_cap:.2f}s vs uni {t_uni:.2f}s"


def test_artifact_and_payload_carry_no_alt_tables(tmp_path):
    """Neither transport path carries landmark tables any more: save writes
    no alt sidecar, the payload has no ALT fields, and a loader that meets
    an alt_<mode>.npz left by an older build ignores it and still routes
    exactly."""
    from duckdb_routing_spark.routing.graph import RoutingGraph
    from duckdb_routing_spark.testing import build_grid_graph

    g = build_grid_graph("auto", 20, 20, island=False)
    d = str(tmp_path)
    g.save(d, "auto")
    assert [f for f in os.listdir(d) if f.endswith(".npz")] == []
    assert not any("alt" in k for k in g.to_payload())
    np.savez_compressed(tmp_path / "alt_auto.npz", dist_from=np.zeros((8, 1), np.int32),
                        dist_to=np.zeros((8, 1), np.int32))
    g2 = RoutingGraph.load(d, "auto")
    g3 = RoutingGraph.from_payload(g.to_payload())
    for s, t in [(0, 399), (19, 380), (0, 1)]:
        w_ref = dijkstra_p2p(g, s, t)
        for gg in (g2, g3):
            w, path = kernels.p2p_path(gg, s, t)
            assert w == w_ref and path[0] == s and path[-1] == t
            assert getattr(gg, "_alt", None) is None


def test_batch_grid_catalyst_coords_bit_exact(spark):
    """route_batch_throughput generates its 40k-node coordinate table with
    Catalyst arithmetic (range -> affine expressions) instead of shipping
    the numpy arrays through a pandas LocalTableScan. The substitution is
    only sound if the JVM doubles are BIT-identical to the numpy ones the
    broadcast graph snaps against — same IEEE multiply/add, pinned here."""
    import numpy as np
    from pyspark.sql import functions as F

    from duckdb_routing_spark.queries.routing_queries import _BATCH_DIM, _batch_grid

    g = _batch_grid()
    nodes = (
        spark.range(g.num_nodes)
        .select(
            F.col("id").alias("node_id"),
            (F.lit(52.0) + (F.col("id") / F.lit(_BATCH_DIM)).cast("long") * F.lit(0.001)).alias("lat"),
            (F.lit(13.0) + (F.col("id") % F.lit(_BATCH_DIM)) * F.lit(0.001)).alias("lon"),
        )
        .toPandas()
        .sort_values("node_id")
    )
    assert (nodes.lat.to_numpy() == g.node_lat).all()
    assert (nodes.lon.to_numpy() == g.node_lon).all()
