"""Parity + dispatch tests for the graph build's two execution paths.

The distributed pipeline (`build_mode_graph_df`) and the single-batch kernel
(`build_mode_graph_pandas`) must be BIT-identical — same nodes, same directed
edge multiset, same floor-boundary weights — because `build_tiles` dispatches
between them on segment count and the oracle (q:route_tile_build) rides the
single-task path while q:route_pbf_build rides the distributed one.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from duckdb_routing_spark.routing.osm_build import (
    SMALL_BUILD_SEGMENTS,
    build_cardinalities_from_grid,
    build_mode_graph_df,
    build_mode_graph_pandas,
    build_tiles,
    segments_from_ways,
)
from duckdb_routing_spark.testing import grid_nodes, grid_segments, grid_ways


def _seg_pdf(nrows=8, ncols=8, island=True):
    return grid_segments(nrows, ncols, island=island).rename(
        columns={"src": "src_osm", "dst": "dst_osm"}
    )


def _canon_edges(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.sort_values(["src", "dst", "weight_ms", "length_m"])
        .reset_index(drop=True)
        .astype({"src": "int64", "dst": "int64", "weight_ms": "int64"})
    )


@pytest.mark.parametrize("mode", ["auto", "bicycle", "pedestrian"])
def test_pandas_matches_distributed(spark, mode):
    """Both build paths derive the identical graph from the identical input —
    node set, main flags, directed edge multiset, exact integer weights."""
    seg_pdf = _seg_pdf()
    nodes_pdf = grid_nodes(8, 8, island=True)
    p_nodes, p_edges = build_mode_graph_pandas(seg_pdf, nodes_pdf, mode)

    d_nodes, d_edges = build_mode_graph_df(
        spark, spark.createDataFrame(seg_pdf), spark.createDataFrame(nodes_pdf), mode
    )
    d_nodes = d_nodes.toPandas().sort_values("node_id").reset_index(drop=True)
    d_edges = d_edges.toPandas()

    pd.testing.assert_frame_equal(
        p_nodes.astype({"main_road": "bool"}),
        d_nodes.astype({"main_road": "bool"}),
        check_dtype=False,
    )
    pd.testing.assert_frame_equal(_canon_edges(p_edges), _canon_edges(d_edges), check_dtype=False)


def test_pandas_oneway_and_zero_ms_semantics():
    """Oneway suppresses exactly the reverse edge; zero-length segments drop
    (floor -> 0 ms); unknown-endpoint segments drop (inner-join semantics);
    classes absent from the mode's speed table drop."""
    seg = pd.DataFrame(
        {
            "src_osm": [0, 1, 2, 0, 4],
            "dst_osm": [1, 2, 2, 99, 0],
            "highway": ["residential", "residential", "residential", "residential", "footway"],
            "oneway": ["yes", "no", "no", "no", "no"],
        }
    )
    nodes = pd.DataFrame(
        {
            "node_id": [0, 1, 2, 4],
            "lon": [13.0, 13.001, 13.002, 13.01],
            "lat": [52.0, 52.0, 52.0, 52.0],
        }
    )
    n, e = build_mode_graph_pandas(seg, nodes, "auto")
    # 0->1 oneway (1 edge), 1->2 both (2), 2->2 zero-length dropped,
    # 0->99 unknown endpoint dropped, footway not drivable dropped
    assert len(e) == 3
    assert set(n["node_id"]) == {0, 1, 2}
    pairs = set(zip(e["src"], e["dst"]))
    assert pairs == {(0, 1), (1, 2), (2, 1)}


def test_cardinalities_single_task_matches_distributed(spark):
    """The lazy single-task path reports the same cardinalities the
    distributed build derives (the q:route_tile_build contract)."""
    df = build_cardinalities_from_grid(spark, 6, 6, "auto")
    row = df.first()
    p_nodes, p_edges = build_mode_graph_pandas(
        _seg_pdf(6, 6, island=False), grid_nodes(6, 6, island=False), "auto"
    )
    assert (row["n_nodes"], row["n_edges"]) == (len(p_nodes), len(p_edges))
    # plan shape: one task, no exchange anywhere
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_build_tiles_distributed_write_no_driver_collect(spark, tmp_path, monkeypatch):
    """Above SMALL_BUILD_SEGMENTS the artifact tables are written with
    df.write.parquet — NEVER via a driver collect, and never read back
    driver-side. Asserted by making DataFrame.toPandas and RoutingGraph.load
    raise during the build: the graph must reach disk anyway, load back,
    and route (the maxResultSize-can't-fit-one-collect posture for the
    reference's 30 GB PBF -> 150 GB tile Europe build)."""
    from pyspark.sql import DataFrame as SparkDF

    from duckdb_routing_spark.routing.graph import RoutingGraph

    ways = spark.createDataFrame(
        pd.DataFrame(
            {
                "way_id": [w[0] for w in grid_ways(6, 6, island=False)],
                "nodes": [w[1] for w in grid_ways(6, 6, island=False)],
                "highway": [w[2] for w in grid_ways(6, 6, island=False)],
                "oneway": [w[3] for w in grid_ways(6, 6, island=False)],
            }
        )
    )
    osm_nodes = spark.createDataFrame(grid_nodes(6, 6, island=False))
    out = str(tmp_path / "tiles")

    monkeypatch.setattr(
        "duckdb_routing_spark.routing.osm_build.SMALL_BUILD_SEGMENTS", -1
    )

    def _no_collect(self, *a, **k):
        raise AssertionError("distributed build must not collect tables to the driver")

    def _no_reload(*a, **k):
        raise AssertionError("distributed build must not reload the graph on the driver")

    monkeypatch.setattr(SparkDF, "toPandas", _no_collect)
    monkeypatch.setattr(RoutingGraph, "load", classmethod(_no_reload))
    build_tiles(spark, ways, osm_nodes, out, modes=("auto",))
    monkeypatch.undo()

    # artifact is a parquet DIRECTORY readable by the normal load path;
    # the tables and valhalla.json are the whole artifact
    assert os.path.isdir(os.path.join(out, "nodes_auto.parquet"))
    assert not os.path.exists(os.path.join(out, "_manifest.json"))
    from duckdb_routing_spark.routing import kernels
    from duckdb_routing_spark.testing import build_grid_graph

    g = RoutingGraph.load(out, "auto")
    ref = build_grid_graph("auto", 6, 6, island=False)
    assert (g.num_nodes, g.num_edges) == (ref.num_nodes, ref.num_edges)
    # the build writes no landmark tables: p2p needs no preparation
    assert not os.path.exists(os.path.join(out, "alt_auto.npz"))
    d_built = kernels.batch_travel_time_s(g, [52.0], [13.0], [52.005], [13.005])[0]
    d_ref = kernels.batch_travel_time_s(ref, [52.0], [13.0], [52.005], [13.005])[0]
    assert d_built == d_ref


def test_build_tiles_small_path_matches_reference_fixture(spark, tmp_path):
    """Below the threshold build_tiles takes the fused single-batch path and
    the saved artifact equals the fixture builder's graph."""
    assert SMALL_BUILD_SEGMENTS >= 1000
    ways_rows = grid_ways(6, 6, island=False)
    ways = spark.createDataFrame(
        pd.DataFrame(
            {
                "way_id": [w[0] for w in ways_rows],
                "nodes": [w[1] for w in ways_rows],
                "highway": [w[2] for w in ways_rows],
                "oneway": [w[3] for w in ways_rows],
            }
        )
    )
    out = build_tiles(
        spark, ways, spark.createDataFrame(grid_nodes(6, 6, island=False)),
        str(tmp_path / "tiles"), modes=("auto",),
    )
    from duckdb_routing_spark.routing.graph import RoutingGraph
    from duckdb_routing_spark.testing import build_grid_graph

    g = RoutingGraph.load(out, "auto")
    ref = build_grid_graph("auto", 6, 6, island=False)
    assert (g.num_nodes, g.num_edges) == (ref.num_nodes, ref.num_edges)
    assert np.array_equal(np.sort(g.weights_ms), np.sort(ref.weights_ms))
