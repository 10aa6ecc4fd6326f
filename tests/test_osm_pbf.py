"""Pure-Python OSM PBF codec: wire-level round-trip and end-to-end
raw-PBF -> tile-build -> routing parity with the pandas fixture builder."""

import pytest

from duckdb_routing_spark.sources.osm_pbf import (
    _enc_varint,
    _enc_zigzag,
    _read_varint,
    _zigzag,
    scan_blobs,
    write_osm_pbf,
)
from duckdb_routing_spark.testing import build_grid_graph, dijkstra_p2p, grid_nodes, grid_ways as _grid_ways


def test_varint_zigzag_roundtrip():
    for v in [0, 1, 127, 128, 300, 2**35, -1, -128, -(2**35)]:
        if v >= 0:
            got, _ = _read_varint(_enc_varint(v), 0)
            assert got == v
        assert _zigzag(_enc_zigzag(v)) == v


def test_pbf_roundtrip(spark, tmp_path):
    nodes = grid_nodes()
    node_tuples = [(int(r.node_id), float(r.lon), float(r.lat)) for r in nodes.itertuples(index=False)]
    ways = _grid_ways()
    path = str(tmp_path / "grid.osm.pbf")
    write_osm_pbf(path, node_tuples, ways, blob_nodes=40)  # forces multiple blobs

    kinds = [k for k, _, _ in scan_blobs(path)]
    assert kinds[0] == "OSMHeader" and kinds.count("OSMData") >= 3

    from duckdb_routing_spark.sources.osm_pbf import read_osm_pbf

    ways_df, nodes_df = read_osm_pbf(spark, path)
    got_nodes = {(r.node_id, r.lon, r.lat) for r in nodes_df.collect()}
    # grid coords are multiples of 1e-3 deg — exact on the PBF 1e-7 grid
    assert got_nodes == set(node_tuples)
    got_ways = {(r.way_id, tuple(r.nodes), r.highway, r.oneway) for r in ways_df.collect()}
    assert got_ways == {(w, tuple(refs), hw, ow) for w, refs, hw, ow in ways}


def test_build_from_pbf_matches_pandas_build(spark, tmp_path):
    from duckdb_routing_spark.routing.graph import RoutingGraph
    from duckdb_routing_spark.routing.osm_build import build_tiles_from_pbf

    nodes = grid_nodes()
    node_tuples = [(int(r.node_id), float(r.lon), float(r.lat)) for r in nodes.itertuples(index=False)]
    path = str(tmp_path / "grid.osm.pbf")
    write_osm_pbf(path, node_tuples, _grid_ways())
    out = build_tiles_from_pbf(spark, path, str(tmp_path / "tiles"), modes=("auto",))
    g = RoutingGraph.load(out, "auto")
    g_ref = build_grid_graph("auto")
    assert g.num_nodes == g_ref.num_nodes
    assert g.num_edges == g_ref.num_edges
    assert dijkstra_p2p(g, 0, 99) == pytest.approx(dijkstra_p2p(g_ref, 0, 99))
    # oneway row: reverse edge suppressed in both builds
    assert dijkstra_p2p(g, 11, 10) == pytest.approx(dijkstra_p2p(g_ref, 11, 10))


def test_load_config_builds_and_caches_from_raw_pbf(spark, tmp_path):
    """engine.load_config('<raw>.osm.pbf') with NO cache artifacts must
    build through the distributed decode+tile pipeline, cache parquet
    artifacts at '<pbf>.tiles' (the reference's build-and-cache
    travel_time_load behavior, rust/src/lib.rs:154-176), and serve routes;
    a second engine must load straight from the cache."""
    import os

    from duckdb_routing_spark.routing.engine import RoutingEngine

    nodes = grid_nodes()
    node_tuples = [(int(r.node_id), float(r.lon), float(r.lat)) for r in nodes.itertuples(index=False)]
    path = str(tmp_path / "grid.osm.pbf")
    write_osm_pbf(path, node_tuples, _grid_ways())

    eng = RoutingEngine(spark)
    assert eng.load_config(path, modes=("auto",))
    assert eng.is_loaded("auto")
    assert eng.tiles_path == path  # the SETTING reports the pbf, like the reference
    assert os.path.isdir(path + ".tiles")  # cache artifacts landed beside the source
    from duckdb_routing_spark.testing import build_grid_graph

    g_ref = build_grid_graph("auto")
    assert eng.node_count("auto") == g_ref.num_nodes

    # second engine: loads from the cached artifact dir (no rebuild — the
    # artifacts carry the saved graph, so node counts must match exactly)
    eng2 = RoutingEngine(spark)
    assert eng2.load_config(path, modes=("auto",))
    assert eng2.node_count("auto") == g_ref.num_nodes
    eng.free("auto")
    eng2.free("auto")


def test_build_tiles_from_pbf_url(spark, tmp_path):
    """build_tiles_from_pbf('http://...') downloads the PBF once
    driver-side then runs the distributed build — the reference CLI's
    URL-sourced flow (valhalla_build_tiles_simple.cpp:180-197)."""
    import http.server
    import socketserver
    import threading

    from duckdb_routing_spark.routing.graph import RoutingGraph
    from duckdb_routing_spark.routing.osm_build import build_tiles_from_pbf

    serve_dir = tmp_path / "www"
    serve_dir.mkdir()
    nodes = grid_nodes()
    node_tuples = [(int(r.node_id), float(r.lon), float(r.lat)) for r in nodes.itertuples(index=False)]
    write_osm_pbf(str(serve_dir / "grid.osm.pbf"), node_tuples, _grid_ways())

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(serve_dir), **kw)

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), Handler) as httpd:
        port = httpd.server_address[1]
        threading.Thread(target=httpd.serve_forever, daemon=True).start()
        try:
            url = f"http://127.0.0.1:{port}/grid.osm.pbf"
            out = build_tiles_from_pbf(spark, url, str(tmp_path / "tiles"), modes=("auto",))
            g = RoutingGraph.load(out, "auto")
            assert g.num_nodes == grid_nodes().shape[0]
        finally:
            httpd.shutdown()


def test_load_config_builds_missing_modes_into_existing_cache(spark, tmp_path):
    """A '<pbf>.tiles' cache built with FEWER modes must not satisfy a
    request for more: the missing modes are built into the same cache dir
    and loaded, and the valhalla.json keeps the union of modes."""
    import json
    import os

    from duckdb_routing_spark.routing.engine import RoutingEngine

    nodes = grid_nodes()
    node_tuples = [(int(r.node_id), float(r.lon), float(r.lat)) for r in nodes.itertuples(index=False)]
    path = str(tmp_path / "grid.osm.pbf")
    write_osm_pbf(path, node_tuples, _grid_ways())

    eng = RoutingEngine(spark)
    assert eng.load_config(path, modes=("auto",))
    assert eng.is_loaded("auto") and not eng.is_loaded("bicycle")

    # same engine, same path, extra mode: must build+load bicycle, not
    # early-return on the already-loaded auto
    assert eng.load_config(path, modes=("auto", "bicycle"))
    assert eng.is_loaded("bicycle"), "partial .tiles cache satisfied a broader mode request"
    with open(os.path.join(path + ".tiles", "valhalla.json")) as f:
        assert set(json.load(f)["engine"]["modes"]) >= {"auto", "bicycle"}

    # a FRESH engine over the now-two-mode cache loads both directly
    eng2 = RoutingEngine(spark)
    assert eng2.load_config(path, modes=("auto", "bicycle"))
    assert eng2.is_loaded("auto") and eng2.is_loaded("bicycle")
    eng.free("auto"); eng.free("bicycle"); eng2.free("auto"); eng2.free("bicycle")


def test_osmpbf_datasource_matches_rdd_reader(spark, tmp_path):
    """spark.read.format('osmpbf') — the Spark-4 Python DataSource packaging
    — must produce exactly the RDD reader's rows, partitioned by blob."""
    from duckdb_routing_spark.sources.osm_datasource import OsmPbfDataSource
    from duckdb_routing_spark.sources.osm_pbf import read_osm_pbf

    nodes = grid_nodes()
    node_tuples = [
        (int(r.node_id), float(r.lon), float(r.lat)) for r in nodes.itertuples(index=False)
    ]
    path = str(tmp_path / "grid.osm.pbf")
    write_osm_pbf(path, node_tuples, _grid_ways(), blob_nodes=40)

    spark.dataSource.register(OsmPbfDataSource)
    w = spark.read.format("osmpbf").load(path)
    n = spark.read.format("osmpbf").option("kind", "nodes").load(path)
    w_old, n_old = read_osm_pbf(spark, path)
    assert {(r.way_id, tuple(r.nodes), r.highway, r.oneway) for r in w.collect()} == {
        (r.way_id, tuple(r.nodes), r.highway, r.oneway) for r in w_old.collect()
    }
    assert {tuple(r) for r in n.collect()} == {tuple(r) for r in n_old.collect()}
    assert w.rdd.getNumPartitions() >= 2  # one task per blob bucket

    with pytest.raises(Exception):
        spark.read.format("osmpbf").option("kind", "relations").load(path).collect()
