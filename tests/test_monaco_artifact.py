"""Real-OSM interop: load the reference's cached Monaco graph artifact
(bincode of RoutingData, rust/src/lib.rs:147-153) and run the same checks
as the reference's own test/sql/monaco_routing.test — route Casino->Palace,
positive distance/duration, WKB geometry round-trip, snap sanity."""

import os

import pytest

MONACO = "/root/reference/test/data/monaco.osm.pbf.auto.routing"

pytestmark = pytest.mark.skipif(not os.path.exists(MONACO), reason="monaco artifact not present")


@pytest.fixture(scope="module")
def monaco_graph():
    from duckdb_routing_spark.routing.ref_artifact import read_reference_artifact

    return read_reference_artifact(MONACO)


def test_artifact_parses_fully(monaco_graph):
    g = monaco_graph
    assert g.num_nodes == 7338  # header of the shipped artifact
    assert g.num_edges > 10_000
    assert len(g.main_nodes) == 7338  # every node is a snap candidate here
    # Monaco bounding box sanity
    assert 7.3 < g.node_lon.min() < g.node_lon.max() < 7.5
    assert 43.6 < g.node_lat.min() < g.node_lat.max() < 43.8


def test_casino_to_palace_route(monaco_graph):
    """The reference's monaco_routing.test route: distance_km > 0 and
    duration_minutes > 0 between Casino (7.4281, 43.7396) and Palace
    (7.4197, 43.7312)."""
    from duckdb_routing_spark.routing import kernels
    from duckdb_routing_spark.testing import dijkstra_p2p_path

    g = monaco_graph
    s = g.nearest_main_node(7.4281, 43.7396)
    d = g.nearest_main_node(7.4197, 43.7312)
    assert s >= 0 and d >= 0
    w, path = dijkstra_p2p_path(g, s, d)
    assert w > 0 and len(path) > 2
    dist_km = kernels.path_distance_m(g, path) / 1000.0
    minutes = w / 1000.0 / 60.0
    assert 0.5 < dist_km < 10.0
    assert 0.5 < minutes < 30.0
    # the vectorized kernel agrees exactly
    assert float(kernels.sssp_frontier_ms(g, s)[d]) == w


def test_engine_sql_surface_on_monaco(spark):
    """travel_time_load_config('<pbf>.auto.routing') + the SQL surface on
    real OSM data, like examples/monaco_end_to_end.sql."""
    from duckdb_routing_spark.routing.engine import RoutingEngine

    eng = RoutingEngine(spark)
    assert eng.load_config(MONACO)
    assert eng.is_loaded("auto")
    eng.register()
    row = spark.sql(
        "SELECT travel_time(43.7396, 7.4281, 43.7312, 7.4197, 'auto') AS s,"
        " travel_time_route_wkb('POINT(7.4281 43.7396)', 'POINT(7.4197 43.7312)', 'auto') AS r"
    ).first()
    assert row.s > 0
    assert row.r.distance_km > 0
    assert row.r.duration_minutes > 0
    assert row.r.geometry[:1] in (b"\x00", b"\x01")  # WKB byte order marker


def test_remote_tiles_over_http(spark, tmp_path):
    """load_config('http://...') fetches to the driver cache and loads —
    the reference's remote_tiles_example.sql flow."""
    import http.server
    import shutil
    import socketserver
    import threading

    from duckdb_routing_spark.routing.engine import RoutingEngine

    serve_dir = tmp_path / "www"
    serve_dir.mkdir()
    shutil.copy(MONACO, serve_dir / "monaco.auto.routing")

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(serve_dir), **kw)

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), Handler) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        try:
            eng = RoutingEngine(spark)
            url = f"http://127.0.0.1:{port}/monaco.auto.routing"
            assert eng.load_config(url)
            assert eng.is_loaded("auto")
            assert eng.tiles_path == url  # setting reports the remote source
            assert eng.node_count("auto") == 7338
        finally:
            httpd.shutdown()


def test_pbf_cache_convention(spark, tmp_path):
    """An .osm.pbf path picks up its sibling '<pbf>.<mode>.routing' caches,
    the reference's cache_path convention."""
    import shutil

    from duckdb_routing_spark.routing.engine import RoutingEngine

    pbf = tmp_path / "monaco.osm.pbf"
    pbf.write_bytes(b"")  # placeholder; only the cache sibling is read
    shutil.copy(MONACO, str(pbf) + ".auto.routing")
    eng = RoutingEngine(spark)
    assert eng.load_config(str(pbf))
    assert eng.is_loaded("auto")
    assert eng.node_count("auto") == 7338


def test_routingartifact_datasource_matches_parser(spark):
    """spark.read.format('routingartifact') must expose exactly the parsed
    graph: CSR-expanded edges and the node table with main flags."""
    from duckdb_routing_spark.routing.ref_artifact import read_reference_artifact
    from duckdb_routing_spark.sources.routing_artifact_datasource import (
        RoutingArtifactDataSource,
    )

    spark.dataSource.register(RoutingArtifactDataSource)
    g = read_reference_artifact(MONACO)
    edges = spark.read.format("routingartifact").load(MONACO)
    nodes = spark.read.format("routingartifact").option("kind", "nodes").load(MONACO)
    assert edges.count() == len(g.indices)
    assert nodes.count() == g.num_nodes
    assert nodes.filter("is_main").count() == len(g.main_nodes)
    got_w = edges.selectExpr("sum(weight_ms)").collect()[0][0]
    assert got_w == int(g.weights_ms.sum())
    # SQL over the artifact: top out-degree node agrees with numpy
    import numpy as np

    deg = np.diff(g.indptr)
    top = edges.groupBy("src").count().orderBy("count", ascending=False).first()
    assert top["count"] == int(deg.max())
