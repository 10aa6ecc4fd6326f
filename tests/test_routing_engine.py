"""End-to-end engine tests over Spark: the SQL function surface, the matrix /
isochrone table operators, the JSON escape hatch, the conf bridge, and the
distributed graph build — asserting the same relative properties as the
reference's monaco_routing.test / z_integration.test.skip."""

import json

import pytest
from pyspark.sql import functions as F

from duckdb_routing_spark.routing.engine import RoutingEngine, TILES_CONF_KEY
from duckdb_routing_spark.routing.geometry import build_wkb_point, parse_wkb_linestring
from duckdb_routing_spark.testing import (
    BASE_LAT,
    BASE_LON,
    SPACING_DEG,
    build_grid_graph,
    dijkstra_p2p,
    grid_nodes,
    grid_segments,
)


@pytest.fixture(scope="module")
def engine(spark):
    eng = RoutingEngine(spark)
    for mode in ("auto", "bicycle", "pedestrian"):
        eng.load_graph(build_grid_graph(mode), mode)
    eng.register()
    return eng


def pt(r, c):
    return BASE_LAT + r * SPACING_DEG, BASE_LON + c * SPACING_DEG


def test_is_loaded_and_node_count(spark, engine):
    row = spark.sql(
        "SELECT travel_time_is_loaded('auto') AS a, travel_time_is_loaded('hoverboard') AS h,"
        " travel_time_node_count('auto') AS n"
    ).first()
    assert row.a is True
    assert row.n == 102  # > 1000 in z_integration is Monaco-scale; grid has 102
    assert engine.node_count("auto") == 102


def test_travel_time_sql(spark, engine):
    lat1, lon1 = pt(0, 0)
    lat2, lon2 = pt(0, 5)
    row = spark.sql(
        f"SELECT travel_time({lat1}, {lon1}, {lat2}, {lon2}, 'auto') AS s,"
        f" travel_time({lat1}, {lon1}, {lat2}, {lon2}, 'bicycle') AS b,"
        f" travel_time({lat1}, {lon1}, {lat2}, {lon2}, 'pedestrian') AS p,"
        f" travel_time(NULL, {lon1}, {lat2}, {lon2}, 'auto') AS n"
    ).first()
    assert row.s is not None and 0 < row.s < 300
    assert row.s < row.b < row.p  # mode ordering (monaco_routing.test:83-88)
    assert row.n is None  # NULL propagates


def test_travel_time_no_route_null(spark, engine):
    # island -> grid is unroutable -> NULL, not an error
    ila, ilo = BASE_LAT + 0.5, BASE_LON + 0.5
    la, lo = pt(0, 0)
    row = spark.sql(f"SELECT travel_time({ila}, {ilo}, {la}, {lo}, 'auto') AS s").first()
    assert row.s is None


def test_route_wkb_all_input_kinds(spark, engine):
    la1, lo1 = pt(0, 0)
    la2, lo2 = pt(5, 5)
    df = spark.createDataFrame(
        [(f"POINT({lo1} {la1})", f"POINT({lo2} {la2})", build_wkb_point(lo1, la1), build_wkb_point(lo2, la2))],
        "fw string, tw string, fb binary, tb binary",
    )
    row = df.select(
        F.expr("travel_time_route_wkb(fw, tw, 'auto')").alias("wkt_in"),
        F.expr("travel_time_route_wkb(fb, tb, 'auto')").alias("wkb_in"),
        F.expr("travel_time_route(fw, tw, 'auto')").alias("macro"),
    ).first()
    for r in (row.wkt_in, row.wkb_in, row.macro):
        assert r.distance_km > 0
        assert r.duration_minutes > 0
        pts = parse_wkb_linestring(bytes(r.geometry))
        assert len(pts) >= 10  # waypoint count (monaco_routing.test:64-69)
    # macro equals WKB variant within 0.01 km (monaco_routing.test:154-160)
    assert abs(row.wkt_in.distance_km - row.wkb_in.distance_km) < 0.01
    assert abs(row.macro.distance_km - row.wkb_in.distance_km) < 0.01


def test_route_wkb_null_on_failure(spark, engine):
    row = spark.sql(
        "SELECT travel_time_route_wkb('POINT(0 0)', 'POINT(0.001 0.001)', 'auto') AS r,"
        " travel_time_route_wkb('garbage', 'POINT(13 52)', 'auto') AS g"
    ).first()
    # POINT(0 0) snaps somewhere (grid fixture covers it via nearest) — but
    # garbage WKT must yield NULL struct fields, not an error
    assert row.g.distance_km is None and row.g.geometry is None


def test_locate_and_snap(spark, engine):
    la, lo = pt(3, 4)
    row = spark.sql(
        f"SELECT travel_time_locate({la + 0.0002}, {lo + 0.0001}, 'auto') AS l,"
        f" travel_time_snap({la + 0.0002}, {lo + 0.0001}, 'auto') AS s"
    ).first()
    assert row.l.lat == pytest.approx(la)
    assert row.l.lon == pytest.approx(lo)
    assert row.s.lat == pytest.approx(la)
    assert row.s.distance_m < 500  # z_integration.test.skip:38-40
    assert row.s.distance_m > 0


def test_matrix(spark, engine):
    (la1, lo1), (la2, lo2) = pt(0, 0), pt(9, 9)
    df = engine.matrix([la1, la2], [lo1, lo2], [la1, la2], [lo1, lo2], "auto")
    rows = df.collect()
    assert len(rows) == 4  # 2x2 (z_integration.test.skip:44-53)
    assert [(r.from_idx, r.to_idx) for r in rows] == [(0, 0), (0, 1), (1, 0), (1, 1)]
    assert rows[0].duration_s == 0.0
    assert rows[1].duration_s > 0 and rows[1].distance_m > 0
    assert rows[1].duration_s == pytest.approx(rows[2].duration_s)  # symmetric here


def test_isochrone(spark, engine):
    la, lo = pt(5, 5)
    small = engine.isochrone(la, lo, 30.0, "auto").collect()
    large = engine.isochrone(la, lo, 120.0, "auto").collect()
    assert 1 < len(small) < len(large) <= 102
    assert all(0 <= r.seconds <= 30.0 for r in small)
    assert all(0 <= r.seconds <= 120.0 for r in large)


def test_request_dispatcher(spark, engine):
    la1, lo1 = pt(0, 0)
    la2, lo2 = pt(5, 5)
    status = json.loads(engine.request("status", "{}"))
    assert status["loaded"] is True and "auto" in status["modes"]

    route = json.loads(
        engine.request("route", json.dumps({"locations": [{"lat": la1, "lon": lo1}, {"lat": la2, "lon": lo2}], "costing": "auto"}))
    )
    assert route["trip"]["summary"]["time"] > 0
    assert route["trip"]["summary"]["length"] > 0

    loc = json.loads(engine.request("locate", json.dumps({"locations": [{"lat": la1, "lon": lo1}]})))
    assert loc["locations"][0]["lat"] == pytest.approx(la1)

    iso = json.loads(
        engine.request("isochrone", json.dumps({"locations": [{"lat": la1, "lon": lo1}], "contours": [{"time": 2}]}))
    )
    assert len(iso["contours"][0]["points"]) > 1

    err2 = json.loads(engine.request("launch_rockets", "{}"))
    assert "Unknown action" in err2["error"]


def test_trace_and_height_actions(spark, engine):
    """trace_route/trace_attributes: HMM map matching + chained shortest
    paths; height: gated on a loaded elevation table."""
    shape = [
        {"lat": pt(0, 0)[0], "lon": pt(0, 0)[1]},
        {"lat": pt(0, 5)[0], "lon": pt(0, 5)[1]},
        {"lat": pt(5, 5)[0], "lon": pt(5, 5)[1]},
    ]
    tr = json.loads(engine.request("trace_route", json.dumps({"shape": shape, "costing": "auto"})))
    assert tr["trip"]["summary"]["time"] > 0
    assert tr["trip"]["summary"]["length"] > 0
    assert tr["trip"]["shape_points"] >= 11  # 5 east + 5 south hops minimum
    # trace time == route time along the same waypoints (piecewise shortest)
    leg1 = json.loads(engine.request("route", json.dumps({"locations": shape[:2], "costing": "auto"})))
    leg2 = json.loads(engine.request("route", json.dumps({"locations": shape[1:], "costing": "auto"})))
    assert tr["trip"]["summary"]["time"] == pytest.approx(
        leg1["trip"]["summary"]["time"] + leg2["trip"]["summary"]["time"]
    )

    ta = json.loads(engine.request("trace_attributes", json.dumps({"shape": shape, "costing": "auto"})))
    assert ta["matched_points"] == 3
    assert len(ta["edges"]) == tr["trip"]["shape_points"] - 1
    for e in ta["edges"][:3]:
        assert e["length_m"] > 0 and e["time_s"] > 0 and 1.0 < e["speed_kmh"] < 150.0
    # edge times sum to the trace time
    assert sum(e["time_s"] for e in ta["edges"]) == pytest.approx(tr["trip"]["summary"]["time"])

    # height: structured gate without data, real lookup with it
    h0 = json.loads(engine.request("height", json.dumps({"locations": shape[:1]})))
    assert "elevation data not loaded" in h0["error"]
    import pandas as pd

    engine.load_elevation(
        pd.DataFrame({"lat": [pt(0, 0)[0], pt(5, 5)[0]], "lon": [pt(0, 0)[1], pt(5, 5)[1]], "height_m": [34.0, 55.0]})
    )
    h1 = json.loads(engine.request("height", json.dumps({"locations": shape})))
    assert h1["height"][0] == 34.0 and h1["height"][2] == 55.0
    engine._elevation = None  # don't leak into other module-scoped tests


def test_conf_bridge_and_artifact(spark, tmp_path):
    g = build_grid_graph("auto")
    g.save(str(tmp_path), "auto")
    eng = RoutingEngine(spark)
    assert not eng.is_loaded("auto")
    spark.conf.set(TILES_CONF_KEY, str(tmp_path))
    eng.ensure_conf()
    assert eng.is_loaded("auto")
    assert eng.tiles_path == str(tmp_path)
    assert eng.node_count("auto") == 102
    eng.free("auto")
    assert not eng.is_loaded("auto")


def test_free_reregisters_sql_surface(spark):
    """After routing_free, the SQL surface must stop routing (fresh closures
    see the emptied broadcasts dict) — not keep serving off a stale
    broadcast. Mirrors the reference's EnsureRouterLoaded behavior."""
    eng = RoutingEngine(spark)
    eng.load_graph(build_grid_graph("auto"), "auto")
    eng.register()
    la1, lo1 = pt(0, 0)
    la2, lo2 = pt(5, 5)
    q = f"SELECT travel_time({la1}, {lo1}, {la2}, {lo2}, 'auto') AS s"
    assert spark.sql(q).first().s > 0
    eng.free("auto")
    assert not eng.is_loaded("auto")
    with pytest.raises(Exception, match="not loaded|no graph"):
        spark.sql(q).collect()
    # reload restores service (and re-registers again)
    eng.load_graph(build_grid_graph("auto"), "auto")
    assert spark.sql(q).first().s > 0


def test_matrix_service_limit_and_empty(spark):
    eng = RoutingEngine(spark)
    eng.load_graph(build_grid_graph("auto"), "auto")
    # 51 x 50 = 2550 pairs > the reference's 2500-pair service limit
    lats = [52.0 + i * 1e-4 for i in range(51)]
    lons = [13.0] * 51
    with pytest.raises(ValueError, match="service limit"):
        eng.matrix(lats, lons, lats[:50], lons[:50], "auto")
    # explicit opt-out accepted (plan only — not executed here)
    eng_unlimited = RoutingEngine(spark, unlimited_matrix=True)
    eng_unlimited.load_graph(build_grid_graph("auto"), "auto")
    assert eng_unlimited.matrix(lats, lons, lats[:50], lons[:50], "auto") is not None
    # empty origin/target lists: empty DataFrame, not a repartition(0) crash
    assert eng.matrix([], [], [], [], "auto").count() == 0
    assert eng.matrix([52.0], [13.0], [], [], "auto").count() == 0


def test_spatial_hash_clamp_near_collinear():
    """Near-collinear main nodes (wide lon span, ~zero lat span) must not
    blow up the snap grid allocation: realized ncols*nrows stays <= 4M."""
    import numpy as np

    from duckdb_routing_spark.routing.graph import RoutingGraph

    n = 1000
    lons = np.linspace(-180.0, 180.0, n)
    lats = np.full(n, 45.0)  # exactly collinear
    g = RoutingGraph.from_arrays(
        lons, lats, np.array([0], dtype=np.int64), np.array([1], dtype=np.int64),
        np.array([1000], dtype=np.int64), np.array([100.0]), np.arange(n, dtype=np.int64),
    )
    assert g.grid_ncols * g.grid_nrows <= 4_000_000
    assert len(g.cell_starts) <= 4_000_001
    # snapping still works
    assert g.nearest_main_node(0.0, 45.0) >= 0


def test_dense_rank_by_is_parallel_and_correct(spark):
    """The dense-id remap must (a) produce exactly row_number()-1 ordered by
    key, (b) run its big window partitioned (hashpartitioning on _pid), never
    as one global single-partition window over the node set."""
    from pyspark.sql import functions as F

    from duckdb_routing_spark.plans import audit
    from duckdb_routing_spark.routing.osm_build import dense_rank_by

    df = spark.range(0, 10_000).select(
        (F.col("id") * 7919 % 100_000).alias("osm_id")
    ).distinct()
    out, n = dense_rank_by(df, "osm_id", "node_id")
    assert n == df.count()
    plan = audit.formatted_plan(out)
    assert "hashpartitioning(_b" in plan, plan[:3000]
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    rows = out.orderBy("osm_id").collect()
    assert [r.node_id for r in rows] == list(range(len(rows)))
    keys = [r.osm_id for r in rows]
    assert keys == sorted(keys)


def test_distributed_build_matches_pandas_build(spark, tmp_path):
    """The Spark 'tile build' pipeline must produce the same graph as the
    pandas fixture builder (same weights, same connectivity)."""
    from duckdb_routing_spark.routing.osm_build import build_tiles
    from duckdb_routing_spark.routing.graph import RoutingGraph

    nodes = grid_nodes()
    segs = grid_segments()
    # express the segments as OSM-ish ways: one way per segment
    ways = spark.createDataFrame(
        [(i, [int(r.src), int(r.dst)], r.highway, r.oneway) for i, r in enumerate(segs.itertuples(index=False))],
        "way_id long, nodes array<long>, highway string, oneway string",
    )
    osm_nodes = spark.createDataFrame(nodes)
    out = build_tiles(spark, ways, osm_nodes, str(tmp_path / "tiles"), modes=("auto",))
    g_spark = RoutingGraph.load(out, "auto")
    g_ref = build_grid_graph("auto")
    assert g_spark.num_nodes == g_ref.num_nodes
    assert g_spark.num_edges == g_ref.num_edges
    w1 = dijkstra_p2p(g_spark, 0, 99)
    w2 = dijkstra_p2p(g_ref, 0, 99)
    assert w1 == pytest.approx(w2)


def test_load_config_from_valhalla_json(spark, tmp_path):
    """valhalla_init_from_json parity: build_tiles writes a valhalla.json
    whose mjolnir.tile_dir resolves back to the artifacts; loading via the
    CONFIG FILE, via the artifact DIR, and via a REDIRECTING dir (json
    pointing elsewhere, config_setting.cpp:31-39 smart detection) must all
    produce a routable engine reporting the given path."""
    import json as _json

    import pandas as pd

    from duckdb_routing_spark.routing.engine import RoutingEngine
    from duckdb_routing_spark.routing.osm_build import build_tiles
    from duckdb_routing_spark.testing import grid_nodes, grid_ways

    out = str(tmp_path / "tiles")
    ways = spark.createDataFrame(
        pd.DataFrame(grid_ways(4, 4, island=False), columns=["way_id", "nodes", "highway", "oneway"])
    )
    build_tiles(spark, ways, spark.createDataFrame(grid_nodes(4, 4, island=False)), out, modes=("auto",))
    cfg = str(tmp_path / "tiles" / "valhalla.json")
    with open(cfg) as f:
        assert _json.load(f)["mjolnir"]["tile_dir"] == out

    eng = RoutingEngine(spark)
    assert eng.load_config(cfg, modes=("auto",))
    assert eng.is_loaded("auto") and eng.tiles_path == cfg
    assert eng.node_count("auto") == 16

    # a bare dir with only a redirecting valhalla.json
    redirect = tmp_path / "redirect"
    redirect.mkdir()
    with open(redirect / "valhalla.json", "w") as f:
        _json.dump({"mjolnir": {"tile_dir": out}}, f)
    eng2 = RoutingEngine(spark)
    assert eng2.load_config(str(redirect), modes=("auto",))
    assert eng2.node_count("auto") == 16

    # config-as-STRING (valhalla_init_from_json's true form,
    # valhalla-wrapper/src/wrapper.cpp:145-158): the JSON text itself
    eng3 = RoutingEngine(spark)
    assert eng3.load_config_json(_json.dumps({"mjolnir": {"tile_dir": out}}), modes=("auto",))
    assert eng3.node_count("auto") == 16
    assert not eng3.load_config_json("{}")  # no tile_dir -> structured False


def test_height_bilinear_on_gridded_dem(spark, engine):
    """A complete lat/lon lattice triggers BILINEAR sampling (Valhalla's
    DEM behavior): cell midpoints average the four corners, edge clamping
    holds outside coverage, and scattered samples still use nearest."""
    import json as _json

    import pandas as pd

    grid = pd.DataFrame(
        [(la, lo, h) for (la, lo, h) in [
            (0.0, 0.0, 100.0), (0.0, 1.0, 200.0),
            (1.0, 0.0, 300.0), (1.0, 1.0, 400.0),
        ]],
        columns=["lat", "lon", "height_m"],
    )
    engine.load_elevation(grid)
    r = _json.loads(engine.request("height", _json.dumps({"locations": [
        {"lat": 0.0, "lon": 0.0},   # exact corner
        {"lat": 0.5, "lon": 0.5},   # center: mean of all four
        {"lat": 0.5, "lon": 0.0},   # edge midpoint
        {"lat": -5.0, "lon": -5.0}, # clamped to (0,0)
    ]})))
    assert r["height"] == [100.0, 250.0, 200.0, 100.0]

    scattered = pd.DataFrame(
        {"lat": [0.0, 0.3, 0.9], "lon": [0.0, 0.7, 0.2], "height_m": [10.0, 20.0, 30.0]}
    )
    engine.load_elevation(scattered)
    r2 = _json.loads(engine.request("height", _json.dumps({"locations": [{"lat": 0.31, "lon": 0.69}]})))
    assert r2["height"] == [20.0]  # nearest-sample fallback


def test_bbox_windowed_artifact_load(spark, tmp_path):
    """Regional loading: a bbox covering the left half of the grid loads
    only that subgraph (node count halves, ids dense), routes work inside
    the window, and snaps near the cut boundary stay inside it. The SQL
    conf bridge (SET spark.routing.bbox) drives the same path."""
    import pandas as pd

    from duckdb_routing_spark.routing.engine import RoutingEngine
    from duckdb_routing_spark.routing.graph import RoutingGraph
    from duckdb_routing_spark.routing.osm_build import build_tiles
    from duckdb_routing_spark.testing import BASE_LAT, BASE_LON, SPACING_DEG, grid_nodes, grid_ways

    out = str(tmp_path / "tiles")
    ways = spark.createDataFrame(
        pd.DataFrame(grid_ways(10, 10, island=False), columns=["way_id", "nodes", "highway", "oneway"])
    )
    build_tiles(spark, ways, spark.createDataFrame(grid_nodes(10, 10, island=False)), out, modes=("auto",))

    # left half: columns 0..4 (lon window), all rows
    bbox = (BASE_LON - 1e-6, BASE_LAT - 1e-6, BASE_LON + 4 * SPACING_DEG + 1e-6, BASE_LAT + 9 * SPACING_DEG + 1e-6)
    g = RoutingGraph.load(out, "auto", bbox=bbox)
    assert g.num_nodes == 50  # 10 rows x 5 cols
    # dense reindex: ids are 0..49 and every edge endpoint is in range
    assert g.indices.max() < 50
    full = RoutingGraph.load(out, "auto")
    assert full.num_nodes == 100

    eng = RoutingEngine(spark)
    spark.conf.set("spark.routing.tiles", out)
    spark.conf.set("spark.routing.bbox", ",".join(str(v) for v in bbox))
    eng.ensure_conf()
    assert eng.node_count("auto") == 50
    eng.register()
    # a route fully inside the window works through SQL
    s = spark.sql(
        f"SELECT travel_time({BASE_LAT}, {BASE_LON}, {BASE_LAT + 3 * SPACING_DEG}, "
        f"{BASE_LON + 2 * SPACING_DEG}, 'auto') AS s"
    ).first().s
    assert s is not None and s > 0
    # a point beyond the window snaps to the boundary column, not outside
    snapped = spark.sql(
        f"SELECT travel_time_locate({BASE_LAT}, {BASE_LON + 9 * SPACING_DEG}, 'auto') AS p"
    ).first().p
    assert snapped is not None and snapped.lon <= BASE_LON + 4 * SPACING_DEG + 1e-9
    spark.conf.unset("spark.routing.bbox")


def test_connect_one_call_surface(spark, tmp_path):
    """connect(): ST_* + routing SQL + fixture views in one call (the
    reference's LOAD travel_time; SET valhalla_tiles UX)."""
    from duckdb_routing_spark import connect
    from duckdb_routing_spark.routing.osm_build import build_tiles
    from duckdb_routing_spark.testing import grid_nodes, grid_segments
    from tests.conftest import SF_SMOKE

    segs = grid_segments()
    ways = spark.createDataFrame(
        [(i, [int(r.src), int(r.dst)], r.highway, r.oneway) for i, r in enumerate(segs.itertuples(index=False))],
        "way_id long, nodes array<long>, highway string, oneway string",
    )
    out = build_tiles(spark, ways, spark.createDataFrame(grid_nodes()), str(tmp_path / "tiles"), modes=("auto",))

    s = connect(tiles=out, spark=spark, sf_dir=SF_SMOKE)
    assert s is spark
    # routing SQL registered + graph loaded
    dur = s.sql("SELECT travel_time(52.0, 13.0, 52.005, 13.005, 'auto') AS d").first()["d"]
    assert dur is not None and dur > 0
    # engine handle exposed for the DataFrame-level APIs
    assert s.routing_engine.is_loaded("auto")
    # ST_* kit registered
    wkt = s.sql("SELECT st_astext(st_point(13.0, 52.0)) AS w").first()["w"]
    assert wkt == "POINT(13.0 52.0)"
    # fixture views registered
    assert s.sql("SELECT count(*) AS n FROM lineitem").first()["n"] > 0
