"""Contour isochrones, optimized_route (TSP), and the per-row request UDF."""

import json

import pytest

from duckdb_routing_spark.routing.engine import RoutingEngine
from duckdb_routing_spark.routing.geometry import convex_hull, wkb_to_centroid
from duckdb_routing_spark.testing import BASE_LAT, BASE_LON, SPACING_DEG, build_grid_graph


@pytest.fixture(scope="module")
def engine(spark):
    eng = RoutingEngine(spark)
    eng.load_graph(build_grid_graph("auto"), "auto")
    eng.register()
    return eng


def pt(r, c):
    return BASE_LAT + r * SPACING_DEG, BASE_LON + c * SPACING_DEG


def test_convex_hull_basics():
    square = [(0, 0), (1, 0), (1, 1), (0, 1), (0.5, 0.5), (0.2, 0.8)]
    hull = convex_hull(square)
    assert sorted(hull) == [(0.0, 0.0), (0.0, 1.0), (1.0, 0.0), (1.0, 1.0)]


def test_isochrone_contours(spark, engine):
    la, lo = pt(5, 5)
    rows = engine.isochrone_contours(la, lo, [0.5, 2.0], "auto").collect()
    assert [r.minutes for r in rows] == [0.5, 2.0]
    assert rows[0].n_points >= 3
    assert rows[1].n_points >= rows[0].n_points or rows[1].geometry is not None
    # the larger contour's polygon contains the center (rough check: the
    # centroid of the hull is near the source)
    c = wkb_to_centroid(bytes(rows[1].geometry))
    assert abs(c[0] - lo) < 0.01 and abs(c[1] - la) < 0.01


def test_isochrone_contours_grid(spark, engine):
    """The marching-squares generator: every node reached within the level
    must fall inside the grid shell (up to grid-cell resolution), the shell
    must close, and level polygons must nest (area monotone in time)."""
    from duckdb_routing_spark.routing.geometry import (
        _point_in_ring,
        parse_wkb_polygon_ring,
        ring_area,
    )

    la, lo = pt(5, 5)
    rows = engine.isochrone_contours(la, lo, [1.0, 2.0], "auto", method="grid").collect()
    assert [r.minutes for r in rows] == [1.0, 2.0]
    areas = []
    for r in rows:
        assert r.geometry is not None and r.n_points >= 3
        ring = parse_wkb_polygon_ring(bytes(r.geometry))
        assert ring[0] == ring[-1]
        area = ring_area(ring)
        assert area > 0  # counterclockwise shell
        areas.append(area)
        # the source itself is always inside its own isochrone
        assert _point_in_ring((lo, la), ring)
        # reached nodes sit inside the shell (fringe nodes may land on
        # island rings at sparse grid resolution — demand a high majority)
        cloud = engine.isochrone(la, lo, r.minutes * 60.0, "auto").collect()
        hits = sum(_point_in_ring((p.lon, p.lat), ring) for p in cloud)
        assert hits >= 0.85 * len(cloud)
    assert areas[1] >= areas[0]  # nesting: more minutes, no smaller shell


def test_isochrone_contours_grid_multipolygon(spark, engine):
    """multipolygon=True: geometry is a parseable WKB MULTIPOLYGON whose
    largest shell equals the single-polygon shape's shell; the union of all
    components covers at least as many reached nodes as the shell alone."""
    from duckdb_routing_spark.routing.geometry import (
        _point_in_ring,
        parse_wkb_multipolygon,
        parse_wkb_polygon_ring,
        ring_area,
    )

    la, lo = pt(5, 5)
    single = engine.isochrone_contours(la, lo, [1.5], "auto", method="grid").collect()[0]
    multi = engine.isochrone_contours(
        la, lo, [1.5], "auto", method="grid", multipolygon=True
    ).collect()[0]
    assert multi.n_reach == single.n_reach
    polys = parse_wkb_multipolygon(bytes(multi.geometry))
    assert polys, "at least one component"
    # largest shell first, identical to the single-polygon shell
    assert polys[0][0] == parse_wkb_polygon_ring(bytes(single.geometry))
    for shell, holes in polys:
        assert shell[0] == shell[-1] and ring_area(shell) > 0
        for h in holes:
            assert ring_area(h) < 0
            assert _point_in_ring(h[0], shell) or h[0] in shell
    cloud = engine.isochrone(la, lo, 1.5 * 60.0, "auto").collect()
    in_multi = sum(
        any(_point_in_ring((p.lon, p.lat), s) for s, _ in polys) for p in cloud
    )
    in_single = sum(
        _point_in_ring((p.lon, p.lat), polys[0][0]) for p in cloud
    )
    assert in_multi >= in_single


def test_nest_contour_rings_assigns_holes():
    """A CW ring inside a big CCW ring becomes its hole; a distant CCW ring
    stays a separate island."""
    from duckdb_routing_spark.routing.geometry import nest_contour_rings

    big = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]            # CCW shell
    hole = [(4, 4), (4, 6), (6, 6), (6, 4), (4, 4)]               # CW
    island = [(20, 20), (21, 20), (21, 21), (20, 21), (20, 20)]   # CCW
    polys = nest_contour_rings([hole, island, big])
    assert len(polys) == 2
    # the big shell got exactly the one hole, the island none
    assert next(h for s, h in polys if s == big) == [hole]
    assert next(h for s, h in polys if s == island) == []


def test_multipolygon_via_request(spark, engine):
    la, lo = pt(5, 5)
    out = json.loads(
        engine.request(
            "isochrone",
            json.dumps(
                {
                    "locations": [{"lat": la, "lon": lo}],
                    "polygons": True,
                    "contour_method": "grid",
                    "multipolygon": True,
                    "contours": [{"time": 1.5}],
                }
            ),
        )
    )
    from duckdb_routing_spark.routing.geometry import parse_wkb_multipolygon

    geom = bytes.fromhex(out["contours"][0]["geometry_wkb_hex"])
    assert parse_wkb_multipolygon(geom)


def test_isochrone_contours_grid_via_request(spark, engine):
    la, lo = pt(5, 5)
    out = json.loads(
        engine.request(
            "isochrone",
            json.dumps(
                {
                    "locations": [{"lat": la, "lon": lo}],
                    "polygons": True,
                    "contour_method": "grid",
                    "contours": [{"time": 1.5}],
                }
            ),
        )
    )
    assert len(out["contours"]) == 1 and out["contours"][0]["geometry_wkb_hex"]


def test_isochrone_contours_limits(spark, engine):
    la, lo = pt(5, 5)
    with pytest.raises(ValueError, match="contours"):
        engine.isochrone_contours(la, lo, [1, 2, 3, 4, 5])
    with pytest.raises(ValueError, match="max time"):
        engine.isochrone_contours(la, lo, [500.0])


def test_optimized_route(spark, engine):
    # corners + center: optimal-ish tour should not revisit; order starts at 0
    lats, lons = zip(pt(0, 0), pt(9, 9), pt(0, 9), pt(9, 0), pt(5, 5))
    res = engine.optimized_route(list(lats), list(lons), "auto")
    assert res["order"][0] == 0
    assert sorted(res["order"]) == [0, 1, 2, 3, 4]
    assert res["duration_s"] > 0
    # 2-opt result must beat (or match) the naive identity order
    identity = engine.optimized_route([lats[0], lats[2], lats[1]], [lons[0], lons[2], lons[1]])
    assert identity["duration_s"] > 0


def test_optimized_route_via_request(spark, engine):
    (la1, lo1), (la2, lo2), (la3, lo3) = pt(0, 0), pt(9, 9), pt(0, 9)
    out = json.loads(
        engine.request(
            "optimized_route",
            json.dumps({"locations": [
                {"lat": la1, "lon": lo1}, {"lat": la2, "lon": lo2}, {"lat": la3, "lon": lo3}]}),
        )
    )
    assert out["trip"]["location_order"][0] == 0
    assert out["trip"]["summary"]["time"] > 0


def test_actions_validate_empty_requests(spark, engine):
    """All nine actions are implemented now; an empty request still gets a
    structured validation error, never a raise."""
    for action, needle in (
        ("trace_route", "requires a shape"),
        ("trace_attributes", "requires a shape"),
        ("height", "requires locations"),
    ):
        out = json.loads(engine.request(action, "{}"))
        assert needle in out["error"]


def test_isochrone_polygons_via_request(spark, engine):
    la, lo = pt(5, 5)
    out = json.loads(
        engine.request(
            "isochrone",
            json.dumps({"locations": [{"lat": la, "lon": lo}], "contours": [{"time": 2}], "polygons": True}),
        )
    )
    assert out["contours"][0]["n_points"] >= 3
    assert out["contours"][0]["geometry_wkb_hex"]


def test_request_sql_udf(spark, engine):
    la1, lo1 = pt(0, 0)
    la2, lo2 = pt(5, 5)
    req = json.dumps({"locations": [{"lat": la1, "lon": lo1}, {"lat": la2, "lon": lo2}], "costing": "auto"})
    row = spark.sql(
        f"""SELECT travel_time_request('route', '{req}') AS r,
                   travel_time_request('status', '{{}}') AS s,
                   travel_time_request('matrix', '{{}}') AS m,
                   travel_time_request('route', '{{bad json') AS bad"""
    ).first()
    assert json.loads(row.r)["trip"]["summary"]["time"] > 0
    assert json.loads(row.s)["loaded"] is True
    assert "engine.request" in json.loads(row.m)["error"]
    assert "Invalid JSON" in json.loads(row.bad)["error"]
    # the per-row UDF and the driver-side dispatcher answer point actions alike
    for action in ("route", "locate"):
        udf = spark.sql(f"SELECT travel_time_request('{action}', '{req}') AS r").first().r
        assert udf == engine.request(action, req)


def test_concave_contours_contain_point_cloud(spark, engine):
    """Concave contour polygons must contain every reachable point of their
    level and be no larger than the convex hull."""
    from duckdb_routing_spark.routing.geometry import (
        _point_in_ring,
        convex_hull,
        parse_wkb_polygon_ring,
    )

    la, lo = pt(5, 5)
    rows = engine.isochrone_contours(la, lo, [1.0, 2.0], "auto").collect()
    pts_df = engine.isochrone(la, lo, 2.0 * 60.0, "auto").collect()
    assert len(rows) == 2
    for r in rows:
        assert r.n_points >= 3 and r.geometry is not None
        ring = parse_wkb_polygon_ring(bytes(r.geometry))
        level_pts = [(p.lon, p.lat) for p in pts_df if p.seconds <= r.minutes * 60.0]
        assert all(_point_in_ring(q, ring[:-1]) for q in level_pts), f"contour {r.minutes} leaks points"

    def area(ring):
        s = 0.0
        for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
            s += x1 * y2 - x2 * y1
        return abs(s) / 2

    big = parse_wkb_polygon_ring(bytes(rows[-1].geometry))[:-1]
    cx = convex_hull(__import__("numpy").asarray([(p.lon, p.lat) for p in pts_df]))
    assert area(big) <= area(cx) * 1.0001
