"""Routing operators as oracle-checked registry queries.

The driver's oracle can't route — so we make DuckDB route: each query's
oracle is a self-contained recursive-CTE Bellman-Ford over the SAME grid
graph the Spark engine loads, with the directed (src, dst, weight_ms) edge
list inlined as VALUES straight from the fixture builder. Both engines
therefore compute shortest paths over the identical graph, and integer-ms
weights make durations exact (ms/1000.0 — no float drift).

Oracle-checked columns are chosen to be path-independent: shortest-path
DURATION is unique, but path geometry/haversine distance can differ between
equal-cost paths, so distances stay out of the hash (they're covered by the
relative assertions in tests/test_routing_engine.py instead).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_routing_spark.queries.registry import literal_df, register
from duckdb_routing_spark.routing import kernels
from duckdb_routing_spark.routing.engine import RoutingEngine
from duckdb_routing_spark.routing.graph import RoutingGraph
from duckdb_routing_spark.testing import (
    build_grid_graph,
    grid_edge_values_sql,
    grid_node_values_sql,
)

_GRID = build_grid_graph("auto")
_EDGES_SQL = grid_edge_values_sql(_GRID)
_NODES_SQL = grid_node_values_sql(_GRID)
_COST_CAP = 250_000  # > grid diameter (~182k ms); bounds the CTE state space

# OD pairs by node id; pair 4 targets the disconnected island -> NULL
_OD_PAIRS = [(0, 0, 99), (1, 5, 94), (2, 22, 77), (3, 10, 15), (4, 0, 100), (5, 33, 66), (6, 90, 9)]
_MATRIX_SOURCES = [0, 55, 99]
_MATRIX_TARGETS = [9, 90, 44, 100]
_ISO_SOURCE, _ISO_SECONDS = 55, 60.0
_SNAP_QUERIES = [(0, 52.0031, 13.0044), (1, 52.0006, 13.0002), (2, 51.9992, 13.0087), (3, 52.0088, 13.0091)]


def _node_latlon(node: int) -> tuple[float, float]:
    return float(_GRID.node_lat[node]), float(_GRID.node_lon[node])


_ENGINES: dict[int, RoutingEngine] = {}


def _engine(spark: SparkSession) -> RoutingEngine:
    """One engine (and one graph broadcast) per SparkSession."""
    key = id(spark)
    if key not in _ENGINES:
        eng = RoutingEngine(spark)
        eng.load_graph(_GRID, "auto")
        eng.register()
        _ENGINES[key] = eng
    return _ENGINES[key]


def _reach_cte(sources_values: str, src_table: str = "srcs(tag, s)") -> str:
    return f"""
edges(src, dst, w) AS (VALUES {_EDGES_SQL}),
{src_table} AS (VALUES {sources_values}),
reach(tag, node, cost) AS (
  SELECT tag, s, 0::BIGINT FROM srcs
  UNION
  SELECT r.tag, e.dst, r.cost + e.w
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.cost + e.w <= {_COST_CAP}
)"""


# ---------------------------------------------------------------------------
# travel_time (#3/#14)
# ---------------------------------------------------------------------------

TRAVEL_TIME_ORACLE = f"""
WITH RECURSIVE {_reach_cte(', '.join(f'({i}, {s})' for i, s, _ in _OD_PAIRS))},
pairs(pair_id, d) AS (VALUES {', '.join(f'({i}, {d})' for i, _, d in _OD_PAIRS)})
SELECT p.pair_id, min(r.cost) / 1000.0 AS duration_s
FROM pairs p LEFT JOIN reach r ON r.tag = p.pair_id AND r.node = p.d
GROUP BY p.pair_id
ORDER BY p.pair_id
"""


@register("route_travel_time", oracle=TRAVEL_TIME_ORACLE, headline=True, doc="travel_time UDF vs recursive-CTE shortest path")
def route_travel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    _engine(spark)
    rows = []
    for pid, s, d in _OD_PAIRS:
        la1, lo1 = _node_latlon(s)
        la2, lo2 = _node_latlon(d)
        rows.append((pid, la1, lo1, la2, lo2))
    df = literal_df(spark, rows, "pair_id int, lat1 double, lon1 double, lat2 double, lon2 double")
    return df.selectExpr("pair_id", "travel_time(lat1, lon1, lat2, lon2, 'auto') AS duration_s").orderBy(
        "pair_id"
    )


# ---------------------------------------------------------------------------
# route (#4) — duration through the geometry-returning UDF
# ---------------------------------------------------------------------------

ROUTE_ORACLE = f"""
WITH RECURSIVE {_reach_cte(', '.join(f'({i}, {s})' for i, s, _ in _OD_PAIRS[:4]))},
pairs(pair_id, d) AS (VALUES {', '.join(f'({i}, {d})' for i, _, d in _OD_PAIRS[:4])})
SELECT p.pair_id, min(r.cost) / 1000.0 / 60.0 AS duration_minutes
FROM pairs p LEFT JOIN reach r ON r.tag = p.pair_id AND r.node = p.d
GROUP BY p.pair_id
ORDER BY p.pair_id
"""


@register("route_wkb_duration", oracle=ROUTE_ORACLE, doc="travel_time_route_wkb struct (duration field) on WKT inputs")
def route_wkb_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    _engine(spark)
    rows = []
    for pid, s, d in _OD_PAIRS[:4]:
        la1, lo1 = _node_latlon(s)
        la2, lo2 = _node_latlon(d)
        rows.append((pid, f"POINT({lo1!r} {la1!r})", f"POINT({lo2!r} {la2!r})"))
    df = literal_df(spark, rows, "pair_id int, f string, t string")
    return df.selectExpr(
        "pair_id", "travel_time_route_wkb(f, t, 'auto').duration_minutes AS duration_minutes"
    ).orderBy("pair_id")


# ---------------------------------------------------------------------------
# matrix (#8/#15)
# ---------------------------------------------------------------------------

MATRIX_ORACLE = f"""
WITH RECURSIVE {_reach_cte(', '.join(f'({i}, {s})' for i, s in enumerate(_MATRIX_SOURCES)))},
tgts(to_idx, d) AS (VALUES {', '.join(f'({i}, {d})' for i, d in enumerate(_MATRIX_TARGETS))})
SELECT s.tag AS from_idx, t.to_idx, min(r.cost) / 1000.0 AS duration_s
FROM srcs s CROSS JOIN tgts t
LEFT JOIN reach r ON r.tag = s.tag AND r.node = t.d
GROUP BY s.tag, t.to_idx
ORDER BY from_idx, to_idx
"""


@register("route_matrix", oracle=MATRIX_ORACLE, headline=True, doc="N x M travel-time matrix (one frontier SSSP per origin)")
def route_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark)
    src = [_node_latlon(s) for s in _MATRIX_SOURCES]
    tgt = [_node_latlon(t) for t in _MATRIX_TARGETS]
    return eng.matrix(
        [p[0] for p in src], [p[1] for p in src], [p[0] for p in tgt], [p[1] for p in tgt], "auto"
    ).select("from_idx", "to_idx", "duration_s")


# ---------------------------------------------------------------------------
# isochrone (#17)
# ---------------------------------------------------------------------------

ISOCHRONE_ORACLE = f"""
WITH RECURSIVE {_reach_cte(f'(0, {_ISO_SOURCE})')},
nodes(node_id, lon, lat) AS (VALUES {_NODES_SQL})
SELECT n.lat, n.lon, min(r.cost) / 1000.0 AS seconds
FROM reach r JOIN nodes n ON n.node_id = r.node
WHERE r.cost <= {int(_ISO_SECONDS * 1000)}
GROUP BY n.lat, n.lon
ORDER BY seconds, lat, lon
"""


@register("route_isochrone", oracle=ISOCHRONE_ORACLE, doc="single-source isochrone point cloud with cutoff")
def route_isochrone(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark)
    la, lo = _node_latlon(_ISO_SOURCE)
    return eng.isochrone(la, lo, _ISO_SECONDS, "auto").coalesce(1).sortWithinPartitions("seconds", "lat", "lon")


# ---------------------------------------------------------------------------
# snap / locate (#6/#16)
# ---------------------------------------------------------------------------

SNAP_ORACLE = f"""
WITH nodes(node_id, lon, lat) AS (VALUES {_NODES_SQL}),
qs(q_id, qlat, qlon) AS (VALUES {', '.join(f'({i}, {la!r}, {lo!r})' for i, la, lo in _SNAP_QUERIES)})
SELECT q_id, lat, lon FROM (
  SELECT q.q_id, n.lat, n.lon,
         row_number() OVER (
           PARTITION BY q.q_id
           ORDER BY (n.lon - q.qlon) * (n.lon - q.qlon) + (n.lat - q.qlat) * (n.lat - q.qlat), n.node_id
         ) AS rn
  FROM qs q CROSS JOIN nodes n
) WHERE rn = 1
ORDER BY q_id
"""


@register("route_snap", oracle=SNAP_ORACLE, doc="nearest-main-road-node snap (R-tree semantics)")
def route_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    _engine(spark)
    df = literal_df(spark, _SNAP_QUERIES, "q_id int, qlat double, qlon double")
    return df.selectExpr(
        "q_id",
        "travel_time_snap(qlat, qlon, 'auto').lat AS lat",
        "travel_time_snap(qlat, qlon, 'auto').lon AS lon",
    ).orderBy("q_id")


# ---------------------------------------------------------------------------
# node count (#18)
# ---------------------------------------------------------------------------

NODE_COUNT_ORACLE = f"""
WITH nodes(node_id, lon, lat) AS (VALUES {_NODES_SQL})
SELECT 'auto' AS mode, count(*) AS n_nodes FROM nodes
"""


@register("route_node_count", oracle=NODE_COUNT_ORACLE, doc="graph cardinality sanity")
def route_node_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    _engine(spark)
    return spark.sql("SELECT 'auto' AS mode, cast(travel_time_node_count('auto') AS BIGINT) AS n_nodes")


# ---------------------------------------------------------------------------
# lateral fan-out (the reference README's CROSS JOIN pattern) + batch routing
# ---------------------------------------------------------------------------

_FANOUT_CITIES = [("B", 35), ("C", 62), ("D", 99), ("E", 57)]

FANOUT_ORACLE = f"""
WITH RECURSIVE {_reach_cte(f'(0, 0)')},
cities(name, node) AS (VALUES {', '.join(f"('{n}', {d})" for n, d in _FANOUT_CITIES)})
SELECT c.name, min(r.cost) / 1000.0 AS seconds
FROM cities c LEFT JOIN reach r ON r.tag = 0 AND r.node = c.node
GROUP BY c.name
ORDER BY seconds, name
"""


@register("route_fanout", oracle=FANOUT_ORACLE, doc="one-origin city fan-out (README CROSS JOIN pattern)")
def route_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    _engine(spark)
    rows = []
    for name, node in _FANOUT_CITIES:
        la, lo = _node_latlon(node)
        rows.append((name, la, lo))
    la0, lo0 = _node_latlon(0)
    cities = literal_df(spark, rows, "name string, lat double, lon double")
    return (
        cities.selectExpr("name", f"travel_time({la0!r}, {lo0!r}, lat, lon, 'auto') AS seconds")
        .orderBy("seconds", "name")
    )


_BATCH_MODE = "batch40k"
_BATCH_DIM = 200  # 200x200 = 40k nodes — the scale ARCHITECTURE §2b names
_BATCH_GRID_CACHE: list = []


def _batch_grid():
    if not _BATCH_GRID_CACHE:
        _BATCH_GRID_CACHE.append(build_grid_graph("auto", nrows=_BATCH_DIM, ncols=_BATCH_DIM, island=False))
    return _BATCH_GRID_CACHE[0]


@register("route_batch_throughput", oracle=None, headline=True,
          doc="batch routing: 20k OD pairs over a 40k-node grid (= routing_batch #15; rows-only)")
def route_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The throughput shape of the reference's rayon routing_batch
    (rust/src/lib.rs:560-600): a large OD table over a COUNTRY-SIZED graph
    (40k nodes — the scale where the pure-Python heap Dijkstra ceiling bit,
    ARCHITECTURE §2b), routed by the vectorized frontier-SSSP kernel with
    origins fanned across all cores. One SSSP serves every target of a
    source, so 20k pairs cost ~100 kernel runs, not 20k."""
    eng = _engine(spark)
    g = _batch_grid()
    if not eng.is_loaded(_BATCH_MODE):
        eng.load_graph(g, _BATCH_MODE)
    n_grid = g.num_nodes
    # The uniform batch grid's coords are affine in node_id
    # (testing.build_grid_graph: lat = 52.0 + (id div dim) * 0.001,
    # lon = 13.0 + (id mod dim) * 0.001, float64). Generating them with
    # the same IEEE ops in Catalyst is BIT-EXACT vs the numpy arrays
    # (pinned by test_scale_routing) and replaces a 40k-row pandas
    # LocalTableScan — whose broadcast re-serialized every row from the
    # driver each action — with a codegen range (A/B: -11% min, -17% med)
    nodes = spark.range(n_grid).select(
        F.col("id").alias("node_id"),
        (F.lit(52.0) + (F.col("id") / F.lit(_BATCH_DIM)).cast("long") * F.lit(0.001)).alias("lat"),
        (F.lit(13.0) + (F.col("id") % F.lit(_BATCH_DIM)) * F.lit(0.001)).alias("lon"),
    )
    # 100 distinct origins x 200 targets each = 20k pairs spread grid-wide.
    # ORIGIN-MAJOR generation, partition-aligned: the kernel runs ONE SSSP
    # per distinct source, so the layout goal is an even share of origins
    # per task, one task per core. The former repartition(n_parts,
    # "s_node") HASH-placed 100 origins into 13 partitions — measured
    # Murmur3 skew [13,13,11,10,8,...,3], so the critical-path task ran
    # 13 SSSPs against a mean of 7.7 (the driver-measured 32-core
    # inversion: 0.301 s at 32 cores vs 0.222 at 8). Generating origins as
    # a contiguous range over n_parts partitions and exploding the 200
    # targets row-locally (guide §2.4/§2.5) gives every task <=
    # ceil(origins/n_parts) origins deterministically AND removes the
    # exchange outright — the kernel stage fuses with the generator. Row
    # values are IDENTICAL: t = o + 100*j is a bijection on [0, 20k), so
    # the same (s_node, d_node) multiset feeds the same exact-decimal
    # aggregate. At cluster scale origins vastly outnumber cores, so the
    # parallelism cap binds; nothing here is a local constant.
    n_origins = 100  # distinct s_node values by construction
    n_parts = min(n_origins, spark.sparkContext.defaultParallelism)
    pairs = (
        spark.range(0, n_origins, 1, n_parts)
        .selectExpr("id AS o", "explode(sequence(0, 199)) AS j")
        .selectExpr(
            f"(o * 397) % {n_grid} AS s_node",
            f"((o + 100 * j) * 37 + 13) % {n_grid} AS d_node",
        )
        .join(F.broadcast(nodes.selectExpr("node_id AS s_node", "lat AS lat1", "lon AS lon1")), "s_node")
        .join(F.broadcast(nodes.selectExpr("node_id AS d_node", "lat AS lat2", "lon AS lon2")), "d_node")
    )
    routed = pairs.selectExpr(
        "s_node", "d_node", f"travel_time(lat1, lon1, lat2, lon2, '{_BATCH_MODE}') AS s"
    )
    return routed.agg(
        F.count("*").alias("n_pairs"),
        F.count("s").alias("n_routed"),
        F.sum(F.col("s").cast("decimal(18,3)")).cast("double").alias("total_duration_s"),
    )


# value-hash-oracled twin of route_batch_throughput: same pair-generation +
# repartition-on-source + travel_time + exact-decimal aggregation shape, on
# the ORACLE grid (a 40k-node recursive CTE is intractable for DuckDB; the
# kernel under test is identical). Six sources route to EVERY node incl.
# the island (-> NULLs), so n_routed < n_pairs is part of the hash.
_BATCH_SRC = [0, 15, 33, 55, 77, 99]
BATCH_DURATIONS_ORACLE = f"""
WITH RECURSIVE {_reach_cte(', '.join(f'({s}, {s})' for s in _BATCH_SRC))},
nodes(node_id, lon, lat) AS (VALUES {_NODES_SQL}),
best AS (SELECT tag, node, min(cost) AS cost FROM reach GROUP BY tag, node)
SELECT s.tag AS s_node, count(*) AS n_pairs, count(b.cost) AS n_routed,
       CAST(sum(b.cost) / 1000.0 AS DOUBLE) AS total_duration_s
FROM srcs s
CROSS JOIN nodes n
LEFT JOIN best b ON b.tag = s.tag AND b.node = n.node_id
GROUP BY s.tag
ORDER BY s_node
"""


@register("route_batch_durations", oracle=BATCH_DURATIONS_ORACLE,
          doc="batch-routing durations: per-source exact duration sums vs the recursive-CTE reach set (oracled twin of route_batch_throughput)")
def route_batch_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    _engine(spark)
    g = _GRID
    n = g.num_nodes
    nodes = spark.createDataFrame(
        pd.DataFrame(
            {
                "node_id": np.arange(n, dtype=np.int64),
                "lat": g.node_lat.astype(np.float64),
                "lon": g.node_lon.astype(np.float64),
            }
        )
    )
    src_arr = ", ".join(str(s) for s in _BATCH_SRC)
    pairs = (
        spark.range(len(_BATCH_SRC) * n)
        .selectExpr(
            f"element_at(array({src_arr}), cast(id div {n} AS int) + 1) AS s_node",
            f"id % {n} AS d_node",
        )
        .join(F.broadcast(nodes.selectExpr("node_id AS s_node", "lat AS lat1", "lon AS lon1")), "s_node")
        .join(F.broadcast(nodes.selectExpr("node_id AS d_node", "lat AS lat2", "lon AS lon2")), "d_node")
    )
    routed = pairs.repartition(8, "s_node").selectExpr(
        "s_node", "travel_time(lat1, lon1, lat2, lon2, 'auto') AS s"
    )
    return (
        routed.groupBy("s_node")
        .agg(
            F.count("*").alias("n_pairs"),
            F.count("s").alias("n_routed"),
            F.sum(F.col("s").cast("decimal(18,3)")).cast("double").alias("total_duration_s"),
        )
        .orderBy("s_node")
    )


_CONTOUR_LEVELS = [0.5, 1.0, 2.0]

# The hull vertex count is algorithm-specific (covered by containment
# property tests), but the reachable-node count per contour level is
# path-independent — oracle it against the same recursive-CTE reach set the
# other routing oracles use.
CONTOURS_ORACLE = f"""
WITH RECURSIVE {_reach_cte(f'(0, {_ISO_SOURCE})')},
levels(minutes) AS (VALUES {', '.join(f'({m!r})' for m in _CONTOUR_LEVELS)}),
best AS (SELECT node, min(cost) AS cost FROM reach GROUP BY node)
SELECT cast(l.minutes AS DOUBLE) AS minutes, count(*) AS n_reach
FROM levels l JOIN best b ON b.cost <= l.minutes * 60000
GROUP BY l.minutes
ORDER BY minutes
"""


@register("route_isochrone_contours", oracle=CONTOURS_ORACLE,
          doc="polygon contour isochrones: reach count per level oracled; hull geometry property-tested")
def route_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark)
    la, lo = _node_latlon(_ISO_SOURCE)
    return (
        eng.isochrone_contours(la, lo, _CONTOUR_LEVELS, "auto")
        .select("minutes", "n_reach")
        .orderBy("minutes")
    )


# The oracle COMPUTES the build, not just its answer: it regenerates the
# same 60x60 lattice (grid_segments rules: residential rows with row 1
# oneway, secondary columns), applies the identical speed join / haversine
# weight / zero-ms drop / oneway reverse-edge rules as build_mode_graph_df,
# and counts the resulting directed graph — so DuckDB independently derives
# (3600, 14101) through the reference's graph-construction semantics
# (rust/src/lib.rs:168-269).
TILE_BUILD_ORACLE = """
WITH hseg AS (
  SELECT r*60 + c AS src, r*60 + c + 1 AS dst, 'residential' AS highway,
         CASE WHEN r = 1 THEN 'yes' ELSE 'no' END AS oneway
  FROM range(0, 60) t1(r), range(0, 59) t2(c)
),
vseg AS (
  SELECT r*60 + c AS src, (r+1)*60 + c AS dst, 'secondary' AS highway, 'no' AS oneway
  FROM range(0, 59) t1(r), range(0, 60) t2(c)
),
seg AS (SELECT * FROM hseg UNION ALL SELECT * FROM vseg),
speeds(highway, speed_kmh) AS (VALUES ('residential', 30.0), ('secondary', 60.0)),
nodes AS (
  SELECT node_id, 13.0 + (node_id % 60) * 0.001 AS lon, 52.0 + (node_id // 60) * 0.001 AS lat
  FROM range(0, 3600) t(node_id)
),
withw AS (
  SELECT s.src, s.dst, s.oneway,
         floor(
           2*6371008.8*asin(sqrt(
             pow(sin(radians(n2.lat - n1.lat)/2), 2)
             + cos(radians(n1.lat))*cos(radians(n2.lat))*pow(sin(radians(n2.lon - n1.lon)/2), 2)
           )) / 1000.0 / sp.speed_kmh * 3600.0 * 1000.0
         ) AS weight_ms
  FROM seg s
  JOIN speeds sp ON sp.highway = s.highway
  JOIN nodes n1 ON n1.node_id = s.src
  JOIN nodes n2 ON n2.node_id = s.dst
),
directed AS (
  SELECT src, dst FROM withw WHERE weight_ms > 0
  UNION ALL
  SELECT dst AS src, src AS dst FROM withw WHERE weight_ms > 0 AND oneway <> 'yes'
)
SELECT
  (SELECT count(DISTINCT x) FROM (SELECT src AS x FROM directed UNION ALL SELECT dst FROM directed)) AS n_nodes,
  count(*) AS n_edges
FROM directed
"""


@register("route_tile_build", oracle=TILE_BUILD_ORACLE, headline=True,
          doc="small-build single-task ways->graph 'tile build' on a 3.6k-node grid, oracled on exact cardinalities")
def route_tile_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ETL operator (#9/#11) through the small-build dispatch: a 60x60
    lattice (7k segments — far under SMALL_BUILD_SEGMENTS) derives its whole
    graph in ONE lazy Arrow task via the fused single-batch kernel
    (osm_build.build_cardinalities_from_grid), the same dispatch
    `build_tiles` takes for city/country extracts. The distributed
    multi-stage pipeline (segments -> speed join -> haversine weights ->
    oneway -> dense remap) stays oracle-covered end-to-end by
    q:route_pbf_build and the pandas/DF parity test
    (tests/test_osm_build.py)."""
    from duckdb_routing_spark.routing.osm_build import build_cardinalities_from_grid

    # fixture generated INSIDE the task (closure ships three ints, not two
    # pickled frames) — symmetric with the oracle, which derives the
    # lattice from the grid rules itself
    return build_cardinalities_from_grid(spark, 60, 60, "auto")


# ---------------------------------------------------------------------------
# raw .osm.pbf ingestion (#9 end-to-end): encode the grid as a real PBF,
# decode it distributed, build the graph, route — oracled against the same
# recursive-CTE shortest paths as route_travel_time (identical grid)
# ---------------------------------------------------------------------------


@register("route_pbf_build", oracle=TRAVEL_TIME_ORACLE,
          doc="raw .osm.pbf -> distributed blob decode -> tile build -> routed durations")
def route_pbf_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from duckdb_routing_spark.routing.osm_build import build_mode_graph_df, segments_from_ways
    from duckdb_routing_spark.sources.osm_pbf import read_osm_pbf, write_osm_pbf
    from duckdb_routing_spark.testing import grid_nodes, grid_ways

    path = os.path.join(tempfile.gettempdir(), "spark_graft_grid.osm.pbf")
    if not os.path.exists(path):
        nodes_pdf = grid_nodes()
        write_osm_pbf(
            path,
            [(int(r.node_id), float(r.lon), float(r.lat)) for r in nodes_pdf.itertuples(index=False)],
            grid_ways(),
            blob_nodes=32,  # several blobs -> the decode actually fans out
        )
    ways, osm_nodes = read_osm_pbf(spark, path)
    nodes, edges = build_mode_graph_df(spark, segments_from_ways(ways), osm_nodes, "auto")
    g = RoutingGraph.from_pandas(nodes.toPandas(), edges.toPandas())
    rows = []
    for pid, s, d in _OD_PAIRS:
        la1, lo1 = _node_latlon(s)
        la2, lo2 = _node_latlon(d)
        dur = kernels.batch_travel_time_s(g, [la1], [lo1], [la2], [lo2])[0]
        rows.append((pid, None if np.isnan(dur) else float(dur)))
    return literal_df(spark, rows, "pair_id int, duration_s double").orderBy("pair_id")


# ---------------------------------------------------------------------------
# multi-mode parity: each mode's graph has different weights (speed table)
# ---------------------------------------------------------------------------

_MODE_GRIDS = {m: build_grid_graph(m) for m in ("bicycle", "pedestrian")}
_MODE_GRIDS["auto"] = _GRID
_MODE_OD = [(0, 0, 99), (1, 22, 77), (2, 5, 94)]


def _mode_edges_cte() -> str:
    parts = []
    for mode, g in sorted(_MODE_GRIDS.items()):
        parts.append(f"edges_{mode}(src, dst, w) AS (VALUES {grid_edge_values_sql(g)})")
    return ",\n".join(parts)


_MODE_CAPS = {"auto": 250_000, "bicycle": 450_000, "pedestrian": 1_400_000}


def _mode_reach(mode: str) -> str:
    return f"""
reach_{mode}(pair_id, node, cost) AS (
  SELECT pair_id, s, 0::BIGINT FROM pairs
  UNION
  SELECT r.pair_id, e.dst, r.cost + e.w
  FROM reach_{mode} r JOIN edges_{mode} e ON e.src = r.node
  WHERE r.cost + e.w <= {_MODE_CAPS[mode]}
)"""


MODES_ORACLE = f"""
WITH RECURSIVE {_mode_edges_cte()},
pairs(pair_id, s, d) AS (VALUES {', '.join(f'({i}, {s}, {d})' for i, s, d in _MODE_OD)}),
{', '.join(_mode_reach(m) for m in ('auto', 'bicycle', 'pedestrian'))},
reach(mode, pair_id, node, cost) AS (
  SELECT 'auto', * FROM reach_auto
  UNION ALL SELECT 'bicycle', * FROM reach_bicycle
  UNION ALL SELECT 'pedestrian', * FROM reach_pedestrian
)
SELECT p.pair_id, m.mode, min(r.cost) / 1000.0 AS duration_s
FROM pairs p
CROSS JOIN (SELECT 'auto' AS mode UNION ALL SELECT 'bicycle' UNION ALL SELECT 'pedestrian') m
LEFT JOIN reach r ON r.mode = m.mode AND r.pair_id = p.pair_id AND r.node = p.d
GROUP BY p.pair_id, m.mode
ORDER BY p.pair_id, m.mode
"""


@register("route_modes", oracle=MODES_ORACLE, doc="per-mode travel times (auto < bicycle < pedestrian)")
def route_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark)
    for m, g in _MODE_GRIDS.items():
        if not eng.is_loaded(m):
            eng.load_graph(g, m)
    rows = []
    for pid, s, d in _MODE_OD:
        la1, lo1 = _node_latlon(s)
        la2, lo2 = _node_latlon(d)
        for mode in ("auto", "bicycle", "pedestrian"):
            rows.append((pid, mode, la1, lo1, la2, lo2))
    df = literal_df(spark, rows, "pair_id int, mode string, lat1 double, lon1 double, lat2 double, lon2 double")
    return df.selectExpr("pair_id", "mode", "travel_time(lat1, lon1, lat2, lon2, mode) AS duration_s").orderBy(
        "pair_id", "mode"
    )


ISO_BATCH_ORACLE = f"""
WITH RECURSIVE {_reach_cte('(0, 11), (1, 88)')},
nodes(node_id, lon, lat) AS (VALUES {_NODES_SQL})
SELECT r.tag AS origin_id, n.lat, n.lon, min(r.cost) / 1000.0 AS seconds
FROM reach r JOIN nodes n ON n.node_id = r.node
WHERE r.cost <= 45000
GROUP BY r.tag, n.lat, n.lon
ORDER BY origin_id, seconds, lat, lon
"""


@register("route_isochrones_batch", oracle=ISO_BATCH_ORACLE, doc="multi-origin isochrones via mapInPandas")
def route_iso_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark)
    la0, lo0 = _node_latlon(11)
    la1, lo1 = _node_latlon(88)
    origins = literal_df(
        spark, [(0, la0, lo0), (1, la1, lo1)], "origin_id long, lat double, lon double"
    ).repartition(2)
    return (
        eng.isochrones(origins, 45.0, "auto")
        .withColumn("origin_id", F.col("origin_id").cast("int"))
        .coalesce(1)
        .sortWithinPartitions("origin_id", "seconds", "lat", "lon")
    )


MONACO_ARTIFACT = "/root/reference/test/data/monaco.osm.pbf.auto.routing"


# Frozen expectations for the reference's Monaco artifact. The cardinalities
# come straight out of the bincode decode; the durations are shortest-path
# costs, which are path-INDEPENDENT (unique minimum), so they are stable
# constants of (artifact, speed table) — any kernel rewrite must reproduce
# them exactly.
_MONACO_EXPECT = [
    ("edges", 11804.0),
    ("nodes", 7338.0),
    ("route:casino->palace", 198.148),
    ("route:larvotto->fontvieille", 253.178),
    ("route:port->jardin", 239.588),
]

MONACO_ORACLE = (
    "SELECT metric, cast(value AS DOUBLE) AS value FROM (VALUES "
    + ", ".join(f"('{m}', {v!r})" for m, v in _MONACO_EXPECT)
    + ") AS t(metric, value) ORDER BY metric"
)


@register("route_monaco_real_osm", oracle=MONACO_ORACLE,
          doc="real-OSM end-to-end: the reference's Monaco graph artifact routed through the SQL surface, "
              "oracled against frozen graph cardinalities + path-independent route durations")
def route_monaco(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loads the reference engine's own cached Monaco graph (bincode
    RoutingData, 7,338 real OSM nodes) via routing/ref_artifact.py and runs
    the monaco_routing.test route set through travel_time_route_wkb.
    Returns an empty frame with a stable schema when the artifact is not
    present on the host.

    The Monaco graph loads into the SHARED session engine as its own
    costing mode: registering a second engine would swap the SQL-surface
    closures to that engine's broadcasts dict and silently re-point every
    other mode (found by the shuffled double-run state-leak check)."""
    import os

    schema = "metric string, value double"
    if not os.path.exists(MONACO_ARTIFACT):
        return spark.createDataFrame([], schema)
    eng = _engine(spark)
    if not eng.is_loaded("monaco"):
        from duckdb_routing_spark.routing.ref_artifact import read_reference_artifact

        eng.load_graph(read_reference_artifact(MONACO_ARTIFACT), "monaco")
    g = eng._local["monaco"]
    pairs = [
        ("casino->palace", "POINT(7.4281 43.7396)", "POINT(7.4197 43.7312)"),
        ("port->jardin", "POINT(7.4260 43.7350)", "POINT(7.4144 43.7311)"),
        ("larvotto->fontvieille", "POINT(7.4326 43.7452)", "POINT(7.4172 43.7266)"),
    ]
    df = literal_df(spark, pairs, "name string, f string, t string")
    routes = df.selectExpr(
        "concat('route:', name) AS metric",
        "travel_time_route_wkb(f, t, 'monaco').duration_minutes * 60.0 AS value",
    )
    counts = literal_df(spark, [("nodes", float(g.num_nodes)), ("edges", float(g.num_edges))], schema)
    return routes.unionByName(counts).orderBy("metric")
