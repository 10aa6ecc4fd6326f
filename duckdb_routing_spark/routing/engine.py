"""RoutingEngine: the session-scoped engine object.

Maps the reference's SQL surface (SURVEY §2.1/§2.2) onto Spark:

  reference operator                     -> here
  ------------------------------------------------------------------
  travel_time_load_config(path)          -> engine.load_config(path) + SQL fn
  SET valhalla_tiles = 'path'            -> spark.conf 'spark.routing.tiles'
  travel_time_is_loaded()                -> engine.is_loaded / SQL fn
  travel_time(lat1,lon1,lat2,lon2,mode)  -> vectorized pandas UDF
  travel_time_route_wkb(from,to,mode)    -> pandas UDF -> struct(distance_km,
                                            duration_minutes, geometry WKB)
  travel_time_route(from,to,mode)        -> alias of the above (the reference
                                            macro only converts WKB->GEOMETRY)
  travel_time_locate(lat,lon,mode)       -> pandas UDF -> struct(lat,lon)
  travel_time_snap(lat,lon,mode)         -> pandas UDF -> struct(lat,lon,
                                            distance_m)      [native gen]
  travel_time_matrix(lists...)           -> engine.matrix(...) -> DataFrame
  travel_time_isochrone(lat,lon,s,mode)  -> engine.isochrone(...) -> DataFrame
  travel_time_node_count(mode)           -> engine.node_count / SQL fn
  travel_time_request(action, json)      -> engine.request(...) JSON in/out
  routing_free(mode)                     -> engine.free(mode)

State model: one broadcast per loaded mode (auto/bicycle/pedestrian), scoped
to this engine/SparkSession — deliberately correcting the reference's
process-global singleton (src/travel_time_extension.cpp:28-30; SURVEY §3.3).
Error model parity: NULL in -> NULL out; unroutable -> NULL (not an error);
calling a routing function with no graph loaded raises, like the C++
EnsureRouterLoaded (src/travel_time_extension.cpp:38-42).
"""

from __future__ import annotations

import json
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_routing_spark.operators.common import literal_df
from duckdb_routing_spark.routing import kernels
from duckdb_routing_spark.routing.geometry import (
    any_geometry_to_lonlat,
    build_wkb_linestring,
    build_wkb_polygon,
    build_wkb_multipolygon,
    concave_hull_knn,
    convex_hull,
    grid_contour_multipolygon,
    grid_contour_shell,
    haversine_m,
)
from duckdb_routing_spark.routing.graph import RoutingGraph

TILES_CONF_KEY = "spark.routing.tiles"
BBOX_CONF_KEY = "spark.routing.bbox"


class _EngineBroadcasts(dict):
    """mode -> Broadcast[payload] of one engine. The engine id pickles with
    the dict into every UDF closure, so executors can tell engines apart."""

    def __init__(self):
        super().__init__()
        self.engine_id = uuid.uuid4().hex


# Executor-process cache: (engine id, mode) -> (payload uuid, RoutingGraph),
# built once per Python worker process and shared across Arrow batches and
# reused tasks. It holds at most one graph per engine and mode: a graph
# whose broadcast load_graph() replaced or free() destroyed is dropped on
# the engine's next resolve, and engines never evict each other's graphs.
_GRAPH_CACHE: dict[tuple[str, str], tuple[str, RoutingGraph]] = {}


def _resolve(broadcasts: _EngineBroadcasts, mode: str) -> RoutingGraph:
    # unknown modes fall back to 'auto', like get_router_for_mode
    # (rust/src/lib.rs:290-296)
    mode = mode if mode in broadcasts else "auto"
    engine_id = broadcasts.engine_id
    for key in [k for k in _GRAPH_CACHE if k[0] == engine_id and k[1] not in broadcasts]:
        del _GRAPH_CACHE[key]  # freed since it was cached
    bc = broadcasts.get(mode)
    if bc is None:
        raise RuntimeError(
            "Travel time extension not loaded. Load routing tiles first "
            "(engine.load_config(path) or SET spark.routing.tiles)"
        )
    payload = bc.value
    key = (engine_id, mode)
    cached = _GRAPH_CACHE.get(key)
    if cached is None or cached[0] != payload["_uuid"]:
        _GRAPH_CACHE.pop(key, None)  # load_graph() replaced it: drop before rebuilding
        g = RoutingGraph.from_payload({k: v for k, v in payload.items() if k != "_uuid"})
        cached = _GRAPH_CACHE[key] = (payload["_uuid"], g)
    return cached[1]


def _point_action(g: RoutingGraph, action: str, locs: list) -> str | None:
    """JSON answer of a per-row point action (locate, route) on graph g,
    shared by the travel_time_request UDF and RoutingEngine.request; None
    for any other action."""
    if action == "locate":
        out = []
        for p in locs:
            idx = g.nearest_main_node(float(p["lon"]), float(p["lat"]))
            out.append(None if idx < 0 else {"lat": float(g.node_lat[idx]), "lon": float(g.node_lon[idx])})
        return json.dumps({"locations": out})
    if action == "route":
        if len(locs) < 2:
            return json.dumps({"error": "route requires 2 locations"})
        s = g.nearest_main_node(float(locs[0]["lon"]), float(locs[0]["lat"]))
        d = g.nearest_main_node(float(locs[1]["lon"]), float(locs[1]["lat"]))
        if s < 0 or d < 0:
            return json.dumps({"error": "no road near location"})
        w, path = kernels.p2p_path(g, s, d)
        if w < 0:
            return json.dumps({"error": "no route found"})
        dist_m = kernels.path_distance_m(g, path)
        return json.dumps(
            {"trip": {"summary": {"length": dist_m / 1000.0, "time": w / 1000.0}, "shape_points": len(path)}}
        )
    return None


ROUTE_STRUCT = T.StructType(
    [
        T.StructField("distance_km", T.DoubleType()),
        T.StructField("duration_minutes", T.DoubleType()),
        T.StructField("geometry", T.BinaryType()),
    ]
)
LOCATE_STRUCT = T.StructType([T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())])
SNAP_STRUCT = T.StructType(
    [
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("distance_m", T.DoubleType()),
    ]
)
MATRIX_SCHEMA = T.StructType(
    [
        T.StructField("from_idx", T.IntegerType()),
        T.StructField("to_idx", T.IntegerType()),
        T.StructField("distance_m", T.DoubleType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)
ISOCHRONE_SCHEMA = T.StructType(
    [
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("seconds", T.DoubleType()),
    ]
)

# Service limits kept for behavioral parity with the generated valhalla.json
# (src/valhalla_build_tiles_simple.cpp:104-129; SURVEY §4.2).
SERVICE_LIMITS = {
    "max_matrix_location_pairs": 2500,
    "isochrone_max_contours": 4,
    "isochrone_max_time_min": 120,
    "max_route_distance_km": {"auto": 5000.0, "bicycle": 500.0, "pedestrian": 250.0},
}

# Matrix calls whose total SSSP work (origins x graph nodes) stays under this
# run as ONE task instead of fanning out. Derived from the service-limit
# table, not hand-tuned: a maximally-limited call (2500 pairs as 2500x1)
# against a city-scale graph (~8k nodes — the kernel's measured single-core
# sweep clears ~20M node relaxations well under a second) is still cheaper
# fused than scheduled. Bigger graphs or unlimited_matrix cluster calls fan
# origins out below.
SINGLE_TASK_MATRIX_WORK = SERVICE_LIMITS["max_matrix_location_pairs"] * 8_000


class RoutingEngine:
    def __init__(self, spark: SparkSession, unlimited_matrix: bool = False):
        self.spark = spark
        self._broadcasts = _EngineBroadcasts()  # mode -> Broadcast[payload]
        self._local: dict[str, RoutingGraph] = {}  # driver-side copies
        self._tiles_path: str | None = None
        self._registered = False
        # opt-out of the reference's max_matrix_location_pairs service limit
        self.unlimited_matrix = unlimited_matrix
        self._elevation: tuple | None = None  # (lats, lons, heights) arrays
        self._elev_grid: tuple | None = None  # (lat_axis, lon_axis, H) raster

    def load_elevation(self, df) -> None:
        """Load an elevation sample table (lat, lon, height_m) for the
        `height` action — the analog of pointing Valhalla at DEM tiles.
        Collected driver-side: DEM samples for a service area are bounded
        (the reference's Europe build keeps elevation as a static sidecar
        dataset too, scripts/BUILD_EUROPE_TILES.md).

        If the samples form a complete regular lat/lon lattice (the shape a
        DEM raster has), lookups BILINEARLY interpolate between the four
        surrounding cells — Valhalla's DEM sampling behavior — with
        coordinates clamped to the raster edge. Scattered samples fall back
        to nearest-sample lookup."""
        import numpy as _np

        pdf = df.toPandas() if hasattr(df, "toPandas") else df
        lats = pdf["lat"].to_numpy(_np.float64)
        lons = pdf["lon"].to_numpy(_np.float64)
        hts = pdf["height_m"].to_numpy(_np.float64)
        self._elevation = (lats, lons, hts)
        self._elev_grid = None
        ulat, ulon = _np.unique(lats), _np.unique(lons)
        self._finish_elevation_load(ulat, ulon, lats, lons, hts)

    def load_elevation_hgt(self, path: str, stride: int = 1) -> None:
        """Point the height action at real DEM tiles: a single SRTM `.hgt`
        file or a directory of them (routing/elevation.py reads the public
        NASA format). Equivalent to load_elevation over the decoded sample
        table — full tiles form a regular lattice, so lookups bilinearly
        interpolate exactly like Valhalla's DEM sampling."""
        import os as _os

        from duckdb_routing_spark.routing.elevation import read_hgt, read_hgt_dir

        pdf = read_hgt_dir(path, stride) if _os.path.isdir(path) else read_hgt(path, stride)
        self.load_elevation(pdf)

    def _finish_elevation_load(self, ulat, ulon, lats, lons, hts) -> None:
        import numpy as _np
        if len(ulat) * len(ulon) == len(hts):
            grid = _np.full((len(ulat), len(ulon)), _np.nan)
            grid[_np.searchsorted(ulat, lats), _np.searchsorted(ulon, lons)] = hts
            if not _np.isnan(grid).any():
                self._elev_grid = (ulat, ulon, grid)

    def _height_at(self, lat: float, lon: float) -> float:
        """One elevation sample: bilinear on a gridded DEM, else nearest."""
        if self._elev_grid is not None:
            ulat, ulon, grid = self._elev_grid
            lat = min(max(lat, float(ulat[0])), float(ulat[-1]))
            lon = min(max(lon, float(ulon[0])), float(ulon[-1]))
            i1 = int(np.clip(np.searchsorted(ulat, lat), 1, len(ulat) - 1)) if len(ulat) > 1 else 0
            j1 = int(np.clip(np.searchsorted(ulon, lon), 1, len(ulon) - 1)) if len(ulon) > 1 else 0
            i0, j0 = max(i1 - 1, 0), max(j1 - 1, 0)
            t = (lat - ulat[i0]) / (ulat[i1] - ulat[i0]) if i1 > i0 else 0.0
            u = (lon - ulon[j0]) / (ulon[j1] - ulon[j0]) if j1 > j0 else 0.0
            return float(
                grid[i0, j0] * (1 - t) * (1 - u)
                + grid[i1, j0] * t * (1 - u)
                + grid[i0, j1] * (1 - t) * u
                + grid[i1, j1] * t * u
            )
        lats, lons, hts = self._elevation
        d2 = (lats - lat) ** 2 + (lons - lon) ** 2
        return float(hts[int(np.argmin(d2))])

    # ------------------------------------------------------------------
    # loading / state  (#1, #2, #10, #11, #18, routing_free)
    # ------------------------------------------------------------------

    def load_graph(self, graph: RoutingGraph, mode: str = "auto") -> bool:
        old = self._broadcasts.pop(mode, None)
        payload = graph.to_payload()
        payload["_uuid"] = str(uuid.uuid4())
        self._broadcasts[mode] = self.spark.sparkContext.broadcast(payload)
        self._local[mode] = graph
        if old is not None:
            old.unpersist()
        if self._registered:
            # spark.udf.register serializes the UDF closures ONCE — re-register
            # so executors see graphs loaded after the first register() call
            self.register()
        return True

    def load_config(
        self, dir_path: str, modes=("auto", "bicycle", "pedestrian"), bbox: tuple | None = None
    ) -> bool:
        """Load a graph source (the analog of travel_time_load_config /
        travel_time_load; idempotent for the same path). Accepts:

          - a directory of this engine's parquet artifacts (build_tiles output);
          - a `valhalla.json` config file (resolves mjolnir.tile_dir);
          - a reference `<pbf>.<mode>.routing` bincode artifact file;
          - an `.osm.pbf` path: reference cache artifacts next to it win
            (the reference's cache_path convention, rust/src/lib.rs:164-166);
            otherwise the raw PBF is decoded distributed and built into
            per-mode graphs, cached as parquet artifacts at `<pbf>.tiles`
            (travel_time_load's build-and-cache path).

        `bbox=(min_lon, min_lat, max_lon, max_lat)` loads only the windowed
        subgraph from parquet artifacts (regional-tile analog; see
        RoutingGraph.load) — a city service over a country artifact
        broadcasts the city, not the country.
        """
        if (
            dir_path == self._tiles_path
            and self._broadcasts
            and bbox is None
            and all(self.is_loaded(m) for m in modes)
        ):
            # mode-aware idempotency: same path with a NEW mode requested
            # must fall through and load it, not early-return on the old set
            return True
        import os

        from duckdb_routing_spark.routing.ref_artifact import read_reference_artifact

        if dir_path.startswith(("http://", "https://")):
            # remote tiles at query-load time (examples/s3_tiles_example.sql,
            # remote_tiles_example.sql): driver-side fetch + content cache,
            # then the local-path logic below. Executors never fetch — the
            # graph ships once via broadcast.
            from duckdb_routing_spark.sources.readers import fetch_to_local

            orig = dir_path
            local = fetch_to_local(dir_path)
            ok = self.load_config(local, modes)
            if ok:
                self._tiles_path = orig  # report the remote URL as the setting
            return ok

        loaded = False
        if os.path.isfile(dir_path) and dir_path.endswith(".json"):
            # valhalla_init_from_json parity: a real config file resolves
            # through mjolnir.tile_dir (the field the reference both writes,
            # valhalla_build_tiles_simple.cpp:74-94, and reads back). The
            # loaded setting reports the CONFIG path, matching
            # config_setting.cpp:75-83's getter semantics.
            import json as _json

            with open(dir_path) as f:
                conf = _json.load(f)
            tile_dir = (conf.get("mjolnir") or {}).get("tile_dir") or os.path.dirname(dir_path)
            ok = self.load_config(tile_dir, modes)
            if ok:
                self._tiles_path = dir_path
            return ok
        if os.path.isfile(dir_path) and dir_path.endswith(".routing"):
            # "<source>.<mode>.routing" — mode is the second-to-last suffix
            parts = os.path.basename(dir_path).split(".")
            mode = parts[-2] if len(parts) >= 3 else "auto"
            self.load_graph(read_reference_artifact(dir_path), mode)
            loaded = True
        elif dir_path.endswith(".pbf"):
            for mode in modes:
                cached = f"{dir_path}.{mode}.routing"
                if os.path.exists(cached):
                    self.load_graph(read_reference_artifact(cached), mode)
                    loaded = True
            if not loaded:
                # no reference cache next to the source: BUILD from the raw
                # PBF through the distributed decode + tile-build pipeline
                # and cache the artifacts beside it — travel_time_load's
                # build-and-cache behavior (rust/src/lib.rs:154-176 builds
                # per-mode graphs from the pbf and writes
                # '<pbf>.<mode>.routing'; here the cache is this engine's
                # parquet artifact dir '<pbf>.tiles', reused on next load)
                from duckdb_routing_spark.routing.osm_build import build_tiles_from_pbf

                out_dir = f"{dir_path}.tiles"
                self.load_config(out_dir, modes)
                # a cache built by an earlier call with FEWER modes must not
                # satisfy this one: build exactly the missing modes into the
                # same artifact dir, then load them directly (load_config's
                # idempotency path would otherwise skip them)
                missing = [m for m in modes if not self.is_loaded(m)]
                if missing:
                    build_tiles_from_pbf(self.spark, dir_path, out_dir, modes=tuple(missing))
                    for m in missing:
                        try:
                            self.load_graph(RoutingGraph.load(out_dir, m), m)
                        except (FileNotFoundError, OSError):
                            pass
                loaded = any(self.is_loaded(m) for m in modes)
        else:
            for mode in modes:
                try:
                    g = RoutingGraph.load(dir_path, mode, bbox=bbox)
                except (FileNotFoundError, OSError):
                    continue
                self.load_graph(g, mode)
                loaded = True
            if not loaded:
                # smart path detection (config_setting.cpp:31-39): a
                # directory with no artifacts but a valhalla.json follows
                # the config — unless its tile_dir points back here (then
                # there is genuinely nothing to load).
                cand = os.path.join(dir_path, "valhalla.json")
                if os.path.isfile(cand):
                    import json as _json

                    with open(cand) as f:
                        tile_dir = (_json.load(f).get("mjolnir") or {}).get("tile_dir")
                    if tile_dir and os.path.abspath(tile_dir) != os.path.abspath(dir_path):
                        return self.load_config(cand, modes)
        if loaded:
            self._tiles_path = dir_path
        return loaded

    def load_config_json(self, config_json: str, modes=("auto", "bicycle", "pedestrian")) -> bool:
        """Config-as-STRING load — valhalla_init_from_json's true form
        (valhalla-wrapper/src/wrapper.cpp:145-158 takes the JSON text, not a
        path). Resolves mjolnir.tile_dir out of the document and loads it;
        the reported setting stays the tile_dir (a string has no path)."""
        import json as _json

        conf = _json.loads(config_json)
        tile_dir = (conf.get("mjolnir") or {}).get("tile_dir")
        if not tile_dir:
            return False
        return self.load_config(tile_dir, modes)

    def ensure_conf(self) -> None:
        """Bridge for `SET spark.routing.tiles = path` — hot-swaps the
        broadcasts when the conf changed (SURVEY §3.3 Spark rebuild).
        Optional `SET spark.routing.bbox = 'min_lon,min_lat,max_lon,max_lat'`
        windows the load to a region of the artifact."""
        path = self.spark.conf.get(TILES_CONF_KEY, None)
        if path and path != self._tiles_path:
            raw = self.spark.conf.get(BBOX_CONF_KEY, None)
            bbox = tuple(float(x) for x in raw.split(",")) if raw else None
            self.load_config(path, bbox=bbox)

    @property
    def tiles_path(self) -> str | None:
        """current_setting('valhalla_tiles') analog."""
        return self._tiles_path

    def is_loaded(self, mode: str = "auto") -> bool:
        return mode in self._broadcasts

    def node_count(self, mode: str = "auto") -> int:
        g = self._local.get(mode)
        return g.num_nodes if g is not None else -2

    def free(self, mode: str = "auto") -> None:
        """routing_free analog. Destroys the broadcast and, mirroring
        load_graph(), RE-REGISTERS the SQL surface so executor closures stop
        holding the freed graph — otherwise travel_time('...') would keep
        routing off a stale (re-shipped on access) broadcast while
        travel_time_is_loaded says false, unlike the reference where
        EnsureRouterLoaded raises once tiles are gone."""
        bc = self._broadcasts.pop(mode, None)
        self._local.pop(mode, None)
        if bc is not None:
            bc.destroy()
        if self._registered:
            self.register()

    # ------------------------------------------------------------------
    # scalar function surface (pandas UDFs)  (#3, #4, #5, #6, #16)
    # ------------------------------------------------------------------

    def register(self) -> None:
        """Install the SQL function surface on this SparkSession.

        UDFs stay deterministic so Catalyst can common-subexpression-eliminate
        repeated calls (SURVEY §4.1)."""
        broadcasts = self._broadcasts  # captured; re-pickled per action

        @F.pandas_udf(T.DoubleType())
        def travel_time(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series, costing: pd.Series) -> pd.Series:
            out = np.full(len(lat1), np.nan)
            for mode in costing.fillna("auto").unique():
                g = _resolve(broadcasts, mode)
                m = (costing.fillna("auto") == mode).to_numpy()
                out[m] = kernels.batch_travel_time_s(
                    g, lat1[m].to_numpy(np.float64), lon1[m].to_numpy(np.float64),
                    lat2[m].to_numpy(np.float64), lon2[m].to_numpy(np.float64),
                )
            return pd.Series(out)

        def _batch_snap(modes: pd.Series, lons: np.ndarray, lats: np.ndarray) -> np.ndarray:
            """Snap a whole Arrow batch through the vectorized
            nearest_main_nodes kernel (graph.py), grouped by costing mode —
            one ragged numpy pass per mode instead of a Python call per row.
            NaN coordinates return -1."""
            idx = np.full(lons.size, -1, dtype=np.int64)
            ok = np.isfinite(lons) & np.isfinite(lats)
            for mode in modes[ok].unique():
                g = _resolve(broadcasts, mode)
                m = ok & (modes == mode).to_numpy()
                idx[m] = g.nearest_main_nodes(lons[m], lats[m])
            return idx

        def _route_rows(frm: pd.Series, to: pd.Series, costing: pd.Series) -> pd.DataFrame:
            n = len(frm)
            modes = costing.map(lambda c: c if isinstance(c, str) else "auto")
            flon = np.full(n, np.nan)
            flat = np.full(n, np.nan)
            tlon = np.full(n, np.nan)
            tlat = np.full(n, np.nan)
            for i, (f, t) in enumerate(zip(frm, to)):
                p1 = any_geometry_to_lonlat(f)
                p2 = any_geometry_to_lonlat(t)
                if p1 is not None and p2 is not None:
                    flon[i], flat[i] = p1
                    tlon[i], tlat[i] = p2
            src = _batch_snap(modes, flon, flat)
            dst = _batch_snap(modes, tlon, tlat)
            rows = []
            for i in range(n):
                if src[i] < 0 or dst[i] < 0:
                    rows.append((None, None, None))
                    continue
                g = _resolve(broadcasts, modes.iat[i])
                w, path = kernels.p2p_path(g, int(src[i]), int(dst[i]))
                if w < 0 or path is None:
                    rows.append((None, None, None))
                    continue
                dist_m = kernels.path_distance_m(g, path)
                nodes = np.asarray(path, dtype=np.int64)
                wkb = build_wkb_linestring(g.node_lon[nodes], g.node_lat[nodes])
                rows.append((dist_m / 1000.0, (w / 1000.0) / 60.0, wkb))
            return pd.DataFrame(rows, columns=["distance_km", "duration_minutes", "geometry"])

        @F.pandas_udf(ROUTE_STRUCT)
        def travel_time_route_wkb(frm: pd.Series, to: pd.Series, costing: pd.Series) -> pd.DataFrame:
            return _route_rows(frm, to, costing)

        def _snap_columns(lat: pd.Series, lon: pd.Series, costing: pd.Series):
            """Shared batch-snap core for locate/snap: returns (modes, qlon,
            qlat, idx) with idx = -1 for misses/invalid input. Null results
            surface as pandas NA (→ SQL NULL), never NaN doubles."""
            modes = costing.map(lambda c: c if isinstance(c, str) else "auto")
            qlat = pd.to_numeric(lat, errors="coerce").to_numpy(np.float64)
            qlon = pd.to_numeric(lon, errors="coerce").to_numpy(np.float64)
            return modes, qlon, qlat, _batch_snap(modes, qlon, qlat)

        def _node_coords(modes: pd.Series, idx: np.ndarray):
            nlat = np.full(idx.size, np.nan)
            nlon = np.full(idx.size, np.nan)
            hit = idx >= 0
            for mode in modes[hit].unique():
                g = _resolve(broadcasts, mode)
                m = hit & (modes == mode).to_numpy()
                nlat[m] = g.node_lat[idx[m]]
                nlon[m] = g.node_lon[idx[m]]
            return nlat, nlon, hit

        def _nullable(arr: np.ndarray, valid: np.ndarray) -> pd.array:
            s = pd.array(arr, dtype="Float64")
            s[~valid] = pd.NA
            return s

        @F.pandas_udf(LOCATE_STRUCT)
        def travel_time_locate(lat: pd.Series, lon: pd.Series, costing: pd.Series) -> pd.DataFrame:
            modes, _qlon, _qlat, idx = _snap_columns(lat, lon, costing)
            nlat, nlon, hit = _node_coords(modes, idx)
            return pd.DataFrame({"lat": _nullable(nlat, hit), "lon": _nullable(nlon, hit)})

        @F.pandas_udf(SNAP_STRUCT)
        def travel_time_snap(lat: pd.Series, lon: pd.Series, costing: pd.Series) -> pd.DataFrame:
            modes, qlon, qlat, idx = _snap_columns(lat, lon, costing)
            nlat, nlon, hit = _node_coords(modes, idx)
            dist = haversine_m(qlon, qlat, np.where(hit, nlon, 0.0), np.where(hit, nlat, 0.0))
            return pd.DataFrame(
                {
                    "lat": _nullable(nlat, hit),
                    "lon": _nullable(nlon, hit),
                    "distance_m": _nullable(dist, hit),
                }
            )

        @F.udf(T.StringType())
        def travel_time_request(action, request_json):
            """Per-row JSON escape hatch for the point actions (route,
            locate, status). Table-shaped actions (matrix, isochrone,
            optimized_route) need the engine object — the driver-side
            engine.request() serves those."""
            try:
                req = json.loads(request_json) if request_json else {}
            except json.JSONDecodeError as e:
                return json.dumps({"error": f"Invalid JSON: {e}"})
            if action == "status":
                return json.dumps({"loaded": bool(broadcasts), "modes": sorted(broadcasts)})
            g = _resolve(broadcasts, req.get("costing", "auto"))
            out = _point_action(g, action, req.get("locations", []))
            if out is not None:
                return out
            return json.dumps({"error": f"Unsupported per-row action: {action}; use engine.request()"})

        @F.udf(T.BooleanType())
        def travel_time_is_loaded(costing):
            return (costing or "auto") in broadcasts

        @F.udf(T.IntegerType())
        def travel_time_node_count(costing):
            bc = broadcasts.get(costing or "auto")
            if bc is None:
                return -2
            return len(bc.value["node_lon"])

        self.spark.udf.register("travel_time", travel_time)
        self.spark.udf.register("travel_time_route_wkb", travel_time_route_wkb)
        # The reference's travel_time_route is a macro over the WKB variant
        # that only converts the geometry type (examples/geometry_macro.sql:
        # 31-37); without a spatial type system the result is identical.
        self.spark.udf.register("travel_time_route", travel_time_route_wkb)
        self.spark.udf.register("travel_time_locate", travel_time_locate)
        self.spark.udf.register("travel_time_snap", travel_time_snap)
        self.spark.udf.register("travel_time_is_loaded", travel_time_is_loaded)
        self.spark.udf.register("travel_time_node_count", travel_time_node_count)
        self.spark.udf.register("travel_time_request", travel_time_request)
        self._registered = True

    # ------------------------------------------------------------------
    # table operators  (#8 matrix, #17 isochrone)
    # ------------------------------------------------------------------

    def _check_matrix_limit(self, n_pairs: int) -> None:
        """Behavioral parity with the reference's service limit
        max_matrix_location_pairs=2500; construct the engine with
        unlimited_matrix=True (cluster runs) to opt out deliberately."""
        limit = SERVICE_LIMITS["max_matrix_location_pairs"]
        if not self.unlimited_matrix and n_pairs > limit:
            raise ValueError(
                f"matrix of {n_pairs} pairs exceeds the service limit {limit} "
                "(reference parity); pass unlimited_matrix=True to RoutingEngine "
                "for deliberate cluster-scale runs"
            )

    def matrix(self, src_lats, src_lons, dst_lats, dst_lons, costing: str = "auto") -> DataFrame:
        """N x M travel-time matrix as a DataFrame(from_idx, to_idx,
        distance_m, duration_s), row order (from, to) like MatrixFunction
        (src/travel_time_extension.cpp:849-877).

        Scale shape: origins are distributed via mapInPandas and run through
        kernels.matrix_rows against the executor-cached broadcast graph —
        the CH bucket many-to-many when the graph carries a prepared index,
        otherwise one frontier SSSP per origin serving all destinations."""
        if len(src_lats) != len(src_lons) or len(dst_lats) != len(dst_lons):
            raise ValueError("source/target lat and lon lists must have equal lengths")
        self._check_matrix_limit(len(src_lats) * len(dst_lats))
        broadcasts = self._broadcasts
        dst = [(float(la), float(lo)) for la, lo in zip(dst_lats, dst_lons)]
        if not src_lats or not dst:
            # empty matrix: return an empty frame instead of repartition(0)
            return self.spark.createDataFrame([], MATRIX_SCHEMA)

        # snap all targets ONCE, driver-side on the local graph copy, and
        # ship the node ids in the closure — the previous form re-snapped
        # every target inside every mapInPandas batch (N_batches x M scalar
        # snaps for a result that is identical across batches)
        mode = costing if costing in self._local else "auto"
        g0 = self._local.get(mode)
        if g0 is None:
            _resolve(broadcasts, costing)  # raises the canonical not-loaded error
        tgt_nodes = g0.nearest_main_nodes(
            np.asarray([lo for _, lo in dst]), np.asarray([la for la, _ in dst])
        )

        # Small-matrix fast path: the service limit caps a matrix CALL at
        # 2500 pairs (like the reference's generated valhalla.json), so the
        # per-call work is bounded by n_origins x |graph|. When that product
        # is small, fanning origins out through createDataFrame -> shuffle ->
        # per-origin Python batches costs ~3x the SSSPs themselves — run the
        # whole matrix as ONE lazy task against the executor-cached broadcast
        # graph (same kernels, same values; still executed per action, never
        # driver-eager). Origins-many-or-graph-huge calls (2500x1 on a
        # country graph) still distribute below; unbounded OD workloads
        # belong to batch_travel_time_s, not matrix().
        if len(src_lats) * max(g0.num_nodes, 1) <= SINGLE_TASK_MATRIX_WORK:
            src_nodes = g0.nearest_main_nodes(np.asarray(src_lons), np.asarray(src_lats))

            def one_task(_batches):
                for _ in _batches:  # drain -> worker returns to the reuse pool
                    pass
                rows = kernels.matrix_rows(_resolve(broadcasts, costing), src_nodes, tgt_nodes)
                yield pd.DataFrame(
                    rows, columns=["from_idx", "to_idx", "distance_m", "duration_s"]
                )

            # Arrow single-task shape (range -> mapInPandas), NOT
            # parallelize + createDataFrame(rdd): the RDD path moves every
            # row through py4j pickling and re-verification (~0.4 s of
            # fixed overhead per action at bench scale); the Arrow batch
            # is one buffer hand-off through the reused worker pool
            return self.spark.range(1, numPartitions=1).mapInPandas(one_task, MATRIX_SCHEMA)

        # repartition (real shuffle), NOT coalesce: a Python kernel fed
        # directly from a LocalTableScan spawns a fresh Python worker per
        # action (~5s); the exchange routes it through the reused worker
        # pool, and one task per origin is the right granularity anyway
        origins = literal_df(
            self.spark,
            [(i, float(la), float(lo)) for i, (la, lo) in enumerate(zip(src_lats, src_lons))],
            "from_idx int, lat double, lon double",
        ).repartition(min(len(src_lats), 32))

        def run(batches):
            for pdf in batches:
                g = _resolve(broadcasts, costing)
                src_nodes = g.nearest_main_nodes(
                    pdf.lon.to_numpy(np.float64), pdf.lat.to_numpy(np.float64)
                )
                # with a CH index the target-side upward cones are
                # recomputed per origin batch (cheap — cone, not graph)
                rows = kernels.matrix_rows(g, src_nodes, tgt_nodes, from_idx=pdf.from_idx)
                yield pd.DataFrame(rows, columns=["from_idx", "to_idx", "distance_m", "duration_s"])

        # single-partition sort, not orderBy: the output is bounded by the
        # matrix service limit, and a range-exchange would sample-execute the
        # kernel a second time just to pick partition bounds
        return origins.mapInPandas(run, MATRIX_SCHEMA).coalesce(1).sortWithinPartitions("from_idx", "to_idx")

    def isochrone(self, lat: float, lon: float, max_seconds: float, costing: str = "auto") -> DataFrame:
        """Single-source isochrone point cloud (#17): every reachable node
        with its cost in seconds, costs <= max_seconds."""
        df = self.isochrones(
            literal_df(self.spark, [(0, float(lat), float(lon))], "origin_id long, lat double, lon double"),
            max_seconds,
            costing,
        )
        return df.select("lat", "lon", "seconds")

    def isochrones(self, origins: DataFrame, max_seconds: float, costing: str = "auto") -> DataFrame:
        """Batch isochrones: origins(origin_id, lat, lon) -> (origin_id, lat,
        lon, seconds). The scale path — one frontier SSSP per origin,
        capped at max_seconds (kernels.dijkstra_isochrone), origins spread
        across executors."""
        broadcasts = self._broadcasts
        max_ms = int(max_seconds * 1000.0)
        schema = T.StructType([T.StructField("origin_id", T.LongType())] + list(ISOCHRONE_SCHEMA))

        def run(batches):
            for pdf in batches:
                out_frames = []
                g = _resolve(broadcasts, costing)
                src_nodes = g.nearest_main_nodes(
                    pdf.lon.to_numpy(np.float64), pdf.lat.to_numpy(np.float64)
                )
                for s, (_, r) in zip(src_nodes, pdf.iterrows()):
                    s = int(s)
                    if s < 0:
                        continue
                    nodes, costs = kernels.dijkstra_isochrone(g, s, max_ms)
                    out_frames.append(
                        pd.DataFrame(
                            {
                                "origin_id": np.full(len(nodes), int(r.origin_id), dtype=np.int64),
                                "lat": g.node_lat[nodes],
                                "lon": g.node_lon[nodes],
                                "seconds": costs / 1000.0,
                            }
                        )
                    )
                if out_frames:
                    yield pd.concat(out_frames)

        return origins.mapInPandas(run, schema)

    # ------------------------------------------------------------------
    # contour isochrones + optimized route (wrapper-level ops, SURVEY §2.3)
    # ------------------------------------------------------------------

    def isochrone_contours(
        self,
        lat: float,
        lon: float,
        contours_minutes,
        costing: str = "auto",
        concave: bool = True,
        method: str | None = None,
        grid_cells: int = 64,
        multipolygon: bool = False,
    ) -> DataFrame:
        """Polygon contour isochrones (the valhalla_isochrone shape,
        valhalla-wrapper/src/wrapper.cpp:323-383): one polygon per contour
        level over the reachable point cloud. Three contour generators:

          method="knn" (default, concave=True) — k-nearest-neighbors
            concave hull of the reached nodes; the oracle-stable shape.
          method="convex" (concave=False) — convex hull.
          method="grid" — Valhalla-parity GRIDDED contours: rasterize node
            times onto a regular lon/lat grid (Valhalla's GriddedData
            isotile) and extract the level set with marching squares +
            linear interpolation, keeping the largest counterclockwise
            shell. Unlike hulls this follows the road network's actual
            shape (concavities, unreachable gaps) — the semantics the
            wrapper's contour generation produces; grid_cells controls the
            isotile resolution (Valhalla's generalize/denoise analog).
            With multipolygon=True the geometry is a WKB MULTIPOLYGON
            carrying EVERY island shell with its holes nested (the full
            Valhalla contour shape) instead of the largest shell only.

        Returns DataFrame(minutes, n_reach, n_points, geometry WKB POLYGON)
        — n_reach is the reachable-node count within the level
        (path-independent, hence oracle-able); n_points the ring vertex
        count."""
        if method is None:
            method = "knn" if concave else "convex"
        if method not in ("knn", "convex", "grid"):
            raise ValueError("method must be one of knn | convex | grid")
        if multipolygon and method != "grid":
            raise ValueError("multipolygon contours require method='grid'")
        contours_minutes = sorted(float(m) for m in contours_minutes)
        if len(contours_minutes) > SERVICE_LIMITS["isochrone_max_contours"]:
            raise ValueError("too many contours (service limit 4)")
        if contours_minutes and contours_minutes[-1] > SERVICE_LIMITS["isochrone_max_time_min"]:
            raise ValueError("contour beyond max time (service limit 120 min)")
        g = self._local.get(costing if costing in self._local else "auto")
        if g is None:
            raise RuntimeError("Travel time extension not loaded")
        src = g.nearest_main_node(float(lon), float(lat))
        rows = []
        if src >= 0 and contours_minutes:
            nodes, costs = kernels.dijkstra_isochrone(g, src, int(contours_minutes[-1] * 60_000))
            all_minutes = costs / 60_000.0
            for minutes in contours_minutes:
                mask = costs <= minutes * 60_000
                pts = np.column_stack([g.node_lon[nodes[mask]], g.node_lat[nodes[mask]]])
                if method == "grid" and multipolygon and len(pts):
                    # full Valhalla shape: every island shell + its holes
                    polys, _ = grid_contour_multipolygon(
                        g.node_lon[nodes], g.node_lat[nodes], all_minutes, minutes, grid_cells
                    )
                    n_verts = sum(
                        (len(s) - 1) + sum(len(h) - 1 for h in hs) for s, hs in polys
                    )
                    rows.append(
                        (minutes, int(mask.sum()), n_verts, build_wkb_multipolygon(polys))
                    )
                    continue
                if not len(pts):
                    hull = []
                elif method == "grid":
                    shell, _ = grid_contour_shell(
                        g.node_lon[nodes], g.node_lat[nodes], all_minutes, minutes, grid_cells
                    )
                    hull = shell[:-1] if shell else []
                elif method == "knn":
                    hull = concave_hull_knn(pts)
                else:
                    hull = convex_hull(pts)
                rows.append(
                    (minutes, int(mask.sum()), len(hull), build_wkb_polygon(hull) if len(hull) >= 3 else None)
                )
        return literal_df(
            self.spark, rows, "minutes double, n_reach long, n_points int, geometry binary"
        )

    def optimized_route(self, lats, lons, costing: str = "auto") -> dict:
        """TSP-style waypoint ordering (the reference's optimized_route
        action): N x N duration matrix (one frontier SSSP per origin,
        capped at its farthest waypoint), nearest-neighbor construction
        from location 0, then 2-opt until no improving swap. Returns {order, duration_s}."""
        g = self._local.get(costing if costing in self._local else "auto")
        if g is None:
            raise RuntimeError("Travel time extension not loaded")
        n = len(lats)
        if n < 2:
            return {"order": list(range(n)), "duration_s": 0.0}
        snapped = np.asarray([g.nearest_main_node(float(lo), float(la)) for la, lo in zip(lats, lons)])
        if (snapped < 0).any():
            return {"error": "no road near location"}
        dur = np.full((n, n), np.inf)
        for i in range(n):
            w, _ = kernels.sssp_multi_target(g, int(snapped[i]), snapped)
            dur[i] = np.where(w < 0, np.inf, w)
        order = [0]
        todo = set(range(1, n))
        while todo:
            last = order[-1]
            nxt = min(todo, key=lambda j: dur[last, j])
            order.append(nxt)
            todo.remove(nxt)

        def total(o):
            return sum(dur[a, b] for a, b in zip(o, o[1:]))

        improved = True
        while improved:
            improved = False
            for i in range(1, n - 1):
                for j in range(i + 1, n):
                    cand = order[:i] + order[i : j + 1][::-1] + order[j + 1 :]
                    if total(cand) < total(order):
                        order = cand
                        improved = True
        t = total(order)
        if not np.isfinite(t):
            return {"error": "no route found between some locations"}
        return {"order": [int(i) for i in order], "duration_s": float(t) / 1000.0}

    # ------------------------------------------------------------------
    # JSON escape hatch  (#7)
    # ------------------------------------------------------------------

    def request(self, action: str, request_json: str) -> str:
        """Raw JSON request dispatcher, mirroring travel_time_request's nine
        actions (valhalla-wrapper/src/wrapper.cpp:432-453) — all nine are
        implemented: route, sources_to_targets/matrix, isochrone, locate,
        status, optimized_route, trace_route, trace_attributes, height.
        Unknown actions return the structured error of wrapper.cpp:450-452."""
        try:
            req = json.loads(request_json) if request_json else {}
        except json.JSONDecodeError as e:
            return json.dumps({"error": f"Invalid JSON: {e}"})
        costing = req.get("costing", "auto")
        g = self._local.get(costing if costing in self._local else "auto")
        if g is None:
            return json.dumps({"error": "Travel time extension not loaded"})
        locs = req.get("locations", [])

        if action == "status":
            return json.dumps(
                {"loaded": True, "modes": sorted(self._local), "nodes": {m: x.num_nodes for m, x in self._local.items()}}
            )
        out = _point_action(g, action, locs)
        if out is not None:
            return out
        if action in ("matrix", "sources_to_targets"):
            sources = req.get("sources", locs)
            targets = req.get("targets", locs)
            rows = (
                self.matrix(
                    [p["lat"] for p in sources],
                    [p["lon"] for p in sources],
                    [p["lat"] for p in targets],
                    [p["lon"] for p in targets],
                    costing,
                )
                .collect()
            )
            return json.dumps(
                {
                    "sources_to_targets": [
                        {"from_index": r.from_idx, "to_index": r.to_idx, "distance": r.distance_m, "time": r.duration_s}
                        for r in rows
                    ]
                }
            )
        if action == "optimized_route":
            if len(locs) < 2:
                return json.dumps({"error": "optimized_route requires at least 2 locations"})
            result = self.optimized_route([p["lat"] for p in locs], [p["lon"] for p in locs], costing)
            if "error" in result:
                return json.dumps(result)
            return json.dumps(
                {"trip": {"summary": {"time": result["duration_s"]}, "location_order": result["order"]}}
            )
        if action in ("trace_route", "trace_attributes"):
            # HMM map matching (valhalla-wrapper/src/wrapper.cpp:440-443
            # delegates to Valhalla's meili matcher): Newson-Krumm Viterbi
            # over k-nearest candidates per shape point, then shortest paths
            # chained between consecutive matched nodes. Falls back to
            # nearest-node matching if the trellis dies (e.g. disconnected
            # candidate sets) — the pre-round-4 approximation.
            from duckdb_routing_spark.routing.matching import hmm_match

            shape = req.get("shape", locs)
            if len(shape) < 2:
                return json.dumps({"error": f"{action} requires a shape of at least 2 points"})
            matched = hmm_match(
                g,
                [float(p["lon"]) for p in shape],
                [float(p["lat"]) for p in shape],
            )
            if matched is None:
                matched = [g.nearest_main_node(float(p["lon"]), float(p["lat"])) for p in shape]
            if any(m < 0 for m in matched):
                return json.dumps({"error": "could not match all shape points to the road network"})
            full_path: list[int] = []
            total_ms = 0.0
            for a, b in zip(matched, matched[1:]):
                if a == b:
                    continue
                w, path = kernels.p2p_path(g, a, b)
                if w < 0:
                    return json.dumps({"error": f"no route between matched points {a} and {b}"})
                total_ms += w
                full_path.extend(path if not full_path else path[1:])
            if not full_path:
                full_path = [matched[0]]
            dist_m = kernels.path_distance_m(g, full_path)
            if action == "trace_route":
                return json.dumps(
                    {
                        "trip": {
                            "summary": {"length": dist_m / 1000.0, "time": total_ms / 1000.0},
                            "shape_points": len(full_path),
                            "matched_points": len(matched),
                        }
                    }
                )
            edges = []
            for a, b in zip(full_path, full_path[1:]):
                w_ms = g.edge_weight_ms(a, b)
                seg_m = float(
                    kernels.path_distance_m(g, [a, b])
                )
                edges.append(
                    {
                        "from_node": int(a),
                        "to_node": int(b),
                        "length_m": seg_m,
                        "time_s": (w_ms / 1000.0) if w_ms is not None else None,
                        "speed_kmh": (seg_m / 1000.0) / (w_ms / 3_600_000.0)
                        if w_ms
                        else None,
                    }
                )
            return json.dumps({"matched_points": len(matched), "edges": edges})
        if action == "height":
            # elevation lookup (wrapper.cpp:446-447). Valhalla reads DEM
            # tiles; this engine reads a user-loaded elevation table
            # (engine.load_elevation). Without one the action reports the
            # missing data source — the same behavior as Valhalla built
            # without elevation tiles.
            if not locs and "shape" in req:
                locs = req["shape"]
            if not locs:
                return json.dumps({"error": "height requires locations or shape"})
            if self._elevation is None:
                return json.dumps(
                    {"error": "elevation data not loaded; call engine.load_elevation(df) with (lat, lon, height_m)"}
                )
            out = [self._height_at(float(p["lat"]), float(p["lon"])) for p in locs]
            return json.dumps({"height": out})
        if action == "isochrone":
            if not locs:
                return json.dumps({"error": "isochrone requires a location"})
            if req.get("polygons"):
                contours = req.get("contours", [{"time": 15}])
                try:
                    rows = self.isochrone_contours(
                        float(locs[0]["lat"]), float(locs[0]["lon"]),
                        [float(c.get("time", 15)) for c in contours], costing,
                        # Valhalla request option: generalize/denoise pick the
                        # isotile contour; "grid" here selects the
                        # marching-squares generator over the hull default,
                        # and "multipolygon" emits every island + hole (the
                        # wrapper's MultiPolygon contour shape)
                        method=req.get("contour_method"),
                        multipolygon=bool(req.get("multipolygon")),
                    ).collect()
                except ValueError as e:
                    # request() never raises for bad input — error JSON,
                    # like every other action path
                    return json.dumps({"error": str(e)})
                return json.dumps(
                    {
                        "contours": [
                            {"time": r.minutes, "n_points": r.n_points,
                             "geometry_wkb_hex": bytes(r.geometry).hex() if r.geometry else None}
                            for r in rows
                        ]
                    }
                )
            contours = req.get("contours", [{"time": 15}])
            if len(contours) > SERVICE_LIMITS["isochrone_max_contours"]:
                return json.dumps({"error": "too many contours"})
            max_min = max(float(c.get("time", 15)) for c in contours)
            if max_min > SERVICE_LIMITS["isochrone_max_time_min"]:
                return json.dumps({"error": "contour beyond max time"})
            pts = self.isochrone(float(locs[0]["lat"]), float(locs[0]["lon"]), max_min * 60.0, costing).collect()
            return json.dumps(
                {
                    "contours": [
                        {
                            "time": float(c.get("time", 15)),
                            "points": [
                                {"lat": p.lat, "lon": p.lon, "seconds": p.seconds}
                                for p in pts
                                if p.seconds <= float(c.get("time", 15)) * 60.0
                            ],
                        }
                        for c in contours
                    ]
                }
            )
        return json.dumps({"error": f"Unknown action: {action}"})
