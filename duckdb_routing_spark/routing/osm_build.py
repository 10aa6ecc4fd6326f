"""The graph-build ("tile build") job as a native Spark pipeline.

Replaces the reference's two build paths — the external `valhalla_build_tiles`
CLI (src/valhalla_build_tiles_simple.cpp:153-235) and the in-process Rust
builder `build_graph_for_mode` (rust/src/lib.rs:168-269) — with a pure
DataFrame transform whose semantics follow the Rust builder exactly:

  1. keep ways that carry a `highway` tag and have a speed for the mode;
  2. consecutive node pairs along a way become directed edges;
  3. edge weight = travel-time ms from haversine length and the per-(highway,
     mode) speed table; zero-ms edges dropped;
  4. `oneway=yes` suppresses the reverse edge;
  5. nodes on main-road ways become snap-index candidates;
  6. OSM node ids are remapped to a dense 0..N-1 index.

At 100 TB posture: every step is a shuffle-on-key DataFrame op (explode,
window, join, distinct) — planet-scale way tables partition naturally; the
speed table joins as a broadcast; only the final artifact (nodes/edges of one
country-sized graph) is small enough to collect/broadcast.

The build writes the graph tables and prepares no routing index: a graph
without one routes p2p by the capped frontier SSSP (kernels.p2p_path), and
a CH index is a separate build-time step (`ch.ensure_ch`, saved as a
sidecar by `RoutingGraph.save`).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_routing_spark.routing.graph import RoutingGraph
from duckdb_routing_spark.routing.speeds import MAIN_ROAD_CLASSES, MODES, SPEED_KMH


def speed_table_df(spark: SparkSession, mode: str) -> DataFrame:
    rows = [(hw, float(kmh)) for hw, kmh in SPEED_KMH[mode].items()]
    return spark.createDataFrame(rows, "highway string, speed_kmh double")


def haversine_col(lon1, lat1, lon2, lat2):
    """Haversine length in meters as a pure Catalyst expression (stays inside
    whole-stage codegen — no UDF)."""
    r = 6371008.8
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0 * r) * F.asin(F.sqrt(a))


def dense_rank_by(
    df: DataFrame, key: str, out_col: str, key_range: tuple[int, int] | None = None,
    n_keys_hint: int | None = None,
) -> tuple[DataFrame, int]:
    """Add a dense 0..N-1 id ordered by integer `key` (distinct values
    assumed), WITHOUT a global single-partition window. Returns
    (df, n_rows_or_upper_bound).

    Two-phase remap (the distributed zipWithIndex):
      1. split the key range into n ordered buckets (deterministic value
         ranges from min/max — no sampling pass, unlike repartitionByRange);
      2. per-bucket row_number — ONE hash exchange, windows run in parallel;
      3. bucket counts (a tiny ≤n_buckets-row aggregate) become per-bucket
         offsets via a running-sum window and are broadcast-joined back;
         id = bucket offset + local rank - 1.

    Fully LAZY when the caller supplies both `key_range` and `n_keys_hint`:
    no driver-side action runs at plan-build time, so the whole remap fuses
    into the consuming job (at bench scale the old collect-of-bucket-counts
    added a full extra materialization of the upstream DAG). Without
    `key_range`, ONE agg pass computes min/max/count. `n_keys_hint` may be
    any upper bound on the distinct-key count (callers only use it for
    broadcast-or-not decisions); the returned n is exact whenever a pass ran.

    Deterministic: ids depend only on the total order of `key`. Replaces
    `row_number().over(Window.orderBy(key))`, which moves every row through
    ONE task — fine at 3.6k nodes, fatal at planet scale (~9.7M nodes per
    country in the reference's Italy build). Value-range bucketing assumes
    keys spread over their range (true of OSM node ids); a pathologically
    clustered key set degrades toward fewer active buckets but never breaks
    correctness."""
    spark = df.sparkSession
    n_parts = max(1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    df = df.persist()
    n_known = n_keys_hint
    if key_range is not None:
        # caller-known bounds (any superset of the true range keeps the
        # bucketing valid — empty buckets get zero-width offsets). Skips a
        # full pass over `df`, which for the graph build means one fewer
        # materialization of the whole segments->join DAG.
        lo, hi = key_range
        if n_known is None:
            n_known = int(df.count())
    else:
        lo, hi, n = df.agg(F.min(key), F.max(key), F.count("*")).first()
        n_known = int(n)
        if lo is None:  # empty input
            return df.withColumn(out_col, F.lit(None).cast("long")), 0
    span = max(1, int(hi) - int(lo) + 1)
    n_parts = min(n_parts, span)
    bucket = F.floor((F.col(key).cast("long") - F.lit(int(lo))) * n_parts / F.lit(span)).cast("int")
    b = df.withColumn("_b", bucket)
    # bucket offsets = exclusive running sum of bucket counts; ≤n_parts rows,
    # so the constant-partition ordering window and the broadcast are trivial
    w_off = Window.partitionBy(F.lit(0)).orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        b.groupBy("_b")
        .agg(F.count("*").alias("_n"))
        .select("_b", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"))
    )
    w = Window.partitionBy("_b").orderBy(key)
    # single fused projection: every chained withColumn/drop re-analyzes the
    # whole (by now deep) logical plan on the driver — at bench scale that
    # driver-side analysis is comparable to the job itself
    out = b.join(F.broadcast(offs), "_b").select(
        *df.columns,
        (F.row_number().over(w) - 1 + F.col("_off")).cast("long").alias(out_col),
    )
    return out, n_known


def segments_from_ways(ways: DataFrame) -> DataFrame:
    """ways(way_id, nodes array<long>, highway, oneway) -> one row per
    consecutive node pair: (src_osm, dst_osm, highway, oneway).

    Row-local arrays_zip of two shifted slices of the node array — ZERO
    shuffles (the earlier posexplode + lead window paid a full shuffle on
    way_id just to pair up neighbors that already sit in one row)."""
    ws = F.col("nodes")
    n = F.size(ws)
    zipped = F.arrays_zip(F.slice(ws, 1, n - 1), F.slice(ws, 2, n - 1))
    return (
        ways.filter(n >= 2)
        .select("highway", "oneway", F.explode(zipped).alias("g"))
        .select(
            F.col("g.0").alias("src_osm"),
            F.col("g.1").alias("dst_osm"),
            "highway",
            "oneway",
        )
    )


def build_mode_graph_df(
    spark: SparkSession,
    segments: DataFrame,
    osm_nodes: DataFrame,
    mode: str,
    key_range: tuple[int, int] | None = None,
    n_keys_hint: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """segments(src_osm, dst_osm, highway, oneway) + osm_nodes(node_id, lon,
    lat) -> (nodes(node_id, lon, lat, main_road), edges(src, dst, weight_ms,
    length_m)) with dense node ids."""
    speeds = F.broadcast(speed_table_df(spark, mode))
    seg = segments.join(speeds, "highway", "inner")  # drops classes the mode can't use

    n1 = osm_nodes.select(
        F.col("node_id").alias("src_osm"), F.col("lon").alias("lon1"), F.col("lat").alias("lat1")
    )
    n2 = osm_nodes.select(
        F.col("node_id").alias("dst_osm"), F.col("lon").alias("lon2"), F.col("lat").alias("lat2")
    )
    length_m = haversine_col(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2"))
    seg = (
        seg.join(n1, "src_osm", "inner")
        .join(n2, "dst_osm", "inner")
        .select(
            "src_osm",
            "dst_osm",
            "oneway",
            length_m.alias("length_m"),
            F.floor(length_m / 1000.0 / F.col("speed_kmh") * 3600.0 * 1000.0)
            .cast("long")
            .alias("weight_ms"),
            F.col("highway").isin(*sorted(MAIN_ROAD_CLASSES)).alias("is_main"),
        )
        .filter(F.col("weight_ms") > 0)
        .persist()
    )

    # forward edge always; reverse edge unless oneway — emitted ROW-LOCALLY
    # as an exploded 1-or-2-element array, so the segment->join DAG runs
    # exactly once (the earlier fwd.unionAll(rev) scanned it twice per
    # materialization)
    fwd_s = F.struct(
        F.col("src_osm").alias("src_osm"),
        F.col("dst_osm").alias("dst_osm"),
        F.col("weight_ms").alias("weight_ms"),
        F.col("length_m").alias("length_m"),
        F.col("is_main").alias("is_main"),
    )
    rev_s = F.struct(
        F.col("dst_osm").alias("src_osm"),
        F.col("src_osm").alias("dst_osm"),
        F.col("weight_ms").alias("weight_ms"),
        F.col("length_m").alias("length_m"),
        F.col("is_main").alias("is_main"),
    )
    both = F.when(F.col("oneway") == "yes", F.array(fwd_s)).otherwise(F.array(fwd_s, rev_s))
    # `seg` (persisted above) is the shared cut point: it feeds the directed
    # explode (single consumer — streams straight into the edge remap, no
    # materialization needed) and the node-flag aggregate below. On a
    # cluster these would be staged to parquet between jobs; in-process,
    # persist() is the same cut.
    directed = seg.select(F.explode(both).alias("e")).select("e.*")

    # main-road flag per node, straight from the pre-explode segment rows:
    # a segment's endpoints are exactly its directed edges' endpoints (the
    # reverse edge permutes them), so one explode of (src,dst) pairs sees
    # the same node set without scanning the 2x-larger directed stream twice
    node_flags = (
        seg.select(
            F.explode(
                F.array(
                    F.struct(F.col("src_osm").alias("osm_id"), F.col("is_main").alias("is_main")),
                    F.struct(F.col("dst_osm").alias("osm_id"), F.col("is_main").alias("is_main")),
                )
            ).alias("p")
        )
        .select("p.*")
        .groupBy("osm_id")
        .agg(F.max("is_main").alias("main_road"))
    )
    # range hint: edge endpoints are inner-joined against osm_nodes above, so
    # min/max over the (small, pre-join) node table bounds every osm_id in
    # node_flags — computing it there replaces a min/max pass over the whole
    # segments->join DAG with a single-column scan of the node input
    if key_range is None:
        # a caller that knows its id bounds from source metadata (PBF header
        # bbox, tile manifest, synthetic lattice) passes them and skips this
        # job entirely; any superset of the true range is valid
        r = osm_nodes.agg(F.min("node_id"), F.max("node_id")).first()
        key_range = (int(r[0]), int(r[1])) if r[0] is not None else None
    id_map, n_map = dense_rank_by(
        node_flags, "osm_id", "node_id", key_range=key_range, n_keys_hint=n_keys_hint
    )
    id_map = id_map.persist()
    # a country-sized id map (~10M rows x 16 B) broadcasts comfortably; the
    # threshold keeps planet-scale builds on sort-merge joins
    bcast = n_map <= 20_000_000
    hint = F.broadcast if bcast else (lambda d: d)
    # ONE broadcast relation serves all three remap joins: identical plan
    # subtrees let Spark reuse the broadcast exchange (ReusedExchange), so
    # the map is collected+built once instead of three times (carrying
    # main_road into the edge joins costs a byte/row and is dropped by the
    # projection)
    bmap = hint(id_map.select("osm_id", "node_id", "main_road"))
    coords = osm_nodes.select(F.col("node_id").alias("osm_id"), "lon", "lat")
    nodes = bmap.join(coords, "osm_id", "inner").select("node_id", "lon", "lat", "main_road")
    # alias the SAME bmap plan for both endpoint joins (identical build-side
    # subtrees -> one BroadcastExchange, reused) and resolve each in ONE
    # fused select — chained withColumnRenamed/drop ops each re-analyze the
    # full logical plan driver-side, which at bench scale costs as much as
    # the job
    m1, m2 = bmap.alias("_m1"), bmap.alias("_m2")
    edges = (
        directed.join(m1, F.col("src_osm") == F.col("_m1.osm_id"))
        .join(m2, F.col("dst_osm") == F.col("_m2.osm_id"))
        .select(
            F.col("_m1.node_id").alias("src"),
            F.col("_m2.node_id").alias("dst"),
            "weight_ms",
            "length_m",
        )
    )
    return nodes, edges


# A build whose segment count fits comfortably in one Arrow task takes the
# fused single-batch path below instead of the multi-stage distributed DAG:
# the vectorized kernel clears ~1M segments/s, so 250k segments is well under
# a second of single-core work and ~15 MB of closure — far cheaper than the
# ~10 scheduler round-trips the distributed plan pays. This mirrors the
# matrix small-call path (engine.py SINGLE_TASK_MATRIX_WORK): the reference
# itself builds city/country extracts in one process
# (src/valhalla_build_tiles_simple.cpp:153-235); Spark's fan-out only pays
# off once the ways table outgrows one task.
SMALL_BUILD_SEGMENTS = 250_000


def build_mode_graph_pandas(segments, osm_nodes, mode: str):
    """Single-batch twin of `build_mode_graph_df`: identical semantics
    (speed join drops unusable classes, inner joins drop unknown endpoints,
    haversine weights with the reference's truncating ms conversion, zero-ms
    drop, oneway reverse suppression, main-road flags, dense remap ordered by
    osm id), vectorized numpy over pandas inputs.

    Float-op order matches `haversine_col` / the DuckDB oracle exactly
    (radians of the coordinate DIFFERENCE, (2*r)*asin(...), and
    length/1000/speed*3600*1000 left-associated) so the two paths are
    bit-identical, floor boundaries included — asserted by
    tests/test_osm_build.py's parity test.

    segments: (src_osm, dst_osm, highway, oneway); osm_nodes: (node_id, lon,
    lat). Returns (nodes_pdf(node_id, lon, lat, main_road),
    edges_pdf(src, dst, weight_ms, length_m))."""
    import pandas as pd

    sp = SPEED_KMH[mode]
    empty_nodes = pd.DataFrame(
        {"node_id": pd.Series(dtype="int64"), "lon": pd.Series(dtype="float64"),
         "lat": pd.Series(dtype="float64"), "main_road": pd.Series(dtype="bool")}
    )
    empty_edges = pd.DataFrame(
        {"src": pd.Series(dtype="int64"), "dst": pd.Series(dtype="int64"),
         "weight_ms": pd.Series(dtype="int64"), "length_m": pd.Series(dtype="float64")}
    )
    seg = segments[segments["highway"].isin(sp)]
    if not len(seg):
        return empty_nodes, empty_edges
    coords = osm_nodes.set_index("node_id")
    seg = (
        seg.merge(
            coords.rename(columns={"lon": "lon1", "lat": "lat1"}),
            left_on="src_osm", right_index=True, how="inner",
        ).merge(
            coords.rename(columns={"lon": "lon2", "lat": "lat2"}),
            left_on="dst_osm", right_index=True, how="inner",
        )
    )
    if not len(seg):
        return empty_nodes, empty_edges
    lon1 = seg["lon1"].to_numpy(np.float64)
    lat1 = seg["lat1"].to_numpy(np.float64)
    lon2 = seg["lon2"].to_numpy(np.float64)
    lat2 = seg["lat2"].to_numpy(np.float64)
    dlat = np.radians(lat2 - lat1)
    dlon = np.radians(lon2 - lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(dlon / 2) ** 2
    length_m = (2.0 * 6371008.8) * np.arcsin(np.sqrt(a))
    speed = seg["highway"].map(sp).to_numpy(np.float64)
    weight_ms = np.floor(length_m / 1000.0 / speed * 3600.0 * 1000.0).astype(np.int64)
    keep = weight_ms > 0
    src = seg["src_osm"].to_numpy(np.int64)[keep]
    dst = seg["dst_osm"].to_numpy(np.int64)[keep]
    weight_ms, length_m = weight_ms[keep], length_m[keep]
    is_main = np.isin(seg["highway"].to_numpy(), sorted(MAIN_ROAD_CLASSES))[keep]
    rev = (seg["oneway"].to_numpy() != "yes")[keep]

    # dense remap ordered by osm id — same total order as dense_rank_by
    osm_ids = np.unique(np.concatenate([src, dst]))
    e_src = np.concatenate([src, dst[rev]])
    e_dst = np.concatenate([dst, src[rev]])
    edges = pd.DataFrame(
        {
            "src": np.searchsorted(osm_ids, e_src),
            "dst": np.searchsorted(osm_ids, e_dst),
            "weight_ms": np.concatenate([weight_ms, weight_ms[rev]]),
            "length_m": np.concatenate([length_m, length_m[rev]]),
        }
    )
    # main flag = max over a node's segment endpoints (groupBy max in the DF
    # path): a node is main iff ANY kept segment touching it is a main class
    flags = np.zeros(len(osm_ids), dtype=bool)
    np.maximum.at(flags, np.searchsorted(osm_ids, src), is_main)
    np.maximum.at(flags, np.searchsorted(osm_ids, dst), is_main)
    nodes = pd.DataFrame(
        {
            "node_id": np.arange(len(osm_ids), dtype=np.int64),
            "lon": coords["lon"].reindex(osm_ids).to_numpy(np.float64),
            "lat": coords["lat"].reindex(osm_ids).to_numpy(np.float64),
            "main_road": flags,
        }
    )
    return nodes, edges


def build_cardinalities_from_grid(
    spark: SparkSession, nrows: int, ncols: int, mode: str, island: bool = False
) -> DataFrame:
    """Small-build single-task path for graph-cardinality queries (the
    `route_tile_build` bench shape): the WHOLE segments->graph derivation
    for an nrows x ncols lattice runs as ONE lazy Arrow task via the
    single-batch kernel — no shuffle, no multi-stage DAG, still executed
    per action on an executor (never driver-eager). Real PBF-scale builds
    keep the distributed `build_mode_graph_df` pipeline (exercised
    end-to-end by q:route_pbf_build).

    The lattice is GENERATED inside the task: the closure ships three ints
    instead of two pickled pandas frames (~1 MB serialized per action —
    measured as the dominant cost of the small-build bench shape, 0.56 s
    -> ~0.25 s). Same symmetric footing as the DuckDB oracle, which also
    derives the lattice from the grid rules rather than receiving it."""
    import pandas as pd

    def one_task(_batches):
        # DRAIN the (one-row) input before yielding: a python worker whose
        # input iterator is not fully consumed is killed instead of
        # returned to the reuse pool, so every subsequent action would pay
        # a fresh worker spawn (~0.3-0.5 s measured; pid-pinned in
        # test_single_task_worker_reuse)
        for _ in _batches:
            pass
        from duckdb_routing_spark.testing import grid_nodes, grid_segments

        segs = grid_segments(nrows, ncols, island=island).rename(
            columns={"src": "src_osm", "dst": "dst_osm"}
        )
        nodes, edges = build_mode_graph_pandas(
            segs, grid_nodes(nrows, ncols, island=island), mode
        )
        yield pd.DataFrame({"n_nodes": [len(nodes)], "n_edges": [len(edges)]})

    return spark.range(1, numPartitions=1).mapInPandas(one_task, "n_nodes long, n_edges long")


def build_tiles(
    spark: SparkSession,
    ways: DataFrame,
    osm_nodes: DataFrame,
    out_dir: str,
    modes=MODES,
) -> str:
    """End-to-end tile build (= operator #9 valhalla_build_tiles + #11
    travel_time_load): ways + node coords -> per-mode graph artifacts under
    out_dir. Returns out_dir (the 'config path').

    Dispatch: city/country extracts (≤SMALL_BUILD_SEGMENTS) run the fused
    single-batch kernel per mode — one collect of the (small by check)
    segment table instead of 3 multi-stage DAGs. Larger builds run the
    distributed pipeline and WRITE THE ARTIFACT DISTRIBUTED: nodes/edges go
    straight to parquet via df.write (the reference's Europe build is a
    30 GB PBF -> 150 GB of tiles, scripts/BUILD_EUROPE_TILES.md:20-60 —
    that cannot transit one driver collect) and the graph is never read
    back driver-side."""
    os.makedirs(out_dir, exist_ok=True)
    segments = segments_from_ways(ways)
    segments.persist()
    try:
        n_segments = segments.count()  # one pass; also materializes the persist
        if n_segments <= SMALL_BUILD_SEGMENTS:
            seg_pdf = segments.toPandas()
            nodes_pdf = osm_nodes.toPandas()
            for mode in modes:
                n_pdf, e_pdf = build_mode_graph_pandas(seg_pdf, nodes_pdf, mode)
                RoutingGraph.from_pandas(n_pdf, e_pdf).save(out_dir, mode)
        else:
            for mode in modes:
                nodes, edges = build_mode_graph_df(spark, segments, osm_nodes, mode)
                # artifact tables as parquet DIRECTORIES (pyarrow reads a
                # dir transparently; Spark's _SUCCESS/.crc markers are
                # '_'/'.'-prefixed, which pyarrow datasets ignore) — the
                # graph never transits the driver as a collect
                nodes.write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"nodes_{mode}.parquet")
                )
                edges.write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"edges_{mode}.parquet")
                )
    finally:
        segments.unpersist()
    write_valhalla_config(out_dir, modes)
    return out_dir


def write_valhalla_config(out_dir: str, modes=MODES) -> str:
    """Write a valhalla.json next to the artifacts, mirroring the config the
    reference generates after its tile build (GenerateValhallaConfig,
    src/valhalla_build_tiles_simple.cpp:16-146 — mjolnir.tile_dir is the
    field every consumer reads). travel_time_load_config(<this file>) then
    works on our artifacts exactly like the reference's flow: config json ->
    tile_dir -> loaded graph."""
    import json

    # an incremental build (e.g. load_config adding a missing mode to an
    # existing <pbf>.tiles cache) must not shrink the config's mode list:
    # record every mode with artifacts in the dir, not just this call's
    on_disk = {
        f.split("nodes_", 1)[1].rsplit(".parquet", 1)[0]
        for f in os.listdir(out_dir)
        if f.startswith("nodes_") and f.endswith(".parquet")
    }
    modes = sorted(on_disk | set(modes))
    cfg = {
        "mjolnir": {"tile_dir": out_dir, "concurrency": os.cpu_count() or 4},
        "loki": {"actions": ["locate", "route", "sources_to_targets", "isochrone",
                             "trace_route", "trace_attributes", "optimized_route",
                             "height", "status"]},
        "engine": {"builder": "duckdb_routing_spark", "modes": list(modes)},
    }
    path = os.path.join(out_dir, "valhalla.json")
    # atomic publish: a torn config write must not leave a half-JSON that
    # poisons every later load_config of this artifact dir
    from duckdb_routing_spark.operators.fs import DEFAULT_FS

    DEFAULT_FS.put_atomic(path, json.dumps(cfg, indent=2).encode("utf-8"))
    return path


def read_osm_pbf(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Parse an .osm.pbf into (ways, osm_nodes) DataFrames — the raw-file
    entry point the reference CLI has (valhalla_build_tiles_simple.cpp:153).
    Pure-Python distributed decoder (sources/osm_pbf.py): the driver scans
    blob framing only; executors decode their own byte ranges in parallel."""
    from duckdb_routing_spark.sources.osm_pbf import read_osm_pbf as _read

    return _read(spark, path)


def build_tiles_from_pbf(spark: SparkSession, pbf_path: str, out_dir: str, modes=MODES) -> str:
    """One-call raw-PBF build: decode + graph build + artifact save (the
    `valhalla_build_tiles <pbf> <out>` shape). Accepts an http(s) URL like
    the reference CLI (it downloads the PBF through DuckDB's FileSystem,
    valhalla_build_tiles_simple.cpp:180-197): the source is fetched once
    driver-side, then decoded distributed — executors never fetch."""
    if pbf_path.startswith(("http://", "https://")):
        from duckdb_routing_spark.sources.readers import fetch_to_local

        pbf_path = fetch_to_local(pbf_path)
    ways, nodes = read_osm_pbf(spark, pbf_path)
    return build_tiles(spark, ways, nodes, out_dir, modes)
