"""The three closed-loop workloads: analytics, routing and curation.

Each workload has two halves:

- `prepare(work_dir, seed)` writes the seeded inputs and computes the
  reference answers. It runs in a child process before the session starts,
  so neither its time nor its memory is billed to the program.
- The workload class, built from what `prepare` returned, hands out the
  seeded request sequence. `request(i)` is the i-th request; its `build`
  constructs a fresh DataFrame through the public API (or performs a graph
  load), and its `check` compares the fetched rows with the reference.
"""

from __future__ import annotations

import dataclasses
import os
import pickle
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from perfbench import datagen
from perfbench.reference import canonical, dijkstra_ms, duckdb_views, oracle_answers


@dataclass
class Request:
    index: int
    kind: str
    build: Callable  # (spark) -> DataFrame | None
    check: Callable  # (pyarrow.Table | None) -> bool
    units: int = 0  # routed pairs (routing) or input rows (curation)
    conf: dict = field(default_factory=dict)  # per-query session overrides


def _session_overrides(spark, spec, sf_dir: str) -> dict:
    """QuerySpec.session_conf resolved the way bench.py resolves it."""
    if not spec.session_conf:
        return {}
    sc = spec.session_conf
    return dict(sc(spark, sf_dir) if callable(sc) else sc)


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------

ANALYTICS_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier", "q6_revenue_forecast",
    "q10_returned_items", "window_topk_orders", "events_hourly", "events_sessionize",
)
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def prepare_analytics(work_dir: str, seed: int) -> dict:
    from duckdb_routing_spark.queries import REGISTRY

    data = os.path.join(work_dir, "sf0.1")
    datagen.write_star_schema(data, seed, 0.1, STAR_TABLES)
    refs = oracle_answers(data, {n: REGISTRY[n].oracle for n in ANALYTICS_QUERIES}, work_dir)
    return {"data_dir": data, "refs": refs}


class Analytics:
    """The eight relational headline queries at sf0.1, a seeded order per
    cycle."""

    cycle = len(ANALYTICS_QUERIES)
    warmup = cycle  # untimed requests before the timed loop
    # the timed loop runs whole batches of requests (run.timed_requests);
    # a batch holds every request kind of the workload
    batch = cycle
    # about how long one batch takes on a 4-core host
    nominal_batch_s = 6.0

    def __init__(self, seed: int, inputs: dict) -> None:
        from duckdb_routing_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.seed = seed
        self.data_dir = inputs["data_dir"]
        self.refs = inputs["refs"]
        self.warm_dir = self.data_dir
        self.overrides: dict[str, dict] = {}

    def setup(self, spark) -> None:
        self.overrides = {
            n: _session_overrides(spark, self.registry[n], self.data_dir) for n in ANALYTICS_QUERIES
        }

    def request(self, i: int) -> Request:
        order = np.random.default_rng([self.seed, 3, i // self.cycle]).permutation(self.cycle)
        name = ANALYTICS_QUERIES[order[i % self.cycle]]
        fn, ref = self.registry[name].fn, self.refs[name]
        return Request(
            index=i, kind=name,
            build=lambda spark: fn(spark, self.data_dir),
            check=lambda t: canonical(t) == ref,
            conf=self.overrides[name],
        )

    def observe(self, req: Request, table, tracer, spark) -> None:
        """Traced-run hook: the registry queries need no extra probes."""


# ---------------------------------------------------------------------------
# routing
# ---------------------------------------------------------------------------

GRID_DIM = 200  # build_roadlike_csr(200, 200): 95,685 nodes, 242,640 edges
N_INTERSECTIONS = GRID_DIM * GRID_DIM  # the snap targets (main nodes)
N_REF_ORIGINS = 8
ISO_SECONDS = 300.0
# weight multipliers of the graph variants; each reload loads the next
VARIANTS = (1, 2, 3)
# one cycle: mostly travel_time batches, with matrices, WKB routes,
# isochrones and one graph reload; the first five requests (one of each
# query kind) are the untimed warm-up, and the next ten hold every kind
ROUTING_PATTERN = (
    "tt_few", "tt_many", "matrix", "route_wkb", "isochrones", "tt_few", "tt_many",
    "tt_few", "tt_many", "load_graph", "tt_few", "route_wkb", "tt_many", "matrix",
    "isochrones", "tt_few", "tt_many", "tt_few", "route_wkb", "tt_many",
)
# (origins, destinations per origin) of the two travel_time shapes: many
# pairs per origin or few (the kernel runs one SSSP per distinct origin)
TT_SHAPES = {"tt_few": (4, 150), "tt_many": (16, 8)}
MATRIX_SHAPE = (5, 40)
WKB_PAIRS = 3
ISO_ORIGINS = 3
# 3 cycles hold 3 reloads, which bring the variant back to the first, so
# the sequence can wrap around without the loaded graph and the reference
# disagreeing
ROUTING_SPECS = 3 * len(ROUTING_PATTERN)


def _road_graph():
    from duckdb_routing_spark.testing import build_roadlike_csr

    return build_roadlike_csr(GRID_DIM, GRID_DIM)


def prepare_routing(work_dir: str, seed: int) -> dict:
    g = _road_graph()
    rng = np.random.default_rng([seed, 4])
    refs = rng.choice(N_INTERSECTIONS, N_REF_ORIGINS, replace=False)
    csr = (g.indptr.tolist(), g.indices.tolist(), g.weights_ms.tolist())
    dist = np.full((N_REF_ORIGINS, g.num_nodes), -1, dtype=np.int64)
    for r, s in enumerate(refs):
        d = dijkstra_ms(*csr, int(s))
        dist[r, list(d)] = list(d.values())
    ref_dist = os.path.join(work_dir, "ref_dist.npy")
    np.save(ref_dist, dist)

    def nodes(n: int, ref: int) -> list[int]:
        """n distinct intersections, the reference origin `ref` among them."""
        pick = [int(x) for x in rng.choice(N_INTERSECTIONS, n, replace=False) if x != refs[ref]]
        pick = pick[: n - 1]
        pick.insert(int(rng.integers(0, n)), int(refs[ref]))
        return pick

    specs, mult, reloads = [], VARIANTS[0], 0
    for i in range(ROUTING_SPECS):
        kind = ROUTING_PATTERN[i % len(ROUTING_PATTERN)]
        ref = i % N_REF_ORIGINS
        spec = {"kind": kind, "ref": ref, "mult": mult, "path": os.path.join(work_dir, f"req{i:03d}")}
        if kind in TT_SHAPES:
            n_orig, per = TT_SHAPES[kind]
            src = np.repeat(nodes(n_orig, ref), per)
            spec.update(src=src.tolist(), dst=rng.choice(N_INTERSECTIONS, len(src)).tolist())
            datagen.write_parts(spec["path"], pa.table({
                "pair_id": np.arange(len(src), dtype=np.int64),
                "lat1": g.node_lat[src], "lon1": g.node_lon[src],
                "lat2": g.node_lat[spec["dst"]], "lon2": g.node_lon[spec["dst"]],
            }), 4)
        elif kind == "matrix":
            spec.update(src=nodes(MATRIX_SHAPE[0], ref),
                        dst=rng.choice(N_INTERSECTIONS, MATRIX_SHAPE[1], replace=False).tolist())
        elif kind == "route_wkb":
            src = [int(refs[(ref + k) % N_REF_ORIGINS]) for k in range(WKB_PAIRS)]
            spec.update(src=src, dst=rng.choice(N_INTERSECTIONS, WKB_PAIRS).tolist())

            def wkt(n: int) -> str:
                return f"POINT({float(g.node_lon[n])!r} {float(g.node_lat[n])!r})"

            datagen.write_parts(spec["path"], pa.table({
                "pair_id": np.arange(WKB_PAIRS, dtype=np.int64),
                "frm": [wkt(n) for n in src], "to": [wkt(n) for n in spec["dst"]],
            }), 1)
        elif kind == "isochrones":
            src = nodes(ISO_ORIGINS, ref)
            spec.update(src=src)
            datagen.write_parts(spec["path"], pa.table({
                "origin_id": np.arange(len(src), dtype=np.int64),
                "lat": g.node_lat[src], "lon": g.node_lon[src],
            }), 1)
        else:  # load_graph: the next variant from here on
            reloads += 1
            mult = VARIANTS[reloads % len(VARIANTS)]
            spec["mult"] = mult
        specs.append(spec)
    warm = os.path.join(work_dir, "warm")
    datagen.write_star_schema(warm, seed, 0.01, ("lineitem",))
    return {"ref_origins": refs.tolist(), "ref_dist": ref_dist, "specs": specs, "warm_dir": warm}


class Routing:
    """travel_time SQL batches, matrices, WKB routes, isochrones and graph
    reloads over a ~96k-node road-like graph."""

    cycle = len(ROUTING_PATTERN)
    warmup = 5
    # the first timed batch (requests 5-14) holds a graph reload and one or
    # more requests of every query kind
    batch = cycle // 2
    nominal_batch_s = 7.0

    def __init__(self, seed: int, inputs: dict) -> None:
        self.graph = _road_graph()
        self.variants = {
            m: self.graph if m == 1 else dataclasses.replace(self.graph, weights_ms=self.graph.weights_ms * m)
            for m in VARIANTS
        }
        self.specs = inputs["specs"]
        self.ref_origins = inputs["ref_origins"]
        self.warm_dir = inputs["warm_dir"]
        self.dist = np.load(inputs["ref_dist"])  # ms from each reference origin, -1 unreachable
        self.engine = None
        # traced runs replay kernel calls in-process on this graph, rebuilt
        # from the broadcast payload at every reload like a worker's
        self.replay_graph = None

    def setup(self, spark) -> None:
        from duckdb_routing_spark.routing.engine import RoutingEngine

        self.engine = RoutingEngine(spark)
        self.engine.load_graph(self.graph, "auto")
        self.engine.register()

    def _expected_s(self, ref: int, mult: int, dst: int) -> float | None:
        """Reference travel time from reference origin `ref` on the variant
        with weight multiplier `mult`; None when unreachable."""
        d = int(self.dist[ref, dst])
        return None if d < 0 else float(d * mult) / 1000.0

    def request(self, i: int) -> Request:
        spec = self.specs[i % len(self.specs)]
        kind = spec["kind"]
        ref_node = self.ref_origins[spec["ref"]]
        g = self.graph
        if kind in TT_SHAPES:
            def build(spark):
                return spark.read.parquet(spec["path"]).selectExpr(
                    "pair_id", "travel_time(lat1, lon1, lat2, lon2, 'auto') AS s")

            def check(t):
                got = dict(zip(t.column("pair_id").to_pylist(), t.column("s").to_pylist()))
                if len(got) != len(spec["src"]):
                    return False
                return all(
                    _same(got[p], self._expected_s(spec["ref"], spec["mult"], d))
                    for p, (s, d) in enumerate(zip(spec["src"], spec["dst"])) if s == ref_node
                )

            return Request(i, "travel_time", build, check, units=len(spec["src"]))
        if kind == "matrix":
            src, dst = spec["src"], spec["dst"]

            def build(spark):
                return self.engine.matrix(
                    g.node_lat[src].tolist(), g.node_lon[src].tolist(),
                    g.node_lat[dst].tolist(), g.node_lon[dst].tolist())

            def check(t):
                if t.num_rows != len(src) * len(dst):
                    return False
                row = src.index(ref_node)
                got = {
                    j: s for f, j, s in zip(t.column("from_idx").to_pylist(), t.column("to_idx").to_pylist(),
                                            t.column("duration_s").to_pylist()) if f == row
                }
                return len(got) == len(dst) and all(
                    _same(got[j], self._expected_s(spec["ref"], spec["mult"], d)) for j, d in enumerate(dst))

            return Request(i, "matrix", build, check, units=len(src) * len(dst))
        if kind == "route_wkb":
            def build(spark):
                return spark.read.parquet(spec["path"]).selectExpr(
                    "pair_id", "travel_time_route_wkb(frm, to, 'auto') AS r")

            def check(t):
                rows = dict(zip(t.column("pair_id").to_pylist(), t.column("r").to_pylist()))
                if len(rows) != WKB_PAIRS:
                    return False
                for p, (s, d) in enumerate(zip(spec["src"], spec["dst"])):
                    r = rows[p] or {}
                    exp = self._expected_s(self.ref_origins.index(s), spec["mult"], d)
                    got = r.get("duration_minutes")
                    if not _same(got, None if exp is None else exp / 60.0):
                        return False
                    if exp is not None and not r.get("geometry"):
                        return False
                return True

            return Request(i, "route_wkb", build, check, units=WKB_PAIRS)
        if kind == "isochrones":
            def build(spark):
                return self.engine.isochrones(spark.read.parquet(spec["path"]), ISO_SECONDS)

            def check(t):
                row = spec["src"].index(ref_node)
                got = sorted(
                    (la, lo, s) for o, la, lo, s in zip(
                        t.column("origin_id").to_pylist(), t.column("lat").to_pylist(),
                        t.column("lon").to_pylist(), t.column("seconds").to_pylist()) if o == row)
                d = self.dist[spec["ref"]] * spec["mult"]
                reach = np.flatnonzero((self.dist[spec["ref"]] >= 0) & (d <= int(ISO_SECONDS * 1000)))
                exp = sorted(zip(g.node_lat[reach].tolist(), g.node_lon[reach].tolist(),
                                 (d[reach].astype(np.float64) / 1000.0).tolist()))
                return got == exp

            return Request(i, "isochrones", build, check)

        variant = self.variants[spec["mult"]]

        def build(spark):
            self.engine.load_graph(variant, "auto")
            return None

        return Request(i, "load_graph", build, lambda t: t is None)

    def observe(self, req: Request, table, tracer, spark) -> None:
        """Traced-run hook: replay the request's kernel work in-process on
        the same generated input, one span per layer call."""
        from duckdb_routing_spark.routing import kernels
        from duckdb_routing_spark.routing.graph import RoutingGraph

        spec = self.specs[req.index % len(self.specs)]
        i = req.index
        if self.replay_graph is None or req.kind == "load_graph":
            payload = self.variants[spec["mult"]].to_payload()
            tracer.add("routing.engine.payload_bytes", len(pickle.dumps(payload, protocol=pickle.HIGHEST_PROTOCOL)))
            with tracer.timed("routing.graph.from_payload_s", "graph.from_payload", i):
                self.replay_graph = RoutingGraph.from_payload(dict(payload))
        g = self.replay_graph
        if req.kind == "load_graph":
            return
        src = np.asarray(spec["src"])
        lat1, lon1 = g.node_lat[src], g.node_lon[src]
        if req.kind == "travel_time":
            dst = np.asarray(spec["dst"])
            lat2, lon2 = g.node_lat[dst], g.node_lon[dst]
            with tracer.timed("routing.graph.snap_s", "graph.nearest_main_nodes", i):
                snapped = g.nearest_main_nodes(lon1, lat1)
                g.nearest_main_nodes(lon2, lat2)
            with tracer.timed("routing.kernels.sssp_s", "kernels.batch_travel_time_s", i):
                kernels.batch_travel_time_s(g, lat1, lon1, lat2, lon2)
            tracer.add("routing.kernels.sssp_runs", len(np.unique(snapped[snapped >= 0])))
            s = table.column("s").to_numpy(zero_copy_only=False)
            tracer.add("routing.pairs", len(s))
            tracer.add("routing.pairs_routed", int(np.isfinite(s).sum()))
        elif req.kind == "matrix":
            tgt = g.nearest_main_nodes(g.node_lon[spec["dst"]], g.node_lat[spec["dst"]])
            with tracer.timed("routing.kernels.matrix_s", "kernels.sssp_multi_target", i):
                for s in g.nearest_main_nodes(lon1, lat1):
                    kernels.sssp_multi_target(g, int(s), tgt)
            tracer.add("routing.kernels.sssp_runs", len(src))
            d = table.column("duration_s").to_numpy(zero_copy_only=False)
            tracer.add("routing.pairs", len(d))
            tracer.add("routing.pairs_routed", int(np.isfinite(d).sum()))
        elif req.kind == "route_wkb":
            pairs = list(zip(spec["src"], spec["dst"]))
            if getattr(g, "_alt", None) is None:
                # first call on a new graph pays the landmark preparation
                with tracer.span("kernels.p2p_path", i, first_touch=True) as cold:
                    kernels.p2p_path(g, *pairs[0])
                with tracer.span("kernels.p2p_path", i, first_touch=False) as warm:
                    kernels.p2p_path(g, *pairs[0])
                tracer.add("routing.kernels.alt_prep_s",
                           (cold["end"] - cold["start"]) - (warm["end"] - warm["start"]))
            for s, d in pairs:
                with tracer.timed("routing.kernels.p2p_s", "kernels.p2p_path", i, first_touch=False):
                    kernels.p2p_path(g, s, d)
            r = table.column("r").to_pylist()
            tracer.add("routing.pairs", len(r))
            tracer.add("routing.pairs_routed", sum(1 for x in r if x and x["duration_minutes"] is not None))
        elif req.kind == "isochrones":
            with tracer.timed("routing.kernels.isochrone_s", "kernels.dijkstra_isochrone", i):
                for s in g.nearest_main_nodes(lon1, lat1):
                    kernels.dijkstra_isochrone(g, int(s), int(ISO_SECONDS * 1000))


def _same(got, exp) -> bool:
    """Exact duration match; NULL and NaN both mean no route."""
    if exp is None:
        return got is None or got != got
    return got == exp


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

CURATION_KINDS = ("doc_text_features", "sim_topk_cosine", "dedup_near_dups", "sim_ann_lsh")
# one cycle: text features on most batches, exact and LSH top-k and one
# near-dup pass; each request takes the next sample. The first four (one of
# each kind) are the untimed warm-up.
CURATION_PATTERN = (
    "doc_text_features", "sim_topk_cosine", "dedup_near_dups", "sim_ann_lsh",
    "doc_text_features", "sim_topk_cosine", "doc_text_features", "doc_text_features",
)
DOC_KINDS = ("doc_text_features", "dedup_near_dups")
N_SAMPLES = 4
SAMPLE_DOCS, SAMPLE_VECS = 1000, 1000
DUP_SHARE = (0.08, 0.12)


def prepare_curation(work_dir: str, seed: int) -> dict:
    from duckdb_routing_spark.queries import REGISTRY

    texts, vecs, labels = datagen.corpus(seed)
    samples = []
    for k in range(N_SAMPLES):
        rng = np.random.default_rng([seed, 5, k])
        d = os.path.join(work_dir, f"sample{k}")
        planted = datagen.write_curation_sample(
            d, rng, texts, vecs, labels, SAMPLE_DOCS, SAMPLE_VECS, float(rng.uniform(*DUP_SHARE)))
        refs = oracle_answers(d, {q: REGISTRY[q].oracle for q in CURATION_KINDS}, work_dir)
        exact = oracle_topk(d, REGISTRY["sim_topk_cosine"].oracle, work_dir)
        samples.append({"dir": d, "planted": planted, "refs": refs, "exact_topk": exact})
    warm = os.path.join(work_dir, "warm")
    datagen.write_star_schema(warm, seed, 0.01, ("lineitem",))
    return {"samples": samples, "warm_dir": warm}


def oracle_topk(sample_dir: str, sql: str, work_dir: str) -> dict[str, list[int]]:
    """Exact top-k neighbour ids per query (for the ANN recall metric)."""
    out: dict[str, list[int]] = {}
    with duckdb_views(sample_dir, work_dir) as con:
        for q, v in con.execute(f"SELECT query_id, vec_id FROM ({sql}) ORDER BY query_id, rank").fetchall():
            out.setdefault(str(q), []).append(int(v))
    return out


class Curation:
    """Near-dup detection, text features and exact / LSH top-k similarity
    over seeded document and embedding samples with planted duplicates."""

    cycle = len(CURATION_PATTERN)
    warmup = len(CURATION_KINDS)
    batch = cycle
    nominal_batch_s = 6.0

    def __init__(self, seed: int, inputs: dict) -> None:
        from duckdb_routing_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.samples = inputs["samples"]
        self.warm_dir = inputs["warm_dir"]
        self.overrides: dict[tuple, dict] = {}

    def setup(self, spark) -> None:
        self.overrides = {
            (k, s["dir"]): _session_overrides(spark, self.registry[k], s["dir"])
            for k in CURATION_KINDS for s in self.samples
        }

    def _sample(self, i: int) -> dict:
        return self.samples[i % len(self.samples)]

    def request(self, i: int) -> Request:
        kind = CURATION_PATTERN[i % len(CURATION_PATTERN)]
        sample = self._sample(i)
        fn, ref, sdir = self.registry[kind].fn, sample["refs"][kind], sample["dir"]
        return Request(
            index=i, kind=kind,
            build=lambda spark: fn(spark, sdir),
            check=lambda t: canonical(t) == ref,
            units=SAMPLE_DOCS if kind in DOC_KINDS else SAMPLE_VECS,
            conf=self.overrides[(kind, sdir)],
        )

    def observe(self, req: Request, table, tracer, spark) -> None:
        """Traced-run hook: LSH candidate count and ANN recall."""
        sample = self._sample(req.index)
        if req.kind == "dedup_near_dups":
            from duckdb_routing_spark.operators import dedup
            from duckdb_routing_spark.queries.registry import table as read_table

            docs = read_table(spark, sample["dir"], "documents")
            with tracer.span("dedup.lsh_candidates_from_hashes", req.index):
                n = dedup.lsh_candidates_from_hashes(
                    dedup.shingle_hash_base(docs, distinct=False), max_bucket=None).count()
            spark.catalog.clearCache()
            tracer.add("operators.dedup.lsh_candidates", n)
            tracer.add("operators.dedup.verified_pairs", table.num_rows)
        elif req.kind == "sim_ann_lsh":
            got: dict[str, set] = {}
            for q, v in zip(table.column("query_id").to_pylist(), table.column("vec_id").to_pylist()):
                got.setdefault(str(q), set()).add(v)
            for q, exact in sample["exact_topk"].items():
                tracer.add("ann.recall_hits", len(got.get(q, set()) & set(exact)))
                tracer.add("ann.recall_total", len(exact))


WORKLOADS = {
    "analytics": (prepare_analytics, Analytics),
    "routing": (prepare_routing, Routing),
    "curation": (prepare_curation, Curation),
}
