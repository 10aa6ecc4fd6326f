"""ANN recall/latency curve at >=1M vectors (VERDICT r8 #6).

Builds the persisted IVF index (operators/similarity.build_ann_index) over
a synthetic clustered corpus and measures, per n_probe, recall@k against
an EXACT numpy ground truth plus wall-clock per query through the real
probe path (ann_query_index: broadcast seed assignment -> partition-pruned
cell scan -> Arrow-batched scoring). Prints ONE JSON line; --out appends.

Corpus: a deterministic mixture — 200 latent unit centers (fixed RNG seed)
plus per-coordinate splitmix64 noise keyed on (vec_id, dim), so the driver
can regenerate the exact vectors for the brute-force ground truth without
collecting the corpus. Queries are HELD-OUT ids (n..n+Q) from the same
generator: clustered like the corpus, never in the index.

The quantizer is kmeans trained on a 2% sample — the standard
sample-trained codebook, not the generator's own centers (that would
measure an oracle quantizer). --cells 0 (the default) auto-sizes it at
sqrt(n) like build_ann_index's n_cells=None default (r9's committed curve
normalized a 64-cell codebook at 1M vectors — recall 0.9 cost 12.5% of
the index; sqrt sizing is the fix being measured). clustering.kmeans_centroids
and build_ann_index pick their kernel by the cell count: above
similarity._EXACT_ARGMIN_MAX_SEEDS cells both run the batched numpy argmin
(O(n) Arrow traffic per pass) instead of ranking O(n*cells) pairs in the
JVM.

Usage:
  python tools/ann_curve.py [--n 1000000] [--dim 64] [--cells 0]
                            [--queries 32] [--k 10] [--out FILE]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

N_LATENT = 200


def _centers(dim: int) -> np.ndarray:
    c = np.random.default_rng(7).normal(size=(N_LATENT, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _vecs_for_ids(ids: np.ndarray, centers: np.ndarray, dim: int) -> np.ndarray:
    """Deterministic vector for every id — same bits on driver and executor.

    Noise is calibrated CLUSTER-DOMINANT: per-coordinate uniform noise with
    total norm ~0.46 against unit centers, the geometry of real embedding
    corpora (points orbit their semantic cluster). A flat per-coordinate
    amplitude (an early draft used 0.35/dim over 64 dims = noise norm ~1.6)
    makes the corpus near-UNIFORM — the documented IVF worst case where no
    quantizer helps and the measured curve says nothing about real data."""
    ids = ids.astype(np.uint64)
    idx = ids[:, None] * np.uint64(dim) + np.arange(dim, dtype=np.uint64)[None, :]
    z = idx * np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    noise = z.astype(np.float64) / 2.0**64 * 2.0 - 1.0
    amp = 0.8 / np.sqrt(3.0 * dim)  # E[||noise||] ~= 0.46 for any dim
    return centers[(ids % np.uint64(N_LATENT)).astype(np.int64)] + noise * amp


def main() -> None:
    def arg(flag: str, default):
        return type(default)(sys.argv[sys.argv.index(flag) + 1]) if flag in sys.argv else default

    n = arg("--n", 1_000_000)
    dim = arg("--dim", 64)
    n_cells = arg("--cells", 0)
    if n_cells <= 0:
        n_cells = max(8, int(round(n ** 0.5)))  # build_ann_index's auto rule
    n_queries = arg("--queries", 32)
    k = arg("--k", 10)
    out_file = arg("--out", "")
    # quantizer training knobs. MEASURED NEGATIVE RESULT (ANN_CURVE_r11,
    # closing VERDICT r10 #4): neither a denser sample (1/17 vs 1/53) nor
    # more Lloyd iterations (10 vs 3) raises single-probe recall — at
    # sqrt(n)=1000 cells r@1 is 0.34 either way, because 1000 BALANCED
    # cells split each of the 200 latent modes ~5 ways and one probe
    # structurally cannot see the whole neighborhood (r10's 0.41 was the
    # lumpy 1/53 sample's mode-aligned cells, not better training).
    # Single-probe recall is quantizer-GRANULARITY-bound: 200 cells gives
    # r@1 = 1.00 at 0.5% scanned (third committed line). The sqrt(n)
    # default's operating point is n_probe=4 (r 0.91-0.94 at 0.42%).
    # Strides stay coprime with the generator's 200 latent modes.
    train_stride = arg("--train-stride", 17)
    train_iters = arg("--train-iters", 3)

    from duckdb_routing_spark.operators import clustering, similarity
    from duckdb_routing_spark.session import get_spark

    spark = get_spark(app_name="ann_curve", master=f"local[{os.cpu_count() or 4}]",
                      shuffle_partitions=32)
    centers = _centers(dim)

    def gen(iterator):
        for pdf in iterator:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(_vecs_for_ids(ids, centers, dim))}
            )

    work = tempfile.mkdtemp(prefix="ann_curve_")
    index_dir = os.path.join(work, "ivf")
    try:
        # materialize the corpus ONCE: every kmeans/build action would
        # otherwise re-run the generator + its shuffle per action
        corpus_path = os.path.join(work, "corpus.parquet")
        (
            spark.range(n)
            .repartition(32)
            .mapInPandas(gen, "vec_id long, embedding array<double>")
            .write.parquet(corpus_path)
        )
        corpus = spark.read.parquet(corpus_path)

        t0 = time.perf_counter()
        # training sample (1/train_stride), stride COPRIME with the generator's 200
        # latent modes: vec_id % 50 keeps only ids = 0 mod 50, and with
        # mode = id % 200 that sample contains FOUR of the 200 modes — the
        # quantizer then trains 1000 centroids onto 4 modes and the other
        # 196 dump into mega-cells (measured: max cell 268k vectors = 27%
        # of the corpus; no iteration count recovers — 25 Lloyd passes
        # still 269k). Stride 53 cycles through every mode: max cell 3.7k
        # at 3 iterations. Real pipelines hash-sample for the same reason.
        sample = corpus.filter(f"vec_id % {train_stride} = 0")
        cents = clustering.kmeans_centroids(sample, k=n_cells, iterations=train_iters)
        seeds = clustering.centroids_df(spark, cents)
        train_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        similarity.build_ann_index(corpus, index_dir, n_cells=n_cells, seeds=seeds)
        build_s = time.perf_counter() - t0
        print(f"# train {train_s:.1f}s build {build_s:.1f}s "
              f"({n} vecs x {dim} dims, {n_cells} cells)", file=sys.stderr)

        # held-out queries + exact ground truth, all regenerated in numpy
        q_ids = np.arange(n, n + n_queries)
        Q = _vecs_for_ids(q_ids, centers, dim)
        C = _vecs_for_ids(np.arange(n), centers, dim)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        t0 = time.perf_counter()
        sims = Qn @ Cn.T  # (Q, n)
        exact = {
            int(q_ids[i]): set(np.argpartition(-sims[i], k)[:k][np.argsort(-sims[i][np.argpartition(-sims[i], k)[:k]])].tolist())
            for i in range(n_queries)
        }
        exact_s = time.perf_counter() - t0
        del C, Cn, sims
        print(f"# exact numpy ground truth: {exact_s:.1f}s", file=sys.stderr)

        queries = spark.createDataFrame(
            [(int(q), list(map(float, v))) for q, v in zip(q_ids, Q)],
            "vec_id long, embedding array<double>",
        )

        # quantizer balance: nominal frac_index_scanned (n_probe/n_cells)
        # only holds if cells are even — report the real distribution and,
        # per probe, the ACTUAL fraction of the index the probe read
        sizes_pdf = (
            spark.read.parquet(os.path.join(index_dir, "cells"))
            .groupBy("cell").count().toPandas()
        )
        cell_sizes = sizes_pdf["count"].to_numpy()
        balance = {
            "cell_p50": int(np.percentile(cell_sizes, 50)),
            "cell_p99": int(np.percentile(cell_sizes, 99)),
            "cell_max": int(cell_sizes.max()),
        }
        size_by_cell = dict(zip(sizes_pdf["cell"].astype(int), sizes_pdf["count"].astype(int)))

        points = []
        probes = sorted({p for p in (1, 2, 4, 8, 16, 32, 64, n_cells) if p <= n_cells})
        for n_probe in probes:
            df = similarity.ann_query_index(
                spark, index_dir, queries, k=k, n_probe=n_probe
            )
            # actual rows scanned: sum of each query's probed cell sizes
            q_assign = similarity._nearest_seeds(
                queries.selectExpr("vec_id AS query_id", "embedding AS qvec"),
                spark.read.parquet(os.path.join(index_dir, "seeds")),
                ["query_id"], "qvec", "cell", n_probe,
            ).select("query_id", "cell").collect()
            rows_scanned = sum(size_by_cell.get(r.cell, 0) for r in q_assign)
            df.count()  # warm (codegen + page cache); timed run below
            t0 = time.perf_counter()
            rows = df.collect()
            dt = time.perf_counter() - t0
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.vec_id)
            recall = float(
                np.mean([len(got.get(q, set()) & exact[q]) / k for q in exact])
            )
            points.append(
                {
                    "n_probe": n_probe,
                    "recall_at_k": round(recall, 4),
                    "sec_total": round(dt, 3),
                    "ms_per_query": round(dt / n_queries * 1000, 1),
                    "frac_index_scanned": round(n_probe / n_cells, 4),
                    "frac_rows_scanned_actual": round(
                        rows_scanned / (n_queries * n), 4
                    ),
                }
            )
            print(f"# n_probe={n_probe}: recall@{k}={recall:.3f} "
                  f"{dt:.2f}s total", file=sys.stderr)

        res = {
            "n_vectors": n,
            "dim": dim,
            "n_cells": n_cells,
            "n_queries": n_queries,
            "k": k,
            "quantizer": f"kmeans(sample=1/{train_stride}, iters={train_iters})",
            "train_sec": round(train_s, 1),
            "build_sec": round(build_s, 1),
            "balance": balance,
            "curve": points,
        }
        line = json.dumps(res)
        print(line)
        if out_file:
            with open(out_file, "a") as f:
                f.write(line + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
