"""K-means (Lloyd) over an embedding column — the clustering step of a
training-data curation pipeline (topic balancing, dedup-by-centroid,
curriculum bucketing).

Spark shape (the canonical distributed Lloyd): centroids are tiny (k x dim)
and live on the driver; each iteration is ONE distributed pass — a
broadcast-join assignment (corpus never shuffles for scoring) followed by a
posexplode + exact-decimal centroid mean (one shuffle on (cluster, dim)).
Iterations are a driver loop over collect()s of k*dim values — the only
driver state is the centroid matrix itself.

Oracle parity: every distance is expressed through dot products
(x.x - 2 x.c + c.c) computed by the order-preserving pure-JVM HOF kernel
(similarity._dot_hof — left-to-right float64 accumulation), which is
bit-identical to DuckDB's list_dot_product; centroid means use exact
DECIMAL sums (the repo's no-round() policy), so a chained-CTE DuckDB oracle
reproduces the full iteration history bit-for-bit. Deterministic init:
the k lowest-id vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duckdb_routing_spark.operators.similarity import _dot_hof

# exact-mean formula copied from emb_label_centroids (proven oracle parity):
# cast(sum(decimal(18,9)) as double) / count
_DEC = "decimal(18,9)"


def _assign(emb: DataFrame, centroids: list[tuple[int, list[float]]], id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, cluster_id): argmin_c ||x-c||^2 via x.x - 2 x.c + c.c with
    ties broken by cluster id. x.x is constant per row -> dropped from the
    argmin; c.c is a literal computed by the SAME sequential kernel (on a
    one-row frame) so its value matches the oracle's list_dot_product."""
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in centroids], "cluster_id int, cvec array<double>"
    )
    # pure-JVM HOF dots (similarity._dot_hof): left-to-right float64
    # accumulation on already-double arrays (pinned bit-exact by the
    # sim_ivf_topk and sim_ann_lsh oracles), and the per-iteration
    # assignment plan has no ArrowEvalPython stage (HOF_AB_r11.json A/B).
    # Operands are real columns from prior projections (the _dot_hof
    # interpreted-inlining caveat).
    cdf = cdf.withColumn("cc", F.expr(_dot_hof("cvec", "cvec")))
    scored = (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
        .crossJoin(F.broadcast(cdf))
        .select(
            "vec_id",
            "cluster_id",
            (F.lit(-2.0) * F.expr(_dot_hof("v", "cvec")) + F.col("cc")).alias("score"),
        )
    )
    # NULLS LAST: HOF scoring nulls out malformed vectors (zip_with
    # null-padding) — keep them from silently winning rank 1; non-null
    # ordering unchanged
    w = Window.partitionBy("vec_id").orderBy(F.asc_nulls_last("score"), "cluster_id")
    return scored.withColumn("_rk", F.row_number().over(w)).filter("_rk = 1").select(
        "vec_id", "cluster_id"
    )


def _update(
    emb: DataFrame, assigned: DataFrame, prev: list, id_col: str, vec_col: str, dim: int
) -> list:
    """New centroids as exact-decimal per-dimension means, collected to the
    driver (k x dim values). An empty cluster keeps its previous centroid
    (the standard Lloyd convention — mirrored in the oracle by a LEFT JOIN
    against the previous centroid set)."""
    joined = assigned.join(
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")),
        "vec_id",
    )
    means = (
        joined.select("cluster_id", F.posexplode("v").alias("pos", "val"))
        .groupBy("cluster_id", "pos")
        .agg(
            (F.sum(F.col("val").cast("double").cast(_DEC)).cast("double") / F.count("*")).alias("m")
        )
    )
    by_cid: dict[int, dict[int, float]] = {}
    for r in means.collect():
        by_cid.setdefault(r.cluster_id, {})[r.pos] = r.m
    return [
        (cid, [by_cid[cid][p] for p in range(dim)] if cid in by_cid else pvec)
        for cid, pvec in prev
    ]


def kmeans_centroids(
    emb: DataFrame,
    k: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The trained quantizer itself: run the same Lloyd loop as
    `kmeans_lloyd` and return the centroids its FINAL assignment uses
    (iterations-1 update steps — so `_assign(emb, kmeans_centroids(...))`
    reproduces `kmeans_lloyd(...)` exactly, pytest-pinned). This is the
    k x dim artifact a production run persists and every consumer
    broadcasts: IVF cell seeds, SemDeDup cells, assignment jobs."""
    dim = len(emb.select(vec_col).first()[0])
    seeds = (
        emb.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    centroids = [(i, list(r.v)) for i, r in enumerate(seeds)]
    emb = emb.persist()
    try:
        for _ in range(iterations - 1):
            assigned = _assign(emb, centroids, id_col, vec_col)
            centroids = _update(emb, assigned, centroids, id_col, vec_col, dim)
    finally:
        emb.unpersist()
    return centroids


def kmeans_centroids_fast(
    emb: DataFrame,
    k: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_rows: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Batch-vectorized Lloyd training for LARGE k — the sqrt(n) IVF
    quantizer's trainer. Same seeding convention (the k lowest-id
    vectors), same argmin tie-break (lowest cluster id wins — np.argmin
    returns the first minimum), same empty-cluster rule (keep the previous
    centroid) as :func:`kmeans_centroids`, but each iteration is one
    mapInPandas pass emitting per-partition partial sums (O(k*dim) rows
    per partition) combined driver-side in numpy — no k-way crossJoin, no
    (cluster, dim) shuffle. BLAS pairwise summation differs from the
    sequential kernel in the last ulp, so this is the opt-in scale path
    (like build_ann_index(fast_assign=True)); the exact path remains the
    DuckDB-oracle twin."""
    import numpy as np
    import pandas as pd

    seeds = (
        emb.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    C = np.array([list(r.v) for r in seeds], dtype=np.float64)
    kk, dim = C.shape
    src = emb.select(F.col(vec_col).cast("array<double>").alias("v")).persist()
    try:
        for _ in range(iterations - 1):
            C_b = C
            c2 = (C_b * C_b).sum(axis=1)

            def partials(iterator):
                sums = np.zeros_like(C_b)
                counts = np.zeros(kk, dtype=np.int64)
                for pdf in iterator:
                    if len(pdf) == 0:
                        continue
                    V = np.vstack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
                    # row-chunked argmin: a whole-batch score matrix is
                    # n_batch x k doubles — 524 MB transient per worker at
                    # k=1000 and 65536-row batches, which thrashes the
                    # allocator across 32 workers (same fix as
                    # _cell_assignments_fast; OPTIMIZATION_r10.md measured
                    # 63 -> 3.4 s there). Same argmin per row.
                    a = np.empty(V.shape[0], dtype=np.int64)
                    # ~8M score doubles per chunk; chunk_rows overrides
                    # for tests (prod batches never split at test k).
                    # Same last-ulp chunk-shape caveat as
                    # _cell_assignments_fast (BLAS kernel choice can vary
                    # with chunk shape); opt-in non-oracle path.
                    step = chunk_rows if chunk_rows is not None else max(1, (1 << 23) // max(1, kk))
                    if step <= 0:
                        raise ValueError(f"chunk_rows must be positive, got {chunk_rows}")
                    for i in range(0, V.shape[0], step):
                        a[i:i + step] = np.argmin(
                            c2[None, :] - 2.0 * (V[i:i + step] @ C_b.T), axis=1
                        )
                    np.add.at(sums, a, V)
                    counts += np.bincount(a, minlength=kk)
                yield pd.DataFrame(
                    {"cell": np.arange(kk), "cnt": counts, "vsum": list(sums)}
                )

            agg = src.mapInPandas(
                partials, "cell int, cnt long, vsum array<double>"
            ).toPandas()
            counts = np.zeros(kk, dtype=np.int64)
            sums = np.zeros_like(C)
            for _, row in agg.iterrows():
                counts[row["cell"]] += row["cnt"]
                sums[row["cell"]] += np.asarray(row["vsum"])
            nonempty = counts > 0
            C = C.copy()
            C[nonempty] = sums[nonempty] / counts[nonempty, None]
    finally:
        src.unpersist()
    return [(i, [float(x) for x in C[i]]) for i in range(kk)]


def centroids_df(spark, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Centroid list as a (cell, svec) DataFrame — the seed-table shape
    `similarity.semantic_dedup(seeds=...)` and IVF consumers broadcast."""
    return spark.createDataFrame(
        [(c, list(map(float, v))) for c, v in centroids], "cell INT, svec ARRAY<DOUBLE>"
    )


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run `iterations` Lloyd steps from the k lowest-id seed vectors;
    returns the final (vec_id, cluster_id) assignment."""
    dim = len(emb.select(vec_col).first()[0])
    seeds = (
        emb.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    centroids = [(i, list(r.v)) for i, r in enumerate(seeds)]
    emb = emb.persist()
    for _ in range(iterations - 1):
        assigned = _assign(emb, centroids, id_col, vec_col)
        centroids = _update(emb, assigned, centroids, id_col, vec_col, dim)
    return _assign(emb, centroids, id_col, vec_col).orderBy("vec_id")
