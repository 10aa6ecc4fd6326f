"""K-means (Lloyd) over an embedding column — the clustering step of a
training-data curation pipeline (topic balancing, dedup-by-centroid,
curriculum bucketing).

Spark shape (the canonical distributed Lloyd): centroids are tiny (k x dim)
and live on the driver; each iteration is ONE distributed pass — a
broadcast-join assignment (corpus never shuffles for scoring) followed by a
posexplode + exact-decimal centroid mean (one shuffle on (cluster, dim)).
Iterations are a driver loop over collect()s of k*dim values — the only
driver state is the centroid matrix itself.

Oracle parity: assignment is similarity._nearest_seeds, the seed argmin
IVF cells and PQ codes share: every distance is dot(c,c) - 2 x.c over
order-preserving pure-JVM HOF folds (left-to-right float64 accumulation,
bit-identical to DuckDB's list_dot_product); centroid means use exact
DECIMAL sums (the repo's no-round() policy), so a chained-CTE DuckDB oracle
reproduces the full iteration history bit-for-bit. Deterministic init:
the k lowest-id vectors.

Above _EXACT_ARGMIN_MAX_SEEDS clusters (the sqrt(n) IVF quantizer's
sizes) the trainer switches to a batched Lloyd pass: one mapInPandas
argmin (similarity._argmin_rows) per iteration emitting per-partition
partial sums, combined driver-side in numpy. BLAS summation can differ
from the sequential fold in the last ulp, so only k at or below the
threshold is oracle-exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_routing_spark.operators.similarity import (
    _EXACT_ARGMIN_MAX_SEEDS,
    _argmin_rows,
    _nearest_seeds,
    _stack_vectors,
)

# exact-mean formula copied from emb_label_centroids (proven oracle parity):
# cast(sum(decimal(18,9)) as double) / count
_DEC = "decimal(18,9)"


def _assign(emb: DataFrame, centroids: list[tuple[int, list[float]]], id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, cluster_id): the nearest centroid of every vector, ties to
    the lowest cluster id (_nearest_seeds over the centroids as a
    broadcast seed table)."""
    cdf = emb.sparkSession.createDataFrame(
        [(cid, vec) for cid, vec in centroids], "cluster_id int, svec array<double>"
    )
    v = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    return _nearest_seeds(v, cdf, ["vec_id"], "v", "cluster_id", 1).select(
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


def _lloyd_batched(
    src: DataFrame, C: np.ndarray, iterations: int, *, step: int | None = None
) -> np.ndarray:
    """`iterations` Lloyd update steps from centroid matrix C over the
    vectors in `src`'s column `v`: each step is one mapInPandas argmin pass
    (_argmin_rows, row chunks of `step`) emitting per-partition partial
    sums (O(k*dim) rows per partition), combined driver-side — no k-way
    crossJoin, no (cluster, dim) shuffle.
    Same tie-break (lowest cluster id), empty-cluster rule (keep the
    previous centroid) and malformed-vector errors as the exact trainer."""
    kk, dim = C.shape
    for _ in range(iterations):
        c2 = (C * C).sum(axis=1)

        def partials(iterator):
            sums = np.zeros_like(C)
            counts = np.zeros(kk, dtype=np.int64)
            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                V = _stack_vectors(pdf["v"], dim)
                a = _argmin_rows(V, C, c2, step=step)
                np.add.at(sums, a, V)
                counts += np.bincount(a, minlength=kk)
            yield pd.DataFrame({"cell": np.arange(kk), "cnt": counts, "vsum": list(sums)})

        agg = src.mapInPandas(partials, "cell int, cnt long, vsum array<double>").toPandas()
        counts = np.zeros(kk, dtype=np.int64)
        sums = np.zeros_like(C)
        for _, row in agg.iterrows():
            counts[row["cell"]] += row["cnt"]
            sums[row["cell"]] += np.asarray(row["vsum"])
        C = np.where((counts > 0)[:, None], sums / np.maximum(counts, 1)[:, None], C)
    return C


def kmeans_centroids(
    emb: DataFrame,
    k: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The trained quantizer: the centroids after iterations-1 Lloyd update
    steps from the k lowest-id vectors, i.e. the centroids the FINAL
    assignment of `kmeans_lloyd` uses. This is the k x dim artifact a
    production run persists and every consumer broadcasts: IVF cell seeds,
    SemDeDup cells, assignment jobs.

    k <= _EXACT_ARGMIN_MAX_SEEDS runs the exact Lloyd (JVM assignment +
    exact-decimal means, oracle-reproducible); larger k runs the batched
    pass (_lloyd_batched), which moves O(n) rows per iteration where the
    exact one ranks n * k pairs."""
    seeds = (
        emb.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    centroids = [(i, list(r.v)) for i, r in enumerate(seeds)]
    if len(centroids) > _EXACT_ARGMIN_MAX_SEEDS:
        C = np.array([v for _, v in centroids], dtype=np.float64)
        src = emb.select(F.col(vec_col).cast("array<double>").alias("v")).persist()
        try:
            C = _lloyd_batched(src, C, iterations - 1)
        finally:
            src.unpersist()
        return [(i, [float(x) for x in C[i]]) for i in range(len(C))]
    dim = len(centroids[0][1])
    # a caller's own cache of `emb` is left in place
    owned = emb.storageLevel == StorageLevel.NONE
    emb = emb.persist()
    try:
        for _ in range(iterations - 1):
            assigned = _assign(emb, centroids, id_col, vec_col)
            centroids = _update(emb, assigned, centroids, id_col, vec_col, dim)
    finally:
        if owned:
            emb.unpersist()
    return centroids


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
    return _assign(emb, kmeans_centroids(emb, k, iterations, id_col, vec_col), id_col, vec_col).orderBy(
        "vec_id"
    )
