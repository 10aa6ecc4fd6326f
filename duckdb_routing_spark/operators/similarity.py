"""Similarity search over an embedding column (array<float>).

Two tiers, matching how a 100 TB pipeline actually runs ANN:
  - brute-force cosine top-k: the exact baseline. A broadcast of the (small)
    query set against the (huge) corpus — one pass, no shuffle on the corpus
    side except the final per-query top-k.
  - LSH-bucketed ANN: random-hyperplane signatures (deterministically derived
    from md5 so runs are reproducible) bucket the corpus; queries probe only
    their bucket. Trades recall for touching ~1/2^bits of the data.

Dot products and norms run JVM-side as higher-order-function folds
(_dot_hof) over float64 twins of the vector columns, so scoring adds no
Python stage. Every sum is bit-identical to DuckDB's list_dot_product:
float32 inputs cast to double make each product exact (24+24 < 53
mantissa bits), and the fold accumulates left to right from 0.0, which
removes the only remaining parity risk, summation order. Python kernels
remain only where they measured faster: the map-side top-k of cosine_topk,
and the chunked batch argmin (_argmin_rows) that index builds and k-means
training switch to above _EXACT_ARGMIN_MAX_SEEDS seeds (HOF_AB_r11.json,
OPTIMIZATION_r10/r11.md and CHANGES.md hold the measurements behind these
choices). IVF cells, probe lists, k-means assignment and PQ codes all rank
seeds through one JVM primitive, _nearest_seeds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType


def _dot_hof(a: str, b: str) -> str:
    """Dot product as higher-order functions — a CONSTANT-size expression
    tree whatever the dim: aggregate folds (0 + p0) + p1 + ... strictly
    left-to-right, so values are bit-identical to an unrolled
    a[0]*b[0] + a[1]*b[1] + ... chain and to the numpy kernel of
    cosine_topk (both pinned bit-exact against DuckDB's left-to-right sums:
    the kernel by the sim_topk_cosine and emb_hard_negatives oracles, this
    form by sim_ivf_topk and sim_ann_lsh).
    Needs no known dim and re-analyzes in milliseconds where an unrolled
    tree costs 0.4-0.7 s per action. CAVEAT that sank an earlier HOF
    attempt: `a`/`b` must name REAL columns from a PRIOR projection —
    referencing a same-projection transform() alias makes the analyzer
    inline that transform into every element access, and the resulting
    tree evaluates interpreted (~2 s for 6k pairs x 64 dims). With materialized operand
    columns this form times identically to the unrolled codegen chain at
    bench scale (measured 0.33 s scored-count either way, sf0.1)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0 as double), (acc, x) -> acc + x)"
    )


def _hof_norm(col: str) -> str:
    """L2 norm as the HOF self-dot + sqrt (per-element float64 squares are
    exact, accumulation is left-to-right, sqrt is correctly rounded).
    `col` must be a float64 twin materialized in a PRIOR projection (the
    _dot_hof caveat; use _with_double_vec), or products round in the
    array's element type."""
    return f"sqrt({_dot_hof(col, col)})"


def _score_block(pdf, qarrays, exclude_label_col, k):
    """Score one corpus block against the query arrays and keep the block's
    top-k per query. Operation order is the oracle's: per-dim left-to-right
    float64 accumulation for norms and dots, cosine = dot / (qnorm * cnorm),
    ties by vec_id. Per-pair math is independent of block boundaries, so
    any batch split yields identical values."""
    qids, qmat, qn, qlabels = qarrays
    nq = len(qids)
    ids = pdf["vec_id"].to_numpy()
    clabels = pdf["clabel"].to_numpy() if exclude_label_col else None
    cmat = np.vstack(pdf["cvec"].to_numpy()).astype(np.float64, copy=False)
    cn = np.zeros(len(ids), dtype=np.float64)
    dots = np.zeros((nq, len(ids)), dtype=np.float64)
    for j in range(cmat.shape[1]):
        cj = cmat[:, j]
        cn += cj * cj
        dots += qmat[:, j][:, None] * cj[None, :]
    cos = dots / (qn[:, None] * np.sqrt(cn)[None, :])
    out_q, out_v, out_c = [], [], []
    for qi in range(nq):
        keep = ids != qids[qi]
        if clabels is not None:
            qv = qlabels[qi]
            # SQL NULL semantics: NULL on either side disqualifies.
            # Numeric NULLs surface as NaN through pandas (NaN != NaN),
            # string NULLs as None — treat both as NULL.
            if qv is None or qv != qv:
                keep &= False  # NULL != x is never TRUE
            else:
                keep &= np.array(
                    [c is not None and c == c and c != qv for c in clabels],
                    dtype=bool,
                )
        sel = np.flatnonzero(keep)
        order = np.lexsort((ids[sel], -cos[qi, sel]))[:k]
        pick = sel[order]
        out_q.append(np.full(len(pick), qids[qi]))
        out_v.append(ids[pick])
        out_c.append(cos[qi, pick])
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "vec_id": np.concatenate(out_v),
            "cosine": np.concatenate(out_c),
        }
    )


# query-set size up to which cosine_topk re-ranks in one partition
_SMALL_NQ = 64


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_label_col: str | None = None,
    single_task: bool = False,
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, vec_id, cosine, rank).

    Scale shape: the query matrix (collected driver-side — it is the small
    side by definition) ships inside a mapInPandas closure, and every corpus
    row is read ONCE: each Arrow batch scores nq x batch pairs in numpy and
    emits only its LOCAL top-k per query, so the global re-rank window sees
    ~(n_batches x nq x k) rows instead of the full nq x corpus pair space.
    The previous crossJoin formulation moved every (query, corpus) pair —
    both embedding arrays included — through Arrow three UDF calls deep
    (~150 MB at sf0.1 for 64-dim; measured 0.65 -> 0.25 s).

    Bit-parity with the oracle: products and norms accumulate left-to-right
    over dims in float64 (dim-major loop — identical operation order to
    _dot_hof and DuckDB's list_dot_product), and cosine divides by
    (qnorm * cnorm) in that order. Rank ties break by vec_id, so the result
    is total-ordered and hash-stable; a per-batch top-k by the same order is
    always a superset of the batch's contribution to the global top-k.

    `exclude_label_col`: restrict neighbors to rows whose label DIFFERS
    from the query's — the hard-negative mining shape for contrastive
    training (nearest vectors that are NOT the query's class). NULL
    semantics match the SQL predicate `label != qlabel`: a NULL on either
    side disqualifies the row (a NULL-labeled query gets no negatives),
    so the kernel stays hash-identical to the DuckDB oracle."""
    q_id_t = queries.schema[id_col].dataType.simpleString()
    c_id_t = corpus.schema[id_col].dataType.simpleString()
    ccols = [F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")]
    if exclude_label_col:
        ccols.append(F.col(exclude_label_col).alias("clabel"))
    out_schema = f"query_id {q_id_t}, vec_id {c_id_t}, cosine double, rank int"

    def _build_query_arrays(ids_np, vecs, labels_np):
        """Query matrix + norms with the pinned accumulation order (per-dim
        left-to-right in float64 — the oracle's operation order)."""
        qmat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        qn = np.zeros(len(ids_np), dtype=np.float64)
        for j in range(qmat.shape[1]):
            qn += qmat[:, j] * qmat[:, j]
        return ids_np, qmat, np.sqrt(qn), labels_np

    if single_task and q_id_t == c_id_t and (
        not exclude_label_col
        or queries.schema[exclude_label_col].dataType
        == corpus.schema[exclude_label_col].dataType
    ):
        # bounded-corpus dispatch, fully fused: queries ride the SAME scan
        # as the corpus behind a boolean tag, so the whole query — query
        # load, scoring, final re-rank — is ONE task in ONE job. The
        # two-job form below (driver collect of the query side, then the
        # kernel job) measured ~0.1-0.2 s slower at bench scale purely in
        # job overhead. Values identical: per-pair math is independent of
        # batch boundaries, and the same (query_id, -cosine, vec_id) total
        # order ranks the candidates.
        tagged = corpus.select(*ccols, F.lit(False).alias("is_q")).unionByName(
            queries.select(*ccols, F.lit(True).alias("is_q"))
        )

        def score_and_rank_fused(batches):
            pdfs = [p for p in batches]
            if not pdfs:
                return
            allp = pd.concat(pdfs, ignore_index=True)
            qp = allp[allp["is_q"]]
            cp = allp[~allp["is_q"]]
            if not len(qp) or not len(cp):
                return
            qarrays = _build_query_arrays(
                qp["vec_id"].to_numpy(),
                qp["cvec"],
                qp["clabel"].to_numpy() if exclude_label_col else None,
            )
            out = _score_block(cp, qarrays, exclude_label_col, k)
            allc = out.sort_values(
                ["query_id", "cosine", "vec_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            allc["rank"] = (allc.groupby("query_id").cumcount() + 1).astype("int32")
            yield allc[allc["rank"] <= k].reset_index(drop=True)

        return tagged.coalesce(1).mapInPandas(score_and_rank_fused, out_schema)

    qcols = [F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")]
    if exclude_label_col:
        qcols.append(F.col(exclude_label_col).alias("qlabel"))
    qpdf = queries.select(*qcols).toPandas()
    nq = len(qpdf)
    if nq:
        qarrays = _build_query_arrays(
            qpdf["query_id"].to_numpy(),
            qpdf["qvec"],
            qpdf["qlabel"].to_numpy() if exclude_label_col else None,
        )

    def score_batches(batches):
        for pdf in batches:
            if not nq or not len(pdf):
                continue
            yield _score_block(pdf, qarrays, exclude_label_col, k)

    if single_task:
        # bounded-corpus dispatch without a same-typed query side (or when
        # the fused-union path above can't apply): scan + score + final
        # re-rank still fuse into one task, with the query side collected
        # driver-side first (one extra job).
        def score_and_rank(batches):
            cands = list(score_batches(batches))
            if not cands:
                return
            allp = pd.concat(cands, ignore_index=True).sort_values(
                ["query_id", "cosine", "vec_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            allp["rank"] = (allp.groupby("query_id").cumcount() + 1).astype("int32")
            yield allp[allp["rank"] <= k].reset_index(drop=True)

        return corpus.select(*ccols).coalesce(1).mapInPandas(score_and_rank, out_schema)

    scored = corpus.select(*ccols).mapInPandas(
        score_batches, f"query_id {q_id_t}, vec_id {c_id_t}, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    if nq <= _SMALL_NQ:
        # small query set: the candidate pool is ≤ n_batches x nq x k rows —
        # shuffle it to ONE partition and finish JVM-side (window + in-
        # partition sort) instead of `orderBy`, whose range exchange runs a
        # SAMPLING job that executes the whole scoring pipeline a second
        # time just to pick output partition bounds. repartition, NOT
        # coalesce: coalesce would collapse the parallel corpus scan
        # upstream. (A pandas re-rank task here measures WORSE — a second
        # Python stage costs more than the JVM window it replaces.)
        return (
            # hash-repartition ON THE WINDOW KEY: hashpartitioning(query_id, 1)
            # satisfies the window's clustering requirement, so exactly one
            # exchange appears in the plan (a bare repartition(1) is round-
            # robin and Spark would add a second, key-hashed exchange)
            scored.repartition(1, F.col("query_id"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .sortWithinPartitions("query_id", "rank")
        )

    # many queries: distribute the re-rank per query key
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold), restricted to same-LSH-bucket candidates — the embedding
    analog of MinHash+LSH text dedup. The self-join is bucket-local (an
    equi-join on the hyperplane signature), so the pair space scales with
    bucket occupancy, not n^2; recall follows the hyperplane collision
    bound P(same bucket) = (1 - theta/pi)^n_planes."""
    # signature, norms and pair dots all fold JVM-side: no Python stage,
    # and the pair stream never crosses the Python boundary
    # (HOF_AB_r11.json: interleaved A/B at this site's own volume)
    sig = _bucketed(corpus, id_col, vec_col, "vec_id", "vd", "nrm", dim, n_planes)
    a = sig.select(
        F.col("vec_id").alias("id_a"), F.col("vd").alias("va"), F.col("nrm").alias("na"), "bucket"
    )
    b = sig.select(
        F.col("vec_id").alias("id_b"), F.col("vd").alias("vb"), F.col("nrm").alias("nb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (F.expr(_dot_hof("va", "vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF ANN (seeded coarse quantizer; deterministic, oracle-expressible)
# ---------------------------------------------------------------------------

def _with_double_vec(df: DataFrame, name: str, out: str) -> DataFrame:
    """Project a float64 twin of an array column for HOF dot products.

    zip_with's x*y multiplies in the ARRAY'S element type: on array<float>
    each product rounds to float32 BEFORE the double accumulation, which
    broke oracle hash-parity at ~1e-8 (measured on sim_ann_index_probe).
    Casting per element FIRST makes every product exact (24+24 < 53
    mantissa bits). The prior projection also keeps the analyzer from
    inlining the transform into the dot (the _dot_hof interpreted-eval
    caveat). Already-double columns alias for free."""
    from pyspark.sql.types import ArrayType

    t = df.schema[name].dataType
    if isinstance(t, ArrayType) and isinstance(t.elementType, DoubleType):
        return df.withColumn(out, F.col(name))
    return df.selectExpr("*", f"transform({name}, x -> cast(x as double)) AS {out}")


def _quoted(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier, so names with
    dots or spaces (`src.lang`) resolve as one column."""
    return "`" + name.replace("`", "``") + "`"


def _normed(
    df: DataFrame, id_col: str, vec_col: str, names: tuple[str, str, str],
    meta_cols: list[str] | None = None,
) -> DataFrame:
    """(id, vec, norm, *meta_cols) under the three `names`: each vector
    with its L2 norm as the HOF self-dot over a float64 twin (_hof_norm),
    so no ArrowEvalPython pass over the scan computes norms; the twin is
    projected away. The row shape of IVF corpora, queries and stores."""
    i, v, n = names
    meta = [_quoted(m) for m in (meta_cols or [])]
    return _with_double_vec(
        df.select(F.col(_quoted(id_col)).alias(i), F.col(_quoted(vec_col)).alias(v),
                  *[F.col(m) for m in meta]),
        v, "__nt",
    ).selectExpr(i, v, f"{_hof_norm('__nt')} AS {n}", *meta)


# seed count up to which index builds and k-means training run the exact
# JVM ranking; above it they switch to the chunked numpy argmin
# (_argmin_rows). Interleaved timing of cell assignment on a 4-core host
# (CHANGES.md) found no crossover: the batched pass won every pair from 4
# to 256 seeds and 2k to 200k vectors, and the JVM path's pair work grows
# with the seed count (17.7 s vs 1.0 s at 200k x 64). What bounds it from
# below is oracle parity: the largest seed count an oracle-checked build
# or trainer uses is 8 (sim_ann_index_probe), and only the JVM path is
# bit-identical to DuckDB.
_EXACT_ARGMIN_MAX_SEEDS = 8


def _first_seeds(corpus: DataFrame, n: int, id_col: str, vec_col: str) -> DataFrame:
    """The default codebook: the first `n` corpus vectors by id as a
    (cell, svec) seed table."""
    return (
        corpus.orderBy(id_col)
        .limit(n)
        .select(F.col(id_col).alias("cell"), F.col(vec_col).alias("svec"))
    )


def _seed_twins(seeds: DataFrame) -> DataFrame:
    """Seed table plus `__sd`, the float64 twin of its vector `svec`, and
    `__ss`, the twin's self-dot. Projected once per seed on the broadcast
    side, so a scored pair pays one HOF fold, dot(v, s)."""
    return _with_double_vec(seeds, "svec", "__sd").selectExpr(
        "*", f"{_dot_hof('__sd', '__sd')} AS __ss"
    )


def _nearest_seeds(
    vecs: DataFrame,
    seeds: DataFrame,
    keys: list[str],
    vec_col: str,
    seed_id: str,
    rank_limit: int,
    on: str | None = None,
) -> DataFrame:
    """The `rank_limit` nearest seeds of every vector: `vecs` columns plus
    `seed_id`, one row per kept (vector, seed). `seeds` carries `seed_id`,
    the seed vector `svec` and, when `on` is set, the equi-join column
    (PQ's subspace `s`); otherwise every vector meets every seed.

    The score is ||v-s||^2 minus the per-vector constant dot(v,v):
    dot(s,s) - 2*dot(v,s) with dot(s,s) precomputed per seed (_seed_twins),
    both as _dot_hof folds over float64 twins, so values are bit-identical
    to DuckDB's list_dot_product. Ranks number `keys` by (score NULLS LAST,
    seed_id); rank_limit=1 assigns a vector to its cell, cluster or code,
    >1 gives a query its probe list.

    A NULL vector, a NULL (or NaN) element or a size other than the seed
    dim scores NULL (NaN) against every seed and would silently take the
    lowest seed id; the check on the kept rows raises instead, once per
    vector, with the offending size."""
    s = _seed_twins(seeds).select(
        *([on] if on else []), seed_id, "__sd", "__ss", F.size("__sd").alias("__sdim")
    )
    v = _with_double_vec(vecs, vec_col, "__vd")
    pairs = v.join(F.broadcast(s), on) if on else v.crossJoin(F.broadcast(s))
    scored = pairs.select(
        *[_quoted(c) for c in vecs.columns],
        seed_id,
        "__sdim",
        (F.col("__ss") - F.lit(2.0) * F.expr(_dot_hof("__vd", "__sd"))).alias("__score"),
    )
    w = Window.partitionBy(*keys).orderBy(F.asc_nulls_last("__score"), F.asc(seed_id))
    vq = _quoted(vec_col)
    malformed = (
        f"IF(__score IS NULL OR isnan(__score), CASE "
        f"WHEN {vq} IS NULL THEN raise_error('nearest_seeds: NULL vector') "
        f"WHEN size({vq}) != __sdim THEN raise_error(format_string("
        f"'nearest_seeds: vector of %d elements, dim is %d', size({vq}), __sdim)) "
        f"ELSE raise_error('nearest_seeds: NULL or NaN element in a vector or seed') END, "
        f"TRUE)"
    )
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= rank_limit)
        .filter(F.expr(malformed))
        .drop("__score", "__rank", "__sdim")
    )


def _rank_by_cosine(pairs: DataFrame, qd: str, cd: str, k: int) -> DataFrame:
    """Top-k per query over joined (query, vector) candidate pairs carrying
    float64 twins `qd`/`cd` and norms qnorm/cnorm: self-matches dropped,
    cosine as the HOF dot over the norm product, ranks ordered by
    (cosine DESC, vec_id). The shared tail of ivf_topk, ann_query_index
    and ann_lsh_topk; no Python stage (a pandas-UDF dot measured 4.2x
    slower on the probe join, OPTIMIZATION_r10.md)."""
    scored = pairs.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        (F.expr(_dot_hof(qd, cd)) / (F.col("qnorm") * F.col("cnorm"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: the corpus is partitioned into `n_cells`
    Voronoi cells around seed vectors (deterministically, the first
    n_cells corpus vectors by id — a fixed codebook, the way production IVF
    uses a trained-once quantizer; pass `seeds` (cell, svec) to pin an
    external quantizer, e.g. to compare against a persisted store over a
    filtered corpus slice), and each query probes its `n_probe`
    nearest cells only. At scale the corpus is written cell-partitioned
    once; a probe reads n_probe/n_cells of the data. Complements
    ann_lsh_topk: IVF adapts to the data's density; LSH needs no training."""
    if seeds is None:
        seeds = _first_seeds(corpus, n_cells, id_col, vec_col)
    c = _normed(corpus, id_col, vec_col, ("vec_id", "cvec", "cnorm"))
    q = _normed(queries, id_col, vec_col, ("query_id", "qvec", "qnorm"))
    c_cells = _nearest_seeds(c, seeds, ["vec_id"], "cvec", "cell", 1)
    q_cells = _nearest_seeds(q, seeds, ["query_id"], "qvec", "cell", n_probe)
    # a vector lives in exactly one cell, so a (query, vector) pair meets at
    # most once even with multi-probe — no dedup needed; per-side float64
    # twins keep products exact on float32 input
    pairs = _with_double_vec(c_cells, "cvec", "__cd").join(
        F.broadcast(_with_double_vec(q_cells, "qvec", "__qd")), "cell"
    )
    return _rank_by_cosine(pairs, "__qd", "__cd", k)


def _stack_vectors(col: pd.Series, dim: int) -> np.ndarray:
    """A non-empty Arrow batch's vector column as an (n, dim) float64
    matrix. Raises on the inputs _nearest_seeds rejects: a NULL vector, a
    size other than `dim`, and a NULL element (Arrow hands it over as NaN,
    so NaN raises too)."""
    try:
        V = np.vstack(col.to_numpy()).astype(np.float64, copy=False)
    except (ValueError, TypeError):  # ragged, or a None among the arrays
        V = None
    if V is None or V.shape[1] != dim:
        for v in col:
            if v is None:
                raise ValueError("nearest_seeds: NULL vector")
            if len(v) != dim:
                raise ValueError(f"nearest_seeds: vector of {len(v)} elements, dim is {dim}")
    if np.isnan(V).any():
        raise ValueError("nearest_seeds: NULL or NaN element in a vector or seed")
    return V


def _argmin_rows(V: np.ndarray, S: np.ndarray, s2: np.ndarray, *, step: int | None = None) -> np.ndarray:
    """Index of the nearest seed row of S for every row of V: argmin of
    s2 - 2 V.S^T, where s2 holds the seeds' self-dots. np.argmin takes the
    first minimum, so an exact tie goes to the lowest seed index. The
    batched twin of _nearest_seeds for large seed counts.

    Scores are computed in row chunks of `step` (default ~8M doubles per
    chunk): a whole-batch matrix is n_batch x n_seeds doubles (65536 x 1000
    = 524 MB transient per worker) and thrashed the allocator across
    workers (interleaved A/B at 1M x 1000 cells: 63.4 s -> 3.4 s median,
    OPTIMIZATION_r10.md). BLAS summation order differs from the sequential
    fold, and BLAS may pick a different kernel for a short trailing chunk,
    so near-ties can flip against the JVM path in the last ulp."""
    if step is None:
        step = max(1, (1 << 23) // max(1, S.shape[0]))
    out = np.empty(V.shape[0], dtype=np.int64)
    for i in range(0, V.shape[0], step):
        out[i:i + step] = np.argmin(s2[None, :] - 2.0 * (V[i:i + step] @ S.T), axis=1)
    return out


def _nearest_cell_batched(
    vecs: DataFrame, seeds: DataFrame, vec_col: str, *, step: int | None = None
) -> DataFrame:
    """`vecs` plus `cell`, its nearest seed, through one mapInPandas pass
    over the collected seed matrix (_argmin_rows, row chunks of `step`):
    Arrow traffic is O(n) instead of the O(n * n_seeds) pairs the JVM path
    ranks. Same tie-break as _nearest_seeds (seeds are scanned in cell
    order) and the same malformed-vector errors; scores follow BLAS
    summation order."""
    rows = seeds.orderBy("cell").collect()
    cells = np.array([r.cell for r in rows], dtype=np.int64)
    S = np.array([list(r.svec) for r in rows], dtype=np.float64)
    s2 = (S * S).sum(axis=1)
    from pyspark.sql.types import StructField, StructType

    # fresh StructType — StructType.add mutates in place, which would also
    # poison the DataFrame's cached schema/columns
    out_schema = StructType(list(vecs.schema.fields) + [StructField("cell", IntegerType())])

    def assign(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            idx = _argmin_rows(_stack_vectors(pdf[vec_col], S.shape[1]), S, s2, step=step)
            pdf = pdf.copy()
            pdf["cell"] = cells[idx].astype("int32")
            yield pdf

    return vecs.mapInPandas(assign, out_schema)


def _assign_cells(c: DataFrame, seeds: DataFrame) -> DataFrame:
    """Every store row plus its `cell`. The seed count picks the kernel:
    the exact JVM ranking up to _EXACT_ARGMIN_MAX_SEEDS seeds, the batched
    numpy argmin above (counting a seed table is one small job)."""
    if seeds.count() > _EXACT_ARGMIN_MAX_SEEDS:
        return _nearest_cell_batched(c, seeds, "cvec")
    return _nearest_seeds(c, seeds, ["vec_id"], "cvec", "cell", 1)


def build_ann_index(
    corpus: DataFrame,
    index_dir: str,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: DataFrame | None = None,
    index_fs=None,
    meta_cols: list[str] | None = None,
    max_cells: int = 65536,
) -> None:
    """Persist the IVF index the way a 100 TB vector store actually lays
    out: vectors written CELL-PARTITIONED (<index_dir>/cells/cell=K/) so a
    probe is a partition-PRUNED read of n_probe/n_cells of the data at the
    file-listing level, plus the tiny seed table (<index_dir>/seeds/).
    `seeds` takes a trained quantizer (`clustering.kmeans_centroids` +
    `centroids_df`); default is the deterministic first-n_cells codebook
    `ivf_topk` uses. `meta_cols` ride along in every row, so a filtered
    probe can push its predicate into the pruned scan.

    Cell assignment reads the seed table back from the store and picks its
    kernel by the seed count (_assign_cells): the exact JVM ranking up to
    _EXACT_ARGMIN_MAX_SEEDS cells, the batched numpy argmin above, whose
    Arrow traffic is O(n) where the JVM path ranks n * n_cells pairs.

    n_cells=None (the default) SCALES THE QUANTIZER WITH THE CORPUS:
    max(8, min(max_cells, round(sqrt(n)))) — conventional IVF sizing,
    where a probe of p cells scans ~p*sqrt(n) vectors. A fixed small
    codebook silently degrades at scale (64 cells at 1M vectors put
    recall@10=0.9 at 12.5% of the index scanned — the measured r9 curve);
    sqrt sizing keeps the same recall at a few percent (ANN_CURVE_r10).
    The count() this costs is one pass over the build input — negligible
    against the build's own write."""
    import os as _os

    from duckdb_routing_spark.operators.fs import live_table_dir

    if seeds is None:
        if n_cells is None:
            n_cells = max(8, min(max_cells, int(round(corpus.count() ** 0.5))))
        seeds = _first_seeds(corpus, n_cells, id_col, vec_col)
    seeds_dir = live_table_dir(_os.path.join(index_dir, "seeds"), index_fs)
    seeds.write.mode("overwrite").parquet(seeds_dir)
    # two-level layout (ingest_batch, cell): the base build is batch -1 and
    # every extension owns a batch id, so an at-least-once replay of an
    # increment overwrites ITS OWN partitions (dynamic partition overwrite)
    # instead of appending duplicates; probes prune on cell regardless
    # STATIC overwrite on purpose: a (re)build is a from-scratch truncate —
    # dynamic mode would leave earlier increments' ingest_batch=N partitions
    # (and cells the new corpus no longer touches) alive under the new base
    assigned = _assign_cells(
        _normed(corpus, id_col, vec_col, ("vec_id", "cvec", "cnorm"), meta_cols),
        corpus.sparkSession.read.parquet(seeds_dir),
    )
    # colocate each cell in one task before the partitioned write: without
    # this every upstream task opens a writer per cell it sees (tasks x
    # n_cells files — 32k ~31-row files at 1M vectors / sqrt(n) cells,
    # measured 703 s; one shuffle of the vectors brings it to n_cells
    # right-sized files) — shuffle width stays conf-driven (AQE coalesces)
    assigned.withColumn(
        "ingest_batch", F.lit(-1)
    ).repartition("cell").write.option(
        "partitionOverwriteMode", "static"
    ).mode("overwrite").partitionBy(
        "ingest_batch", "cell"
    ).parquet(live_table_dir(_os.path.join(index_dir, "cells"), index_fs))


def extend_ann_index(
    new_vectors: DataFrame,
    index_dir: str,
    increment: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_fs=None,
    meta_cols: list[str] | None = None,
) -> None:
    """Grow a persisted IVF index in place: assign the new vectors against
    the index's OWN seed table (the quantizer is immutable once built —
    re-seeding would orphan every existing cell; same kernel choice by
    seed count as build_ann_index) and land them under
    (ingest_batch=increment, cell=K) with dynamic partition overwrite, so
    REPLAYING an increment (at-least-once delivery, foreachBatch retries)
    overwrites its own partitions instead of appending duplicates.
    Increment ids and vector ids must be unique across calls. A probe
    after the extension is byte-identical to one over a from-scratch
    rebuild with the same seeds (pytest-pinned); pruning still keys on
    cell."""
    import os as _os

    from duckdb_routing_spark.operators.fs import live_table_dir

    spark = new_vectors.sparkSession
    seeds = spark.read.parquet(live_table_dir(_os.path.join(index_dir, "seeds"), index_fs))
    c = _normed(new_vectors, id_col, vec_col, ("vec_id", "cvec", "cnorm"), meta_cols)
    # schema-drift guard: an extension must carry the SAME column set the
    # store already holds — appended files with missing/extra metadata would
    # silently shadow columns at read time (plain parquet picks one footer)
    cells_live = live_table_dir(_os.path.join(index_dir, "cells"), index_fs)
    try:
        existing = set(spark.read.parquet(cells_live).columns) - {"ingest_batch", "cell"}
    except Exception:  # noqa: BLE001 — seed-only bootstrap store: nothing to compare
        existing = None
    if existing is not None and existing != set(c.columns):
        raise ValueError(
            f"extension columns {sorted(c.columns)} do not match the store's "
            f"{sorted(existing)} — pass the same meta_cols as the build"
        )
    _assign_cells(c, seeds).withColumn(
        "ingest_batch", F.lit(increment)
    ).repartition("cell").write.option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").partitionBy(
        "ingest_batch", "cell"
    ).parquet(cells_live)


def delete_from_ann_index(
    spark,
    index_dir: str,
    ids: DataFrame,
    id_col: str = "vec_id",
    index_fs=None,
) -> int:
    """Remove vectors from a persisted IVF index, copy-on-write.

    Only the (ingest_batch, cell) partitions actually holding the ids are
    rewritten (dynamic partition overwrite); partitions left with zero
    survivors are dropped through the fs shim. Returns the number of
    vectors removed.

    Crash/retry contract: the rewrite is per-partition; a crash mid-way
    leaves some affected partitions rewritten and the rest intact, and
    REPLAYING the same delete is a no-op on the already-rewritten ones —
    the idempotence at-least-once delivery needs. No read-side cost: a
    probe never consults a tombstone table (deletes here are copy-on-write
    like a lakehouse DELETE without deletion vectors; at 100 TB batch your
    deletes so one locating scan amortizes over many ids).

    The locating scan reads only (vec_id, ingest_batch, cell) —
    column-pruned — because a vector's cell cannot be derived from its id
    alone; the rewrite then re-reads just the affected partitions
    (partition-pruned at file listing)."""
    import os as _os

    from duckdb_routing_spark.operators.fs import DEFAULT_FS, live_table_dir

    fs = index_fs or DEFAULT_FS
    live = live_table_dir(_os.path.join(index_dir, "cells"), index_fs)
    try:
        cells = spark.read.parquet(live)
    except Exception as e:  # noqa: BLE001
        # a seed-only bootstrap store has no row files yet — nothing to
        # delete (any other read failure re-raises untouched)
        if "infer schema" in str(e) or "Path does not exist" in str(e):
            return 0
        raise
    idsdf = ids.select(F.col(id_col).alias("vec_id")).distinct()
    affected = [
        (r.ingest_batch, r.cell)
        for r in cells.join(F.broadcast(idsdf), "vec_id")
        .select("ingest_batch", "cell")
        .distinct()
        .collect()
    ]
    if not affected:
        return 0
    if len(affected) <= 64:
        part_pred = None
        for b, c in affected:
            p = (F.col("ingest_batch") == b) & (F.col("cell") == c)
            part_pred = p if part_pred is None else (part_pred | p)
    else:
        # a per-pair OR-chain grows the expression tree with the partition
        # count (a 10k-partition delete would choke the analyzer); the
        # separable isin pair prunes to the CROSS-PRODUCT superset of the
        # affected batches x cells — extra partitions read and rewritten
        # identically (correct, bounded waste), listing-level pruning kept
        part_pred = F.col("ingest_batch").isin([b for b, _ in affected]) & F.col(
            "cell"
        ).isin([c for _, c in affected])
    touched = cells.filter(part_pred)
    n_before = touched.count()
    # localCheckpoint: Spark refuses to overwrite a path that feeds the
    # writing plan — materialize the survivors first (bounded: affected
    # partitions only), same idiom as the dedup-index extension
    survivors = touched.join(F.broadcast(idsdf), "vec_id", "left_anti").localCheckpoint()
    n_after = survivors.count()
    survivors.repartition("ingest_batch", "cell").write.option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").partitionBy("ingest_batch", "cell").parquet(live)
    # dynamic overwrite only replaces partitions PRESENT in the written
    # data: a partition whose every row was deleted produces no output and
    # would keep serving its old files — drop those directories explicitly
    kept = {
        (r.ingest_batch, r.cell)
        for r in survivors.select("ingest_batch", "cell").distinct().collect()
    }
    for b, c in affected:
        if (b, c) not in kept:
            fs.delete(_os.path.join(live, f"ingest_batch={b}", f"cell={c}"))
    return n_before - n_after


def upsert_ann_index(
    new_vectors: DataFrame,
    index_dir: str,
    increment: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_fs=None,
    meta_cols: list[str] | None = None,
) -> None:
    """Replace-or-insert vectors: copy-on-write delete of any existing
    copies of the incoming ids, then a normal extension under
    (ingest_batch=increment). The quantizer is immutable, so a probe after
    an upsert is byte-identical to one over a from-scratch rebuild whose
    corpus carries the updated vectors (pytest-pinned). Single-writer, like
    every other maintenance call on the store. On a store built with
    `meta_cols`, pass the SAME meta_cols here — the extension's
    schema-drift guard rejects a column-set mismatch."""
    spark = new_vectors.sparkSession
    delete_from_ann_index(
        spark, index_dir, new_vectors.select(id_col), id_col=id_col, index_fs=index_fs
    )
    extend_ann_index(
        new_vectors, index_dir, increment, id_col=id_col, vec_col=vec_col,
        index_fs=index_fs, meta_cols=meta_cols,
    )


def compact_ann_index(spark, index_dir: str, index_fs=None) -> None:
    """Fold accumulated increments back into the base: read every
    (ingest_batch, cell) partition, rewrite as batch -1, and swap the
    directory in. Many tiny per-increment files are the classic
    streaming-ingest tax — listing cost and small-file reads grow with
    increment COUNT, not data size — so a periodic compaction restores
    one-file-set-per-cell. Probes are byte-identical before and after
    (pytest-pinned).

    The swap routes through operators.fs.swap_in_compacted: a staged
    double-rename on POSIX/HDFS, a generation-directory + atomic pointer
    PUT on rename-less object stores (pass index_fs=RenamelessFS() or an
    s3fs-backed adapter). A lakehouse table (Delta/Iceberg) would make it
    a metadata-only commit instead."""
    import os as _os

    from duckdb_routing_spark.operators.fs import live_table_dir, swap_in_compacted

    cells_dir = _os.path.join(index_dir, "cells")
    live = live_table_dir(cells_dir, index_fs)

    def _rewrite(staged: str) -> None:
        df = spark.read.parquet(live)
        others = [c for c in df.columns if c not in ("ingest_batch", "cell")]
        (
            df.select(*others, F.lit(-1).alias("ingest_batch"), "cell")
            .repartition("cell")
            .write.mode("overwrite")
            .partitionBy("ingest_batch", "cell")
            .parquet(staged)
        )

    swap_in_compacted(cells_dir, _rewrite, index_fs)


def ann_query_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_fs=None,
    filter_expr: str | None = None,
) -> DataFrame:
    """Probe a persisted IVF index: assign each query its n_probe nearest
    cells (against the broadcast seed table), then scan ONLY those cell
    partitions — the filter on the partition column prunes at file-listing
    time, so the job reads n_probe/n_cells of the index whatever its size.
    Results are identical to `ivf_topk` over the same seeds (pytest-pinned,
    along with the PartitionFilters plan assertion)."""
    import os as _os

    from duckdb_routing_spark.operators.fs import live_table_dir

    seeds = spark.read.parquet(live_table_dir(_os.path.join(index_dir, "seeds"), index_fs))
    q = _normed(queries, id_col, vec_col, ("query_id", "qvec", "qnorm"))
    # materialize the (tiny) assignment once: the probe list collect and the
    # broadcast join side must see the SAME rows — a lazy plan would
    # evaluate twice, and a nondeterministic `queries` input could then
    # probe cells its re-computed assignments no longer match
    q_cells = _nearest_seeds(q, seeds, ["query_id"], "qvec", "cell", n_probe).localCheckpoint()
    probe = [r.cell for r in q_cells.select("cell").distinct().collect()]
    cells = spark.read.parquet(live_table_dir(_os.path.join(index_dir, "cells"), index_fs)).filter(
        F.col("cell").isin(probe)
    )
    if filter_expr:
        # filtered ANN: the metadata predicate evaluates inside the pruned
        # cell scan (parquet row-group stats + codegen filter), BEFORE any
        # join — a probe reads n_probe/n_cells of the index AND only the
        # rows matching the filter; top-k is exact over the filtered slice
        cells = cells.where(F.expr(filter_expr))
    pairs = _with_double_vec(cells, "cvec", "__cd").join(
        F.broadcast(_with_double_vec(q_cells, "qvec", "__qd")), "cell"
    )
    return _rank_by_cosine(pairs, "__qd", "__cd", k)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): partition
    the corpus into `n_cells` Voronoi cells around seed vectors (the same
    deterministic coarse quantizer as `ivf_topk`), then inside each cell
    prune every vector that has a LOWER-id cell-mate with cosine >=
    threshold. Returns one row per input vector: (vec_id, cell, kept).

    Scale posture: the pair space is cell-local (an equi-join on `cell`), so
    it grows with cell occupancy, not n^2 — at 100 TB the quantizer has
    ~sqrt(n) cells and cells stay bounded; cross-cell near-dups are
    sacrificed by design (the SemDeDup trade). The keep rule (min id per
    similar pair survives) is a deterministic greedy canonicalization, so
    the result is reproducible and SQL-expressible for the oracle.

    `seeds` overrides the default first-n_cells quantizer with a TRAINED
    (cell, svec) table — `clustering.kmeans_centroids` + `centroids_df` is
    the in-house path (the SemDeDup paper's actual recipe: kmeans cells,
    then prune)."""
    if seeds is None:
        seeds = _first_seeds(corpus, n_cells, id_col, vec_col)
    # HOF dot + norm on a per-side float64 twin (the _with_double_vec
    # idiom): no ArrowEvalPython stage on the corpus scan or the cell-local
    # pair stream (HOF_AB_r11.json A/B at volume). The twin `vd` doubles as
    # the assignment input, so the cast runs once per corpus row.
    c = _with_double_vec(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")), "v", "vd"
    ).selectExpr("vec_id", "vd", f"{_hof_norm('vd')} AS nrm")
    cells = _nearest_seeds(c, seeds, ["vec_id"], "vd", "cell", 1)
    a = cells.select(F.col("vec_id").alias("id_a"), F.col("vd").alias("va"), F.col("nrm").alias("na"), "cell")
    b = cells.select(F.col("vec_id").alias("id_b"), F.col("vd").alias("vb"), F.col("nrm").alias("nb"), "cell")
    pruned = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.expr(_dot_hof("va", "vb")) / (F.col("na") * F.col("nb")) >= F.lit(threshold))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return cells.join(pruned.withColumn("pruned", F.lit(True)), "vec_id", "left").select(
        "vec_id", "cell", F.coalesce(~F.col("pruned"), F.lit(True)).alias("kept")
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplanes, md5-derived => deterministic)
# ---------------------------------------------------------------------------

def plane_matrix(dim: int, n_planes: int = 8) -> np.ndarray:
    """The md5-derived hyperplane matrix (n_planes x dim): component j of
    plane p is the first hex nibble of md5('plane:{p}:{j}') centered to
    [-7.5, 7.5] — deterministic across engines and runs, and the same
    values the DuckDB oracle derives in SQL."""
    import hashlib

    return np.array(
        [
            [int(hashlib.md5(f"plane:{p}:{j}".encode()).hexdigest()[0], 16) - 7.5 for j in range(dim)]
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )


def lsh_signature(vec_col: str, dim: int, n_planes: int = 8) -> F.Column:
    """Bit signature over the first `dim` components: bit p = (v . plane_p) > 0.

    One _dot_hof fold per plane against a literal plane array from
    plane_matrix, so the expression has n_planes folds whatever the dim and
    runs JVM-side. `vec_col` must name a float64 twin materialized by a
    PRIOR projection (_with_double_vec; the _dot_hof caveat). Bit-identical
    to the oracle's explicit addition chain: a float32 value cast to double
    times a half-integer plane component is exact, and the fold adds left
    to right from 0.0. A vector shorter than `dim` raises, where a bare
    fold would null-pad it into bucket 0; a NULL vector lands in bucket 0."""
    v = (
        f"IF({vec_col} IS NOT NULL AND size({vec_col}) < {dim}, "
        f"raise_error(format_string('lsh_signature: vector of %d elements, dim is {dim}', "
        f"size({vec_col}))), slice({vec_col}, 1, {dim}))"
    )
    # IF(.., bit, 0) stays non-nullable even when a fold is NULL, so the
    # bucket equi-join infers no isnotnull(bucket) filter that would
    # evaluate every fold a second time below the projection
    bits = []
    for p, plane in enumerate(plane_matrix(dim, n_planes)):
        arr = "array(" + ", ".join(f"{x}D" for x in plane) + ")"
        bits.append(f"IF({_dot_hof(v, arr)} > 0, {1 << p}, 0)")
    return F.expr(" + ".join(bits))


def _bucketed(
    df: DataFrame, id_col: str, vec_col: str, id_alias: str, twin: str, norm: str,
    dim: int, n_planes: int,
) -> DataFrame:
    """(id_alias, bucket, twin, norm): the LSH bucket and L2 norm of each
    vector, both folded over a float64 twin from a prior projection."""
    return _with_double_vec(
        df.select(F.col(id_col).alias(id_alias), F.col(vec_col).alias("__v")), "__v", twin
    ).select(
        id_alias,
        lsh_signature(twin, dim, n_planes).alias("bucket"),
        twin,
        F.expr(_hof_norm(twin)).alias(norm),
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket by hyperplane signature, rank within the
    query's bucket only. At scale the corpus is written bucket-partitioned
    once and probed many times."""
    # signature, norm and dot all fold JVM-side over per-side float64 twins
    # (HOF_AB_r11.json A/B), so the plan has no Python stage
    sig_corpus = _bucketed(corpus, id_col, vec_col, "vec_id", "cd", "cnorm", dim, n_planes)
    sig_q = _bucketed(queries, id_col, vec_col, "query_id", "qd", "qnorm", dim, n_planes)
    return _rank_by_cosine(sig_corpus.join(F.broadcast(sig_q), "bucket"), "qd", "cd", k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the ANN compression tier
# ---------------------------------------------------------------------------

def _subvectors(vec_col, dim: int, m: int):
    """Array of m subvector slices of a dim-length vector column."""
    d = dim // m
    return [F.slice(vec_col, s * d + 1, d) for s in range(m)]


def pq_codebook(corpus: DataFrame, dim: int = 64, m: int = 8, k: int = 16,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic sampled codebook: the subvectors of the first `k`
    corpus vectors by id form the k codes of each of the m subspaces (the
    standard sampled initialization; Lloyd refinement via
    operators.clustering is the opt-in upgrade — code assignment and ADC
    semantics are identical either way). Returns (s, code, cvec) — m*k
    rows, broadcastable anywhere."""
    seeds = corpus.orderBy(id_col).limit(k)
    rows = []
    for s, sub in enumerate(_subvectors(F.col(vec_col), dim, m)):
        rows.append(
            seeds.select(
                F.lit(s).alias("s"),
                F.row_number().over(Window.orderBy(id_col)).cast("int").alias("code"),
                sub.alias("cvec"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def pq_encode(corpus: DataFrame, codebook: DataFrame, dim: int = 64, m: int = 8,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """PQ codes: per (vector, subspace), the nearest codebook entry by
    squared distance — computed as dot(c,c) - 2*dot(v,c) (the ||v||^2 term
    is constant per argmin), reusing the sequential-sum dot kernel so the
    oracle reproduces every comparison. Ties break to the lowest code.

    Scale shape: the m*k codebook broadcasts; the corpus explodes by m
    (row-local) and the only shuffle is the per-(vector, subspace) argmin
    window — at 100 TB this is the one-off encode pass whose output (m
    uint8s per vector, a 32x compression of dim-64 float32) is what ADC
    search then reads instead of the raw embeddings."""
    subs = F.array(*_subvectors(F.col(vec_col), dim, m))
    exploded = corpus.select(F.col(id_col).alias("vec_id"), F.posexplode(subs).alias("s", "sub"))
    # the codebook is the seed table, joined on the subspace: HOF dots on
    # float64 twins (HOF_AB_r11.json A/B at encode volume) with dot(c,c)
    # computed once per m*k broadcast row; a subvector that is short,
    # NULL or holds a NULL element raises
    cb = codebook.withColumnRenamed("cvec", "svec")
    return _nearest_seeds(exploded, cb, ["vec_id", "s"], "sub", "code", 1, on="s").select(
        "vec_id", "s", "code"
    )


def pq_adc_topk(corpus: DataFrame, queries: DataFrame, topk: int = 10,
                dim: int = 64, m: int = 8, k: int = 16,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k: each query builds an
    m*k lookup table of partial distances to every codebook entry, and a
    corpus vector's distance estimate is the sum of its m code lookups —
    the query never touches raw corpus embeddings, only the codes.

    The per-query constant ||q_s||^2 is dropped (rank-invariant), so the
    LUT entry is dot(c,c) - 2*dot(q_s,c). Scale shape: codes are the
    compressed corpus (stored once); the LUT (n_queries * m * k rows)
    broadcasts; one groupBy sums the m partials per (query, vector); the
    ADC score itself is excluded from the output because a distributed
    float sum's addend order is not deterministic — ranks are (scores are
    well-separated for continuous data; ties would break by vec_id).

    Returns (query_id, vec_id, rank) — rank 1 = nearest estimate."""
    codebook = pq_codebook(corpus, dim, m, k, id_col, vec_col)
    codes = pq_encode(corpus, codebook, dim, m, id_col, vec_col)
    q = _with_double_vec(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.posexplode(F.array(*_subvectors(F.col(vec_col), dim, m))).alias("s", "qsub"),
        ),
        "qsub",
        "qsubd",
    )
    # the codebook twins pq_encode scores against (_seed_twins:
    # bit-identical values, no Python stage in the LUT build)
    cb = _seed_twins(codebook.withColumnRenamed("cvec", "svec"))
    lut = q.join(F.broadcast(cb), "s").select(
        "query_id",
        "s",
        "code",
        (F.col("__ss") - 2.0 * F.expr(_dot_hof("qsubd", "__sd"))).alias("partial"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("partial").alias("adc"))
    )
    # NULLS LAST: a NULL partial must not win rank 1
    w = Window.partitionBy("query_id").orderBy(F.asc_nulls_last("adc"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"))
    )


def int8_quantize(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scalar quantization: (vec_id, vmin, vmax, codes)
    with code_j = floor((x_j - vmin) * 255 / (vmax - vmin) + 0.5) — 4x
    storage reduction against float32 with per-vector range adaptation,
    the tier between raw vectors and PQ codes in an ANN serving stack.

    floor(x + 0.5) instead of round(): Spark rounds HALF_UP, DuckDB rounds
    half-to-even — floor keeps the codes byte-identical across engines.
    Degenerate constant vectors (vmax == vmin) encode as all-zero codes.
    Row-local Catalyst expressions; dequantize(j) = vmin + code_j *
    (vmax - vmin) / 255 reconstructs within half a step per component."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vmin, vmax = F.array_min(v), F.array_max(v)
    scale = vmax - vmin
    codes = F.transform(
        v,
        lambda x: F.when(scale == 0, F.lit(0)).otherwise(
            F.floor((x - vmin) * 255.0 / scale + 0.5)
        ).cast("int"),
    )
    return emb.select(
        F.col(id_col).alias("vec_id"),
        vmin.alias("vmin"),
        vmax.alias("vmax"),
        codes.alias("codes"),
    )


def int8_quantize_oracle_sql(table: str = "embeddings") -> str:
    """The byte-identical quantization in portable DuckDB SQL."""
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM {table}
),
mm AS (
  SELECT vec_id, ve, list_min(ve) AS vmin, list_max(ve) AS vmax FROM v
)
SELECT vec_id, vmin, vmax,
       list_transform(ve, x -> CAST(CASE WHEN vmax = vmin THEN 0
         ELSE floor((x - vmin) * 255.0 / (vmax - vmin) + 0.5) END AS INTEGER)) AS codes
FROM mm
"""


def dim_stats(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension corpus statistics: (dim, n, sum_x_micro, sum_x2_micro)
    — the normalization pass (mean/std whitening) every embedding pipeline
    runs before indexing or training, in micro-units (1e-6 quantization).

    Exactness contract: x*1e6 is one IEEE double op (identical in both
    engines), floor() truncates identically, and BIGINT sums are exact
    under ANY aggregation order — float sums differ between Spark's
    partial aggregation and DuckDB's sequential fold, and even a
    double->DECIMAL cast ROUNDS differently across engines (measured: 1
    unit in the 12th digit at 32k casts). Consumers derive
    mean ~= sum_x_micro/1e6/n within 1e-6 per element. One posexplode
    (row-local) + one dim-keyed groupBy, map-side combined."""
    x = F.posexplode(F.transform(F.col(vec_col), lambda v: v.cast("double")))
    exploded = emb.select(x.alias("dim", "x"))
    return (
        exploded.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("x") * 1_000_000).cast("long")).alias("sum_x_micro"),
            F.sum(F.floor(F.col("x") * F.col("x") * 1_000_000).cast("long")).alias("sum_x2_micro"),
        )
    )


def dim_stats_oracle_sql(table: str = "embeddings") -> str:
    """The byte-identical per-dimension sums in portable DuckDB SQL.
    (generate_subscripts-free: parallel unnests zip positionally.)"""
    return f"""
WITH e AS (
  SELECT unnest(list_transform(embedding, v -> v::DOUBLE)) AS x,
         unnest(range(0, len(embedding))) AS dim
  FROM {table}
)
SELECT dim, count(*) AS n,
       CAST(sum(CAST(floor(x * 1000000) AS BIGINT)) AS BIGINT) AS sum_x_micro,
       CAST(sum(CAST(floor(x * x * 1000000) AS BIGINT)) AS BIGINT) AS sum_x2_micro
FROM e GROUP BY dim
"""
