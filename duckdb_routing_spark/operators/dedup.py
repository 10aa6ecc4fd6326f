"""Deduplication operator family.

Scale design (the reason each variant exists):
  - exact: hash-groupBy on a fingerprint — one shuffle, linear.
  - MinHash+LSH: near-dup candidates WITHOUT the O(n^2) pair space; cost is
    O(n * shingles) for signatures plus a self-join on (band, signature)
    buckets, which only explodes where near-dups actually exist.
  - n-gram Jaccard: exact similarity, but only ever run on LSH candidates
    (or an explicitly bounded subset) — running it all-pairs is the
    anti-pattern LSH replaces.
  - SimHash: constant-size bit signature; hamming-radius lookups.

Everything below is pure Catalyst expressions (split / transform / explode /
groupBy / join) — no Python UDFs, no driver-side loops — except
near_dup_pairs_single_task, the one-task twin of near_dup_pairs for corpora
small enough that job and plan overhead dominate (ARCHITECTURE.md §2).
MinHash permutations are Carter-Wegman integer hashes over one md5 per
shingle (bands_from_hashes) — stable across engines, which makes the whole
pipeline DuckDB-oracle-checkable.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_routing_spark.operators.common import spread_small_scan


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row summary: total docs, distinct fingerprints, dup count."""
    fp = F.md5(F.lower(F.col(text_col)))
    return docs.select(fp.alias("fp")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
        (F.count("*") - F.countDistinct("fp")).alias("n_exact_dups"),
    )


def exact_dedup_keep_first(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document per fingerprint (deterministic survivor)."""
    fp = F.md5(F.lower(F.col(text_col))).alias("fp")
    w = docs.select("*", fp)
    keep = w.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return w.join(keep, ["fp", id_col], "inner").drop("fp")


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH
# ---------------------------------------------------------------------------

def shingles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3, distinct: bool = True
) -> DataFrame:
    """Word k-gram shingles per document: (doc_id, shingle), distinct by
    default (set semantics, as Jaccard needs).

    Built as arrays_zip over k shifted slices of the token array, exploded
    once — zero shuffles and fully row-local. (Two rejected formulations,
    both measured: transform(sequence(...)) lambdas evaluate INTERPRETED,
    ~100x slower; posexplode + window lead works but pays a shuffle on
    doc_id, ~3x slower.)"""
    docs = spread_small_scan(docs, id_col)
    ws = F.split(F.col(text_col), " ")
    n = F.size(ws)
    zipped = F.arrays_zip(*[F.slice(ws, j + 1, n - (k - 1)) for j in range(k)])
    out = (
        docs.filter(n >= k)
        .select(F.col(id_col).alias("doc_id"), F.explode(zipped).alias("g"))
        .select("doc_id", F.concat_ws(" ", *[F.col(f"g.{j}") for j in range(k)]).alias("shingle"))
    )
    return out.distinct() if distinct else out


def minhash_band_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 12,
    band_size: int = 3,
) -> DataFrame:
    """(doc_id, band, band_sig) via one hash pass + aggregating groupBy.

    Uses NON-distinct shingles: min(h) over a multiset equals min over the
    set, so MinHash semantics are unchanged and the dedup shuffle is saved
    (Jaccard, which needs set semantics, uses the distinct table)."""
    return bands_from_hashes(
        shingle_hash_base(docs, id_col, text_col, k, distinct=False), n_hashes, band_size
    )


# Carter-Wegman universal-hash prime. 30-bit modulus keeps every
# intermediate (h1 + i*h2 with i < n_hashes) far below 2^63 in BOTH engines
# (DuckDB raises on BIGINT overflow; Spark wraps silently — either would be
# fatal to parity). Within-doc collision odds at ~1k shingles/doc are
# ~5e-4 — noise for MinHash estimation.
MH_PRIME = 1_000_000_007


def shingle_hash_base(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3, distinct: bool = True
) -> DataFrame:
    """(doc_id, h1, h2): the two 60-bit md5 halves of each word k-gram
    shingle — one shared representation serving BOTH MinHash bands (min
    over the hashed set == min over the multiset) and exact Jaccard
    (intersection joins key on two longs instead of shingle strings; the
    string never crosses a shuffle). Collision odds are ~2^-120 per shingle
    pair — Jaccard counts are exact in practice.

    distinct=False skips the corpus-wide dedup shuffle (a pure map over the
    source) for consumers that tolerate the multiset — MinHash always, and
    Jaccard when it dedupes its own candidate slice (near_dup_pairs)."""
    h = F.md5(F.col("shingle"))
    out = shingles(docs, id_col, text_col, k, distinct=False).select(
        "doc_id",
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(h, 17, 15), 16, 10).cast("long").alias("h2"),
    )
    return out.distinct() if distinct else out


def bands_from_hashes(base: DataFrame, n_hashes: int = 12, band_size: int = 3) -> DataFrame:
    """MinHash band rows (doc_id, band, band_sig) from a pre-hashed
    (doc_id, h1, h2) shingle base via Carter-Wegman derived hashes: the i-th
    permutation is (h1 + i*h2) mod p over the two md5 halves reduced mod p —
    engine-portable integer arithmetic, so the DuckDB oracle reproduces it
    bit-for-bit.

    Plan shape: the n_hashes mins are n_hashes AGG COLUMNS of a single
    groupBy (map-side combine; shuffle = n_docs rows x n_hashes longs), one
    md5 per shingle row rather than one per (shingle, seed)."""
    p = MH_PRIME
    aggs = [
        F.min((F.col("h1") % p + F.lit(i) * (F.col("h2") % p)) % p).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    sig = base.groupBy("doc_id").agg(*aggs)
    n_bands = (n_hashes + band_size - 1) // band_size
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|",
                *[F.col(f"mh{i}") for i in range(b * band_size, min((b + 1) * band_size, n_hashes))],
            ).alias("band_sig"),
        )
        for b in range(n_bands)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_sig").alias("band_sig")
    )


def jaccard_from_hashes(base: DataFrame, pairs: DataFrame, broadcast: bool | None = None) -> DataFrame:
    """Exact Jaccard over the hashed shingle base for given candidate pairs:
    the integer set sizes from :func:`pair_intersection_sizes`, folded to
    n_inter / (n_a + n_b - n_inter)."""
    s = pair_intersection_sizes(base, pairs, broadcast)
    return s.select(
        "doc_a",
        "doc_b",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
        ).alias("jaccard"),
    )


def pair_intersection_sizes(
    base: DataFrame, pairs: DataFrame, broadcast: bool | None = None
) -> DataFrame:
    """Exact (n_inter, n_a, n_b) shingle-set sizes for candidate pairs —
    the shared integer surface under Jaccard (symmetric) and containment
    (asymmetric, n_inter / min-side: quote and subset detection).

    Plan shape: LSH leaves the candidate set orders of magnitude smaller
    than the corpus, so the pair list and its doc-id set are BROADCAST and
    the full shingle base never shuffles — one map-side semi-join slices it
    down to the candidate docs, whose (deduped) shingle-hash SETS are then
    collected into per-doc arrays. Intersection/union sizes come from a
    row-local `array_intersect` on the joined pair rows — no shuffle ever
    touches more than the candidate slice, and the earlier formulation's
    double intersection join + two size joins collapse into two broadcast
    lookups. `base` may contain duplicate (doc_id, h1, h2) rows (multiset
    shingle stream): the slice is deduped here, where it is hundreds of
    rows, instead of paying a corpus-wide distinct upstream.

    `broadcast=None` (auto, the default) measures what would actually be
    broadcast — the candidate docs' shingle-hash rows, NOT the pair count
    (a few pairs over huge documents can still carry gigabytes of hashes)
    — and drops the hints past ~256 MB, letting the identical plan run as
    shuffle joins keyed on doc id. Values are the same either way. One
    residual bound: collect_list makes one array row per doc, so a single
    document with hundreds of millions of shingles would need a row-stream
    shingle join instead."""
    # NO .distinct() on the candidate-doc ids: the only consumer is the
    # left-semi join below, whose build side dedups inside the hash
    # relation — the distinct was one whole exchange+stage that changed
    # nothing (values identical; a pair list has ~2x rows of 8-byte ids)
    cand_docs = pairs.select(F.col("doc_a").alias("doc_id")).union(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    if broadcast is None:
        # the semi-join output is what gets collected into per-doc arrays
        # and broadcast twice below — size THAT (16 B per hash row), not
        # the pair list. The extra count() is one pass over the (persisted)
        # base; the slice is persisted so the sets build reuses it.
        sub = base.join(cand_docs, "doc_id", "left_semi").persist()
        broadcast = sub.count() * 16 <= 256 * 1024 * 1024
    else:
        sub = base.join(
            (F.broadcast if broadcast else (lambda d: d))(cand_docs), "doc_id", "left_semi"
        )
    hint = F.broadcast if broadcast else (lambda d: d)
    sets = hint(
        sub.select("doc_id", F.struct("h1", "h2").alias("h"))
        .groupBy("doc_id")
        .agg(F.array_distinct(F.collect_list("h")).alias("hs"))
    )
    # alias ONE sets plan for both endpoint lookups: identical build-side
    # subtrees collapse into a single (Reused)Exchange, so the per-doc set
    # aggregation runs once instead of once per join
    s_a, s_b = sets.alias("_sa"), sets.alias("_sb")
    inter = F.size(F.array_intersect(F.col("_sa.hs"), F.col("_sb.hs")))
    return (
        pairs.join(s_a, F.col("doc_a") == F.col("_sa.doc_id"))
        .join(s_b, F.col("doc_b") == F.col("_sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("n_inter"),
            F.size(F.col("_sa.hs")).cast("long").alias("n_a"),
            F.size(F.col("_sb.hs")).cast("long").alias("n_b"),
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 12,
    band_size: int = 3,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Near-duplicate candidate pairs (doc_a < doc_b) via banded MinHash.

    Pairs come from inside (band, band_sig) buckets, so the pair space
    never materializes globally. P(candidate) = 1-(1-J^band_size)^n_bands.
    The NON-distinct shingle-hash stream feeds the signature directly (min
    over a multiset == min over the set), skipping a full dedup shuffle of
    the shingle table. Buckets beyond `max_bucket` members
    degrade to star pairing (see :func:`_pairs_in_buckets`); pass
    max_bucket=None for uncapped all-pairs (what an all-pairs SQL oracle
    computes — the oracled registry queries pass None so parity holds even
    on corpora with mega-buckets)."""
    return lsh_candidates_from_hashes(
        shingle_hash_base(docs, id_col, text_col, k, distinct=False),
        n_hashes, band_size, max_bucket=max_bucket,
    )


def _pairs_in_buckets(
    bands: DataFrame, max_bucket: int | None = 1024, observation=None
) -> DataFrame:
    """(doc_a < doc_b) candidate pairs per (band, band_sig) bucket, generated
    ROW-LOCALLY from each bucket's sorted member array.

    Why not a self-join on (band, band_sig)? Measured: Catalyst broadcasts
    the smaller side of that join, and a broadcast build side canNOT reuse
    the probe side's shuffle exchange — the whole shingle->MinHash pipeline
    (the expensive part) executes TWICE. One groupBy collapses it to a
    single pass; the pair space still only materializes inside shared-band
    buckets, exactly as before.

    Degenerate-bucket bound (the 100 TB hazard): real web corpora carry
    boilerplate/template clusters of 1e5-1e6 near-identical docs that
    survive EXACT dedup, and one such cluster is one (band, band_sig)
    bucket — all-pairs there is O(n^2) = 1e10-1e12 pairs from a single
    row. Buckets larger than `max_bucket` therefore switch to STAR
    pairing: every member pairs with the bucket minimum only (n-1 pairs).
    For the near-dup pipeline's downstream consumers (connected
    components -> clusters/keep-policy) the star preserves connectivity —
    every member stays reachable from the hub — so cluster outputs are
    unchanged for genuinely-near-identical mega-clusters; what's given up
    is pairwise Jaccard edges BETWEEN non-hub members of a bucket that
    collides docs of mixed similarity, the standard truncation trade.
    CaseWhen evaluates only the taken branch, so the quadratic expression
    never runs on an oversized row. The bucket's member array itself stays
    O(n) (8 bytes/id: a 1e6-member bucket is an 8 MB row, not a 1e12 pair
    space). Pass a pyspark.sql.Observation as `observation` to get
    truncation telemetry (capped_buckets / max_bucket_size / buckets) for
    free on the next action — the scale-pipeline equivalent of logging
    the truncation instead of silently claiming full coverage.

    max_bucket=None disables the cap entirely (all-pairs in every bucket):
    the formulation an all-pairs SQL oracle matches exactly, used by the
    oracled registry queries. Note that when a DOWNSTREAM similarity
    filter (near_dup_pairs' Jaccard threshold) runs over capped output,
    star edges whose hub-member similarity falls below the threshold are
    dropped — so post-threshold connectivity through the hub is NOT
    guaranteed for buckets colliding docs of mixed similarity; the
    connectivity-preservation claim holds for the candidate graph itself
    and for genuinely-near-identical mega-clusters."""
    if max_bucket is None:
        max_bucket = (1 << 31) - 1  # uncapped: F.size() is int32-bounded
    buckets = (
        bands.groupBy("band", "band_sig")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if observation is not None:
        buckets = buckets.observe(
            observation,
            F.count(F.when(F.size("ds") > max_bucket, 1)).alias("capped_buckets"),
            F.max(F.size("ds")).alias("max_bucket_size"),
            F.count(F.lit(1)).alias("buckets"),
        )
    all_pairs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    hub = F.element_at(F.col("ds"), 1)  # array is sorted: hub = bucket min
    star_pairs = F.transform(
        F.slice(F.col("ds"), 2, F.size(F.col("ds")) - 1),
        lambda y: F.struct(hub.alias("doc_a"), y.alias("doc_b")),
    )
    pair_structs = F.when(F.size("ds") > max_bucket, star_pairs).otherwise(all_pairs)
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def lsh_candidates_from_hashes(
    base: DataFrame, n_hashes: int = 12, band_size: int = 3,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """(doc_a < doc_b) LSH candidate pairs from a pre-hashed shingle base —
    bucket-local pair generation on (band, band_sig); the pair space only
    materializes inside shared-band buckets, capped at `max_bucket` members
    per bucket beyond which star pairing applies (see
    :func:`_pairs_in_buckets`)."""
    return _pairs_in_buckets(
        bands_from_hashes(base, n_hashes, band_size), max_bucket=max_bucket
    )


def near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 12,
    band_size: int = 3,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """The full near-dup pipeline: LSH candidates -> exact Jaccard -> filter.
    This is the 100 TB-shaped composition: the quadratic step only touches
    LSH survivors.

    `max_bucket` caps per-bucket candidate generation via star pairing
    (see :func:`_pairs_in_buckets`); because the Jaccard threshold then
    FILTERS star edges by hub-member similarity, post-threshold
    connectivity through the hub is not guaranteed for buckets that
    collide docs of mixed similarity — pass None for exact all-pairs
    semantics (the oracled registry queries do).

    The hashed shingle base is NON-distinct (a pure map over the corpus —
    zero shuffles to build): MinHash mins are multiset-safe, and the exact
    Jaccard stage dedupes only the candidate slice, so the corpus-wide
    distinct the previous formulation paid (its single biggest shuffle at
    sf0.1, and at 100 TB a full-corpus exchange) disappears entirely. The
    base and candidate set are persisted: each feeds two consumers, and
    without materialization Spark re-executes the full LSH DAG per consumer
    (~6x wall-clock at sf0.1; at cluster scale these would be written to a
    staging table between stages).

    For a corpus of a few MB, :func:`near_dup_pairs_single_task` computes
    the same rows in one Python task; the `dedup_near_dups` registry query
    picks between the two by input bytes."""
    base = shingle_hash_base(docs, id_col, text_col, k, distinct=False).persist()
    cands = lsh_candidates_from_hashes(
        base, n_hashes, band_size, max_bucket=max_bucket
    ).persist()
    # broadcast-vs-shuffle for the Jaccard stage is auto-decided inside
    # jaccard_from_hashes by measuring the candidate slice itself
    return jaccard_from_hashes(base, cands).filter(F.col("jaccard") >= threshold)


def near_dup_pairs_single_task(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 12,
    band_size: int = 3,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """:func:`near_dup_pairs` for a small corpus, in ONE mapInPandas task:
    the same (doc_a, doc_b, jaccard) rows, sorted by (doc_a, doc_b), with
    the same schema and nullability.

    The distributed pipeline spends about a second on plan building,
    persists and its eager sizing count before any stage runs, which is
    most of a request over a thousand documents. Here one task reads the
    corpus and runs every step of the pipeline in numpy and plain Python:
      - tokens are `text.split(" ")`, the same as Spark's `split(text, ' ')`
        (empty tokens kept); a text with fewer than k tokens has no shingles;
      - (h1, h2) are the two 60-bit halves of each shingle's md5 (the top
        60 bits of each 8-byte half are `int(hex[0:15], 16)` and
        `int(hex[16:31], 16)`, shingle_hash_base's conv(substring(...)));
      - the Carter-Wegman mins come from np.minimum.reduceat over each
        document's shingle run; a duplicated doc id pools its rows, as
        the distributed groupBy("doc_id") does;
      - documents bucket by (band, band signature) — a tuple key, equal
        exactly when the '|'-joined band_sig strings are — and each
        bucket's sorted members pair all-pairs, or star-pair above
        `max_bucket` (see :func:`_pairs_in_buckets`);
      - Jaccard is float(n_inter) / float(n_a + n_b - n_inter) over the
        distinct (h1, h2) sets, the arithmetic of jaccard_from_hashes.
    Rows with a NULL id or text are dropped before the Python stage: they
    never produce a pair on the distributed path either.

    The whole corpus and its shingle hashes live in one Python worker, so
    this is for inputs of a few MB (the registry query dispatches on
    bytes, ARCHITECTURE.md §2); anything larger belongs on
    :func:`near_dup_pairs`."""
    id_type = docs.schema[id_col].dataType
    # the distributed plan's nullability: doc_a merges the star hub
    # (element_at, nullable) with all-pairs members, doc_b is always a
    # collect_set member, and a Divide is nullable
    schema = T.StructType([
        T.StructField("doc_a", id_type, True),
        T.StructField("doc_b", id_type, False),
        T.StructField("jaccard", T.DoubleType(), True),
    ])
    cap = (1 << 31) - 1 if max_bucket is None else max_bucket

    def kernel(batches):
        ids, texts = [], []
        for pdf in batches:
            ids.extend(pdf["doc_id"].tolist())
            texts.extend(pdf["text"].tolist())
        yield _near_dups_local(ids, texts, threshold, k, n_hashes, band_size, cap)

    idc, tc = F.col(id_col), F.col(text_col)
    return (
        docs.filter(idc.isNotNull() & tc.isNotNull())
        .select(idc.alias("doc_id"), tc.alias("text"))
        .coalesce(1)
        .mapInPandas(kernel, schema)
    )


def _near_dups_local(ids, texts, threshold, k, n_hashes, band_size, max_bucket):
    """The single-task near-dup pipeline over in-memory (id, text) lists;
    returns the sorted (doc_a, doc_b, jaccard) frame."""
    import hashlib
    from itertools import combinations

    import numpy as np
    import pandas as pd

    shingled: dict = {}
    for doc_id, text in zip(ids, texts):
        ws = text.split(" ")
        if len(ws) >= k:
            shingled.setdefault(doc_id, []).extend(
                " ".join(ws[j:j + k]) for j in range(len(ws) - k + 1)
            )
    doc_ids = sorted(shingled)
    counts = np.array([len(shingled[d]) for d in doc_ids], dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(counts)))
    digests = b"".join(hashlib.md5(s.encode()).digest() for d in doc_ids for s in shingled[d])
    halves = (np.frombuffer(digests, dtype=">u8").reshape(-1, 2) >> 4).astype(np.int64)
    h1, h2 = halves[:, 0], halves[:, 1]

    pairs: set = set()
    if doc_ids:
        p = MH_PRIME
        a, b = h1 % p, h2 % p
        mins = np.stack(
            [np.minimum.reduceat((a + i * b) % p, offsets[:-1]) for i in range(n_hashes)],
            axis=1,
        ).tolist()
        buckets: dict = {}
        for d, sig in zip(doc_ids, mins):  # doc_ids ascending: members stay sorted
            for lo in range(0, n_hashes, band_size):
                buckets.setdefault((lo, tuple(sig[lo:lo + band_size])), []).append(d)
        for ds in buckets.values():
            if len(ds) > max_bucket:
                pairs.update((ds[0], y) for y in ds[1:])
            elif len(ds) > 1:
                pairs.update(combinations(ds, 2))

    row_of = {d: i for i, d in enumerate(doc_ids)}
    sets: dict = {}

    def hash_set(d):
        if d not in sets:
            lo, hi = offsets[row_of[d]], offsets[row_of[d] + 1]
            sets[d] = set(zip(h1[lo:hi].tolist(), h2[lo:hi].tolist()))
        return sets[d]

    rows = []
    for da, db in sorted(pairs):
        sa, sb = hash_set(da), hash_set(db)
        n_inter = len(sa & sb)
        jac = float(n_inter) / float(len(sa) + len(sb) - n_inter)
        if jac >= threshold:
            rows.append((da, db, jac))
    return pd.DataFrame(rows, columns=["doc_a", "doc_b", "jaccard"])


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# incremental dedup against a persisted index (rolling-crawl shape)
# ---------------------------------------------------------------------------

def build_dedup_index(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 12,
    band_size: int = 3,
    mode: str = "overwrite",
    index_fs=None,
) -> None:
    """Persist the dedup state a rolling pipeline carries between runs:
    the hashed shingle base (<index_dir>/base/ — exact-Jaccard side) and
    the MinHash band table (<index_dir>/bands/ — candidate side). Both are
    plain keyed parquet (Delta/Iceberg at cluster scale, compacted
    periodically); mode="append" folds an increment in, which is what
    `near_dups_against_index(..., extend=True)` does after scoring.
    All reads/writes resolve through operators.fs.live_table_dir so the
    index works on rename-less object stores (pointer-commit compaction)."""
    import os as _os

    from duckdb_routing_spark.operators.fs import live_table_dir

    base = shingle_hash_base(corpus, id_col, text_col, k, distinct=False).persist()
    try:
        base.write.mode(mode).parquet(
            live_table_dir(_os.path.join(index_dir, "base"), index_fs)
        )
        bands_from_hashes(base, n_hashes, band_size).write.mode(mode).parquet(
            live_table_dir(_os.path.join(index_dir, "bands"), index_fs)
        )
    finally:
        base.unpersist()


def compact_dedup_index(spark, index_dir: str, index_fs=None) -> None:
    """Rewrite the dedup index's base and band tables as single compacted
    file sets — append-mode increments accumulate one file set per call,
    and listing/small-read cost grows with increment count. Results are
    unchanged (both tables are plain row sets; pytest-pinned).

    The swap routes through operators.fs.swap_in_compacted: a staged
    double-rename on POSIX/HDFS, a generation-directory + atomic pointer
    PUT on rename-less object stores (pass index_fs=RenamelessFS() or an
    s3fs-backed adapter). A lakehouse table makes it a metadata commit."""
    import os as _os

    from duckdb_routing_spark.operators.fs import live_table_dir, swap_in_compacted

    for sub in ("base", "bands"):
        d = _os.path.join(index_dir, sub)
        live = live_table_dir(d, index_fs)
        swap_in_compacted(
            d,
            lambda staged, _live=live: spark.read.parquet(_live)
            .write.mode("overwrite")
            .parquet(staged),
            index_fs,
        )


def delete_from_dedup_index(
    spark, index_dir: str, ids: DataFrame, id_col: str = "doc_id", index_fs=None
) -> None:
    """Retire documents from the persisted dedup index: filtered rewrite of
    the base (shingle) and band tables so retired docs stop producing
    candidate pairs for future increments — the GDPR-removal /
    corpus-rollback path. Both tables are unpartitioned row sets, so this
    is the compaction shape with a predicate: each table rewrites once
    through swap_in_compacted (staged double-rename on POSIX/HDFS,
    generation + pointer PUT on rename-less stores) and inherits its
    crash/retry safety; a replayed delete is a no-op rewrite. Batch deletes
    so one rewrite amortizes over many ids; a lakehouse table turns this
    into a DELETE commit."""
    import os as _os

    from duckdb_routing_spark.operators.fs import live_table_dir, swap_in_compacted

    idsdf = ids.select(F.col(id_col).alias("doc_id")).distinct()
    for sub in ("base", "bands"):
        d = _os.path.join(index_dir, sub)
        live = live_table_dir(d, index_fs)
        swap_in_compacted(
            d,
            lambda staged, _live=live: spark.read.parquet(_live)
            .join(F.broadcast(idsdf), "doc_id", "left_anti")
            .write.mode("overwrite")
            .parquet(staged),
            index_fs,
        )


def near_dups_against_index(
    new_docs: DataFrame,
    index_dir: str,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 12,
    band_size: int = 3,
    extend: bool = False,
    index_fs=None,
) -> DataFrame:
    """Near-dup pairs of an INCREMENT against itself and the indexed
    corpus — the rolling-crawl production shape: yesterday's corpus is
    never re-paired, only (new x new) and (new x index) candidates exist.
    Returns exactly `near_dup_pairs(old ∪ new)` RESTRICTED to pairs
    touching a new doc (same shingle hashes, same band construction, same
    exact-Jaccard stage — the equivalence is pytest-pinned). Ids across
    increments must be distinct (monotone ingest ids).

    extend=True appends the increment's base+bands into the index after
    scoring, so successive calls see a growing corpus. Scale: the index
    join is keyed on (band, band_sig); only candidate OLD docs' shingle
    hashes are ever read out of the base (semi join on the pair ids)."""
    import os as _os

    from duckdb_routing_spark.operators.fs import live_table_dir

    def _live(p: str) -> str:
        return live_table_dir(p, index_fs)

    spark = new_docs.sparkSession
    base_new = shingle_hash_base(new_docs, id_col, text_col, k, distinct=False).persist()
    bands_new = bands_from_hashes(base_new, n_hashes, band_size).persist()
    within = _pairs_in_buckets(bands_new)
    idx_bands = spark.read.parquet(_live(_os.path.join(index_dir, "bands")))
    cross = (
        bands_new.select(F.col("doc_id").alias("doc_new"), "band", "band_sig")
        .join(
            idx_bands.select(F.col("doc_id").alias("doc_old"), "band", "band_sig"),
            ["band", "band_sig"],
        )
        .select(
            F.least("doc_new", "doc_old").alias("doc_a"),
            F.greatest("doc_new", "doc_old").alias("doc_b"),
        )
        .distinct()
    )
    pairs = within.unionByName(cross).distinct()
    # Jaccard over the union base: the increment's hashes + only the
    # candidate slice of the indexed base (pair_intersection_sizes
    # semi-joins down to candidate docs either way)
    idx_base = spark.read.parquet(_live(_os.path.join(index_dir, "base")))
    base_union = base_new.unionByName(idx_base)
    out = jaccard_from_hashes(base_union, pairs).filter(F.col("jaccard") >= threshold)
    if extend:
        # MATERIALIZE the scores before the index mutates: a lazy plan
        # would re-read the grown parquet on its next action (and persist()
        # alone does not survive — writing to a path recaches/invalidates
        # every cached plan that reads it), so truncate lineage eagerly.
        # Every consumer of the persisted inputs has then run, so release
        # them — a rolling pipeline calls this once per increment forever.
        out = out.localCheckpoint()
        # bands BEFORE base: the two appends are not atomic together, and a
        # crash between them must fail SAFE. Bands-without-base degrades to
        # the doc not existing (its candidate pairs score intersection 0
        # and drop), while base-without-bands is a doc that can NEVER
        # become an LSH candidate again — permanent silent recall loss.
        # Either way a failed extend call must be retried (ids are distinct
        # per increment, so the retry's appends are additive duplicates of
        # at most one table — rewrite via compact_dedup_index if paranoid).
        bands_new.write.mode("append").parquet(_live(_os.path.join(index_dir, "bands")))
        base_new.write.mode("append").parquet(_live(_os.path.join(index_dir, "base")))
        base_new.unpersist()
        bands_new.unpersist()
    return out


def cross_near_dup_pairs(
    corpus: DataFrame,
    eval_docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 12,
    band_size: int = 3,
    metric: str = "jaccard",
    persist_base: bool = True,
) -> DataFrame:
    """Fuzzy DECONTAMINATION pairs: near-duplicates ACROSS two corpora —
    (doc_id, eval_id, jaccard >= threshold) where doc_id is a training doc
    and eval_id a benchmark doc. Word-n-gram `contamination_overlap`
    catches verbatim leakage; this catches paraphrased/reformatted leakage
    the same way in-corpus fuzzy dedup does, but the pair space is
    train x eval, never train x train.

    `metric` picks the similarity AND the candidate generator:
      - "jaccard" (symmetric): MinHash-band candidates, exactly like
        in-corpus near-dup — recall follows the banding curve.
      - "containment" (n_inter / |eval shingles| — the shape real leakage
        takes: a benchmark item EMBEDDED in a long training doc keeps
        containment ~1 while Jaccard collapses toward |eval|/|doc|, and
        MinHash banding goes blind with it). Candidates here are EXACT:
        any corpus shingle hash hitting the broadcast eval shingle set
        makes a (doc, eval) candidate, so no pair with containment > 0 is
        ever missed. The matched-row volume is bounded by actual shared
        content, not corpus size.

    Scale shape: the eval side is small BY DEFINITION (benchmarks), so its
    band table / shingle sets broadcast; the training corpus streams
    map-side through the candidate join and only candidate docs' shingles
    are ever set-aggregated. One shuffle on the corpus side (its MinHash
    groupBy, or the matched-pair distinct in containment mode).

    persist_base caches the corpus shingle base across its two consumers
    (the lazy-API default, like near_dup_pairs). Callers that invoke this
    in a LOOP over many inputs — the streaming twin runs it per
    micro-batch forever — pass False: the base recomputes twice per call
    but nothing accumulates in executor storage."""
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"unknown metric {metric!r}")
    base_c = shingle_hash_base(corpus, id_col, text_col, k, distinct=False)
    if persist_base:
        base_c = base_c.persist()
    base_e = shingle_hash_base(eval_docs, id_col, text_col, k, distinct=False)
    if metric == "containment":
        cands = (
            base_c.join(
                F.broadcast(
                    base_e.select(F.col("doc_id").alias("eval_id"), "h1", "h2").distinct()
                ),
                ["h1", "h2"],
            )
            .select("doc_id", "eval_id")
            .distinct()
        )
    else:
        cands = (
            bands_from_hashes(base_c, n_hashes, band_size)
            .join(
                F.broadcast(
                    bands_from_hashes(base_e, n_hashes, band_size).select(
                        F.col("doc_id").alias("eval_id"), "band", "band_sig"
                    )
                ),
                ["band", "band_sig"],
            )
            .select("doc_id", "eval_id")
            .distinct()
        )
    sets_c = (
        base_c.join(cands.select("doc_id").distinct(), "doc_id", "left_semi")
        .select("doc_id", F.struct("h1", "h2").alias("h"))
        .groupBy("doc_id")
        .agg(F.array_distinct(F.collect_list("h")).alias("hs_c"))
    )
    sets_e = F.broadcast(
        base_e.select(F.col("doc_id").alias("eval_id"), F.struct("h1", "h2").alias("h"))
        .groupBy("eval_id")
        .agg(F.array_distinct(F.collect_list("h")).alias("hs_e"))
    )
    inter = F.size(F.array_intersect(F.col("hs_c"), F.col("hs_e"))).cast("long")
    if metric == "containment":
        score = inter.cast("double") / F.size("hs_e").cast("double")
    else:
        score = inter.cast("double") / (F.size("hs_c") + F.size("hs_e") - inter).cast("double")
    return (
        cands.join(sets_c, "doc_id")
        .join(sets_e, "eval_id")
        .select("doc_id", "eval_id", score.alias(metric))
        .filter(F.col(metric) >= threshold)
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    metric: str = "jaccard",
    persist_base: bool = True,
) -> DataFrame:
    """Corpus minus everything fuzzy-matching the eval set: the keep slice
    of `cross_near_dup_pairs` (anti join on the contaminated id set).
    metric="containment" catches eval items EMBEDDED in longer docs."""
    bad = cross_near_dup_pairs(
        corpus, eval_docs, threshold=threshold, id_col=id_col, text_col=text_col,
        metric=metric, persist_base=persist_base,
    ).select(F.col("doc_id").alias(id_col)).distinct()
    return corpus.join(bad, id_col, "left_anti")


def simhash16(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash over word hashes: bit i of the signature is the
    majority vote of bit decisions derived from hex nibble i of md5(word).

    (16 bits = the md5 hex nibbles, which keeps the construction expressible
    in portable SQL for the oracle; widen by hashing with more seeds.)"""
    toks = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
    base = docs.select(F.col(id_col).alias("doc_id"), toks).withColumn("h", F.md5(F.col("w")))
    # nibble i >= 8 -> +1 else -1; sum over words; bit = sum > 0
    agg_cols = []
    for i in range(16):
        nibble = F.conv(F.substring(F.col("h"), i + 1, 1), 16, 10).cast("int")
        agg_cols.append(F.sum(F.when(nibble >= 8, 1).otherwise(-1)).alias(f"s{i}"))
    sums = base.groupBy("doc_id").agg(*agg_cols)
    sig = None
    for i in range(16):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sums.select("doc_id", sig.cast("long").alias("simhash"))


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash as TWO 32-bit halves (doc_id, sim_hi, sim_lo) — the
    planet-scale widening of :func:`simhash16` (16 bits collide too often
    past ~1e6 docs; 64 is the standard production width, e.g. Google's
    near-dup crawler setting).

    Bit s*16+i is the majority vote of nibble i of md5('s<seed>:' || word)
    over the document's words: four seeded md5 passes in ONE projection,
    64 aggregate columns of a single groupBy. Two 32-bit halves keep every
    value comfortably inside signed BIGINT in BOTH engines (a literal
    1<<63 would overflow), which keeps the construction oracle-checkable."""
    toks = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
    base = docs.select(F.col(id_col).alias("doc_id"), toks)
    for seed in range(4):
        base = base.withColumn(f"h{seed}", F.md5(F.concat(F.lit(f"s{seed}:"), F.col("w"))))
    aggs = []
    for seed in range(4):
        for i in range(16):
            nibble = F.conv(F.substring(F.col(f"h{seed}"), i + 1, 1), 16, 10).cast("int")
            aggs.append(F.sum(F.when(nibble >= 8, 1).otherwise(-1)).alias(f"s{seed}_{i}"))
    sums = base.groupBy("doc_id").agg(*aggs)
    half = []
    for lohi in range(2):  # 0 -> lo (seeds 0,1), 1 -> hi (seeds 2,3)
        sig = None
        for seed in (2 * lohi, 2 * lohi + 1):
            for i in range(16):
                bit = F.when(F.col(f"s{seed}_{i}") > 0, F.lit(1 << ((seed % 2) * 16 + i))).otherwise(
                    F.lit(0)
                )
                sig = bit if sig is None else sig + bit
        half.append(sig.cast("long"))
    return sums.select("doc_id", half[1].alias("sim_hi"), half[0].alias("sim_lo"))


def _banded_hamming_pairs(
    sig: DataFrame, bands: list[tuple[str, int, int]], max_hamming: int
) -> DataFrame:
    """(doc_a < doc_b, hamming) pairs of `sig` rows whose signature bits
    differ in at most `max_hamming` places, via a banded equi-join.
    `bands` lists (column, shift, width) slices of the signature columns;
    pigeonhole: a pair differing in <= len(bands) - 1 bits leaves at least
    one band bit-exact, so the join on (band, bits) recovers every such
    pair without an all-pairs crossJoin, and the pair space only
    materializes inside shared-band buckets."""
    if max_hamming > len(bands) - 1:
        raise ValueError(
            f"{len(bands)}-band layout guarantees recall only for max_hamming <= {len(bands) - 1}"
        )
    cols = list(dict.fromkeys(c for c, _, _ in bands))
    parts = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col(c), shift).bitwiseAND(F.lit((1 << width) - 1)).alias("bits"),
            )
            for i, (c, shift, width) in enumerate(bands)
        ]
    )
    e = sig.select("doc_id", *cols, F.explode(parts).alias("b")).select(
        "doc_id", *cols, F.col("b.band").alias("band"), F.col("b.bits").alias("bits")
    )
    a = e.select(F.col("doc_id").alias("doc_a"), *[F.col(c).alias(f"{c}_a") for c in cols], "band", "bits")
    b = e.select(F.col("doc_id").alias("doc_b"), *[F.col(c).alias(f"{c}_b") for c in cols], "band", "bits")
    ham = reduce(
        operator.add, [F.bit_count(F.col(f"{c}_a").bitwiseXOR(F.col(f"{c}_b"))) for c in cols]
    ).cast("int")
    return (
        a.join(b, ["band", "bits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# 4x16-bit bands over the two 32-bit halves of simhash64's signature
_SIMHASH64_BANDS = [("sim_lo", 0, 16), ("sim_lo", 16, 16), ("sim_hi", 0, 16), ("sim_hi", 16, 16)]


def simhash64_hamming_pairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_a < doc_b, hamming) pairs within `max_hamming` (<= 3) of the
    64-bit signature (doc_id, sim_hi, sim_lo) via a 4x16-bit banded
    equi-join (_banded_hamming_pairs): a pair differing in <= 3 bits
    differs in at most 3 of the 4 bands, so at least one band matches
    exactly — :func:`simhash_hamming_pairs` with 2^64 signature space."""
    return _banded_hamming_pairs(sig, _SIMHASH64_BANDS, max_hamming)


# band layout for the 16-bit signature: 3 bands of 6/5/5 bits. Pigeonhole:
# a pair with hamming distance <= 2 differs in at most 2 bands, so at least
# one band matches bit-exactly
_SIMHASH16_BANDS = [("simhash", 0, 6), ("simhash", 6, 5), ("simhash", 11, 5)]


def simhash_hamming_pairs(sig: DataFrame, max_hamming: int = 2) -> DataFrame:
    """All (doc_a < doc_b) pairs within `max_hamming` (<= 2) of each other,
    via banded equi-join (_banded_hamming_pairs) — NOT an all-pairs
    crossJoin, so the pair space only materializes inside shared-band
    buckets (bucket sizes stay bounded when signatures are spread; at
    planet scale add bits/bands).

    Input: (doc_id, simhash) from :func:`simhash16`. Output columns
    (doc_a, doc_b, hamming)."""
    return _banded_hamming_pairs(sig, _SIMHASH16_BANDS, max_hamming)


# ---------------------------------------------------------------------------
# cluster assignment (the final stage of a dedup pipeline: pairs -> groups)
# ---------------------------------------------------------------------------

def dedup_clusters(
    pairs: DataFrame, max_iters: int = 50, fallback_after: int | None = 8
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id) where
    cluster_id is the MINIMUM doc id of the component — the canonical
    survivor every dedup pipeline keeps.

    Iterative min-label propagation (the HashToMin shape): each round every
    node takes the min of its own label and its neighbors' labels; converges
    in O(component diameter) rounds — near-dup components are shallow
    (pairs come from a similarity threshold), so typically 2-4 rounds. Each
    round is one shuffle-on-doc_id join; the driver only ever sees a
    one-row convergence checksum per round, never the data. 100 TB shape:
    labels and edges partition by doc id; no component is ever
    driver-resident.

    Bounded worst case: if the graph hasn't converged after
    `fallback_after` rounds, the diameter is deep (boilerplate chains) and
    per-round propagation stops being the right algorithm — the loop hands
    the ORIGINAL pairs to `dedup_clusters_star` (O(log n) rounds regardless
    of diameter). Both compute the identical min-id assignment, so the
    switch is invisible to callers; pass fallback_after=None to pin pure
    propagation.

    Two mechanics matter for iterative DataFrames:
      - per-round lineage TRUNCATION: every round localCheckpoints — persist
        alone short-circuits execution but Catalyst still re-ANALYZES the
        growing round-over-round join lineage (measured: a 120-node random
        graph needing ~12 rounds ran >110 s under persist, single-digit
        seconds under checkpoints). The stranded block per round is one
        label table, bounded by the fallback. A cluster run with lossy
        executors would spark.checkpoint() to reliable storage instead.
      - convergence via a monotone checksum, not a join: labels only ever
        DECREASE under min-propagation over a fixed doc_id set, so
        sum(cluster_id) is a strict witness — equal sum <=> fixed point.
        That is one tiny agg per round instead of a self-join of
        consecutive label tables (decimal(38,0) keeps the sum exact far
        past 1e18 rows)."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()
    )
    check = F.sum(F.col("cluster_id").cast("decimal(38,0)")).alias("s")
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        # localCheckpoint each round, NOT persist: persist short-circuits
        # execution but Catalyst still re-ANALYZES the full round-over-round
        # join lineage, which grows superlinearly — measured: a 120-node
        # random graph (needing ~12 propagation rounds) ran >110 s under
        # persist and single-digit seconds under per-round checkpoints. The
        # stranded block per round is one label table; a cluster run with
        # lossy executors would spark.checkpoint() to reliable storage.
        .localCheckpoint()
    )
    try:
        prev = labels.agg(check).first()["s"]
        for rnd in range(max_iters):
            if fallback_after is not None and rnd >= fallback_after:
                # deep component: switch to the diameter-independent
                # algorithm (same min-id assignment, O(log n) rounds)
                return dedup_clusters_star(pairs)
            neigh = (
                edges.join(labels, edges.src == labels.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("cluster_id").alias("neigh_min"))
            )
            labels = (
                labels.join(neigh, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("cluster_id"), F.coalesce(F.col("neigh_min"), F.col("cluster_id"))
                    ).alias("cluster_id"),
                )
                .localCheckpoint()
            )
            cur = labels.agg(check).first()["s"]
            if cur == prev:
                break
            prev = cur
        return labels.select("doc_id", "cluster_id").localCheckpoint()
    finally:
        edges.unpersist()


def dedup_clusters_star(pairs: DataFrame, max_iters: int = 30) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond" — the published O(log n)-round algorithm, also the shape
    GraphFrames ships publicly). Same contract as `dedup_clusters`:
    (doc_id, cluster_id) with cluster_id = the component's MINIMUM doc id,
    one row per node appearing in `pairs`.

    Why a second algorithm: min-label propagation (`dedup_clusters`) needs
    O(component diameter) shuffle rounds. Near-dup graphs are usually
    shallow, but one pathological chain (doc A ~ B ~ C ~ ... through
    overlapping boilerplate) makes the diameter — and the round count —
    linear. Star contraction REWIRES edges toward component minima instead
    of propagating labels along them, so every component collapses to a
    star in O(log n) rounds regardless of diameter (test: a 200-node path
    converges in <=8 rounds where propagation needs ~200). At 100 TB this
    is the difference between a bounded job and an unbounded one; each
    round is two edge-keyed aggregations + joins, nothing driver-resident.

      large-star: group the symmetric edge list by u; with m =
        min(neighbors(u) + [u]), emit (v, m) for every neighbor v > u.
        Strictly-larger nodes re-attach to u's local minimum.
      small-star: on the (big, small)-oriented output, group by the big
        endpoint u; with m = min(neighbors(u)) (all < u), emit (v, m) for
        the other neighbors AND (u, m). Smaller nodes + u attach to m.

    Both steps preserve connectivity exactly (every removed edge is
    replaced by a 2-path through m). Fixed point = every component is a
    star centered at its minimum. Convergence check: the canonical edge
    set only shrinks toward the star set, so we compare a (count,
    xxhash64-sum) checksum of the oriented edge set round over round — one
    tiny agg per round, no self-join of consecutive edge tables; the
    checksum is backstopped by max_iters (log2 of any realistic node count
    is < 30) and by the final star edges being label-complete per node."""
    canon = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"), F.least("doc_a", "doc_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    checksum_agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ]

    def _large_star(oriented: DataFrame) -> DataFrame:
        # symmetric neighbor view of the oriented (u > v) edge set
        sym = oriented.unionByName(
            oriented.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        # m = min over Γ(u) ∪ {u}; emit (v, m) for strictly larger neighbors
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("mn"), F.col("u")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(oriented: DataFrame) -> DataFrame:
        # neighbors of the big endpoint are all smaller; m = their min
        mins = oriented.groupBy("u").agg(F.min("v").alias("mn"))
        rewired = (
            oriented.join(mins, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )
        centers = mins.select(F.col("u"), F.col("mn").alias("v"))
        return (
            rewired.unionByName(centers)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    try:
        edges = canon
        prev = None
        for _ in range(max_iters):
            # localCheckpoint, not persist: persist short-circuits EXECUTION
            # but Catalyst still re-ANALYZES the whole round-over-round
            # lineage — and _large_star's symmetric union doubles the plan
            # per round, so analysis goes exponential (measured: round 0
            # 7.6 s, round 2 22 s on a 200-edge chain). Checkpointing cuts
            # the plan to a flat scan every round; the stranded block per
            # round is bounded by the O(log n) round count. A cluster run
            # with lossy executors would spark.checkpoint() to reliable
            # storage instead — same shape.
            new_edges = _small_star(_large_star(edges)).localCheckpoint()
            cur = tuple(new_edges.agg(*checksum_agg).first())
            edges = new_edges
            if cur == prev:
                break
            prev = cur
        # at the fixed point edges are the star set {(node, component_min)};
        # centers appear only on the v side and label themselves
        return (
            edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
            .unionByName(
                edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
            )
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
    finally:
        canon.unpersist()


def fuzzy_dedup_keep(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 12,
    band_size: int = 3,
    prefer: str | None = None,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """The COMPLETE fuzzy-dedup pipeline as one operator, corpus in →
    keep-decision out: MinHash bands → LSH candidate pairs → exact
    n-gram Jaccard >= threshold → connected components → canonical
    (minimum-id) survivor per cluster. Returns one row per input doc:
    (doc_id, cluster_id, is_canonical); the dedup'd corpus is the
    is_canonical slice, and cluster_id is the provenance key an audit
    joins back on.

    `prefer` names a column to maximize when choosing the survivor (the
    keep-the-highest-quality-copy policy real dedup pipelines run —
    quality score, length, recency) with doc id as the deterministic
    tiebreak; None keeps the minimum id. Either way the cluster_id stays
    the min-id component label, so provenance joins are policy-independent.

    Scale shape: the stages inherit their plans from the building blocks
    (bucket-local pair explode, Jaccard only on LSH survivors, O(diameter)
    label propagation); the final assembly is one left join of the
    (small — only docs that hit a cluster) label table against the corpus,
    broadcast when it fits; the prefer policy adds one window over the
    label table only (cluster-keyed, never the corpus)."""
    from pyspark.sql import Window

    pairs = near_dup_pairs(
        docs, threshold=threshold, id_col=id_col, text_col=text_col,
        n_hashes=n_hashes, band_size=band_size, max_bucket=max_bucket,
    ).select("doc_a", "doc_b")
    clusters = dedup_clusters(pairs)
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    if prefer is None:
        return (
            docs.select(F.col(id_col).alias("doc_id"))
            .join(clusters, "doc_id", "left")
            .select(
                "doc_id",
                cid.alias("cluster_id"),
                (cid == F.col("doc_id")).alias("is_canonical"),
            )
        )
    ranked = clusters.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(prefer).alias("_pref")), "doc_id"
    ).withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(F.desc("_pref"), F.asc("doc_id"))
        ),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(ranked.select("doc_id", "cluster_id", (F.col("_rk") == 1).alias("_best")), "doc_id", "left")
        .select(
            "doc_id",
            cid.alias("cluster_id"),
            F.coalesce(F.col("_best"), F.lit(True)).alias("is_canonical"),
        )
    )


# ---------------------------------------------------------------------------
# duplicated-span detection (substring-level exact dedup)
# ---------------------------------------------------------------------------

def _dup_gram_starts(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc_id, pos) of every word n-gram that occurs more than once in the
    corpus — the shared first stage of span detection and span surgery.
    One shuffle (on the gram hash, for the duplicate test)."""
    from pyspark.sql import Window

    docs = spread_small_scan(docs, id_col)
    ws = F.split(F.col(text_col), " ")
    ln = F.size(ws)
    # arrays_zip over n shifted slices, posexploded once: row-local, and the
    # 0-based zip index IS the gram's start position minus one (same
    # construction as shingles(); transform(sequence) lambdas measured ~100x
    # slower interpreted)
    zipped = F.arrays_zip(*[F.slice(ws, j + 1, ln - (n - 1)) for j in range(n)])
    grams = (
        docs.filter(ln >= n)
        .select(F.col(id_col).alias("doc_id"), F.posexplode(zipped).alias("pos0", "g"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.md5(F.concat_ws(" ", *[F.col(f"g.{j}") for j in range(n)])).alias("g"),
        )
    )
    return (
        grams.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("g")))
        .filter(F.col("cnt") > 1)
        .drop("cnt", "g")
    )


def duplicated_spans(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """Maximal duplicated token spans per document: every position range
    whose word n-grams appear more than once ANYWHERE in the corpus
    (cross-doc or within-doc), with overlapping hits merged into maximal
    spans. This is the substring-granularity exact dedup of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better",
    ExactSubstr) re-expressed for a shuffle engine: the suffix array is
    replaced by hashed n-gram anchors, which finds exactly the duplicated
    substrings of >= n tokens (shorter repeats are invisible — that's the
    standard length threshold, 50 tokens in the paper).

    Output: (doc_id, span_start, span_end, n_grams, n_tokens), token
    positions 1-based inclusive. Downstream consumers either cut the spans
    out of the text or drop docs whose dup_token fraction is high.

    Scale shape: one shuffle on the gram hash (the duplicate test), one
    shuffle on doc_id (the island merge) — both keyed, no self-join, no
    pair space. The gram table is |tokens| rows; at 100 TB that is the same
    cardinality every shingle pipeline above already carries."""
    from pyspark.sql import Window

    dup = _dup_gram_starts(docs, id_col, text_col, n)
    # gaps-and-islands: two duplicated grams overlap iff their starts differ
    # by < n; merge overlapping hits, keep touching-but-disjoint spans apart
    wd = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(wd) < n, F.lit(0)).otherwise(F.lit(1))
    isl = dup.withColumn("island", F.sum(brk).over(wd.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .withColumn("n_tokens", F.col("span_end") - F.col("span_start") + 1)
        .drop("island")
    )


def duplicated_spans_oracle_sql(table: str = "documents", n: int = 8) -> str:
    """The identical span derivation in portable DuckDB SQL."""
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM {table}
),
pos_ AS (
  -- scalar range() returns a LIST, so unnest() expands per-row positions
  -- (the table-function form cannot lateral-correlate on ws)
  SELECT doc_id, ws, unnest(range(1, len(ws) - {n} + 2)) AS pos
  FROM toks WHERE len(ws) >= {n}
),
grams AS (
  SELECT doc_id, pos,
         md5(array_to_string(list_slice(ws, pos, pos + {n - 1}), ' ')) AS g
  FROM pos_
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt FROM grams
  ) WHERE cnt > 1
),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < {n}
              THEN 0 ELSE 1 END AS brk
  FROM dup
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
)
SELECT doc_id, min(pos) AS span_start, max(pos) + {n - 1} AS span_end,
       count(*) AS n_grams,
       max(pos) + {n - 1} - min(pos) + 1 AS n_tokens
FROM isl GROUP BY doc_id, island
"""


def cut_duplicated_spans(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """Span surgery: the corpus with every duplicated >= n-token run CUT OUT
    of the text. Output: (doc_id, clean_text, n_tokens, n_dup_tokens) — one
    row per input document, clean_text preserving original token order with
    dup-span tokens removed.

    This removes ALL occurrences of duplicated text (the conservative
    variant; Lee et al.'s ExactSubstr keeps one occurrence, which needs a
    global canonical choice per duplicate cluster — at pipeline scale the
    repeated runs are overwhelmingly boilerplate where removing every copy
    is the intent).

    Scale shape: dup positions come from :func:`_dup_gram_starts` (one
    gram-hash shuffle); covered token positions explode row-locally from
    the gram starts; the cut itself is a doc_id-keyed anti join plus one
    doc_id-keyed re-assembly groupBy. No pair space, no range join — the
    span->token expansion is sequence(pos, pos+n-1), never a BETWEEN
    predicate (which would plan as a nested-loop join)."""
    docs = spread_small_scan(docs, id_col)
    dup_tok = (
        _dup_gram_starts(docs, id_col, text_col, n)
        .select("doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("pos"))
        .distinct()
    )
    ws = F.split(F.col(text_col), " ")
    toks = docs.select(F.col(id_col).alias("doc_id"), F.posexplode(ws).alias("pos0", "tok")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "tok"
    )
    kept = toks.join(dup_tok, ["doc_id", "pos"], "left_anti")
    assembled = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(F.sort_array(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = docs.select(F.col(id_col).alias("doc_id"), F.size(ws).alias("n_tokens"))
    return (
        totals.join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_dup_tokens"),
        )
    )


def cut_duplicated_spans_oracle_sql(table: str = "documents", n: int = 8) -> str:
    """The identical span-surgery derivation in portable DuckDB SQL."""
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM {table}
),
pos_ AS (
  SELECT doc_id, ws, unnest(range(1, len(ws) - {n} + 2)) AS pos
  FROM toks WHERE len(ws) >= {n}
),
grams AS (
  SELECT doc_id, pos,
         md5(array_to_string(list_slice(ws, pos, pos + {n - 1}), ' ')) AS g
  FROM pos_
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt FROM grams
  ) WHERE cnt > 1
),
dup_tok AS (
  SELECT DISTINCT doc_id, unnest(range(pos, pos + {n})) AS pos FROM dup
),
tok AS (
  -- parallel unnests of equal length zip positionally in DuckDB
  SELECT doc_id, unnest(ws) AS tok, unnest(range(1, len(ws) + 1)) AS pos FROM toks
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM tok t
  ANTI JOIN dup_tok d ON t.doc_id = d.doc_id AND t.pos = d.pos
),
assembled AS (
  SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
final AS (
  SELECT t.doc_id,
         coalesce(a.clean_text, '') AS clean_text,
         len(t.ws) AS n_tokens,
         len(t.ws) - coalesce(a.n_kept, 0) AS n_dup_tokens
  FROM toks t LEFT JOIN assembled a ON t.doc_id = a.doc_id
)
SELECT * FROM final
"""
