"""Document chunking and sequence packing — the last mile of a pretraining
data pipeline (fixed-length training sequences out of variable-length
documents).

Both operators are deterministic (hash-ordered, no rand()) so cluster
retries are idempotent and the DuckDB oracle reproduces them exactly.

Scale shapes:
  - chunking is row-local (sequence + posexplode over the token array —
    zero shuffle, a flat map).
  - packing needs a GLOBAL prefix sum, which naively is a one-partition
    window. It is built instead as the classic two-phase scan: per-bucket
    window cumsum + a tiny per-bucket offset table broadcast back — the
    same pattern as the tile-build dense remap (osm_build.py), so the only
    full-data shuffle is the bucket partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duckdb_routing_spark.operators.sampling import _hash_bucket

PACK_BUCKETS = 32


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into chunks of up to `chunk_tokens` whitespace
    tokens, consecutive chunks overlapping by `overlap` (the sliding-window
    chunking used for long-document training and retrieval indexing).
    Returns (doc_id, chunk_id, n_tokens, chunk_text); the final chunk may be
    short (no padding here — packing handles that)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    ws = F.split(F.col(text_col), " ")
    n = F.size(ws)
    starts = F.sequence(F.lit(0), n - 1, F.lit(step))
    return (
        docs.select(F.col(id_col).alias("doc_id"), ws.alias("ws"), n.alias("n"), starts.alias("ss"))
        .select("doc_id", "ws", "n", F.posexplode("ss").alias("chunk_id", "start"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.least(F.lit(chunk_tokens), F.col("n") - F.col("start")).cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.slice("ws", F.col("start") + 1, chunk_tokens)).alias("chunk_text"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
) -> DataFrame:
    """Assign documents to fixed-capacity training bins by hash order
    (streaming first-fit: a doc goes to the bin where its global token
    offset starts; a bin may spill past capacity by at most one document —
    the standard distributed approximation of bin packing, which needs no
    global coordination beyond one prefix sum).

    Returns (doc_id, bin) plus the doc's token count. The global prefix sum
    runs as per-bucket cumsums + a broadcast bucket-offset table; global
    order is (bucket, hash, doc_id), reproducible in the oracle."""
    n_tok = F.size(F.split(F.col(text_col), " "))
    h = _hash_bucket(F.col(id_col), salt)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        n_tok.cast("long").alias("n_tokens"),
        h.alias("_h"),
        (h % PACK_BUCKETS).alias("_b"),
    )
    w_in = Window.partitionBy("_b").orderBy("_h", "doc_id")
    within = base.withColumn("_cum_in", F.sum("n_tokens").over(w_in))
    totals = base.groupBy("_b").agg(F.sum("n_tokens").alias("_tot"))
    # bucket offset = exclusive prefix sum over bucket ids: a PACK_BUCKETS-row
    # frame — the single-partition window is over the tiny aggregate, never
    # the data
    w_b = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn("_off", F.coalesce(F.sum("_tot").over(w_b), F.lit(0))).select(
        "_b", "_off"
    )
    return (
        within.join(F.broadcast(offsets), "_b")
        .select(
            "doc_id",
            "n_tokens",
            (
                (F.col("_off") + F.col("_cum_in") - F.col("n_tokens")) / capacity
            ).cast("long").alias("bin"),
        )
    )

