"""LLM-data-pipeline queries over `documents` and `embeddings`, registered
with DuckDB oracles (BASELINE north-star operators: dedup, similarity search,
text analysis, multimodal columns).

Oracle-parity notes:
  - MinHash uses lexicographic min over md5 hex strings — engine-portable.
  - All ratios are int/int or exact-int-derived double divisions.
  - Spark array ops are 0-based (sequence/element_at), DuckDB lists 1-based
    (range/ws[i]) — the oracles mirror the construction index-by-index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_routing_spark.operators import common, dedup, similarity, sketch, text
from duckdb_routing_spark.queries.registry import bytes_scaled_shuffle, literal_df, register, table

# shared oracle CTE: distinct word-3-gram shingles per doc
SHINGLES_CTE = """
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
)
"""

# Carter-Wegman MinHash mirror of dedup.bands_from_hashes: one md5 per
# shingle, two 60-bit halves, permutation i = (h1 + i*h2) mod p. 30-bit p
# keeps all integer arithmetic overflow-free in both engines.
_MH_P = 1_000_000_007
_MH_COLS = ",\n         ".join(f"min((h1 + {i} * h2) % {_MH_P}) AS mh{i}" for i in range(12))
_BAND_SIGS = "\n              ".join(
    f"WHEN {b} THEN mh{3*b} || '|' || mh{3*b+1} || '|' || mh{3*b+2}" for b in range(4)
)
MINHASH_BANDS_CTE = f"""
{SHINGLES_CTE},
hs AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_MH_P} AS h1,
         ('0x' || substr(md5(shingle), 17, 15))::BIGINT % {_MH_P} AS h2
  FROM sh
),
mh AS (
  SELECT doc_id,
         {_MH_COLS}
  FROM hs GROUP BY doc_id
),
bands AS (
  SELECT doc_id, band,
         CASE band {_BAND_SIGS}
              END AS band_sig
  FROM mh CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
  WHERE a.doc_id < b.doc_id
)
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

TEXT_FEATURES_ORACLE = """
WITH t AS (SELECT doc_id, lower(text) AS lt, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       len(ws)                                          AS n_tokens,
       len(list_distinct(ws))                           AS n_unique_tokens,
       (length(lt) - len(ws) + 1)::DOUBLE / len(ws)     AS avg_token_len,
       len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in')))::DOUBLE
         / len(ws)                                      AS stop_ratio,
       md5(lt)                                          AS fp
FROM t
ORDER BY doc_id
"""


@register("doc_text_features", oracle=TEXT_FEATURES_ORACLE, headline=True, doc="token counts, quality ratios, fingerprint per doc",
          session_conf=bytes_scaled_shuffle("documents", bytes_per_partition=1 << 20))
def doc_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = text.tokens(t)
    # avg_token_len via total non-space chars / tokens: matches the oracle's
    # (length - spaces) formulation exactly for single-space text
    return docs.select(
        "doc_id",
        text.token_count(t).cast("long").alias("n_tokens"),
        text.unique_token_count(t).cast("long").alias("n_unique_tokens"),
        ((F.length(t) - F.size(toks) + 1).cast("double") / F.size(toks)).alias("avg_token_len"),
        text.stopword_ratio(t).alias("stop_ratio"),
        text.fingerprint(t).alias("fp"),
    ).orderBy("doc_id")


LANGID_MARKER_SQL = {
    "de": "('der','die','das','und','ist','nicht')",
    "en": "('the','a','of','and','is','to','in')",
    "es": "('el','la','los','y','es','una')",
    "fr": "('le','la','les','et','est','une')",
}
_SCORES = ",\n       ".join(
    f"len(list_filter(ws, w -> w IN {m}))::DOUBLE / len(ws) AS s_{c}" for c, m in LANGID_MARKER_SQL.items()
)
LANGID_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents),
scored AS (
  SELECT doc_id, lang,
       {_SCORES}
  FROM t
)
SELECT lang, pred, count(*) AS n_docs
FROM (
  SELECT lang,
         CASE WHEN s_fr > 0.01 AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
              WHEN s_es > 0.01 AND s_es >= s_en AND s_es >= s_de THEN 'es'
              WHEN s_en > 0.01 AND s_en >= s_de THEN 'en'
              WHEN s_de > 0.01 THEN 'de'
              ELSE 'und' END AS pred
  FROM scored
) GROUP BY lang, pred
ORDER BY lang, pred
"""


@register("doc_langid", oracle=LANGID_ORACLE, doc="marker-word language ID vs labeled lang")
def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", text.lang_id(F.col("text")).alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "pred")
    )


DOC_STATS_ORACLE = """
SELECT lang, source, count(*) AS n_docs,
       cast(sum(n_chars) as bigint) AS total_chars,
       cast(sum(n_chars) as double) / count(*) AS avg_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


@register("doc_stats", oracle=DOC_STATS_ORACLE, doc="per-(lang, source) document stats")
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


TOKEN_STATS_ORACLE = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
       cast(length(text) AS BIGINT) AS n_chars
FROM documents
ORDER BY doc_id
"""


TOPK_TOKENS_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS key FROM documents
),
counts AS (SELECT key, count(*) AS n FROM toks WHERE key <> '' GROUP BY key)
SELECT key, n, rank FROM (
  SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rank FROM counts
) WHERE rank <= 20
ORDER BY rank
"""


@register("doc_topk_tokens", oracle=TOPK_TOKENS_ORACLE,
          doc="exact top-20 most frequent tokens (heavy hitters baseline; MG sketch twin pytest-oracled)")
def doc_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the corpus vocabulary: groupBy count + distributed
    TakeOrderedAndProject top-k (no global sort, no single-partition count
    exchange). The bounded-state Misra-Gries twin
    (sketch.topk_frequent_sketch) is the 100 TB path for shingle-scale key
    spaces and is tested equal to this exact baseline when capacity covers
    the per-partition vocabulary."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return sketch.topk_frequent(toks, "tok", k=20)


@register("doc_token_stats", oracle=TOKEN_STATS_ORACLE, doc="whitespace + BPE-ish regex token counts per doc")
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.token_count(t).cast("long").alias("n_ws_tokens"),
        text.bpe_ish_token_count(t).alias("n_bpe_tokens"),
        F.length(t).cast("long").alias("n_chars"),
    ).orderBy("doc_id")


WINNOW_ORACLE = """
WITH chars AS (
  SELECT doc_id, lower(text) AS t, length(text) AS n FROM documents WHERE length(text) >= 8
),
grams AS (
  SELECT doc_id, n - 7 AS n_grams, i - 1 AS pos,
         ('0x' || substr(md5(substring(t, i, 8)), 1, 15))::BIGINT % 1000000007 AS h
  FROM chars, LATERAL (SELECT unnest(range(1, n - 6)) AS i)
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, n_grams, pos,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
    FROM grams
  ) WHERE pos <= n_grams - 4
)
SELECT doc_id, count(*) AS n_fp, min(fp) AS min_fp, max(fp) AS max_fp
FROM fps GROUP BY doc_id ORDER BY doc_id
"""


@register("doc_winnow_fingerprints", oracle=WINNOW_ORACLE, doc="winnowed rolling-hash fingerprints (char 8-grams, window 4)")
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = text.winnowed_fingerprints(table(spark, sf_dir, "documents"), k=8, w=4)
    return (
        fps.groupBy("doc_id")
        .agg(F.count("*").alias("n_fp"), F.min("fp").alias("min_fp"), F.max("fp").alias("max_fp"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

EXACT_DEDUP_ORACLE = """
SELECT count(*) AS n_docs,
       count(DISTINCT md5(lower(text))) AS n_distinct,
       count(*) - count(DISTINCT md5(lower(text))) AS n_exact_dups
FROM documents
"""


@register("dedup_exact_stats", oracle=EXACT_DEDUP_ORACLE, doc="exact dedup via md5 fingerprint groupBy")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_stats(table(spark, sf_dir, "documents"))


DUP_SPANS_ORACLE = dedup.duplicated_spans_oracle_sql("documents", n=8) + "ORDER BY doc_id, span_start"


@register("dedup_dup_spans", oracle=DUP_SPANS_ORACLE,
          doc="maximal duplicated word-8-gram spans per doc (substring-level exact dedup)")
def dedup_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-granularity exact dedup (Lee et al. 2021 ExactSubstr,
    hashed-anchor formulation): token positions of every >=8-token text run
    whose n-grams repeat anywhere in the corpus, merged into maximal spans.
    Two keyed shuffles (gram hash, doc_id), no pair space. Span surgery —
    cutting dup spans out instead of dropping whole docs — is what
    substring dedup buys over document-level MinHash at training scale."""
    return dedup.duplicated_spans(table(spark, sf_dir, "documents"), n=8).orderBy(
        "doc_id", "span_start"
    )


SPAN_CUT_ORACLE = dedup.cut_duplicated_spans_oracle_sql("documents", n=8) + "ORDER BY doc_id"


@register("dedup_span_cut", oracle=SPAN_CUT_ORACLE,
          doc="span surgery: corpus with duplicated word-8-gram runs cut out of the text")
def dedup_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff stage of substring dedup: clean_text per document with
    every duplicated >=8-token run removed (all occurrences — boilerplate
    semantics), plus n_dup_tokens for quality filtering. Byte-exact text
    reassembly is the oracle contract; the span->token expansion is
    sequence(), never a BETWEEN range join."""
    return dedup.cut_duplicated_spans(table(spark, sf_dir, "documents"), n=8).orderBy("doc_id")


LSH_ORACLE = f"""
WITH {MINHASH_BANDS_CTE}
SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b
"""


@register("dedup_minhash_lsh", oracle=LSH_ORACLE, headline=True, doc="MinHash(12)+LSH(bands of 3) near-dup candidates",
          session_conf=bytes_scaled_shuffle("documents", bytes_per_partition=1 << 20))
def dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # max_bucket=None: the DuckDB oracle computes uncapped all-pairs, so the
    # oracled query must too (the capped default is the production scale knob)
    return dedup.lsh_candidate_pairs(docs, max_bucket=None).orderBy("doc_a", "doc_b")


NEAR_DUP_ORACLE = f"""
WITH {MINHASH_BANDS_CTE},
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
SELECT i.doc_a, i.doc_b,
       i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
             JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter) >= 0.8
ORDER BY doc_a, doc_b
"""


# Below this many bytes of documents parquet, near-dup detection runs as
# ONE Python task (dedup.near_dup_pairs_single_task); at or above it, on the
# distributed pipeline. From the crossover in NEAR_DUP_CROSSOVER_r12.json
# (ARCHITECTURE.md §2, 4 cores): the single task won every round up to
# 1.8 MB, the two paths' times overlapped at 2.4 MB and tied at 4.8 MB.
NEAR_DUP_SINGLE_TASK_MAX_BYTES = 2 << 20


@register("dedup_near_dups", oracle=NEAR_DUP_ORACLE, headline=True, doc="LSH candidates -> exact n-gram Jaccard >= 0.8")
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    docs = table(spark, sf_dir, "documents")
    small = (
        common.dataset_bytes(os.path.join(sf_dir, "documents.parquet"))
        < NEAR_DUP_SINGLE_TASK_MAX_BYTES
    )
    near_dups = dedup.near_dup_pairs_single_task if small else dedup.near_dup_pairs
    return near_dups(docs, threshold=0.8, max_bucket=None).orderBy("doc_a", "doc_b")


CONTAINMENT_ORACLE = f"""
WITH {MINHASH_BANDS_CTE},
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
SELECT i.doc_a, i.doc_b, i.n_inter, sa.n AS n_a, sb.n AS n_b
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
             JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 10 * i.n_inter >= 8 * least(sa.n, sb.n)
ORDER BY doc_a, doc_b
"""


@register("dedup_containment_pairs", oracle=CONTAINMENT_ORACLE,
          doc="asymmetric containment >= 0.8 (n_inter vs min side) over LSH candidates — quote/subset detection")
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment catches what Jaccard misses: a short doc fully quoted
    inside a long one has tiny Jaccard but containment ~1. Shares the
    hashed-shingle base and integer set-size surface with the near-dup
    pipeline (pair_intersection_sizes); the 0.8 threshold is the INTEGER
    predicate 10*n_inter >= 8*min(n_a, n_b), so every output column is
    hash-exact."""
    docs = table(spark, sf_dir, "documents")
    base = dedup.shingle_hash_base(docs, distinct=False).persist()
    cands = dedup.lsh_candidates_from_hashes(base, max_bucket=None)
    sizes = dedup.pair_intersection_sizes(base, cands)
    return (
        sizes.filter(10 * F.col("n_inter") >= 8 * F.least(F.col("n_a"), F.col("n_b")))
        .orderBy("doc_a", "doc_b")
    )


_NIBBLE_SUMS = ",\n       ".join(
    f"sum(CASE WHEN strpos('0123456789abcdef', substring(h, {i + 1}, 1)) - 1 >= 8 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(16)
)
_SIG = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))
SOURCE_DUP_ORACLE = f"""
WITH {MINHASH_BANDS_CTE},
lab AS (
  SELECT c.doc_a, c.doc_b, sa.source AS source_a, sb.source AS source_b
  FROM cand c
  JOIN documents sa ON sa.doc_id = c.doc_a
  JOIN documents sb ON sb.doc_id = c.doc_b
)
SELECT least(source_a, source_b) AS src_lo,
       greatest(source_a, source_b) AS src_hi,
       count(*) AS n_pairs
FROM lab GROUP BY least(source_a, source_b), greatest(source_a, source_b)
ORDER BY src_lo, src_hi
"""


@register("dedup_source_matrix", oracle=SOURCE_DUP_ORACLE,
          doc="cross-source duplication matrix: LSH candidate pairs rolled up by (source, source)")
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation diagnostic behind source selection: which sources
    duplicate each other (mirrors, scrapes of the same site) and how much.
    LSH candidates join to the tiny (doc_id, source) projection twice —
    both lookups broadcast at dim-table size — and roll up to an unordered
    source pair."""
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs, max_bucket=None)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    return (
        pairs.join(F.broadcast(a), "doc_a")
        .join(F.broadcast(b), "doc_b")
        .select(
            F.least("source_a", "source_b").alias("src_lo"),
            F.greatest("source_a", "source_b").alias("src_hi"),
        )
        .groupBy("src_lo", "src_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("src_lo", "src_hi")
    )


SIMHASH_ORACLE = f"""
WITH w AS (
  SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) AS h FROM documents
),
sums AS (
  SELECT doc_id,
       {_NIBBLE_SUMS}
  FROM w GROUP BY doc_id
)
SELECT doc_id, cast({_SIG} AS BIGINT) AS simhash
FROM sums ORDER BY doc_id
"""


@register("dedup_simhash", oracle=SIMHASH_ORACLE, doc="16-bit SimHash signature per doc")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash16(table(spark, sf_dir, "documents")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

SIM_TOPK_ORACLE = """
WITH c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 3),
scored AS (
  SELECT query_id, vec_id,
         list_dot_product(qv, v)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cosine
  FROM c CROSS JOIN q
  WHERE vec_id != query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 10
ORDER BY query_id, rank
"""


@register("sim_topk_cosine", oracle=SIM_TOPK_ORACLE, headline=True, doc="brute-force cosine top-10 for 3 query vectors")
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    emb = table(spark, sf_dir, "embeddings")
    # bounded-corpus dispatch by SOURCE size (the small-call pattern,
    # ARCHITECTURE.md §2): a corpus this small scores fastest in ONE
    # mapInPandas task of ONE job (no query-side collect job);
    # past the threshold the distributed map-side top-k kernel takes over.
    # dataset_bytes, not getsize: a directory dataset must measure its
    # part files, not the directory inode (~4 KB).
    path = os.path.join(sf_dir, "embeddings.parquet")
    small = common.dataset_bytes(path) < 256 * 1024 * 1024
    queries = emb.filter(F.col("vec_id") < 3)
    # A pure-JVM single-action form (broadcast nested-loop join with
    # unrolled 192-term dots) was A/B'd here and lost to the fused Arrow
    # kernel: re-analysis + codegen cost 0.40-0.70 s at every count()
    # (ARCHITECTURE.md §3 item 4). The kernel's values are pinned by this
    # query's DuckDB oracle. The single-task path rides ONE job (queries tagged into the same
    # scan); its measured ~0.25 s floor is the Python-worker Arrow stage
    # itself (a passthrough mapInPandas over this corpus costs the same),
    # i.e. the irreducible small-scale cost of any Python kernel — the
    # shape inverts at sf1 (scale_study parity + timing).
    return similarity.cosine_topk(emb, queries, k=10, single_task=small)


INT8_ORACLE = (
    "SELECT vec_id, vmin, vmax, array_to_string(codes, ',') AS codes_csv FROM ("
    + similarity.int8_quantize_oracle_sql("embeddings")
    + ") ORDER BY vec_id"
)


@register("emb_int8_codes", oracle=INT8_ORACLE,
          doc="per-vector int8 scalar quantization (4x storage tier between raw vectors and PQ)")
def emb_int8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized embedding storage: per-vector range adaptation,
    floor(x+0.5) rounding (HALF_UP vs half-even divergence between engines
    makes round() un-oracle-able), reconstruction within half a step per
    component (tested). Row-local Catalyst; the serving stack reads codes
    + (vmin, vmax) instead of float32 vectors."""
    q = similarity.int8_quantize(table(spark, sf_dir, "embeddings"))
    # harness canonicalization sorts cell values — arrays go through as a
    # canonical CSV string (the operator itself returns the typed array)
    return q.select(
        "vec_id", "vmin", "vmax", F.concat_ws(",", F.col("codes")).alias("codes_csv")
    ).orderBy("vec_id")


DIM_STATS_ORACLE = similarity.dim_stats_oracle_sql("embeddings") + "ORDER BY dim"


@register("emb_dim_stats", oracle=DIM_STATS_ORACLE,
          doc="per-dimension embedding sums (decimal-exact) — the mean/std normalization pass")
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening statistics at corpus scale: per-dim n/sum/sumsq as exact
    BIGINT micro-unit sums (floor(x*1e6) — one IEEE multiply + identical
    truncation in both engines), so the distributed sum is exact under ANY
    aggregation order. The float-sum order-dependence that normally makes
    distributed statistics un-oracle-able disappears into integer algebra
    (double->DECIMAL casts round DIFFERENTLY across engines — measured)."""
    return similarity.dim_stats(table(spark, sf_dir, "embeddings")).orderBy("dim")


HARD_NEG_ORACLE = """
WITH c AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM c WHERE vec_id < 3),
scored AS (
  SELECT query_id, vec_id,
         list_dot_product(qv, v)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cosine
  FROM c CROSS JOIN q
  WHERE vec_id != query_id AND label != qlabel
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 10
ORDER BY query_id, rank
"""


@register("emb_hard_negatives", oracle=HARD_NEG_ORACLE,
          doc="hard-negative mining: top-10 cosine neighbors with a DIFFERENT label per query vec")
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contrastive-training sampling shape: nearest vectors that are
    NOT the query's class — high-similarity negatives are the informative
    ones. Same single-corpus-pass map-side top-k kernel as sim_topk_cosine
    with the label exclusion vectorized inside the batch."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=10, exclude_label_col="label"
    )


def _plane_comp_sql(p: int, j: int) -> str:
    """DuckDB mirror of similarity.plane_matrix[p, j]: md5-nibble - 7.5
    (strpos is 1-based, so nibble-7.5 == strpos-8.5)."""
    return f"(strpos('0123456789abcdef', substring(md5('plane:{p}:{j}'), 1, 1)) - 8.5)"


def _bucket_sql(vcol: str, dim: int = 64, n_planes: int = 4) -> str:
    """Hyperplane bucket id: bit p = (v . plane_p) > 0. The dot product is an
    EXPLICIT left-associated addition chain starting at 0.0 — the exact
    accumulation order of the fold in similarity.lsh_signature — so the
    sign test agrees bit-for-bit."""
    plane_bits = []
    for p in range(n_planes):
        terms = " + ".join(f"{vcol}[{j + 1}] * {_plane_comp_sql(p, j)}" for j in range(dim))
        plane_bits.append(f"(CASE WHEN (0.0 + {terms}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(plane_bits)


SIM_ANN_ORACLE = f"""
WITH c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
b AS (SELECT vec_id, v, {_bucket_sql('v')} AS bucket FROM c),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, b.vec_id,
         list_dot_product(qv, v)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cosine
  FROM b JOIN q USING (bucket)
  WHERE b.vec_id != q.query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 10
ORDER BY query_id, rank
"""


EMB_NEAR_DUP_ORACLE = f"""
WITH c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
b AS (SELECT vec_id, v, {_bucket_sql('v')} AS bucket FROM c)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       list_dot_product(a.v, b2.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) AS cosine
FROM b a JOIN b b2 USING (bucket)
WHERE a.vec_id < b2.vec_id
  AND list_dot_product(a.v, b2.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) >= 0.3
ORDER BY id_a, id_b
"""


@register("dedup_embedding_cosine", oracle=EMB_NEAR_DUP_ORACLE, doc="embedding-cosine near-dup pairs via LSH buckets (cosine >= 0.3)")
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # threshold 0.3: the synthetic embeddings are near-orthogonal (max
    # pairwise cosine ~0.46), so a production-style 0.9 matches nothing;
    # the operator itself takes the threshold as a parameter
    return similarity.cosine_near_dup_pairs(emb, threshold=0.3, dim=64, n_planes=4).orderBy("id_a", "id_b")


SEMANTIC_DEDUP_ORACLE = """
WITH c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
seeds AS (SELECT vec_id AS cell, v AS sv FROM c WHERE vec_id < 8),
cscore AS (
  SELECT c.vec_id, c.v, s.cell,
         list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(c.v, s.sv) AS score
  FROM c CROSS JOIN seeds s
),
ccell AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, cell) AS r FROM cscore
  ) WHERE r = 1
),
pruned AS (
  SELECT DISTINCT b.vec_id
  FROM ccell a JOIN ccell b USING (cell)
  WHERE a.vec_id < b.vec_id
    AND list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.25
)
SELECT c.vec_id, c.cell, p.vec_id IS NULL AS kept
FROM ccell c LEFT JOIN pruned p USING (vec_id)
ORDER BY c.vec_id
"""


@register("dedup_semantic", oracle=SEMANTIC_DEDUP_ORACLE,
          doc="SemDeDup: Voronoi-cell partition, prune cell-mates with cosine >= 0.25 (min id survives)")
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over embeddings — the SemDeDup recipe (cluster with a
    coarse quantizer, prune within-cluster near-duplicates). Threshold 0.25:
    the synthetic embeddings are near-orthogonal (max pairwise cosine ~0.46),
    so a production 0.9 would prune nothing; the operator takes the
    threshold as a parameter."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(emb, threshold=0.25, n_cells=8).orderBy("vec_id")


SIM_IVF_ORACLE = """
WITH c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
seeds AS (SELECT vec_id AS cell, v AS sv FROM c WHERE vec_id < 8),
cscore AS (
  SELECT c.vec_id, c.v, s.cell,
         list_dot_product(s.sv, s.sv) - 2.0 * list_dot_product(c.v, s.sv) AS score
  FROM c CROSS JOIN seeds s
),
ccell AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, cell) AS r FROM cscore
  ) WHERE r = 1
),
qcell AS (
  SELECT vec_id AS query_id, v AS qv, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, cell) AS r
    FROM cscore WHERE vec_id < 3
  ) WHERE r <= 2
),
scored AS (
  SELECT q.query_id, b.vec_id,
         list_dot_product(q.qv, b.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM ccell b JOIN qcell q USING (cell)
  WHERE b.vec_id != q.query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 10
ORDER BY query_id, rank
"""


@register("sim_ivf_topk", oracle=SIM_IVF_ORACLE, doc="IVF ANN top-10: 8 seeded Voronoi cells, 2-probe (full value-hash oracle)")
def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=10, n_cells=8, n_probe=2)


@register("sim_ann_index_probe", oracle=SIM_IVF_ORACLE,
          doc="persisted ANN store: build + extend + partition-pruned probe (full value-hash oracle)")
def sim_ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-store lifecycle as one driver row: build the cell-
    partitioned IVF store from half the corpus (explicit first-8 seeds),
    EXTEND it with the other half (dynamic partition overwrite — replay-
    idempotent), then probe 3 queries with 2-probe cell pruning. Results
    are exactly in-memory ivf_topk over the same seeds (extension
    invisibility and the PartitionFilters pruning are both pytest-pinned),
    so the hidden sim_ivf_topk's oracle value-hashes this end to end."""
    import os as _os
    import tempfile

    emb = table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("svec")
    )
    idx = _os.path.join(tempfile.mkdtemp(prefix="ann_store_"), "ivf")
    similarity.build_ann_index(emb.filter("vec_id % 2 = 0"), idx, seeds=seeds)
    similarity.extend_ann_index(emb.filter("vec_id % 2 = 1"), idx, increment=1)
    return similarity.ann_query_index(
        spark, idx, emb.filter(F.col("vec_id") < 3), k=10, n_probe=2
    )


@register("sim_ann_lsh", oracle=SIM_ANN_ORACLE, doc="LSH-bucketed ANN top-10 (md5-derived hyperplanes, full value-hash oracle)")
def sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # 4 planes -> 16 buckets: ~n/16 candidates per query at this corpus size;
    # at scale n_planes grows with log(corpus) to keep buckets bounded
    return similarity.ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 3), dim=64, k=10, n_planes=4)


# ---------------------------------------------------------------------------
# multimodal column plumbing (opaque binary + typed metadata)
# ---------------------------------------------------------------------------

MULTIMODAL_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       64 + (n_chars % 512) AS width,
       64 + ((n_chars * 7) % 512) AS height,
       substring(md5(text), 1, 8) AS media_key
FROM documents
ORDER BY doc_id
"""


@register("multimodal_meta", oracle=MULTIMODAL_ORACLE, doc="binary payload + typed metadata columns (decode plumbing)")
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("n_bytes"),
        (64 + F.col("n_chars") % 512).alias("width"),
        (64 + (F.col("n_chars") * 7) % 512).alias("height"),
        F.substring(F.md5(F.col("text")), 1, 8).alias("media_key"),
    ).orderBy("doc_id")


# Centroid parity policy: components quantize to 1e-9 via an EXPLICIT
# floor(v*1e9 + 0.5) in double — both engines compute that bit-identically,
# then sum exact BIGINTs. A decimal(18,9) cast instead leaves the
# half-way rounding rule to the engine (Spark HALF_UP vs DuckDB's
# double->decimal rule), which diverges on tie values — invisible at
# sf0.01, ~0.16% of centroids at sf0.1.
CENTROID_ORACLE = """
SELECT label, pos - 1 AS pos,
       cast(sum(cast(floor(cast(v as double) * 1e9 + 0.5) as bigint)) as double) / 1e9 / count(*) AS centroid
FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
      FROM embeddings)
GROUP BY label, pos
ORDER BY label, pos
"""


@register("emb_label_centroids", oracle=CENTROID_ORACLE, doc="per-label embedding centroids (exact quantized-integer mean per dim)")
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    q = F.floor(F.col("v").cast("double") * F.lit(1e9) + F.lit(0.5)).cast("long")
    return (
        ex.groupBy("label", "pos")
        .agg(((F.sum(q).cast("double") / F.lit(1e9)) / F.count("*")).alias("centroid"))
        .orderBy("label", "pos")
    )


SIMHASH_PAIRS_ORACLE = f"""
WITH w AS (
  SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) AS h FROM documents
),
sums AS (
  SELECT doc_id,
       {_NIBBLE_SUMS}
  FROM w GROUP BY doc_id
),
sig AS (SELECT doc_id, cast({_SIG} AS BIGINT) AS simhash FROM sums)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
ORDER BY doc_a, doc_b
"""


@register("dedup_simhash_pairs", oracle=SIMHASH_PAIRS_ORACLE, doc="SimHash hamming-radius (<=2 of 16 bits) candidate pairs")
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark side is the banded equi-join (no crossJoin); the oracle keeps the
    # all-pairs DEFINITION, so the hash match proves the banding is lossless.
    sig = dedup.simhash16(table(spark, sf_dir, "documents"))
    return dedup.simhash_hamming_pairs(sig, max_hamming=2).orderBy("doc_a", "doc_b")


def _nibble_sums64() -> str:
    return ",\n       ".join(
        f"sum(CASE WHEN strpos('0123456789abcdef', substring(h{seed}, {i + 1}, 1)) - 1 >= 8 "
        f"THEN 1 ELSE -1 END) AS s{seed}_{i}"
        for seed in range(4)
        for i in range(16)
    )


def _half_sig64(lohi: int) -> str:
    terms = []
    for seed in (2 * lohi, 2 * lohi + 1):
        for i in range(16):
            terms.append(f"(CASE WHEN s{seed}_{i} > 0 THEN {1 << ((seed % 2) * 16 + i)} ELSE 0 END)")
    return " + ".join(terms)


SIMHASH64_PAIRS_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
),
h AS (
  SELECT doc_id, md5('s0:' || w) AS h0, md5('s1:' || w) AS h1,
         md5('s2:' || w) AS h2, md5('s3:' || w) AS h3 FROM w
),
sums AS (
  SELECT doc_id,
       {_nibble_sums64()}
  FROM h GROUP BY doc_id
),
sig AS (SELECT doc_id, cast({_half_sig64(1)} AS BIGINT) AS sim_hi,
                       cast({_half_sig64(0)} AS BIGINT) AS sim_lo FROM sums)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) <= 3
ORDER BY doc_a, doc_b
"""


@register("dedup_simhash64_pairs", oracle=SIMHASH64_PAIRS_ORACLE,
          doc="64-bit SimHash (two 32-bit halves) hamming<=3 pairs via 4x16-bit banding")
def dedup_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # planet-scale widening of dedup_simhash_pairs: 2^64 signature space,
    # same lossless-banding proof against the all-pairs oracle definition.
    sig = dedup.simhash64(table(spark, sf_dir, "documents"))
    return dedup.simhash64_hamming_pairs(sig, max_hamming=3).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# curation operators: deterministic split / quota sample / k-means
# ---------------------------------------------------------------------------

from duckdb_routing_spark.operators import search as _search  # noqa: E402

_SEARCH_TERMS = ["hash", "join", "scan"]
CONJ_SEARCH_ORACLE = _search.conjunctive_search_oracle_sql(_SEARCH_TERMS) + "ORDER BY doc_id"
BM25_COMP_ORACLE = _search.bm25_components_oracle_sql(_SEARCH_TERMS) + "ORDER BY doc_id, term"


@register("search_conjunctive", oracle=CONJ_SEARCH_ORACLE,
          doc="conjunctive (AND) term search via inverted postings — docs containing all 3 query terms")
def search_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval over the postings table: the query-term filter broadcasts,
    the shuffle carries only the query terms' postings, and the AND is a
    doc-keyed distinct-count fold — never a corpus scan past the postings
    build."""
    return _search.conjunctive_search(
        table(spark, sf_dir, "documents"), _SEARCH_TERMS
    ).orderBy("doc_id")


@register("search_bm25_components", oracle=BM25_COMP_ORACLE,
          doc="exact-integer BM25 inputs (tf, df, dl) for the fixed query — hash-oracle-able surface")
def search_bm25_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integer surface under BM25 ranking (float scores use ln, which
    differs 1 ulp across engines — the ranking itself is reference-tested
    in tests/test_llm_operators.py, same policy as doc_tfidf_terms)."""
    return _search.bm25_components(
        table(spark, sf_dir, "documents"), _SEARCH_TERMS
    ).orderBy("doc_id", "term")


_HYBRID_QUERY = "hash join batch"
HYBRID_RRF_ORACLE = _search.hybrid_rrf_oracle_sql(_HYBRID_QUERY)


@register("search_hybrid_rrf", oracle=HYBRID_RRF_ORACLE,
          doc="hybrid retrieval: lexical + hashed-embedding candidate lists fused by integer reciprocal-rank fusion")
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two retrievers, one ranking (Cormack et al. 2009 RRF): the postings
    list and the model-free hashed-embedding inner-product list each end in
    a distributed top-k, ranks fuse as exact 1e9//(60+rank) micro-units —
    no float anywhere, so the fused order is engine-portable. The RAG
    answer to 'lexical misses paraphrase, dense misses rare terms'."""
    return _search.hybrid_rrf_search(
        table(spark, sf_dir, "documents"), _HYBRID_QUERY
    )


SEARCH_EVAL_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY rrf_ppb DESC, doc_id) AS rank
  FROM ({HYBRID_RRF_ORACLE}) h
),
toks2 AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
truth AS (
  SELECT doc_id FROM toks2 WHERE term IN ('batch', 'hash', 'join')
  GROUP BY doc_id HAVING count(DISTINCT term) = 3
),
hits AS (SELECT r.rank FROM ranked r JOIN truth USING (doc_id))
SELECT (SELECT count(*) FROM ranked)::BIGINT AS n_ranked,
       (SELECT count(*) FROM truth)::BIGINT AS n_relevant,
       (SELECT count(*) FROM hits WHERE rank <= 10)::BIGINT AS hits_at_k,
       coalesce((SELECT min(rank) FROM hits), 0)::BIGINT AS first_hit_rank,
       CASE WHEN (SELECT min(rank) FROM hits) IS NOT NULL
            THEN 1000000000 // (SELECT min(rank) FROM hits) ELSE 0 END::BIGINT AS rr_ppb
"""


@register("search_eval_hybrid", oracle=SEARCH_EVAL_ORACLE,
          doc="retrieval evaluation: integer hits@10 / first-hit-rank / reciprocal-rank of the hybrid RRF list vs the conjunctive truth set")
def search_eval_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval harness over the retrieval stack: the hybrid-RRF top-20
    scored against 'docs containing every query term' as the relevance
    set. All metric columns are exact BIGINT (reciprocal rank in 1e9
    micro-units), so quality tracking is engine-portable — the pattern
    extends to ANN-vs-brute-force recall with query ids as group_cols."""
    docs = table(spark, sf_dir, "documents")
    fused = _search.hybrid_rrf_search(docs, _HYBRID_QUERY)
    from pyspark.sql import Window

    ranked = fused.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("rrf_ppb"), F.asc("doc_id")))
    ).select("doc_id", "rank")
    truth = _search.conjunctive_search(docs, _HYBRID_QUERY.split()).select("doc_id")
    return _search.ranking_metrics(ranked, truth, k=10)


from duckdb_routing_spark.operators import snapshot as _snapshot  # noqa: E402

_SNAP_OLD = "SELECT * FROM documents WHERE doc_id % 7 != 0"
_SNAP_NEW = ("SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' edited' ELSE text END AS text, "
             "lang, source, n_chars FROM documents WHERE doc_id % 11 != 0")
SNAPSHOT_DIFF_ORACLE = _snapshot.snapshot_diff_oracle_sql(
    _SNAP_OLD, _SNAP_NEW, "doc_id", ["lang", "n_chars", "source", "text"]
) + "ORDER BY doc_id"


@register("snapshot_diff_docs", oracle=SNAPSHOT_DIFF_ORACLE,
          doc="CDC snapshot diff: added/removed/changed keys between two corpus snapshots")
def snapshot_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-processing primitive: the diff IS the next run's
    work list, sized by the delta instead of the corpus. Row-local
    fingerprints, one keyed full-outer join; unchanged keys never leave
    the join. (Two deterministic snapshot derivations of the documents
    table stand in for yesterday/today.)"""
    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 11 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" edited")))
        .otherwise(F.col("text")),
    )
    return _snapshot.snapshot_diff(old, new).orderBy("doc_id")


CORPUS_REPORT_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, source, n_chars, lower(text) AS lt, string_split(text, ' ') AS ws
  FROM documents
),
q AS (
  SELECT *, (CASE WHEN len(ws) BETWEEN 10 AND 2000 THEN 1.0 ELSE 0.0 END
           + len(list_distinct(ws))::DOUBLE / len(ws)
           + CASE WHEN len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in'))) > 0
                  THEN 1.0 ELSE 0.0 END) / 3.0 AS quality
  FROM t
)
SELECT count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       count(DISTINCT lang) AS n_langs,
       count(*) - count(DISTINCT md5(lt)) AS n_exact_dups,
       cast(sum(len(ws)) AS BIGINT) AS total_tokens,
       cast(sum(n_chars) AS BIGINT) AS total_chars,
       count(*) FILTER (WHERE quality > 0.5) AS n_quality_pass
FROM q
"""


@register("corpus_report", oracle=CORPUS_REPORT_ORACLE,
          doc="one-row corpus data card: volume, diversity, dup rate, quality-pass count")
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-card summary a corpus release ships with — volume, source/
    language diversity, exact-dup count, token/char totals, quality-gate
    pass count — computed in ONE aggregation pass (every column is an
    integer, so the value-hash oracle is exact)."""
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id", "lang", "source", "n_chars",
        text.fingerprint(t).alias("fp"),
        F.size(F.split(t, " ")).alias("n_toks"),
        text.quality_score(t).alias("quality"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_exact_dups"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.count(F.when(F.col("quality") > 0.5, 1)).alias("n_quality_pass"),
    )


PIPELINE_CURATE_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, n_chars, lower(text) AS lt, string_split(text, ' ') AS ws
  FROM documents
),
q AS (
  SELECT *, (CASE WHEN len(ws) BETWEEN 10 AND 2000 THEN 1.0 ELSE 0.0 END
           + len(list_distinct(ws))::DOUBLE / len(ws)
           + CASE WHEN len(list_filter(ws, w -> w IN ('the','a','of','and','is','to','in'))) > 0
                  THEN 1.0 ELSE 0.0 END) / 3.0 AS quality
  FROM t
),
filtered AS (SELECT * FROM q WHERE quality > 0.5),
keep AS (SELECT md5(lt) AS fp, min(doc_id) AS keep_id FROM filtered GROUP BY md5(lt)),
deduped AS (
  SELECT f.* FROM filtered f JOIN keep k ON f.doc_id = k.keep_id AND md5(f.lt) = k.fp
),
split AS (
  SELECT lang, n_chars,
         CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT *, ('0x' || substr(md5(doc_id || ':split'), 1, 15))::BIGINT % 10000 AS b
        FROM deduped)
)
SELECT split, lang, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS total_chars
FROM split GROUP BY split, lang
ORDER BY split, lang
"""


@register("pipeline_curate", oracle=PIPELINE_CURATE_ORACLE,
          doc="end-to-end curation: quality gate -> exact dedup keep-first -> hash split -> corpus stats")
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operators composed the way a pretraining-data pipeline actually
    chains them: quality_score gate (> 0.5), exact-dedup keep-first
    survivor, deterministic 80/10/10 hash split, then per-(split, lang)
    corpus accounting. Every stage is the SAME operator the standalone
    queries exercise — this row proves they compose under one plan: the
    gate is a row-local filter applied at the scan, dedup shuffles only on
    the fingerprint key (groupBy + survivor join), the split adds zero
    shuffles, and the final rollup is a partial-agg groupBy."""
    from duckdb_routing_spark.operators import sampling

    docs = table(spark, sf_dir, "documents")
    gated = docs.withColumn("quality", text.quality_score(F.col("text"))).filter(
        F.col("quality") > 0.5
    )
    deduped = dedup.exact_dedup_keep_first(gated)
    split = sampling.hash_split(deduped)
    return (
        split.groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").cast("bigint").alias("total_chars"))
        .orderBy("split", "lang")
    )


HASH_SPLIT_ORACLE = """
SELECT split, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split,
         n_chars
  FROM (SELECT ('0x' || substr(md5(doc_id || ':split'), 1, 15))::BIGINT % 10000 AS b, n_chars
        FROM documents)
)
GROUP BY split ORDER BY split
"""


@register("doc_hash_split", oracle=HASH_SPLIT_ORACLE,
          doc="deterministic 80/10/10 train/val/test split (hash-bucketed, retry-stable)")
def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_routing_spark.operators import sampling

    docs = sampling.hash_split(table(spark, sf_dir, "documents"))
    return (
        docs.groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").cast("bigint").alias("total_chars"))
        .orderBy("split")
    )


QUOTA_ORACLE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(doc_id || ':quota'), 1, 15))::BIGINT % 10000, doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 20
ORDER BY source, doc_id
"""


@register("doc_quota_sample", oracle=QUOTA_ORACLE,
          doc="per-source quota subsample (<=20 docs/source, hash-ordered — no head-of-file bias)")
def doc_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_routing_spark.operators import sampling

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.quota_per_group(docs, "source", 20).orderBy("source", "doc_id")


def _kmeans_oracle(k: int = 4, iters: int = 3) -> str:
    """Chained-CTE mirror of clustering.kmeans_lloyd: every iteration's
    assignment and exact-decimal centroid mean reproduced bit-for-bit
    (distances via list_dot_product == the sequential Spark kernel)."""
    parts = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id, v AS cvec\n"
        f"       FROM e ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(iters):
        parts.append(f"""a{i} AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY -2.0 * list_dot_product(e.v, c.cvec) + list_dot_product(c.cvec, c.cvec),
                      c.cluster_id) AS rk
    FROM e CROSS JOIN c{i} c)
  WHERE rk = 1)""")
        if i < iters - 1:
            parts.append(f"""m{i} AS (
  SELECT cluster_id, pos, cast(sum(cast(val AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS m
  FROM (SELECT a.cluster_id, unnest(e.v) AS val, generate_subscripts(e.v, 1) AS pos
        FROM a{i} a JOIN e USING (vec_id))
  GROUP BY cluster_id, pos),
c{i + 1} AS (
  SELECT c.cluster_id, coalesce(mm.cvec, c.cvec) AS cvec
  FROM c{i} c LEFT JOIN (SELECT cluster_id, list(m ORDER BY pos) AS cvec
                         FROM m{i} GROUP BY cluster_id) mm USING (cluster_id))""")
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT vec_id, cluster_id FROM a{iters - 1} ORDER BY vec_id"
    )


@register("emb_kmeans", oracle=_kmeans_oracle(),
          doc="k-means (4 clusters, 3 Lloyd iterations) over embeddings; full iteration-history parity")
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_routing_spark.operators import clustering

    return clustering.kmeans_lloyd(table(spark, sf_dir, "embeddings"), k=4, iterations=3)


@register("doc_bpe_tokens", oracle=None,
          doc="BPE tokenize: train 20 merges on a 100-doc sample, encode the corpus (pytest-oracled vs a pure-Python reference)")
def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-on-sample / encode-corpus, the production split: the merge
    table comes from a bounded slice (deterministic lowest-ids), then the
    broadcast-ranks encoder runs over everything. No SQL oracle — greedy
    rank-based merging isn't reasonably one DuckDB query; test_bpe.py's
    independent reference implementation is the oracle."""
    from duckdb_routing_spark.operators import bpe

    docs = table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs.orderBy("doc_id").limit(100), n_merges=20)
    return bpe.bpe_encode(docs, merges).select("doc_id", "n_bpe_tokens").orderBy("doc_id")


@register("doc_wordpiece_tokens", oracle=None,
          doc="WordPiece tokenize: likelihood-scored train on a 100-doc sample, longest-match encode (pytest-oracled vs a pure-Python reference)")
def doc_wordpiece_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BERT-family tokenizer beside the BPE pair: merges maximize
    count(ab)/(count(a)*count(b)) (exact-integer cross-product argmax, no
    float ever decides a merge), encode is greedy longest-match-first over
    the broadcast vocabulary. No SQL oracle — longest-match segmentation
    isn't reasonably one DuckDB query; test_wordpiece.py's independent
    Fraction-scored reference is the oracle."""
    from duckdb_routing_spark.operators import wordpiece

    docs = table(spark, sf_dir, "documents")
    merges = wordpiece.wordpiece_train(docs.orderBy("doc_id").limit(100), n_merges=20)
    vocab = wordpiece.wordpiece_vocab(docs, merges)
    return (
        wordpiece.wordpiece_encode(docs, vocab)
        .select("doc_id", "n_wp_tokens")
        .orderBy("doc_id")
    )


@register("doc_unigram_tokens", oracle=None,
          doc="unigram-LM (SentencePiece) tokenize: EM-trained pieces, Viterbi encode (pytest-oracled vs a log-space reference)")
def doc_unigram_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third tokenizer family: piece probabilities EM-estimated over
    every word's segmentation lattice (forward-backward), count-pruned to
    the target vocabulary, Viterbi-encoded with a deterministic tie
    order. No SQL oracle — lattice EM is not reasonably one DuckDB query;
    test_unigram.py's independent log-space reference is the oracle."""
    from duckdb_routing_spark.operators import unigram

    docs = table(spark, sf_dir, "documents")
    vocab = unigram.unigram_train(
        docs.orderBy("doc_id").limit(100), vocab_size=80, max_piece_len=6
    )
    return (
        unigram.unigram_encode(docs, vocab, max_piece_len=6)
        .select("doc_id", "n_ug_tokens")
        .orderBy("doc_id")
    )


@register("doc_training_sequences", oracle=None,
          doc="text -> fixed-length input_ids windows via BPE (pytest-oracled: ids decode back to the reference encoding)")
def doc_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_routing_spark.operators import bpe

    docs = table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs.orderBy("doc_id").limit(100), n_merges=20)
    vocab = bpe.bpe_vocab(docs, merges)
    return (
        bpe.training_sequences(docs, merges, vocab, seq_len=64)
        .select("doc_id", "seq_id", "n_ids")
        .orderBy("doc_id", "seq_id")
    )


HASHED_EMB_ORACLE = """
WITH t AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
c AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS bucket, count(*) AS cnt
  FROM t WHERE tok != '' GROUP BY doc_id, bucket
),
comp AS (
  SELECT b.bucket, j.j,
         ('0x' || substr(md5('emb:' || b.bucket || ':' || j.j), 1, 8))::BIGINT % 2001 - 1000 AS v
  FROM (SELECT unnest(range(0, 256)) AS bucket) b,
       (SELECT unnest(range(0, 16)) AS j) j
)
SELECT c.doc_id, comp.j, sum(c.cnt * comp.v)::BIGINT AS s, sum(c.cnt)::BIGINT AS n
FROM c JOIN comp USING (bucket)
GROUP BY c.doc_id, comp.j
ORDER BY c.doc_id, comp.j
"""


@register("doc_hashed_embedding", oracle=HASHED_EMB_ORACLE,
          doc="model-free doc embeddings: hashed bag-of-words x md5 random projection (exact integer components)")
def doc_hashed_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text -> vector without any trained model: the hashing-trick +
    random-projection baseline that lets the embedding operators (ANN,
    SemDeDup) run on a text-only corpus. The oracle value-hashes the exact
    BIGINT component table; the float assembly (s / (1000 n)) is one final
    division, pytest-composed into semantic_dedup in test_llm_operators."""
    docs = table(spark, sf_dir, "documents")
    return text.hashed_doc_embedding_components(docs, dim=16, n_features=256).orderBy(
        "doc_id", "j"
    )


QUALITY_CLF_ORACLE = """
WITH t AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
w AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS bucket
  FROM t WHERE tok != ''
),
scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         sum(('0x' || substr(md5('qw:' || bucket), 1, 8))::BIGINT % 2001 - 1000)::BIGINT AS raw_score
  FROM w GROUP BY doc_id
)
SELECT doc_id, n_tokens, raw_score,
       raw_score::DOUBLE / (1000 * n_tokens) AS quality,
       raw_score > 0 AS keep
FROM scored ORDER BY doc_id
"""


@register("doc_quality_classifier", oracle=QUALITY_CLF_ORACLE,
          doc="hashed-unigram linear quality classifier (broadcast weight table, integer-exact score)")
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, the CCNet/fastText shape: the weight
    table here is a deterministic md5-derived surrogate so the oracle can
    reproduce it; a trained model's (bucket, weight) parquet drops in
    unchanged."""
    docs = table(spark, sf_dir, "documents")
    w = text.classifier_weights(spark, n_features=256)
    return text.quality_classifier(docs, w, n_features=256).orderBy("doc_id")


TRAINED_QUALITY_ORACLE = text.train_quality_oracle_sql(
    "documents",
    label_sql="list_contains(string_split(lower(text), ' '), 'dup')",
    n_features=256,
    iterations=30,
    lr=5.0,
    train_where_sql=(
        "y = 1.0 OR ('0x' || substr(md5('neg:' || doc_id), 1, 8))::BIGINT % 20 = 0"
    ),
)


@register("doc_trained_quality", oracle=TRAINED_QUALITY_ORACLE,
          doc="in-engine classifier training -> scoring, oracle replays the full gradient loop")
def doc_trained_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained twin of doc_quality_classifier: labels mark docs
    containing the rare 'dup' marker token (a separable bag-of-words
    concept), the training slice rebalances the 5%-positive corpus with a
    deterministic md5 negative subsample (the production rare-positive
    shape), the logistic trainer runs its integer-quantized full-batch
    gradient descent in-engine, and the scorer applies the learned
    (bucket, weight) table to the FULL corpus. The oracle replays the
    ENTIRE 30-iteration training loop as unrolled SQL — the trainer's
    exact-BIGINT aggregation contract is what makes a cross-engine replay
    possible at all."""
    docs = table(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "label", F.array_contains(F.split(F.lower("text"), " "), "dup").cast("int")
    )
    neg_keep = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("neg:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 20
        == 0
    )
    train = labeled.filter((F.col("label") == 1) | neg_keep)
    w = text.train_quality_classifier(train, "label", n_features=256, iterations=30, lr=5.0)
    return text.quality_classifier(docs, w, n_features=256).orderBy("doc_id")


def _mh_side_ctes(suffix: str, where: str) -> str:
    """MinHash band CTE chain for one SIDE of a cross-corpus comparison —
    the MINHASH_BANDS_CTE construction parameterized by a doc filter and a
    name suffix (sh_X / hs_X / mh_X / bands_X)."""
    return f"""
sh_{suffix} AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE {where})
),
hs_{suffix} AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_MH_P} AS h1,
         ('0x' || substr(md5(shingle), 17, 15))::BIGINT % {_MH_P} AS h2
  FROM sh_{suffix}
),
mh_{suffix} AS (
  SELECT doc_id,
         {_MH_COLS}
  FROM hs_{suffix} GROUP BY doc_id
),
bands_{suffix} AS (
  SELECT doc_id, band,
         CASE band {_BAND_SIGS}
              END AS band_sig
  FROM mh_{suffix} CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
)"""


DECONTAMINATE_ORACLE = f"""WITH {_mh_side_ctes('c', 'doc_id % 23 <> 0')},
{_mh_side_ctes('e', 'doc_id % 23 = 0')},
cand AS (
  SELECT DISTINCT c.doc_id AS doc_id, e.doc_id AS eval_id
  FROM bands_c c JOIN bands_e e ON c.band = e.band AND c.band_sig = e.band_sig
),
inter AS (
  SELECT cd.doc_id, cd.eval_id, count(*) AS n_inter
  FROM cand cd
  JOIN sh_c sa ON sa.doc_id = cd.doc_id
  JOIN sh_e sb ON sb.doc_id = cd.eval_id AND sb.shingle = sa.shingle
  GROUP BY cd.doc_id, cd.eval_id
),
sz_c AS (SELECT doc_id, count(*) AS n FROM sh_c GROUP BY doc_id),
sz_e AS (SELECT doc_id, count(*) AS n FROM sh_e GROUP BY doc_id)
SELECT i.doc_id, i.eval_id,
       i.n_inter::DOUBLE / (a.n + b.n - i.n_inter) AS jaccard
FROM inter i JOIN sz_c a ON a.doc_id = i.doc_id
             JOIN sz_e b ON b.doc_id = i.eval_id
WHERE i.n_inter::DOUBLE / (a.n + b.n - i.n_inter) >= 0.8
ORDER BY i.doc_id, i.eval_id
"""


@register("dedup_decontaminate_pairs", oracle=DECONTAMINATE_ORACLE,
          doc="fuzzy decontamination: cross-corpus (train x eval) LSH -> exact Jaccard >= 0.8 pairs")
def dedup_decontaminate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-benchmark near-dup leakage: the eval slice (doc_id % 23 = 0,
    the same split doc_contamination uses) is fuzzy-matched against the
    rest. Complements doc_contamination's verbatim n-gram overlap with
    paraphrase-robust MinHash matching."""
    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 23 <> 0")
    ev = docs.filter("doc_id % 23 = 0")
    return dedup.cross_near_dup_pairs(corpus, ev, threshold=0.8).orderBy("doc_id", "eval_id")


# shared transitive-closure chain: LSH candidates -> exact Jaccard >= 0.8
# edges -> recursive reachability (used by dedup_cluster_assign and
# dedup_fuzzy_keep)
_COMPONENT_CTES = f"""{MINHASH_BANDS_CTE},
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
nd AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
               JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE i.n_inter::DOUBLE / (sa.n + sb.n - i.n_inter) >= 0.8
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM nd
  UNION
  SELECT doc_b, doc_a FROM nd
),
reach(doc, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc
)"""

CLUSTER_ORACLE = f"""
WITH RECURSIVE {_COMPONENT_CTES}
SELECT doc AS doc_id, min(lab) AS cluster_id
FROM reach GROUP BY doc ORDER BY doc_id
"""

FUZZY_KEEP_ORACLE = f"""
WITH RECURSIVE {_COMPONENT_CTES},
comp AS (SELECT doc AS doc_id, min(lab) AS cid FROM reach GROUP BY doc)
SELECT d.doc_id,
       coalesce(c.cid, d.doc_id) AS cluster_id,
       coalesce(c.cid, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comp c USING (doc_id)
ORDER BY d.doc_id
"""


@register("dedup_fuzzy_keep", oracle=FUZZY_KEEP_ORACLE,
          doc="end-to-end fuzzy dedup: LSH -> Jaccard -> components -> canonical keep decision per doc")
def dedup_fuzzy_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dedup.fuzzy_dedup_keep(docs, threshold=0.8, max_bucket=None).orderBy("doc_id")


FUZZY_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE {_COMPONENT_CTES},
comp AS (SELECT doc AS doc_id, min(lab) AS cid FROM reach GROUP BY doc),
ranked AS (
  SELECT c.doc_id, c.cid,
         row_number() OVER (PARTITION BY c.cid ORDER BY d.n_chars DESC, c.doc_id) AS rk
  FROM comp c JOIN documents d USING (doc_id)
)
SELECT d.doc_id,
       coalesce(r.cid, d.doc_id) AS cluster_id,
       coalesce(r.rk = 1, TRUE) AS is_canonical
FROM documents d LEFT JOIN ranked r USING (doc_id)
ORDER BY d.doc_id
"""


@register("dedup_fuzzy_keep_best", oracle=FUZZY_KEEP_BEST_ORACLE,
          doc="fuzzy dedup keeping the LONGEST cluster member (prefer=n_chars, id tiebreak)")
def dedup_fuzzy_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-the-best-copy policy: survivor = argmax n_chars per
    cluster (quality score in production), doc id breaking ties;
    cluster_id stays the min-id label so provenance is policy-independent."""
    docs = table(spark, sf_dir, "documents")
    return dedup.fuzzy_dedup_keep(docs, threshold=0.8, prefer="n_chars", max_bucket=None).orderBy("doc_id")


@register("dedup_cluster_assign", oracle=CLUSTER_ORACLE,
          doc="connected components over near-dup pairs -> (doc_id, min-id cluster)")
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final dedup-pipeline stage: group near-dup pairs into components
    and assign each doc its canonical (minimum-id) survivor. Spark side is
    iterative min-label propagation (O(diameter) shuffle rounds); the
    oracle is the transitive-closure recursive CTE — the hash match proves
    the distributed propagation reaches the same fixpoint."""
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs(docs, threshold=0.8, max_bucket=None).select("doc_a", "doc_b")
    return dedup.dedup_clusters(pairs).orderBy("doc_id")


@register("dedup_cluster_star", oracle=CLUSTER_ORACLE,
          doc="connected components via large-star/small-star contraction -> (doc_id, min-id cluster)")
def dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as dedup_cluster_assign through a different published
    algorithm: alternating large-star / small-star edge contraction
    (Kiveris et al. 2014) — O(log n) shuffle rounds regardless of component
    diameter, the bounded-job shape a 100 TB pair graph needs when one
    boilerplate chain makes the diameter linear. Oracled by the same
    transitive-closure recursive CTE, so the hash match proves both
    algorithms and the oracle agree on the exact assignment."""
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs(docs, threshold=0.8, max_bucket=None).select("doc_a", "doc_b")
    return dedup.dedup_clusters_star(pairs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# repetition signals + benchmark contamination
# ---------------------------------------------------------------------------

REPETITION_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
base AS (
  SELECT doc_id, len(ws) AS n,
         list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS g2,
         list_transform(range(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3,
         len(list_filter(range(1, len(ws)), i -> ws[i] = ws[i+1])) AS n_rep
  FROM t
),
top AS (
  SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_2gram_frac
  FROM (SELECT doc_id, gram, count(*) AS c
        FROM (SELECT doc_id, unnest(g2) AS gram FROM base)
        GROUP BY doc_id, gram)
  GROUP BY doc_id
)
SELECT b.doc_id,
       n::BIGINT AS n_tokens,
       CASE WHEN len(g2) > 0
            THEN (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2)
            ELSE 0.0 END AS dup_2gram_frac,
       CASE WHEN len(g3) > 0
            THEN (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3)
            ELSE 0.0 END AS dup_3gram_frac,
       coalesce(top.top_2gram_frac, 0.0) AS top_2gram_frac,
       CASE WHEN n > 1 THEN n_rep::DOUBLE / (n - 1) ELSE 0.0 END AS repeated_word_frac
FROM base b LEFT JOIN top USING (doc_id)
ORDER BY doc_id
"""


@register("doc_repetition", oracle=REPETITION_ORACLE,
          doc="Gopher-style repetition signals: dup/top n-gram fractions, stutter")
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality filters (dup-2/3-gram fraction, top-2-gram share,
    repeated-word stutter) — row-local Catalyst, zero shuffle; the oracle
    recomputes the top-gram share via the exploded groupBy formulation, so
    the hash match also proves sorted-run-max == max occurrence count."""
    return text.repetition_signals(table(spark, sf_dir, "documents")).orderBy("doc_id")


CONTAMINATION_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3
  FROM t
),
bench AS (SELECT DISTINCT unnest(g3) AS gram FROM g WHERE doc_id % 23 = 0),
cand AS (
  SELECT doc_id, unnest(list_distinct(g3)) AS gram FROM g WHERE doc_id % 23 <> 0
)
SELECT c.doc_id,
       count(*)::BIGINT AS n_grams,
       sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_overlap
FROM cand c LEFT JOIN bench b USING (gram)
GROUP BY c.doc_id
ORDER BY doc_id
"""


@register("doc_contamination", oracle=CONTAMINATION_ORACLE,
          doc="benchmark-contamination: word-3-gram overlap vs a held-out eval slice")
def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination check: distinct word-3-gram overlap of every candidate
    doc against the eval slice (doc_id % 23 == 0 stands in for the benchmark
    set). The eval gram set is broadcast — the corpus side never shuffles on
    gram, which is the shape that survives a 100 TB corpus."""
    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 23 == 0)
    cand = docs.filter(F.col("doc_id") % 23 != 0)
    return text.contamination_overlap(cand, bench).orderBy("doc_id")


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_IP = r"([0-9]{1,3}\.){3}[0-9]{1,3}"

PII_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com call 555-867-5309 from 10.0.0.'
              || (doc_id % 256) AS s
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(s, '{_PII_EMAIL}'))::BIGINT AS n_email,
       len(regexp_extract_all(s, '{_PII_PHONE}'))::BIGINT AS n_phone,
       len(regexp_extract_all(s, '{_PII_IP}'))::BIGINT   AS n_ip,
       md5(regexp_replace(regexp_replace(regexp_replace(s,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g')) AS scrub_fp
FROM t
ORDER BY doc_id
"""


@register("doc_pii_scrub", oracle=PII_ORACLE,
          doc="PII redaction (emails/phones/IPv4) with per-kind counts")
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over text with deterministic planted PII (derived from
    doc_id so both engines synthesize the identical input): counts per kind
    plus an md5 of the scrubbed text, proving the redactions byte-match."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-867-5309 from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    out = text.scrub_pii(docs)
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ip", F.md5(F.col("scrubbed")).alias("scrub_fp")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# chunking, sequence packing, mixture sampling
# ---------------------------------------------------------------------------

CHUNKS_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
s AS (SELECT doc_id, ws, len(ws) AS n, unnest(range(0, len(ws), 48)) AS start FROM t)
SELECT doc_id,
       (start // 48)::BIGINT AS chunk_id,
       least(64, n - start)::BIGINT AS n_tokens,
       array_to_string(ws[start+1 : start+64], ' ') AS chunk_text
FROM s
ORDER BY doc_id, chunk_id
"""


@register("doc_chunks", oracle=CHUNKS_ORACLE,
          doc="sliding-window chunking: 64-token chunks, 16-token overlap")
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping chunks per document — row-local flat map
    (sequence + posexplode), zero shuffle."""
    from duckdb_routing_spark.operators import chunking

    return chunking.chunk_documents(
        table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    ).orderBy("doc_id", "chunk_id")


PACK_ORACLE = """
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' '))::BIGINT AS n_tokens,
         ('0x' || substr(md5(doc_id || ':pack'), 1, 15))::BIGINT % 10000 AS h
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY h % 32, h, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, n_tokens, ((cum - n_tokens) // 256)::BIGINT AS bin
FROM c
ORDER BY doc_id
"""


@register("doc_pack_bins", oracle=PACK_ORACLE,
          doc="sequence packing: docs -> fixed-capacity training bins by hash order")
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed streaming first-fit packing into 256-token bins. The
    oracle computes the same global prefix sum with ONE window ordered by
    (bucket, hash, doc_id) — the hash match proves the two-phase
    (per-bucket cumsum + broadcast offsets) scan equals the global scan."""
    from duckdb_routing_spark.operators import chunking

    return chunking.pack_sequences(
        table(spark, sf_dir, "documents"), capacity=256
    ).orderBy("doc_id")


TEMPERATURE_ORACLE = """
WITH t AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(doc_id || ':temp'), 1, 15))::BIGINT % 10000 AS b
  FROM documents
),
cnt AS (SELECT source, count(*)::BIGINT AS n FROM t GROUP BY source),
r AS (
  SELECT source, n,
         pow(n::DOUBLE / (SELECT min(n) FROM cnt), 0.7 - 1.0) AS rate
  FROM cnt
)
SELECT t.source,
       r.n AS n_docs,
       (count(*) FILTER (WHERE t.b < r.rate * 10000))::BIGINT AS n_kept
FROM t JOIN r USING (source)
GROUP BY t.source, r.n
ORDER BY source
"""


@register("doc_temperature_sample", oracle=TEMPERATURE_ORACLE,
          doc="temperature (count^alpha) mixture resampling across sources")
def doc_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source kept counts under alpha=0.7 temperature resampling — the
    smallest source keeps all rows, larger sources downsample toward
    balance; decisions are md5-deterministic (retry-safe)."""
    from duckdb_routing_spark.operators.sampling import temperature_sample

    docs = table(spark, sf_dir, "documents")
    kept = temperature_sample(docs, alpha=0.7)
    n_docs = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    n_kept = kept.groupBy("source").agg(F.count("*").cast("long").alias("n_kept"))
    return (
        n_docs.join(n_kept, "source", "left")
        .select("source", "n_docs", F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------

_PQ_BASE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
sp AS (SELECT unnest(range(0, 8)) AS s),
seeds AS (
  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS code
  FROM e ORDER BY vec_id LIMIT 16
),
cb AS (SELECT s, code, v[s*8+1 : s*8+8] AS cvec FROM seeds CROSS JOIN sp),
sub AS (SELECT vec_id, s, v[s*8+1 : s*8+8] AS sub FROM e CROSS JOIN sp),
codes AS (
  SELECT vec_id, s, code
  FROM (
    SELECT vec_id, s, code,
           row_number() OVER (
             PARTITION BY vec_id, s
             ORDER BY list_dot_product(cvec, cvec) - 2 * list_dot_product(sub, cvec), code
           ) AS rk
    FROM sub JOIN cb USING (s)
  ) WHERE rk = 1
)
"""

PQ_CODES_ORACLE = _PQ_BASE + """
SELECT vec_id, s::BIGINT AS s, code::BIGINT AS code
FROM codes
ORDER BY vec_id, s
"""


@register("sim_pq_codes", oracle=PQ_CODES_ORACLE,
          doc="product-quantization codes: per-subspace nearest codebook entry")
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode parity: every (vector, subspace, code) assignment must
    match the oracle's argmin bit-for-bit (integer output; the score
    comparisons reuse the sequential-sum dot kernel both engines agree on)."""
    emb = table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook(emb)
    return (
        similarity.pq_encode(emb, cb)
        .select("vec_id", F.col("s").cast("long").alias("s"), F.col("code").cast("long").alias("code"))
        .orderBy("vec_id", "s")
    )


PQ_TOPK_ORACLE = _PQ_BASE + """,
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
lut AS (
  SELECT query_id, s, code,
         list_dot_product(cvec, cvec) - 2 * list_dot_product(qv[s*8+1 : s*8+8], cvec) AS partial
  FROM q CROSS JOIN cb
),
adc AS (
  SELECT query_id, vec_id, sum(partial) AS score
  FROM codes JOIN lut USING (s, code)
  WHERE vec_id != query_id
  GROUP BY query_id, vec_id
)
SELECT query_id, vec_id, rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) AS rank
  FROM adc
) WHERE rank <= 10
ORDER BY query_id, rank
"""


@register("sim_pq_topk", oracle=PQ_TOPK_ORACLE,
          doc="PQ asymmetric-distance (ADC) approximate top-10 over codes")
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search parity: queries rank the corpus by summed code-distance
    lookups only (the compressed path a 100 TB ANN index actually serves);
    ranks are compared, not float scores (distributed sum order)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.pq_adc_topk(emb, queries, topk=10).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# mergeable sketches (operators/sketch.py)
# ---------------------------------------------------------------------------

from duckdb_routing_spark.operators import sketch as _sketch  # noqa: E402

HLL_ORACLE = _sketch.hll_registers_oracle_sql("orders", "o_custkey", b=10) + "ORDER BY register"


@register("sketch_hll_registers", oracle=HLL_ORACLE,
          doc="HyperLogLog register table (b=10) over orders.o_custkey — mergeable distinct-count sketch")
def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-derived HLL registers: the 2^b-row mergeable shape
    an incremental 100 TB pipeline persists per slice instead of rescanning
    history for COUNT(DISTINCT). Registers are exact integers, so the
    value-hash oracle applies; the float estimate is accuracy-tested in
    tests/test_sketch.py."""
    return _sketch.hll_registers(table(spark, sf_dir, "orders"), "o_custkey", b=10).orderBy("register")


QSAMPLE_ORACLE = _sketch.quantile_sample_oracle_sql("events", "value", "event_id", k=256) + "\n"


@register("sketch_quantile_sample", oracle=QSAMPLE_ORACLE,
          doc="bottom-k-by-hash quantile sketch state (k=256) over events.value — unbounded-domain quantiles")
def sketch_quantile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile tier beside HLL/CMS/histogram for domains with no known
    [lo, hi): state = the k rows with smallest md5(row id) — a pure
    function of the id set, so it is order-independent, exactly mergeable
    across disjoint slices, and value-hash oracled AS STATE. Estimation
    accuracy and merge exactness are pinned in tests/test_sketch.py."""
    return _sketch.quantile_sample(table(spark, sf_dir, "events"), "value", "event_id", k=256)


from duckdb_routing_spark.operators import layout as _layout  # noqa: E402

_Z_SPECS = [("l_partkey", 0.0, 2000.0), ("l_suppkey", 0.0, 100.0)]
ZORDER_ORACLE = _layout.zorder_key_oracle_sql(
    "lineitem", _Z_SPECS, extra_cols="l_orderkey, l_linenumber"
) + " ORDER BY l_orderkey, l_linenumber"


@register("layout_zorder_key", oracle=ZORDER_ORACLE,
          doc="Morton (Z-order) clustering key over (l_partkey, l_suppkey) — multi-column file pruning layout")
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPTIMIZE ZORDER primitive: bucket each column to 2^8, interleave
    bits so every clustered file bounds min/max on BOTH columns — filters
    on either prune files, where a lexicographic sort only serves the
    first. Exact integer arithmetic end to end (value-hash oracle); the
    locality payoff is measured in tests/test_llm_operators.py."""
    return (
        _layout.zorder_key(table(spark, sf_dir, "lineitem"), _Z_SPECS)
        .select("l_orderkey", "l_linenumber", "zkey")
        .orderBy("l_orderkey", "l_linenumber")
    )


CMS_ORACLE = _sketch.cms_cells_oracle_sql("orders", "o_custkey", depth=4, width=256) + "ORDER BY row, col"


@register("sketch_cms_cells", oracle=CMS_ORACLE,
          doc="Count-Min cell table (4x256) over orders.o_custkey — mergeable frequency sketch")
def sketch_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Kirsch-Mitzenmacher Count-Min cells: the <=depth*width-row
    mergeable shape an incremental pipeline persists per slice for heavy-hitter
    frequency queries (est >= true; est <= true + eps*N w.h.p.). Cells are
    exact integers off the shared md5 double-hash idiom (operators/bloom.py),
    so the value-hash oracle applies; the estimate path (broadcast cell join,
    one-sided bound) is tested in tests/test_sketch.py."""
    return _sketch.cms_cells(table(spark, sf_dir, "orders"), "o_custkey",
                             depth=4, width=256).orderBy("row", "col")


SKEW_REPORT_ORACLE = """
WITH counts AS (
  SELECT o_custkey AS key, count(*) AS cnt FROM orders
  WHERE o_custkey IS NOT NULL GROUP BY o_custkey
),
t AS (SELECT sum(cnt) AS total FROM counts)
SELECT key, cnt, (cnt * 1000000 // total)::BIGINT AS share_ppm
FROM counts CROSS JOIN t
ORDER BY cnt DESC, key LIMIT 10
"""


@register("skew_key_report", oracle=SKEW_REPORT_ORACLE,
          doc="top-10 hottest join keys with exact ppm share — the pre-join skew diagnostic")
def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number that picks a join strategy (plain shuffle vs AQE skew
    split vs operators/skew.salted_join): exact per-key counts + integer
    ppm share over orders.o_custkey. One keyed groupBy + broadcast total —
    the report never becomes the skew it measures."""
    from duckdb_routing_spark.operators import skew as _skew

    return _skew.key_skew_report(table(spark, sf_dir, "orders"), "o_custkey", topk=10)


CMS_FILTER_ORACLE = """
SELECT c_custkey, c_name, n_orders FROM customer JOIN (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey HAVING count(*) >= 15
) ON c_custkey = o_custkey
ORDER BY c_custkey
"""


@register("cms_frequent_customers", oracle=CMS_FILTER_ORACLE,
          doc="CMS frequency prefilter + exact verify == plain HAVING count >= 15 (result-identical)")
def cms_frequent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-as-prefilter with byte-identical results: the CMS's one-sided
    bound (est >= true) means the candidate set can never miss a truly
    frequent key, and the exact count over candidate-semi-joined facts
    trims false positives — so the oracle is the PLAIN groupBy-HAVING
    query. The frequency twin of bloom_semi_revenue."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = _sketch.cms_frequency_filter(orders, "o_custkey", cust, "c_custkey", min_count=15)
    return out.select(
        "c_custkey", "c_name", F.col("n_facts").alias("n_orders")
    ).orderBy("c_custkey")


HIST_ORACLE = _sketch.hist_bins_oracle_sql("lineitem", "l_extendedprice", 0.0, 120000.0, 128) + "ORDER BY bin"


@register("sketch_hist_bins", oracle=HIST_ORACLE,
          doc="fixed-bin histogram (128 bins) over lineitem.l_extendedprice — mergeable quantile sketch")
def sketch_hist_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distribution sketch: <=n_bins rows per slice instead of a
    global sort for percentiles; any quantile answers within one bin width
    (hist_quantile, accuracy-tested in tests/test_sketch.py). The clamped
    floor runs identical IEEE double ops in both engines, so the bin table
    value-hash oracle applies — same contract family as the HLL registers
    and CMS cells above."""
    return _sketch.hist_bins(
        table(spark, sf_dir, "lineitem"), "l_extendedprice", 0.0, 120000.0, 128
    ).orderBy("bin")


LM_SCORE_ORACLE = text.lm_doc_scores_oracle_sql("documents") + "ORDER BY doc_id"


@register("doc_lm_score", oracle=LM_SCORE_ORACLE,
          doc="corpus-bigram LM quality score per doc (CCNet-style perplexity filter, integer-exact oracle)")
def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed corpus-bigram score per document — the perplexity
    quality filter shape (CCNet): low-avg-logprob docs are boilerplate or
    noise. The hash oracle checks the integer corpus-count surrogate
    (n_bigrams, sum_c2, sum_c1); the float avg_logprob is reference-tested
    in tests/test_llm_operators.py (ln ulp, see doc_tfidf_terms)."""
    return (
        text.lm_doc_scores(table(spark, sf_dir, "documents"))
        .select("doc_id", "n_bigrams", "sum_c2", "sum_c1")
        .orderBy("doc_id")
    )


_LEXICON_TERMS = ["join", "hash", "scan", "filter", "merge", "sort"]
LEXICON_ORACLE = f"""
WITH lex AS (SELECT DISTINCT lower(t) AS term FROM (VALUES {", ".join(f"('{t}')" for t in _LEXICON_TERMS)}) v(t)),
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
nz AS (SELECT doc_id, tok FROM toks WHERE tok != ''),
hits AS (
  SELECT doc_id, count(*) AS n_hits FROM nz SEMI JOIN lex ON nz.tok = lex.term GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_tokens FROM nz GROUP BY doc_id)
SELECT t.doc_id, t.n_tokens, coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) / t.n_tokens AS hit_frac
FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
ORDER BY t.doc_id
"""


@register("doc_lexicon_score", oracle=LEXICON_ORACLE,
          doc="per-doc wordlist scoring via broadcast semi join (the blocklist/toxicity filter shape)")
def doc_lexicon_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-as-data scoring: the wordlist is a DataFrame joined to the
    token stream (a 100k-term blocklist broadcasts; an IN-literal cannot),
    with semi-join semantics so duplicate lexicon rows never double-count.
    The 6-term lexicon here stands in for the real list."""
    lex = literal_df(spark, [(t,) for t in _LEXICON_TERMS], "term string")
    return text.lexicon_hits(table(spark, sf_dir, "documents"), lex).orderBy("doc_id")


TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
ranked AS (
  SELECT doc_id, term, tf.tf AS tf, dfreq.df AS df,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf.tf DESC, dfreq.df, term) AS rank
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, rank, term, tf, df FROM ranked WHERE rank <= 5
ORDER BY doc_id, rank
"""


@register("doc_tfidf_terms", oracle=TFIDF_ORACLE,
          doc="top-5 salient terms per doc: TF-IDF counts ranked by the exact integer surrogate")
def doc_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction over the corpus (operators/text.py tfidf_terms).
    Ranking uses (tf DESC, df ASC, term) — the integer ordering the float
    tfidf score refines — because Spark's and DuckDB's ln() differ by 1 ulp
    on ~8% of inputs (measured), which would make float-rank oracles flaky;
    the tfidf column itself is reference-tested in tests/test_llm_operators.py."""
    from pyspark.sql import Window

    t = text.tfidf_terms(table(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("df"), F.asc("term"))
    return (
        t.select("doc_id", "term", "tf", "df", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "rank", "term", "tf", "df")
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# training-export operators: data-mixture resampling + sharded shuffle

from duckdb_routing_spark.operators import sampling as _sampling  # noqa: E402
from duckdb_routing_spark.operators import shard as _shard  # noqa: E402

MIX_WEIGHTS = {"src0": 2.5, "src1": 0.4, "src2": 3.0, "src3": 0.0}

MIX_ORACLE = f"""
SELECT source, epoch, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT source, n_chars, cast(unnest(generate_series(1, n_copies)) AS INT) AS epoch
  FROM (
    SELECT source, n_chars,
           {_sampling.mix_sources_oracle_case(MIX_WEIGHTS)} AS n_copies
    FROM documents
  )
)
GROUP BY source, epoch
ORDER BY source, epoch
"""


@register("doc_mix_sources", oracle=MIX_ORACLE,
          doc="pretraining data mixture: per-source epoch weights (2.5 = twice + a "
              "deterministic half third time, 0.4 = 40% subset, 0 = drop), shuffle-free")
def doc_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture resampling WITH repetition (sampling.mix_sources): src0 at
    2.5 epochs, src1 at 0.4, src2 at 3, src3 dropped, everything else 1.
    Aggregated per (source, epoch) so the oracle pins both the copy counts
    and WHICH rows carry the fractional epoch (via total_chars)."""
    mixed = _sampling.mix_sources(table(spark, sf_dir, "documents"), MIX_WEIGHTS)
    return (
        mixed.groupBy("source", "epoch")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").cast("bigint").alias("total_chars"))
        .orderBy("source", "epoch")
    )


N_TRAIN_SHARDS = 8

SHARD_ORACLE = _shard.shard_manifest_oracle_sql("documents", N_TRAIN_SHARDS, size_col="n_chars")


@register("doc_shard_manifest", oracle=SHARD_ORACLE,
          doc=f"training-shard export manifest: deterministic md5 global shuffle into "
              f"{N_TRAIN_SHARDS} balanced equal-width key-range shards")
def doc_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment manifest (operators/shard.py): 60-bit md5 key,
    equal-width ranges (balanced without a sampling pass; shard order IS the
    global shuffle order). min/max keys pin every row's shard assignment."""
    sharded = _shard.assign_shards(table(spark, sf_dir, "documents"), N_TRAIN_SHARDS)
    return _shard.shard_manifest(sharded, size_col="n_chars")


from duckdb_routing_spark.operators.selection import dsir_oracle_sql as _dsir_oracle  # noqa: E402

DSIR_N_FEATURES = 512  # ~1 gram/bucket at fixture scale; the paper's 10^4 at corpus scale
DSIR_K = 100


@register("doc_dsir_scores",
          oracle=_dsir_oracle(0, n_features=DSIR_N_FEATURES, scores_only=True),
          doc=f"DSIR importance log-weights (Xie et al. 2023): hashed unigram+bigram "
              f"distributions ({DSIR_N_FEATURES} buckets), target = lang='en', exact "
              f"micro-unit integer scores")
def doc_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document importance log-weight sum_grams ln(p_target/p_raw) in
    exact BIGINT micro-units: both corpus distributions are partial-agg
    shuffles onto <= n_features keys, the log-ratio table broadcasts, and
    the per-doc sum is one aggregation — order-independent integer algebra
    end to end (the repo float policy)."""
    from duckdb_routing_spark.operators import selection

    docs = table(spark, sf_dir, "documents")
    return selection.dsir_scores(
        docs, docs.filter("lang = 'en'"), n_features=DSIR_N_FEATURES
    ).orderBy("doc_id")


@register("doc_dsir_select",
          oracle=_dsir_oracle(DSIR_K, n_features=DSIR_N_FEATURES),
          doc=f"DSIR Gumbel-top-{DSIR_K} resampling: without-replacement sample "
              f"proportional to importance weights, TakeOrderedAndProject plan")
def doc_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection step: Gumbel(0,1) noise (hash-u deterministic, so the
    draw is replayable) added to the micro-unit log-weights, global top-k
    via TakeOrderedAndProject — no full sort at any corpus size."""
    from duckdb_routing_spark.operators import selection

    docs = table(spark, sf_dir, "documents")
    return selection.dsir_select(
        docs, docs.filter("lang = 'en'"), k=DSIR_K, n_features=DSIR_N_FEATURES
    )


from duckdb_routing_spark.operators.pca import moment_components_oracle_sql as _pca_oracle  # noqa: E402


@register("emb_pca_moments",
          oracle=_pca_oracle() + "ORDER BY i, j",
          doc="PCA moment matrix: exact-integer first/second moments of the quantized "
              "embeddings — one numpy matmul per partition, ~2k-group merge shuffle")
def emb_pca_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed core of PCA/whitening: d(d+1)/2 + d + 1 exact
    BIGINT moments (q = floor(float64(x)*1000)) regardless of corpus size.
    mapInPandas folds each partition with one integer matmul; the driver
    eigendecomposition (operators/pca.pca_fit) is d x d and corpus-size-
    independent. Projection (pca_project) is a broadcast-matrix Arrow
    stage with no shuffle — pytest-oracled vs numpy since eigenvectors
    aren't reasonably one DuckDB query."""
    from duckdb_routing_spark.operators import pca as _pca

    return _pca.moment_components(table(spark, sf_dir, "embeddings")).orderBy("i", "j")


K_ANON_ORACLE = """
SELECT lang, source, n_chars // 100 AS size_bucket,
       count(*)::BIGINT AS group_size, min(doc_id)::BIGINT AS sample_id
FROM documents
GROUP BY 1, 2, 3 HAVING count(*) < 5
ORDER BY 1, 2, 3
"""


@register("privacy_k_anonymity", oracle=K_ANON_ORACLE,
          doc="k-anonymity audit: quasi-identifier combinations shared by fewer than k rows (privacy QA for a data release)")
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-gate privacy audit (operators/profiling.py
    k_anonymity_report, Sweeney 2002): each (lang, source, size-bucket)
    combination held by fewer than k=5 documents re-identifies — the
    violating slice with a concrete sample row id per group. One keyed
    partial-agg shuffle; empty result certifies the release. Complements
    doc_pii_scrub: scrubbing removes direct identifiers, this audits the
    quasi-identifiers scrubbing can't touch."""
    from duckdb_routing_spark.operators.profiling import k_anonymity_report

    docs = table(spark, sf_dir, "documents").withColumn(
        "size_bucket", F.expr("n_chars div 100")
    )
    return k_anonymity_report(
        docs, ["lang", "source", "size_bucket"], k=5, id_col="doc_id"
    ).orderBy("lang", "source", "size_bucket")


PSEUDO_ORACLE = """
SELECT doc_id,
       sha256('r7salt:' || source) AS source_token,
       sha256('r7salt:' || lang) AS lang_token,
       n_chars
FROM documents ORDER BY doc_id
"""


@register("doc_pseudonymize", oracle=PSEUDO_ORACLE,
          doc="deterministic keyed pseudonymization: sha256(salt || value) tokens preserve joinability, rotation re-keys the release")
def doc_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize identifying columns (text.pseudonymize): the privacy tier
    between plaintext and scrubbing — tokens stay equal where values were
    equal (joins/groupBys survive), reversal needs the salt, and a salt
    rotation re-keys everything in one row-local pass. Complements
    doc_pii_scrub (free text) and privacy_k_anonymity (quasi-identifier
    audit)."""
    from duckdb_routing_spark.operators import text as _text

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "lang", "n_chars")
    out = _text.pseudonymize(docs, ["source", "lang"], salt="r7salt")
    return out.select(
        "doc_id",
        F.col("source").alias("source_token"),
        F.col("lang").alias("lang_token"),
        "n_chars",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# lakehouse sink roundtrip (round 8): the minimal Delta-protocol writer/
# reader (sources/deltalog.py) under the VALUE-HASH gate — the whole
# write-commit-read path must reproduce the source exactly, or the
# aggregate diverges from the oracle computed straight over the table.
# ---------------------------------------------------------------------------

DELTA_ROUNDTRIP_ORACLE = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang ORDER BY lang
"""


# One Delta table copy per (process, sf_dir) — the returned DataFrame is
# lazy over the table's files, so the dir must outlive the caller's
# collect; an atexit rmtree reclaims it instead of leaking one full
# parquet copy of documents per invocation (bench best-of-2, ratio's N
# runs). Rebuilding is also skipped on repeat invocations, so repeated
# appends can't double the data.
_DELTA_RT_TABLES: dict[str, str] = {}


def _delta_rt_table(spark: SparkSession, sf_dir: str) -> str:
    t = _DELTA_RT_TABLES.get(sf_dir)
    if t is None:
        import atexit
        import shutil
        import tempfile

        from duckdb_routing_spark.sources import deltalog as _dl

        t = tempfile.mkdtemp(prefix="spark_graft_delta_rt_")
        atexit.register(shutil.rmtree, t, ignore_errors=True)
        docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
        _dl.write_delta(docs.filter("doc_id % 2 = 0"), t, partition_by=["lang"])
        _dl.write_delta(docs.filter("doc_id % 2 = 1"), t, partition_by=["lang"])
        # the oracled read path crosses the FULL maintenance surface:
        # OPTIMIZE (dataChange=false bin-packing of the two appends'
        # per-partition files) and a protocol checkpoint — a value-hash
        # MATCH then proves compaction + checkpoint replay are lossless too
        _dl.optimize_delta(spark, t)
        _dl.write_checkpoint(t)
        _DELTA_RT_TABLES[sf_dir] = t
    return t


@register("lake_delta_roundtrip", oracle=DELTA_ROUNDTRIP_ORACLE,
          doc="Delta-protocol sink roundtrip: two partitioned append commits, snapshot read, per-lang aggregate vs the source table")
def lake_delta_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents table into a Delta table through the minimal
    protocol writer (two append commits, hive-partitioned by lang), read
    the snapshot back, and aggregate per lang — the oracle computes the
    same aggregate directly over the source, so a hash MATCH proves the
    log replay, data-file moves, and partition-column recovery are
    lossless end to end."""
    from duckdb_routing_spark.sources import deltalog as _dl

    got = _dl.read_delta(spark, _delta_rt_table(spark, sf_dir))
    return (
        got.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register("lake_delta_scan", oracle=DELTA_ROUNDTRIP_ORACLE,
          doc="Delta table consumed through the format('deltalog') Python DataSource — same aggregate, same oracle")
def lake_delta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME compacted, checkpointed Delta table as
    lake_delta_roundtrip, but consumed through the Spark-4 Python
    DataSource (sources/delta_datasource.py): executor-side pyarrow file
    reads with partition columns reconstructed from the protocol's
    partitionValues. A value-hash MATCH against the identical oracle
    proves the DataSource read path (schema typing included) is
    byte-equal to the native read_delta path."""
    from duckdb_routing_spark.sources.delta_datasource import DeltaLogDataSource

    spark.dataSource.register(DeltaLogDataSource)
    got = spark.read.format("deltalog").load(_delta_rt_table(spark, sf_dir))
    return (
        got.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )
