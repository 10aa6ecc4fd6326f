"""Behavioral tests for the LLM-pipeline operators: dedup recall, ANN recall
vs the exact baseline, simhash locality, multimodal batch plumbing."""

import pytest
from pyspark.sql import functions as F

from duckdb_routing_spark.operators import dedup, multimodal, similarity
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").cache()


def test_lsh_finds_planted_near_dups(spark, docs):
    """The fixture plants near-dup pairs (same 200-char prefix). LSH must
    recover every one of them."""
    planted = (
        docs.alias("a")
        .join(docs.alias("b"), F.expr("a.doc_id < b.doc_id AND substring(a.text,1,200) = substring(b.text,1,200)"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    n_planted = planted.count()
    assert n_planted > 0
    found = dedup.near_dup_pairs(docs, threshold=0.8)
    missed = planted.join(found, ["doc_a", "doc_b"], "left_anti").count()
    assert missed == 0, f"LSH missed {missed}/{n_planted} planted near-dup pairs"


def test_decontaminate_removes_planted_leakage(spark, docs):
    """An eval set that IS a corpus slice (verbatim leakage, jaccard 1.0)
    must be fully removed; everything else survives, and the keep slice
    plus the cross-pair doc set partition the corpus."""
    ev = docs.filter("doc_id % 97 = 0").select("doc_id", "text")
    # rename eval ids into their own space so overlap detection can't
    # piggyback on equal ids
    ev = ev.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    pairs = dedup.cross_near_dup_pairs(docs, ev, threshold=0.8)
    # every planted doc pairs with its verbatim eval twin
    planted = {r.doc_id for r in docs.filter("doc_id % 97 = 0").select("doc_id").collect()}
    hit = {r.doc_id for r in pairs.select("doc_id").distinct().collect()}
    assert planted <= hit
    kept = dedup.decontaminate(docs, ev, threshold=0.8)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept_ids == all_ids - hit
    assert kept_ids.isdisjoint(planted)


def test_containment_decontamination_catches_embedded_eval(spark, docs):
    """The real leakage shape: a short benchmark item EMBEDDED in a long
    training doc. Containment scores it ~1.0 while symmetric Jaccard
    collapses toward |eval|/|doc| — so the containment screen must catch
    the plant and the 0.8-Jaccard screen must miss it."""
    long_doc = docs.orderBy(F.length("text").desc()).select("doc_id", "text").first()
    words = long_doc.text.split(" ")
    assert len(words) > 60
    # the eval item = a 20-word slice out of the doc's middle
    ev_text = " ".join(words[20:40])
    ev = spark.createDataFrame([(1, ev_text)], "doc_id long, text string")
    corpus = docs.filter(F.col("doc_id") == long_doc.doc_id).select("doc_id", "text")
    cont = dedup.cross_near_dup_pairs(corpus, ev, threshold=0.8, metric="containment")
    jac = dedup.cross_near_dup_pairs(corpus, ev, threshold=0.8, metric="jaccard")
    got = cont.collect()
    assert [(r.doc_id, r.eval_id) for r in got] == [(long_doc.doc_id, 1)]
    assert got[0].containment == 1.0  # every eval shingle is in the doc
    assert jac.count() == 0  # symmetric similarity can't see embedding
    kept = dedup.decontaminate(corpus, ev, threshold=0.8, metric="containment")
    assert kept.count() == 0


def test_near_dup_jaccard_bounds(spark, docs):
    rows = dedup.near_dup_pairs(docs, threshold=0.8).collect()
    assert all(0.8 <= r.jaccard <= 1.0 for r in rows)


def test_lsh_mega_bucket_is_star_paired_and_bounded(spark):
    """The 100 TB degenerate case: a boilerplate cluster of 1e5+ docs
    landing in ONE (band, band_sig) bucket. All-pairs there is O(n^2) ~
    7e9 pairs — the run must instead emit the star (n-1 pairs hubbed on
    the bucket min, preserving connected-component semantics), leave
    normal buckets on exact all-pairs, and report the truncation through
    the Observation channel."""
    from pyspark.sql import Observation

    n = 120_000
    mega = spark.range(n).select(
        F.lit(0).alias("band"), F.lit("sig-mega").alias("band_sig"),
        F.col("id").alias("doc_id"),
    )
    normal = spark.createDataFrame(
        [(1, "sig-a", 200_010), (1, "sig-a", 200_011), (1, "sig-a", 200_012),
         (2, "sig-b", 200_020), (2, "sig-b", 200_021)],
        "band int, band_sig string, doc_id long",
    )
    obs = Observation("lsh-truncation")
    pairs = dedup._pairs_in_buckets(
        mega.unionByName(normal), max_bucket=1000, observation=obs
    )
    got = pairs.collect()  # bounded: n-1 + 3 + 1, not ~7e9
    star = {(a, b) for a, b in map(tuple, got) if a < 200_000}
    assert star == {(0, d) for d in range(1, n)}  # hub = bucket min
    small = {(a, b) for a, b in map(tuple, got) if a >= 200_000}
    assert small == {(200_010, 200_011), (200_010, 200_012),
                     (200_011, 200_012), (200_020, 200_021)}  # untouched
    m = obs.get
    assert m["capped_buckets"] == 1
    assert m["max_bucket_size"] == n
    assert m["buckets"] == 3
    # connectivity invariant the keep-policy/clusters consumers rely on:
    # every mega-bucket member is reachable from the hub
    assert {d for _, d in star} | {0} == set(range(n))


def test_lsh_pairs_identical_below_cap(spark, docs):
    """On a normal corpus (every bucket under the cap) the capped path is
    byte-identical to uncapped all-pairs — the truncation can only ever
    fire on degenerate buckets."""
    capped = dedup.lsh_candidate_pairs(docs, max_bucket=1024).collect()
    uncapped = dedup.lsh_candidate_pairs(docs, max_bucket=10**9).collect()
    key = lambda r: (r.doc_a, r.doc_b)  # noqa: E731
    assert sorted(capped, key=key) == sorted(uncapped, key=key) and capped


def test_jaccard_shuffle_path_equals_broadcast_path(spark, docs):
    """The non-broadcast fallback (pathological candidate volumes) must
    produce byte-identical jaccard values to the broadcast plan."""
    from pyspark.sql import functions as F

    base = dedup.shingle_hash_base(docs)
    pairs = dedup.lsh_candidate_pairs(docs)
    a = dedup.jaccard_from_hashes(base, pairs, broadcast=True).collect()
    b = dedup.jaccard_from_hashes(base, pairs, broadcast=False).collect()
    key = lambda r: (r.doc_a, r.doc_b)  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key) and len(a) > 0


def test_exact_dedup_keep_first(spark, docs):
    # duplicate the corpus with shifted ids: every doc gains an exact dup
    dup = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.unionByName(dup)
    kept = dedup.exact_dedup_keep_first(both)
    assert kept.count() == docs.count()
    assert kept.agg(F.max("doc_id")).first()[0] < 1_000_000  # survivors are the low ids


def test_simhash_locality(spark, docs):
    """Near-dup docs should have close simhashes (hamming <= 4 of 16 bits);
    random pairs should average much farther."""
    sig = dedup.simhash16(docs)
    near = dedup.near_dup_pairs(docs, threshold=0.9).select("doc_a", "doc_b")
    joined = (
        near.join(sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("h1")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("h2")), "doc_b")
        .select(F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("ham"))
    )
    avg_near = joined.agg(F.avg("ham")).first()[0]
    rand = (
        sig.alias("a")
        .join(sig.alias("b"), F.expr("a.doc_id + 250 = b.doc_id"))
        .select(F.bit_count(F.expr("a.simhash").bitwiseXOR(F.expr("b.simhash"))).alias("ham"))
    )
    avg_rand = rand.agg(F.avg("ham")).first()[0]
    assert avg_near < avg_rand, f"simhash has no locality: near={avg_near} rand={avg_rand}"
    assert avg_near <= 4.0


def test_simhash_banded_pairs_plan_has_no_crossjoin(spark, docs):
    """The hamming-radius pair finder must be a banded equi-join, never an
    all-pairs product — the plan is audited, not just the result."""
    from duckdb_routing_spark.plans import audit

    pairs = dedup.simhash_hamming_pairs(dedup.simhash16(docs), max_hamming=2)
    plan = audit.formatted_plan(pairs)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_simhash_banded_pairs_match_bruteforce(spark, docs):
    """Pigeonhole recall check: banded equi-join finds exactly the pairs the
    all-pairs definition finds (hamming <= 2)."""
    sig = dedup.simhash16(docs.limit(200)).cache()
    banded = dedup.simhash_hamming_pairs(sig, max_hamming=2)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("h1"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("h2"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 2)
    )
    got = sorted(map(tuple, banded.collect()))
    want = sorted(map(tuple, brute.collect()))
    assert got == want


def test_simhash_pair_finders_guard_their_recall_radius():
    """Pigeonhole recall holds only below the band count: both banded pair
    finders refuse a radius their layout cannot guarantee."""
    with pytest.raises(ValueError, match="3-band layout guarantees recall only for max_hamming <= 2"):
        dedup.simhash_hamming_pairs(None, max_hamming=3)
    with pytest.raises(ValueError, match="4-band layout guarantees recall only for max_hamming <= 3"):
        dedup.simhash64_hamming_pairs(None, max_hamming=4)


def test_ann_recall_vs_exact(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    approx = similarity.ann_lsh_topk(emb, queries, dim=64, k=10, n_planes=4).select("query_id", "vec_id")
    n_exact = exact.count()
    hit = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    recall = hit / n_exact
    # 4-plane single-probe LSH on random-ish vectors: modest recall is
    # expected; the point is it's >> random-subset recall (1/16)
    assert recall > 0.2, f"ANN recall suspiciously low: {recall}"


def test_ivf_recall_vs_exact(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    approx = similarity.ivf_topk(emb, queries, k=10, n_cells=8, n_probe=2).select("query_id", "vec_id")
    n_exact = exact.count()
    hit = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    recall = hit / n_exact
    # 2-of-8-cell probing touches ~1/4 of the corpus; near-random embeddings
    # make that roughly the recall floor — require comfortably above it
    assert recall > 0.2, f"IVF recall suspiciously low: {recall}"


def test_cosine_topk_shape(spark, emb):
    out = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=10).collect()
    assert len(out) == 30
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
        assert -1.0 <= r.cosine <= 1.0
        assert r.vec_id != r.query_id
    for q, rows in by_q.items():
        assert [r.rank for r in rows] == list(range(1, 11))
        coss = [r.cosine for r in rows]
        assert coss == sorted(coss, reverse=True)


def test_dataset_bytes_and_dim_probe(spark, tmp_path):
    """dataset_bytes must measure a DIRECTORY dataset's part files (the
    os.path.getsize inode bug chose the bounded single-task path for
    arbitrarily large directory corpora); probe_array_dim reads one row
    driver-side from either layout."""
    from duckdb_routing_spark.operators import common
    from duckdb_routing_spark.testing import probe_array_dim

    out = str(tmp_path / "emb_dir.parquet")
    spark.range(200).selectExpr(
        "id AS vec_id", "array(cast(id as float), cast(id+1 as float), 0.5f) AS embedding"
    ).repartition(4).write.parquet(out)
    assert common.dataset_bytes(out) > 4096  # > a directory inode
    assert probe_array_dim(out, "embedding") == 3


def test_winnowing_shared_substring_guarantee(spark):
    """The MOSS winnowing guarantee: two documents sharing a substring of
    length >= k + w - 1 (= 11 chars at k=8, w=4) share at least one
    fingerprint."""
    from duckdb_routing_spark.operators import text as text_ops

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, f"totally unrelated prefix AAAA {shared} BBBB suffix one"),
            (2, f"zzz different start {shared} and a different ending entirely"),
            (3, "no overlap here at all, completely disjoint content xyzw"),
        ],
        "doc_id long, text string",
    )
    fps = text_ops.winnowed_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "docs sharing a 44-char substring share no fingerprint"
    assert not (by_doc[1] & by_doc[3] and by_doc[2] & by_doc[3]) or True  # doc 3 may collide by chance; no assertion


def test_multimodal_pipeline(spark, docs):
    media = multimodal.synthesize_media(docs.limit(50))
    assert media.schema.simpleString() == multimodal.MEDIA_SCHEMA.simpleString()
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 50
    for r in feats[:5]:
        assert len(r.feature) == multimodal.FEATURE_DIM
        assert all(0.0 <= x < 1.0 for x in r.feature)
        assert r.n_bytes > 0
    # deterministic: same payload -> same features
    feats2 = multimodal.extract_features(media).collect()
    assert sorted(map(tuple, ((r.media_id, tuple(r.feature)) for r in feats))) == sorted(
        map(tuple, ((r.media_id, tuple(r.feature)) for r in feats2))
    )


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False


def test_multimodal_pil_decoder_gate(spark, docs):
    """The 'pil' decoder is gated at RUNTIME: with PIL absent it raises the
    documented NotImplementedError; with PIL present it really decodes —
    this test drives whichever branch the environment provides, so the gate
    has live coverage in both kinds of environments (never skipped)."""
    if not _has_pil():
        media = multimodal.synthesize_media(docs.limit(5))
        with pytest.raises(Exception, match="NotImplementedError|real image decode"):
            multimodal.extract_features(media, decoder="pil").collect()
        with pytest.raises(Exception, match="NotImplementedError|real image decode"):
            multimodal.perceptual_hash(media, decoder="pil").collect()
        return

    # real-codec branch: a genuine encoded image through the full pipeline
    import io

    from PIL import Image

    buf = io.BytesIO()
    # deterministic gradient image (no randomness — stable phash)
    import numpy as _np

    arr = _np.outer(_np.arange(64, dtype=_np.uint8) * 4, _np.ones(64, dtype=_np.uint8))
    Image.fromarray(arr, mode="L").save(buf, format="PNG")
    payload = buf.getvalue()
    media = spark.createDataFrame(
        [(1, "image/png", bytearray(payload), (len(payload), 64, 64))], multimodal.MEDIA_SCHEMA
    )
    feats = multimodal.extract_features(media, decoder="pil").collect()
    assert len(feats) == 1 and len(feats[0].feature) == multimodal.FEATURE_DIM
    assert all(0.0 <= x <= 1.0 for x in feats[0].feature)
    ph = multimodal.perceptual_hash(media, decoder="pil").collect()[0]
    assert 0 <= ph.phash_hi < 2**32 and 0 <= ph.phash_lo < 2**32
    # identical payloads collide — determinism of the real path
    ph2 = multimodal.perceptual_hash(media, decoder="pil").collect()[0]
    assert (ph.phash_hi, ph.phash_lo) == (ph2.phash_hi, ph2.phash_lo)


def test_frame_sample(spark, docs):
    media = multimodal.synthesize_media(docs.limit(3))
    frames = multimodal.frame_sample(media, every_n_bytes=64).collect()
    n_bytes = {r.media_id: r.meta.n_bytes for r in media.collect()}
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, rows in by_media.items():
        expect = (n_bytes[mid] + 63) // 64
        assert len(rows) == expect
        assert sorted(r.frame_no for r in rows) == list(range(expect))


def test_ann_high_dim_plan_stays_bounded(spark):
    """At dim 256 an unrolled signature would put 256 x 8 x 2 expression
    nodes into one projection; the HOF signature must keep the analyzed
    plan small, carry no element_at unrolling and add no Python stage."""
    import numpy as np

    from duckdb_routing_spark.plans import audit

    rng = np.random.default_rng(7)
    dim, n = 256, 200
    pdf = __import__("pandas").DataFrame(
        {"vec_id": range(n), "embedding": [rng.standard_normal(dim).tolist() for _ in range(n)]}
    )
    df = spark.createDataFrame(pdf)
    out = similarity.ann_lsh_topk(df, df.filter(F.col("vec_id") < 3), dim=dim, k=5)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "element_at" not in plan, "high-dim ANN fell back to an unrolled signature"
    assert len(plan) < 200_000
    assert audit.python_eval_stages(out) == 0
    rows = out.collect()
    assert len(rows) > 0
    # recompute one signature driver-side from the same plane matrix
    planes = similarity.plane_matrix(dim, 8)
    v = np.array(pdf.embedding.iloc[0])
    acc = np.zeros(8)
    for j in range(dim):
        acc += v[j] * planes[:, j]
    want = int(((acc > 0) @ (1 << np.arange(8))).item())
    got = (
        similarity._with_double_vec(df.filter(F.col("vec_id") == 0), "embedding", "vd")
        .select(similarity.lsh_signature("vd", dim, 8).alias("s"))
        .collect()[0]
        .s
    )
    assert got == want


@pytest.mark.parametrize(
    "run",
    [
        lambda df: similarity.ann_lsh_topk(df, df.filter("vec_id = 0"), dim=4, k=5, n_planes=4),
        lambda df: similarity.cosine_near_dup_pairs(df, threshold=0.0, dim=4, n_planes=4),
    ],
    ids=["ann_lsh_topk", "cosine_near_dup_pairs"],
)
def test_lsh_signature_rejects_vector_shorter_than_dim(spark, run):
    """A vector shorter than `dim` must raise, not be null-padded by the
    fold into bucket 0; the same frame without it runs."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0]), (2, [0.5, -0.5, 0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    # the class varies with how many AQE stages fail (SparkRuntimeException
    # or a Py4JJavaError listing each); the message is the contract
    with pytest.raises(Exception, match="lsh_signature: vector of 2 elements, dim is 4"):
        run(df).collect()
    run(df.filter("vec_id != 1")).collect()


def test_dedup_clusters_merges_transitive_components(spark):
    """A-B and B-C pairs (no direct A-C edge) must land in ONE component
    with the min id as cluster_id; disjoint pairs stay separate."""
    from duckdb_routing_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 21), (40, 2)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 5: 1, 9: 1, 20: 20, 21: 20, 2: 2, 40: 2}


def test_dedup_clusters_star_matches_propagation(spark):
    """Star contraction must produce the exact same (doc_id, cluster_id)
    assignment as min-label propagation on a random multi-component graph
    (parity between two independent algorithms is the correctness check)."""
    import random

    from duckdb_routing_spark.operators import dedup

    rng = random.Random(7)
    pairs = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    via_star = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters_star(df).collect()}
    via_prop = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(df).collect()}
    assert via_star == via_prop


def _union_find_labels(pairs):
    """Independent pure-Python reference: min-id component labels."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_cluster_algorithms_match_union_find(spark):
    """Both distributed CC algorithms vs a pure-Python union-find on
    several random graph shapes (sparse, dense-ish, two-chain)."""
    import random

    from duckdb_routing_spark.operators import dedup

    cases = []
    rng = random.Random(11)
    cases.append([(rng.randrange(60), rng.randrange(60)) for _ in range(30)])
    cases.append([(rng.randrange(25), rng.randrange(25)) for _ in range(60)])
    cases.append([(i, i + 1) for i in range(0, 40)] + [(100 + i, 101 + i) for i in range(20)])
    for raw in cases:
        pairs = [(a, b) for a, b in raw if a != b]
        want = _union_find_labels(pairs)
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got_star = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters_star(df).collect()}
        got_prop = {
            r.doc_id: r.cluster_id
            for r in dedup.dedup_clusters(df, fallback_after=None).collect()
        }
        assert got_star == want
        assert got_prop == want


def test_dedup_clusters_deep_graph_falls_back_to_star(spark):
    """A 60-node chain exceeds the 8-round propagation budget; the default
    dedup_clusters must still return the exact assignment (via the star
    fallback) instead of a half-propagated one."""
    from duckdb_routing_spark.operators import dedup

    chain = spark.createDataFrame([(i, i + 1) for i in range(59)], "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(chain).collect()}
    assert got == {i: 0 for i in range(60)}


def test_dedup_clusters_star_collapses_long_chain(spark):
    """The O(log n) claim: a 200-node path has diameter 199, so label
    propagation needs ~200 rounds — star contraction must label the whole
    chain with cluster_id 0 within its default 30-round budget."""
    from duckdb_routing_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters_star(chain).collect()}
    assert got == {i: 0 for i in range(200)}


def test_pq_adc_recall_vs_exact(spark, emb):
    """PQ ADC search must rank real near neighbors far above chance: with a
    16-entry sampled codebook per 8-dim subspace the distance estimate is
    coarse, but top-10 recall should still beat a random 10-of-N subset by
    a wide margin."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    approx = similarity.pq_adc_topk(emb, queries, topk=10).select("query_id", "vec_id")
    n_exact = exact.count()
    hit = exact.join(approx, ["query_id", "vec_id"], "left_semi").count()
    recall = hit / n_exact
    assert recall > 0.2, f"PQ ADC recall suspiciously low: {recall}"


def test_pq_codes_compress_and_cover(spark, emb):
    """Every vector gets exactly m codes, all codes within [1, k]."""
    cb = similarity.pq_codebook(emb)
    codes = similarity.pq_encode(emb, cb)
    n_vecs = emb.count()
    assert codes.count() == n_vecs * 8
    stats = codes.agg(
        F.min("code").alias("lo"), F.max("code").alias("hi"),
        F.countDistinct("vec_id").alias("nv"),
    ).first()
    assert stats.lo >= 1 and stats.hi <= 16 and stats.nv == n_vecs


def test_funnel_ordering_and_horizon(spark):
    """Step events BEFORE the previous step's first completion don't count;
    within_s bounds the whole funnel to a horizon after step 0."""
    import datetime as dt

    from duckdb_routing_spark.operators.funnel import funnel_conversion, funnel_user_steps

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    rows = [
        # u1 converts in order: view@0 click@10 purchase@20
        (1, t(0), "view"), (1, t(10), "click"), (1, t(20), "purchase"),
        # u2 out of order: purchase BEFORE click -> stops after click
        (2, t(0), "view"), (2, t(5), "purchase"), (2, t(10), "click"),
        # u3 click before view -> only view counts
        (3, t(10), "view"), (3, t(5), "click"),
        # u4 converts but slowly: purchase at +100s (outside a 60s horizon)
        (4, t(0), "view"), (4, t(30), "click"), (4, t(100), "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r.step: r for r in funnel_conversion(ev, ["view", "click", "purchase"]).collect()}
    assert got["view"].n_users == 4
    assert got["click"].n_users == 3  # u3 clicked before viewing
    assert got["purchase"].n_users == 2  # u1, u4 (u2 purchased before click)
    assert got["purchase"].pct_of_first == 2 / 4 and got["purchase"].pct_of_prev == 2 / 3

    bounded = {r.step: r for r in
               funnel_conversion(ev, ["view", "click", "purchase"], within_s=60).collect()}
    assert bounded["purchase"].n_users == 1  # u4's purchase is past the horizon

    steps = funnel_user_steps(ev, ["view", "click"]).collect()
    t1 = {r.user: r.t1 for r in steps}
    assert t1[3] is None and t1[1] is not None


def test_cohort_retention_semantics(spark):
    """Offset 0 retention is 1.0 by construction; users only count toward
    their OWN acquisition cohort; a user active in two periods appears at
    both offsets exactly once."""
    import datetime as dt

    from duckdb_routing_spark.operators.cohorts import cohort_retention

    d = lambda day: dt.datetime(2024, 1, day)  # noqa: E731  (Jan 2024: 7th/14th are Sundays)
    rows = [
        (1, d(8)), (1, d(16)),   # cohort wk of Jan 7 (Sunday), active wk 0 and wk 1
        (2, d(9)),               # same cohort, wk 0 only
        (3, d(15)),              # next cohort
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(str(r.cohort), r.period_offset): r for r in cohort_retention(ev).collect()}
    assert got[("2024-01-07", 0)].n_active == 2 and got[("2024-01-07", 0)].retention == 1.0
    assert got[("2024-01-07", 1)].n_active == 1 and got[("2024-01-07", 1)].retention == 0.5
    assert got[("2024-01-14", 0)].n_cohort == 1
    assert ("2024-01-14", 1) not in got


def test_tfidf_matches_python_reference(spark, docs):
    """The float tfidf column (not hash-oracle-able: Spark/DuckDB ln differ
    by 1 ulp) against an independent pure-Python computation."""
    import math
    from collections import Counter

    from duckdb_routing_spark.operators.text import tfidf_terms

    rows = docs.select("doc_id", "text").collect()
    n_docs = len({r.doc_id for r in rows})
    tf = {}
    dfreq = Counter()
    for r in rows:
        terms = Counter(t for t in r.text.lower().split(" ") if t)
        for term, c in terms.items():
            tf[(r.doc_id, term)] = c
            dfreq[term] += 1
    got = tfidf_terms(docs).collect()
    assert len(got) == len(tf)
    for g in got:
        ref = tf[(g.doc_id, g.term)] * (math.log((n_docs + 1) / (dfreq[g.term] + 1)) + 1.0)
        assert g.df == dfreq[g.term]
        assert abs(g.tfidf - ref) <= 1e-12 * abs(ref), (g, ref)


def test_tfidf_plan_partial_aggregates(spark, docs):
    """The (doc, term) count must partially aggregate map-side so the main
    shuffle carries distinct pairs, not raw tokens."""
    from duckdb_routing_spark.operators.text import tfidf_terms

    plan = tfidf_terms(docs)._jdf.queryExecution().executedPlan().toString()
    first_exchange = plan.find("Exchange")
    assert "partial_count" in plan[first_exchange:]


# ---------------------------------------------------------------------------
# duplicated-span substring dedup (corpus parity vs DuckDB is covered by
# test_oracle_parity query `dedup_dup_spans`; these pin the span semantics)
# ---------------------------------------------------------------------------

def _spans(spark, texts, n=4):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return {
        (r.doc_id, r.span_start, r.span_end): (r.n_grams, r.n_tokens)
        for r in dedup.duplicated_spans(df, n=n).collect()
    }


def test_dup_spans_cross_doc_exact_location(spark):
    # "c d e f" (positions 3-6 in doc0, 1-4 in doc1) is the only repeated 4-gram
    out = _spans(spark, ["a b c d e f", "c d e f x y"], n=4)
    assert out == {(0, 3, 6): (1, 4), (1, 1, 4): (1, 4)}


def test_dup_spans_overlapping_hits_merge_to_maximal(spark):
    # a 6-token shared run yields three overlapping 4-gram hits -> ONE span
    out = _spans(spark, ["p q r s t u", "z p q r s t u w"], n=4)
    assert out == {(0, 1, 6): (3, 6), (1, 2, 7): (3, 6)}


def test_dup_spans_within_doc_repeat_detected(spark):
    # the same 4 tokens twice in one doc: both occurrences are spans
    out = _spans(spark, ["m n o p x x2 x3 x4 m n o p"], n=4)
    assert out == {(0, 1, 4): (1, 4), (0, 9, 12): (1, 4)}


def test_dup_spans_disjoint_repeats_stay_separate(spark):
    # two separate shared runs with a unique gap stay two spans per doc
    out = _spans(spark, ["a b c d GAP1 GAP2 e f g h", "a b c d OTHER e f g h"], n=4)
    assert out == {
        (0, 1, 4): (1, 4), (0, 7, 10): (1, 4),
        (1, 1, 4): (1, 4), (1, 6, 9): (1, 4),
    }


def test_dup_spans_short_docs_and_unique_text_empty(spark):
    out = _spans(spark, ["only three words", "entirely unique text here today"], n=4)
    assert out == {}


def _cut(spark, texts, n=4):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_dup_tokens)
        for r in dedup.cut_duplicated_spans(df, n=n).collect()
    }


def test_span_cut_removes_all_occurrences_in_order(spark):
    out = _cut(spark, ["a b c d e f", "c d e f x y"], n=4)
    assert out == {0: ("a b", 6, 4), 1: ("x y", 6, 4)}


def test_span_cut_untouched_docs_pass_through(spark):
    out = _cut(spark, ["totally unique words here now", "other text entirely differs", "a b c"], n=4)
    assert out == {
        0: ("totally unique words here now", 5, 0),
        1: ("other text entirely differs", 4, 0),
        2: ("a b c", 3, 0),
    }


def test_span_cut_fully_duplicated_doc_empties(spark):
    out = _cut(spark, ["p q r s", "p q r s"], n=4)
    assert out == {0: ("", 4, 4), 1: ("", 4, 4)}


def test_lm_score_float_matches_reference(spark):
    """avg_logprob against a plain-Python reference model on a tiny corpus
    (the integer surrogate is hash-oracled via doc_lm_score; this pins the
    smoothing arithmetic the oracle can't: P = (c2+1)/(c1+V))."""
    import math

    from duckdb_routing_spark.operators import text as t

    corpus = ["the cat sat", "the cat ran", "dogs bark"]
    df = spark.createDataFrame(list(enumerate(corpus)), "doc_id long, text string")
    got = {r.doc_id: r.avg_logprob for r in t.lm_doc_scores(df).collect()}

    from collections import Counter
    pairs = []
    for i, s in enumerate(corpus):
        ws = s.split(" ")
        pairs += [(i, (a, b)) for a, b in zip(ws, ws[1:]) if a and b]
    c2 = Counter(p for _, p in pairs)
    c1 = Counter(p[0] for _, p in pairs)
    v = len(c1)
    for i in range(len(corpus)):
        mine = [math.log((c2[p] + 1) / (c1[p[0]] + v)) for j, p in pairs if j == i]
        assert got[i] == pytest.approx(sum(mine) / len(mine), rel=1e-12), i


# ---------------------------------------------------------------------------
# Z-order layout (key parity vs DuckDB is covered by test_oracle_parity,
# query `layout_zorder_key`; these pin the round-trip and the locality win)
# ---------------------------------------------------------------------------

def test_zorder_key_round_trips_buckets(spark):
    from duckdb_routing_spark.operators import layout

    df = spark.createDataFrame(
        [(a, b) for a in range(0, 256, 17) for b in range(0, 256, 23)], "a long, b long"
    )
    keyed = layout.zorder_key(df, [("a", 0.0, 256.0), ("b", 0.0, 256.0)], bits=8)
    # de-interleave: even bits -> a bucket, odd bits -> b bucket
    decoded = keyed.selectExpr(
        "a", "b",
        "aggregate(sequence(0, 7), 0L, (acc, j) -> acc | (((zkey >> (2*j)) & 1) << j)) AS da",
        "aggregate(sequence(0, 7), 0L, (acc, j) -> acc | (((zkey >> (2*j+1)) & 1) << j)) AS db",
    )
    bad = decoded.filter("da != a OR db != b").count()
    assert bad == 0


def test_zorder_bounds_both_dims_where_lex_sort_does_not(spark):
    """Chunk the sorted table into 16 blocks and measure each block's value
    span per dimension: lexicographic sort leaves the second column's span
    at ~full range, z-order bounds both — the file-pruning payoff."""
    from pyspark.sql import Window

    from duckdb_routing_spark.operators import layout

    df = spark.createDataFrame(
        [(a, b) for a in range(64) for b in range(64)], "a long, b long"
    )
    specs = [("a", 0.0, 64.0), ("b", 0.0, 64.0)]

    def mean_b_span(keyed_df, *sort_cols):
        w = Window.orderBy(*sort_cols)
        blocks = keyed_df.withColumn("blk", F.ntile(16).over(w))
        spans = blocks.groupBy("blk").agg((F.max("b") - F.min("b")).alias("span"))
        return spans.agg(F.avg("span")).collect()[0][0]

    lex = mean_b_span(df, "a", "b")
    z = mean_b_span(layout.zorder_key(df, specs, bits=6), "zkey")
    assert z < lex / 2, (z, lex)


def test_zorder_overflow_guard(spark):
    from duckdb_routing_spark.operators import layout

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError):
        layout.zorder_key(df, [("a", 0.0, 1.0), ("b", 0.0, 1.0)], bits=32)


# ---------------------------------------------------------------------------
# search / retrieval (component parity vs DuckDB via test_oracle_parity,
# queries `search_conjunctive` / `search_bm25_components`)
# ---------------------------------------------------------------------------

def test_bm25_ranking_matches_reference(spark):
    """Float BM25 against a plain-Python reference on a tiny corpus (the
    integer components are hash-oracled; this pins the scoring formula)."""
    import math

    from duckdb_routing_spark.operators import search

    corpus = [
        "spark shuffles the hash join build side",
        "hash hash hash everywhere",
        "a sort merge join avoids the hash table",
        "nothing relevant here at all",
        "the hash join beats the loop join on big tables",
    ]
    df = spark.createDataFrame(list(enumerate(corpus)), "doc_id long, text string")
    terms, k1, b = ["hash", "join"], 1.2, 0.75
    got = [(r.doc_id, r.score) for r in search.bm25_topk(df, terms, k=5, k1=k1, b=b).collect()]

    toks = [c.lower().split() for c in corpus]
    n, avgdl = len(corpus), sum(len(t) for t in toks) / len(corpus)
    dfreq = {t: sum(1 for ws in toks if t in ws) for t in terms}
    scores = {}
    for i, ws in enumerate(toks):
        sc = 0.0
        for t in terms:
            tf = ws.count(t)
            if tf == 0:
                continue
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            sc += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ws) / avgdl))
        if sc > 0:
            scores[i] = sc
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (d1, s1), (d2, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, rel=1e-12), (d1, d2)


def test_conjunctive_search_requires_every_term(spark):
    from duckdb_routing_spark.operators import search

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta"), (2, "beta gamma alpha alpha")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.total_tf for r in search.conjunctive_search(df, ["Alpha", "gamma"]).collect()}
    assert got == {0: 2, 2: 3}


def test_hybrid_rrf_fusion_semantics(spark):
    from duckdb_routing_spark.operators import search

    # tiny corpus where doc 0 is the clear lexical+semantic match for the
    # query; docs appearing in only one list must carry rank 0 on the other
    df = spark.createDataFrame(
        [
            (0, "alpha beta alpha beta gamma"),
            (1, "alpha alpha"),
            (2, "delta epsilon zeta"),
            (3, "beta gamma"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in search.hybrid_rrf_search(df, "alpha beta", k_each=3, k=4).collect()}
    assert out[0].rank_lex == 1  # 2 distinct terms, highest tf
    # every returned row: contribution only from lists the doc appears in
    for r in out.values():
        want = (1_000_000_000 // (60 + r.rank_lex) if r.rank_lex > 0 else 0) + (
            1_000_000_000 // (60 + r.rank_sem) if r.rank_sem > 0 else 0
        )
        assert r.rrf_ppb == want
    # doc 2 shares no term with the query -> absent from the lexical list
    if 2 in out:
        assert out[2].rank_lex == 0
    # a doc in both lists outranks one with a single equal-rank contribution
    ranked = sorted(out.values(), key=lambda r: -r.rrf_ppb)
    assert ranked[0].doc_id == 0


def test_ranking_metrics_grouped_and_no_hit(spark):
    from duckdb_routing_spark.operators import search

    ranked = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3), ("q2", 20, 1), ("q2", 21, 2)],
        "q string, doc_id long, rank long",
    )
    truth = spark.createDataFrame(
        [("q1", 11), ("q1", 99), ("q2", 77)], "q string, doc_id long"
    )
    out = {
        r.q: r
        for r in search.ranking_metrics(ranked, truth, k=2, group_cols=["q"]).collect()
    }
    assert out["q1"].n_ranked == 3 and out["q1"].n_relevant == 2
    assert out["q1"].hits_at_k == 1 and out["q1"].first_hit_rank == 2
    assert out["q1"].rr_ppb == 1_000_000_000 // 2
    # q2: no relevant doc ranked -> zero metrics, rank 0 sentinel
    assert out["q2"].hits_at_k == 0 and out["q2"].first_hit_rank == 0 and out["q2"].rr_ppb == 0


def test_ranking_metrics_ungrouped_empty_truth(spark):
    from duckdb_routing_spark.operators import search

    ranked = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank long")
    truth = spark.createDataFrame([], "doc_id long")
    row = search.ranking_metrics(ranked, truth, k=5).collect()[0]
    assert (row.n_ranked, row.n_relevant, row.hits_at_k, row.first_hit_rank, row.rr_ppb) == (
        2, 0, 0, 0, 0,
    )


def test_hard_negatives_exclude_query_label(spark):
    from duckdb_routing_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    out = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=10, exclude_label_col="label"
    ).collect()
    assert len(out) > 0
    for r in out:
        assert labels[r.vec_id] != labels[r.query_id], (r.query_id, r.vec_id)


def test_int8_quantize_reconstruction_within_half_step(spark):
    import numpy as np

    from duckdb_routing_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.limit(50).collect()}
    out = similarity.int8_quantize(emb.limit(50)).collect()
    assert len(out) == 50
    for r in out:
        x = vecs[r.vec_id]
        step = (r.vmax - r.vmin) / 255.0 if r.vmax > r.vmin else 0.0
        rec = r.vmin + np.array(r.codes, dtype=np.float64) * step
        assert np.abs(rec - x).max() <= 0.5 * step + 1e-12
        assert min(r.codes) >= 0 and max(r.codes) <= 255


def test_int8_quantize_constant_vector_all_zero_codes(spark):
    from duckdb_routing_spark.operators import similarity

    df = spark.createDataFrame([(0, [2.5, 2.5, 2.5])], "vec_id long, embedding array<double>")
    r = similarity.int8_quantize(df).collect()[0]
    assert r.codes == [0, 0, 0] and r.vmin == r.vmax == 2.5


def test_snapshot_diff_semantics(spark):
    from duckdb_routing_spark.operators import snapshot

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "doc_id long, text string, n long"
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c CHANGED", 30), (4, "d", 40)], "doc_id long, text string, n long"
    )
    got = {r.doc_id: r.change for r in snapshot.snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}  # 2 unchanged -> absent


def test_snapshot_diff_field_boundaries_and_nulls(spark):
    from duckdb_routing_spark.operators import snapshot

    # ("ab","c") vs ("a","bc") must differ; NULL vs empty string must differ
    old = spark.createDataFrame([(1, "ab", "c"), (2, None, "x")], "doc_id long, a string, b string")
    new = spark.createDataFrame([(1, "a", "bc"), (2, "", "x")], "doc_id long, a string, b string")
    got = {r.doc_id: r.change for r in snapshot.snapshot_diff(old, new).collect()}
    assert got == {1: "changed", 2: "changed"}


def test_dim_stats_mean_std_match_numpy(spark):
    import numpy as np

    from duckdb_routing_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    mat = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    stats = {r.dim: r for r in similarity.dim_stats(emb).collect()}
    assert len(stats) == mat.shape[1]
    for d in (0, mat.shape[1] // 2, mat.shape[1] - 1):
        r = stats[d]
        mean = r.sum_x_micro / 1e6 / r.n
        var = r.sum_x2_micro / 1e6 / r.n - mean * mean
        # micro-unit truncation: within 1e-6 per element
        assert mean == pytest.approx(mat[:, d].mean(), abs=1.1e-6)
        assert var == pytest.approx(mat[:, d].var(), abs=3e-6)


def test_perceptual_hash_dedup_finds_exact_and_near_dups(spark):
    import numpy as np

    from duckdb_routing_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over it"), (1, "the quick brown fox jumps over it"),
         (2, "something else entirely different here"), (3, "yet another unrelated payload text")],
        "doc_id long, text string",
    )
    media = multimodal.synthesize_media(docs)
    sigs = {r.media_id: (r.phash_hi, r.phash_lo) for r in multimodal.perceptual_hash(media).collect()}
    assert sigs[0] == sigs[1]  # identical payloads -> identical phash
    pairs = {(r.doc_a, r.doc_b) for r in multimodal.perceptual_near_dup_pairs(media).collect()}
    assert (0, 1) in pairs
    # reference recompute of one signature (pins the stub's determinism)
    import hashlib
    b = "the quick brown fox jumps over it".encode()
    base = np.frombuffer(hashlib.md5(b).digest(), dtype=np.uint8)
    raw = np.frombuffer(b, dtype=np.uint8)
    idx = np.arange(72)
    patch = (raw[idx % len(raw)].astype(np.int32) + base[idx % 16].astype(np.int32)).reshape(8, 9)
    v = 0
    for bit in (patch[:, 1:] > patch[:, :-1]).flatten():
        v = (v << 1) | int(bit)
    assert sigs[0] == ((v >> 32) & 0xFFFFFFFF, v & 0xFFFFFFFF)


def test_perceptual_hash_empty_payload_no_crash(spark):
    from duckdb_routing_spark.operators import multimodal

    docs = spark.createDataFrame([(0, ""), (1, "non empty")], "doc_id long, text string")
    sigs = multimodal.perceptual_hash(multimodal.synthesize_media(docs)).collect()
    assert len(sigs) == 2 and all(r.phash_hi is not None for r in sigs)


def test_perceptual_hash_real_decoder_gated(spark):
    import pytest as _pytest

    from duckdb_routing_spark.operators import multimodal

    docs = spark.createDataFrame([(0, "x y z")], "doc_id long, text string")
    media = multimodal.synthesize_media(docs)
    with _pytest.raises(Exception):
        multimodal.perceptual_hash(media, decoder="pil").collect()


def test_hard_negatives_null_labels_match_sql_semantics(spark):
    from duckdb_routing_spark.operators import similarity

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], "a"), (1, [1.0, 0.1], None), (2, [0.9, 0.1], "b"), (3, [1.0, 0.0], None)],
        "vec_id long, embedding array<double>, label string",
    )
    out = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id").isin(0, 3)), k=5, exclude_label_col="label"
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    # query 0 (label 'a'): NULL-labeled rows 1,3 excluded -> only 2
    assert by_q.get(0) == {2}
    # query 3 (label NULL): SQL `label != NULL` is never TRUE -> no negatives
    assert 3 not in by_q


def test_lexicon_hits_semi_join_semantics(spark):
    from duckdb_routing_spark.operators import text as t

    docs = spark.createDataFrame(
        [(0, "Bad BAD word and fine text"), (1, "all clean here")], "doc_id long, text string"
    )
    # duplicate + mixed-case lexicon rows must not double-count
    lex = spark.createDataFrame([("bad",), ("BAD",), ("bad",)], "term string")
    out = {r.doc_id: (r.n_tokens, r.n_hits) for r in t.lexicon_hits(docs, lex).collect()}
    assert out == {0: (6, 2), 1: (3, 0)}  # 'Bad' and 'BAD' tokens each hit once


def test_phrase_lexicon_hits_multiword(spark):
    from duckdb_routing_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            (0, "enter your credit card number here"),
            (1, "credit where credit is due"),
            (2, "totally harmless"),
        ],
        "doc_id long, text string",
    )
    lex = spark.createDataFrame([("credit card number",), ("harmless",)], "term string")
    out = {r.doc_id: r.n_hits for r in t.phrase_lexicon_hits(docs, lex).collect()}
    # doc 0: one 3-gram phrase hit; doc 1: no phrase despite 'credit' twice;
    # doc 2: single-word entry still matches
    assert out == {0: 1, 2: 1}


def test_delete_from_dedup_index_equals_rebuild(spark, docs, tmp_path):
    """Retiring docs from the index: a later increment's pairs must equal
    those from an index never containing the retired docs — no candidate
    ever points at a removed document."""
    full_idx = str(tmp_path / "didx_del")
    ref_idx = str(tmp_path / "didx_ref")
    corpus = docs.filter("doc_id % 5 <> 0")
    retired = corpus.filter("doc_id % 3 = 1").select("doc_id")
    dedup.build_dedup_index(corpus, full_idx)
    dedup.delete_from_dedup_index(spark, full_idx, retired)
    # replaying the delete is a no-op rewrite
    dedup.delete_from_dedup_index(spark, full_idx, retired)
    dedup.build_dedup_index(
        corpus.join(retired, "doc_id", "left_anti"), ref_idx
    )
    inc = docs.filter("doc_id % 5 = 0")
    a = sorted(tuple(r) for r in dedup.near_dups_against_index(inc, full_idx, threshold=0.8).collect())
    b = sorted(tuple(r) for r in dedup.near_dups_against_index(inc, ref_idx, threshold=0.8).collect())
    assert a == b and len(a) > 0
    gone = {r.doc_id for r in retired.collect()}
    assert all(r[0] not in gone and r[1] not in gone for r in a)


def test_incremental_index_dedup_equals_full_rerun(spark, docs, tmp_path):
    """The rolling-crawl contract: dedup'ing an increment against the
    persisted index must produce EXACTLY the full-corpus near-dup pairs
    restricted to pairs touching the increment — old docs are never
    re-paired, nothing is missed. Growing the index (extend=True) makes a
    second increment see the first."""
    index_dir = str(tmp_path / "idx")
    old = docs.filter("doc_id % 5 <> 0")
    inc1 = docs.filter("doc_id % 5 = 0 AND doc_id % 10 <> 5")  # doc_id % 10 == 0
    inc2 = docs.filter("doc_id % 10 = 5")
    dedup.build_dedup_index(old, index_dir)

    got1 = dedup.near_dups_against_index(inc1, index_dir, threshold=0.8, extend=True)
    full = dedup.near_dup_pairs(docs.filter("doc_id % 10 <> 5"), threshold=0.8)
    want1 = full.filter("doc_a % 10 = 0 OR doc_b % 10 = 0")
    a = sorted((r.doc_a, r.doc_b, r.jaccard) for r in got1.collect())
    b = sorted((r.doc_a, r.doc_b, r.jaccard) for r in want1.collect())
    assert a == b and len(a) > 0

    # the extended index now contains old + inc1: the second increment's
    # pairs vs the WHOLE corpus must match a full rerun's touching slice
    got2 = dedup.near_dups_against_index(inc2, index_dir, threshold=0.8)
    full_all = dedup.near_dup_pairs(docs, threshold=0.8)
    want2 = full_all.filter("doc_a % 10 = 5 OR doc_b % 10 = 5")
    a2 = sorted((r.doc_a, r.doc_b, r.jaccard) for r in got2.collect())
    b2 = sorted((r.doc_a, r.doc_b, r.jaccard) for r in want2.collect())
    assert a2 == b2


def test_ann_index_probe_prunes_partitions_and_matches_ivf(spark, emb, tmp_path):
    """The persisted IVF index: probing must return exactly what in-memory
    ivf_topk returns over the same seeds, and the probe's scan must carry a
    PartitionFilter on the cell column — pruning at file-listing time, so
    a probe reads n_probe/n_cells of the index whatever its size."""
    from duckdb_routing_spark.plans import audit

    idx = str(tmp_path / "ivf_index")
    similarity.build_ann_index(emb, idx, n_cells=8)
    q = emb.filter("vec_id < 3")
    got = similarity.ann_query_index(spark, idx, q, k=10, n_probe=2)
    want = similarity.ivf_topk(emb, q, k=10, n_cells=8, n_probe=2)
    g = [(r.query_id, r.vec_id, r.cosine, r.rank) for r in got.collect()]
    w = [(r.query_id, r.vec_id, r.cosine, r.rank) for r in want.collect()]
    assert g == w and len(g) == 30
    plan = audit.formatted_plan(got)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*cell[^\]]*)\]", plan)
    assert m and "IN" in m.group(1).upper(), "probe scan lost its cell partition filter"


def test_ann_batched_build_matches_exact_build(spark, emb, tmp_path, monkeypatch):
    """Above _EXACT_ARGMIN_MAX_SEEDS seeds a build assigns cells with the
    batched numpy argmin (_nearest_cell_batched: O(n) Arrow traffic
    instead of ranking n * cells pairs in the JVM). Forced on at 8 cells,
    it must place every vector in the same cell and serve identical
    probes on this fixture; BLAS summation can differ from the sequential
    fold in the last ulp, so only adversarial near-ties could differ."""
    a, b = str(tmp_path / "exact"), str(tmp_path / "batched")
    similarity.build_ann_index(emb, a, n_cells=8)
    calls = []
    batched = similarity._nearest_cell_batched
    monkeypatch.setattr(similarity, "_EXACT_ARGMIN_MAX_SEEDS", 4)
    monkeypatch.setattr(
        similarity, "_nearest_cell_batched", lambda *a_: calls.append(1) or batched(*a_)
    )
    similarity.build_ann_index(emb, b, n_cells=8)
    assert calls == [1]
    cells_a = spark.read.parquet(a + "/cells").select("vec_id", "cell")
    cells_b = spark.read.parquet(b + "/cells").select("vec_id", "cell")
    assert sorted(map(tuple, cells_a.collect())) == sorted(map(tuple, cells_b.collect()))
    q = emb.filter("vec_id < 3")
    ga = similarity.ann_query_index(spark, a, q, k=10, n_probe=2)
    gb = similarity.ann_query_index(spark, b, q, k=10, n_probe=2)
    assert [tuple(r) for r in ga.collect()] == [tuple(r) for r in gb.collect()]


def test_fast_assign_chunked_argmin_crosses_boundaries(spark, emb):
    """The batched cell assignment computes its argmin in row chunks to
    bound the per-worker score-matrix transient (the whole-batch matrix is
    n_batch x n_cells doubles — 524 MB at 65536 x 1000). The default chunk
    never splits a test-sized batch, so force a tiny one and pin that
    assignments are identical across chunk boundaries (argmin is per-row;
    chunking must not change any cell)."""
    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    c = emb.select(F.col("vec_id"), F.col("embedding").alias("cvec"))
    whole = similarity._nearest_cell_batched(c, seeds, "cvec").select("vec_id", "cell")
    chunked = similarity._nearest_cell_batched(c, seeds, "cvec", step=7).select("vec_id", "cell")
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, chunked.collect()))


_MALFORMED = {
    "ragged": ([0.5] * 60, r"nearest_seeds: vector of \d+ elements, dim is \d+"),
    "null_vector": (None, "nearest_seeds: NULL vector"),
    "null_element": ([0.5] * 30 + [None] + [0.5] * 33, "nearest_seeds: NULL or NaN element"),
}


def _ivf(emb, tmp_path, monkeypatch):
    return similarity.ivf_topk(emb, emb.filter("vec_id < 3"), k=10, n_cells=8).collect()


def _ivf_batched(emb, tmp_path, monkeypatch):
    monkeypatch.setattr(similarity, "_EXACT_ARGMIN_MAX_SEEDS", 4)
    similarity.build_ann_index(emb, str(tmp_path / "idx"), n_cells=8)


def _kmeans(emb, tmp_path, monkeypatch):
    from duckdb_routing_spark.operators import clustering

    return clustering.kmeans_lloyd(emb, k=4, iterations=2).collect()


def _kmeans_batched(emb, tmp_path, monkeypatch):
    from duckdb_routing_spark.operators import clustering

    monkeypatch.setattr(clustering, "_EXACT_ARGMIN_MAX_SEEDS", 2)
    return clustering.kmeans_centroids(emb, k=4, iterations=2)


def _pq(emb, tmp_path, monkeypatch):
    return similarity.pq_encode(emb, similarity.pq_codebook(emb)).collect()


@pytest.mark.parametrize("case", sorted(_MALFORMED))
@pytest.mark.parametrize("op", [_ivf, _ivf_batched, _kmeans, _kmeans_batched, _pq],
                         ids=lambda f: f.__name__.strip("_"))
def test_nearest_seed_rejects_malformed_vector(spark, emb, tmp_path, monkeypatch, op, case):
    """A ragged vector, a NULL vector or a NULL element scores NULL
    against every seed; IVF cells, k-means clusters and PQ codes must
    raise instead of silently giving it the lowest seed id — on the JVM
    ranking and on the batched numpy path alike."""
    vec, message = _MALFORMED[case]
    base = emb.select("vec_id", "embedding")
    bad = spark.createDataFrame([(10**6, vec)], base.schema)
    with pytest.raises(Exception, match=message):
        op(base.unionByName(bad), tmp_path, monkeypatch)


def test_build_ann_index_quotes_meta_cols(spark, emb, tmp_path):
    """A metadata column whose name needs backticks (`src.lang`) rides
    through build and extension as one column and filters a probe."""
    corpus = emb.withColumn("src.lang", F.when(F.col("label") == 1, "en").otherwise("de"))
    idx = str(tmp_path / "qidx")
    similarity.build_ann_index(corpus.filter("vec_id % 2 = 0"), idx, n_cells=8, meta_cols=["src.lang"])
    similarity.extend_ann_index(
        corpus.filter("vec_id % 2 = 1"), idx, increment=1, meta_cols=["src.lang"]
    )
    store = spark.read.parquet(idx + "/cells")
    assert "src.lang" in store.columns and store.count() == emb.count()
    got = similarity.ann_query_index(
        spark, idx, emb.filter("vec_id < 3"), k=10, n_probe=8, filter_expr="`src.lang` = 'en'"
    ).collect()
    labels = dict(emb.select("vec_id", "label").collect())
    assert got and all(labels[r.vec_id] == 1 for r in got)


def test_quality_classifier_with_partial_weight_table(spark, docs):
    """A trained/pruned model covers only its nonzero buckets: tokens that
    miss the table must still count in n_tokens (scoring 0), and a doc
    whose every token misses must still get its row."""
    from duckdb_routing_spark.operators import text as t

    full = t.classifier_weights(spark, n_features=256)
    partial = full.filter("bucket % 2 = 0")  # half the model pruned away
    got_full = t.quality_classifier(docs, full, n_features=256)
    got_part = t.quality_classifier(docs, partial, n_features=256)
    a = {r.doc_id: (r.n_tokens, r.raw_score) for r in got_full.collect()}
    b = {r.doc_id: (r.n_tokens, r.raw_score) for r in got_part.collect()}
    assert set(a) == set(b)  # no doc vanishes under a pruned model
    for d in a:
        assert a[d][0] == b[d][0], "n_tokens must count unmatched tokens too"
    # empty weight table: every doc survives with score 0
    empty = full.filter("bucket < 0")
    z = t.quality_classifier(docs, empty, n_features=256).collect()
    assert len(z) == len(a) and all(r.raw_score == 0 and not r.keep for r in z)


def test_quality_classifier_word_bigrams_exact(spark):
    """word_ngrams=2 (the fastText wordNgrams recipe): exact against a
    pure-Python reimplementation of the hash + weight arithmetic, and the
    unigram path is unchanged by the flag."""
    import hashlib

    from duckdb_routing_spark.operators import text as t

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    w = t.classifier_weights(spark, n_features=256)
    got = {
        r.doc_id: (r.n_tokens, r.raw_score)
        for r in t.quality_classifier(docs, w, n_features=256, word_ngrams=2).collect()
    }

    def bucket(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 256

    def weight(b):
        return int(hashlib.md5(f"qw:{b}".encode()).hexdigest()[:8], 16) % 2001 - 1000

    for r in docs.select("doc_id", "text").collect():
        ws = [x for x in r.text.lower().split(" ") if x]
        feats = ws + [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
        want = (len(feats), sum(weight(bucket(f)) for f in feats))
        assert got[r.doc_id] == want, r.doc_id
    # the flag defaulted off leaves the unigram result untouched
    uni = t.quality_classifier(docs, w, n_features=256).collect()
    uni1 = t.quality_classifier(docs, w, n_features=256, word_ngrams=1).collect()
    assert sorted(map(tuple, uni)) == sorted(map(tuple, uni1))


def test_train_quality_classifier_learns_and_is_deterministic(spark):
    """In-engine logistic regression on hashed features: a separable
    concept (a marker token) must be learned to >= 95% accuracy by the
    SAME scorer the heuristic weights use, and two trainings must produce
    byte-identical weights (integer-quantized gradient sums — exact under
    any partitioning)."""
    import random

    from duckdb_routing_spark.operators import text as t

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(240):
        words = [rng.choice(vocab) for _ in range(12)]
        y = i % 2
        if y:
            words[rng.randrange(len(words))] = "signalterm"
        rows.append((i, " ".join(words), y))
    docs = spark.createDataFrame(rows, "doc_id long, text string, label int").repartition(4)

    # 256 buckets: a 41-term vocabulary needs headroom — at 64 buckets
    # hash collisions blur the signal term into noise words (measured
    # acc ~0.78); at 256 the concept separates completely
    w1 = t.train_quality_classifier(docs, "label", n_features=256, iterations=30, lr=5.0)
    w2 = t.train_quality_classifier(docs, "label", n_features=256, iterations=30, lr=5.0)
    assert sorted(map(tuple, w1.collect())) == sorted(map(tuple, w2.collect()))

    scored = t.quality_classifier(docs, w1, n_features=256)
    joined = scored.join(docs.select("doc_id", "label"), "doc_id")
    acc = joined.filter((F.col("raw_score") > 0) == (F.col("label") == 1)).count() / 240
    assert acc >= 0.95, acc


def test_hashed_doc_embeddings_feed_the_embedding_operators(spark):
    """Text -> vector -> SemDeDup entirely in-engine: the float embeddings
    assemble from the oracled integer components (one division), planted
    near-identical docs land near-identical vectors (cosine > 0.99), and
    the output drops straight into semantic_dedup."""
    from duckdb_routing_spark.operators import text as t

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    emb = t.hashed_doc_embeddings(docs, dim=16, n_features=256)
    rows = {r.doc_id: list(r.embedding) for r in emb.collect()}
    assert len(rows) == 80 and all(len(v) == 16 for v in rows.values())
    # exact assembly from components
    comp = {
        (r.doc_id, r.j): (r.s, r.n)
        for r in t.hashed_doc_embedding_components(docs, dim=16, n_features=256).collect()
    }
    import numpy as np

    for (d, j), (s, n) in comp.items():
        assert rows[d][j] == np.float32(s / (1000.0 * n))
    # near-dup text pairs -> near-identical vectors
    planted = (
        docs.alias("a")
        .join(docs.alias("b"), F.expr(
            "a.doc_id < b.doc_id AND substring(a.text,1,200) = substring(b.text,1,200)"))
        .select(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"))
        .collect()
    )
    assert planted
    for p in planted:
        va, vb = np.array(rows[p.ia]), np.array(rows[p.ib])
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert cos > 0.99, (p.ia, p.ib, cos)
    # composes with the embedding-side dedup
    out = similarity.semantic_dedup(
        emb, threshold=0.995, n_cells=4, id_col="doc_id", vec_col="embedding"
    )
    got = {r.vec_id: r.kept for r in out.collect()}
    assert len(got) == 80


def test_extend_ann_index_equals_rebuild(spark, emb, tmp_path):
    """Growing the index must be invisible to probes: build on half the
    corpus with FIXED seeds, extend with the other half, and the probe is
    byte-identical to a from-scratch build over everything (same seeds)."""
    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    grown, whole = str(tmp_path / "grown"), str(tmp_path / "whole")
    similarity.build_ann_index(emb.filter("vec_id % 2 = 0"), grown, seeds=seeds)
    similarity.extend_ann_index(emb.filter("vec_id % 2 = 1"), grown, increment=1)
    # replaying the same increment must be a no-op (dynamic partition overwrite)
    similarity.extend_ann_index(emb.filter("vec_id % 2 = 1"), grown, increment=1)
    similarity.build_ann_index(emb, whole, seeds=seeds)
    q = emb.filter("vec_id < 3")
    a = [(r.query_id, r.vec_id, r.cosine, r.rank)
         for r in similarity.ann_query_index(spark, grown, q, k=10, n_probe=2).collect()]
    b = [(r.query_id, r.vec_id, r.cosine, r.rank)
         for r in similarity.ann_query_index(spark, whole, q, k=10, n_probe=2).collect()]
    assert a == b and len(a) == 30


def test_filtered_ann_probe_equals_filtered_brute(spark, emb, tmp_path):
    """Filtered ANN: a metadata predicate inside the pruned probe returns
    exactly the ivf_topk of the predicate-filtered corpus (same seeds) —
    filtering commutes with cell assignment because cells depend only on
    the vector. Metadata survives extension and compaction."""
    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    idx = str(tmp_path / "fidx")
    similarity.build_ann_index(
        emb.filter("vec_id % 2 = 0"), idx, seeds=seeds, meta_cols=["label"]
    )
    similarity.extend_ann_index(
        emb.filter("vec_id % 2 = 1"), idx, increment=1, meta_cols=["label"]
    )
    similarity.compact_ann_index(spark, idx)
    q = emb.filter("vec_id < 3")
    got = [tuple(r) for r in similarity.ann_query_index(
        spark, idx, q, k=10, n_probe=2, filter_expr="label = 1"
    ).collect()]
    want = [
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in similarity.ivf_topk(
            emb.filter("label = 1"), q, k=10, n_probe=2, seeds=seeds
        ).collect()
    ]
    assert got == want and len(got) == 30
    labels = dict(emb.select("vec_id", "label").collect())
    assert all(labels[v] == 1 for (_, v, _, _) in got)


def test_delete_from_ann_index_equals_rebuild(spark, emb, tmp_path):
    """Copy-on-write delete: the probe over the shrunk index is
    byte-identical to a from-scratch build over the surviving corpus (same
    seeds), and replaying the delete is a no-op."""
    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    shrunk, ref = str(tmp_path / "shrunk"), str(tmp_path / "ref")
    similarity.build_ann_index(emb, shrunk, seeds=seeds)
    doomed = emb.filter("vec_id % 7 = 3").select("vec_id")
    n = similarity.delete_from_ann_index(spark, shrunk, doomed)
    assert n == doomed.count()
    assert similarity.delete_from_ann_index(spark, shrunk, doomed) == 0  # replay
    similarity.build_ann_index(emb.filter("vec_id % 7 != 3"), ref, seeds=seeds)
    q = emb.filter("vec_id < 3")
    a = [tuple(r) for r in similarity.ann_query_index(spark, shrunk, q, k=10, n_probe=2).collect()]
    b = [tuple(r) for r in similarity.ann_query_index(spark, ref, q, k=10, n_probe=2).collect()]
    assert a == b and len(a) == 30
    # no deleted id can ever surface from any probe
    alive = {r.vec_id for r in spark.read.parquet(f"{shrunk}/cells").select("vec_id").collect()}
    assert alive.isdisjoint({r.vec_id for r in doomed.collect()})


def test_delete_drops_emptied_partitions(spark, emb, tmp_path):
    """A partition whose every row is deleted must disappear from disk —
    dynamic overwrite alone would leave its old files serving."""
    import os

    idx = str(tmp_path / "empty_cell")
    similarity.build_ann_index(emb, idx, n_cells=8)
    cells = spark.read.parquet(f"{idx}/cells")
    victim = cells.filter("cell = 5").select("vec_id")
    assert victim.count() > 0
    similarity.delete_from_ann_index(spark, idx, victim)
    assert not os.path.exists(os.path.join(idx, "cells", "ingest_batch=-1", "cell=5"))
    assert spark.read.parquet(f"{idx}/cells").filter("cell = 5").count() == 0


def test_delete_many_partitions_superset_path(spark, tmp_path):
    """>64 affected partitions flips the rewrite to the separable-isin
    superset predicate; results must still equal a rebuild without the ids."""
    import random

    rng = random.Random(9)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(400)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = (
        vecs.orderBy("vec_id").limit(40)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    idx, ref = str(tmp_path / "many"), str(tmp_path / "manyref")
    similarity.build_ann_index(vecs.filter("vec_id % 2 = 0"), idx, seeds=seeds)
    similarity.extend_ann_index(vecs.filter("vec_id % 2 = 1"), idx, increment=1)
    doomed = vecs.filter("vec_id % 3 != 1").select("vec_id")
    # sanity: the delete really spans more than 64 (batch, cell) partitions
    n_parts = (
        spark.read.parquet(f"{idx}/cells")
        .join(F.broadcast(doomed), "vec_id")
        .select("ingest_batch", "cell").distinct().count()
    )
    assert n_parts > 64, n_parts
    n = similarity.delete_from_ann_index(spark, idx, doomed)
    assert n == doomed.count()
    similarity.build_ann_index(vecs.filter("vec_id % 3 = 1"), ref, seeds=seeds)
    q = vecs.filter("vec_id IN (1, 2)")
    a = [tuple(r) for r in similarity.ann_query_index(spark, idx, q, k=5, n_probe=3).collect()]
    b = [tuple(r) for r in similarity.ann_query_index(spark, ref, q, k=5, n_probe=3).collect()]
    assert a == b and len(a) == 10


def test_upsert_ann_index_equals_rebuild(spark, emb, tmp_path):
    """Replacing vectors in place: probes over the upserted index equal a
    from-scratch build whose corpus carries the updated vectors."""
    from pyspark.sql import types as T

    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    upserted, ref = str(tmp_path / "upserted"), str(tmp_path / "ref2")
    similarity.build_ann_index(emb, upserted, seeds=seeds)
    # move vectors 40..44 somewhere else in space (reverse their components)
    moved = emb.filter("vec_id >= 40 AND vec_id < 45").select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    similarity.upsert_ann_index(moved, upserted, increment=1)
    updated_corpus = emb.filter("vec_id < 40 OR vec_id >= 45").select("vec_id", "embedding").unionByName(moved)
    similarity.build_ann_index(updated_corpus, ref, seeds=seeds)
    q = emb.filter("vec_id < 3")
    a = [tuple(r) for r in similarity.ann_query_index(spark, upserted, q, k=10, n_probe=3).collect()]
    b = [tuple(r) for r in similarity.ann_query_index(spark, ref, q, k=10, n_probe=3).collect()]
    assert a == b
    # exactly one live copy of each upserted id
    counts = (
        spark.read.parquet(f"{upserted}/cells")
        .filter("vec_id >= 40 AND vec_id < 45")
        .groupBy("vec_id").count().collect()
    )
    assert len(counts) == 5 and all(r["count"] == 1 for r in counts)


def test_delete_and_upsert_on_renameless_fs(spark, emb, tmp_path):
    """The whole delete/upsert lifecycle must run where rename doesn't
    exist (object stores): route every maintenance call through
    RenamelessFS and pin probe equality to the plain-path run."""
    from duckdb_routing_spark.operators.fs import RenamelessFS

    fs = RenamelessFS()
    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    a_dir, b_dir = str(tmp_path / "rless"), str(tmp_path / "plain")
    doomed = emb.filter("vec_id % 9 = 4").select("vec_id")
    moved = emb.filter("vec_id IN (50, 51)").select("vec_id", F.reverse("embedding").alias("embedding"))
    for d, kw in ((a_dir, {"index_fs": fs}), (b_dir, {})):
        similarity.build_ann_index(emb, d, seeds=seeds, **kw)
        similarity.delete_from_ann_index(spark, d, doomed, **kw)
        similarity.upsert_ann_index(moved, d, increment=1, **kw)
    q = emb.filter("vec_id < 3")
    a = [tuple(r) for r in similarity.ann_query_index(spark, a_dir, q, k=10, n_probe=2, index_fs=fs).collect()]
    b = [tuple(r) for r in similarity.ann_query_index(spark, b_dir, q, k=10, n_probe=2).collect()]
    assert a == b and len(a) == 30


def test_index_compaction_preserves_results(spark, emb, docs, tmp_path):
    """Compaction is invisible: ANN probes and incremental dedup pairs are
    identical before/after, and the increment subdirectories collapse."""
    import os

    # ANN side
    idx = str(tmp_path / "ivf")
    similarity.build_ann_index(emb.filter("vec_id % 2 = 0"), idx, n_cells=8)
    similarity.extend_ann_index(emb.filter("vec_id % 2 = 1"), idx, increment=1)
    q = emb.filter("vec_id < 3")
    before = [tuple(r) for r in similarity.ann_query_index(spark, idx, q, k=10, n_probe=2).collect()]
    similarity.compact_ann_index(spark, idx)
    after = [tuple(r) for r in similarity.ann_query_index(spark, idx, q, k=10, n_probe=2).collect()]
    assert before == after
    batches = [d for d in os.listdir(os.path.join(idx, "cells")) if d.startswith("ingest_batch=")]
    assert batches == ["ingest_batch=-1"]

    # dedup side (ids must stay distinct across increments: the base
    # excludes BOTH increments' slices)
    didx = str(tmp_path / "dedup")
    dedup.build_dedup_index(docs.filter("doc_id % 5 NOT IN (0, 1)"), didx)
    inc = docs.filter("doc_id % 5 = 0")
    p_before = sorted(tuple(r) for r in dedup.near_dups_against_index(inc, didx, threshold=0.8, extend=True).collect())
    dedup.compact_dedup_index(spark, didx)
    inc2 = docs.filter("doc_id % 5 = 1")
    p1 = sorted(tuple(r) for r in dedup.near_dups_against_index(inc2, didx, threshold=0.8).collect())
    assert p_before  # the increment found pairs pre-compaction
    # against a rebuilt reference: compacted index behaves like the plain one
    didx2 = str(tmp_path / "dedup2")
    dedup.build_dedup_index(docs.filter("doc_id % 5 <> 1"), didx2)
    p2 = sorted(tuple(r) for r in dedup.near_dups_against_index(inc2, didx2, threshold=0.8).collect())
    assert p1 == p2


def test_swap_in_compacted_renameless_pointer_commit(tmp_path):
    """Object-store posture: on a rename-less FS the compaction swap is a
    generation write + one atomic pointer PUT — never a rename. Crash
    before the PUT leaves the old generation fully live; the retry
    succeeds; superseded generations are garbage-collected."""
    import os

    from duckdb_routing_spark.operators.fs import (
        RenamelessFS,
        live_table_dir,
        swap_in_compacted,
    )

    fs = RenamelessFS()
    table = str(tmp_path / "cells")

    def mk(d, marker):
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, marker), "w").write("x")

    mk(table, "v1")
    assert live_table_dir(table, fs) == table  # no pointer yet: plain path

    # commit 1: generation dir + pointer; plain dir is GC'd
    swap_in_compacted(table, lambda staged: mk(staged, "v2"), fs)
    live = live_table_dir(table, fs)
    assert live.endswith("__g1") and os.path.exists(os.path.join(live, "v2"))
    assert not os.path.exists(table)  # superseded plain dir collected

    # crash DURING the generation write (before the pointer PUT): old live
    boom = RuntimeError("crash")

    def crash_write(staged):
        mk(staged, "torn")
        raise boom

    try:
        swap_in_compacted(table, crash_write, fs)
    except RuntimeError as e:
        assert e is boom
    assert live_table_dir(table, fs) == live  # pointer untouched

    # retry clears the debris generation and commits
    swap_in_compacted(table, lambda staged: mk(staged, "v3"), fs)
    live2 = live_table_dir(table, fs)
    assert live2.endswith("__g2") and os.path.exists(os.path.join(live2, "v3"))
    assert not os.path.exists(os.path.join(live2, "torn"))
    assert not os.path.exists(live)  # generation 1 GC'd

    # crash AFTER the pointer PUT but BEFORE the old-generation delete:
    # fabricate the orphan, then the next commit must sweep it — while a
    # sibling table sharing the name prefix is never touched
    mk(live, "orphan")  # resurrect g1 as the leaked dir
    sibling = str(tmp_path / "cells2__g1")
    mk(sibling, "other-table")
    swap_in_compacted(table, lambda staged: mk(staged, "v4"), fs)
    live3 = live_table_dir(table, fs)
    assert live3.endswith("__g3") and os.path.exists(os.path.join(live3, "v4"))
    assert not os.path.exists(live) and not os.path.exists(live2)  # swept
    assert os.path.exists(os.path.join(sibling, "other-table"))  # untouched


def test_index_compaction_on_renameless_store(spark, emb, docs, tmp_path):
    """The full VERDICT-4 posture check: ANN store and dedup index stay
    correct through compaction on a store with NO rename, and
    post-compaction extends land in the live generation."""
    from duckdb_routing_spark.operators.fs import RenamelessFS

    fs = RenamelessFS()

    idx = str(tmp_path / "ivf")
    similarity.build_ann_index(emb.filter("vec_id % 2 = 0"), idx, n_cells=8, index_fs=fs)
    similarity.extend_ann_index(emb.filter("vec_id % 2 = 1"), idx, increment=1, index_fs=fs)
    q = emb.filter("vec_id < 3")
    before = [tuple(r) for r in
              similarity.ann_query_index(spark, idx, q, k=10, n_probe=2, index_fs=fs).collect()]
    similarity.compact_ann_index(spark, idx, index_fs=fs)
    after = [tuple(r) for r in
             similarity.ann_query_index(spark, idx, q, k=10, n_probe=2, index_fs=fs).collect()]
    assert before == after and len(after) == 30

    didx = str(tmp_path / "dedup")
    dedup.build_dedup_index(docs.filter("doc_id % 5 NOT IN (0, 1)"), didx, index_fs=fs)
    inc = docs.filter("doc_id % 5 = 0")
    p_before = sorted(
        tuple(r)
        for r in dedup.near_dups_against_index(
            inc, didx, threshold=0.8, extend=True, index_fs=fs
        ).collect()
    )
    assert p_before
    dedup.compact_dedup_index(spark, didx, index_fs=fs)
    # a post-compaction increment must read AND extend the live generation
    inc2 = docs.filter("doc_id % 5 = 1")
    p1 = sorted(
        tuple(r)
        for r in dedup.near_dups_against_index(
            inc2, didx, threshold=0.8, extend=True, index_fs=fs
        ).collect()
    )
    # reference: same increment against a plain-FS index built on the same corpus slice
    didx3 = str(tmp_path / "dedup3")
    dedup.build_dedup_index(docs.filter("doc_id % 5 <> 1"), didx3)
    p3 = sorted(
        tuple(r)
        for r in dedup.near_dups_against_index(inc2, didx3, threshold=0.8).collect()
    )
    assert p1 == p3


def test_swap_in_compacted_crash_point_sweep(tmp_path):
    """Exhaustive crash-point sweep over the rename branch's mutating ops,
    in BOTH histories (plain table, and mixed history where a pointer-
    committed generation is compacted by a rename-capable fs). After a
    crash at ANY step, one plain retry must converge: the logical path is
    live with the retry's content, and no pointer/.old/.compacting debris
    survives. Guards the delete-order contract (pointer retired before
    .old) — in the reverse order one crash point leaves the pointer naming
    a dead generation with nothing left to recover it from."""
    import os
    import shutil

    from duckdb_routing_spark.operators.fs import (
        LocalFS,
        RenamelessFS,
        live_table_dir,
        swap_in_compacted,
    )

    class Crash(Exception):
        pass

    class CrashingFS(LocalFS):
        def __init__(self, crash_at: int):
            self.crash_at, self.n = crash_at, 0

        def _tick(self):
            self.n += 1
            if self.n == self.crash_at:
                raise Crash()

        def rename(self, src, dst):
            self._tick()
            super().rename(src, dst)

        def delete(self, path):
            self._tick()
            super().delete(path)

        def put_atomic(self, path, data):
            self._tick()
            super().put_atomic(path, data)

    def mk(d, marker):
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, marker), "w").write("x")

    def seed_plain(table):
        mk(table, "v0")

    def seed_mixed(table):
        mk(table, "v0")
        # one pointer commit: table lives in cells__g1 with cells.ptr
        swap_in_compacted(table, lambda d: mk(d, "v0"), RenamelessFS())

    for seed in (seed_plain, seed_mixed):
        for crash_at in range(1, 12):
            root = tmp_path / f"{seed.__name__}_{crash_at}"
            root.mkdir()
            table = str(root / "cells")
            seed(table)
            fs = CrashingFS(crash_at)
            try:
                swap_in_compacted(table, lambda d: mk(d, "crashed"), fs)
                crashed = False
            except Crash:
                crashed = True
            # retry on a plain fs must converge regardless of where it died
            swap_in_compacted(table, lambda d: mk(d, "final"), LocalFS())
            live = live_table_dir(table)
            assert os.path.exists(os.path.join(live, "final")), (seed.__name__, crash_at)
            for debris in (table + ".old", table + ".compacting", table + ".ptr"):
                assert not os.path.exists(debris), (seed.__name__, crash_at, debris)
            shutil.rmtree(root)
            if not crashed:
                break  # fewer mutating ops than crash_at: sweep complete


def test_swap_compacted_dir_recovers_from_crashes(tmp_path):
    """Pure-filesystem contract: stale staging debris is cleared, and a
    crash between the two renames (only .old left) is recovered on the
    next entry."""
    import os

    from duckdb_routing_spark.operators.common import swap_compacted_dir

    live = str(tmp_path / "cells")

    def mk(d, marker):
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, marker), "w").write("x")

    # normal swap
    mk(live, "v1")
    staged, finish = swap_compacted_dir(live)
    mk(staged, "v2")
    finish()
    assert os.path.exists(os.path.join(live, "v2")) and not os.path.exists(live + ".old")

    # stale debris from a crash mid-write: cleared on entry
    mk(live + ".compacting", "junk")
    mk(live + ".old", "junk")
    staged, finish = swap_compacted_dir(live)
    assert not os.path.exists(live + ".compacting") and not os.path.exists(live + ".old")
    mk(staged, "v3")
    finish()
    assert os.path.exists(os.path.join(live, "v3"))

    # crash between renames: only .old exists -> recovered as live
    os.rename(live, live + ".old")
    staged, finish = swap_compacted_dir(live)
    assert os.path.exists(os.path.join(live, "v3"))
    mk(staged, "v4")
    finish()
    assert os.path.exists(os.path.join(live, "v4"))


def test_extend_rejects_meta_schema_drift(spark, emb, tmp_path):
    import pytest as _pytest

    idx = str(tmp_path / "drift")
    similarity.build_ann_index(emb.filter("vec_id % 2 = 0"), idx, meta_cols=["label"])
    with _pytest.raises(ValueError, match="meta_cols"):
        similarity.extend_ann_index(emb.filter("vec_id % 2 = 1"), idx, increment=1)
    # matching columns extend fine
    similarity.extend_ann_index(emb.filter("vec_id % 2 = 1"), idx, increment=1, meta_cols=["label"])
    assert "label" in spark.read.parquet(f"{idx}/cells").columns


def test_upsert_retry_after_partial_failure(spark, emb, tmp_path):
    """An upsert that crashed between its delete and its extension replays
    to the same final state: retrying the whole upsert is idempotent."""
    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    idx, ref = str(tmp_path / "retry"), str(tmp_path / "retryref")
    similarity.build_ann_index(emb, idx, seeds=seeds)
    moved = emb.filter("vec_id IN (30, 31)").select("vec_id", F.reverse("embedding").alias("embedding"))
    # simulate the crash: the delete half ran, the extend never did
    similarity.delete_from_ann_index(spark, idx, moved.select("vec_id"))
    # the retry replays the WHOLE upsert
    similarity.upsert_ann_index(moved, idx, increment=1)
    updated = emb.filter("vec_id NOT IN (30, 31)").select("vec_id", "embedding").unionByName(moved)
    similarity.build_ann_index(updated, ref, seeds=seeds)
    q = emb.filter("vec_id < 3")
    a = [tuple(r) for r in similarity.ann_query_index(spark, idx, q, k=10, n_probe=2).collect()]
    b = [tuple(r) for r in similarity.ann_query_index(spark, ref, q, k=10, n_probe=2).collect()]
    assert a == b and len(a) == 30


def test_pseudonymize_semantics(spark):
    """Equal values keep equal tokens (joinability), NULLs stay NULL, and a
    salt rotation changes every token."""
    from duckdb_routing_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "acme"), (2, "acme"), (3, "other"), (4, None)], "id long, src string"
    )
    a = {r.id: r.src for r in t.pseudonymize(df, ["src"], salt="s1").collect()}
    assert a[1] == a[2] and a[1] != a[3] and a[4] is None
    assert len(a[1]) == 64  # sha256 hex
    b = {r.id: r.src for r in t.pseudonymize(df, ["src"], salt="s2").collect()}
    assert b[1] != a[1] and b[1] == b[2]


def test_upsert_on_meta_index_forwards_meta_cols(spark, emb, tmp_path):
    """upsert_ann_index on a metadata-carrying store: meta_cols forwards to
    the extension (the schema-drift guard used to make upserts unusable on
    such stores), and a filtered probe after the upsert equals a rebuild
    over the updated corpus."""
    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    idx, ref = str(tmp_path / "metaup"), str(tmp_path / "metaupref")
    similarity.build_ann_index(emb, idx, seeds=seeds, meta_cols=["label"])
    moved = emb.filter("vec_id IN (30, 31)").select(
        "vec_id", F.reverse("embedding").alias("embedding"), "label"
    )
    similarity.upsert_ann_index(moved, idx, increment=1, meta_cols=["label"])
    updated = emb.filter("vec_id NOT IN (30, 31)").select(
        "vec_id", "embedding", "label"
    ).unionByName(moved)
    similarity.build_ann_index(updated, ref, seeds=seeds, meta_cols=["label"])
    q = emb.filter("vec_id < 3")
    a = [tuple(r) for r in similarity.ann_query_index(
        spark, idx, q, k=10, n_probe=2, filter_expr="label = 1"
    ).collect()]
    b = [tuple(r) for r in similarity.ann_query_index(
        spark, ref, q, k=10, n_probe=2, filter_expr="label = 1"
    ).collect()]
    assert a == b and len(a) == 30


def test_hybrid_rrf_oracle_escapes_quoted_terms(spark, docs):
    """A query term containing a single quote must produce valid (and
    non-injectable) oracle SQL -- both the literal and every IN-list term
    escape. Parity with the Spark side still holds."""
    import duckdb

    from duckdb_routing_spark.operators import search

    q = "o'brien hash join"
    sql = search.hybrid_rrf_oracle_sql(q, table="documents")
    pdf = docs.select("doc_id", "text").toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(sql).fetchall()
    con.close()
    got = [tuple(r) for r in search.hybrid_rrf_search(
        docs.select("doc_id", "text"), q
    ).collect()]
    assert got == [tuple(map(int, r)) for r in want] and len(got) > 0


def test_multimodal_stdlib_decoder_runs_real_decode(spark, docs):
    """The 'stdlib' decoder executes the REAL decode path end to end in
    this codec-library-free container: genuine compressed PNG payloads
    (every filter type across the corpus) decode inside mapInPandas, and
    the features match a driver-side reference decode byte-for-byte."""
    import numpy as _np

    from duckdb_routing_spark.operators import imagecodec

    media = multimodal.synthesize_png_media(docs.limit(10))
    rows = {r.media_id: bytes(r.payload) for r in media.collect()}
    assert len(rows) == 10
    assert all(p.startswith(b"\x89PNG") for p in rows.values())
    feats = {r.media_id: r.feature for r in
             multimodal.extract_features(media, decoder="stdlib").collect()}
    for mid, payload in rows.items():
        want = imagecodec.decode_gray_patch(payload, (4, 4)).astype(_np.float32).flatten() / 255.0
        assert _np.array_equal(_np.asarray(feats[mid], dtype=_np.float32), want)


def test_multimodal_stdlib_phash_near_dup_locality(spark, docs):
    """Perceptual hashing over REAL decoded pixels: identical images
    collide; a 1-pixel perturbation moves few dHash bits; an unrelated
    image moves many. Runs unconditionally (no PIL gate)."""
    import numpy as _np

    from duckdb_routing_spark.operators import imagecodec

    base = (_np.add.outer(_np.arange(32) * 3, _np.arange(32) * 5) % 256).astype(_np.uint8)
    tweak = base.copy(); tweak[4, 5] ^= 0x04
    other = ((255 - base.astype(int)) % 256).astype(_np.uint8)
    rows = [
        (1, "image/png", bytearray(imagecodec.encode_png(base, 2)), (0, 32, 32)),
        (2, "image/png", bytearray(imagecodec.encode_png(base, 4)), (0, 32, 32)),
        (3, "image/png", bytearray(imagecodec.encode_png(tweak, 1)), (0, 32, 32)),
        (4, "image/png", bytearray(imagecodec.encode_png(other, 0)), (0, 32, 32)),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    ph = {r.media_id: (r.phash_hi << 32) | r.phash_lo
          for r in multimodal.perceptual_hash(media, decoder="stdlib").collect()}
    # same pixels, DIFFERENT filter/compression bytes -> identical hash
    assert ph[1] == ph[2]
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(ph[1], ph[3]) <= 3
    assert ham(ph[1], ph[4]) > 10
