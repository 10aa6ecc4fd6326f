"""Curation operators: deterministic split/quota invariants, Lloyd basics.
(Value-level parity vs DuckDB is covered by test_oracle_parity for
doc_hash_split / doc_quota_sample / emb_kmeans.)"""

import pytest
from pyspark.sql import functions as F

from duckdb_routing_spark.operators import clustering, sampling

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_hash_split_deterministic_and_partitioning(spark, docs):
    a = sampling.hash_split(docs).select("doc_id", "split")
    b = sampling.hash_split(docs).select("doc_id", "split")
    assert a.exceptAll(b).count() == 0  # pure function of (key, salt)
    counts = {r.split: r.n for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = docs.count()
    assert sum(counts.values()) == n  # total partition, no drops/dups
    assert counts["train"] > counts.get("val", 0) >= 0
    # a different salt gives a different (but still complete) assignment
    c = sampling.hash_split(docs, salt="other").select("doc_id", F.col("split").alias("split2"))
    assert c.count() == n
    assert a.join(c, "doc_id").filter(F.col("split") != F.col("split2")).count() > 0


def test_quota_per_group_bounds(spark, docs):
    out = sampling.quota_per_group(docs.select("doc_id", "source"), "source", 7)
    per = out.groupBy("source").agg(F.count("*").alias("n")).collect()
    assert per and all(r.n <= 7 for r in per)
    # groups smaller than the quota keep everything
    sizes = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    kept = {r.source: r.n for r in per}
    for s, n in sizes.items():
        assert kept[s] == min(n, 7)


def test_kmeans_assigns_every_vector(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = clustering.kmeans_lloyd(emb, k=3, iterations=2)
    rows = out.collect()
    assert len(rows) == emb.count()
    assert {r.cluster_id for r in rows} <= {0, 1, 2}
    # deterministic: second run identical
    again = clustering.kmeans_lloyd(emb, k=3, iterations=2).collect()
    assert [(r.vec_id, r.cluster_id) for r in rows] == [(r.vec_id, r.cluster_id) for r in again]


def test_pretraining_pipeline_end_to_end(spark, tmp_path):
    """The composed pipeline: quality+lang filter -> exact dedup -> near-dup
    cluster dedup -> split -> partitioned write. Checks: output is smaller
    than input, contains no exact-dup pair, no near-dup pair survives with
    both members, the write is split-partitioned, and the whole flow is
    deterministic (second run byte-identical counts)."""
    from duckdb_routing_spark.operators import dedup
    from duckdb_routing_spark.pipelines import build_pretraining_dataset
    from duckdb_routing_spark.queries.registry import table
    from tests.conftest import SF_SMOKE

    docs = table(spark, SF_SMOKE, "documents")
    out_dir = str(tmp_path / "corpus")
    out = build_pretraining_dataset(docs, out_dir)
    got = out.cache()
    n_in, n_out = docs.count(), got.count()
    assert 0 < n_out < n_in

    # no exact dups survive
    assert got.groupBy(F.md5(F.lower("text"))).count().filter("count > 1").count() == 0
    # no near-dup pair survives intact: re-run the pair finder on survivors
    assert dedup.near_dup_pairs(got, threshold=0.8).count() == 0
    # split-partitioned layout + all three splits materialized at this SF
    import os
    parts = sorted(p for p in os.listdir(out_dir) if p.startswith("split="))
    assert parts == ["split=test", "split=train", "split=val"]
    back = spark.read.parquet(out_dir)
    assert back.count() == n_out
    # train fraction lands near 0.8 (hash bucketing holds in expectation)
    frac = back.filter("split = 'train'").count() / n_out
    assert 0.6 < frac < 0.95
    # determinism
    again = build_pretraining_dataset(docs)
    assert again.count() == n_out
    assert again.select("doc_id").subtract(got.select("doc_id")).count() == 0
    got.unpersist()


def test_mix_sources_epoch_semantics(spark, docs):
    """Weight w: every row gets floor(w) epochs plus a deterministic
    hash-selected fractional epoch; weight 0 drops the source; unlisted
    sources default to exactly one epoch. (Value parity vs DuckDB is pinned
    by test_oracle_parity[doc_mix_sources].)"""
    weights = {"src0": 2.5, "src1": 0.4, "src2": 3.0, "src3": 0.0}
    mixed = sampling.mix_sources(docs, weights)

    per_doc = {
        (r.doc_id, r.source): r.n
        for r in mixed.groupBy("doc_id", "source").agg(F.count("*").alias("n")).collect()
    }
    src_of = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    for doc_id, source in src_of.items():
        n = per_doc.get((doc_id, source), 0)
        if source == "src0":
            assert n in (2, 3), (doc_id, n)
        elif source == "src1":
            assert n in (0, 1), (doc_id, n)
        elif source == "src2":
            assert n == 3, (doc_id, n)
        elif source == "src3":
            assert n == 0, (doc_id, n)
        else:
            assert n == 1, (doc_id, source, n)

    # epochs are 1..n_copies, no duplicate (doc, epoch) rows
    assert mixed.groupBy("doc_id", "epoch").count().filter("count > 1").count() == 0
    assert mixed.agg(F.min("epoch"), F.max("epoch")).collect()[0] == (1, 3)
    # deterministic under re-execution
    again = sampling.mix_sources(docs, weights)
    assert mixed.exceptAll(again).count() == 0 and again.exceptAll(mixed).count() == 0


def test_mix_sources_rejects_negative_weight():
    with pytest.raises(ValueError, match="negative"):
        sampling.mix_weights_plan({"a": -0.5})


def test_shard_assignment_is_an_ordered_balanced_partition(spark, docs):
    """Equal-width ranges over the uniform 60-bit key: every row lands in
    exactly one shard, shard key ranges are disjoint AND ordered (the
    concatenation of shards in id order is one deterministic global
    permutation), and no shard is pathologically empty at 8 shards."""
    from duckdb_routing_spark.operators import shard

    sharded = shard.assign_shards(docs, 8)
    assert sharded.count() == docs.count()
    man = shard.shard_manifest(sharded, size_col="n_chars").collect()
    assert [r.shard_id for r in man] == sorted(r.shard_id for r in man)
    assert all(0 <= r.shard_id < 8 for r in man)
    for prev, nxt in zip(man, man[1:]):
        assert prev.max_key < nxt.min_key  # global order across shards
    w = shard.shard_width(8)
    for r in man:
        assert r.shard_id * w <= r.min_key and r.max_key < (r.shard_id + 1) * w
    assert sum(r.n_rows for r in man) == docs.count()


def test_write_training_shards_roundtrip(spark, docs, tmp_path):
    """Sharded write: shard_id=K dirs, per-file rows sorted by shard_key
    (the deterministic read order), and the union of all shards reproduces
    the input exactly."""
    import os

    from duckdb_routing_spark.operators import shard

    out = str(tmp_path / "shards")
    man = shard.write_training_shards(docs, out, n_shards=4)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard_id="))
    assert dirs == [f"shard_id={i}" for i in range(4)]

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").subtract(docs.select("doc_id")).count() == 0
    assert docs.select("doc_id").subtract(back.select("doc_id")).count() == 0

    # within each shard the parquet row order IS the shard_key order
    for i in range(4):
        pdf = spark.read.parquet(f"{out}/shard_id={i}").select("shard_key").toPandas()
        keys = pdf["shard_key"].tolist()
        assert keys == sorted(keys)

    # the returned manifest matches a fresh recomputation
    fresh = shard.shard_manifest(shard.assign_shards(docs, 4)).collect()
    assert [(r.shard_id, r.n_rows) for r in man.collect()] == [
        (r.shard_id, r.n_rows) for r in fresh
    ]


def test_export_pretraining_shards_end_to_end(spark, docs, tmp_path):
    """Composed last mile: curate -> mix (src0 doubled) -> sharded write.
    The manifest covers every (doc, epoch) copy exactly once, epoch copies
    of one document land in different shards (shard key includes epoch),
    and the flow is deterministic."""
    from duckdb_routing_spark.pipelines import export_pretraining_shards

    out = str(tmp_path / "train_shards")
    man = export_pretraining_shards(
        docs, out, mix_weights={"src0": 2.0}, n_shards=4
    ).collect()
    total = sum(r.n_rows for r in man)
    back = spark.read.parquet(out)
    assert back.count() == total > 0
    # every surviving src0 doc has exactly 2 copies, all others exactly 1
    per = {
        (r.doc_id, r.source): r.n
        for r in back.groupBy("doc_id", "source").agg(F.count("*").alias("n")).collect()
    }
    assert per and all(n == (2 if s == "src0" else 1) for (_, s), n in per.items())
    # epoch copies get independent shuffle positions: every copy has a
    # distinct shard_key, and the two copies are NOT systematically
    # co-located (some src0 pair must straddle shards at 4 shards)
    assert back.select("shard_key").distinct().count() == total
    split_pairs = (
        back.filter(F.col("source") == "src0")
        .groupBy("doc_id")
        .agg(F.countDistinct("shard_id").alias("n_shards"))
        .filter("n_shards > 1")
        .count()
    )
    assert split_pairs > 0
    # (determinism of each stage is pinned by test_mix_sources_epoch_semantics
    # and test_write_training_shards_roundtrip — no need to re-run the full
    # curation here)


def test_export_tokenized_shards_end_to_end(spark, tmp_path):
    """Tokenized last mile: curate -> BPE windows -> sharded write. Every
    curated train doc's windows land exactly once, window ids stay intact
    through the shuffle (input_ids arrays survive), and a document's
    windows disperse across shards (shard key includes seq_id).
    Runs at sf0.001 with a pre-trained merge table — training itself is
    pinned by test_bpe.py; this test pins the COMPOSITION."""
    from duckdb_routing_spark.operators import bpe
    from duckdb_routing_spark.pipelines import build_pretraining_dataset, export_tokenized_shards

    small = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = bpe.bpe_train(small.orderBy("doc_id").limit(40), n_merges=10)
    out = str(tmp_path / "tok_shards")
    man = export_tokenized_shards(small, out, merges=merges, seq_len=32, n_shards=4).collect()
    total = sum(r.n_rows for r in man)
    back = spark.read.parquet(out)
    assert back.count() == total > 0
    # windows cover every curated train doc exactly (no drops, no dups)
    train_ids = {
        r.doc_id
        for r in build_pretraining_dataset(small).filter("split = 'train'").select("doc_id").collect()
    }
    assert {r.doc_id for r in back.select("doc_id").distinct().collect()} == train_ids
    assert back.filter("seq_id = 0").count() == len(train_ids)
    assert back.filter(F.size("input_ids") != F.col("n_ids")).count() == 0
    # multi-window docs disperse across shards
    dispersed = (
        back.groupBy("doc_id")
        .agg(F.countDistinct("shard_id").alias("k"), F.count("*").alias("n"))
        .filter("n > 1 AND k > 1")
        .count()
    )
    assert dispersed > 0


def test_semantic_dedup_over_trained_kmeans_cells(spark):
    """SemDeDup on its paper recipe — kmeans cells, then prune — checked
    against an exact numpy reimplementation of the whole flow (assignment
    tiebreaks included)."""
    import numpy as np

    from duckdb_routing_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = clustering.kmeans_centroids(emb, k=6, iterations=2)
    seeds = clustering.centroids_df(spark, cents)
    got = {
        r.vec_id: (r.cell, r.kept)
        for r in similarity.semantic_dedup(emb, threshold=0.25, seeds=seeds).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    C = np.array([v for _, v in cents])
    cid = np.array([c for c, _ in cents])
    # score = ||c||^2 - 2 v.c, exact tiebreak by cell id (matches
    # _nearest_seeds' ORDER BY score, seed id)
    score = (C * C).sum(1)[None, :] - 2.0 * V @ C.T
    assign = np.array(
        [cid[min(range(len(cid)), key=lambda j: (score[i, j], cid[j]))] for i in range(len(V))]
    )
    norms = np.sqrt((V * V).sum(1))
    kept = {}
    for i in range(len(V)):
        k_i = True
        for j in range(len(V)):
            if assign[j] == assign[i] and ids[j] < ids[i]:
                cos = float(V[i] @ V[j]) / (norms[i] * norms[j])
                if cos >= 0.25:
                    k_i = False
                    break
        kept[ids[i]] = (int(assign[i]), k_i)
    assert got == kept
    assert sum(1 for _, k in got.values() if not k) > 0  # non-vacuous


def test_kmeans_centroids_reproduce_kmeans_lloyd(spark):
    """The persisted-quantizer contract: assigning against
    kmeans_centroids(k, iterations) must reproduce
    kmeans_lloyd(k, iterations) exactly — same iteration count semantics."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = clustering.kmeans_centroids(emb, k=4, iterations=3)
    via_artifact = {
        (r.vec_id, r.cluster_id)
        for r in clustering._assign(emb, cents, "vec_id", "embedding").collect()
    }
    direct = {(r.vec_id, r.cluster_id) for r in clustering.kmeans_lloyd(emb, k=4, iterations=3).collect()}
    assert via_artifact == direct


def test_curate_hygiene_equals_staged_application(spark):
    """The composed hygiene flow must equal applying its four
    already-oracled stages one at a time — so each stage's oracle
    transfers to the composition — and verbatim eval leakage must be gone
    from the output."""
    from duckdb_routing_spark.operators import dedup, similarity, text
    from duckdb_routing_spark.pipelines import curate_hygiene

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter("doc_id % 23 = 0").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    got = {r.doc_id for r in curate_hygiene(docs, ev).select("doc_id").collect()}

    w = text.classifier_weights(spark, n_features=256)
    s1 = docs.join(
        text.quality_classifier(docs, w, n_features=256).filter("keep").select("doc_id"),
        "doc_id", "left_semi",
    )
    s2 = s1.join(
        dedup.fuzzy_dedup_keep(s1, threshold=0.8).filter("is_canonical").select("doc_id"),
        "doc_id", "left_semi",
    )
    s3 = dedup.decontaminate(s2, ev, metric="containment")
    emb = text.hashed_doc_embeddings(s3, n_features=256)
    sem = similarity.semantic_dedup(emb, threshold=0.995, id_col="doc_id", vec_col="embedding")
    s4 = s3.join(
        sem.filter("kept").select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi"
    )
    want = {r.doc_id for r in s4.select("doc_id").collect()}
    assert got == want and 0 < len(got) < docs.count()
    # every stage bit: leakage gone, no surviving verbatim dup pair
    assert not (got & {r.doc_id for r in docs.filter("doc_id % 23 = 0").collect()} )


def test_read_training_shard_order(spark, docs, tmp_path):
    """The reader returns shard K's rows in the deterministic replay order
    (sorted shard_key), exactly the rows the manifest claims."""
    from duckdb_routing_spark.operators import shard

    out = str(tmp_path / "rshards")
    man = {r.shard_id: r for r in shard.write_training_shards(docs, out, n_shards=4).collect()}
    for sid in range(4):
        rows = shard.read_training_shard(spark, out, sid).select("shard_key").collect()
        keys = [r.shard_key for r in rows]
        assert keys == sorted(keys) and len(keys) == man[sid].n_rows
        assert keys[0] == man[sid].min_key and keys[-1] == man[sid].max_key


def test_export_tokenized_shards_tokenizer_families(spark, tmp_path):
    """The pipeline's tokenizer switch: wordpiece and unigram exports run
    the same curate -> windows -> shard mile, cover exactly the curated
    train docs, and keep window integrity through the shuffle."""
    from duckdb_routing_spark.pipelines import build_pretraining_dataset, export_tokenized_shards

    small = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train_ids = {
        r.doc_id
        for r in build_pretraining_dataset(small).filter("split = 'train'").select("doc_id").collect()
    }
    for fam in ("wordpiece", "unigram"):
        out = str(tmp_path / f"tok_{fam}")
        man = export_tokenized_shards(
            small, out, seq_len=32, n_shards=4, train_sample=40, tokenizer=fam
        ).collect()
        back = spark.read.parquet(out)
        assert back.count() == sum(r.n_rows for r in man) > 0, fam
        assert {r.doc_id for r in back.select("doc_id").distinct().collect()} == train_ids, fam
        assert back.filter(F.size("input_ids") != F.col("n_ids")).count() == 0, fam
    import pytest as _pytest

    with _pytest.raises(ValueError):
        export_tokenized_shards(small, str(tmp_path / "bad"), merges=[("a", "b")], tokenizer="unigram")


def test_kmeans_batched_lloyd_matches_exact_assignments(spark, monkeypatch):
    """Above _EXACT_ARGMIN_MAX_SEEDS clusters kmeans_centroids trains with
    the batched Lloyd pass (_lloyd_batched: one mapInPandas argmin per
    iteration). Forced on at k=4, its centroids must match the exact
    decimal-mean trainer's to 1e-9 and induce the identical partition on
    the sf0.001 embeddings."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = clustering.kmeans_centroids(emb, k=4, iterations=3)
    calls = []
    batched = clustering._lloyd_batched
    monkeypatch.setattr(clustering, "_EXACT_ARGMIN_MAX_SEEDS", 2)
    monkeypatch.setattr(clustering, "_lloyd_batched", lambda *a: calls.append(1) or batched(*a))
    fast = clustering.kmeans_centroids(emb, k=4, iterations=3)
    assert calls == [1]
    import numpy as np

    E = np.array([v for _, v in exact])
    Fst = np.array([v for _, v in fast])
    assert np.allclose(E, Fst, rtol=1e-9, atol=1e-9)
    a = {(r.vec_id, r.cluster_id)
         for r in clustering._assign(emb, exact, "vec_id", "embedding").collect()}
    b = {(r.vec_id, r.cluster_id)
         for r in clustering._assign(emb, fast, "vec_id", "embedding").collect()}
    assert a == b


def test_kmeans_fast_chunked_argmin_crosses_boundaries(spark):
    """The batched Lloyd pass computes its argmin in row chunks to bound
    the per-worker score-matrix transient; the default chunk never splits a
    test-sized batch, so force a tiny one and pin that the trained
    centroids are bit-identical (each row's assignment, partial sum and
    count are chunk-independent)."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = emb.select(F.col("embedding").cast("array<double>").alias("v"))
    seeds = emb.orderBy("vec_id").limit(4).select("embedding").collect()
    C = np.array([list(r.embedding) for r in seeds], dtype=np.float64)
    whole = clustering._lloyd_batched(src, C, 2)
    chunked = clustering._lloyd_batched(src, C, 2, step=7)
    assert np.array_equal(whole, chunked)


@pytest.mark.parametrize("k", [3, 6], ids=["exact", "batched"])
def test_kmeans_leaves_no_persisted_rdd(spark, monkeypatch, k):
    """Training persists its input for the Lloyd loop and must release it:
    the session's persistent RDDs do not grow across kmeans_lloyd on
    either trainer, and a cache the caller holds on the input survives."""
    from pyspark import StorageLevel

    monkeypatch.setattr(clustering, "_EXACT_ARGMIN_MAX_SEEDS", 4, raising=False)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert clustering.kmeans_lloyd(emb, k=k, iterations=2).count() == emb.count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    mine = emb.filter("vec_id >= 0").cache()
    clustering.kmeans_centroids(mine, k=k, iterations=2)
    assert mine.storageLevel != StorageLevel.NONE
    mine.unpersist()


def test_build_ann_index_auto_cells_sqrt_n(spark, tmp_path):
    """n_cells=None sizes the quantizer at max(8, round(sqrt(n))) — the
    seed table carries that many rows and probes stay correct."""
    from duckdb_routing_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    want = max(8, int(round(n ** 0.5)))
    idx = str(tmp_path / "auto")
    similarity.build_ann_index(emb, idx)
    assert spark.read.parquet(f"{idx}/seeds").count() == want
    q = emb.filter("vec_id < 2")
    got = similarity.ann_query_index(spark, idx, q, k=5, n_probe=2).collect()
    assert len(got) == 10 and all(r.vec_id != r.query_id for r in got)
