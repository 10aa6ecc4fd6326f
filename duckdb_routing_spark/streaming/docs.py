"""Streaming document curation: incremental MinHash-LSH near-dup candidates.

The batch dedup family (operators/dedup.py) answers "which documents in
this corpus are near-duplicates"; a continuously-ingesting training-data
pipeline needs the STREAMING form — "is this new document a near-dup of
anything seen so far" — without recomputing over the whole corpus per
micro-batch. This module implements the standard incremental-LSH-index
shape:

  per micro-batch:
    1. compute the batch's MinHash band signatures (same Carter-Wegman
       construction as batch, so signatures are identical);
    2. candidate pairs = batch x accumulated-index (cross-batch) plus
       batch x batch (within-batch), equi-joined on (band, band_sig);
    3. append the pairs to the output and the signatures to the index.

Every unordered candidate pair is emitted exactly once — in the batch
where its LATER document arrives — so a fully-drained stream produces
exactly the batch `cand` set regardless of how documents were split into
micro-batches (the oracle-checked contract, q:stream_dedup_minhash).

Scale posture: the index is a parquet table of per-batch OVERWRITE
subdirectories keyed by (band, band_sig) — at cluster scale a
Delta/Iceberg table with the same key layout, compacted periodically; the
per-batch join touches only shared-band buckets, exactly like the batch
LSH join. State never lives in executor memory, and per-batch overwrite
makes replays idempotent, so a restart resumes from the index table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_routing_spark.operators import dedup


def write_document_chunks(spark: SparkSession, sf_dir: str, out_dir: str, chunks: int = 4) -> str:
    """Split the documents table into `chunks` deterministic parquet files
    (doc_id mod chunks) so the file-source stream replays it as `chunks`
    micro-batches — the local stand-in for a Kafka/object-store feed."""
    os.makedirs(out_dir, exist_ok=True)
    pdf = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .toPandas()
    )
    for b in range(chunks):
        part = pdf[pdf["doc_id"] % chunks == b]
        part.to_parquet(os.path.join(out_dir, f"chunk_{b}.parquet"), index=False)
    return out_dir


def read_documents_stream(spark: SparkSession, chunk_dir: str) -> DataFrame:
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(chunk_dir, "chunk_*.parquet"))
    )


def _prior_batches(spark, index_dir: str, batch_id: int):
    """Index state visible to micro-batch `batch_id`: every batch=<k>
    subdirectory with k < batch_id (a crashed attempt's own batch=<id> is
    excluded, preserving replay idempotence), read through Spark's
    partition discovery — the `batch` column infers from the directory
    names, the < filter prunes at FILE-LISTING time, and no driver-side
    os.listdir touches the store (object-store-safe, unlike the previous
    POSIX listing). Returns None when no prior batch exists."""
    try:
        old = (
            spark.read.option("basePath", index_dir)
            .parquet(os.path.join(index_dir, "batch=*"))
        )
    except Exception:  # noqa: BLE001 — no batch dir yet (first micro-batch)
        return None
    old = old.filter(F.col("batch") < batch_id).drop("batch")
    return old


def compact_stream_index(spark, index_dir: str) -> None:
    """Fold a streaming batch index's accumulated batch=<id> directories
    into ONE folded generation — the small-files maintenance the dedup/ANN
    stores get from their compactors, adapted to the streaming twins'
    semantics.

    Scheme (NO renames, NO atomic swap — runs as-is on object stores):
    the folded union of every batch b in [0, max) plus any previous folded
    generation is written to a FRESH negative-id directory batch=-(g+1),
    verified by count, and only then are the source directories deleted.
    The newest batch (max id) is never folded, so a Structured Streaming
    restart replaying it still sees exactly the prior state it first saw.

    Crash-safety rests on the consumers' DUPLICATE tolerance — the
    minhash-candidate join ends in .distinct() and the curation index is
    the right side of a left_anti join, so a crash at ANY point (partial
    new generation alongside intact originals, or originals partially
    deleted after a complete generation) only ever exposes duplicated or
    already-folded rows, never missing ones. Visibility is unchanged:
    -(g+1) < N for every micro-batch N, exactly like the folded sources.

    Run it BETWEEN micro-batches (foreachBatch is sequential; schedule it
    from the same maintenance loop that owns the stream)."""
    from duckdb_routing_spark.operators.fs import DEFAULT_FS

    fs = DEFAULT_FS
    try:
        all_batches = spark.read.option("basePath", index_dir).parquet(
            os.path.join(index_dir, "batch=*")
        )
    except Exception:  # noqa: BLE001 — nothing written yet
        return
    ids = [r.batch for r in all_batches.select("batch").distinct().collect()]
    newest = max(ids)
    fold = [b for b in ids if b != newest]
    if not fold:
        return
    gen = 1 - min(0, min(fold))  # next folded generation id magnitude
    target = os.path.join(index_dir, f"batch=-{gen}")
    # materialize the union FIRST (lineage truncation): the write lands
    # inside the directory the plan scans, and a path write invalidates
    # cached plans reading it (bench-measurement lore) — a checkpointed
    # row set cannot re-list and see its own partial output
    folded = all_batches.filter(F.col("batch") != newest).drop("batch").localCheckpoint()
    expected = folded.count()
    folded.write.mode("overwrite").parquet(target)
    if spark.read.parquet(target).count() != expected:  # torn-write guard
        raise RuntimeError(f"compacted generation {target} failed verification")
    for b in fold:
        fs.delete(os.path.join(index_dir, f"batch={b}"))


def streaming_minhash_candidates(
    stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    k: int = 3,
    n_hashes: int = 12,
    band_size: int = 3,
):
    """Start the incremental-LSH query (foreachBatch). Returns the handle;
    callers drive it (processAllAvailable locally, triggers in production)
    and read the accumulated pairs from `pairs_dir`."""
    spark = stream.sparkSession

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        sigs = dedup.minhash_band_rows(
            batch_df, id_col="doc_id", text_col="text", k=k, n_hashes=n_hashes, band_size=band_size
        ).persist()
        try:
            a = sigs.select("band", "band_sig", F.col("doc_id").alias("doc_a"))
            b = sigs.select("band", "band_sig", F.col("doc_id").alias("doc_b"))
            within = a.join(b, ["band", "band_sig"]).filter(F.col("doc_a") < F.col("doc_b"))
            pairs = within.select("doc_a", "doc_b")
            old = _prior_batches(spark, index_dir, batch_id)
            if old is not None:
                cross = (
                    sigs.select("band", "band_sig", F.col("doc_id").alias("new_id"))
                    .join(old.withColumnRenamed("doc_id", "old_id"), ["band", "band_sig"])
                    .select(
                        F.least("new_id", "old_id").alias("doc_a"),
                        F.greatest("new_id", "old_id").alias("doc_b"),
                    )
                    .filter(F.col("doc_a") != F.col("doc_b"))
                )
                pairs = pairs.unionByName(cross)
            # per-batch OVERWRITE subdirectories (same idempotency mechanism
            # as streaming_curate below): a foreachBatch retry or restart
            # replay overwrites its own output and anti-joins against
            # exactly the index state it saw first — no double appends
            pairs.distinct().write.mode("overwrite").parquet(
                os.path.join(pairs_dir, f"batch={batch_id}")
            )
            sigs.write.mode("overwrite").parquet(os.path.join(index_dir, f"batch={batch_id}"))
        finally:
            sigs.unpersist()

    return stream.writeStream.outputMode("append").foreachBatch(_step).start()


def write_document_chunks_ordered(
    spark: SparkSession, sf_dir: str, out_dir: str, chunks: int = 4
) -> str:
    """Range-split the FULL documents table into doc_id-ordered chunk files
    (chunk i holds the i-th id range), so the file stream replays documents
    in id order — the arrival order that makes first-seen-wins incremental
    dedup coincide with batch keep-lowest-id (the curation oracle's rule)."""
    os.makedirs(out_dir, exist_ok=True)
    pdf = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    per = (len(pdf) + chunks - 1) // chunks
    for b in range(chunks):
        part = pdf.iloc[b * per : (b + 1) * per]
        part.to_parquet(os.path.join(out_dir, f"chunk_{b}.parquet"), index=False)
    return out_dir


def streaming_curate(
    stream: DataFrame, index_dir: str, curated_dir: str
):
    """Incremental curation (the streaming twin of the batch
    pipeline_curate flagship): per micro-batch — quality gate, keep-first
    exact dedup against the accumulated fingerprint index, deterministic
    hash split — appending only NEW survivors. With an id-ordered feed the
    drained curated table equals the batch pipeline exactly (keep-first ==
    keep-lowest-id); out-of-order feeds keep first-seen-wins semantics.

    State is the fingerprint-index parquet (fp per survivor), never
    executor memory. Both tables write per-batch SUBDIRECTORIES in
    OVERWRITE mode (batch=<id>/), so a foreachBatch retry or a restart
    replaying the last batch overwrites its own output instead of
    appending duplicates — idempotent under the at-least-once contract
    (the index read for batch N sees batches < N only, so a replay's
    anti join is computed against exactly the state it saw first). At
    cluster scale both tables are Delta/Iceberg with periodic
    compaction."""
    from duckdb_routing_spark.operators import sampling, text

    spark = stream.sparkSession

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        gated = batch_df.withColumn("quality", text.quality_score(F.col("text"))).filter(
            F.col("quality") > 0.5
        )
        within = dedup.exact_dedup_keep_first(gated)
        fp = F.md5(F.lower(F.col("text"))).alias("fp")
        keyed = within.select("*", fp)
        seen = _prior_batches(spark, index_dir, batch_id)
        if seen is not None:
            keyed = keyed.join(seen, "fp", "left_anti")
        keyed = keyed.persist()
        try:
            survivors = sampling.hash_split(keyed.drop("fp", "quality"))
            survivors.write.mode("overwrite").parquet(
                os.path.join(curated_dir, f"batch={batch_id}")
            )
            keyed.select("fp").write.mode("overwrite").parquet(
                os.path.join(index_dir, f"batch={batch_id}")
            )
        finally:
            keyed.unpersist()

    return stream.writeStream.outputMode("append").foreachBatch(_step).start()


def streaming_decontaminate(
    stream: DataFrame, eval_docs: DataFrame, kept_dir: str, threshold: float = 0.8
):
    """Continuous-ingest fuzzy decontamination against a STATIC benchmark
    set (the crawl-feed shape: filter incoming documents before they ever
    land in the training corpus). Per micro-batch: the batch's MinHash
    bands cross-join the broadcast eval bands, exact Jaccard on survivors,
    anti-join the contaminated ids away (dedup.decontaminate verbatim).

    Stateless by construction — the keep decision is a pure function of
    (document, eval set) — so the drained table equals the batch
    decontaminate() whatever the micro-batch chunking; per-batch OVERWRITE
    subdirectories keep replays idempotent like the other twins.
    persist_base=False: this loop runs forever, and a per-batch persist
    with no unpersist would accumulate cached blocks without bound."""

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        dedup.decontaminate(
            batch_df, eval_docs, threshold=threshold, persist_base=False
        ).write.mode("overwrite").parquet(os.path.join(kept_dir, f"batch={batch_id}"))

    return stream.writeStream.outputMode("append").foreachBatch(_step).start()


def streaming_ann_index(stream: DataFrame, index_dir: str,
                        id_col: str = "vec_id", vec_col: str = "embedding"):
    """Continuous vector-store ingestion: per micro-batch, assign the
    batch's vectors against the index's immutable persisted quantizer and
    append into the cell partitions (`similarity.extend_ann_index`
    verbatim). Cell assignment is a pure function of (vector, seeds), so
    the drained index serves probes byte-identically to a batch build
    under any chunking, and a foreachBatch retry overwrites its own
    (ingest_batch=<id>, cell) partitions instead of appending duplicates.
    The index must exist (`build_ann_index`, possibly on an
    empty-but-seeded corpus) before the stream starts — the quantizer is
    training-time state, not stream state."""
    from duckdb_routing_spark.operators import similarity as _sim

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        _sim.extend_ann_index(batch_df, index_dir, increment=batch_id, id_col=id_col, vec_col=vec_col)

    return stream.writeStream.outputMode("append").foreachBatch(_step).start()


def streaming_dsir_scores(
    stream: DataFrame,
    target_docs: DataFrame,
    index_dir: str,
    scores_dir: str,
    n_features: int = 512,
):
    """Continuous DSIR scoring — the streaming twin of
    selection.dsir_scores for the crawl-feed shape: documents arrive in
    micro-batches and each batch is scored AS OF its arrival.

    The target distribution is training-time state (a static high-quality
    corpus), computed once before the stream starts and reused per batch.
    The RAW distribution is the accumulated bucket-count index (batch=<id>
    subdirectories, n_features rows each) plus the current batch — so the
    log-ratio table a batch sees is exactly what batch DSIR would compute
    over the corpus drained so far. For the FINAL micro-batch that corpus
    IS the whole feed, so its scores equal the batch dsir_scores over the
    full corpus restricted to its documents (pytest-pinned equivalence,
    the same as-of contract as near_dups_against_index).

    Idempotent replays like every twin here: the index read for batch N
    sees batches < N only, and both writes are per-batch OVERWRITE
    subdirectories. State is n_features rows per batch — compact enough
    that compact_stream_index is optional housekeeping, not a necessity."""
    from duckdb_routing_spark.operators import selection

    spark = stream.sparkSession
    # one-time: the target side of the log ratio (lineage-truncated so the
    # per-batch plans don't drag an arbitrary upstream DAG along forever)
    tgt_dist = selection.bucket_distribution(target_docs, n_features).localCheckpoint()

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        counts = selection.hashed_bucket_counts(batch_df, n_features).persist()
        try:
            batch_dist = counts.groupBy("bucket").agg(F.sum("cnt").alias("c"))
            prior = _prior_batches(spark, index_dir, batch_id)
            raw = (
                batch_dist
                if prior is None
                else batch_dist.unionByName(prior).groupBy("bucket").agg(F.sum("c").alias("c"))
            )
            lam = selection.dsir_log_ratio_table(raw, tgt_dist, n_features)
            scores = (
                counts.join(F.broadcast(lam), "bucket")
                .groupBy("doc_id")
                .agg(
                    F.sum("cnt").alias("n_grams"),
                    F.sum(F.col("cnt") * F.col("lam_mu")).alias("score_mu"),
                )
            )
            scores.write.mode("overwrite").parquet(
                os.path.join(scores_dir, f"batch={batch_id}")
            )
            batch_dist.write.mode("overwrite").parquet(
                os.path.join(index_dir, f"batch={batch_id}")
            )
        finally:
            counts.unpersist()

    return stream.writeStream.outputMode("append").foreachBatch(_step).start()


def streaming_shard_export(
    stream: DataFrame, out_dir: str, n_shards: int, key_col: str = "doc_id", salt: str = "shard"
):
    """Continuous training-shard ingestion — the streaming twin of
    shard.write_training_shards. Shard assignment is a pure function of the
    row key (operators/shard.py), so a document's shard NEVER depends on
    how the feed was chunked into micro-batches: the drained table is
    row-identical to the batch export, whatever the arrival order.

    Per micro-batch the rows land in batch=<id>/shard_id=K/ parquet,
    overwritten per batch id — the same idempotent-replay layout as
    streaming_curate (an at-least-once replay overwrites its own output).
    Files cannot maintain a global order under continuous append, so the
    read order is a property of the KEY, not the layout: a consumer of
    shard K sorts its files on shard_key to replay the deterministic
    permutation, and the batch manifest (min/max key per shard) still
    serves as the resume cursor."""
    import os as _os

    from duckdb_routing_spark.operators import shard as _shard

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        (
            _shard.assign_shards(batch_df, n_shards, key_col, salt)
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(_os.path.join(out_dir, f"batch={batch_id}"))
        )

    return stream.writeStream.outputMode("append").foreachBatch(_step).start()


def reduce_cdc_batch(df: DataFrame, id_col: str, op_col: str, seq_col: str) -> DataFrame:
    """Collapse a CDC micro-batch to one FINAL operation per id: the row
    with the highest sequence number wins (a changelog can carry
    upsert->delete->upsert chains for one id inside a single batch).
    Sequence numbers must be unique per id — ties break on op to stay
    deterministic ('upsert' > 'delete'), but relying on that means the
    changelog is broken upstream."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc(seq_col), F.desc(op_col))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def streaming_ann_sync(
    stream: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "op",
    seq_col: str | None = None,
    meta_cols: list[str] | None = None,
):
    """CDC-driven vector-store maintenance: each micro-batch carries
    'upsert' and 'delete' operations; deletes retire every existing copy
    (copy-on-write over the affected partitions), upserts replace-or-insert
    under (ingest_batch=<micro-batch id>). The drained store serves probes
    byte-identically to a batch build over the NET corpus (pytest-pinned)
    because assignment is a pure function of (vector, seeds) and
    delete/upsert are state-free rewrites.

    Replay contract (foreachBatch is at-least-once): deletes are
    idempotent no-ops on already-rewritten partitions, and the upsert's
    extension dynamic-overwrites its own (ingest_batch, cell) partitions —
    a crashed batch replays to the same final state. Single-writer like
    every maintenance call on the store; the index (and its immutable
    quantizer) must exist before the stream starts. On a store built with
    `meta_cols`, pass the SAME meta_cols here (the upsert stream must carry
    those columns) — the schema-drift guard rejects a mismatch."""
    from duckdb_routing_spark.operators import similarity as _sim

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        df = batch_df
        if seq_col:
            df = reduce_cdc_batch(df, id_col, op_col, seq_col)
        dels = df.where(F.col(op_col) == "delete").select(_sim._quoted(id_col))
        ups = df.where(F.col(op_col) == "upsert").select(
            *(_sim._quoted(c) for c in (id_col, vec_col, *(meta_cols or [])))
        )
        _sim.delete_from_ann_index(spark, index_dir, dels, id_col=id_col)
        _sim.upsert_ann_index(
            ups, index_dir, increment=batch_id, id_col=id_col, vec_col=vec_col,
            meta_cols=meta_cols,
        )

    return stream.writeStream.outputMode("append").foreachBatch(_step).start()


def streaming_scd2(
    stream: DataFrame,
    dim_dir: str,
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
    tiebreak_col: str | None = None,
    dim_fs=None,
):
    """Continuously maintained SCD2 dimension: each micro-batch of changelog
    rows folds into the persisted dimension via `scd2_apply_delta` — only
    the batch's keys rebuild, so a micro-batch costs O(|its keys' history| +
    |batch|) whatever the dimension's size.

    Storage is the generation + atomic-pointer shape from operators/fs.py
    (object-store safe, no renames): each applied batch writes generation
    N+1 and atomically PUTs the pointer {dir, batch}. The pointer's batch id
    makes replays EXACT no-ops — foreachBatch is at-least-once, and a
    replayed batch id <= the pointer's is skipped before any work, so the
    out-of-order validation inside scd2_apply_delta never sees a replay.
    A crash between the generation write and the PUT leaves the old
    generation live; the retry rewrites and commits.

    Event-time contract: micro-batches must arrive append-only per key
    (the streaming source's natural order); scd2_apply_delta's validate
    pass rejects a violating key loudly rather than mis-folding."""
    import json as _json
    import os as _os

    from duckdb_routing_spark.operators.fs import DEFAULT_FS, _ptr_path
    from duckdb_routing_spark.operators.scd import scd2_apply_delta, scd2_from_changelog

    fs = dim_fs or DEFAULT_FS

    def _state():
        ptr = _ptr_path(dim_dir)
        if fs.exists(ptr):
            st = _json.loads(fs.read(ptr).decode("utf-8"))
            return _os.path.join(_os.path.dirname(dim_dir), st["dir"]), int(st["batch"])
        return None, -1

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        live, last = _state()
        if batch_id <= last:
            return  # replayed batch: already folded, exact no-op
        if live is None:
            # emit_last_seen: the persisted dim carries each run's last
            # observation, so every later fold's append-only validation is
            # STRICT (vs last observation, not just last change point)
            new_dim = scd2_from_changelog(
                batch_df, key_col, ts_col, attr_cols, tiebreak_col,
                emit_last_seen=True,
            )
        else:
            dim = spark.read.parquet(live)
            new_dim = scd2_apply_delta(
                dim, batch_df, key_col, ts_col, attr_cols, tiebreak_col
            )
        gen = _os.path.basename(dim_dir) + f"__g{batch_id}"
        staged = _os.path.join(_os.path.dirname(dim_dir), gen)
        fs.delete(staged)  # a crashed earlier attempt's partial write
        new_dim.write.mode("overwrite").parquet(staged)
        fs.put_atomic(
            _ptr_path(dim_dir),
            _json.dumps({"dir": gen, "batch": batch_id}).encode("utf-8"),
        )
        if live is not None and live != staged:
            fs.delete(live)  # best-effort GC; orphans are unreferenced

    return stream.writeStream.outputMode("append").foreachBatch(_step).start()


def read_scd2_dim(spark, dim_dir: str, dim_fs=None) -> DataFrame:
    """Read the current generation of a streaming-maintained SCD2 dimension."""
    from duckdb_routing_spark.operators.fs import live_table_dir

    return spark.read.parquet(live_table_dir(dim_dir, dim_fs))


def streaming_delta_sink(
    stream: DataFrame,
    table: str,
    app_id: str,
    partition_by: list[str] | None = None,
):
    """Continuous ingestion into a Delta table through the minimal
    protocol writer (sources/deltalog.py): each micro-batch commits as one
    append carrying the protocol's `txn` action (appId = `app_id`,
    version = micro-batch id), so at-least-once foreachBatch replays are
    EXACT no-ops — the same exactly-once contract the real Delta streaming
    sink provides, and the delta-native twin of the generation+pointer
    sinks above. Readers get snapshot isolation + time travel for free
    (deltalog.read_delta)."""
    from duckdb_routing_spark.sources import deltalog as _dl

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        _dl.write_delta(
            batch_df, table, mode="append", partition_by=partition_by,
            txn=(app_id, batch_id),
        )

    return stream.writeStream.outputMode("append").foreachBatch(_step).start()
