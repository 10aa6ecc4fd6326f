"""Streaming layer tests: batch/stream parity and the stateful sessionizer's
agreement with the SQL-window batch sessionization."""

from pyspark.sql import functions as F

from duckdb_routing_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE


def test_stream_hourly_equals_batch(spark):
    streamed = REGISTRY["stream_hourly"].fn(spark, SF_SMOKE).toPandas()
    batch = (
        REGISTRY["events_hourly"].fn(spark, SF_SMOKE).select("hour", "event_type", "n_events").toPandas()
    )
    s = streamed[["hour", "event_type", "n_events"]].sort_values(["hour", "event_type"]).reset_index(drop=True)
    b = batch.sort_values(["hour", "event_type"]).reset_index(drop=True)
    assert s.equals(b), "drained stream != batch aggregation"


def test_stateful_sessionizer_agrees_with_batch_windows(spark):
    """Closed sessions from the stateful op + the open session per user must
    equal the batch sessionize counts (sessions per user)."""
    closed = REGISTRY["stream_sessionize_stateful"].fn(spark, SF_SMOKE)
    batch = REGISTRY["events_sessionize"].fn(spark, SF_SMOKE)
    closed_per_user = closed.groupBy("user_id").agg(F.count("*").alias("n_closed"))
    joined = batch.join(closed_per_user, "user_id", "left").na.fill(0, ["n_closed"]).collect()
    for r in joined:
        # every user has exactly one open (unemitted) session at end of stream
        assert r.n_sessions == r.n_closed + 1, f"user {r.user_id}: {r.n_sessions} vs {r.n_closed}+1"


def test_foreach_batch_parquet_sink(spark, tmp_path):
    """foreachBatch sink: every micro-batch lands as parquet; the union of
    batches equals the full source table."""
    import os

    from duckdb_routing_spark.streaming import events as ev
    from tests.conftest import SF_ORACLE

    out_dir = str(tmp_path / "sink")
    stream = ev.read_events_stream(spark, SF_ORACLE).select("event_id", "user_id")
    q = ev.run_stream_foreach_batch(stream, out_dir)
    q.stop()
    batches = [d for d in os.listdir(out_dir) if d.startswith("batch=")]
    assert len(batches) >= 1
    got = spark.read.parquet(os.path.join(out_dir, "batch=*")).count()
    want = spark.read.parquet(f"{SF_ORACLE}/events.parquet").count()
    assert got == want


def test_streaming_dedup_on_doubled_stream(spark):
    """Watermarked dropDuplicates must collapse an exploded 2x stream back
    to the batch DISTINCT cardinality."""
    import uuid

    from pyspark.sql import functions as F

    from duckdb_routing_spark.streaming import events as ev
    from tests.conftest import SF_SMOKE

    name = f"dedup_{uuid.uuid4().hex[:8]}"
    raw = ev.read_events_stream(spark, SF_SMOKE)
    doubled = raw.withColumn("_c", F.explode(F.array(F.lit(1), F.lit(2)))).drop("_c")
    q = ev.run_stream_to_memory(ev.streaming_dedup_exact(doubled), name)
    try:
        got = spark.table(name).count()
    finally:
        q.stop()
    from duckdb_routing_spark.queries.registry import table

    want = (
        table(spark, SF_SMOKE, "events")
        .selectExpr("user_id", "ts AS tsu", "event_type")
        .distinct()
        .count()
    )
    assert got == want


def test_interval_join_multibatch_equals_batch(spark, tmp_path):
    """Stream-stream interval join across 4 REAL micro-batches (chronological
    file chunks) must equal the batch interval join: with chronologically
    ordered input nothing is ever late, so watermark eviction may not drop a
    single match — batch-boundary independence is the contract."""
    import os
    import time

    from duckdb_routing_spark.queries.registry import table
    from duckdb_routing_spark.streaming import events as ev

    pdf = table(spark, SF_SMOKE, "events").toPandas().sort_values("ts").reset_index(drop=True)
    chunk_dir = tmp_path / "chunks"
    chunk_dir.mkdir()
    n = len(pdf)
    for b in range(4):
        part = pdf.iloc[b * n // 4 : (b + 1) * n // 4]
        p = str(chunk_dir / f"chunk_{b}.parquet")
        # microsecond physical type: the session reads INT64-nanos as long
        # (nanosAsLong), which would clash with the declared timestamp schema
        part.to_parquet(p, index=False, coerce_timestamps="us")
        # file-stream source orders files by mtime: force chronological replay
        os.utime(p, (time.time() + b, time.time() + b))

    def read_chunked():
        raw = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(chunk_dir / "chunk_*.parquet"))
        )
        return raw

    stream = ev.streaming_view_purchase_join(
        read_chunked().filter(F.col("event_type") == "view"),
        read_chunked().filter(F.col("event_type") == "purchase"),
    )
    q = ev.run_stream_to_memory(stream, "ivj_chunks", output_mode="append")
    try:
        got = spark.table("ivj_chunks").toPandas()
    finally:
        q.stop()
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 3, "expected >= 4 micro-batches"

    events = table(spark, SF_SMOKE, "events")
    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    want = (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("view_ts") <= F.col("purchase_ts"))
            & (F.col("view_ts") > F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
        )
        .select(
            "purchase_id",
            "view_id",
            "user_id",
            (F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("view_ts"))).alias("lag_us"),
        )
        .toPandas()
    )
    key = ["purchase_id", "view_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) > 0
    assert got[key + ["user_id", "lag_us"]].equals(want[key + ["user_id", "lag_us"]])


def test_streaming_curate_replay_is_idempotent(spark, tmp_path):
    """Restart-without-checkpoint replays every batch; per-batch overwrite
    subdirectories must make the second pass a no-op (identical curated
    accounting, no double-appended survivors)."""
    import os

    from duckdb_routing_spark.streaming import docs as sd
    from tests.conftest import SF_SMOKE

    chunk_dir = sd.write_document_chunks_ordered(spark, SF_SMOKE, str(tmp_path / "in"), chunks=3)
    index_dir, curated_dir = str(tmp_path / "index"), str(tmp_path / "curated")

    def run_once():
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(chunk_dir, "chunk_*.parquet"))
        )
        q = sd.streaming_curate(stream, index_dir, curated_dir)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(curated_dir)
            .groupBy("split", "lang")
            .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
            .orderBy("split", "lang")
            .collect()
        )

    first = run_once()
    second = run_once()  # full replay, no checkpoint
    assert [tuple(r) for r in first] == [tuple(r) for r in second]


def test_streaming_shard_export_equals_batch(spark, tmp_path):
    """Shard assignment is a pure row function, so the drained streaming
    export must be row-identical to the batch shard assignment regardless
    of micro-batch chunking, and a full no-checkpoint replay must be a
    no-op (per-batch overwrite layout)."""
    import os

    from duckdb_routing_spark.operators import shard
    from duckdb_routing_spark.streaming import docs as sd
    from tests.conftest import SF_SMOKE

    chunk_dir = sd.write_document_chunks(spark, SF_SMOKE, str(tmp_path / "in"), chunks=3)
    out_dir = str(tmp_path / "shards")

    def run_once():
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(chunk_dir, "chunk_*.parquet"))
        )
        q = sd.streaming_shard_export(stream, out_dir, n_shards=4)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # plain partition discovery surfaces batch= and shard_id= dirs as
        # columns (recursiveFileLookup would strip them)
        return spark.read.parquet(out_dir).select("doc_id", "shard_key", "shard_id")

    drained = run_once()
    batch = shard.assign_shards(
        spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet")), 4
    ).select("doc_id", "shard_key", "shard_id")
    assert drained.count() == batch.count() > 0
    assert drained.exceptAll(batch).count() == 0
    assert batch.exceptAll(drained).count() == 0

    replay = run_once()  # full replay, no checkpoint
    assert replay.count() == batch.count()
    assert replay.exceptAll(batch).count() == 0


def test_streaming_decontaminate_equals_batch(spark, tmp_path):
    """The keep decision is a pure function of (document, eval set), so the
    drained stream must be row-identical to batch decontaminate() whatever
    the micro-batch chunking."""
    import os

    from duckdb_routing_spark.operators import dedup
    from duckdb_routing_spark.streaming import docs as sd
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    ev = docs.filter("doc_id % 23 = 0").select("doc_id", "text")

    chunk_dir = sd.write_document_chunks(spark, SF_SMOKE, str(tmp_path / "in"), chunks=3)
    kept_dir = str(tmp_path / "kept")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(chunk_dir, "chunk_*.parquet"))
    )
    q = sd.streaming_decontaminate(stream, ev, kept_dir, threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    drained = spark.read.parquet(kept_dir).select("doc_id")
    batch = dedup.decontaminate(docs.select("doc_id", "text"), ev, threshold=0.8).select("doc_id")
    assert drained.count() == batch.count() > 0
    assert drained.exceptAll(batch).count() == 0
    assert batch.exceptAll(drained).count() == 0


def test_streaming_quantile_sample_equals_batch(spark, tmp_path):
    """Bottom-k is order-independent and exactly mergeable, so the drained
    streaming sketch must be BYTE-identical to the batch sketch over the
    whole feed, under any micro-batch chunking."""
    import os

    from duckdb_routing_spark.operators.sketch import quantile_sample
    from duckdb_routing_spark.streaming import events as se
    from tests.conftest import SF_SMOKE

    events = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).select(
        "event_id", "value"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for b in range(3):
        events.filter(f"event_id % 3 = {b}").coalesce(1).write.parquet(
            str(in_dir / f"chunk_{b}.parquet")
        )
    state_dir = str(tmp_path / "state")
    stream = (
        spark.readStream.schema("event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "chunk_*.parquet"))
    )
    q = se.streaming_quantile_sample(stream, state_dir, k=128)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    drained = se.read_quantile_state(spark, state_dir, k=128).collect()
    batch = quantile_sample(events, "value", "event_id", k=128).collect()
    assert [(r.hkey, r.value) for r in drained] == [(r.hkey, r.value) for r in batch]


def test_streaming_ann_index_equals_batch_build(spark, tmp_path):
    """Cell assignment is a pure function of (vector, seeds), so probes
    over the drained streaming index must be byte-identical to a batch
    build with the same quantizer."""
    from pyspark.sql import functions as F

    from duckdb_routing_spark.operators import similarity
    from duckdb_routing_spark.streaming import docs as sd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    streamed, whole = str(tmp_path / "streamed"), str(tmp_path / "whole")
    # seed-only bootstrap: build on an empty slice, then ingest everything
    similarity.build_ann_index(emb.filter("vec_id < 0"), streamed, seeds=seeds)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for b in range(3):
        emb.filter(f"vec_id % 3 = {b}").coalesce(1).write.parquet(str(in_dir / f"chunk_{b}.parquet"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "chunk_*.parquet"))
    )
    q = sd.streaming_ann_index(stream, streamed)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    similarity.build_ann_index(emb, whole, seeds=seeds)
    queries = emb.filter("vec_id < 3")
    a = [(r.query_id, r.vec_id, r.cosine, r.rank)
         for r in similarity.ann_query_index(spark, streamed, queries, k=10, n_probe=2).collect()]
    b = [(r.query_id, r.vec_id, r.cosine, r.rank)
         for r in similarity.ann_query_index(spark, whole, queries, k=10, n_probe=2).collect()]
    assert a == b and len(a) == 30


def test_compact_stream_index_preserves_visible_state(spark, tmp_path):
    """Folding a streaming batch index must be invisible to future (and
    replayed-last) micro-batches: the distinct prior-state row set for any
    next batch id is identical before and after compaction, the newest
    batch dir survives unfolded, and a simulated crash (partial folded
    generation beside intact originals) only duplicates rows."""
    import os

    from duckdb_routing_spark.streaming import docs as sd
    from duckdb_routing_spark.streaming.docs import _prior_batches, compact_stream_index

    chunk_dir = sd.write_document_chunks_ordered(spark, SF_SMOKE, str(tmp_path / "in"), chunks=4)
    index_dir, pairs_dir = str(tmp_path / "idx"), str(tmp_path / "pairs")
    q = sd.streaming_minhash_candidates(
        sd.read_documents_stream(spark, chunk_dir), index_dir, pairs_dir
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def visible(next_id):
        df = _prior_batches(spark, index_dir, next_id)
        return sorted(map(tuple, df.distinct().collect())) if df is not None else []

    dirs = sorted(d for d in os.listdir(index_dir) if d.startswith("batch="))
    assert len(dirs) >= 3  # several micro-batches accumulated
    newest = max(int(d.split("=")[1]) for d in dirs)
    before_next = visible(newest + 1)
    before_replay = visible(newest)  # what a replayed newest batch saw

    compact_stream_index(spark, index_dir)
    dirs2 = sorted(d for d in os.listdir(index_dir) if d.startswith("batch="))
    assert dirs2 == ["batch=-1", f"batch={newest}"]
    assert visible(newest + 1) == before_next
    assert visible(newest) == before_replay

    # crash simulation: a partial folded generation appears while the
    # originals are still present — readers may only see DUPLICATES
    import shutil

    partial = os.path.join(index_dir, "batch=-2")
    shutil.copytree(os.path.join(index_dir, "batch=-1"), partial)
    for f in sorted(os.listdir(partial))[1:]:
        if not f.startswith("part-"):
            continue
        os.remove(os.path.join(partial, f))  # tear it: drop trailing parts
    assert visible(newest + 1) == before_next  # distinct() absorbs dupes
    shutil.rmtree(partial)

    # second compaction folds the folded generation itself (idempotent set)
    compact_stream_index(spark, index_dir)
    assert visible(newest + 1) == before_next


def test_streaming_ann_sync_equals_net_batch_build(spark, tmp_path):
    """CDC maintenance drained == batch build over the NET corpus: inserts,
    vector updates and deletes arriving across micro-batches leave the
    store probe-identical to a from-scratch build carrying only the final
    state (same immutable quantizer)."""
    from pyspark.sql import functions as F

    from duckdb_routing_spark.operators import similarity
    from duckdb_routing_spark.streaming import docs as sd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    synced, net_dir = str(tmp_path / "synced"), str(tmp_path / "net")
    base = emb.filter("vec_id % 2 = 0")
    similarity.build_ann_index(base, synced, seeds=seeds)

    upd = emb.filter("vec_id IN (0, 2)").select("vec_id", F.reverse("embedding").alias("embedding"))
    chunks = [
        # batch 0: insert the odd slice
        emb.filter("vec_id % 2 = 1").select("vec_id", "embedding", F.lit("upsert").alias("op")),
        # batch 1: update vectors 0 and 2, delete 4 and 6
        upd.select("vec_id", "embedding", F.lit("upsert").alias("op")).unionByName(
            spark.createDataFrame([(4,), (6,)], "vec_id long")
            .select("vec_id", F.lit(None).cast("array<float>").alias("embedding"), F.lit("delete").alias("op"))
        ),
        # batch 2: delete 1, re-insert 3 unchanged (a no-op upsert)
        spark.createDataFrame([(1,)], "vec_id long")
        .select("vec_id", F.lit(None).cast("array<float>").alias("embedding"), F.lit("delete").alias("op"))
        .unionByName(emb.filter("vec_id = 3").select("vec_id", "embedding", F.lit("upsert").alias("op"))),
    ]
    in_dir = tmp_path / "cdc_in"
    in_dir.mkdir()
    for b, ch in enumerate(chunks):
        ch.coalesce(1).write.parquet(str(in_dir / f"chunk_{b}.parquet"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "chunk_*.parquet"))
    )
    q = sd.streaming_ann_sync(stream, synced)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    net = (
        base.filter("vec_id NOT IN (0, 2, 4, 6)")
        .unionByName(emb.filter("vec_id % 2 = 1 AND vec_id <> 1"))
        .unionByName(upd)
    )
    similarity.build_ann_index(net, net_dir, seeds=seeds)
    queries = emb.filter("vec_id IN (10, 11, 12)")
    a = [tuple(r) for r in similarity.ann_query_index(spark, synced, queries, k=10, n_probe=2).collect()]
    b = [tuple(r) for r in similarity.ann_query_index(spark, net_dir, queries, k=10, n_probe=2).collect()]
    assert a == b and len(a) == 30
    alive = {r.vec_id for r in spark.read.parquet(f"{synced}/cells").select("vec_id").collect()}
    assert {1, 4, 6}.isdisjoint(alive) and {0, 2, 3} <= alive


def test_reduce_cdc_batch_last_op_wins(spark):
    from duckdb_routing_spark.streaming.docs import reduce_cdc_batch

    df = spark.createDataFrame(
        [(7, "upsert", 1), (7, "delete", 2), (8, "delete", 1), (8, "upsert", 5), (9, "upsert", 3)],
        "vec_id long, op string, seq long",
    )
    got = {r.vec_id: r.op for r in reduce_cdc_batch(df, "vec_id", "op", "seq").collect()}
    assert got == {7: "delete", 8: "upsert", 9: "upsert"}


def test_streaming_scd2_equals_batch_build(spark, tmp_path):
    """Drained streaming SCD2 == batch scd2_from_changelog over the whole
    changelog; a no-checkpoint replay is an exact no-op (pointer batch id);
    the storage is pointer-committed so it runs on rename-less stores."""
    from pyspark.sql import functions as F

    from duckdb_routing_spark.operators.fs import RenamelessFS
    from duckdb_routing_spark.operators.scd import scd2_from_changelog
    from duckdb_routing_spark.streaming import docs as sd

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_custkey", F.col("o_orderdate").alias("ts"), "o_orderkey", "o_orderstatus"
    )
    # chronological thirds: append-only per key across micro-batches
    lo, hi = orders.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    in_dir = tmp_path / "scd_in"
    in_dir.mkdir()
    bounds = [lo + span, lo + 2 * span]
    chunks = [
        orders.filter(F.col("ts") < bounds[0]),
        orders.filter((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
        orders.filter(F.col("ts") >= bounds[1]),
    ]
    for b, ch in enumerate(chunks):
        ch.coalesce(1).write.parquet(str(in_dir / f"chunk_{b}.parquet"))
    dim_dir = str(tmp_path / "dim")
    fs = RenamelessFS()

    def run_stream():
        stream = (
            spark.readStream.schema("o_custkey long, ts timestamp, o_orderkey long, o_orderstatus string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "chunk_*.parquet"))
        )
        q = sd.streaming_scd2(
            stream, dim_dir, "o_custkey", "ts", ["o_orderstatus"],
            tiebreak_col="o_orderkey", dim_fs=fs,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_stream()
    want = scd2_from_changelog(orders, "o_custkey", "ts", ["o_orderstatus"], tiebreak_col="o_orderkey")
    canon = lambda df: sorted(map(tuple, df.select(
        "o_custkey", "o_orderstatus", "valid_from", "valid_to", "version", "is_current"
    ).collect()))
    got = canon(sd.read_scd2_dim(spark, dim_dir, dim_fs=fs))
    assert got == canon(want) and len(got) > 0

    # full no-checkpoint replay: every batch id <= the pointer's -> no-op
    run_stream()
    assert canon(sd.read_scd2_dim(spark, dim_dir, dim_fs=fs)) == got


def test_streaming_scd2_recovers_from_torn_generation(spark, tmp_path):
    """A crash after writing generation files but before the pointer PUT
    leaves a torn staged dir; the replayed batch must clear it and commit a
    complete generation — results equal the clean run."""
    import os

    from pyspark.sql import functions as F

    from duckdb_routing_spark.operators.scd import scd2_from_changelog
    from duckdb_routing_spark.streaming import docs as sd

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_custkey", F.col("o_orderdate").alias("ts"), "o_orderkey", "o_orderstatus"
    )
    in_dir = tmp_path / "torn_in"
    in_dir.mkdir()
    orders.coalesce(1).write.parquet(str(in_dir / "chunk_0.parquet"))
    dim_dir = str(tmp_path / "dim")
    # simulate the crashed earlier attempt: partial generation, NO pointer
    torn = tmp_path / "dim__g0"
    torn.mkdir()
    (torn / "part-junk.parquet").write_bytes(b"not parquet")
    stream = (
        spark.readStream.schema("o_custkey long, ts timestamp, o_orderkey long, o_orderstatus string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "chunk_*.parquet"))
    )
    q = sd.streaming_scd2(stream, dim_dir, "o_custkey", "ts", ["o_orderstatus"], tiebreak_col="o_orderkey")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = scd2_from_changelog(
        orders, "o_custkey", "ts", ["o_orderstatus"], tiebreak_col="o_orderkey",
        emit_last_seen=True,
    )
    got = sd.read_scd2_dim(spark, dim_dir).select(*want.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert not os.path.exists(str(torn / "part-junk.parquet"))


def test_streaming_ann_sync_with_meta_cols(spark, tmp_path):
    """CDC sync on a METADATA-carrying store (the ADVICE round-7 gap):
    meta_cols forwards through upsert, so the drained store still serves
    filtered probes identical to a net-corpus rebuild."""
    from pyspark.sql import functions as F

    from duckdb_routing_spark.operators import similarity
    from duckdb_routing_spark.streaming import docs as sd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    synced, net_dir = str(tmp_path / "msynced"), str(tmp_path / "mnet")
    base = emb.filter("vec_id % 2 = 0")
    similarity.build_ann_index(base, synced, seeds=seeds, meta_cols=["label"])

    chunks = [
        emb.filter("vec_id % 2 = 1").select(
            "vec_id", "embedding", "label", F.lit("upsert").alias("op")
        ),
        spark.createDataFrame([(4,), (6,)], "vec_id long").select(
            "vec_id",
            F.lit(None).cast("array<float>").alias("embedding"),
            # the store carries label as INT (the fixture's type); a LONG
            # here would write INT64 partitions into an INT32 store
            F.lit(None).cast("int").alias("label"),
            F.lit("delete").alias("op"),
        ),
    ]
    in_dir = tmp_path / "mcdc_in"
    in_dir.mkdir()
    for b, ch in enumerate(chunks):
        ch.coalesce(1).write.parquet(str(in_dir / f"chunk_{b}.parquet"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "chunk_*.parquet"))
    )
    q = sd.streaming_ann_sync(stream, synced, meta_cols=["label"])
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    net = base.filter("vec_id NOT IN (4, 6)").unionByName(emb.filter("vec_id % 2 = 1"))
    similarity.build_ann_index(net, net_dir, seeds=seeds, meta_cols=["label"])
    queries = emb.filter("vec_id IN (10, 11, 12)")
    a = [tuple(r) for r in similarity.ann_query_index(
        spark, synced, queries, k=10, n_probe=2, filter_expr="label = 1"
    ).collect()]
    b = [tuple(r) for r in similarity.ann_query_index(
        spark, net_dir, queries, k=10, n_probe=2, filter_expr="label = 1"
    ).collect()]
    # and both equal the in-memory filtered-corpus IVF (filtering commutes
    # with cell assignment); the label filter can leave a query with fewer
    # than k in-cell matches, so the count is whatever the kernel says
    want = [
        (r.query_id, r.vec_id, r.cosine, r.rank)
        for r in similarity.ivf_topk(
            net.filter("label = 1"), queries, k=10, n_probe=2, seeds=seeds
        ).collect()
    ]
    assert a == b == want and len(a) >= 20


def test_streaming_ann_sync_quotes_meta_cols(spark, tmp_path):
    """A metadata column whose name needs backticks (`src.lang`) rides
    through the CDC sync as one column: the drained store holds the same
    rows as a batch build over the net corpus and serves the same filtered
    probe."""
    from duckdb_routing_spark.operators import similarity
    from duckdb_routing_spark.streaming import docs as sd

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding",
        F.when(F.col("label") == 1, "en").otherwise("de").alias("src.lang"),
    )
    seeds = (
        emb.orderBy("vec_id").limit(8)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("svec"))
    )
    synced, net_dir = str(tmp_path / "qsynced"), str(tmp_path / "qnet")
    base = emb.filter("vec_id % 2 = 0")
    similarity.build_ann_index(base, synced, seeds=seeds, meta_cols=["src.lang"])

    chunks = [
        emb.filter("vec_id % 2 = 1").withColumn("op", F.lit("upsert")),
        spark.createDataFrame([(4,), (6,)], "vec_id long").select(
            "vec_id",
            F.lit(None).cast("array<float>").alias("embedding"),
            F.lit(None).cast("string").alias("src.lang"),
            F.lit("delete").alias("op"),
        ),
    ]
    in_dir = tmp_path / "qcdc_in"
    in_dir.mkdir()
    for b, ch in enumerate(chunks):
        ch.coalesce(1).write.parquet(str(in_dir / f"chunk_{b}.parquet"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, `src.lang` string, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "chunk_*.parquet"))
    )
    q = sd.streaming_ann_sync(stream, synced, meta_cols=["src.lang"])
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    net = base.filter("vec_id NOT IN (4, 6)").unionByName(emb.filter("vec_id % 2 = 1"))
    similarity.build_ann_index(net, net_dir, seeds=seeds, meta_cols=["src.lang"])

    def rows(path):
        return sorted(
            tuple(r) for r in spark.read.parquet(path + "/cells").select("vec_id", "`src.lang`").collect()
        )

    assert rows(synced) == rows(net_dir) and len(rows(synced)) == net.count()
    queries = emb.filter("vec_id IN (10, 11, 12)")
    a, b = (
        [tuple(r) for r in similarity.ann_query_index(
            spark, d, queries, k=10, n_probe=2, filter_expr="`src.lang` = 'en'"
        ).collect()]
        for d in (synced, net_dir)
    )
    assert a == b and a
