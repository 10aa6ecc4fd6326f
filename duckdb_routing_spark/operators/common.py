"""Shared plan-shaping helpers for the operator family."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def swap_compacted_dir(live: str) -> tuple[str, "object"]:
    """Crash-safe staged-rewrite support for the index compactors.

    POSIX-rename form only — superseded as the compactors' entry point by
    operators.fs.swap_in_compacted, which additionally supports rename-less
    object stores via a generation-directory + atomic-pointer commit.
    Kept as the minimal primitive (and its pure-fs contract test).

    Returns (staging_path, finish) — callers write the compacted copy to
    staging_path, then call finish() to swap it in. Entry RECOVERS from a
    previous crash first: a lone <live>.old (died between the two renames)
    is renamed back to live, and stale .old/.compacting debris is removed,
    so the operation is always re-runnable. The two-rename window is the
    residual non-atomicity of a plain filesystem; a lakehouse table makes
    the swap a metadata commit."""
    import os
    import shutil

    staged, old = live + ".compacting", live + ".old"
    if not os.path.exists(live) and os.path.exists(old):
        os.rename(old, live)  # crashed between renames: .old IS the index
    for stale in (staged, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    def finish() -> None:
        os.rename(live, old)
        os.rename(staged, live)
        shutil.rmtree(old)

    return staged, finish


def dataset_bytes(path: str) -> int:
    """Total bytes of a parquet dataset, whether a single file or a
    Spark-written DIRECTORY of part files.

    os.path.getsize() on a directory returns the inode size (~4 KB), which
    made size-dispatched operators pick their bounded single-task path for
    arbitrarily large directory datasets — a one-task funnel at scale."""
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def literal_df(spark, rows: list, ddl: str) -> DataFrame:
    """Small literal input as a one-partition Catalyst plan instead of
    `createDataFrame(rows, ddl)`.

    createDataFrame(list) parallelizes a pickled RDD: the plan gets a
    `Scan ExistingRDD` leaf whose rows re-cross py4j + pickle on EVERY
    action, and feeding a Python UDF stage from it measured ~0.25 s of
    fixed per-action overhead at bench scale (route_travel_time interleaved
    A/B: 0.376 -> 0.115 s min after this change). Building the same rows as
    an explode() over literal structs keeps them inside the JVM as a
    Catalyst expression — no RDD, no pickling, one partition with no
    repartition exchange.

    Output schema matches createDataFrame's (nullable columns included —
    the `when(True, _)` wrapper restores nullability that lit() would
    drop, so downstream schema hashes are byte-identical). Only for small
    driver-side literal inputs (query fixtures); data-sized inputs keep
    the Arrow createDataFrame path."""
    from pyspark.sql import functions as F

    st = spark.createDataFrame([], ddl).schema
    if not rows:
        return spark.createDataFrame([], ddl)
    structs = [
        F.struct(
            *[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, st.fields)]
        )
        for row in rows
    ]
    exploded = spark.range(1, numPartitions=1).select(
        F.explode(F.array(*structs)).alias("_r")
    )
    return exploded.select(
        *[
            F.when(F.lit(True), F.col(f"_r.{f.name}")).alias(f.name)
            for f in st.fields
        ]
    )


def spread_small_scan(df: DataFrame, key: str) -> DataFrame:
    """Repartition a narrow input up to default parallelism before heavy
    row-local work (shingle explode + md5, Arrow-batched vector kernels).

    A small parquet file is often ONE row group -> ONE Spark task, so the
    expensive map would run single-threaded no matter how many cores exist
    (measured: 3.1 s -> 0.5 s for the sf0.1 shingle base on local[32]).
    At cluster scale the scan already has >= parallelism splits and this is
    a structural no-op — the condition below never fires, so the corpus is
    NOT gratuitously reshuffled at 100 TB."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(key))
    return df
