"""SparkSession construction tuned for this engine.

Defaults follow the large-cluster posture (AQE on, Arrow on, sane shuffle
partition counts) while remaining correct for local[N] testing. Timezone is
pinned to UTC so timestamp semantics agree with the DuckDB oracle
(DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

# zipimporter.invalidate_caches as this module found it (the stdlib method,
# also when the module is reloaded after the lazy version was installed)
_STDLIB_ZIP_INVALIDATE = getattr(
    zipimport.zipimporter.invalidate_caches, "stdlib", zipimport.zipimporter.invalidate_caches
)
# archive path -> (st_mtime_ns, st_size) when its directory was last read
_ZIP_STAMPS: dict[str, tuple[int, int]] = {}


def _lazy_zip_invalidate(self) -> None:
    """zipimporter.invalidate_caches that re-reads the archive directory
    only when the archive's (mtime, size) changed since it was last read:
    the rule FileFinder applies to directories and zipimport applies from
    Python 3.13 on. A PySpark worker calls importlib.invalidate_caches()
    before every task; on Python <= 3.12 each zipimporter on sys.path then
    re-parses its whole archive (pyspark.zip, py4j, the spark-core jar:
    ~27k entries, 0.2-0.3 s of fixed cost per Python task)."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _STDLIB_ZIP_INVALIDATE(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _ZIP_STAMPS.get(self.archive) != stamp:
        _STDLIB_ZIP_INVALIDATE(self)
        _ZIP_STAMPS[self.archive] = stamp
    else:
        self._files = files


_lazy_zip_invalidate.stdlib = _STDLIB_ZIP_INVALIDATE


def _install_lazy_zip_invalidation() -> None:
    """Install _lazy_zip_invalidate on Python < 3.13 (idempotent). Runs when
    the package is imported, so every Spark Python worker that unpickles a
    package UDF or mapInPandas function installs it and worker reuse keeps
    it for all later tasks."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _lazy_zip_invalidate


_install_lazy_zip_invalidation()


def get_spark(
    app_name: str = "duckdb_routing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster ``master``/memory come from spark-submit; everything here
    is cluster-safe (no local-only assumptions beyond the defaults).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores.  On a real cluster this would be set to
        # 2-3x total executor cores (or left to AQE coalescing).
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # the events table stores timestamp[ns]; Spark has no nanos timestamp,
        # so read as long and convert explicitly (see queries.registry.table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # untagged parquet timestamp[us] (isAdjustedToUTC=false) would infer
        # as TIMESTAMP_NTZ under Spark 4.x; with session tz pinned UTC the
        # NTZ/LTZ distinction is vacuous, and the DuckDB oracle casts to
        # plain TIMESTAMP — keep both sides on TIMESTAMP
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # STOCK 10 MB broadcast threshold. A 64 MB threshold once won at
        # sf0.1, but after the fact-table-probe join rewrites it loses even
        # there (hash-building a 150k-row orders side costs more than the
        # shuffle it avoids), and the scale study (tools/scale_study.py)
        # measured it INVERTING harder by derived-sf1: broadcasting a
        # 1.5M-row orders table costs ~2x vs letting the join shuffle
        # (q5 4.3 -> 2.2 s). bench.py uses the same stock value.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver-provided parquet tables as temp views.

    Mirrors the oracle harness, which pre-registers the same names in DuckDB.
    """
    from duckdb_routing_spark.queries.registry import table

    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            table(spark, sf_dir, name).createOrReplaceTempView(name)


def bench_session_conf(shuffle: int) -> dict:
    """THE benchmark session config — single source of truth imported by
    both bench.py and tools/ratio.py (they previously duplicated it by
    convention and could drift). Every knob is a measured sf0.1 bench
    tuning, documented where first derived (bench.py):

      - AQE off: per-stage re-planning latency outweighs plan gains at
        benchmark scale (near_dup_pairs 3.9 -> 2.2 s). Production sessions
        (get_spark default) keep AQE on.
      - stock 10 MB broadcast threshold (64 MB loses ~0.5 s across the
        TPC-H shapes after the fact-probe rewrites).
      - scan-split floor matched to the shuffle width (local-mode leaf
        scans otherwise default to core-count near-empty tasks).
      - shuffle compression off: lz4 setup per tiny block outweighs bytes
        saved at sf0.1; a real cluster keeps it on for network shuffles.
    """
    return {
        "spark.sql.adaptive.enabled": os.environ.get("SPARK_GRAFT_AQE", "false"),
        "spark.locality.wait": "0",
        "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
        "spark.sql.files.minPartitionNum": str(shuffle),
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    }


def warm_bench_session(spark: SparkSession, sf_dir: str, cpus: int) -> None:
    """The benchmark warmup sequence, shared by bench.py and tools/ratio.py:
    JVM + codegen + parquet footers (lineitem count), the Python worker
    fleet (first Arrow stage pays worker spawn + numpy/pandas import per
    core), and the routing engine's graph broadcast + UDF registration +
    one routed row — the reference's baseline numbers are warm-tile
    queries, so steady state is the apples-to-apples starting line."""
    from pyspark.sql import functions as F

    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    @F.pandas_udf("double")
    def _noop(s):
        import duckdb_routing_spark.routing.kernels  # noqa: F401  (worker import warmup)

        return s * 1.0

    spark.range(cpus * 4, numPartitions=cpus).select(
        _noop(F.col("id").cast("double"))
    ).count()

    from duckdb_routing_spark.queries.routing_queries import _engine

    _engine(spark)
    spark.sql("SELECT travel_time(52.0, 13.0, 52.005, 13.005, 'auto') AS s").count()
