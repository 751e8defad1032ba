"""SparkSession factory with scale-appropriate defaults.

The reference picks its parallelism backend from the environment
(/root/reference/investigraph/pipeline.py:26-34 — threads / Dask / Ray); here the
Spark cluster manager plays that role and the session factory centralizes the
configuration that matters at 100 TB: AQE (runtime re-plan, skew-join splitting,
partition coalescing), Arrow for every pandas UDF hop, and a UTC session clock so
results are reproducible across engines and sites.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied to every session this engine creates. Callers can override
#: any of them via the ``conf`` argument of :func:`get_spark`.
ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing and skew-join
    # splitting. At 10^10 events the static shuffle-partition number is always
    # wrong for some stage; AQE right-sizes per-stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / toPandas — the only sanctioned way for
    # Python logic to touch rows (input_hint: no per-row Python).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic wall-clock semantics across Spark and the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Parquet: pushdown + vectorized reader stay on (defaults, pinned for
    # clarity because correctness of bucket pruning depends on them).
    "spark.sql.parquet.filterPushdown": "true",
    # Write timestamps as INT64 micros, not the deprecated INT96: INT96
    # columns carry NO min/max statistics in parquet footers, which would
    # silently disable zone-map data skipping on ts (lake/stats.py) and
    # row-group pushdown on every timestamp predicate.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Don't let tiny test tables produce 200 empty shuffle partitions.
    "spark.sql.shuffle.partitions": "32",
    # In-memory-friendly partition sizing for the local harness; on a real
    # cluster this is set per-deployment (see BENCH.md, round 4).
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


#: Benchmark preset (bench.py; its round-4 profiling is in BENCH.md):
#: production compression split, fine-grained shuffle partitions for AQE to
#: coalesce, tmpfs spill. ONE definition — round-4 advice was to stop each
#: bench script re-declaring overlapping conf.
BENCH_CONF: dict[str, str] = {
    # zstd for data AT REST (parquet): the 100 TB production choice.
    "spark.sql.parquet.compression.codec": "zstd",
    # lz4 for TRANSIENT bytes (shuffle/broadcast): shuffle blocks live
    # minutes, cheap codec beats ratio. Measured on the 12M-event ingest:
    # zstd shuffle cost ~35% of end-to-end throughput at every parallelism
    # level (local[1] 153k -> 231k ev/s, local[4] 380k -> 599k ev/s).
    "spark.io.compression.codec": "lz4",
    # enough shuffle partitions that every core has work even after AQE
    # coalescing (advisory 16m keeps partitions fine-grained at bench scale).
    "spark.sql.shuffle.partitions": "128",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    # shuffle/spill on tmpfs: a single box's one root disk is not a proxy
    # for a cluster's aggregate IO; benches measure CPU + memory paths.
    "spark.local.dir": os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
}


#: Listing-job width knob, set by :func:`get_spark` from the live cluster.
LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def get_spark(
    app_name: str = "investigraph-etl-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[N]`` with ``N = $SPARK_GRAFT_CPUS`` (or all
    cores). On a real cluster, pass ``None`` and let spark-submit supply the
    master; the engine is deployable via ``spark-submit --py-files``.

    Unless ``conf`` sets it, the listing parallelism is clamped to 2× the
    cluster's ``defaultParallelism`` — the same clamp ``LakeTable`` applies
    to write tasks. The lake reads explicit file paths from its commit log;
    past 32 paths Spark stats them in a listing job with one task per path
    (Spark's default cap is 10,000), so unclamped a 128-file scan pays 128
    tasks of fixed overhead to stat files the log already vouches for. Raising the
    listing *threshold* instead would stat every file serially on the
    driver — one request per file on an object store.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    merged = dict(ENGINE_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if LISTING_PARALLELISM not in merged:
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set(LISTING_PARALLELISM, str(2 * cores))
    return spark
