"""SparkSession construction and runtime-conf hygiene.

The engine is designed for a multi-executor cluster reading ~100 TB;
locally it runs on local[N]. All confs here are safe defaults that
scale: AQE on (runtime re-planning, skew-join handling), Arrow on
(vectorized Python interop for the few pandas-UDF operators), UTC
session timezone (so epoch arithmetic matches a naive-UTC oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that can be applied to an existing session at runtime (the
# driver harness owns session creation, so everything the engine
# depends on for correctness must be runtime-settable).
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS); Spark reads it as a
    # long when this is set, and sources.tables converts to a real
    # timestamp column (whole microseconds, verified vs DuckDB).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Epoch arithmetic (unix_micros etc.) over timestamp_ntz data
    # must be timezone-stable to match the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: coalesce post-shuffle partitions, convert
    # to broadcast joins late, split skewed shuffle partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's coalescer sizes post-shuffle partitions by BYTES (1 MiB
    # floor), which is the wrong proxy for CPU-bound small-byte
    # aggregations: a 3 MB hashed-shingle frequency count coalesced
    # to one partition is a serial 2.5 s task on a 32-core box
    # (round-7 stage audit of docs_prefix_filter_join). A 64 KiB
    # floor keeps such stages parallel at test SFs; at cluster scale
    # partitions dwarf either floor, so this only removes the local
    # pathology.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Arrow batching for the pandas-UDF operators (hash-compat,
    # multimodal stubs); 10-100x over row-at-a-time Python UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Exact-arithmetic operators (events_anomaly's decimal(38,0)
    # moments) document fail-loud semantics on overflow; ANSI mode is
    # the Spark 4 default but NOT Spark 3.5's — pin it so a 3.5
    # deployment can't silently NULL an overflowed decimal product
    # (code-review r6 finding).
    "spark.sql.ansi.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; defaults must do
    return spark


def get_spark(app_name: str = "sparklog", master: str | None = None) -> SparkSession:
    """Build (or fetch) a session with the engine's scale-oriented defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # On a real cluster this is sized to ~2-3x total cores; for
        # local[32] over sf<=0.1 keep shuffle fan-out modest.
        .config("spark.sql.shuffle.partitions", str(int(cpus) if str(cpus).isdigit() else 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Whole-stage-codegen compiled-class cache (static conf,
        # default 100 entries). The engine's query library generates
        # far more than 100 distinct codegen units per suite pass, so
        # at the default every pass recompiles nearly every stage —
        # pure Janino compile time, paid in every JVM that runs the
        # plan (driver for planning, each executor lazily per stage).
        # Sized to hold the whole library with headroom;
        # scale-independent (the cache is keyed by generated source,
        # not data). Overridable for memory-constrained JVMs.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
        )
        # PySpark's DataFrame debugging (static conf, on by default in
        # PySpark 4) wraps every Column and DataFrame call to capture
        # its Python call site: a stack walk plus extra py4j messages
        # per call (F.col: 13 messages instead of 3, ``a + b``: 11
        # instead of 1), paid on every query build. Off, errors lose
        # only the Python call site in their "== DataFrame ==" context.
        # Static, so it is set here and not in RUNTIME_CONFS (a
        # runtime set raises CANNOT_MODIFY_STATIC_CONFIG); a session
        # built elsewhere (the driver harness) keeps PySpark's default.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # No Spark UI: per-query and per-phase metrics (bench.py's
        # ledger, scale_probe, perfbench) are status-store counters read
        # by job group, which need neither the UI nor its REST API.
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_runtime_confs(spark)
