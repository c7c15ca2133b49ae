"""SparkSession factory tuned for both local testing and large-cluster use.

Scale posture (100 TB design notes):
  - AQE on: runtime shuffle-partition coalescing, skew-join splitting and
    dynamic join-strategy demotion replace any hand-tuned plan decisions.
  - ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
    cluster AQE coalesces from a high initial number, so the same code runs
    unchanged at 1000 executors.
  - Arrow enabled for every pandas/Python boundary (ingest + Pandas UDFs).
  - UTC session timezone so timestamp semantics are reproducible and match
    the DuckDB oracle used by the correctness harness.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Entries in Spark's JVM-wide cache of compiled whole-stage classes
# (``spark.sql.codegen.cache.maxEntries``, default 100). Measured at sf0.1
# on 4 cores: one round of the 12 ``bench=True`` gates generates about 210
# distinct classes, so at 100 entries the shuffled round-robin missed on
# nearly every execution and recompiled 140-180 classes a round, then ran
# freshly loaded classes the JIT had not yet compiled: a round took
# 10.5-11.9 s, against 5.1-6.8 s at 2000, where a repeated round compiles
# none. A full sweep of all 568 registry gates (``scripts/plan_sweep.py``'s
# set, sf0.01, noop sink) generates about 7000 classes; the cache does not
# try to hold them: a retained class costs about 18 KB of metaspace (800
# classes of small aggregate stages, after a full GC), and a statement
# stream whose literals vary (Spark inlines primitive literals into the
# generated code) fills any cache to its cap, so 2000 bounds that at about
# 36 MB.
# A static SQL conf, read when the JVM first generates code: it is set in
# the builder below and cannot be applied to a session built elsewhere.
CODEGEN_CACHE_ENTRIES = 2000


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "otterbrix-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's standard config."""
    cores = _default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64m coalesces CPU-heavy mid-size shuffles onto too few
        # cores in local mode; 16m keeps reduce-side parallelism without
        # hurting large shuffles (AQE still merges genuinely tiny partitions)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the driver-generated events table stores TIMESTAMP(NANOS); Spark has
        # no nanosecond timestamp, so scan them as epoch-nano longs and let
        # sources.registry normalise to microsecond timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PG TIME / TIME WITH TIME ZONE columns (reference
        # test_sql_features.cpp TIME comparisons) map to Spark 4.1's TIME
        # type, which ships behind this flag
        .config("spark.sql.timeType.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # PySpark wraps every Column, functions and DataFrame call to record
        # its Python call site for error messages: about 8 py4j round trips
        # each (active session, conf read, origin set and clear), and the
        # site it records is this engine's code, not the SQL user's.
        # Median py4j calls per statement of the ``statements`` stream
        # (sf0.01 managed tables, 4 cores, warm), on -> off: INSERT 318 -> 128,
        # MERGE 608 -> 248, BEGIN...COMMIT 586 -> 318, UPDATE...FROM
        # 435 -> 266, UPDATE...RETURNING 277 -> 137; reads stay at 12-17.
        # PySpark reads the setting once per process, on the first wrapped
        # call, and caches it; so it belongs in the builder, before any such
        # call, and ``configure_session`` cannot apply it to a session built
        # elsewhere.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    configure_session(spark)
    return spark


def configure_session(spark: SparkSession) -> None:
    """Apply runtime-settable engine configs to an externally-created session.

    The correctness driver constructs its own SparkSession; every query entry
    point calls this so behaviour does not depend on who built the session.
    Only dynamic (session-mutable) SQL configs belong here: static ones such
    as ``spark.sql.codegen.cache.maxEntries`` (``CODEGEN_CACHE_ENTRIES``)
    keep whatever value the session's builder gave them, so a session built
    elsewhere keeps Spark's 100-entry generated-code cache. Nor does
    ``spark.python.sql.dataFrameDebugging.enabled`` belong here: PySpark
    reads it once per process, on the first wrapped call, and caches it.
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.timeType.enabled", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            # static conf on this session — sources.registry has a pyarrow
            # fallback for the nanos case; the rest only affect performance.
            pass
