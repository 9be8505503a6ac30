"""SparkSession construction and runtime configuration.

Two entry styles:
- ``get_spark()`` builds a tuned local session (tests, bench.py).
- ``configure(spark)`` applies only *runtime-settable* knobs to a session we
  did not create (the driver passes its own session to ``entry``/``queries``).

Scale posture: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized for the local harness but overridable via
env for cluster runs, Arrow enabled so pandas-UDF paths are vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs applied to every session we touch.
RUNTIME_CONFS: dict[str, str] = {
    # Determinism: naive timestamps everywhere (matches DuckDB's TIMESTAMP).
    "spark.sql.session.timeZone": "UTC",
    # The events table stores TIMESTAMP(NANOS) parquet which Spark refuses by
    # default; read the raw int64 and convert ourselves (tables.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime shuffle coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-plan (and coalesce) stages that materialize a .persist()
    # too — default false pins cached plans to the static shuffle partition
    # count, which costs ~2x on the persist-based dedup queries (measured:
    # dedup_ngram_jaccard 7.7s -> 3.7s at sf0.1 on local[32]).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bigger Arrow batches across the JVM→Python boundary: the quiver
    # writer's dominant cost is the per-batch handoff, not encode
    # (BASELINE.md write-path decomposition — ~7% off pure write at 200k
    # vs the 10k default, fewer flush cycles). Safe for wide/blob rows
    # because spark.sql.execution.arrow.maxBytesPerBatch (64 MiB default,
    # present in 4.1.2) independently caps batch BYTES, so the records
    # cap only governs narrow tables.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "200000",
    # Let Python DataSources receive pushed filters (quiver page pruning).
    "spark.sql.python.filterPushdown.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-owned session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this session (static conf) — keep going; every
            # conf in RUNTIME_CONFS is runtime-settable on stock Spark 4.
            pass
    return spark


def get_spark(app_name: str = "quiver-spark") -> SparkSession:
    """Build the tuned local session used by tests and bench.py."""
    # Streaming-source runner workers (python_streaming_source_runner.py)
    # do not receive addPyFile includes the way batch task workers do —
    # they resolve imports from the inherited PYTHONPATH / driver cwd
    # only. Export the package root BEFORE the JVM starts so quiver
    # streaming sources work regardless of the driver's cwd. (Sessions we
    # did not build inherit their JVM env; there the package must already
    # be on PYTHONPATH or the driver cwd — noted in sources.register.)
    import quiver_spark

    pkg_root = os.path.dirname(
        os.path.dirname(os.path.abspath(quiver_spark.__file__))
    )
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = os.environ.get("QUIVER_SHUFFLE_PARTITIONS", str(min(int(cpus) * 2, 64)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("QUIVER_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.driver.memory", os.environ.get("QUIVER_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    # JVM engine ("quiverjvm"): spark.jars is a STATIC conf, so the jar
    # rides the builder when built (checked in; see quiver_spark/jvm).
    # Sessions we did not build (the driver's) lack it; jvm.attach_jar adds
    # it at run time there (ADD JAR), so they get the same JVM routing.
    from quiver_spark.jvm import jar_path

    jar = jar_path()
    if jar:
        builder = builder.config("spark.jars", jar)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
