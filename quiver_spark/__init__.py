"""quiver_spark — a PySpark-native analytics engine with the capabilities of
sundy-li/Quiver (strawboat), re-expressed Spark-first.

Layout:
    format/     — the native "quiver" columnar file format (pyarrow-level codec +
                  page + footer machinery, mirroring the reference's on-disk
                  layout; see SURVEY.md §1.2)
    sources/    — PySpark DataSource V2 readers (spark.read.format("quiver"))
                  and the one writer, sources.write
    operators/  — the declared relational + LLM-pipeline query surface
                  (SURVEY.md §2.3), each with a DuckDB oracle
    functions/  — reusable column-expression helpers
    plans/      — plan inspection / explain utilities
    streaming/  — Structured Streaming recipes over the events table
"""

__version__ = "0.1.0"

from quiver_spark.registry import QUERIES, QuerySpec, register  # noqa: F401


def enable(spark):
    """One-call setup on any externally-owned SparkSession: apply the
    runtime-settable confs (UTC, AQE, Arrow, Python filter pushdown) and
    register the "quiver" DataSource, shipping the package to executors.
    After this, ``spark.read.format("quiver")`` works exactly as on a
    session built by ``quiver_spark.session.get_spark``. Quiver tables are
    written through ``quiver_spark.sources.write`` / ``stream_writer``
    (the quiverjvm writer, whose jar attaches to the session on first
    use); ``df.write.format("quiver")`` fails, naming them.

    Caveat for STREAMING reads on an externally-built session: Spark's
    streaming-source runner worker does not receive addPyFile includes, so
    ``spark.readStream.format("quiver")`` additionally requires
    ``quiver_spark`` on PYTHONPATH (or the driver cwd) before the JVM
    started. ``get_spark`` arranges this; ``enable`` on a running session
    cannot retroactively.
    """
    from quiver_spark.session import configure
    from quiver_spark.sources.quiver_datasource import register as _register_ds

    configure(spark)
    _register_ds(spark)
    return spark
