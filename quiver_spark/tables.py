"""Loaders for the driver's testdata tables.

Every loader is declarative (``spark.read.parquet`` → Catalyst gets pushdown,
pruning, and partition planning for free). The only imperative fix-up is the
``events.ts`` nanosecond column, which Spark's parquet reader cannot type
natively — we read it as int64 (``nanosAsLong``) and truncate to microseconds,
exactly what DuckDB does when it reads the same file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quiver_spark.session import configure

TABLES = (
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

#: Dimension tables whose cardinality is a CONSTANT of the benchmark (region=5,
#: nation=25) — safe to broadcast unconditionally at any scale factor. Tables
#: that scale linearly with the data volume (customer/supplier/part: TB-scale
#: at TPC-H SF ~100k) must never carry an unconditional hint; use
#: ``maybe_broadcast`` so the hint is size-gated at plan time.
BROADCAST_TABLES = frozenset({"region", "nation"})

#: Ceiling for an explicit broadcast hint on a linearly-scaling relation, in
#: bytes of Catalyst's plan-time size estimate. Above this the relation is
#: returned unhinted and AQE picks the join strategy from RUNTIME sizes —
#: a forced broadcast of a TB-scale side is a hard executor OOM, while a
#: missed broadcast merely costs a shuffle. 256 MiB is comfortably inside a
#: production executor's memory yet far above any bounded dimension table.
BROADCAST_MAX_BYTES = 256 * 1024 * 1024

#: input bytes per task at least, when ``spread`` widens a scan, so the
#: Python-worker roundtrip (~tens of ms) amortizes over real work —
#: measured at 32 cores on the 594 KB documents scan: width 32 = 0.69 s,
#: width 8 = 0.54 s, width 1 = 1.15 s. Capped at the session parallelism,
#: so larger inputs scale back up to full width.
SPREAD_MIN_TASK_BYTES = 64 * 1024


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's plan-time size estimate for ``df`` (bytes), or None.

    For file scans this is derived from the file footprint on disk (the same
    estimate autoBroadcastJoinThreshold consults); derived plans (filters,
    aggregates) propagate it conservatively, so an aggregate over a 100 TB
    fact table reports huge — exactly the behavior a broadcast gate wants.
    """
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def maybe_broadcast(df: DataFrame, size_bytes: int | None = None) -> DataFrame:
    """Size-gated broadcast hint for relations that scale with the data.

    Emits ``F.broadcast(df)`` only when Catalyst's plan-time estimate is
    under the ceiling (``BROADCAST_MAX_BYTES``); otherwise returns ``df``
    unhinted so AQE chooses shuffle-vs-broadcast from runtime statistics.
    Use this for customer/supplier/part-class tables and anything derived
    per-key from them; keep plain ``F.broadcast`` for constant-cardinality
    relations (nation/region, singleton aggregates, bounded grids/probe
    sets).

    Unknown size (stats unavailable) → no hint: at 100 TB the failure mode
    of a wrong hint is an executor OOM, of a missing hint an extra shuffle.

    ``size_bytes`` overrides the Catalyst estimate with a caller-known size
    — used for quiver scans, where a Python DataSource cannot report plan
    statistics (Spark reads Long.MaxValue) but the manifest/footer metadata
    the planner already holds knows the table's on-disk footprint.
    """
    size = size_bytes if size_bytes is not None else plan_size_bytes(df)
    if size is not None and size <= BROADCAST_MAX_BYTES:
        return F.broadcast(df)
    return df


#: In-memory decode multiplier applied to compressed quiver bytes when no
#: ANALYZE statistics exist: the adaptive cascade measures ~1.8-2.0x
#: compression (BASELINE.md) and a broadcast relation additionally pays JVM
#: row/object overhead — 3x is the conservative middle of that band.
QUIVER_DECODE_RATIO = 3

#: decoded per-value byte widths for ANALYZE-stats size estimation
_TYPE_WIDTHS = {
    "bigint": 8, "double": 8, "timestamp": 8, "timestamp_ntz": 8,
    "int": 4, "float": 4, "date": 4, "smallint": 2, "tinyint": 1,
    "boolean": 1,
}


def quiver_gate_size_bytes(table_dir: str) -> int | None:
    """Broadcast-gate size estimate for a quiver table — the IN-MEMORY
    footprint a broadcast would materialize, not the compressed bytes.

    Preference order (all manifest-served, one directory-level read):
    1. ANALYZE statistics (``maintenance.analyze_table`` → manifest
       ``table_stats``): row_count × Σ per-column decoded width (fixed
       widths by type, avg_len for strings/binary, +null bitmap). Floored
       at the disk footprint — stale-small stats after growth can only
       raise, never shrink, the estimate (a wrong broadcast hint is an
       executor OOM; a missed one is just a shuffle). When the stats are
       stale (commits landed since ``analyzed_at_commit``) the disk floor
       is additionally scaled by ``QUIVER_DECODE_RATIO``.
    2. No stats: disk bytes × ``QUIVER_DECODE_RATIO`` — compressed size
       UNDERSTATES memory ~2-4x, which is exactly the direction a
       broadcast gate must not err in.
    Returns None when nothing is knowable (caller then emits no hint)."""
    try:
        from quiver_spark.sources.manifest import load_manifest
        from quiver_spark.sources.quiver_datasource import (
            _data_root,
            _list_files,
        )

        root = _data_root(table_dir)
        man = load_manifest(root)
        if man is not None and man.entries:
            disk = sum(int(e.size) for e in man.entries.values())
            stats = man.table_stats
            if stats and stats.get("row_count"):
                rows = int(stats["row_count"])
                per_row = 0.0
                for c, st in stats.get("columns", {}).items():
                    t = st.get("type", "")
                    if t in ("string", "binary"):
                        w = float(st.get("avg_len", 16)) + 4  # + offsets
                    elif t.startswith("decimal"):
                        w = 16
                    else:
                        w = _TYPE_WIDTHS.get(t, 16)
                    per_row += w + 0.125  # null bitmap
                est = int(rows * per_row)
                fresh = stats.get("analyzed_at_commit") == man.commit_seq
                floor_ = disk if fresh else disk * QUIVER_DECODE_RATIO
                return max(est, floor_)
            return disk * QUIVER_DECODE_RATIO
        return sum(
            os.stat(f).st_size for f in _list_files(table_dir)
        ) * QUIVER_DECODE_RATIO
    except Exception:
        return None


def spread(
    df: DataFrame, spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Scale-adaptive parallelism floor for heavy Python-pass front ends.

    The gate-SF tables are single-row-group parquet files, so a
    mapInArrow pass directly downstream of the scan runs as ONE task no
    matter how many cores the session has (guide §2.5 "input skew — one
    huge unsplittable file: repartition immediately after the read").
    This spreads such a scan across ``defaultParallelism`` via a
    round-robin exchange of the (tiny) input — and is a NO-OP whenever
    the scan already yields at least that many natural splits, so at
    fleet scale (thousands of row groups per table) no corpus-scale
    shuffle is ever added. The decision derives from input bytes vs
    spark.sql.files.maxPartitionBytes, not from a local[32] constant;
    at the driver's 8-core bench it spreads to 8, at 32 cores to 32.

    Only safe for passes whose OUTPUT is partition-invariant (per-row
    emitters and exact-integer partial aggregations — every Python pass
    in this engine by construction; float partial sums in a different
    order would NOT qualify).
    """
    try:
        nbytes = os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
    except OSError:
        return df
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    # Spark byte-size strings: optional k/m/g/t prefix, optional trailing
    # 'b' ("134217728b", "128m", "1g", "512MB" are all valid spellings)
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    s = raw.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    for suf, m in units.items():
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        max_split = int(s) * mult
    except ValueError:
        max_split = 128 * 1024**2
    cores = spark.sparkContext.defaultParallelism
    natural_splits = -(-nbytes // max(max_split, 1))
    if natural_splits >= cores:
        return df
    width = max(1, min(cores, nbytes // SPREAD_MIN_TASK_BYTES))
    if width <= natural_splits or width == 1:
        return df
    return df.repartition(width)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame with engine-canonical types."""
    configure(spark)
    # ship quiver_spark to Python workers up front: operators that pickle
    # references into the package (mapInPandas decoders, UDTF classes) must
    # work no matter which query the caller runs first or what the driver
    # process's cwd/sys.path looks like
    from quiver_spark.sources import ship_package

    ship_package(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # int64 nanoseconds → naive microsecond timestamp (truncating, the
        # same conversion DuckDB applies to TIMESTAMP(NANOS) parquet).
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df
