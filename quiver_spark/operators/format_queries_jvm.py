"""Correctness-gate queries for the JVM fast path ("quiverjvm").

The round-10 JVM DataSource (quiver_spark/jvm) closes the structural
Python-DS floor on both directions: bulk ingest keeps rows in the JVM
(0.69-0.80x parquet write wall at sf0.1) and the columnar reader decodes
the full adaptive codec surface into ColumnarBatches (full scan 0.19x,
narrow 0.27x, manyfiles 0.39x of the parquet control — BASELINE.md
round-10 tables). These queries put that path under the driver's DuckDB
oracle: the jar attaches at RUNTIME via a verified ``ADD JAR``
(jvm.attach_jar), so the driver's plain session exercises the real Java
scan, not a fallback.

Every fixture here is written through ``sources.write`` (the quiverjvm
writer, pages in the src/write/writer.rs:91-167 envelope), so a green
row proves the Java writer's pages re-read exactly through the layout,
DDL and cursor each query exercises. The Java decoder's agreement with
the Python adaptive writer (chooser semantics per
/root/reference/src/compression/mod.rs) is pinned on files
``format.writer.write_table`` writes (tests/test_jvm_reader.py).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quiver_spark.functions import dsum, sql_dsum
from quiver_spark.registry import register
from quiver_spark.sources import write


def _jvm_scan(spark: SparkSession, table_dir: str, **options: str) -> DataFrame:
    """JVM columnar scan of a quiver directory; loud failure when the jar
    cannot attach (the gate must never silently test a different engine).
    ``options`` forwards the round-13 semantic reader options (version /
    changes_since / files / merge_schemas) to the quiverjvm reader."""
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        raise RuntimeError(
            "quiverjvm jar failed to attach via ADD JAR — cannot run the "
            "JVM-reader gate query (quiver_spark/jvm/quiver-jvm-writer.jar)"
        )
    reader = spark.read.format("quiverjvm")
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load(table_dir)


#: session time zone of the event-time stream fixtures (see
#: quiverjvm_stream_pipeline_scan)
_UTC = {"spark.sql.session.timeZone": "UTC"}


@contextlib.contextmanager
def _stream_session(spark: SparkSession, prefix: str, confs: dict | None = None):
    """A sibling session (same SparkContext and attached jar, its own SQL
    conf and temp views) with ``confs`` set, plus a fresh checkpoint
    directory that is removed afterwards: a stream fixture changes
    neither the caller's session nor ``/tmp``."""
    import shutil
    import tempfile

    stream_spark = spark.newSession()
    for k, v in (confs or {}).items():
        stream_spark.conf.set(k, v)
    ckpt = tempfile.mkdtemp(prefix=prefix)
    try:
        yield stream_spark, ckpt
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "quiverjvm_scan_agg",
    oracle=f"""
SELECT l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_price,
       COUNT(*) AS cnt
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
GROUP BY l_linestatus
""",
    tags=("format", "jvm", "scan", "agg"),
)
def quiverjvm_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the JVM columnar reader on the ADAPTIVE-writer table:
    the Java decoder must reproduce the Python codec cascade's bytes
    (dict/RLE/freq/bitpack/delta/patas all fire on lineitem) for the exact
    decimal sums to hash-match the parquet oracle. Catalyst column pruning
    reaches the scan via SupportsPushDownRequiredColumns — no explicit
    columns option, unlike the Python DS."""
    from quiver_spark.operators.format_queries import quiver_dir

    d = quiver_dir(spark, sf_dir, "lineitem")
    li = _jvm_scan(spark, d)
    return (
        li.filter(F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp_ntz"))
        .groupBy("l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@register(
    "quiverjvm_ingest_roundtrip",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS cnt,
       {sql_dsum('o_totalprice')} AS total_price,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
    tags=("format", "jvm", "write", "scan", "agg"),
)
def quiverjvm_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maintenance.ingest (JVM writer, zstd) of the open orders into a
    cached table, then the JVM reader aggregates it back — the full
    rows-never-leave-the-JVM loop under the oracle. The ingest runs once
    per sf (marker-cached); ``sources.write`` has no other engine to fall
    back to."""
    from quiver_spark.maintenance import ingest
    from quiver_spark.operators.format_queries import CACHE_ROOT

    tag = os.path.basename(sf_dir.rstrip("/"))
    d = os.path.join(CACHE_ROOT, tag, "orders-jvm-ingest")
    marker = os.path.join(d, "_done_jvm")
    if not os.path.exists(marker):
        src = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderstatus") == "O"
        )
        ingest(spark, src, d, codec="zstd")
        with open(marker, "w") as f:
            f.write("ok")
    back = _jvm_scan(spark, d)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("o_totalprice").alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "quiver_unified_scan",
    oracle="""
SELECT
  (SELECT COUNT(*) FROM orders) AS orders_cnt,
  (SELECT MIN(o_orderkey) FROM orders) AS min_key,
  (SELECT COUNT(*) FROM embeddings) AS emb_cnt,
  (SELECT COUNT(*) FROM orders) AS opt_cnt
""",
    tags=("format", "jvm", "scan", "routing"),
)
def quiver_unified_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE scan API, one engine: sources.scan serves the flat orders
    table, the nested embeddings table (array<float>), the translated
    options ``columns=`` / ``file_column=`` (a Catalyst select and the
    `_quiver_file` metadata column) and a semantic option
    (``verify_checksums``) from the quiverjvm columnar reader. The query
    verifies each plan really reads quiverjvm (a silent mis-route would
    pass the oracle while testing nothing)."""
    from quiver_spark.operators.format_queries import quiver_dir
    from quiver_spark.sources import scan

    orders = scan(spark, quiver_dir(spark, sf_dir, "orders"))
    emb = scan(spark, quiver_dir(spark, sf_dir, "embeddings"))
    cols = scan(
        spark,
        quiver_dir(spark, sf_dir, "orders"),
        columns="o_orderkey",
        file_column="__file",
    )
    opt = scan(
        spark,
        quiver_dir(spark, sf_dir, "orders"),
        verify_checksums="true",
    )
    for what, df in (
        ("flat orders table", orders),
        ("nested embeddings table", emb),
        ("columns=/file_column= scan", cols),
        ("verify_checksums scan", opt),
    ):
        if "quiverjvm" not in df._jdf.queryExecution().analyzed().toString():
            raise RuntimeError(
                f"unified scan: the {what} must read through quiverjvm"
            )
    a = orders.agg(
        F.count(F.lit(1)).alias("orders_cnt"), F.min("o_orderkey").alias("min_key")
    )
    b = emb.agg(F.count(F.lit(1)).alias("emb_cnt"))
    c = cols.agg(F.count(F.lit(1)).alias("opt_cnt"))
    return a.crossJoin(b).crossJoin(c)


def _partitioned_orders_dir(spark: SparkSession, sf_dir: str) -> str:
    """Marker-cached orders table Hive-partitioned by o_orderstatus via
    the JVM writer (shared by the partitioned-ingest and grouped-
    pushdown gates). v2: fixtures built before the interned-schema fix
    (partition column wrongly included in the manifest schema) are
    unreadable under the round-11 collision rule — rebuild them."""
    from quiver_spark.maintenance import ingest
    from quiver_spark.operators.format_queries import CACHE_ROOT

    tag = os.path.basename(sf_dir.rstrip("/"))
    d = os.path.join(CACHE_ROOT, tag, "orders-jvm-partitioned-v2")
    marker = os.path.join(d, "_done_jvm_part")
    if not os.path.exists(marker):
        src = spark.read.parquet(f"{sf_dir}/orders.parquet")
        ingest(spark, src, d, codec="zstd", partition_by="o_orderstatus")
        with open(marker, "w") as f:
            f.write("ok")
    return d


@register(
    "quiverjvm_partitioned_ingest",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
WHERE o_orderstatus IN ('F', 'O')
GROUP BY o_orderstatus
""",
    tags=("format", "jvm", "write", "partition", "agg"),
)
def quiverjvm_partitioned_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive fan-out on the JVM writer (round 11): maintenance.ingest with
    partition_by lands orders in o_orderstatus=... subdirectories — keys
    in the path, data columns in the files, manifest written at the job
    commit — and the JVM scan reassembles the partition column as a
    plan-time constant while PRUNING the non-matching key's files whole."""
    d = _partitioned_orders_dir(spark, sf_dir)
    back = _jvm_scan(spark, d)
    return (
        back.filter(F.col("o_orderstatus").isin("F", "O"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "quiver_write_unified_scan",
    oracle=f"""
SELECT COUNT(*) AS cnt,
       MIN(o_orderkey) AS min_key,
       {sql_dsum('o_totalprice')} AS total_price,
       (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F') AS py_cnt
FROM orders
WHERE o_orderstatus = 'F'
""",
    tags=("format", "jvm", "write", "routing"),
)
def quiver_write_unified_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE write API on the quiverjvm bulk writer: sources.write takes
    a plain load, a load naming ``require_not_null`` (checked in the
    plan), and the staged JVM write of an overwrite of the second table
    published as an atomic generation swap in the driver (here with
    ``keep_generations``). The engine each write returns is asserted
    in-query, and both tables are read back through the unified scan,
    so the row the driver hashes covers the full write→scan loop.

    Reference ethos: one writer API over per-type encoders
    (/root/reference/src/write/writer.rs:91-167)."""
    from quiver_spark.operators.format_queries import CACHE_ROOT
    from quiver_spark.sources import scan

    tag = os.path.basename(sf_dir.rstrip("/"))
    d_jvm = os.path.join(CACHE_ROOT, tag, "orders-unified-write-v3")
    d_py = os.path.join(CACHE_ROOT, tag, "orders-unified-write-py-v3")
    marker = os.path.join(CACHE_ROOT, tag, "orders-unified-write-v3._done")
    if not os.path.exists(marker):
        src = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderstatus") == "F"
        )
        want = ["quiverjvm"] * 3
        routes = [
            write(src, d_jvm, mode="overwrite", codec="zstd"),
            write(src, d_py, mode="overwrite",
                  require_not_null="o_orderkey"),
            # the table above exists now: the overwrite is a staged JVM
            # write swapped in by the driver-side commit
            write(src, d_py, mode="overwrite", keep_generations="2"),
        ]
        if routes != want:
            raise RuntimeError(
                f"unified write mis-routed: {routes} != {want}"
            )
        with open(marker, "w") as f:
            f.write("ok")
    a = scan(spark, d_jvm).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("o_orderkey").alias("min_key"),
        dsum("o_totalprice").alias("total_price"),
    )
    b = scan(spark, d_py).agg(F.count(F.lit(1)).alias("py_cnt"))
    return a.crossJoin(b)


@register(
    "quiver_count_pushdown",
    oracle="""
SELECT (SELECT COUNT(*) FROM orders) AS orders_cnt,
       (SELECT COUNT(*) FROM lineitem) AS lineitem_cnt,
       (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F') AS filt_cnt,
       (SELECT MIN(o_orderkey) FROM orders) AS min_okey,
       (SELECT MAX(o_orderkey) FROM orders) AS max_okey,
       (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders) AS sum_okey
""",
    tags=("format", "jvm", "scan", "agg", "pushdown"),
)
def quiver_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-served aggregates (round 15, VERDICT r14 Next #8): a bare
    COUNT(*) — and MIN/MAX/SUM over an integer column — over the JVM
    scan push down as SupportsPushDownAggregates: the count comes from
    the manifest's per-file row counts / per-page num_values (reference
    PageMeta, /root/reference/src/lib.rs:75-80), the extrema from the
    manifest's INLINE per-page zone maps, the sum from the sidecar's
    exact per-page integer sums (overflow-checked at write AND at
    combine — any hazard refuses), and ZERO pages are read.
    Asserted in-query: the bare aggregates' plans must show the pushed
    scan columns, while the FILTERED count must NOT push (our zone-map
    predicates are advisory — rows still count exactly through the
    normal scan)."""
    from quiver_spark.operators.format_queries import quiver_dir

    o = _jvm_scan(spark, quiver_dir(spark, sf_dir, "orders"))
    li = _jvm_scan(spark, quiver_dir(spark, sf_dir, "lineitem"))
    a = o.groupBy().agg(F.count(F.lit(1)).alias("orders_cnt"))
    b = li.groupBy().agg(F.count(F.lit(1)).alias("lineitem_cnt"))
    c = o.filter(F.col("o_orderstatus") == "F").groupBy().agg(
        F.count(F.lit(1)).alias("filt_cnt")
    )
    m = o.groupBy().agg(
        F.min("o_orderkey").alias("min_okey"),
        F.max("o_orderkey").alias("max_okey"),
        F.sum("o_orderkey").alias("sum_okey"),
    )
    for df, token, pushed in (
        (a, "count(*)", True),
        (b, "count(*)", True),
        (c, "count(*)", False),
        (m, "min(o_orderkey)", True),
        (m, "sum(o_orderkey)", True),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        if (token in plan.split("BatchScan")[-1]) != pushed:
            raise RuntimeError(
                f"aggregate pushdown expected={pushed} for {token} but "
                f"plan says otherwise:\n{plan}"
            )
    return a.crossJoin(b).crossJoin(c).crossJoin(m)


@register(
    "quiver_grouped_count_pushdown",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       MIN(o_orderkey) AS min_okey,
       MAX(o_orderkey) AS max_okey,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey
FROM orders
GROUP BY o_orderstatus
""",
    tags=("format", "jvm", "scan", "agg", "pushdown", "partition"),
)
def quiver_grouped_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED metadata aggregates (round 15): COUNT/MIN/MAX/SUM grouped
    by a Hive PARTITION column push down whole — group values are path
    constants and the aggregates come from manifest row counts + inline
    zone maps + per-page sums, so the per-status rollup of a 100 TB
    table reads ZERO pages (the \"rows per day\" query). Pushdown
    asserted in-query; the oracle replays the same rollup over the
    un-partitioned parquet."""
    d = _partitioned_orders_dir(spark, sf_dir)
    g = (
        _jvm_scan(spark, d)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("o_orderkey").alias("min_okey"),
            F.max("o_orderkey").alias("max_okey"),
            F.sum("o_orderkey").alias("sum_okey"),
        )
    )
    plan = g._jdf.queryExecution().executedPlan().toString()
    if "count(*)" not in plan.split("BatchScan")[-1]:
        raise RuntimeError(
            f"grouped aggregate pushdown did not engage:\n{plan}"
        )
    return g


def _countcol_orders_dir(spark: SparkSession, sf_dir: str) -> str:
    """Marker-cached orders derivative with NULL-bearing long and string
    columns (TPC-H proper has no nulls), ingested via the JVM writer —
    the COUNT(col)/AVG pushdown fixture."""
    from quiver_spark.maintenance import ingest
    from quiver_spark.operators.format_queries import CACHE_ROOT

    tag = os.path.basename(sf_dir.rstrip("/"))
    d = os.path.join(CACHE_ROOT, tag, "orders-countcol-jvm")
    marker = os.path.join(d, "_done_countcol")
    if not os.path.exists(marker):
        src = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
            "o_orderkey",
            "IF(o_orderkey % 3 = 0, CAST(NULL AS BIGINT), o_custkey) AS v",
            "IF(o_orderkey % 7 = 0, CAST(NULL AS STRING),"
            " o_orderpriority) AS c",
        )
        ingest(spark, src, d, codec="zstd")
        with open(marker, "w") as f:
            f.write("ok")
    return d


@register(
    "quiver_countcol_pushdown",
    oracle="""
WITH t AS (
    SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_custkey END AS v,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_orderpriority END AS c
    FROM orders
)
SELECT COUNT(*) AS total_cnt,
       COUNT(v) AS v_cnt,
       COUNT(c) AS c_cnt,
       CAST(AVG(v) AS DOUBLE) AS v_avg,
       CAST(SUM(v) AS BIGINT) AS v_sum
FROM t
""",
    tags=("format", "jvm", "scan", "agg", "pushdown"),
)
def quiver_countcol_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(col) + AVG metadata pushdown (round 16, VERDICT r15 Next
    #3): COUNT(col) = Σ(page_rows − nulls) from the sidecar's per-page
    null counts, and AVG rides as Spark's partial SUM+COUNT rewrite —
    so null-aware counts and means over a 100 TB table read ZERO pages.
    Every file's schema is vouched (interned manifest index) before its
    stats fold, and page_rows must reconcile with the manifest row count
    (stale sidecars refuse). Pushdown asserted in-query; the oracle
    replays the same aggregate over the source parquet."""
    d = _countcol_orders_dir(spark, sf_dir)
    agg = _jvm_scan(spark, d).agg(
        F.count(F.lit(1)).alias("total_cnt"),
        F.count("v").alias("v_cnt"),
        F.count("c").alias("c_cnt"),
        F.avg("v").alias("v_avg"),
        F.sum("v").alias("v_sum"),
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("BatchScan")[-1]
    for token in ("count(v)", "count(c)", "sum(v)"):
        if token not in scan:
            raise RuntimeError(
                f"COUNT(col)/AVG pushdown did not engage for {token}:\n{plan}"
            )
    return agg


@register(
    "quiverjvm_alter_scan",
    oracle="""
WITH evolved AS (
    SELECT p_partkey, p_brand, p_type AS part_type,
           CAST(NULL AS BIGINT) AS priority
    FROM part
    UNION ALL
    SELECT p_partkey + 100000000, p_brand, p_type,
           CAST(p_size AS BIGINT)
    FROM part
    WHERE p_size >= 45
)
SELECT p_brand,
       COUNT(*) AS cnt,
       CAST(SUM(p_partkey) AS BIGINT) AS key_sum,
       MIN(part_type) AS min_type,
       CAST(SUM(priority) AS BIGINT) AS prio_sum,
       COUNT(priority) AS n_prio
FROM evolved
GROUP BY p_brand
""",
    tags=("format", "jvm", "ddl", "schema-evolution"),
)
def quiverjvm_alter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-ALTER table through the JVM scan (round-11 guard lift,
    VERDICT r10 item 5): part is written as a generation, then evolved
    with metadata-only DDL — rename_column p_type→part_type (old files
    resolve through the per-file declared→physical cmap), drop_column
    p_name (bytes stay, name vanishes), add_column priority (old files
    NULL-FILL — no default; defaults ride the round-12 lift and their own
    gate, quiverjvm_default_fill_scan) — and a
    post-ALTER append lands rows physically carrying the NEW names, so
    one JVM plan mixes both physical schemas. The oracle rebuilds the
    table algebraically from parquet: a cmap resolved to the wrong
    column, a resurrected dropped value, a mis-filled add, or a lost
    post-ALTER row all hash-fail. The scan must REALLY be the Java one
    (_jvm_scan raises when the jar cannot attach)."""
    from quiver_spark.operators.format_queries2 import _marker_dir

    def build(d):
        from quiver_spark import maintenance as M

        full = spark.read.parquet(f"{sf_dir}/part.parquet")
        write(full.coalesce(2), d, keep_generations="1")
        M.rename_column(d, "p_type", "part_type")
        M.drop_column(d, "p_name")
        M.add_column(d, "priority", "bigint")
        post = full.filter("p_size >= 45").selectExpr(
            "p_partkey + 100000000 AS p_partkey",
            "p_brand",
            "p_type AS part_type",
            "p_size",
            "p_retailprice",
            "CAST(p_size AS BIGINT) AS priority",
        )
        write(post.coalesce(1), d, mode="append")

    d = _marker_dir(spark, sf_dir, "part-alter-jvm-v2", build)
    t = _jvm_scan(spark, d)
    return t.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("p_partkey").cast("bigint").alias("key_sum"),
        F.min("part_type").alias("min_type"),
        F.sum("priority").cast("bigint").alias("prio_sum"),
        F.count("priority").alias("n_prio"),
    )


@register(
    "quiverjvm_nested_scan",
    oracle="""
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(len(embedding)) AS BIGINT) AS total_dims,
       CAST(SUM(
           (SELECT SUM(CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                       * CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
            FROM unnest(embedding) AS t(x))
       ) AS BIGINT) AS inorm_sum,
       CAST(SUM(len(embedding)) AS BIGINT) AS meta_dim_sum,
       MIN(label) AS meta_min_lab,
       CAST(SUM(vec_id) AS BIGINT) AS tag_vid_sum
FROM embeddings
GROUP BY label
""",
    tags=("format", "jvm", "scan", "nested"),
)
def quiverjvm_nested_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested types through the JVM columnar reader (round-12 guard lift,
    VERDICT r11 item 3): a fixture derived from embeddings carries
    list<float> (the real embedding column), a struct<lab:string,dim:int>
    and a map<string,bigint> — all rebuilt by the Java Dremel assembler
    (QuiverNested, rep/def reconstruction per the reference's NestedState
    at src/read/read_basic.rs:65-173) from pages the quiverjvm writer
    shredded (1,000-row pages). The struct/map columns are derived from
    flat columns at build time, so the oracle recomputes them algebraically from parquet:
    a mis-assembled offset, a leaf attached to the wrong parent, or a
    value/null swap shifts the sums and hash-fails. int_vec quantization
    keeps the float math exact across engines."""
    from quiver_spark.functions import int_vec
    from quiver_spark.operators.format_queries2 import _marker_dir

    def build(d):
        src = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
            "vec_id",
            "embedding",
            "label",
            "named_struct('lab', label, 'dim', size(embedding)) AS meta",
            "map(label, vec_id) AS tags",
        )
        write(src.coalesce(2), d, max_page_size="1000")

    d = _marker_dir(spark, sf_dir, "embeddings-nested-jvm-v2", build)
    t = _jvm_scan(spark, d)
    iv = int_vec("embedding")
    return (
        t.select(
            "label",
            F.size("embedding").alias("dims"),
            iv.alias("iv"),
            F.col("meta.dim").alias("meta_dim"),
            F.col("meta.lab").alias("meta_lab"),
            F.element_at("tags", F.col("label")).alias("tag_vid"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("dims").cast("bigint").alias("total_dims"),
            F.sum(
                F.aggregate("iv", F.lit(0).cast("bigint"), lambda a, x: a + x * x)
            ).cast("bigint").alias("inorm_sum"),
            F.sum("meta_dim").cast("bigint").alias("meta_dim_sum"),
            F.min("meta_lab").alias("meta_min_lab"),
            F.sum("tag_vid").cast("bigint").alias("tag_vid_sum"),
        )
    )


@register(
    "quiverjvm_default_fill_scan",
    oracle="""
WITH evolved AS (
    SELECT p_partkey, p_brand, 'std' AS grade, CAST('1.25' AS DECIMAL(10,2)) AS bonus
    FROM part
    UNION ALL
    SELECT p_partkey + 100000000, p_brand, 'elite', CAST('9.75' AS DECIMAL(10,2))
    FROM part
    WHERE p_size >= 45
)
SELECT p_brand,
       COUNT(*) AS cnt,
       CAST(SUM(p_partkey) AS BIGINT) AS key_sum,
       MIN(grade) AS min_grade,
       MAX(grade) AS max_grade,
       CAST(SUM(bonus * 100) AS BIGINT) AS bonus_cents
FROM evolved
GROUP BY p_brand
""",
    tags=("format", "jvm", "ddl", "defaults"),
)
def quiverjvm_default_fill_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column initial-defaults through the JVM scan (round-12 guard lift,
    VERDICT r11 item 4): part is written as a generation, add_column
    declares grade='std' and bonus=1.25 (Iceberg initial-default semantics — files
    that PREDATE the ALTER fill the default, not null), then a post-ALTER
    append lands rows physically carrying different values. The reader
    constant-fills per chunk from the manifest's column_defaults (typed
    string and decimal constants), and sources.scan must read the table
    on the JVM engine — the engine is asserted."""
    from quiver_spark.operators.format_queries2 import _marker_dir
    from quiver_spark.sources import scan

    def build(d):
        from quiver_spark import maintenance as M

        full = spark.read.parquet(f"{sf_dir}/part.parquet").select(
            "p_partkey", "p_brand", "p_size"
        )
        write(full.coalesce(2), d, keep_generations="1")
        M.add_column(d, "grade", "string", default="std")
        M.add_column(d, "bonus", "decimal(10,2)", default="1.25")
        post = full.filter("p_size >= 45").selectExpr(
            "p_partkey + 100000000 AS p_partkey",
            "p_brand",
            "p_size",
            "'elite' AS grade",
            "CAST('9.75' AS DECIMAL(10,2)) AS bonus",
        )
        write(post.coalesce(1), d, mode="append")

    d = _marker_dir(spark, sf_dir, "part-defaults-jvm-v2", build)
    t = scan(spark, d)
    if "quiverjvm" not in t._jdf.queryExecution().analyzed().toString():
        raise RuntimeError(
            "defaults table must route to the JVM reader (round-12 lift)"
        )
    return t.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("p_partkey").cast("bigint").alias("key_sum"),
        F.min("grade").alias("min_grade"),
        F.max("grade").alias("max_grade"),
        F.sum(F.col("bonus") * 100).cast("bigint").alias("bonus_cents"),
    )


@register(
    "quiverjvm_uint_scan",
    oracle="""
SELECT COUNT(*) AS cnt,
       CAST(SUM(CAST(s_suppkey AS BIGINT) % 200) AS BIGINT) AS u8_sum,
       CAST(SUM(s_suppkey) AS BIGINT) AS u16_sum,
       CAST(SUM(s_suppkey * 100000) AS BIGINT) AS u32_sum,
       SUM(CAST(s_suppkey AS DOUBLE) * 1000000000) AS u64_sum,
       CAST(MAX(s_suppkey) AS BIGINT) AS max_u16
FROM supplier
""",
    tags=("format", "jvm", "scan", "uint"),
)
def quiverjvm_uint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsigned integers through the JVM scan (round-12 guard lift,
    VERDICT r11 item 4): a library-written file carries uint8/16/32/64
    leaves derived from supplier keys (the reference encodes uints via the
    plain integer cascade, src/write/primitive.rs:55-70); the reader
    zero-extends into the widened Spark types (short/int/long/
    decimal(20,0) per SURVEY §1.3 — Python-DS parity) and sources.scan
    must route the table to the JVM engine. Sums recompute the widened
    values exactly from parquet; u64 aggregates as double (values bounded
    so the double sum is exact)."""
    import os

    from quiver_spark.operators.format_queries2 import _marker_dir
    from quiver_spark.sources import scan

    def build(d):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from quiver_spark.format.writer import WriteOptions, write_table

        os.makedirs(d, exist_ok=True)
        sup = pq.read_table(f"{sf_dir}/supplier.parquet", columns=["s_suppkey"])
        keys = sup.column("s_suppkey").to_pylist()
        t = pa.table(
            {
                "u8": pa.array([k % 200 for k in keys], pa.uint8()),
                "u16": pa.array(keys, pa.uint16()),
                "u32": pa.array([k * 100000 for k in keys], pa.uint32()),
                "u64": pa.array([k * 1000000000 for k in keys], pa.uint64()),
            }
        )
        write_table(t, os.path.join(d, "part-0.quiver"), WriteOptions())

    d = _marker_dir(spark, sf_dir, "supplier-uint-jvm", build)
    t = scan(spark, d)
    if "quiverjvm" not in t._jdf.queryExecution().analyzed().toString():
        raise RuntimeError("uint table must route to the JVM reader (round-12 lift)")
    return t.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("u8").cast("bigint").alias("u8_sum"),
        F.sum("u16").cast("bigint").alias("u16_sum"),
        F.sum("u32").cast("bigint").alias("u32_sum"),
        F.sum(F.col("u64").cast("double")).alias("u64_sum"),
        F.max("u16").cast("bigint").alias("max_u16"),
    )


@register(
    "quiverjvm_limit_scan",
    oracle="""
SELECT COUNT(*) AS cnt,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(MIN(o_orderkey) AS BIGINT) AS first_key
FROM (SELECT o_orderkey FROM orders LIMIT 1000) t
""",
    tags=("format", "jvm", "scan", "limit"),
)
def quiverjvm_limit_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT through the JVM scan's SupportsPushDownLimit (round 12): a
    single-file order-preserving fixture so both engines' LIMIT-1000
    prefix is the parquet head, with the advisory planning cap live —
    the plan stops after enough leading pages to cover the limit and
    Spark's own limit trims exactly. The Python-DS twin is
    quiver_limit_head (the source-level `limit` option)."""
    from quiver_spark.operators.format_queries2 import _marker_dir

    def build(d):
        write(spark.read.parquet(f"{sf_dir}/orders.parquet").coalesce(1), d)

    d = _marker_dir(spark, sf_dir, "orders-limit-jvm-v2", build)
    head = _jvm_scan(spark, d).select("o_orderkey").limit(1000)
    return head.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.min("o_orderkey").cast("bigint").alias("first_key"),
    )


@register(
    "quiverjvm_time_travel_scan",
    oracle="""
SELECT COUNT(*) AS cnt,
       COUNT(DISTINCT n_regionkey) AS regions,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       MAX(n_name) AS max_name
FROM nation
WHERE n_regionkey < 2
""",
    tags=("format", "jvm", "generations", "time-travel"),
)
def quiverjvm_time_travel_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel THROUGH THE JVM ENGINE (round 13 — VERDICT r12 Next #1):
    nation is overwritten twice with retention (the Python-DS gate's
    fixture) and ``.option("version", "1")`` on the quiverjvm reader pins
    the RETAINED first generation while generation 2 is live — the JVM
    planner resolves the pinned gen-NNNNNN directory instead of
    `_current` (QuiverJvmRead.resolveRoot). The oracle is the subset
    predicate on the parquet original: resolving the wrong generation,
    mixing generations, or losing retained files hash-fails. Previously
    ANY options-bearing scan was pinned to the Python DS's many-small-
    files floor (sf0.1 manyfiles 1.65-2.6x parquet vs the JVM's 0.50x)."""
    from quiver_spark.operators.format_queries import (
        _nation_generations_dir,
    )

    d = _nation_generations_dir(spark, sf_dir)
    n = _jvm_scan(spark, d, version="1")
    return n.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("n_regionkey").alias("regions"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.max("n_name").alias("max_name"),
    )


@register(
    "quiverjvm_cdc_scan",
    oracle="""
SELECT lang,
       COUNT(*) AS cnt,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc
FROM documents
WHERE doc_id % 10 >= 8
GROUP BY lang
""",
    tags=("format", "jvm", "manifest", "incremental", "cdc"),
)
def quiverjvm_cdc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC cursor THROUGH THE JVM ENGINE (round 13): the shared
    three-commit fixture (baseline overwrite = commit 1, two appends =
    commits 2, 3) read with ``changes_since=2`` — only the SECOND
    append's files, planned from the manifest's per-file commit stamps
    inside the JVM planner (a different cursor than the Python-DS gate's
    changes_since=1, so the two gates cannot share a cached result).
    Files the manifest cannot vouch for are conservatively KEPT
    (at-least-once, _files_changed_since parity). The oracle rebuilds the
    second append's rows from the parquet original: a baseline or
    first-append file leaking in, or an appended file dropped, hash-fails."""
    from quiver_spark.operators.format_queries2 import (
        documents_incremental_dir,
    )

    d = documents_incremental_dir(spark, sf_dir)
    t = _jvm_scan(spark, d, changes_since="2")
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_chars").cast("bigint").alias("chars_sum"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
    )


@register(
    "quiverjvm_sql_catalog_table",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS cnt,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(14,4))) AS DOUBLE) AS bal_sum,
       MIN(c_name) AS min_name
FROM customer
GROUP BY c_mktsegment
""",
    tags=("format", "jvm", "sql", "ddl", "catalog"),
)
def quiverjvm_sql_catalog_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL catalog DDL on the JVM DataSource (round 13 — VERDICT r12
    Next #2): ``CREATE TABLE … USING quiverjvm LOCATION …`` registers a
    CATALOG table (TableProvider + supportsExternalMetadata; paths arrive
    as file: URIs, normalized by QuiverJvmRead.localPath), half the rows
    are loaded via pure-SQL ``INSERT INTO … SELECT`` through the JVM
    writer, and the query aggregates with pure SQL — no DataFrame API
    anywhere in the data path. The Python DS structurally cannot do this
    (Spark 4.1.2 drops Python-DS catalog OPTIONS at scan — the documented
    sentinel, test_ddl_catalog_table_sentinel); the JVM engine closes it.
    Restart survival is pinned by test_jvm_catalog_table_survives_restart
    (two JVMs sharing a Derby metastore)."""
    from quiver_spark.jvm import attach_jar
    from quiver_spark.operators.format_queries2 import _marker_dir

    if not attach_jar(spark):
        raise RuntimeError("quiverjvm jar failed to attach via ADD JAR")
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_").replace("-", "_")
    tbl = f"quiverjvm_cat_customer_{tag}"

    def build(d: str) -> None:
        pq = f"{sf_dir}/customer.parquet"
        spark.read.parquet(pq).filter("c_custkey % 2 = 0").write.format(
            "quiverjvm"
        ).mode("overwrite").save(d)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"CREATE TABLE {tbl} USING quiverjvm LOCATION '{d}'")
        # the odd half arrives through SQL DML — the JVM writer's
        # BATCH_WRITE capability under INSERT INTO (append semantics)
        spark.sql(
            f"INSERT INTO {tbl} SELECT * FROM parquet.`{pq}` "
            "WHERE c_custkey % 2 = 1"
        )

    d = _marker_dir(spark, sf_dir, "customer-jvm-catalog", build)
    # markers persist across driver sessions; the catalog entry does not
    # (in-memory catalog) — re-register idempotently
    spark.sql(f"CREATE TABLE IF NOT EXISTS {tbl} USING quiverjvm LOCATION '{d}'")
    return spark.sql(
        f"""
SELECT c_mktsegment,
       COUNT(*) AS cnt,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(14,4))) AS DOUBLE) AS bal_sum,
       MIN(c_name) AS min_name
FROM {tbl}
GROUP BY c_mktsegment
"""
    )


@register(
    "quiverjvm_stream_scan",
    oracle="""
SELECT lang,
       COUNT(*) AS cnt,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc
FROM documents
GROUP BY lang
""",
    tags=("format", "jvm", "streaming", "agg"),
)
def quiverjvm_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming read through the JVM MicroBatchStream (round
    13 — VERDICT r12 Next #6): the documents table consumed as a
    quiverjvm STREAM (availableNow, complete-mode aggregation into a
    memory sink) must equal the parquet oracle's batch aggregate — the
    stream-vs-batch parity contract, under the driver's hash. Per-batch
    planning runs JVM-side (QuiverJvmStream), killing the Python DS's
    ~0.175 s planner-process floor per micro-batch; offsets are sorted
    file-listing deltas ({"files": [...]}, the Python source's exact
    protocol), rate limiting via max_files_per_trigger +
    SupportsTriggerAvailableNow."""
    import uuid

    from quiver_spark.jvm import attach_jar
    from quiver_spark.operators.format_queries import quiver_dir

    if not attach_jar(spark):
        raise RuntimeError("quiverjvm jar failed to attach via ADD JAR")
    d = quiver_dir(spark, sf_dir, "documents")
    # The stream runs in a sibling session (same SparkContext and attached
    # jar, its own SQL conf and temp views), so the caller's session keeps
    # its conf and gains no memory-sink view. Round 17 (guide §1.1
    # instrumentation → §2.2): the wall here was the STATE STORE, not the
    # scan — a streaming aggregate allocates one HDFS-backed state store
    # (open + delta write + snapshot maintenance) per shuffle partition,
    # and under the session default (64) a 5-group aggregate paid 64
    # store lifecycles per micro-batch: measured addBatch 13-37 s (and
    # wildly noisy — store maintenance is asynchronous) at 64 partitions
    # vs 0.7-1.1 s at 1-8. State partitions for a BOUNDED-cardinality
    # aggregate are O(|groups|) at any corpus size (map-side partial
    # aggregation still parallelizes with input splits; only ≤|langs|
    # merged rows reach the store), so a small constant is the
    # scale-correct setting, not a local tune.
    name = "qjs_" + uuid.uuid4().hex[:8]
    with _stream_session(
        spark, "quiver_qjs_ckpt_", {"spark.sql.shuffle.partitions": "8"}
    ) as (stream_spark, ckpt):
        q = (
            stream_spark.readStream.format("quiverjvm")
            .load(d)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("n_chars").cast("bigint").alias("chars_sum"),
                F.min("doc_id").cast("bigint").alias("min_doc"),
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "quiverjvm_stream_scan: stream did not drain within 300 s "
                "— refusing to read a partial aggregate"
            )
        # the frame keeps the analyzed memory-sink relation, so it stays
        # readable after its view is dropped
        result = stream_spark.table(name)
        stream_spark.catalog.dropTempView(name)
    return result


@register(
    "quiverjvm_stream_sink_scan",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM orders
GROUP BY o_orderpriority
""",
    tags=("format", "jvm", "streaming", "sink", "agg"),
)
def quiverjvm_stream_sink_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming WRITE through ``sources.stream_writer`` (the
    streaming pair of quiverjvm_stream_scan's source): the orders table
    streams out of the quiverjvm source (availableNow), each micro-batch
    is one ``sources.write`` append — a staged quiverjvm write published
    by ``snapshot.commit`` under the table lock, with a
    ``_quiver_commits`` marker per batch — and the STREAMED table's JVM
    batch scan must equal the parquet oracle (the write-path parity
    contract)."""
    from quiver_spark.jvm import attach_jar
    from quiver_spark.operators.format_queries import quiver_dir
    from quiver_spark.operators.format_queries2 import _marker_dir
    from quiver_spark.sources import stream_writer

    if not attach_jar(spark):
        raise RuntimeError("quiverjvm jar failed to attach via ADD JAR")

    def build(d: str) -> None:
        src = quiver_dir(spark, sf_dir, "orders")
        with _stream_session(spark, "quiver_qjsink_ckpt_") as (ss, ckpt):
            q = (
                stream_writer(ss.readStream.format("quiverjvm").load(src), d)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "quiverjvm_stream_sink_scan: stream did not drain "
                    "within 300 s — refusing to cache a partial fixture"
                )

    d = _marker_dir(spark, sf_dir, "orders-jvm-stream-sink-v2", build)
    return (
        spark.read.format("quiverjvm")
        .load(d)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("price_sum"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
        )
    )


@register(
    "quiverjvm_stream_pipeline_scan",
    oracle="""
WITH m AS (SELECT MAX(ts) AS mx FROM events),
agg AS (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS we,
           event_type,
           COUNT(*) AS cnt,
           SUM(CAST(value AS DECIMAL(18,6))) AS val_sum
    FROM events
    GROUP BY 1, 2, 3
),
emitted AS (
    SELECT a.* FROM agg a, m
    WHERE epoch_ms(a.we) <= epoch_ms(m.mx) - 17 * 60 * 1000
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       CAST(SUM(val_sum) AS DOUBLE) AS value_sum,
       strftime(MIN(ws), '%Y-%m-%d %H:%M:%S') AS first_window,
       strftime(MAX(ws), '%Y-%m-%d %H:%M:%S') AS last_window
FROM emitted
GROUP BY event_type
""",
    tags=("format", "jvm", "streaming", "watermark", "window", "sink"),
)
def quiverjvm_stream_pipeline_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL streaming pipeline (round 14, VERDICT r13 Next #7): events
    stream in through the JVM MicroBatchStream source, a 17-minute
    watermark + hourly tumbling window aggregates them (append mode — a
    window only emits once the watermark passes its end), and the
    finalized windows stream OUT through ``sources.stream_writer`` (one
    staged quiverjvm append per micro-batch) with Hive fan-out
    (`partition_by=event_type`), drained availableNow. The landed table
    is then scanned back through the JVM batch reader and summarized per
    event_type against a batch oracle that replays the SAME watermark
    semantics (Spark truncates event-time stats to MILLISECONDS, so the
    oracle's cutoff is epoch_ms(max ts) − delay; a window is emitted iff
    window_end ≤ watermark). One gate exercises: JVM stream source →
    stateful watermarked agg (no-data micro-batch flushes the final
    watermark) → per-batch ``sources.write`` → partition fan-out →
    snapshot commit → JVM batch scan.

    Determinism: per-window sums are DECIMAL(18,6) (order-independent)
    and stay decimal in the landed table; the read-back summary sums
    decimals exactly and casts to double ONCE. Window starts are whole
    hours (epoch-aligned in both engines)."""
    from quiver_spark.jvm import attach_jar
    from quiver_spark.operators.format_queries import quiver_dir
    from quiver_spark.operators.format_queries2 import _marker_dir
    from quiver_spark.sources import stream_writer

    if not attach_jar(spark):
        raise RuntimeError("quiverjvm jar failed to attach via ADD JAR")

    def build(d: str) -> None:
        src = quiver_dir(spark, sf_dir, "events")
        # Spark refuses an event-time watermark on TIMESTAMP_NTZ (the
        # quiver mapping for tz-less µs). The stream session is pinned
        # to UTC so the NTZ→TIMESTAMP cast is instant-identity; the
        # window start is cast BACK to NTZ for the landed table —
        # wall-clock round trip, tz-free like every other events gate.
        with _stream_session(spark, "quiver_qjpipe_ckpt_", _UTC) as (ss, ckpt):
            windowed = (
                ss.readStream.format("quiverjvm")
                .load(src)
                .withColumn("ts", F.col("ts").cast("timestamp"))
                .withWatermark("ts", "17 minutes")
                .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum(F.col("value").cast("decimal(18,6)")).alias("val_sum"),
                )
                .select(
                    F.col("win.start").cast("timestamp_ntz").alias("ws"),
                    "event_type",
                    "cnt",
                    "val_sum",
                )
            )
            q = (
                stream_writer(windowed, d, partition_by="event_type")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "quiverjvm_stream_pipeline_scan: stream did not drain "
                    "within 300 s — refusing to cache a partial fixture"
                )

    d = _marker_dir(spark, sf_dir, "events-jvm-stream-pipeline-v2", build)
    return (
        spark.read.format("quiverjvm")
        .load(d)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum("cnt").cast("bigint").alias("n_events"),
            F.sum("val_sum").cast("double").alias("value_sum"),
            F.date_format(F.min("ws"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_window"
            ),
            F.date_format(F.max("ws"), "yyyy-MM-dd HH:mm:ss").alias(
                "last_window"
            ),
        )
    )


@register(
    "quiverjvm_stream_sessions_scan",
    oracle="""
WITH m AS (SELECT MAX(ts) AS mx FROM events),
lagged AS (
    SELECT user_id, ts, value,
           CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS brk
    FROM events
),
sess AS (
    SELECT user_id, ts, value,
           SUM(brk) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
    FROM lagged
),
agg AS (
    SELECT user_id, sid,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events,
           SUM(CAST(value AS DECIMAL(18,6))) AS val_sum
    FROM sess
    GROUP BY 1, 2
)
SELECT user_id,
       strftime(session_start, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(val_sum AS DOUBLE) AS value_sum
FROM agg, m
WHERE epoch_us(session_end) <= (epoch_ms(mx) - 17 * 60 * 1000) * 1000
""",
    tags=("format", "jvm", "streaming", "session", "watermark", "sink"),
)
def quiverjvm_stream_sessions_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSIONIZATION (round 14): events stream through the JVM
    source into a watermarked ``session_window(ts, 30 min)`` per-user
    aggregate (append mode — a session emits once the watermark passes
    its end = last event + gap, so no later event can merge into it),
    land through ``sources.stream_writer``, and read back through the JVM batch reader as the full
    per-session table. The DuckDB oracle replays the semantics exactly:
    gaps-and-islands sessionization with a ``>= gap`` break (Spark merges
    only strictly-overlapping session windows, so an event exactly at
    last + gap starts a NEW session) and the ms-truncated watermark
    cutoff on session_end.

    Next to the tumbling-window pipeline gate this pins Spark's OTHER
    stateful window machinery — merging session state — through the same
    source/sink pair. Decimal per-session sums keep float order out of
    the hash; session_start is emitted at full µs precision (strftime
    %f), proving the session boundaries match to the microsecond."""
    from quiver_spark.jvm import attach_jar
    from quiver_spark.operators.format_queries import quiver_dir
    from quiver_spark.operators.format_queries2 import _marker_dir
    from quiver_spark.sources import stream_writer

    if not attach_jar(spark):
        raise RuntimeError("quiverjvm jar failed to attach via ADD JAR")

    def build(d: str) -> None:
        src = quiver_dir(spark, sf_dir, "events")
        with _stream_session(spark, "quiver_qjsess_ckpt_", _UTC) as (ss, ckpt):
            sessions = (
                ss.readStream.format("quiverjvm")
                .load(src)
                .withColumn("ts", F.col("ts").cast("timestamp"))
                .withWatermark("ts", "17 minutes")
                .groupBy(
                    F.session_window("ts", "30 minutes").alias("win"),
                    "user_id",
                )
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,6)")).alias("val_sum"),
                )
                .select(
                    F.col("win.start").cast("timestamp_ntz").alias("ss"),
                    "user_id",
                    "n_events",
                    "val_sum",
                )
            )
            q = (
                stream_writer(sessions, d)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "quiverjvm_stream_sessions_scan: stream did not drain "
                    "within 300 s — refusing to cache a partial fixture"
                )

    d = _marker_dir(spark, sf_dir, "events-jvm-stream-sessions-v2", build)
    return (
        spark.read.format("quiverjvm")
        .load(d)
        .select(
            "user_id",
            F.date_format("ss", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("val_sum").cast("double").alias("value_sum"),
        )
    )
