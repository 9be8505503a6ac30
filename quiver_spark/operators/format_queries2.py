"""Round-9 format queries: manifest-backed planning, cross-file packed
scans, schema-evolution merge reads, and manifest rebuild — each routed
through the driver's correctness gate so the new planning surface has
oracle-checked rows, not just unit tests.

The fixtures write through ``sources.write`` (so a commit-time manifest
exists) or through the library writer + ``rebuild_manifest`` (the
migration path); all are cached per sf under markers like the other
format fixtures.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quiver_spark.functions import dsum
from quiver_spark.operators.format_queries import CACHE_ROOT, quiver_relation
from quiver_spark.registry import register
from quiver_spark.sources import register as register_format
from quiver_spark.sources import scan, write


def _marker_dir(spark: SparkSession, sf_dir: str, name: str, build) -> str:
    """Cached fixture directory with crash-idempotent rebuild."""
    register_format(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    d = os.path.join(CACHE_ROOT, tag, name)
    marker = os.path.join(d, "_done")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(d, ignore_errors=True)
        build(d)
        with open(marker, "w") as f:
            f.write("ok")
    return d


@register(
    "quiver_manifest_packed_scan",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS cnt,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(14,4))) AS DOUBLE) AS acct_sum,
       MIN(c_name) AS min_name
FROM customer
GROUP BY c_mktsegment
""",
    tags=("format", "manifest", "scan", "small-files"),
)
def quiver_manifest_packed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer fanned out into 24 small files written through
    ``sources.write``, scanned back through the two round-9 scale fixes
    at once: plan-time metadata comes from the table's commit-time
    manifest (one read, not 24 footers
    — the O(files)→O(1) fix for 100 TB file counts), and the planner
    packs the small files' page ranges into few multi-file tasks
    (QuiverPartition.extra) instead of one task per file. The oracle is
    the parquet original: a row lost at any file/chunk boundary, or a
    manifest serving a wrong footer, hash-fails."""

    def build(d: str) -> None:
        write(
            spark.read.parquet(f"{sf_dir}/customer.parquet").repartition(24),
            d,
        )

    d = _marker_dir(spark, sf_dir, "customer-manifest-packed-v2", build)
    c = quiver_relation(spark, d)
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("c_custkey").cast("bigint").alias("key_sum"),
        dsum("c_acctbal").alias("acct_sum"),
        F.min("c_name").alias("min_name"),
    )


@register(
    "quiver_merge_schemas_scan",
    oracle="""
SELECT COUNT(*) AS cnt,
       COUNT(n_name) AS names,
       COUNT(n_regionkey) AS regions,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       MIN(n_name) AS min_name
FROM (
    SELECT n_nationkey, n_name, NULL AS n_regionkey FROM nation
    UNION ALL
    SELECT n_nationkey, NULL AS n_name, n_regionkey FROM nation
)
""",
    tags=("format", "scan", "schema-evolution"),
)
def quiver_merge_schemas_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end: the table accretes two commits
    with DIFFERENT column sets (nation keyed by name, then by region);
    ``merge_schemas=true`` unions the footers by name and the scan
    null-fills each file's missing column — the count-per-column oracle
    proves exactly which half carries which column. Planning stays
    manifest-served across both commits (append updates the manifest)."""

    def build(d: str) -> None:
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        write(n.select("n_nationkey", "n_name"), d)
        write(n.select("n_nationkey", "n_regionkey"), d, mode="append")

    d = _marker_dir(spark, sf_dir, "nation-merge-schemas-v2", build)
    t = quiver_relation(spark, d, merge_schemas="true")
    return t.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count("n_name").alias("names"),
        F.count("n_regionkey").alias("regions"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.min("n_name").alias("min_name"),
    )


@register(
    "arrow_ipc_merge_scan",
    oracle="""
SELECT COUNT(*) AS cnt,
       COUNT(s_name) AS names,
       COUNT(s_acctbal) AS bals,
       CAST(SUM(s_suppkey) AS BIGINT) AS key_sum,
       MIN(s_name) AS min_name
FROM (
    SELECT s_suppkey, s_name, NULL AS s_acctbal FROM supplier
    UNION ALL
    SELECT s_suppkey, NULL AS s_name, s_acctbal FROM supplier
)
""",
    tags=("format", "arrow", "scan", "schema-evolution"),
)
def arrow_ipc_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arrowipc twin of quiver_merge_schemas_scan: two .arrow commits
    with different column sets (supplier keyed by name, then by balance),
    read back with ``merge_schemas=true`` (union-by-name over the IPC
    footers, manifest-served; files lacking a declared column null-fill
    it batch-side)."""

    def build(d: str) -> None:
        s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        s.select("s_suppkey", "s_name").write.format("arrowipc").mode(
            "overwrite"
        ).save(d)
        s.select("s_suppkey", "s_acctbal").write.format("arrowipc").mode(
            "append"
        ).save(d)

    d = _marker_dir(spark, sf_dir, "supplier-arrow-merge", build)
    t = (
        spark.read.format("arrowipc")
        .option("merge_schemas", "true")
        .load(d)
    )
    return t.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count("s_name").alias("names"),
        F.count("s_acctbal").alias("bals"),
        F.sum("s_suppkey").cast("bigint").alias("key_sum"),
        F.min("s_name").alias("min_name"),
    )


@register(
    "quiver_manifest_rebuild_scan",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS cnt,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       MIN(o_orderstatus) AS min_status
FROM orders
GROUP BY o_orderpriority
""",
    tags=("format", "manifest", "maintenance", "scan"),
)
def quiver_manifest_rebuild_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest migration path: a directory written by the LIBRARY
    writer (two files, no sink, no manifest) gets one retrofitted with
    ``rebuild_manifest`` — the same tool `quiver-tools manifest rebuild`
    drives — and the scan plans from it. The oracle is the parquet
    original, so a rebuild that records wrong footers or page tables
    hash-fails rather than merely slowing down."""

    def build(d: str) -> None:
        import pyarrow.parquet as pq

        from quiver_spark.format.writer import WriteOptions, write_table
        from quiver_spark.sources.manifest import rebuild_manifest

        os.makedirs(d, exist_ok=True)
        t = pq.read_table(
            f"{sf_dir}/orders.parquet",
            columns=["o_orderkey", "o_orderpriority", "o_orderstatus"],
        )
        half = t.num_rows // 2
        write_table(t.slice(0, half), os.path.join(d, "a.quiver"), WriteOptions())
        write_table(t.slice(half), os.path.join(d, "b.quiver"), WriteOptions())
        rebuild_manifest(d)

    d = _marker_dir(spark, sf_dir, "orders-manifest-rebuild", build)
    o = quiver_relation(spark, d)
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.min("o_orderstatus").alias("min_status"),
    )


@register(
    "quiver_delete_scan",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS cnt,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       MIN(o_orderstatus) AS min_status
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
GROUP BY o_orderpriority
""",
    tags=("format", "dml", "delete", "copy-on-write"),
)
def quiver_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE through the driver gate: orders lands as a
    multi-file quiver table (range-disjoint o_orderkey files) and
    ``maintenance.delete_where`` removes ``o_orderstatus='F' AND
    o_orderkey % 5 = 0`` as a file-level copy-on-write generation commit
    — zone-map detection picks the candidate files, only those rewrite,
    the rest hard-link into the new generation. The oracle applies the
    inverse predicate to the parquet original, so a row deleted too many,
    too few, or from the wrong file hash-fails. Engine surface:
    maintenance.delete_where + the carry_files commit; the
    reference format has no DML layer (single-file,
    /root/reference/src/lib.rs) — this is the table-layer analogue of
    copy-on-write DELETE."""

    def build(d: str) -> None:
        from quiver_spark import maintenance

        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderpriority", "o_orderstatus"
        )
        write(
            o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
                "o_orderkey"
            ),
            d,
        )
        maintenance.delete_where(
            spark, d, "o_orderstatus = 'F' AND o_orderkey % 5 = 0"
        )

    d = _marker_dir(spark, sf_dir, "orders-deleted-v2", build)
    o = quiver_relation(spark, d)
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.min("o_orderstatus").alias("min_status"),
    )


@register(
    "quiver_update_scan",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS cnt,
       CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING'
                     THEN c_nationkey + 100 ELSE c_nationkey END)
            AS BIGINT) AS nat_sum,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM customer
GROUP BY c_mktsegment
""",
    tags=("format", "dml", "update", "copy-on-write"),
)
def quiver_update_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE through the driver gate: customer lands as a
    multi-file quiver table and ``maintenance.update_where`` shifts
    ``c_nationkey`` by +100 for the BUILDING segment (integer-exact, so
    the hash comparison is bitwise). The oracle reconstructs the update
    with a CASE over the parquet original — an assignment applied to the
    wrong rows, dropped rows, or a drifted column type hash-fails."""

    def build(d: str) -> None:
        from quiver_spark import maintenance

        c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_nationkey", "c_mktsegment"
        )
        write(
            c.repartitionByRange(6, "c_custkey").sortWithinPartitions(
                "c_custkey"
            ),
            d,
        )
        maintenance.update_where(
            spark,
            d,
            {"c_nationkey": "c_nationkey + 100"},
            "c_mktsegment = 'BUILDING'",
        )

    d = _marker_dir(spark, sf_dir, "customer-updated-v2", build)
    c = quiver_relation(spark, d)
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("c_nationkey").cast("bigint").alias("nat_sum"),
        F.sum("c_custkey").cast("bigint").alias("key_sum"),
    )


@register(
    "quiver_merge_upsert_scan",
    oracle="""
WITH merged AS (
    SELECT n_nationkey,
           CASE WHEN n_regionkey < 2 THEN 'UPSERTED' ELSE n_name END
               AS n_name,
           n_regionkey
    FROM nation
    UNION ALL
    SELECT n_nationkey + 100 AS n_nationkey,
           'INSERTED' AS n_name,
           n_regionkey
    FROM nation
    WHERE n_regionkey = 4
)
SELECT n_regionkey,
       COUNT(*) AS cnt,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       MIN(n_name) AS min_name
FROM merged
GROUP BY n_regionkey
""",
    tags=("format", "dml", "merge", "upsert", "copy-on-write"),
)
def quiver_merge_upsert_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (upsert) through the driver gate: nation lands as a quiver
    table, then ``maintenance.merge_upsert`` applies a source of
    (a) updated rows — regions 0/1 with their name replaced — and
    (b) brand-new rows — region-4 nations re-keyed +100. WHEN MATCHED
    the whole row is replaced, WHEN NOT MATCHED it is inserted; the
    oracle rebuilds the merged state with a CASE + UNION ALL over the
    parquet original. A lost update, doubled insert, or row surviving
    that a source row should have replaced hash-fails."""

    def build(d: str) -> None:
        from quiver_spark import maintenance

        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        write(
            n.repartitionByRange(3, "n_nationkey").sortWithinPartitions(
                "n_nationkey"
            ),
            d,
        )
        updates = n.filter("n_regionkey < 2").withColumn(
            "n_name", F.lit("UPSERTED")
        )
        inserts = (
            n.filter("n_regionkey = 4")
            .withColumn("n_nationkey", F.col("n_nationkey") + F.lit(100))
            .withColumn("n_name", F.lit("INSERTED"))
        )
        maintenance.merge_upsert(
            spark, d, updates.unionByName(inserts), on=["n_nationkey"]
        )

    d = _marker_dir(spark, sf_dir, "nation-merged-v2", build)
    m = quiver_relation(spark, d)
    return m.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.min("n_name").alias("min_name"),
    )


@register(
    "quiver_clustered_scan",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       MIN(o_orderpriority) AS min_priority
FROM orders
WHERE o_orderkey BETWEEN 500 AND 1500
GROUP BY o_orderstatus
""",
    tags=("format", "cluster", "pruning", "maintenance"),
)
def quiver_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``maintenance.cluster_by`` through the driver gate: orders lands
    HASH-SCATTERED (every file's o_orderkey min/max spans the domain —
    zone maps useless), is then sort-clustered on o_orderkey in place
    (atomic generation swap; `repartitionByRange` + sorted files), and a
    narrow key-range aggregate reads it with page pruning on. The oracle
    is the parquet original, so a row lost/doubled by the cluster
    rewrite, or a page wrongly pruned from the clustered layout,
    hash-fails. Clustering is what makes zone-map pruning and file-
    minimal row-level DML reachable for real tables (BASELINE.md round-9
    DML-at-scale table)."""

    def build(d: str) -> None:
        from quiver_spark import maintenance

        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority"
        )
        write(o.repartition(8), d)
        maintenance.cluster_by(
            spark, d, ["o_orderkey"], target_rows_per_file=1 << 14
        )

    d = _marker_dir(spark, sf_dir, "orders-clustered-v2", build)
    o = scan(spark, d, page_prune="true")
    return (
        o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") <= 1500))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.min("o_orderpriority").alias("min_priority"),
        )
    )


@register(
    "quiver_bloom_lookup_scan",
    oracle="""
SELECT o_orderkey,
       o_orderstatus,
       o_orderpriority
FROM orders
WHERE o_orderkey IN (3, 41, 500, 999, 1203)
""",
    tags=("format", "bloom", "pruning", "point-lookup"),
)
def quiver_bloom_lookup_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page BLOOM data skipping through the driver gate: orders lands
    HASH-SCATTERED with `.option("bloom_columns", "o_orderkey")` — every
    page's min/max spans the whole key domain, so zone maps prune
    nothing — and a 5-key point lookup reads it with page pruning on.
    Blooms have no false negatives by construction, so a key lost to a
    wrongly-pruned page hash-fails against the parquet oracle. Engine
    surface: stats.page_bloom / bloom_may_contain (sidecar-stored,
    manifest-served); the reference format stores no statistics at all
    (src/lib.rs:75-80) — blooms extend the same sidecar zone maps carry."""

    def build(d: str) -> None:
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority"
        )
        write(
            o.repartition(4), d, max_page_size="1024",
            bloom_columns="o_orderkey",
        )

    d = _marker_dir(spark, sf_dir, "orders-bloomed-v2", build)
    o = scan(spark, d, page_prune="true")
    return o.filter(
        F.col("o_orderkey").isin(3, 41, 500, 999, 1203)
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority")


@register(
    "quiver_zorder_scan",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS cnt,
       CAST(SUM(l_partkey) AS BIGINT) AS part_sum,
       CAST(SUM(l_orderkey) AS BIGINT) AS order_sum
FROM lineitem
WHERE l_partkey BETWEEN 50 AND 150
GROUP BY l_returnflag
""",
    tags=("format", "cluster", "zorder", "pruning", "maintenance"),
)
def quiver_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering through the driver gate: lineitem lands
    hash-scattered, is Z-clustered on (l_orderkey, l_partkey) — Morton
    bit-interleave of 16-bit linear codes, one range shuffle — and the
    query filters the TRAILING dimension (l_partkey), the case a
    lexicographic sort cannot prune (every file would span the partkey
    domain) but Z-order locality can. Page pruning on; the oracle is the
    parquet original, so a row lost/doubled by the Z rewrite or a page
    wrongly pruned hash-fails. Pinned structurally by
    `test_zorder_clustering_prunes_on_every_column`."""

    def build(d: str) -> None:
        from quiver_spark import maintenance

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey", "l_returnflag"
        )
        write(li.repartition(8), d)
        maintenance.cluster_by(
            spark,
            d,
            ["l_orderkey", "l_partkey"],
            target_rows_per_file=1 << 14,
            zorder=True,
        )

    d = _marker_dir(spark, sf_dir, "lineitem-zordered-v2", build)
    li = scan(spark, d, page_prune="true")
    return (
        li.filter(
            (F.col("l_partkey") >= 50) & (F.col("l_partkey") <= 150)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("l_partkey").cast("bigint").alias("part_sum"),
            F.sum("l_orderkey").cast("bigint").alias("order_sum"),
        )
    )


def documents_incremental_dir(spark: SparkSession, sf_dir: str) -> str:
    """The cached three-commit documents table (doc_id, lang, n_chars):
    rows with ``doc_id % 10 < 5`` as commit 1, then appends of
    ``5, 6, 7`` (commit 2) and of ``8, 9`` (commit 3)."""

    def build(d: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "n_chars"
        )
        write(docs.filter("doc_id % 10 < 5"), d)
        write(docs.filter("doc_id % 10 in (5, 6, 7)"), d, mode="append")
        write(docs.filter("doc_id % 10 in (8, 9)"), d, mode="append")

    return _marker_dir(spark, sf_dir, "documents-incremental-v2", build)


@register(
    "quiver_incremental_scan",
    oracle="""
SELECT lang,
       COUNT(*) AS cnt,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM documents
WHERE doc_id % 10 >= 5
GROUP BY lang
""",
    tags=("format", "manifest", "incremental", "cdc"),
)
def quiver_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (CDC-lite) consumption over the manifest commit
    sequence: the table is built as three commits (baseline
    overwrite = commit 1, then two appends = commits 2 and 3) and the
    scan reads ``changes_since=1`` — ONLY the files the two appends
    published, planned from the manifest's per-file commit stamps
    (maintenance.table_changes). The oracle reconstructs the appended
    row set from the parquet original, so a baseline file leaking into
    the incremental read, or an appended file missing from it,
    hash-fails. At 100 TB this is the path that processes a table's new
    data without rescanning the table: O(changed files) planned, not
    O(files)."""
    d = documents_incremental_dir(spark, sf_dir)
    t = quiver_relation(spark, d, changes_since="1")
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_chars").cast("bigint").alias("chars_sum"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )


@register(
    "quiver_merge_cdc_scan",
    oracle="""
WITH final AS (
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 0 THEN 'UPSERTED' ELSE n_name END
               AS n_name,
           n_regionkey
    FROM nation
    WHERE n_regionkey <> 3
    UNION ALL
    SELECT n_nationkey + 100, 'INSERTED', n_regionkey
    FROM nation WHERE n_regionkey = 4
)
SELECT n_regionkey,
       COUNT(*) AS cnt,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       MIN(n_name) AS min_name
FROM final
GROUP BY n_regionkey
""",
    tags=("format", "dml", "merge", "cdc"),
)
def quiver_merge_cdc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE as a full CDC apply: one feed carries updates (region-0
    renames), inserts (region-4 re-keyed +100), and DELETE markers
    (``op = 'delete'`` for every region-3 nation); one
    ``merge_upsert(..., delete_predicate="op = 'delete'")`` call applies
    all three against the quiver table. The oracle rebuilds the final
    state from the parquet original — a deleted key surviving, an
    update lost, or an insert doubled hash-fails. This is the operator
    that maintains a downstream table from a change feed (pairs with
    maintenance.table_changes upstream)."""

    def build(d: str) -> None:
        from quiver_spark import maintenance

        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        write(
            n.repartitionByRange(3, "n_nationkey").sortWithinPartitions(
                "n_nationkey"
            ),
            d,
        )
        updates = (
            n.filter("n_regionkey = 0")
            .withColumn("n_name", F.lit("UPSERTED"))
            .withColumn("op", F.lit("upsert"))
        )
        inserts = (
            n.filter("n_regionkey = 4")
            .withColumn("n_nationkey", F.col("n_nationkey") + F.lit(100))
            .withColumn("n_name", F.lit("INSERTED"))
            .withColumn("op", F.lit("upsert"))
        )
        deletes = n.filter("n_regionkey = 3").withColumn(
            "op", F.lit("delete")
        )
        feed = updates.unionByName(inserts).unionByName(deletes)
        maintenance.merge_upsert(
            spark, d, feed, on=["n_nationkey"],
            delete_predicate="op = 'delete'",
        )

    d = _marker_dir(spark, sf_dir, "nation-merged-cdc-v2", build)
    m = quiver_relation(spark, d)
    return m.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.min("n_name").alias("min_name"),
    )


@register(
    "quiver_alter_evolution_scan",
    oracle="""
WITH evolved AS (
    SELECT p_partkey, p_brand, p_type AS part_type,
           CAST(NULL AS BIGINT) AS priority,
           'unknown' AS grade
    FROM part
    UNION ALL
    SELECT p_partkey + 100000000, p_brand, p_type,
           CAST(p_size AS BIGINT),
           'oversize'
    FROM part
    WHERE p_size >= 45
)
SELECT p_brand,
       COUNT(*) AS cnt,
       CAST(SUM(p_partkey) AS BIGINT) AS key_sum,
       MIN(part_type) AS min_type,
       CAST(SUM(priority) AS BIGINT) AS prio_sum,
       COUNT(CASE WHEN grade = 'unknown' THEN 1 END) AS n_default_grade
FROM evolved
GROUP BY p_brand
""",
    tags=("format", "ddl", "schema-evolution", "manifest"),
)
def quiver_alter_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only ALTER TABLE through the driver gate. ``part`` is
    written, then evolved three ways (maintenance DDL, each a
    hard-linked generation commit + declared-schema manifest):
    ``rename_column p_type -> part_type`` (old files resolve through
    per-file declared->physical maps), ``drop_column p_name`` (bytes
    stay, name vanishes), ``add_column priority bigint`` (old files
    null-fill) — plus ``add_column grade string default 'unknown'``
    (Iceberg-style initial-default: old files serve the default, not
    null). A post-ALTER append then lands rows that physically carry
    the NEW names and real grades — so the scan mixes both physical
    schemas in one plan. The oracle rebuilds the same table
    algebraically from the parquet original: a rename resolved to the
    wrong column, a resurrected dropped value, a mis-filled add or
    default, or a lost post-ALTER row all hash-fail. The reference format is single-file with a fixed footer
    schema (/root/reference/src/lib.rs); this layer is the
    directory-level analogue of Delta column mapping, name-based.
    """

    def build(d):
        from quiver_spark import maintenance as M

        full = spark.read.parquet(f"{sf_dir}/part.parquet")
        write(full.coalesce(2), d, keep_generations="2")
        M.rename_column(d, "p_type", "part_type")
        M.drop_column(d, "p_name")
        M.add_column(d, "priority", "bigint")
        M.add_column(d, "grade", "string", default="unknown")
        post = full.filter("p_size >= 45").selectExpr(
            "p_partkey + 100000000 AS p_partkey",
            "p_brand",
            "p_type AS part_type",
            "p_size",
            "p_retailprice",
            "CAST(p_size AS BIGINT) AS priority",
            "'oversize' AS grade",
        )
        write(post.coalesce(1), d, mode="append")

    d = _marker_dir(spark, sf_dir, "part-alter-evolution-v3", build)
    t = quiver_relation(spark, d)
    return t.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("p_partkey").cast("bigint").alias("key_sum"),
        F.min("part_type").alias("min_type"),
        F.sum("priority").cast("bigint").alias("prio_sum"),
        F.count(
            F.when(F.col("grade") == "unknown", F.lit(1))
        ).alias("n_default_grade"),
    )


@register(
    "quiver_check_constraint_scan",
    oracle="""
WITH constrained AS (
    SELECT n_nationkey, n_regionkey FROM nation
    UNION ALL
    SELECT n_nationkey + 100, n_regionkey FROM nation
    WHERE n_regionkey >= 2
)
SELECT n_regionkey,
       COUNT(*) AS cnt,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM constrained
GROUP BY n_regionkey
""",
    tags=("format", "ddl", "constraints"),
)
def quiver_check_constraint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints through the driver gate: nation is written,
    ``add_constraint n_nonneg CHECK (n_nationkey >= 0)`` validates the
    existing rows and commits to the manifest, a VIOLATING append through
    ``sources.write`` is proven to abort with nothing published (asserted
    in the fixture — the scan would double rows if the abort leaked), and
    a valid append through ``sources.write`` then lands. The oracle
    rebuilds the final table algebraically: a leaked aborted write, a
    lost constraint commit, or a rejected valid write all hash-fail.
    ``sources.write`` checks the constraint in the Spark plan of the
    write (a projection that raises on the first FALSE row), whichever
    engine writes the files; the reference format has no constraint
    layer (its ``src/lib.rs``)."""

    def build(d):
        from quiver_spark import maintenance as M
        n = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
            "n_nationkey", "n_regionkey"
        )
        write(n.coalesce(1), d, keep_generations="2")
        rep = M.add_constraint(spark, d, "n_nonneg", "n_nationkey >= 0")
        assert rep["validated_rows"] == 0, rep
        bad = n.selectExpr(
            "-(n_nationkey + 1) AS n_nationkey", "n_regionkey"
        )
        try:
            write(bad.coalesce(1), d, mode="append")
            raise AssertionError(
                "violating append was accepted — constraint not enforced"
            )
        except AssertionError:
            raise
        except Exception:
            pass  # expected: the job aborts, nothing publishes
        good = n.filter("n_regionkey >= 2").selectExpr(
            "n_nationkey + 100 AS n_nationkey", "n_regionkey"
        )
        write(good.coalesce(1), d, mode="append")

    d = _marker_dir(spark, sf_dir, "nation-check-constraint-v3", build)
    t = quiver_relation(spark, d)
    return t.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
    )


@register(
    "quiver_repartitioned_scan",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           AS price_sum
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
""",
    tags=("format", "maintenance", "partition-evolution"),
)
def quiver_repartitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition EVOLUTION through the driver gate: orders is written
    FLAT (no Hive layout), then re-laid-out in place via
    ``maintenance.compact(partition_by=["o_orderpriority"])`` — the
    Iceberg replace-partition-field analogue on the atomic generation
    swap. The fixture asserts the new layout exists (o_orderpriority=*
    subdirectories) and the query filters on the NEW partition column, so
    the scan exercises directory pruning over the evolved layout; the
    oracle is the same filter on the parquet original — a row lost,
    duplicated, or mis-bucketed by the rewrite hash-fails. The reference
    format has no table layout at all (/root/reference/src/lib.rs)."""

    def build(d):
        import glob as _glob

        from quiver_spark import maintenance as M

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        write(o.coalesce(4), d, keep_generations="2")
        M.compact(
            spark, d,
            target_rows_per_file=1 << 20,
            partition_by=["o_orderpriority"],
        )
        from quiver_spark.sources.quiver_datasource import _data_root

        subdirs = _glob.glob(
            os.path.join(_data_root(d), "o_orderpriority=*")
        )
        assert len(subdirs) >= 2, (
            f"partition evolution produced no Hive layout: {subdirs}"
        )

    d = _marker_dir(spark, sf_dir, "orders-repartitioned-v2", build)
    t = quiver_relation(spark, d).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        dsum("o_totalprice", "decimal(18,4)").alias("price_sum"),
    )


@register(
    "quiver_analyze_stats",
    oracle="""
SELECT 's_name' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT(s_name) AS nulls,
       COUNT(DISTINCT s_name) AS ndv,
       CAST(MIN(s_name) AS VARCHAR) AS min_s,
       CAST(MAX(s_name) AS VARCHAR) AS max_s
FROM supplier
UNION ALL
SELECT 's_nationkey', COUNT(*), COUNT(*) - COUNT(s_nationkey),
       COUNT(DISTINCT s_nationkey),
       CAST(MIN(s_nationkey) AS VARCHAR), CAST(MAX(s_nationkey) AS VARCHAR)
FROM supplier
UNION ALL
SELECT 's_suppkey', COUNT(*), COUNT(*) - COUNT(s_suppkey),
       COUNT(DISTINCT s_suppkey),
       CAST(MIN(s_suppkey) AS VARCHAR), CAST(MAX(s_suppkey) AS VARCHAR)
FROM supplier
""",
    tags=("format", "maintenance", "statistics"),
)
def quiver_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE through the driver gate: supplier is written,
    ``maintenance.analyze_table`` computes row/column statistics in ONE
    aggregate job and metadata-commits them into the manifest
    (op ``analyze`` in the history, no file stamped); the query reads
    the stats BACK FROM THE MANIFEST and surfaces them as rows, and the
    oracle recomputes the same statistics from the parquet original with
    plain SQL — a wrong null count, NDV, min/max, or a stats write that
    didn't round-trip the manifest hash-fails. The gate fixture uses
    exact NDV so the oracle can match; production default is the HLL
    sketch (the only sane choice at 100 TB). Delta ANALYZE analogue; the
    reference stores only per-page metadata (/root/reference/src/lib.rs).
    """
    from quiver_spark.sources.manifest import load_manifest
    from quiver_spark.sources.quiver_datasource import _data_root

    cols = ["s_name", "s_nationkey", "s_suppkey"]

    def build(d):
        from quiver_spark import maintenance as M

        s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        write(s.coalesce(2), d)
        rep = M.analyze_table(spark, d, columns=cols, exact_ndv=True)
        assert rep["row_count"] == s.count(), rep

    d = _marker_dir(spark, sf_dir, "supplier-analyzed-v2", build)
    st = load_manifest(_data_root(d)).table_stats
    rows = [
        (
            c,
            st["row_count"],
            st["columns"][c]["nulls"],
            st["columns"][c]["ndv"],
            st["columns"][c]["min"],
            st["columns"][c]["max"],
        )
        for c in sorted(cols)
    ]
    return spark.createDataFrame(
        rows,
        "col_name string, n_rows long, nulls long, ndv long, "
        "min_s string, max_s string",
    )


@register(
    "quiver_snapshot_diff",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey, 'insert' AS _change_type
FROM nation
WHERE n_regionkey >= 2
""",
    tags=("format", "generations", "cdf"),
)
def quiver_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff through the driver gate: the retained
    nation-generations fixture (gen 1 = n_regionkey < 2 subset, gen 2 =
    full table) is diffed with ``maintenance.snapshot_diff(from=1)`` —
    the Delta CDF analogue via exceptAll bag semantics. gen 1 ⊂ gen 2,
    so the diff is exactly the rows the overwrite added (``insert``; a
    spurious ``delete`` row, a missed insert, or multiplicity drift all
    hash-fail against the algebraic oracle)."""
    from quiver_spark import maintenance as M
    from quiver_spark.operators.format_queries import (
        _nation_generations_dir,
    )

    d = _nation_generations_dir(spark, sf_dir)
    return M.snapshot_diff(spark, d, from_version=1)
