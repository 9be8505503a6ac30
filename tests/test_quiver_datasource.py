"""End-to-end Spark DataSource tests: write/read the quiver format through
spark.read/spark.write, compare against the parquet originals."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from quiver_spark.format.writer import WriteOptions, write_table
from quiver_spark.sources import register
from quiver_spark.sources.quiver_datasource import _data_root

from conftest import SF_DIR


@pytest.fixture(scope="module")
def quiver_lineitem_dir(spark, tmp_path_factory):
    """lineitem converted parquet → quiver via the library writer."""
    d = tmp_path_factory.mktemp("quiver") / "lineitem"
    os.makedirs(d, exist_ok=True)
    t = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    write_table(t, str(d / "part-0.quiver"), WriteOptions())
    register(spark)
    return str(d)


def test_scan_matches_parquet(spark, quiver_lineitem_dir):
    q = spark.read.format("quiver").load(quiver_lineitem_dir)
    p = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    assert q.count() == p.count()
    assert q.schema == p.schema
    qs = q.agg(
        F.sum("l_quantity"), F.sum("l_orderkey"), F.min("l_shipdate"), F.max("l_returnflag")
    ).collect()[0]
    ps = p.agg(
        F.sum("l_quantity"), F.sum("l_orderkey"), F.min("l_shipdate"), F.max("l_returnflag")
    ).collect()[0]
    assert qs == ps


def test_scan_with_filter_and_projection(spark, quiver_lineitem_dir):
    q = (
        spark.read.format("quiver")
        .option("columns", "l_orderkey,l_quantity,l_returnflag")
        .load(quiver_lineitem_dir)
    )
    assert q.columns == ["l_orderkey", "l_quantity", "l_returnflag"]
    got = (
        q.filter(F.col("l_returnflag") == "R")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    )
    p = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    want = (
        p.filter(F.col("l_returnflag") == "R")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    )
    assert got == want


def test_columns_option_decodes_only_projection(
    spark, quiver_lineitem_dir, monkeypatch
):
    """Plan pin for the round-7 projection wiring: a reader built with the
    `columns` option must DECODE only the projected leaves, not merely trim
    the output batch — the reference's per-column independence
    (ColumnMeta.offset, src/lib.rs:40-43) made observable. Spark 4.1.2's
    PythonScanBuilder implements only SupportsPushDownFilters (verified by
    javap of spark-sql_2.13-4.1.2.jar), so no pruned schema can ever reach
    this reader: the explicit option IS the projection path, and this pin
    is what keeps it honest."""
    from quiver_spark.format import reader as reader_mod
    from quiver_spark.sources.quiver_datasource import QuiverScanReader

    decoded: list[str] = []
    real = reader_mod.read_column_pages

    def spy(f, metas, fld, *a, **kw):
        decoded.append(fld.name)
        return real(f, metas, fld, *a, **kw)

    monkeypatch.setattr(reader_mod, "read_column_pages", spy)
    r = QuiverScanReader(
        {"path": quiver_lineitem_dir, "columns": "l_extendedprice"}, None
    )
    parts = r.partitions()
    batches = list(r.read(parts[0]))
    assert decoded and set(decoded) == {"l_extendedprice"}, decoded
    assert all(b.schema.names == ["l_extendedprice"] for b in batches)
    assert sum(b.num_rows for b in batches) > 0


def test_partitioned_scan(tmp_path, monkeypatch):
    """A split cap smaller than the table → multiple page-range
    InputPartitions (splits are page-granular, so write 1000-row pages)
    that together decode every row exactly once, in file order. The cap
    is the module constant the planner reads, shrunk in-process."""
    import pyarrow as pa

    from quiver_spark.sources import quiver_datasource as qds

    d = tmp_path / "li_paged"
    os.makedirs(d, exist_ok=True)
    t = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    write_table(t, str(d / "part-0.quiver"), WriteOptions(max_page_size=1000))
    monkeypatch.setattr(qds, "DEFAULT_PARTITION_BYTES", 1 << 14)
    r = qds.QuiverScanReader({"path": str(d)}, None)
    parts = r.partitions()
    assert len(parts) > 1
    # contiguous, non-overlapping page ranges over the whole file
    assert parts[0].page_start == 0
    assert all(
        a.page_end == b.page_start for a, b in zip(parts, parts[1:])
    )
    got = pa.Table.from_batches([b for pt in parts for b in r.read(pt)])
    assert got.num_rows == t.num_rows
    assert got.column("l_orderkey").to_pylist() == (
        t.column("l_orderkey").to_pylist()
    )


def test_spark_write_roundtrip(spark, tmp_path):
    register(spark)
    p = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = str(tmp_path / "orders_quiver")
    p.write.format("quiver").mode("overwrite").save(out)
    files = [f for f in os.listdir(_data_root(out)) if f.endswith(".quiver")]
    assert files
    q = spark.read.format("quiver").load(out)
    assert q.count() == p.count()
    a = sorted(q.collect(), key=lambda r: r.o_orderkey)
    b = sorted(p.collect(), key=lambda r: r.o_orderkey)
    assert a == b


def test_page_pruning_sorted_column(spark, tmp_path, monkeypatch):
    """A selective predicate on a sort-clustered column prunes pages before
    partitions are scheduled, and results still match exactly."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from quiver_spark.sources.quiver_datasource import QuiverScanReader

    d = tmp_path / "li_sorted"
    os.makedirs(d, exist_ok=True)
    t = pq.read_table(f"{SF_DIR}/lineitem.parquet").sort_by("l_orderkey")
    write_table(t, str(d / "part-0.quiver"), WriteOptions(max_page_size=500))
    register(spark)

    # driver-side: the pruning mask shrinks the partition list (a small
    # split cap, so the unpruned table plans many partitions)
    from quiver_spark.sources import quiver_datasource as qds

    monkeypatch.setattr(qds, "DEFAULT_PARTITION_BYTES", 1 << 14)
    opts = {"path": str(d), "page_prune": "true"}
    r_all = QuiverScanReader(dict(opts), None)
    n_all = len(r_all.partitions())
    r_f = QuiverScanReader(dict(opts), None)
    r_f.pushFilters([LessThan(("l_orderkey",), 100)])
    n_f = len(r_f.partitions())
    assert n_f < n_all
    # page ranges shrink too (not just partition grouping)
    pages_f = sum(p.page_end - p.page_start for p in r_f.partitions())
    pages_all = sum(p.page_end - p.page_start for p in r_all.partitions())
    assert pages_f < pages_all

    # end-to-end equality vs parquet for several pushable predicates
    q = spark.read.format("quiver").option("page_prune", "true").load(str(d))
    p = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    for cond in [
        "l_orderkey < 100",
        "l_orderkey >= 5900",
        "l_orderkey = 42",
        "l_orderkey IN (1, 2, 5999)",
        "l_returnflag = 'R' AND l_orderkey < 500",
    ]:
        assert q.filter(cond).count() == p.filter(cond).count(), cond


def test_pruning_with_date_filter(spark, tmp_path):
    d = tmp_path / "li_by_date"
    os.makedirs(d, exist_ok=True)
    t = pq.read_table(f"{SF_DIR}/lineitem.parquet").sort_by("l_shipdate")
    write_table(t, str(d / "part-0.quiver"), WriteOptions(max_page_size=500))
    register(spark)
    q = spark.read.format("quiver").option("page_prune", "true").load(str(d))
    p = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cond = "l_shipdate >= timestamp'1998-01-01'"
    assert q.filter(cond).count() == p.filter(cond).count()


def test_pruning_never_drops_nan_rows(spark, tmp_path):
    """Spark orders NaN above every double, but pc.min_max skips NaN —
    pages containing NaN must get null stats so gt/gte/eq never prune them."""
    import math

    import pyarrow as pa

    from quiver_spark.format.stats import page_stats

    # unit level: a mixed page reports no stats at all
    lo, hi, nulls, _s = page_stats(pa.array([1.0, float("nan"), 2.0, 3.0]))
    assert lo is None and hi is None and nulls == 0
    # all-NaN page likewise
    lo, hi, _, _s = page_stats(pa.array([float("nan")] * 4))
    assert lo is None and hi is None
    # NaN-free pages still produce stats (pruning stays effective)
    lo, hi, _, _s = page_stats(pa.array([1.0, 2.0, 3.0]))
    assert lo == 1.0 and hi == 3.0

    # end-to-end: filter x > 5.0 must keep the NaN row (Spark: NaN > 5.0)
    d = tmp_path / "nan_pages"
    os.makedirs(d, exist_ok=True)
    t = pa.table({"x": pa.array([1.0, float("nan"), 2.0, 3.0], pa.float64())})
    write_table(t, str(d / "part-0.quiver"), WriteOptions(max_page_size=2))
    register(spark)
    q = spark.read.format("quiver").option("page_prune", "true").load(str(d))
    assert q.filter("x > 5.0").count() == 1
    assert q.filter("x >= 5.0").count() == 1
    assert q.filter("x = double('NaN')").count() == 1
    assert q.filter("x < 5.0").count() == 3


def test_plan_cache_replay_is_safe_by_default(spark, tmp_path):
    """The documented PythonDataSourceV2 sharp edge, defused: with pruning
    off by default, re-using ONE loaded DataFrame for a filtered query and
    then an unfiltered one must return the FULL table — even though Spark
    replays the filtered build's cached plan. (With page_prune=true this
    exact sequence used to return only the filtered query's pages.)"""
    d = tmp_path / "li_reuse"
    os.makedirs(d, exist_ok=True)
    t = pq.read_table(f"{SF_DIR}/lineitem.parquet").sort_by("l_orderkey")
    write_table(t, str(d / "part-0.quiver"), WriteOptions(max_page_size=500))
    register(spark)
    q = spark.read.format("quiver").load(str(d))  # ONE DataFrame, reused
    n_filtered = q.filter("l_orderkey < 100").count()
    n_full = q.count()
    p = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    assert n_filtered == p.filter("l_orderkey < 100").count()
    assert n_full == p.count()  # would be n_filtered-ish if pruning replayed


def test_scan_without_sidecar_still_works(spark, tmp_path):
    """Deleting the stats sidecar must only disable pruning, never break
    the scan."""
    d = tmp_path / "li_nostats"
    os.makedirs(d, exist_ok=True)
    t = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    write_table(t, str(d / "part-0.quiver"), WriteOptions(page_stats=False))
    assert not os.path.exists(str(d / "part-0.quiver.stats.json"))
    register(spark)
    q = spark.read.format("quiver").load(str(d))
    p = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    assert q.filter("l_orderkey < 100").count() == p.filter(
        "l_orderkey < 100"
    ).count()


def test_empty_dataframe_write_read(spark, tmp_path):
    """An all-filtered write must still leave a schema-bearing file so the
    directory stays readable (driver-side commit fallback)."""
    register(spark)
    out = str(tmp_path / "empty_q")
    df = spark.range(5).filter("id > 99").selectExpr("id", "string(id) AS s")
    df.write.format("quiver").mode("overwrite").save(out)
    back = spark.read.format("quiver").load(out)
    assert back.count() == 0
    assert back.schema == df.schema
    assert back.filter("id > 1").count() == 0


def test_spark_write_adaptive_options(spark, tmp_path):
    register(spark)
    p = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = str(tmp_path / "li_zstd")
    (
        p.write.format("quiver")
        .option("codec", "zstd")
        .option("max_page_size", "2048")
        .mode("overwrite")
        .save(out)
    )
    q = spark.read.format("quiver").load(out)
    assert q.count() == p.count()
    # exact DECIMAL sum (registry determinism convention): a double SUM is
    # partitioning-order-sensitive — quiver and parquet split the table
    # differently, and at sf0.01 the IEEE accumulation orders visibly
    # diverge in the 11th digit even though every row is identical
    dec = lambda df: df.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
    ).collect()
    assert dec(q) == dec(p)


def test_hive_partitioned_write_read(spark, tmp_path):
    """partition_by writes Hive `col=value` subdirs with the partition
    column dropped from the files; the reader re-attaches it from the
    path with the same values."""
    register(spark)
    out = str(tmp_path / "docs_by_lang")
    p = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    (
        p.write.format("quiver")
        .option("partition_by", "lang")
        .mode("overwrite")
        .save(out)
    )
    subdirs = sorted(x for x in os.listdir(_data_root(out)) if "=" in x)
    assert subdirs and all(x.startswith("lang=") for x in subdirs)
    # partition column must not be stored in the files themselves
    from quiver_spark.format.reader import infer_schema

    one = next(
        os.path.join(r, f)
        for r, _d, fs in os.walk(out)
        for f in fs
        if f.endswith(".quiver")
    )
    with open(one, "rb") as fh:
        assert "lang" not in infer_schema(fh).names
    q = spark.read.format("quiver").load(out)
    assert "lang" in q.columns
    a = sorted(q.collect(), key=lambda r: r.doc_id)
    b = sorted(p.collect(), key=lambda r: r.doc_id)
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_hive_partition_prune_skips_files(spark, tmp_path):
    """With partition_prune=true, a filter on the partition key plans only
    the matching files' partitions — directory-level pruning before any
    footer or page is read."""
    from quiver_spark.sources.quiver_datasource import QuiverScanReader

    register(spark)
    out = str(tmp_path / "docs_pruned")
    p = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    (
        p.write.format("quiver")
        .option("partition_by", "lang")
        .mode("overwrite")
        .save(out)
    )
    langs = [r.lang for r in p.select("lang").distinct().collect()]
    assert len(langs) > 1
    target = sorted(langs)[0]

    class FakeEq:  # duck-typed pushed filter (pyspark.sql.datasource.EqualTo)
        attribute = ("lang",)
        value = target

    FakeEq.__name__ = "EqualTo"

    def planned_files(parts):
        # partitions pack multiple files' page ranges (QuiverPartition
        # .extra) — count every chunk's file, not just the head chunk
        out_files = set()
        for pt in parts:
            out_files.add(pt.file)
            out_files.update(c[0] for c in pt.extra)
        return out_files

    r = QuiverScanReader({"path": out, "partition_prune": "true"}, None)
    r.pushFilters([FakeEq()])
    files = planned_files(r.partitions())
    assert files and all(f"lang={target}" in f for f in files)
    r_all = QuiverScanReader({"path": out}, None)
    assert len(planned_files(r_all.partitions())) > len(files)

    # end-to-end correctness (fresh relation per query, like quiver_table)
    got = (
        spark.read.format("quiver")
        .option("partition_prune", "true")
        .load(out)
        .filter(F.col("lang") == target)
        .count()
    )
    assert got == p.filter(F.col("lang") == target).count()


def test_hive_partition_types_and_null(spark, tmp_path):
    """Numeric partition values infer as long; nulls round-trip through the
    __HIVE_DEFAULT_PARTITION__ directory."""
    register(spark)
    out = str(tmp_path / "by_bucket")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 20), (4, "d", None)],
        "id INT, s STRING, bucket INT",
    )
    (
        df.write.format("quiver")
        .option("partition_by", "bucket")
        .mode("overwrite")
        .save(out)
    )
    assert os.path.isdir(
        os.path.join(_data_root(out), "bucket=__HIVE_DEFAULT_PARTITION__")
    )
    q = spark.read.format("quiver").load(out)
    assert dict(q.dtypes)["bucket"] == "bigint"
    got = sorted(
        (r.id, r.s, r.bucket) for r in q.collect()
    )
    assert got == [(1, "a", 10), (2, "b", 10), (3, "c", 20), (4, "d", None)]


def test_hive_partition_column_only_projection(spark, tmp_path):
    """Selecting ONLY the partition column still yields correct per-file
    row counts (the reader probe-decodes one file column for lengths)."""
    register(spark)
    out = str(tmp_path / "docs_lang_only")
    p = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    (
        p.write.format("quiver")
        .option("partition_by", "lang")
        .mode("overwrite")
        .save(out)
    )
    q = (
        spark.read.format("quiver")
        .option("columns", "lang")
        .load(out)
        .groupBy("lang")
        .count()
    )
    want = {(r.lang, r["count"]) for r in p.groupBy("lang").count().collect()}
    assert {(r.lang, r["count"]) for r in q.collect()} == want


def test_hive_partition_high_cardinality_one_pass(spark, tmp_path):
    """A high-cardinality partition key fans out in ONE pass over the
    buffered rows (sort + run slicing) — the per-combo filter this
    replaced re-scanned the whole buffer once per distinct value. Checks
    correctness at 200 distinct keys and that the split helper touches
    each input row once."""
    import pyarrow as pa

    from quiver_spark.sources.quiver_datasource import QuiverWriter

    register(spark)
    out = str(tmp_path / "many_parts")
    n, k = 4000, 200
    df = spark.range(n).selectExpr(
        "id", "CAST(id % 200 AS INT) AS part", "md5(CAST(id AS STRING)) AS payload"
    ).coalesce(1)
    df.write.format("quiver").option("partition_by", "part").mode(
        "overwrite"
    ).save(out)
    subdirs = {x for x in os.listdir(_data_root(out)) if x.startswith("part=")}
    assert len(subdirs) == k
    q = spark.read.format("quiver").load(out)
    assert q.count() == n
    got = sorted((r.id, r.part) for r in q.select("id", "part").collect())
    assert got == [(i, i % k) for i in range(n)]

    # unit-level: runs are contiguous slices covering the table exactly once
    w = QuiverWriter.__new__(QuiverWriter)
    w.partition_by = ["p"]
    t = pa.table({"p": [3, 1, 2, 1, None, 3], "v": [0, 1, 2, 3, 4, 5]})
    parts = list(w._split_partitions(t))
    assert sorted(sub.num_rows for _d, sub in parts) == [1, 1, 2, 2]
    assert sum(sub.num_rows for _d, sub in parts) == t.num_rows


def test_spark_writer_open_competition_can_choose_patas(spark, tmp_path):
    """The Spark sink's default chooser mirrors WriteOptions: nothing
    forbidden, so XOR-friendly doubles can win patas pages end-to-end
    (write → stat → read) — pinning the datasource/WriteOptions default
    alignment (a stale 'forbidden=patas' sink default once diverged)."""
    import glob

    import numpy as np
    import pandas as pd

    from quiver_spark.format.stat import stat_file
    from quiver_spark.sources import register as register_format

    register_format(spark)
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "id": np.arange(20000),
            "v": np.cumsum(rng.normal(0, 0.01, 20000)) + 100.0,
        }
    )
    df = spark.createDataFrame(pdf)
    d = str(tmp_path / "patas_open")
    # no repartition: round-robin shuffling would scramble the smooth value
    # sequence that makes patas win its sampled-ratio contest
    (
        df.write.format("quiver")
        .option("compress_ratio", "1.05")
        .mode("overwrite")
        .save(d)
    )
    codecs = set()
    for f in glob.glob(f"{_data_root(d)}/*.quiver"):
        codecs |= {p.codec for p in stat_file(f)["v"]}
    assert "patas" in codecs, codecs
    back = spark.read.format("quiver").load(d)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_shared_relation_filter_correctness(spark):
    """The cached (pruning-off) relation must answer full → filtered → full
    correctly: Spark's PythonDataSourceV2 replays the most recent planned
    read for a reused DataFrame, so ONLY a reader whose partitions are
    filter-independent may be shared. This is the invariant that gates
    quiver_table's catalog-style relation cache (a page_prune reader
    verifiably fails this exact sequence — see the module SHARP EDGE note).
    """
    import pyspark.sql.functions as F

    from conftest import SF_DIR
    from quiver_spark.operators.format_queries import quiver_table

    df = quiver_table(spark, SF_DIR, "lineitem")
    assert df is quiver_table(spark, SF_DIR, "lineitem"), "relation not cached"
    full = df.count()
    cutoff = F.lit("1998-06-01").cast("timestamp_ntz")
    filt = df.filter(F.col("l_shipdate") >= cutoff).count()
    assert 0 < filt < full
    assert df.count() == full, "stale pruned partitions replayed on full scan"
    assert df.filter(F.col("l_shipdate") >= cutoff).count() == filt


def test_write_commit_protocol_isolates_failed_tasks(spark, tmp_path):
    """Task output is staged under _temporary/ and only published on job
    commit: a task that dies mid-write leaves nothing reader-visible, and
    abort drops reported staging dirs — the file-sink contract that makes
    task retries safe (no duplicate rows, no partial files)."""
    import pyarrow as pa

    from quiver_spark.sources.quiver_datasource import (
        QuiverWriter,
        _list_files,
    )

    register(spark)
    d = str(tmp_path / "proto")
    os.makedirs(d, exist_ok=True)
    # max_rows_per_file=3 rolls a file at each 3-row batch, so the
    # failing task below has ACTUALLY staged a file before it dies —
    # without this the "nothing visible" assertion would pass trivially
    w = QuiverWriter({"path": d, "max_rows_per_file": "3"})
    batch = pa.record_batch({"x": pa.array([1, 2, 3], pa.int64())})

    def failing_iter():
        yield batch
        raise RuntimeError("task died")

    try:
        w.write(failing_iter())
    except RuntimeError:
        pass
    import glob as _glob

    staged = _glob.glob(os.path.join(d, "_temporary", "**", "*.quiver"),
                        recursive=True)
    assert staged, "failing task should have staged a file"
    # nothing visible before commit, even though the task wrote bytes
    assert _list_files(d) == []

    msg = w.write(iter([batch]))
    assert msg.files and os.path.isdir(msg.task_dir)
    assert _list_files(d) == []  # still staged
    w.commit([msg])
    files = _list_files(d)
    assert len(files) == 1 and "_temporary" not in files[0]
    q = spark.read.format("quiver").load(d)
    assert sorted(r.x for r in q.collect()) == [1, 2, 3]

    # abort drops a reported staging dir
    msg2 = w.write(iter([batch]))
    w.abort([msg2])
    assert not os.path.isdir(msg2.task_dir)
    assert sorted(r.x for r in spark.read.format("quiver").load(d).collect()) == [1, 2, 3]


def test_stream_sink_replayed_batch_is_idempotent(spark, tmp_path):
    """After a driver failure Spark re-runs the last unacknowledged
    micro-batch; the stream sink's per-batch commit log (the arrowipc
    sink: the quiver format has no streaming write) must drop the
    replayed output instead of publishing the batch's rows twice."""
    import pyarrow as pa

    from quiver_spark.sources.arrow_datasource import (
        ArrowIpcStreamWriter,
        _list_arrow_files,
        register_arrow,
    )

    register_arrow(spark)
    d = str(tmp_path / "stream")
    os.makedirs(d, exist_ok=True)
    w = ArrowIpcStreamWriter({"path": d})
    batch = pa.record_batch({"x": pa.array([1, 2, 3], pa.int64())})

    def rows():
        back = spark.read.format("arrowipc").load(d).collect()
        return sorted(r.x for r in back)

    w.commit([w.write(iter([batch]))], 0)
    n1 = len(_list_arrow_files(d))
    assert n1 == 1

    # replay of batch 0 (same batchId, freshly staged files)
    w.commit([w.write(iter([batch]))], 0)
    assert len(_list_arrow_files(d)) == n1, "replayed batch published twice"
    assert rows() == [1, 2, 3]

    # the NEXT batch still publishes normally
    w.commit([w.write(iter([batch]))], 1)
    assert rows() == [1, 1, 2, 2, 3, 3]


def test_enable_on_plain_session(tmp_path):
    """quiver_spark.enable() must make a vanilla session (no tuned confs,
    no prior registration) able to write and read the quiver format."""
    from pyspark.sql import SparkSession

    import quiver_spark

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("enable-test")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    quiver_spark.enable(spark)
    d = str(tmp_path / "enable_rt")
    src = spark.range(100).selectExpr("id", "CAST(id % 7 AS STRING) AS tag")
    src.write.format("quiver").mode("overwrite").save(d)
    back = spark.read.format("quiver").load(d)
    assert sorted(r.id for r in back.collect()) == list(range(100))


def test_plan_cache_stale_replay_sentinel(spark, tmp_path):
    """SENTINEL pinning the upstream Spark behavior that forces page_prune
    to stay opt-in (module SHARP EDGE note; 4.1.2 bytecode:
    PythonDataSourceV2.getOrCreateReadInfo returns its single cached
    readInfo slot whenever non-null, and only a pushdown build overwrites
    it). With page_prune=true on a reused DataFrame, a no-filter query
    after a filtered one replays the filtered build's pruned partitions and
    under-counts — while a DIFFERENTLY-filtered query re-plans and stays
    correct.

    If the under-count assertion ever FAILS, Spark fixed the plan caching:
    flip the page_prune / partition_prune defaults to on and retire this
    test."""
    d = tmp_path / "li_sentinel"
    os.makedirs(d, exist_ok=True)
    t = pq.read_table(f"{SF_DIR}/lineitem.parquet").sort_by("l_orderkey")
    write_table(t, str(d / "part-0.quiver"), WriteOptions(max_page_size=500))
    register(spark)
    q = spark.read.format("quiver").option("page_prune", "true").load(str(d))
    truth = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n_filtered = q.filter("l_orderkey >= 100").count()
    assert n_filtered == truth.filter("l_orderkey >= 100").count()
    # differently-filtered reuse re-plans through pushFilters: always correct
    # (this one prunes hard: sorted file, < 100 matches only the first page)
    n_refiltered = q.filter("l_orderkey < 100").count()
    assert n_refiltered == truth.filter("l_orderkey < 100").count()
    # the unsafe direction: zero-pushable-filter reuse replays the LAST
    # build's (heavily pruned) partitions
    n_full_stale = q.count()
    assert n_full_stale < truth.count(), (
        "Spark no longer replays stale pruned partitions for a no-filter "
        "query — the upstream plan-cache bug is fixed. Flip page_prune/"
        "partition_prune defaults to ON and retire this sentinel."
    )


def test_ddl_catalog_table_sentinel(spark, tmp_path):
    """SENTINEL for SQL DDL support: Spark 4.1.2's
    PythonDataSourceV2.getTable(schema, partitioning, properties) DROPS the
    properties argument (bytecode-verified), so a table created with
    CREATE TABLE ... USING quiver loses its stored OPTIONS — the scan-time
    reader receives an EMPTY options map and cannot locate the data. We
    surface that as a clear error pointing at the temp-view workflow.

    If the SELECT ever SUCCEEDS, upstream started forwarding table
    properties: retire this sentinel and document DDL as supported.

    (file: URIs from DDL paths are handled — _opt_path — so only the
    dropped-options half blocks DDL.)"""
    d = tmp_path / "ddl_orders"
    os.makedirs(d, exist_ok=True)
    t = pq.read_table(f"{SF_DIR}/orders.parquet")
    write_table(t, str(d / "part-0.quiver"))
    register(spark)
    spark.sql("DROP TABLE IF EXISTS qorders_sentinel")
    # CREATE itself succeeds: schema() runs with the options present
    spark.sql(
        f"CREATE TABLE qorders_sentinel USING quiver OPTIONS (path '{d}')"
    )
    try:
        with pytest.raises(Exception, match="no 'path' option"):
            spark.sql("SELECT COUNT(*) FROM qorders_sentinel").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS qorders_sentinel")


def test_partition_bytes_caps_wide_rows(tmp_path, monkeypatch):
    """Byte-based split sizing: a blob table whose rows are KB-scale must
    split on the byte cap long before the row target — the multimodal-table
    posture (row-count-only splits would pack GBs into one task). Shrinking
    the module's 128 MiB cap in-process to 1 MiB carves the ~8 MB table
    into >= 6 splits, and results are identical either way."""
    import numpy as np
    import pyarrow as pa

    from quiver_spark.sources import quiver_datasource as qds

    rng = np.random.default_rng(5)
    n = 2000
    # ~4 KB incompressible blob per row → ~8 MB total
    blobs = [rng.integers(0, 256, 4096, dtype=np.uint8).tobytes() for _ in range(n)]
    t = pa.table(
        {"id": pa.array(range(n), pa.int64()), "blob": pa.array(blobs, pa.binary())}
    )
    d = tmp_path / "blobs"
    os.makedirs(d, exist_ok=True)
    write_table(t, str(d / "part-0.quiver"), WriteOptions(max_page_size=100))

    def scan_all():
        r = qds.QuiverScanReader(
            {"path": str(d), "planning_parallelism": "1"}, None
        )
        parts = r.partitions()
        return len(parts), [b for pt in parts for b in r.read(pt)]

    n_un, uncapped = scan_all()
    monkeypatch.setattr(qds, "DEFAULT_PARTITION_BYTES", 1 << 20)
    n_cap, capped = scan_all()
    assert n_un == 1, n_un
    assert n_cap >= 6, n_cap  # ~8 MB / 1 MiB
    assert pa.Table.from_batches(capped).equals(
        pa.Table.from_batches(uncapped)
    )
    assert sum(b.num_rows for b in capped) == n


def test_append_mode(spark, tmp_path):
    """mode('append') publishes new files alongside the existing table
    (uuid-named, no collisions), leaves no staging residue, and composes
    with Hive-partitioned layout — the incremental-ingest batch path."""
    register(spark)
    d = str(tmp_path / "append_flat")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    n.write.format("quiver").mode("overwrite").save(d)
    n.write.format("quiver").mode("append").save(d)
    back = spark.read.format("quiver").load(d)
    assert back.count() == 2 * n.count()
    assert (
        back.agg(F.sum("n_nationkey")).collect()[0][0]
        == 2 * n.agg(F.sum("n_nationkey")).collect()[0][0]
    )
    assert not os.path.isdir(os.path.join(d, "_temporary")) or not os.listdir(
        os.path.join(d, "_temporary")
    )

    dp = str(tmp_path / "append_part")
    doc = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = doc.write.format("quiver").option("partition_by", "lang")
    w.mode("overwrite").save(dp)
    doc.write.format("quiver").option("partition_by", "lang").mode(
        "append"
    ).save(dp)
    back = spark.read.format("quiver").load(dp)
    assert back.count() == 2 * doc.count()
    # appended rows landed INSIDE the lang=... subdirs, not at top level
    import glob as _glob

    assert not _glob.glob(os.path.join(dp, "*.quiver"))
    per_lang = dict(
        (r["lang"], r["cnt"])
        for r in back.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    want = dict(
        (r["lang"], 2 * r["cnt"])
        for r in doc.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    assert per_lang == want


def test_narrow_projection_partitions_coalesce_by_projected_bytes(
    spark, tmp_path
):
    """Default split planning sizes partitions by PROJECTED page bytes
    with a dynamic floor (clamp(total/parallelism, 1 MiB,
    128 MiB)): a 1-of-N-column projection must plan (far) fewer
    partitions than the full-width scan of the same file, because 32k
    rows of one narrow column is ~130 KB and per-task worker overhead
    would dominate. planning_parallelism is explicit, so the plan checks
    the rule and not the host's core count."""
    import pyarrow as pa

    d = tmp_path / "wide"
    os.makedirs(d, exist_ok=True)
    n = 400_000
    import numpy as np

    t = pa.table(
        {f"c{i}": pa.array(np.random.default_rng(i).normal(size=n)) for i in range(8)}
    )
    write_table(t, str(d / "part-0.quiver"), WriteOptions())
    register(spark)
    full = (
        spark.read.format("quiver")
        .option("planning_parallelism", "32")
        .load(str(d))
    )
    narrow = (
        spark.read.format("quiver")
        .option("planning_parallelism", "32")
        .option("columns", "c0")
        .load(str(d))
    )
    nf = full.rdd.getNumPartitions()
    nn = narrow.rdd.getNumPartitions()
    assert nn < nf, (nn, nf)
    assert narrow.count() == full.count() == n


def test_columns_option_unknown_name_fails_clearly(spark, quiver_lineitem_dir):
    """A typo'd projection fails at schema time with the missing names and
    the available schema listed — not a downstream KeyError/ValueError from
    deep inside arrow."""
    with pytest.raises(Exception, match="not present in the table schema"):
        (
            spark.read.format("quiver")
            .option("columns", "l_orderkey,l_typo")
            .load(quiver_lineitem_dir)
            .count()
        )


def test_failed_overwrite_preserves_previous_table(spark, tmp_path):
    """Overwrite deletes the previous generation at COMMIT, not at plan
    time: a job that fails mid-write must leave the old table fully
    readable (Spark's own file sinks clear at job start — a failed
    overwrite there destroys the data; this sink survives it)."""
    register(spark)
    out = str(tmp_path / "gen")
    v1 = spark.range(100).selectExpr("id", "id * 2 AS y")
    v1.write.format("quiver").mode("overwrite").save(out)
    before = sorted(map(tuple, spark.read.format("quiver").load(out).collect()))

    from pyspark.sql import functions as F

    @F.udf("long")
    def boom(x):
        raise RuntimeError("task died mid-overwrite")

    v2 = spark.range(50).select(boom("id").alias("id"), F.lit(0).alias("y"))
    with pytest.raises(Exception):
        v2.write.format("quiver").mode("overwrite").save(out)
    after = sorted(map(tuple, spark.read.format("quiver").load(out).collect()))
    assert after == before, "old generation lost by failed overwrite"

    # successful overwrite still replaces fully
    v3 = spark.range(7).selectExpr("id", "id AS y")
    v3.write.format("quiver").mode("overwrite").save(out)
    assert spark.read.format("quiver").load(out).count() == 7


def test_overwrite_generation_swap_and_time_travel(spark, tmp_path):
    """Overwrite publishes into gen-NNNNNN/ and atomically swaps the
    _current pointer: reads resolve the live generation; with
    keep_generations=2 the previous snapshot stays readable via
    .option('version', N); appends land INSIDE the live generation; and
    the default keep=1 GCs superseded generations."""
    register(spark)
    out = str(tmp_path / "gens")
    spark.range(10).write.format("quiver").mode("overwrite").save(out)
    assert os.path.exists(os.path.join(out, "_current"))
    assert os.path.basename(_data_root(out)) == "gen-000001"
    assert spark.read.format("quiver").load(out).count() == 10

    # keep the previous generation, write a second
    (
        spark.range(20)
        .write.format("quiver")
        .option("keep_generations", "2")
        .mode("overwrite")
        .save(out)
    )
    assert os.path.basename(_data_root(out)) == "gen-000002"
    assert spark.read.format("quiver").load(out).count() == 20
    # time travel to the retained generation
    v1 = spark.read.format("quiver").option("version", "1").load(out)
    assert v1.count() == 10
    # append goes into the LIVE generation
    spark.range(5).write.format("quiver").mode("append").save(out)
    assert spark.read.format("quiver").load(out).count() == 25
    assert spark.read.format("quiver").option("version", "1").load(out).count() == 10

    # default keep=1: a third overwrite GCs generations 1 and 2
    spark.range(3).write.format("quiver").mode("overwrite").save(out)
    assert spark.read.format("quiver").load(out).count() == 3
    gens = sorted(d for d in os.listdir(out) if d.startswith("gen-"))
    assert gens == ["gen-000003"], gens
    with pytest.raises(Exception, match="not found|retained"):
        spark.read.format("quiver").option("version", "1").load(out).count()


def test_overwrite_sweeps_pre_generation_flat_files(spark, tmp_path):
    """Overwriting a FLAT table (library write_table output) swaps in a
    generation and sweeps the superseded flat files — no disk leak, no
    stale bytes a future flat-resolver could see."""
    import pyarrow as pa

    register(spark)
    out = str(tmp_path / "flat_then_gen")
    os.makedirs(out)
    write_table(
        pa.table({"x": pa.array([1, 2, 3], pa.int64())}),
        os.path.join(out, "part-0.quiver"),
        WriteOptions(),
    )
    assert spark.read.format("quiver").load(out).count() == 3
    spark.range(8).selectExpr("id AS x").write.format("quiver").mode(
        "overwrite"
    ).save(out)
    assert spark.read.format("quiver").load(out).count() == 8
    assert not os.path.exists(os.path.join(out, "part-0.quiver"))


def test_self_overwrite_reads_consistent_snapshot(spark, tmp_path):
    """Read-transform-overwrite of the SAME table — the canonical lake
    maintenance shape (filter a table in place). The scan freezes the old
    generation at plan time and the new generation only becomes live at
    commit, so the job's own input is never deleted under it. (Under the
    pre-generation layout this pattern was impossible: overwrite cleared
    the directory the read tasks were about to scan.)"""
    register(spark)
    out = str(tmp_path / "selfow")
    spark.range(100).selectExpr("id", "id % 2 AS keep").write.format(
        "quiver"
    ).mode("overwrite").save(out)
    t = spark.read.format("quiver").load(out)
    t.filter("keep = 1").write.format("quiver").mode("overwrite").save(out)
    back = spark.read.format("quiver").load(out)
    assert back.count() == 50
    assert back.selectExpr("min(keep)", "max(keep)").collect()[0] == (1, 1)


def test_many_files_scan_plans_bytes_bounded_partitions(spark, tmp_path):
    """Round-8 scale fix: a many-files directory must NOT be carved into
    one ~32k-row task per 3 MB of data (at 16 files x 600k rows that was
    208 tasks and 9x the parquet control, pure per-task overhead). The
    dynamic floor (clamp(total/parallelism, 1 MiB, 128 MiB))
    bounds the plan to far fewer, bigger splits."""
    import numpy as np
    import pyarrow as pa

    d = tmp_path / "many"
    os.makedirs(d, exist_ok=True)
    n_files, rows = 8, 100_000
    for k in range(n_files):
        t = pa.table(
            {
                "a": pa.array(
                    np.random.default_rng(k).normal(size=rows)
                ),
                "b": pa.array(np.arange(rows, dtype=np.int64)),
            }
        )
        write_table(t, str(d / f"part-{k}.quiver"), WriteOptions())
    register(spark)
    dyn = spark.read.format("quiver").load(str(d))
    # row-capped planning would make ceil(100k/32768)=4 parts per file
    # (32 total); the bytes floor coalesces to fewer, bigger splits —
    # and splits PACK ACROSS FILES (QuiverPartition.extra), so the count
    # is bounded by data volume, not file count
    assert dyn.rdd.getNumPartitions() <= 2 * n_files
    assert dyn.count() == n_files * rows
    # values survive the coalesced plan byte-for-byte
    s = dyn.agg(F.sum("b")).collect()[0][0]
    assert s == n_files * (rows * (rows - 1) // 2)


def test_planning_parallelism_option_drives_split_floor(spark, tmp_path):
    """The dynamic floor divides total projected bytes by
    planning_parallelism: a parallelism of 1 coalesces the whole scan
    into one split (floor = total), a high parallelism falls back to the
    1 MiB lower clamp and fans out. Needs a table comfortably above the
    1 MiB clamp — incompressible doubles, ~8 MB."""
    import numpy as np
    import pyarrow as pa

    from quiver_spark.sources.quiver_datasource import QuiverScanReader

    d = tmp_path / "wide_floor"
    os.makedirs(d, exist_ok=True)
    t = pa.table(
        {"x": pa.array(np.random.default_rng(7).normal(size=1_000_000))}
    )
    write_table(t, str(d / "part-0.quiver"), WriteOptions())
    one = QuiverScanReader(
        {"path": str(d), "planning_parallelism": "1"}, None
    )
    many = QuiverScanReader(
        {"path": str(d), "planning_parallelism": "1024"}, None
    )
    n_one = len(one.partitions())
    n_many = len(many.partitions())
    assert n_one < n_many, (n_one, n_many)


def test_small_files_pack_into_multi_file_partitions(spark, tmp_path):
    """Many-small-files fix (round 9): splits pack page ranges ACROSS
    files under the dynamic byte floor (QuiverPartition.extra) — the
    parquet FileScan posture. 60 tiny files must NOT become 60 tasks."""
    import pyarrow as pa

    from quiver_spark.sources.quiver_datasource import QuiverScanReader

    d = tmp_path / "tiny"
    os.makedirs(d, exist_ok=True)
    n_files, rows = 60, 200
    for k in range(n_files):
        t = pa.table(
            {
                "k": pa.array([k] * rows, pa.int64()),
                "v": pa.array(range(rows), pa.int64()),
            }
        )
        write_table(t, str(d / f"part-{k:03d}.quiver"), WriteOptions())
    r = QuiverScanReader(
        {"path": str(d), "planning_parallelism": "8"}, None
    )
    parts = r.partitions()
    # far fewer tasks than files; every file still covered exactly once
    assert len(parts) <= 9, len(parts)
    covered = []
    for pt in parts:
        covered.append((pt.file, pt.page_start, pt.page_end))
        covered.extend(pt.extra and [(c[0], c[1], c[2]) for c in pt.extra])
    flat = [c for c in covered if c]
    chunk_files = [c[0] for c in flat if not isinstance(c, list)]
    # end-to-end: Spark sees every row exactly once through packed tasks
    register(spark)
    df = spark.read.format("quiver").option(
        "planning_parallelism", "8"
    ).load(str(d))
    assert df.rdd.getNumPartitions() == len(parts)
    assert df.count() == n_files * rows
    assert df.agg(F.sum("v")).collect()[0][0] == n_files * sum(range(rows))


def test_packed_partitions_keep_hive_specs_per_chunk(spark, tmp_path):
    """Chunks from different Hive partitions can share one task; each
    chunk re-attaches ITS OWN directory values as constant columns."""
    register(spark)
    out = str(tmp_path / "packed_hive")
    p = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    (
        p.repartition(2)
        .write.format("quiver")
        .option("partition_by", "lang")
        .mode("overwrite")
        .save(out)
    )
    df = spark.read.format("quiver").option(
        "planning_parallelism", "2"
    ).load(out)
    got = {(r["lang"], r["cnt"]) for r in df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    want = {(r["lang"], r["cnt"]) for r in p.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert got == want


def test_bloom_primitives_no_false_negatives():
    """Every value put into a page bloom is found; absent values are
    overwhelmingly rejected (~2% fp budget at 8 bits/value, k=5)."""
    import pyarrow as pa

    from quiver_spark.format import stats as stats_mod

    vals = list(range(0, 16000, 2))  # evens
    b64 = stats_mod.page_bloom(pa.array(vals, type=pa.int64()))
    assert b64 is not None
    for v in vals[:500]:
        assert stats_mod.bloom_may_contain(b64, stats_mod.bloom_key(v))
    fp = sum(
        stats_mod.bloom_may_contain(b64, stats_mod.bloom_key(v))
        for v in range(1, 2001, 2)  # odds — absent
    )
    assert fp < 100, fp  # < 10% on a 2%-design budget (slack for luck)

    # strings
    svals = [f"doc-{i}" for i in range(1000)]
    sb = stats_mod.page_bloom(pa.array(svals))
    assert all(
        stats_mod.bloom_may_contain(sb, stats_mod.bloom_key(s))
        for s in svals[:200]
    )
    assert (
        sum(
            stats_mod.bloom_may_contain(
                sb, stats_mod.bloom_key(f"absent-{i}")
            )
            for i in range(500)
        )
        < 50
    )


def test_bloom_point_lookup_prunes_unsorted_pages(spark, tmp_path):
    """Point-lookup data skipping where zone maps are USELESS: ids are
    shuffled so every page's min/max spans the whole domain (the min/max
    pass keeps everything), but per-page blooms prune to the page(s)
    actually holding the key — and results stay exact."""
    import random

    import pyarrow as pa
    from pyspark.sql.datasource import EqualTo, In

    from quiver_spark.sources.quiver_datasource import QuiverScanReader

    d = tmp_path / "bloomed"
    os.makedirs(d, exist_ok=True)
    rng = random.Random(7)
    ids = list(range(20000))
    rng.shuffle(ids)
    t = pa.table(
        {
            "uid": pa.array(ids, type=pa.int64()),
            "tag": pa.array([f"k-{i}" for i in ids]),
        }
    )
    write_table(
        t,
        str(d / "part-0.quiver"),
        WriteOptions(max_page_size=1000, bloom_columns=("uid", "tag")),
    )
    register(spark)

    opts = {"path": str(d), "page_prune": "true"}

    def planned_pages(filters):
        r = QuiverScanReader(dict(opts), None)
        if filters:
            r.pushFilters(filters)
        # the file plans as one packed partition: the pages that survive
        # pruning are separate chunks, all but the first in ``extra``
        return sum(
            end - start
            for p in r.partitions()
            for _, start, end, _ in [
                (p.file, p.page_start, p.page_end, p.part),
                *p.extra,
            ]
        )

    all_pages = planned_pages(None)
    assert all_pages == 20
    # min/max alone cannot prune the shuffled column — the bloom must
    eq_pages = planned_pages([EqualTo(("uid",), 12345)])
    assert eq_pages <= 3, eq_pages
    in_pages = planned_pages([In(("uid",), (7, 19999, 4242))])
    assert in_pages <= 6, in_pages
    str_pages = planned_pages([EqualTo(("tag",), "k-777")])
    assert str_pages <= 3, str_pages

    # exactness end-to-end (no false negatives anywhere)
    q = spark.read.format("quiver").option("page_prune", "true").load(str(d))
    assert q.filter("uid = 12345").count() == 1
    assert sorted(
        r.tag for r in q.filter("uid IN (7, 19999, 4242)").collect()
    ) == ["k-19999", "k-4242", "k-7"]
    assert q.filter("tag = 'k-777'").collect()[0].uid == 777
    assert q.filter("uid = 999999").count() == 0


def test_bloom_through_sink_option(spark, tmp_path):
    """`.option("bloom_columns", ...)` on the sink writes blooms that
    survive the commit + manifest path and prune at scan time."""
    register(spark)
    out = str(tmp_path / "t")
    (
        spark.range(10000)
        .selectExpr("id", "hash(id) % 100000 AS probe")
        .repartition(1)
        .write.format("quiver")
        .mode("overwrite")
        .option("max_page_size", "1000")
        .option("bloom_columns", "id")
        .save(out)
    )
    from quiver_spark.sources.manifest import load_manifest
    from quiver_spark.sources.quiver_datasource import (
        _data_root,
        _list_files,
    )

    root = _data_root(out)
    man = load_manifest(root)
    ent = man.lookup(_list_files(root)[0])
    assert ent is not None and "bloom" in ent.sidecar["columns"]["id"]
    q = spark.read.format("quiver").option("page_prune", "true").load(out)
    assert q.filter("id = 4321").count() == 1


def test_require_not_null_constraint(spark, tmp_path):
    """NOT NULL write constraint: a violating write fails the job and
    publishes NOTHING (staged-commit atomicity); a clean write passes;
    an unknown column is refused loudly."""
    register(spark)
    out = str(tmp_path / "t")
    ok = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    (
        ok.write.format("quiver")
        .mode("overwrite")
        .option("require_not_null", "id,s")
        .save(out)
    )
    assert spark.read.format("quiver").load(out).count() == 2

    bad = spark.createDataFrame([(3, None)], "id long, s string")
    with pytest.raises(Exception, match="NOT NULL constraint violated"):
        (
            bad.write.format("quiver")
            .mode("overwrite")
            .option("require_not_null", "s")
            .save(out)
        )
    # the failed overwrite left the previous snapshot fully live
    assert sorted(
        (r.id, r.s)
        for r in spark.read.format("quiver").load(out).collect()
    ) == [(1, "a"), (2, "b")]

    with pytest.raises(Exception, match="not in the written schema"):
        (
            ok.write.format("quiver")
            .mode("overwrite")
            .option("require_not_null", "nope")
            .save(out)
        )
